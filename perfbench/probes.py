"""Measurements taken from outside the program: process-tree RSS from
``/proc``, the host's CPU steal and speed, and exact counters over the written
Jelly streams."""

from __future__ import annotations

import multiprocessing
import os
import statistics
import threading
import time
from collections import Counter

from pyjelly_spark.jelly import constants as jc
from pyjelly_spark.jelly.decoder import split_frame
from pyjelly_spark.jelly.ioutils import frames_from_bytes

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")
# A process younger than this is skipped: the JVM spawns short-lived helper
# commands, and until such a child calls exec it shares (and reports) the
# JVM's whole resident set.
_MIN_AGE_S = 1.0
# RSS sampling period
_SAMPLE_S = 0.25


def descendants(root: int, min_age_s: float = 0.0) -> set:
    """``root`` and every process descended from it that is at least
    ``min_age_s`` old."""
    with open("/proc/uptime") as handle:
        uptime = float(handle.read().split()[0])
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as handle:
                stat = handle.read()
        except OSError:  # the process exited between listdir and open
            continue
        # fields after the parenthesised command name: state is field 3,
        # ppid field 4, starttime field 22
        fields = stat.rsplit(")", 1)[1].split()
        if uptime - int(fields[19]) / _TICKS >= min_age_s:
            parents[int(name)] = int(fields[1])
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as handle:
            return handle.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and every process descended from it."""
    total = 0
    for pid in descendants(root, _MIN_AGE_S):
        try:
            with open(f"/proc/{pid}/statm") as handle:
                total += int(handle.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the RSS of this process tree (driver, JVM, Python workers)
    on a background thread; ``stop`` joins it and returns the peak."""

    def __init__(self) -> None:
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_bytes = 0

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(root))
            self._stop.wait(_SAMPLE_S)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak_bytes


def cpu_ticks() -> tuple:
    """(busy, stolen) clock ticks of all CPUs since boot, from ``/proc/stat``:
    time the VM's CPUs ran work, and time they had work but the hypervisor
    ran something else."""
    with open("/proc/stat") as handle:
        fields = [int(x) for x in handle.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    return user + nice + system + irq + softirq, steal


# A stolen CPU tick costs a Spark job more than a tick of wall time: the
# work on the stolen vCPU waits, and so do the threads that wait for it
# (stage barriers, the slowest task, JVM safepoints). Over 46 runs of both
# workloads with 0-29% steal, scaling by the served share to this power
# left the least spread (NOTES.md).
STEAL_COST = 1.5


class Timer:
    """Wall time of a block, and the same time with CPU steal taken out.

    The host is a VM on a shared machine. While the hypervisor runs other
    guests on its CPUs, the VM's work waits, and ``/proc/stat`` counts that
    wait as steal. ``ran_s`` scales the wall time by the share of the
    block's CPU demand that was served, busy / (busy + stolen), raised to
    ``STEAL_COST``: an estimate of the wall time the block would have taken
    had no CPU been taken away.
    """

    def __enter__(self) -> "Timer":
        self._ticks = cpu_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        busy, stolen = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        self.steal_frac = stolen / (busy + stolen) if busy + stolen else 0.0
        self.ran_s = self.wall_s * (1.0 - self.steal_frac) ** STEAL_COST


def _reference_work(rounds: int) -> float:
    """Fixed pure-Python work shaped like the codec's inner loop: string
    building, dict lookups into a bounded table, bytes appends. Returns
    the CPU time it took."""
    t0 = time.process_time()
    table: dict = {}
    out = bytearray()
    for i in range(rounds):
        key = "http://example.org/src/" + str(i % 3001)
        slot = table.get(key)
        if slot is None:
            slot = table[key] = len(table)
        out += slot.to_bytes(2, "little")
    return time.process_time() - t0


def cpu_speed(workers: int, probes: int, rounds: int = 120_000) -> list:
    """CPU seconds a fixed piece of work takes on this host now: for each
    of ``probes`` rounds, the median over ``workers`` copies of the work
    run on as many CPUs at once.

    Besides steal, the host's CPUs run the same code faster or slower by
    up to ~1.5x for minutes at a time, and by tens of percent from one
    second to the next, as other guests load the shared cores and caches.
    CPU time leaves steal out, which ``Timer`` handles. Call it while
    nothing else of the run is running and no thread runs in this process
    (it forks): before Spark starts and after it has stopped.
    """
    pool = multiprocessing.get_context("fork").Pool(workers)
    try:
        pool.map(_reference_work, [1_000] * workers)  # start the workers
        samples = [
            statistics.median(pool.map(_reference_work, [rounds] * workers, chunksize=1))
            for _ in range(probes)
        ]
    finally:
        pool.close()
        pool.join()
    return samples


# Every stream row is one length-delimited field with a one-byte tag.
_TAG = {field: (field << 3) | 2 for field in (
    jc.ROW_TRIPLE, jc.ROW_NAME_ENTRY, jc.ROW_PREFIX_ENTRY, jc.ROW_DATATYPE_ENTRY
)}


def stream_counters(paths: list) -> dict:
    """Exact per-stream counts: frames, statements, lookup entry rows."""
    totals = Counter()
    for path in paths:
        with open(path, "rb") as handle:
            data = handle.read()
        totals["bytes"] += len(data)
        for frame in frames_from_bytes(data):
            totals["frames"] += 1
            rows, _metadata = split_frame(frame)
            totals.update(row[0] for row in rows if row)
    return {
        "bytes": totals["bytes"],
        "frames": totals["frames"],
        "statements": totals[_TAG[jc.ROW_TRIPLE]],
        "name_entries": totals[_TAG[jc.ROW_NAME_ENTRY]],
        "prefix_entries": totals[_TAG[jc.ROW_PREFIX_ENTRY]],
        "datatype_entries": totals[_TAG[jc.ROW_DATATYPE_ENTRY]],
    }
