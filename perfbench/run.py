"""KG-construction benchmark: extract -> link -> canonicalize -> Jelly
streams, the read-back of those streams, and the single-core codec.

    python3 perfbench/run.py --workload kg_fused_10k --seed 1 --seconds 10 --trace 0

Run from the repository root. One run is one closed loop: one driver and
one iteration at a time, as many iterations as come closest to
``--seconds`` (at least one; a traced run: at least three). An iteration

  1. writes the streams with ``run_pipeline`` (fused or resume path),
  2. reads them back with ``read_jelly`` + ``groupBy("p_value").count()``,
  3. in traced iterations, encodes the largest stream's statements with
     ``StreamEncoder`` in this process and decodes them back with
     ``decode_flat``,

and its outputs are checked before it counts as a success. The last line
of standard output is one JSON object: with ``--trace 0`` the end-to-end
metrics of BENCHMARK.json, with ``--trace 1`` its per-layer metrics, taken
from a run that wraps the pipeline entry points in spans (tracing.py).
End-to-end times are in reference seconds: wall time with the hypervisor's
CPU steal taken out (probes.Timer), scaled to a reference CPU speed
measured before Spark starts and after it stops (probes.cpu_speed).
Settings, workload choices and the layer -> end-to-end predictions are in
NOTES.md.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Input size and stream bound. 10k files give 134,999 triples; a bound of
# 40k triples per stream cuts them into 4 streams holding 64,329 / 25,786 /
# 19,122 / 25,762 statements -- the 4-stream, ~48%-largest shape that the
# default bound gives at 50k files, at a size whose runs fit the
# benchmark's time budget (NOTES.md).
N_FILES = 10_000
ROWS_PER_STREAM = 40_000
EXPECTED_TRIPLES = 134_999
# input builds other than the measured one permute by seed + k * offset
SEED_STRIDE = 1_000_003
INPUT_BUILDS = 3
# input size of the warm-up run
WARM_FILES = 1_000
CODEC_REPS = 5
# Reference seconds: a host on which probes.cpu_speed reads REF_CPU_S (its
# median on the reference host over a slow and a fast phase, 0.054-0.080).
REF_CPU_S = 0.065
# probes before Spark starts and again after it stops
SPEED_PROBES = 10
DRIVER_MEM = "3g"

WORKLOADS = {
    # name -> run_pipeline(resume=...)
    "kg_fused_10k": False,
    "kg_resume_encode_10k": True,
}


_T0 = time.perf_counter()


def log(message: str) -> None:
    elapsed = time.perf_counter() - _T0
    print(f"[perfbench {elapsed:6.1f}s] {message}", file=sys.stderr, flush=True)


def configure_env(work: Path) -> None:
    """Keep every file Spark and its JVM write inside ``work``, and size
    the driver through the variables pyjelly_spark.session reads."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    (work / "spark-local").mkdir()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        # the session's own default (-Xms8g -XX:+AlwaysPreTouch), sized to
        # the heap: a fully committed heap keeps peak RSS repeatable
        SPARK_DRIVER_XOPTS=f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        # executors import the package from the checkout (what a
        # spark-submit --py-files deployment gives them)
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    )


def start_session():
    import pyjelly_spark.session as session

    # ship_package zips the package into /tmp for addPyFile; the workers
    # already import it through PYTHONPATH, so the benchmark skips it to
    # write nothing outside the checkout
    session.ship_package = lambda spark: None
    spark = session.build_session()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    from probes import alive, descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    # the JVM's Python workers exit after it; once orphaned they are no
    # longer our descendants, so they are listed before it goes
    started = descendants(os.getpid()) - {os.getpid()}
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(alive(pid) for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {sorted(started)}")
        time.sleep(0.1)


def code_version() -> str:
    """Hash of every file of the package and of the pyspark version: what
    sets the stream bytes."""
    import pyspark

    digest = hashlib.sha256(pyspark.__version__.encode())
    package = ROOT / "pyjelly_spark"
    for path in sorted(package.rglob("*")):
        if path.is_file() and "__pycache__" not in path.parts:
            digest.update(str(path.relative_to(package)).encode() + b"\0")
            digest.update(path.read_bytes())
    return digest.hexdigest()[:16]


def no_span(name: str, spark_jobs: bool = True):
    """Stand-in for ``Tracer.span`` in untraced iterations."""
    return nullcontext()


def median(values):
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(self, spark, workload: str, seed: int, work: Path) -> None:
        from pyjelly_spark import pipeline

        self.spark = spark
        self.sc = spark.sparkContext
        self.P = pipeline
        self.workload = workload
        self.resume = WORKLOADS[workload]
        self.seed = seed
        self.work = work
        self.out_dir = work / ("staged" if self.resume else "fused")
        self.failures: list[str] = []
        self.reference_digests = None
        self.reference_hist = None
        self.codec_events = None

    def config(self, out_dir: Path, resume: bool, rows_per_stream=ROWS_PER_STREAM):
        return self.P.PipelineConfig(
            out_dir=str(out_dir), rows_per_stream=rows_per_stream, resume=resume
        )

    def fail(self, what: str) -> None:
        self.failures.append(what)
        log(f"check failed: {what}")

    # ------------------------------------------------------------ set-up
    def build_input(self, seed: int, n_files: int = N_FILES):
        """The source table, rows permuted by ``seed``, cached."""
        from pyspark.sql import functions as F

        from pyjelly_spark.sources.source_repos import generate_source_files

        files = (
            generate_source_files(self.spark, n_files)
            .orderBy(F.xxhash64("path", F.lit(seed)))
            .cache()
        )
        files.count()
        return files

    def warm_up(self) -> None:
        """Not timed: the fused path once over a small input, so that set-up
        and the measured loop run on a warm JVM and warm Python workers (a
        first pipeline run pays for code generation and JIT compilation,
        ~10 s at any input size)."""
        from pyjelly_spark.sources.jelly_io import read_jelly

        t0 = time.perf_counter()
        small = self.build_input(self.seed, WARM_FILES)
        out_dir = self.work / "warm"
        # the stream bound scaled to the small input gives as many streams,
        # hence encode and decode tasks and Python workers, as the loop has
        rows = ROWS_PER_STREAM * WARM_FILES // N_FILES
        self.P.run_pipeline(self.spark, small, self.config(out_dir, False, rows))
        read_jelly(self.spark, str(out_dir)).groupBy("p_value").count().collect()
        small.unpersist(blocking=True)
        shutil.rmtree(out_dir)
        log(f"warm-up {time.perf_counter() - t0:.1f}s")

    def setup(self) -> dict:
        """Input builds (repeated; their median counts) and, for the resume
        workload, the staged run, each timed by a ``Timer``.

        The fused workload warms up before them. The resume workload warms
        up after them, with one untimed iteration: its staged run is the
        first pipeline run in the JVM, a cold start as a user's first run
        is, and a separate warm-up would cost as much again."""
        from probes import Timer

        if not self.resume:
            self.warm_up()
        # Every build uses its own permutation: Spark shares one cache entry
        # between equal plans, so unpersisting a repeat of the measured
        # input would uncache the measured input too. The last build is the
        # measured one.
        seeds = [self.seed + i * SEED_STRIDE for i in range(INPUT_BUILDS, 0, -1)]
        seeds[-1] = self.seed
        inputs, builds = [], []
        for seed in seeds:
            with Timer() as timer:
                inputs.append(self.build_input(seed))
            builds.append(timer)
        for extra in inputs[:-1]:
            extra.unpersist(blocking=True)
        self.files = inputs[-1]
        input_s = median([t.wall_s for t in builds])
        input_ran_s = median([t.ran_s for t in builds])

        staged_s = staged_ran_s = 0.0
        if self.resume:
            with Timer() as timer:
                manifest = self.P.run_pipeline(
                    self.spark, self.files, self.config(self.out_dir, True)
                )
            staged_s, staged_ran_s = timer.wall_s, timer.ran_s
            self.check_streams(manifest, "staged build")
            self.load_codec_input(manifest)
            if self.iteration(self.files, self.out_dir, True, None) is None:
                raise RuntimeError("warm-up failed: " + "; ".join(self.failures))
        # objects the benchmark holds (codec input, Spark handles) stay out
        # of the codec passes' garbage collections
        gc.freeze()
        return {
            "wall_s": input_s + staged_s,
            "ran_s": input_ran_s + staged_ran_s,
            "input_s": input_s,
        }

    def load_codec_input(self, manifest) -> None:
        """The statements of the largest stream, decoded once."""
        from pyjelly_spark.jelly import decode_flat
        from pyjelly_spark.jelly.ioutils import frames_from_bytes

        largest = manifest.loc[manifest["n_statements"].idxmax(), "file"]
        with open(largest, "rb") as handle:
            data = handle.read()
        self.codec_events = list(decode_flat(frames_from_bytes(data)))
        self.codec_stmts = [event[1:] for event in self.codec_events]

    # ------------------------------------------------------------ checks
    def check_streams(self, manifest, label: str) -> None:
        total = int(manifest["n_statements"].sum())
        if total != EXPECTED_TRIPLES:
            self.fail(f"{label}: manifest total {total} != {EXPECTED_TRIPLES}")
        for entry in manifest.itertuples():
            with open(entry.file, "rb") as handle:
                sha = hashlib.sha256(handle.read()).hexdigest()
            if sha != entry.stream_sha256:
                self.fail(f"{label}: {entry.file} does not match its manifest sha")
        digests = dict(zip(manifest["partition_id"], manifest["stream_sha256"]))
        if self.reference_digests is None:
            self.reference_digests = digests
        elif digests != self.reference_digests:
            self.fail(f"{label}: per-partition stream_sha256 changed within the run")

    def check_registry(self) -> None:
        """Check this run against the checkout's record of earlier runs of
        the same code (``.bench_out/registry.json``): other seeds and the
        other workload must produce the same per-partition
        ``stream_sha256``. The record also holds the expected read-back
        histogram, computed by the first run of the code. The key holds a
        hash of the package files, so runs of different code never share
        an entry, and a change that legitimately alters the stream bytes
        starts a new one."""
        path = ROOT / ".bench_out" / "registry.json"
        key = (
            f"{N_FILES} files, {ROWS_PER_STREAM} rows per stream, "
            f"code {code_version()}"
        )
        registry = json.loads(path.read_text()) if path.exists() else {}
        entry = registry.setdefault(key, {"histogram": None, "digests": {}})
        if entry["histogram"] is None:
            entry["histogram"] = self.expect_histogram()
        self.expected_hist = entry["histogram"]
        digests = {str(pid): sha for pid, sha in self.reference_digests.items()}
        for label, seen in entry["digests"].items():
            if seen != digests:
                self.fail(f"per-partition stream_sha256 differs from run {label}")
        entry["digests"][f"{self.workload} seed {self.seed}"] = digests
        path.parent.mkdir(exist_ok=True)
        path.write_text(json.dumps(registry, indent=1, sort_keys=True))

    def expect_histogram(self) -> dict:
        """Per-predicate counts computed in Spark SQL from the triples plan,
        without the codec (a full extraction: ~14 s, hence computed once
        per code version and kept in the registry)."""
        from pyspark.sql import functions as F

        triples = self.P.build_triples(
            self.spark, self.files, self.config(self.work / "hist", False)
        )
        hist = {
            row["p_value"]: row["count"]
            for row in triples.groupBy(F.col("p.value").alias("p_value"))
            .count()
            .collect()
        }
        total = sum(hist.values())
        if total != EXPECTED_TRIPLES:
            raise RuntimeError(f"triples plan holds {total}, not {EXPECTED_TRIPLES}")
        return hist

    def final_checks(self) -> dict:
        """Checks run once, after the measured loop: the digests against
        earlier runs, the read-back histogram against the triples plan's,
        ``verify_lineage``, one codec round trip, and an exact walk of the
        written streams."""
        from probes import stream_counters

        if self.reference_digests is None:
            raise RuntimeError("no streams were written: " + "; ".join(self.failures))
        self.check_registry()
        if self.reference_hist != self.expected_hist:
            self.fail("read-back per-predicate counts differ from the triples plan")
        lineage = tuple(self.P.verify_lineage(self.spark, self.files, str(self.out_dir)))
        if lineage != (N_FILES, N_FILES):
            self.fail(f"verify_lineage returned {lineage}")
        self.codec_pass({"encode_s": [], "decode_s": []}, no_span)
        counters = stream_counters(sorted(str(p) for p in self.out_dir.glob("*.jelly")))
        if counters["statements"] != EXPECTED_TRIPLES:
            self.fail(f"stream walk counted {counters['statements']} statements")
        return counters

    # ------------------------------------------------------------ iteration
    def iteration(
        self, files, out_dir: Path, resume: bool, tracer, codec_reps=0
    ):
        """One write, then one read-back and ``codec_reps`` codec round
        trips; None when it failed."""
        from probes import Timer
        from pyjelly_spark.sources.jelly_io import manifest_path

        span = tracer.span if tracer else no_span
        rec = {"read_s": [], "read_ran_s": [], "encode_s": [], "decode_s": []}
        n_failed = len(self.failures)
        jsc = self.sc._jsc
        pinned_before = jsc.getPersistentRDDs().size()
        try:
            if resume:
                # crash after the stage: streams and manifest are gone (a
                # failed earlier iteration may have left neither)
                shutil.rmtree(manifest_path(str(out_dir)), ignore_errors=True)
                for path in out_dir.glob("*.jelly"):
                    path.unlink()
            with span("iteration", spark_jobs=False):
                with Timer() as timer:
                    manifest = self.P.run_pipeline(
                        self.spark, files, self.config(out_dir, resume)
                    )
                rec["write_s"] = timer.wall_s
                rec["write_ran_s"] = timer.ran_s
                rec["write_steal_frac"] = timer.steal_frac
                rec["manifest"] = manifest
                rec["pinned_rdds_delta"] = jsc.getPersistentRDDs().size() - pinned_before
                self.check_streams(manifest, "write")
                if self.codec_events is None:
                    self.load_codec_input(manifest)
                self.read_back(out_dir, rec, span)
                for _ in range(codec_reps):
                    self.codec_pass(rec, span)
        except Exception:  # noqa: BLE001 - a raising iteration counts as failed
            self.fail("iteration raised:\n" + traceback.format_exc())
        return rec if len(self.failures) == n_failed else None

    def read_back(self, out_dir: Path, rec: dict, span) -> None:
        from probes import Timer
        from pyjelly_spark.sources.jelly_io import read_jelly

        with span("jelly_io.read_jelly"), Timer() as timer:
            rows = read_jelly(self.spark, str(out_dir)).groupBy("p_value").count().collect()
        rec["read_s"].append(timer.wall_s)
        rec["read_ran_s"].append(timer.ran_s)
        hist = {row["p_value"]: row["count"] for row in rows}
        if self.reference_hist is None:
            self.reference_hist = hist
        elif hist != self.reference_hist:
            self.fail("read-back per-predicate counts changed within the run")

    def codec_pass(self, rec: dict, span) -> None:
        from pyjelly_spark.jelly import StreamOptions, decode_flat, encode_flat

        with span("jelly.encoder", spark_jobs=False):
            t0 = time.perf_counter()
            frames = list(encode_flat(self.codec_stmts, StreamOptions()))
            rec["encode_s"].append(time.perf_counter() - t0)
        with span("jelly.decoder", spark_jobs=False):
            t0 = time.perf_counter()
            back = list(decode_flat(frames))
            rec["decode_s"].append(time.perf_counter() - t0)
        if back != self.codec_events:
            self.fail("codec round trip changed the statements")


def layer_metrics(bench: Bench, tracer, rec: dict) -> dict:
    """Per-layer figures of one traced iteration."""
    from tracing import stage_metrics

    # later spans overwrite earlier ones: the traced iteration's win
    spans = {s.name: s for s in tracer.spans}
    root = spans["pipeline.run_pipeline"]
    manifest = rec["manifest"]
    stmts = int(manifest["n_statements"].sum())
    plan = stage_metrics(bench.sc, spans["pipeline.plan_partitions"].group)
    write = stage_metrics(bench.sc, spans["jelly_io.write_jelly"].group)
    read = stage_metrics(bench.sc, spans["jelly_io.read_jelly"].group)
    mb = 1 << 20
    storage = sum(i.memSize() for i in bench.sc._jsc.sc().getRDDStorageInfo())
    return {
        "pipeline.run_pipeline.s": root.duration,
        "pipeline.run_pipeline.self_s": tracer.self_time(root),
        "pipeline.build_triples.s": spans["pipeline.build_triples"].duration,
        "pipeline.plan_partitions.s": spans["pipeline.plan_partitions"].duration,
        "pipeline.plan_partitions.task_s": plan["task_s"],
        "pipeline.plan_partitions.jvm_cpu_s": plan["jvm_cpu_s"],
        "pipeline.plan_partitions.shuffle_write_mb": plan["shuffle_write_bytes"] / mb,
        "pipeline.plan_partitions.gc_s": plan["gc_s"],
        "jelly_io.write_jelly.s": spans["jelly_io.write_jelly"].duration,
        "jelly_io.write_jelly.task_s": write["task_s"],
        "jelly_io.write_jelly.jvm_cpu_s": write["jvm_cpu_s"],
        # executorCpuTime does not count the Python worker
        "jelly_io.write_jelly.nonjvm_s": write["task_s"] - write["jvm_cpu_s"],
        "jelly_io.write_jelly.shuffle_read_mb": write["shuffle_read_bytes"] / mb,
        "jelly_io.write_jelly.shuffle_bytes_per_stmt": write["shuffle_read_bytes"] / stmts,
        "jelly_io.write_jelly.spill_mb": write["spill_bytes"] / mb,
        "jelly_io.write_jelly.task_max_s": write["task_max_s"],
        "jelly_io.write_jelly.task_skew": write["task_skew"],
        "jelly_io.write_jelly.streams": len(manifest),
        "jelly_io.write_jelly.frames": int(manifest["n_frames"].sum()),
        "jelly_io.write_jelly.max_stream_share": int(manifest["n_statements"].max()) / stmts,
        "jelly_io.read_jelly.s": spans["jelly_io.read_jelly"].duration,
        "jelly_io.read_jelly.task_s": read["task_s"],
        "jelly_io.read_jelly.task_max_s": read["task_max_s"],
        "jelly_io.read_jelly.task_skew": read["task_skew"],
        "jelly.encoder.s": median(rec["encode_s"]),
        "jelly.encoder.stmts_per_s": len(bench.codec_events) / median(rec["encode_s"]),
        "jelly.decoder.s": median(rec["decode_s"]),
        "jelly.decoder.stmts_per_s": len(bench.codec_events) / median(rec["decode_s"]),
        "pipeline.pinned_rdds_delta": rec["pinned_rdds_delta"],
        "pipeline.storage_mem_mb_after": storage / mb,
    }


def declared(trace: bool) -> dict:
    """Metric name -> unit, in BENCHMARK.json order."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    if not (ROOT / "pyjelly_spark" / "pipeline.py").is_file():
        log(f"no pyjelly_spark package under {ROOT}; run from a repository checkout")
        return 2
    units = declared(bool(args.trace))
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from probes import PeakRss, cpu_speed
    from tracing import Tracer, install

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    configure_env(work)
    cpus = len(os.sched_getaffinity(0))
    speed_samples = cpu_speed(cpus, SPEED_PROBES)
    rss = PeakRss().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        log(f"session up in {time.perf_counter() - t0:.1f}s")
        bench = Bench(spark, args.workload, args.seed, work)
        setup = bench.setup()
        log(f"set-up {setup['wall_s']:.2f}s")

        run_id = uuid.uuid4().hex[:12]
        tracer = Tracer(run_id, spark.sparkContext)
        plain, traced = [], []  # successful iterations
        attempted = 0
        started = time.perf_counter()
        while True:
            # the traced run alternates plain and traced iterations
            trace_this = bool(args.trace) and attempted % 2 == 1
            restore = install(tracer, bench.P) if trace_this else None
            try:
                rec = bench.iteration(
                    bench.files,
                    bench.out_dir,
                    bench.resume,
                    tracer if trace_this else None,
                    codec_reps=CODEC_REPS if trace_this else 0,
                )
            finally:
                if restore:
                    restore()
            attempted += 1
            if rec is not None:
                if trace_this:
                    rec["layers"] = layer_metrics(bench, tracer, rec)
                (traced if trace_this else plain).append(rec)
                samples = "; ".join(
                    f"{key} " + " ".join(f"{t:.2f}" for t in rec[key])
                    for key in ("read_s", "encode_s", "decode_s")
                    if rec[key]
                )
                log(
                    f"iteration {attempted}{' (traced)' if trace_this else ''}: "
                    f"write_s {rec['write_s']:.2f}; {samples}"
                )
            # stop where the measured time comes closest to --seconds; a
            # traced run brackets its traced iteration with plain ones,
            # which also evens out the warm-up trend in trace.overhead_frac
            elapsed = time.perf_counter() - started
            if elapsed + elapsed / attempted / 2 >= args.seconds and (
                attempted >= 3 or not args.trace
            ):
                break
        failed = attempted - len(plain) - len(traced)
        counters = bench.final_checks()
    finally:
        if spark is not None:
            stop_session(spark)
        peak_rss = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    probe_s = median(speed_samples + cpu_speed(cpus, SPEED_PROBES))

    n = EXPECTED_TRIPLES
    # reference seconds per wall second with steal taken out
    to_ref = REF_CPU_S / probe_s
    write_ran = [r["write_ran_s"] for r in plain]
    steal = median([r["write_steal_frac"] for r in plain])
    log(
        f"host: CPU probe {probe_s:.4f}s (x{to_ref:.3f} to reference); "
        f"steal took {steal:.3f} of the writes' CPU demand"
    )
    if args.trace:
        values = {}
        for name in traced[0]["layers"] if traced else ():
            values[name] = median([r["layers"][name] for r in traced])
        values.update({
            "jelly.name_entries_per_stmt": counters["name_entries"] / n,
            "jelly.prefix_entries_per_stmt": counters["prefix_entries"] / n,
            "jelly.datatype_entries_per_stmt": counters["datatype_entries"] / n,
            "jelly.bytes_per_frame": counters["bytes"] / counters["frames"],
            "source_repos.input_build.s": setup["input_s"],
            "wall.stmts_per_s": median([n / r["write_s"] for r in plain]),
            "wall.read_stmts_per_s": median([n / s for r in plain for s in r["read_s"]]),
            "wall.setup_s": setup["wall_s"],
            "host.cpu_probe_s": probe_s,
            "host.steal_frac": steal,
        })
        if plain and traced:
            values["trace.overhead_frac"] = (
                median([r["write_ran_s"] for r in traced]) / median(write_ran) - 1.0
            )
        spans_dir = ROOT / ".bench_out"
        spans_dir.mkdir(exist_ok=True)
        tracer.dump(str(spans_dir / f"spans-{args.workload}-seed{args.seed}-{run_id}.json"))
    else:
        values = {
            "norm_stmts_per_s": median([n / (t * to_ref) for t in write_ran]),
            "norm_read_stmts_per_s": median(
                [n / (t * to_ref) for r in plain for t in r["read_ran_s"]]
            ),
            "bytes_per_stmt": counters["bytes"] / n,
            "setup_s": setup["ran_s"] * to_ref,
            "ok_frac": (attempted - failed) / attempted,
            "peak_rss_mb": peak_rss / (1 << 20),
        }
    correct = not bench.failures
    if set(values) != set(units):
        # only a failed iteration leaves metrics unmeasured
        log(f"metrics not measured: {sorted(set(units) - set(values))}")
        correct = False
    metrics = {
        name: {"value": values[name], "unit": unit}
        for name, unit in units.items()
        if name in values
    }
    for name, entry in metrics.items():
        log(f"{name:45s} {entry['value']:>14.6g} {entry['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
