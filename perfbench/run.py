"""Benchmark entry point.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Runs one workload (``llm_curation`` or ``engine_etl``; ``tpch`` by hand) in a
fresh SparkSession at ``local[2]`` from the root of a source checkout.  Inputs
are generated from ``--seed``; every op's output is checked after the timed
region.  All temporary state (fixtures, Spark local dirs, stage caches,
engine outputs) lives under ``.perfbench_tmp/`` and is removed at exit; the
traced run writes its spans to ``.perfbench_out/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).  Exits 2 without a result when the
checkout does not hold the ``fossa_spark`` package.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import layers  # noqa: E402
from perfbench.trace import Tracer, self_times  # noqa: E402

# Fixture scale factor (TPC-H rows: 6 M lineitem rows per 1.0).  Small enough
# that a run takes about a minute on 4 cores; at this size, as at sf0.1,
# every op is bound by planning and scheduling.
SF = 0.01
DRIVER_MEMORY = "2g"  # fits a small host; the session default is 16g
# Spark task slots.  Two, not one per core: the driver JVM's own threads, the
# Python driver and the Python UDF workers need the other cores, and a run
# with more runnable threads than cores measures the scheduler.  On 4 cores,
# llm_curation's warm_s and cold_s spread 0.45-0.47 IQR/median over four
# runs at local[4], 0.07-0.18 at local[2].
TASK_SLOTS = 2
# A throughput collector with as many threads as task slots.  G1's heap
# sizing follows pause times, so its peak RSS moved with the host's speed
# (IQR/median 0.19-0.29); this one's moved 0.02-0.08.
JVM_OPTIONS = f"-XX:+UseParallelGC -XX:ParallelGCThreads={TASK_SLOTS}"
SPAN_NAMES = ("pass", "query", "queries.build", "spark.collect", "sources.stage",
              "job", "api.post", "api.poll", "connect.write")
END_TO_END_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "job_p50_s": "s",
                    "jobs_per_min": "1/min", "peak_rss_mb": "MB"}
PASS_LAYER_UNITS = {
    "queries.build_s": "s", "queries.eager_jobs": "count", "driver.self_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "spark.output_mb": "MB", "llm.udf_s": "s",
    "sources.stage_builds": "count", "sources.stage_serves": "count",
    "sources.stage_build_s": "s", "sources.stage_mb": "MB",
    "api.submit_s": "s", "api.rejected": "count", "engine.run_s": "s", "api.overhead_s": "s",
    "connect.write_s": "s", "connect.files_written": "count", "connect.write_mb": "MB",
    "pipelines.docs_in": "count", "pipelines.docs_out": "count",
    **{f"self_s.{n}": "s" for n in SPAN_NAMES},
}
RUN_LAYER_UNITS = {"session.start_s": "s", "session.ship_s": "s", "fixture.gen_s": "s",
                   "warmup_s": "s", "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
                   "trace.spans": "count"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric: run-level ones, then each per-pass metric for
    the median traced warm pass and, prefixed ``cold.``, the cold pass."""
    return {**RUN_LAYER_UNITS, **PASS_LAYER_UNITS,
            **{f"cold.{k}": u for k, u in PASS_LAYER_UNITS.items()}}


def source_digest() -> str:
    """The commit if the checkout is a git work tree, else a digest of the
    package sources."""
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for p in sorted((ROOT / "fossa_spark").rglob("*.py")):
        h.update(p.read_bytes())
    return "src-" + h.hexdigest()[:16]


def sweep_dead_runs(root: Path) -> None:
    """Remove run dirs left by benchmark processes that no longer exist."""
    if root.is_dir():
        for d in root.iterdir():
            pid = d.name.rsplit("-", 1)[-1]
            if pid.isdigit() and not Path(f"/proc/{pid}").exists():
                shutil.rmtree(d, ignore_errors=True)


class Bench:
    """One benchmark run: its temp dirs, session, tracer and probes."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.sf = SF
        self.cores = len(os.sched_getaffinity(0))
        self.slots = min(TASK_SLOTS, self.cores)
        self.run_id = f"{workload}-s{seed}-{os.getpid()}"
        sweep_dead_runs(ROOT / ".perfbench_tmp")
        self.work = ROOT / ".perfbench_tmp" / self.run_id
        tmp = self.tmp("tmp")
        # Every temp file of this process, its Python workers and the JVM
        # stays inside the run dir.
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp("spark-local")
        self.tracer = Tracer(self.run_id, enabled=False)
        self.spark = None
        self.staging = self.connect = None
        self.layer: dict[str, float] = {}

    def tmp(self, name: str) -> str:
        d = self.work / name
        d.mkdir(parents=True, exist_ok=True)
        return str(d)

    def settings(self) -> dict:
        import pyspark

        return {"workload": self.workload, "seed": self.seed, "seconds": self.seconds,
                "trace": int(self.trace), "sf": self.sf, "cores": self.cores,
                "master": f"local[{self.slots}]", "driver_memory": DRIVER_MEMORY,
                "jvm_options": JVM_OPTIONS, "shuffle_partitions": self.slots,
                "pyspark": pyspark.__version__,
                "commit": source_digest()}

    def start_session(self):
        from fossa_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp('tmp')} {JVM_OPTIONS}",
            "spark.local.dir": self.tmp("spark-local"),
            "spark.sql.warehouse.dir": self.tmp("warehouse"),
            # keep every job of the run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=f"local[{self.slots}]",
                               shuffle_partitions=self.slots, extra_conf=conf)
        return self.spark

    def reset_session_state(self) -> None:
        """Drop cached relations between ops, as the repo's bench does, so
        each op's time is its own and not its predecessors' leftovers."""
        self.spark.catalog.clearCache()
        it = self.spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)

    def set_tracing(self, on: bool) -> None:
        if not self.trace:
            return
        self.tracer.enabled = on
        if on:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            layers.clear_udf(self.spark)
            self.staging.install()
            self.connect.install()
        else:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            self.staging.uninstall()
            self.connect.uninstall()

    def pass_layers(self, wl, p, spans: list[dict]) -> None:
        """Per-layer metrics of one traced pass."""
        ledger = layers.SparkLedger(self.spark)
        ledger.drain()
        jobs = ledger.job_ids(p.groups)
        m = ledger.metrics(jobs)
        m["queries.build_s"] = p.build_s
        m["queries.eager_jobs"] = len(ledger.job_ids(p.eager_groups))
        m["driver.self_s"] = layers.driver_self_s(p.windows, ledger.job_spans(jobs))
        m["llm.udf_s"] = layers.udf_seconds(self.spark)
        m["sources.stage_builds"] = self.staging.builds
        m["sources.stage_serves"] = self.staging.serves
        m["sources.stage_build_s"] = self.staging.build_s
        m["sources.stage_mb"] = self.staging.stage_mb()
        self.staging.reset()
        writes = [self.connect.write_s.get(g, 0.0) for g in p.groups]
        m["connect.write_s"] = statistics.median(writes) if writes else 0.0
        m.update(wl.pass_layers(p))
        selfs = self_times(spans)
        for n in SPAN_NAMES:
            m[f"self_s.{n}"] = selfs.get(n, 0.0)
        p.layer = {k: float(m.get(k, 0.0)) for k in PASS_LAYER_UNITS}


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until it exits."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        gateway.proc.stdin.close()  # the gateway server exits when stdin closes
        gateway.proc.wait(timeout=60)


def run(args) -> dict:
    from perfbench.workloads import WORKLOADS

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    wl = WORKLOADS[args.workload](bench)
    layer = bench.layer
    try:
        t = time.perf_counter()
        wl.make_inputs()
        layer["fixture.gen_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark = bench.start_session()
        layer["session.start_s"] = time.perf_counter() - t
        from fossa_spark.queries import ensure_executors_can_import

        t = time.perf_counter()
        ensure_executors_can_import(spark)
        layer["session.ship_s"] = time.perf_counter() - t
        wl.start_node(spark)
        t = time.perf_counter()
        wl.warm_up(spark)
        layer["warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_PROCESS

        if bench.trace:
            bench.staging = layers.StagingProbe(bench.tracer)
            bench.connect = layers.ConnectProbe(bench.tracer, spark, wl.job_spans)
        wl.measure(args.seconds, bench.trace)
        rss = layers.peak_rss_mb(spark)
        problems = wl.check_outputs()
    finally:
        try:
            wl.stop_node()
            if bench.spark is not None:
                stop_jvm(bench.spark)
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)

    attempted = wl.op_count()
    failures = [f for p in wl.passes for f in p.failed] + problems
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    e2e = {"setup_s": setup_s, **wl.end_to_end(), "peak_rss_mb": rss}
    print("settings " + json.dumps(bench.settings()))
    for p in wl.passes:
        print(f"pass {p.index} {p.seconds:.3f}s " + " ".join(
            f"{n}={x:.3f}" for n, x in zip(p.names, p.latencies)))
    summary = {**e2e, "fail_frac": len(failures) / attempted if attempted else 1.0}
    print("end_to_end " + " ".join(
        f"{k}={v:.4f}[{END_TO_END_UNITS.get(k, 'ratio')}]" for k, v in summary.items()))
    if bench.trace:
        metrics = per_layer(bench, wl)
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        path = out / f"spans-{bench.run_id}.jsonl"
        bench.tracer.write(str(path))
        print(f"spans {len(bench.tracer.spans)} written to {path.relative_to(ROOT)}")
        units = per_layer_units()
    else:
        metrics, units = e2e, END_TO_END_UNITS
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                        for k in units}}


def per_layer(bench: Bench, wl) -> dict[str, float]:
    cold = wl.passes[0]
    warm = [p for p in wl.warm_passes() if p.traced]
    untraced = [p.seconds for p in wl.warm_passes() if not p.traced]
    traced_warm = [p.seconds for p in warm]
    base = statistics.median(untraced)
    overhead = statistics.median(traced_warm) - base
    m = dict(bench.layer)
    m.update({"trace.overhead_s": overhead, "trace.overhead_frac": overhead / base,
              "trace.spans": len(bench.tracer.spans)})
    for k in PASS_LAYER_UNITS:
        m[k] = statistics.median(p.layer[k] for p in warm)
        m[f"cold.{k}"] = cold.layer[k]
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("tpch", "llm_curation", "engine_etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "fossa_spark" / "__init__.py").is_file():
        print(f"no fossa_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so the run's temp dirs, session
    # and engine are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
