"""Per-layer probes, read from outside the program.

* ``SparkLedger``: Spark's status store, by job group (works with the UI
  disabled).
* ``StagingProbe``: counts staged-artifact builds and serves by wrapping the
  three staging primitives (``sources.stage_bucketed_tables``,
  ``sources.stage_files`` and ``llm.dedup._staged_parquet``) that every
  ``staged_*`` helper goes through.  A call whose ``build``/``compute``
  callback runs is a build; any other call is a serve.
* ``ConnectProbe``: times ``Connect.write``.
* ``udf_seconds``: Python-worker time from Spark's UDF profiler.
* ``peak_rss_mb``: JVM ``VmHWM`` plus this process's ``ru_maxrss``.

The probes are installed only for the traced run.

Which end-to-end metric each per-layer metric should move, and where:

* ``session.*``, ``fixture.gen_s``, ``warmup_s``: ``setup_s``, every workload.
* ``queries.build_s``, ``queries.eager_jobs``, ``driver.self_s``:
  ``cold_s``/``warm_s`` on llm_curation; small on tpch.
* ``spark.*``: ``warm_s`` on tpch most; also ``job_p50_s`` on engine_etl.
* ``llm.udf_s``: ``warm_s`` on llm_curation; 0 on tpch.
* ``sources.stage_builds``/``stage_build_s``/``stage_mb``: ``cold_s`` on
  llm_curation; ``sources.stage_serves``: ``warm_s`` there.  All 0 on tpch
  and engine_etl.
* ``api.*``, ``engine.run_s``, ``connect.*``, ``pipelines.*``: ``job_p50_s``
  and ``jobs_per_min`` on engine_etl; 0 elsewhere.
"""

from __future__ import annotations

import functools
import os
import resource
import sys
import threading
import time

from perfbench.trace import Tracer, union_length

MB = 1024 * 1024

class SparkLedger:
    """Sum Spark's status-store metrics over the jobs of some job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, groups) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def job_spans(self, job_ids) -> list[tuple[float, float]]:
        """(submission, completion) of each job, epoch seconds."""
        store = self._jsc.statusStore()
        spans = []
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return spans

    def metrics(self, job_ids) -> dict[str, float]:
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        m = dict.fromkeys(("stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "sr", "sw",
                           "spill", "inb", "outb"), 0)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            m["stages"] += 1
            m["tasks"] += st.numCompleteTasks()
            m["run_ms"] += st.executorRunTime()
            m["cpu_ns"] += st.executorCpuTime()
            m["gc_ms"] += st.jvmGcTime()
            m["sr"] += st.shuffleReadBytes()
            m["sw"] += st.shuffleWriteBytes()
            m["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["inb"] += st.inputBytes()
            m["outb"] += st.outputBytes()
        return {
            "spark.jobs": len(job_ids),
            "spark.stages": m["stages"],
            "spark.tasks": m["tasks"],
            "spark.executor_run_s": m["run_ms"] / 1e3,
            "spark.executor_cpu_s": m["cpu_ns"] / 1e9,
            "spark.gc_s": m["gc_ms"] / 1e3,
            "spark.shuffle_read_mb": m["sr"] / MB,
            "spark.shuffle_write_mb": m["sw"] / MB,
            "spark.spill_mb": m["spill"] / MB,
            "spark.input_mb": m["inb"] / MB,
            "spark.output_mb": m["outb"] / MB,
        }


def driver_self_s(windows: list[tuple[float, float]], job_spans) -> float:
    """Time inside ``windows`` (epoch seconds) not covered by any job."""
    return sum((hi - lo) - union_length(job_spans, lo, hi) for lo, hi in windows)


def _replace_everywhere(original, replacement) -> None:
    """Rebind every loaded ``fossa_spark`` module global that is ``original``."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("fossa_spark") and mod is not None:
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, replacement)


class StagingProbe:
    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._lock = threading.Lock()
        self._undo: list[tuple] = []
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.builds = self.serves = 0
            self.build_s = 0.0

    def _wrap(self, fn, cb_name: str, cb_pos: int | None):
        probe = self

        @functools.wraps(fn)
        def staged(*args, **kwargs):
            built = []

            def mark(cb):
                @functools.wraps(cb)
                def run(*a, **k):
                    built.append(True)
                    return cb(*a, **k)
                return run

            if cb_name in kwargs:
                kwargs[cb_name] = mark(kwargs[cb_name])
            elif cb_pos is not None and len(args) > cb_pos:
                args = args[:cb_pos] + (mark(args[cb_pos]),) + args[cb_pos + 1:]
            t0 = time.perf_counter()
            with probe.tracer.span("sources.stage", helper=fn.__name__) as sp:
                out = fn(*args, **kwargs)
                if sp is not None:
                    sp["built"] = bool(built)
            dt = time.perf_counter() - t0
            with probe._lock:
                if built:
                    probe.builds += 1
                    probe.build_s += dt
                else:
                    probe.serves += 1
            return out

        return staged

    def install(self) -> None:
        from fossa_spark import sources
        from fossa_spark.llm import dedup

        for mod, name, cb, pos in ((sources, "stage_bucketed_tables", "build", None),
                                   (sources, "stage_files", "build", None),
                                   (dedup, "_staged_parquet", "compute", 1)):
            orig = getattr(mod, name)
            wrapped = self._wrap(orig, cb, pos)
            _replace_everywhere(orig, wrapped)
            self._undo.append((orig, wrapped))

    def uninstall(self) -> None:
        for orig, wrapped in self._undo:
            _replace_everywhere(wrapped, orig)
        self._undo.clear()

    @staticmethod
    def stage_mb() -> float:
        from fossa_spark import sources

        root = sources._PROC_CACHE_ROOT
        return dir_bytes(root)[1] / MB if root else 0.0


class ConnectProbe:
    """Time ``Connect.write``; the span's parent is the job span of the
    engine task whose Spark job group the writing thread carries."""

    def __init__(self, tracer: Tracer, spark, job_spans: dict[str, int]):
        self.tracer, self.sc, self.job_spans = tracer, spark.sparkContext, job_spans
        self._lock = threading.Lock()
        self.write_s: dict[str, float] = {}
        self._orig = None

    def install(self) -> None:
        from fossa_spark.connect import Connect

        self._orig = orig = Connect.write
        probe = self

        @functools.wraps(orig)
        def write(conn, *args, **kwargs):
            group = probe.sc.getLocalProperty("spark.jobGroup.id")
            t0 = time.perf_counter()
            with probe.tracer.span("connect.write", parent=probe.job_spans.get(group)):
                out = orig(conn, *args, **kwargs)
            with probe._lock:
                probe.write_s[group] = probe.write_s.get(group, 0.0) + time.perf_counter() - t0
            return out

        Connect.write = write

    def uninstall(self) -> None:
        if self._orig is not None:
            from fossa_spark.connect import Connect

            Connect.write = self._orig


def udf_seconds(spark) -> float:
    """Total profiled Python-worker time since the last ``clear_udf``."""
    results = spark._profiler_collector._perf_profile_results
    return sum(st.total_tt for st in results.values() if st is not None)


def clear_udf(spark) -> None:
    spark._profiler_collector.clear_perf_profiles()


def peak_rss_mb(spark) -> float:
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def dir_bytes(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``, ignoring checksum and marker files."""
    files = size = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
