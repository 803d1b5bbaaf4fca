"""The three workloads.

``tpch`` and ``llm_curation`` run a fixed list of registry queries in
passes: the first pass is cold (every staged artifact is built, every plan
compiled for the first time), later passes are warm.  The first warm passes
still run slower than the rest while the JIT compiles; they settle the
session and are left out of the warm figures.  Each op is timed from
the call of its query function to the end of ``collect()``; its output is
checked after the pass.  ``engine_etl`` runs the same pass structure with
engine jobs: two closed-loop HTTP clients each POST a ``TrainingDataPipeline``
job over one document shard, poll it to a terminal status, then send the
next, until every shard of the pass is done.
"""

from __future__ import annotations

import json
import os
import queue
import random
import statistics
import threading
import time
import urllib.error
import urllib.request

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import check, fixtures, layers

# Five of the 21 oracle-backed TPC-H shapes: a correlated subquery (q2), a
# six-way join (q9), an outer join (q13), an anti-join with a distinct count
# (q16) and EXISTS/NOT EXISTS (q21), chosen so that a run takes well under a
# minute on 4 cores.
TPCH_OPS = ("q_sql_q2", "q_sql_q9", "q_sql_q13", "q_sql_q16", "q_sql_q21")
# LLM curation ops covering both staging primitives (the staged parquet memo
# and stage_files), Arrow UDF workers (mapInPandas shingle hashing),
# driver-side eager work and a codegen-only regex pass.
LLM_OPS = ("q_dedup_near", "q_dedup_simhash", "q_pii_redact")
N_SHARDS = 2
N_CLIENTS = 2
ENGINE_DOCS = 1_000
NO_ORACLE = {"q_dedup_near"}  # checked against a reference computed here


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Pass:
    """Timings and outcomes of one pass."""

    def __init__(self, index: int, traced: bool):
        self.index, self.traced = index, traced
        self.latencies: list[float] = []
        self.names: list[str] = []
        self.windows: list[tuple[float, float]] = []  # epoch-second op windows
        self.groups: list[str] = []
        self.eager_groups: list[str] = []
        self.build_s = 0.0
        self.failed: list[str] = []
        self.layer: dict[str, float] = {}
        self.wall_s: float | None = None  # set when ops overlap

    @property
    def seconds(self) -> float:
        """Pass time: the ops' summed latency when they run one after
        another, the wall time when they overlap."""
        return self.wall_s if self.wall_s is not None else sum(self.latencies)


# Passes after the cold one that settle the session before warm timing:
# warm passes still speed up by a third over the first few, while the JVM
# compiles.
SETTLE_PASSES = 2
# Fewest warm passes a run measures, however short ``--seconds`` is.
MIN_WARM_PASSES = 2


class Workload:
    name = ""
    ops: tuple[str, ...] = ()

    def __init__(self, bench):
        self.b = bench
        self.rng = random.Random(bench.seed)
        self.passes: list[Pass] = []
        self.job_spans: dict[str, int] = {}  # engine task id -> job span id

    # -- set-up --------------------------------------------------------
    def make_inputs(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        """Warm the JVM, the parquet reader and SQL planning with jobs that
        share no data or plan with the timed ops, so that these first-use
        costs of the session count in set-up."""
        spark.range(20_000).selectExpr("id % 97 AS k", "xxhash64(id) % 1000003 AS v") \
            .groupBy("k").sum("v").collect()
        path = os.path.join(self.b.tmp("warmup"), "t.parquet")
        pq.write_table(pa.table({"k": list(range(100)), "v": list(range(100))}), path)
        spark.read.parquet(path).createOrReplaceTempView("perfbench_warmup")
        spark.sql("SELECT k % 7 AS g, sum(v) FROM perfbench_warmup GROUP BY 1 ORDER BY 1").collect()
        spark.catalog.dropTempView("perfbench_warmup")

    def start_node(self, spark) -> None:
        """Start the serving layer under test, if the workload has one."""

    def stop_node(self) -> None:
        pass

    # -- measurement ---------------------------------------------------
    def run_pass(self, p: Pass) -> None:
        raise NotImplementedError

    def pass_layers(self, p: Pass) -> dict[str, float]:
        """Workload-specific per-layer metrics of one traced pass."""
        return {}

    def measure(self, seconds: float, tracing: bool) -> None:
        """Cold pass, settling passes, then warm passes until ``seconds`` have
        gone by.  The traced run traces every other pass, the cold one first,
        and measures at least one traced and one untraced warm pass, so that
        the tracing overhead is measured in the same run."""
        min_passes = 1 + SETTLE_PASSES + MIN_WARM_PASSES
        tr = self.b.tracer
        t0 = time.perf_counter()
        while len(self.passes) < min_passes or time.perf_counter() - t0 < seconds:
            i = len(self.passes)
            p = Pass(i, traced=tracing and i % 2 == 0)
            first_span = len(tr.spans)
            self.b.set_tracing(p.traced)
            with tr.span("pass", index=i):
                tr.fallback_parent = tr.current()
                self.run_pass(p)
            tr.fallback_parent = None
            self.b.set_tracing(False)
            self.passes.append(p)
            if p.traced:
                self.b.pass_layers(self, p, self.b.tracer.spans[first_span:])

    # -- results ---------------------------------------------------------
    def op_count(self) -> int:
        return sum(len(p.latencies) + len(p.failed) for p in self.passes)

    def warm_passes(self) -> list[Pass]:
        return self.passes[1 + SETTLE_PASSES:]

    def end_to_end(self) -> dict[str, float]:
        warm = self.warm_passes()
        warm_lat = [x for p in warm for x in p.latencies]
        warm_s = sum(p.seconds for p in warm)
        return {
            "cold_s": self.passes[0].seconds,
            "warm_s": _median([p.seconds for p in warm]),
            "job_p50_s": _median(warm_lat),
            "jobs_per_min": 60.0 * len(warm_lat) / warm_s if warm_s else 0.0,
        }


class QueryWorkload(Workload):
    """Registry queries against one generated fixture directory."""

    tables: tuple[str, ...] = ()

    def __init__(self, bench):
        super().__init__(bench)
        self.data_dir = bench.tmp("data")
        self.outputs: list[tuple[str, tuple]] = []  # (op, rows or their hash)

    def run_pass(self, p: Pass) -> None:
        from fossa_spark.queries import all_queries

        spark, tr = self.b.spark, self.b.tracer
        sc = spark.sparkContext
        registry = all_queries()
        order = list(self.ops)
        self.rng.shuffle(order)
        build_group, action_group = f"{self.name}-p{p.index}-build", f"{self.name}-p{p.index}"
        p.groups, p.eager_groups = [build_group, action_group], [build_group]
        for op in order:
            w0, t0 = time.time(), time.perf_counter()
            try:
                with tr.span("query", op=op):
                    pass_span, tr.fallback_parent = tr.fallback_parent, tr.current()
                    sc.setJobGroup(build_group, op)
                    with tr.span("queries.build"):
                        df = registry[op](spark, self.data_dir)
                    tb = time.perf_counter()
                    sc.setJobGroup(action_group, op)
                    with tr.span("spark.collect"):
                        rows = df.collect()
                t1, w1 = time.perf_counter(), time.time()
                cols = df.columns
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                p.failed.append(f"{op}: {type(e).__name__}: {str(e)[:200]}")
                continue
            finally:
                tr.fallback_parent = pass_span
                sc.setJobGroup("", "")
                self.b.reset_session_state()
            p.latencies.append(t1 - t0)
            p.names.append(op)
            p.build_s += tb - t0
            p.windows.append((w0, w1))
            self.outputs.append((op, (cols, rows) if op in NO_ORACLE
                                 else check.table_hash(cols, rows)))
            del df, rows

    def check_outputs(self) -> list[str]:
        """One message per op output that is wrong."""
        from fossa_spark.queries import all_oracles

        oracles = all_oracles()
        book = check.OracleBook(self.data_dir, self.tables)
        problems = []
        try:
            for op, payload in self.outputs:
                if op in NO_ORACLE:
                    bad = check.near_dup_problems(
                        payload[1], payload[0], os.path.join(self.data_dir, "documents.parquet"))
                else:
                    want = book.expected(op, oracles[op])
                    bad = [] if payload == want else [
                        f"got {payload[:2]} {payload[2][:12]}, oracle {want[:2]} {want[2][:12]}"]
                if bad:
                    problems.append(f"{op}: {'; '.join(bad)}")
        finally:
            book.close()
        return problems


class Tpch(QueryWorkload):
    name = "tpch"
    ops = TPCH_OPS
    tables = fixtures.TPCH_TABLES

    def make_inputs(self) -> None:
        fixtures.write_tpch(self.data_dir, self.b.sf, self.b.seed)


class LlmCuration(QueryWorkload):
    name = "llm_curation"
    ops = LLM_OPS
    tables = fixtures.LLM_TABLES

    def make_inputs(self) -> None:
        fixtures.write_llm(self.data_dir, self.b.sf, self.b.seed)


class EngineEtl(Workload):
    name = "engine_etl"

    def __init__(self, bench):
        super().__init__(bench)
        self.shard_dirs: list[str] = []
        self.shard_rows: list[int] = []
        self.out_root = bench.tmp("engine_out")
        self.jobs: list[dict] = []
        self.api = self.engine = None
        self.url = ""

    def make_inputs(self) -> None:
        """Documents split into shards by a seeded hash of ``doc_id``.

        Each job dedups its shard alone, so a near-duplicate is sharded by
        the id of the document it copies (as a crawl sharded by host keeps
        a site's copies together); otherwise per-shard dedup could not see
        most duplicate pairs."""
        rng = np.random.default_rng([self.b.seed, 3])
        n_docs = ENGINE_DOCS
        texts, planted = fixtures.document_texts(rng, n_docs)
        langs = fixtures.languages(rng, n_docs)
        key = np.arange(n_docs, dtype=np.uint64)
        for src, copy in planted:  # copies come in increasing id order
            key[copy] = key[src]
        h = (key + np.uint64(self.b.seed)) * np.uint64(0x9E3779B97F4A7C15)
        shard = ((h ^ (h >> np.uint64(31))) % np.uint64(N_SHARDS)).astype(np.int64)
        for s in range(N_SHARDS):
            d = self.b.tmp(f"shard{s}")
            sel = np.flatnonzero(shard == s)
            fixtures.write_documents(os.path.join(d, "documents.parquet"), sel,
                                     [texts[i] for i in sel], langs.take(sel))
            self.shard_dirs.append(d)
            self.shard_rows.append(len(sel))

    def start_node(self, spark) -> None:
        from fossa_spark.api import StatusApi
        from fossa_spark.engine import Engine
        from fossa_spark.pipelines import TrainingDataPipeline

        self.engine = Engine(spark, max_concurrent_tasks=N_CLIENTS)
        self.engine.register_model(TrainingDataPipeline)
        self.api = StatusApi(self.engine).start()
        self.url = f"http://127.0.0.1:{self.api.port}/api/0.01"

    def stop_node(self) -> None:
        if self.api is not None:
            self.api.stop()
        if self.engine is not None:
            self.engine.shutdown(wait=True)

    def run_pass(self, p: Pass) -> None:
        order = list(range(N_SHARDS))
        self.rng.shuffle(order)
        work: queue.Queue = queue.Queue()
        for s in order:
            work.put(s)
        done: list[dict] = []
        lock = threading.Lock()

        def client() -> None:
            while True:
                try:
                    s = work.get_nowait()
                except queue.Empty:
                    return
                try:
                    job = self._one_job(p, s)
                except Exception as e:  # noqa: BLE001 - a failed job is counted
                    job = {"task_id": f"p{p.index}-s{s}", "shard": s, "pass": p.index,
                           "status": "failed", "error": f"{type(e).__name__}: {e}"}
                with lock:
                    done.append(job)

        threads = [threading.Thread(target=client) for _ in range(N_CLIENTS)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        p.wall_s = time.perf_counter() - t0
        for job in done:
            p.groups.append(job["task_id"])
            if job["status"] == "complete":
                p.latencies.append(job["latency_s"])
                p.names.append(f"shard{job['shard']}")
                p.windows.append((job["wall_start"], job["wall_end"]))
            else:
                p.failed.append(f"{job['task_id']}: {job['error']}")
        self.jobs += done

    def _one_job(self, p: Pass, shard: int) -> dict:
        task_id = f"p{p.index}-s{shard}"
        out = os.path.join(self.out_root, task_id)
        body = json.dumps({
            "model_class": "TrainingDataPipeline",
            "resolver_context": {"data": self.shard_dirs[shard], "out": out},
            "task_id": task_id,
        }).encode()
        tr = self.b.tracer
        job = {"task_id": task_id, "shard": shard, "out": out, "pass": p.index,
               "rejected": 0, "wall_start": time.time()}
        t0 = time.perf_counter()
        with tr.span("job", shard=shard, task_id=task_id):
            sid = tr.current()
            if sid is not None:
                self.job_spans[task_id] = sid
            with tr.span("api.post"):
                while True:
                    req = urllib.request.Request(f"{self.url}/task", data=body, method="POST",
                                                 headers={"Content-Type": "application/json"})
                    try:
                        with urllib.request.urlopen(req, timeout=60) as r:
                            json.load(r)
                        break
                    except urllib.error.HTTPError as e:
                        if e.code != 503:
                            raise
                        job["rejected"] += 1
                        time.sleep(0.05)
            job["submit_s"] = time.perf_counter() - t0
            with tr.span("api.poll"):
                while True:
                    with urllib.request.urlopen(f"{self.url}/task/{task_id}", timeout=60) as r:
                        doc = json.load(r)
                    if doc["status"] in ("complete", "failed"):
                        break
                    time.sleep(0.02)
        job["latency_s"] = time.perf_counter() - t0
        job["wall_end"] = time.time()
        job["status"] = doc["status"]
        job["error"] = doc.get("error")
        job["results"] = doc.get("results") or {}
        job["engine_run_s"] = (doc["finished"] or doc["started"]) - doc["started"]
        return job

    def check_outputs(self) -> list[str]:
        problems = []
        for job in self.jobs:
            res = job["results"]
            if job["status"] != "complete":
                continue  # already counted as failed
            want_in = self.shard_rows[job["shard"]]
            written = check.written_rows(job["out"])
            if res.get("docs_in") != want_in or res.get("docs_out") != written:
                problems.append(f"{job['task_id']}: docs_in {res.get('docs_in')} (shard "
                                f"{want_in}), docs_out {res.get('docs_out')} (written {written})")
        return problems

    def pass_layers(self, p: Pass) -> dict[str, float]:
        ok = [j for j in self.jobs if j["pass"] == p.index and j["status"] == "complete"]
        files = size = 0
        for j in ok:
            f, s = layers.dir_bytes(j["out"])
            files, size = files + f, size + s
        return {
            "api.submit_s": _median([j["submit_s"] for j in ok]),
            "api.rejected": sum(j["rejected"] for j in ok),
            "engine.run_s": _median([j["engine_run_s"] for j in ok]),
            "api.overhead_s": _median([j["latency_s"] - j["engine_run_s"] for j in ok]),
            "connect.files_written": files,
            "connect.write_mb": size / layers.MB,
            "pipelines.docs_in": sum(j["results"].get("docs_in", 0) for j in ok),
            "pipelines.docs_out": sum(j["results"].get("docs_out", 0) for j in ok),
        }


WORKLOADS = {w.name: w for w in (Tpch, LlmCuration, EngineEtl)}
