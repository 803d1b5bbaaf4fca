"""The stage memo (fossa_spark.sources): one build per key per process,
keys that separate derived frames, read-only serves in place, and a stage
root that cleans up after dead processes."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import threading
import time

from pyspark.sql import functions as F

from fossa_spark import sources
from fossa_spark.llm import dedup as D
from fossa_spark.llm import similarity as S
from tests.conftest import SF_DIR


def _docs_copy(spark, tmp_path):
    """The fixture documents in fresh parquet files, so no earlier test's
    memo entry matches them."""
    path = str(tmp_path / "docs")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").write.parquet(path)
    return spark.read.parquet(path)


def test_filtered_frame_gets_its_own_entry(spark, tmp_path):
    """A filter over the staged corpus's files must not be served the
    unfiltered entry (the key covers the analyzed plan, not only the
    input files)."""
    d = _docs_copy(spark, tmp_path)
    n_all = D.staged_shingle_rows(d).select("doc_id").distinct().count()
    small = D.staged_shingle_rows(d.filter(F.col("doc_id") < 10))
    assert n_all == 500
    assert small.select("doc_id").distinct().count() == 10


def test_persisted_frame_is_staged_once_then_served(spark, tmp_path):
    """``persist()`` hides a frame's input files from ``inputFiles()``;
    the parquet staging path must still key it, build once and serve the
    entry afterwards."""
    d = _docs_copy(spark, tmp_path).persist()
    try:
        calls = []

        def compute():
            calls.append(1)
            return D.shingle_hash_rows(d, "text", "doc_id", 5)

        first = D._staged_parquet(d, compute, prefix="t_persist", params=[])
        second = D._staged_parquet(d, compute, prefix="t_persist", params=[])
        assert len(calls) == 1
        files = second.inputFiles()
        assert files and all(sources._PROC_CACHE_ROOT in f for f in files)
        assert sorted(map(tuple, first.collect())) == sorted(
            map(tuple, compute().collect())
        )
    finally:
        d.unpersist()


def test_read_only_wrappers_leave_no_dirs_outside_the_stage_root(
    spark, tmp_path, monkeypatch
):
    """Read-only staged_* wrappers read the memo entry in place: no
    per-call temp dir, which nothing would remove."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    D.staged_simhash_wide(d).count()  # the stage root itself may live in tmp
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    D.staged_simhash_wide(d).count()
    D.staged_simhash_table(d).count()
    D.staged_span_anchors(d).count()
    S.staged_brute_topk(e).count()
    S.staged_srp_sigs_md5(e).count()
    cents, assign = S.staged_kmeans_index(e)
    cents.count()
    assert os.listdir(tmp) == []


def test_concurrent_callers_of_one_key_build_once(spark, tmp_path):
    """More callers than cores race for one key: the per-key lock lets
    exactly one build run, and every caller gets its entry."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = 2 * (os.cpu_count() or 4)
    calls = []
    start = threading.Barrier(n)
    out = []

    def build(into):
        calls.append(into)
        time.sleep(0.2)
        os.makedirs(into)
        open(os.path.join(into, "a.bin"), "w").close()

    def call():
        start.wait()
        out.append(sources.stage_files(d, None, cache_prefix="t_conc",
                                       params=[tmp_path.name], build=build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert out == [calls[0]] * n


def test_stage_root_under_spark_local_dir_and_dead_roots_swept(
    tmp_path, monkeypatch
):
    """The root goes under the first ``spark.local.dir`` entry; its first
    init removes roots of dead pids and keeps roots of live ones."""
    local = tmp_path / "local"
    local.mkdir()
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    dead_root = local / f"fossa_stage_cache_{dead.pid}_x"
    live_root = local / f"fossa_stage_cache_{os.getpid()}_y"
    for r in (dead_root, live_root):
        (r / "entry").mkdir(parents=True)

    class Conf:
        def get(self, key, default=None):
            assert key == "spark.local.dir"
            return f"{local},{tmp_path / 'second'}"

    class FakeSpark:
        class sparkContext:
            @staticmethod
            def getConf():
                return Conf()

    monkeypatch.setattr(sources, "_PROC_CACHE_ROOT", None)
    root = sources._default_cache_root(FakeSpark())
    assert os.path.dirname(root) == str(local)
    assert not dead_root.exists()
    assert live_root.exists()
