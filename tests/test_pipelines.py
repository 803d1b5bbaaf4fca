"""End-to-end pipeline test: the full filter→dedup→annotate→write flow
run as an Engine job over the fixture corpus, with invariants on the output."""

from __future__ import annotations

import pytest

from fossa_spark.connect import connector_resolver
from fossa_spark.engine import Engine, Job, JobStatus
from fossa_spark.pipelines import TrainingDataPipeline
from tests.conftest import SF_DIR


def test_pipeline_end_to_end(spark, tmp_path):
    eng = Engine(spark, max_concurrent_tasks=2)
    eng.register_model(TrainingDataPipeline)
    tid = eng.submit(
        Job(
            model_class="TrainingDataPipeline",
            resolver_context={"data": SF_DIR, "out": str(tmp_path)},
        )
    )
    res = eng.wait(tid)
    assert res.status is JobStatus.COMPLETE, res.error
    stats = res.value
    assert stats["docs_in"] > 0
    assert 0 < stats["docs_out"] <= stats["docs_in"]
    assert stats["dropped"] > 0  # gates + near-dedup must drop something

    out = spark.read.parquet(f"{tmp_path}/clean_docs")
    rows = out.count()
    assert rows == stats["docs_out"]
    # dedup invariants: no duplicate ids, no duplicate fingerprints kept
    assert out.select("doc_id").distinct().count() == rows
    # annotations present and sane
    sample = out.limit(50).collect()
    assert all(r.n_tokens > 0 and r.n_chars >= 100 and len(r.fingerprint) == 32
               for r in sample)
    # partitioned layout by lang
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs and langs <= {"en", "de", "fr", "es", "zh"}
    eng.shutdown(wait=False)


def test_pipeline_transform_drops_near_dups(spark):
    """The ~25 planted near-dup pairs must be collapsed: of each verified
    pair, only the smaller doc_id survives."""
    from fossa_spark.llm.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = TrainingDataPipeline(spark=spark, min_chars=0, max_punct_ratio=1.0)
    with connector_resolver.context(data=SF_DIR, out="/tmp/unused"):
        cleaned = p.transform(docs)
        kept = {r.doc_id for r in cleaned.select("doc_id").collect()}
        pairs = minhash_lsh_dedup(docs, threshold=0.5).collect()
    assert pairs, "fixture should contain near-duplicates"
    for r in pairs:
        assert not (r.id_a in kept and r.id_b in kept), (
            f"near-dup pair ({r.id_a},{r.id_b}) both kept"
        )


def test_pipeline_build_without_near_duplicates(spark, tmp_path):
    """A corpus with no near-duplicate pairs: the near-dedup jobs find no
    candidates, and build() must still report docs_in/docs_out from its
    single write pass (it used to raise from Observation.get)."""
    from pyspark.sql import functions as F

    from fossa_spark.llm.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    paired = {i for r in minhash_lsh_dedup(docs, threshold=0.5).collect()
              for i in (r.id_a, r.id_b)}
    ids = [r.doc_id for r in docs.select("doc_id").orderBy("doc_id").collect()
           if r.doc_id not in paired][:70]
    docs.filter(F.col("doc_id").isin(ids)).write.parquet(
        str(tmp_path / "in" / "documents.parquet")
    )
    p = TrainingDataPipeline(spark=spark)
    with connector_resolver.context(data=str(tmp_path / "in"),
                                    out=str(tmp_path / "out")):
        stats = p.build()
    assert stats["docs_in"] == 70
    assert 0 < stats["docs_out"] <= 70
    out = spark.read.parquet(f"{tmp_path}/out/clean_docs")
    assert out.count() == stats["docs_out"]
