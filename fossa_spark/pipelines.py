"""End-to-end training-data pipeline: the showcase composition a user of
the reference engine would migrate to.

One Model wires the LLM operators into the standard pretraining-data flow:

    read documents
      → quality features + filters (length / punctuation / stopword gates)
      → language ID + allowlist
      → exact dedup (normalized-hash groupBy, keep min id)
      → near-dedup (MinHash-LSH pairs → connected via min-pair keep rule)
      → token counting
      → partitioned parquet write (by predicted lang)

Every stage is a DataFrame transform — the whole pipeline is ONE lazy plan
until the write; Catalyst pipelines the narrow stages and the only
shuffles are the dedup groupBys/joins and the final write's partitioning.
At 100 TB each stage scales independently: the quality gates are
embarrassingly parallel, dedup is bounded by LSH banding, and the write
partitions by a low-cardinality key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fossa_spark.connect import Connect, AccessMode
from fossa_spark.llm import dedup as D
from fossa_spark.llm import text as X
from fossa_spark.model import Model


class TrainingDataPipeline(Model):
    """Filter → dedup → annotate → write. Construction kwargs:
    ``source_url`` / ``output_url`` (engine URLs, resolver-templated),
    plus optional gates (min_chars, max_punct_ratio, langs)."""

    def __init__(self, spark=None, source_url: str = "parquet://{data}/documents.parquet",
                 output_url: str = "parquet://{out}/clean_docs",
                 min_chars: int = 100, max_punct_ratio: float = 0.3,
                 langs: tuple[str, ...] = ("en", "de", "fr", "es", "zh"),
                 near_dedup_threshold: float = 0.5, **kw):
        super().__init__(spark=spark, **kw)
        self.source = Connect(engine_url=source_url)
        self.sink = Connect(engine_url=output_url, access=AccessMode.WRITE)
        self.min_chars = min_chars
        self.max_punct_ratio = max_punct_ratio
        self.langs = langs
        self.near_dedup_threshold = near_dedup_threshold
        self.stats: dict[str, int] = {}

    def transform(self, docs: DataFrame) -> DataFrame:
        """The full lazy plan, write excluded (unit-testable)."""
        # adaptive parallelism guard (queries._util.spread rationale):
        # quality_features' stopword HOF is interpreted per-row CPU — on
        # a few-row-group parquet scan it would run on 1-3 of 32 cores
        # (sf10 smoke caught exactly this); at corpus scale the scan has
        # ≥ cores splits and this is a no-op
        n = docs.sparkSession.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < n:
            docs = docs.repartition(n)
        feats = X.quality_features(docs)
        gated = feats.filter(
            (F.col("n_chars_m") >= self.min_chars)
            & (F.col("punct_ratio") <= self.max_punct_ratio)
        )
        scored = X.language_scores(gated)
        allowed = scored.filter(F.col("pred_lang").isin(*self.langs))

        # exact dedup: keep the minimum doc_id per normalized-text hash
        keep_exact = (
            allowed.select("doc_id", D.normalize("text").alias("_norm"))
            .groupBy("_norm").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        # `exact` feeds the near-dedup stage (shingles) AND the final
        # anti-join — persist the filtered/gated relation instead of
        # recomputing the whole upstream per consumer (at 100 TB: a
        # materialized staging table between pipeline phases)
        exact = allowed.join(keep_exact, "doc_id", "left_semi").persist(
            StorageLevel.MEMORY_AND_DISK
        )

        # near-dedup: connected components over the verified pair graph,
        # keep the minimum id of each component (handles duplicate CHAINS
        # A≈B≈C where pairwise dropping could keep both endpoints).  Its
        # eager pair jobs read `exact` through a lineage cut: a job whose
        # plan carried an observed node from build() would complete that
        # Observation, and with no candidate pairs AQE prunes the scan
        # from the final plan, completing it EMPTY.  The cut leaves the
        # write as the first action over the observed plan; it reads the
        # source count from the cached relation.
        pairs = D.minhash_lsh_dedup(
            exact.select("doc_id", "text").localCheckpoint(eager=False),
            threshold=self.near_dedup_threshold,
        )
        comps = D.connected_components(pairs)
        drop = comps.filter(F.col("doc_id") != F.col("component")).select("doc_id")
        clean = exact.join(drop, "doc_id", "left_anti")

        return clean.select(
            "doc_id",
            "text",
            "source",
            F.col("pred_lang").alias("lang"),
            F.col("n_chars_m").alias("n_chars"),
            X.token_count_ws("text").alias("n_tokens_ws"),
            X.token_count_regex("text").alias("n_tokens"),
            X.fingerprint("text").alias("fingerprint"),
        )

    def build(self) -> dict[str, int]:
        from pyspark.sql import Observation

        docs = self.source.read(self.spark)
        # Observation metrics ride the write's single pass: docs_in is
        # counted where the source flows INTO the plan and docs_out where
        # rows reach the sink — no second source scan, no output re-read
        # (three actions collapsed to one; at 100 TB the difference is a
        # full extra pass over the corpus).
        obs_in, obs_out = Observation("docs_in"), Observation("docs_out")
        out = self.transform(
            docs.observe(obs_in, F.count(F.lit(1)).alias("n"))
        ).observe(obs_out, F.count(F.lit(1)).alias("n"))
        self.sink.write(out, partition_by=["lang"])
        n_in = int(obs_in.get["n"])
        n_out = int(obs_out.get["n"])
        self.stats = {"docs_in": n_in, "docs_out": n_out,
                      "dropped": n_in - n_out}
        self.log(f"pipeline: {self.stats}")
        return self.stats
