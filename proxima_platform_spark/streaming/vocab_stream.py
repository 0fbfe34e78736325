"""Streaming vocabulary-growth maintainer — the online twin of
``functions/text.vocab_growth`` (Heaps-law curve).

A live ingestion pipeline wants "is this source still adding
vocabulary" as a MONITOR, not a batch job: each micro-batch of
documents folds into two sufficient-statistic frames and the current
curve is exactly the batch ``vocab_growth`` over everything ingested.

State is NOT token occurrences (unbounded) but the two frames the
curve actually needs:

* per-doc ``(doc_id, bucket, n_tokens)`` — one row per document
  (whole-row dedup makes re-delivery a no-op);
* per-token ``(token, first_bucket)`` — min-merged across generations
  (min is associative/commutative/idempotent, the HLL-register law),
  bounded by VOCABULARY, which Heaps' law itself says grows
  sublinearly.

Storage is a ``GenerationStore`` with one ``docs``/``toks`` frame pair
per generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousVocabGrowth(GenerationStore):
    """Continuously-maintained Heaps-law vocabulary-growth curve.

    ``update(batch)`` folds a micro-batch of ``(id_col, text_col)``
    documents; ``curve()`` returns (checkpoint, cum_docs, cum_tokens,
    cum_types) — row-for-row equal to batch ``vocab_growth`` over the
    union of everything ingested, across any batch split (pinned in
    tests). Documents are identified by ``id_col``: re-delivering a doc
    is a no-op; delivering a DIFFERENT text under an existing id is a
    contract violation (id collisions would double-count the per-doc
    frame).
    """

    _parts = ("docs", "toks")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        every: int = 100,
        compact_every: int = 4,
    ) -> None:
        if every < 1:
            raise ValueError(f"every must be >= 1, got {every}")
        super().__init__(spark, path, compact_every=compact_every)
        self.id_col = id_col
        self.text_col = text_col
        self.every = every

    def _merged(self, gens: list[str]) -> tuple[DataFrame, DataFrame]:
        docs = self._union(gens, "docs").dropDuplicates(["doc_id"])
        toks = self._union(gens, "toks").groupBy("w").agg(
            F.min("fb").alias("fb")
        )
        return docs, toks

    def _delta(self, batch, batch_id, m) -> tuple[DataFrame, DataFrame]:
        from proxima_platform_spark.functions.dedup import tokens

        # id_col must be integral: a non-numeric id would cast to NULL and
        # dropDuplicates(['doc_id']) would then collapse every such doc
        # into one row — raise per-row instead (fail-loud convention,
        # r09 ADVICE; same guard as batch vocab_growth).
        raw_id = F.col(self.id_col).try_cast("long")
        checked_id = F.when(
            raw_id.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"ContinuousVocabGrowth: {self.id_col} must cast"
                        " to long, got "
                    ),
                    F.coalesce(
                        F.col(self.id_col).cast("string"), F.lit("NULL")
                    ),
                )
            ),
        ).otherwise(raw_id)
        base = batch.select(
            checked_id.alias("doc_id"),
            tokens(F.col(self.text_col)).alias("__t"),
        ).localCheckpoint(eager=False)
        per_doc = base.select(
            "doc_id",
            (F.col("doc_id") - (F.col("doc_id") % self.every)).alias("b"),
            F.size("__t").alias("n_toks"),
        ).dropDuplicates(["doc_id"])
        first = (
            base.select(
                (F.col("doc_id") - (F.col("doc_id") % self.every)).alias(
                    "b"
                ),
                F.explode("__t").alias("w"),
            )
            .groupBy("w")
            .agg(F.min("b").alias("fb"))
        )
        return per_doc, first

    def curve(self) -> DataFrame | None:
        """The current growth curve — exactly batch ``vocab_growth``
        over the union of everything ingested."""
        from pyspark.sql import Window

        merged = self._state()
        if merged is None:
            return None
        docs, toks = merged
        per_bucket = docs.groupBy("b").agg(
            F.count(F.lit(1)).alias("__docs"),
            F.sum("n_toks").alias("__toks"),
        )
        new_types = toks.groupBy(F.col("fb").alias("b")).agg(
            F.count(F.lit(1)).alias("__new")
        )
        w = Window.orderBy("b").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            per_bucket.join(new_types, "b", "left")
            .select(
                (F.col("b") + self.every).alias("checkpoint"),
                F.col("b"),
                "__docs",
                "__toks",
                F.coalesce("__new", F.lit(0)).alias("__new"),
            )
            .select(
                "checkpoint",
                F.sum("__docs").over(w).alias("cum_docs"),
                F.sum("__toks").over(w).alias("cum_tokens"),
                F.sum("__new").over(w).alias("cum_types"),
            )
        )
