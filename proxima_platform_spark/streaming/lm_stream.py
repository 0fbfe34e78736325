"""Streaming Kneser-Ney LM maintainer — the online twin of
``functions/ranking.kneser_ney5_scores``.

A live intake pipeline wants its LM fluency gate (the CCNet-style
perplexity filter) to TRACK the corpus as it grows, not be retrained from
scratch: the 5-gram model's entire state is ONE additive frame — raw
5-gram counts. Every derived table of the KN recursion (continuation
counts at orders 4..1, context totals, count-of-counts discounts) is a
pure function of the 5-gram count table's TYPE SET, so merging per-batch
count deltas by summation reproduces the batch model exactly.

``update(batch)`` folds a micro-batch with one 5-gram count aggregation;
``score(docs)`` runs the full interpolated/modified KN recursion from the
merged counts — row-for-row equal to batch ``kneser_ney5_scores`` over
the union of everything ingested (the scoring code is shared). State is
bounded by 5-gram TYPES of the ingested corpus.

Storage is a ``GenerationStore`` (same-batch-id replay = no-op).
Re-delivering documents under a NEW batch id is a contract violation
(counts are additive), the same at-least-once boundary as every
count-based maintainer here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousKneserNey(GenerationStore):
    """Continuously-maintained 5-gram Kneser-Ney corpus model."""

    _parts = ("c5",)

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.id_col = id_col
        self.text_col = text_col

    def _merged(self, gens: list[str]) -> DataFrame:
        return (
            self._union(gens, "c5")
            .groupBy("w1", "w2", "w3", "w4", "w5")
            .agg(F.sum("c5").alias("c5"))
        )

    @staticmethod
    def _grams(batch: DataFrame, id_col: str, text_col: str) -> DataFrame:
        from proxima_platform_spark.functions.dedup import (
            gram_structs_from_tokens,
            tokens,
        )

        W = [f"w{i}" for i in range(1, 6)]
        toks = batch.select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__t")
        ).where(F.size("__t") >= 5)
        return toks.select(
            "id",
            F.explode(gram_structs_from_tokens(F.col("__t"), W)).alias("g"),
        ).select("id", *[f"g.{w}" for w in W])

    def _delta(self, batch, batch_id, m) -> DataFrame:
        return (
            self._grams(batch, self.id_col, self.text_col)
            .groupBy("w1", "w2", "w3", "w4", "w5")
            .agg(F.count(F.lit(1)).alias("c5"))
        )

    # -- reads ----------------------------------------------------------------

    def counts(self) -> DataFrame | None:
        """The merged 5-gram count table (the model's one sufficient
        statistic)."""
        return self._state()

    def score(
        self, docs: DataFrame, *, discount: float = 0.75,
        modified: bool = False,
    ) -> DataFrame | None:
        """Score ``docs`` against the maintained corpus model — exactly
        batch ``kneser_ney5_scores`` would score them with the union of
        every ingested batch AS the corpus (self-scoring contract: only
        5-grams observed in the maintained corpus are scored)."""
        from proxima_platform_spark.functions.ranking import (
            kn5_scores_from_counts,
        )

        c5 = self.counts()
        if c5 is None:
            return None
        grams = self._grams(docs, self.id_col, self.text_col)
        return kn5_scores_from_counts(
            c5, grams, id_col="id", discount=discount, modified=modified,
        ).withColumnRenamed("id", self.id_col)
