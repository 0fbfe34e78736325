"""Streaming Naive Bayes maintainer — the online twin of
``functions/classify.naive_bayes_classify``.

A live intake pipeline wants its lang-ID / quality gate RETRAINED as
labeled data arrives, not rebuilt from scratch: multinomial NB's entire
model is two ADDITIVE sufficient-statistic frames —

* ``cwc``  (class, token, count)  — token counts, summed across batches;
* ``cdocs`` (class, doc count)    — priors, summed across batches —

so each micro-batch folds in with one aggregation each, and classification
from the merged frames is EXACTLY batch ``naive_bayes_classify`` over the
union of everything ingested (the scoring code is literally shared:
``nb_classify_from_counts``). State is bounded by |classes| x |vocab|,
never by corpus size.

Storage is a ``GenerationStore`` (replaying a batch id is a no-op).
Re-delivering the same documents under a NEW batch id is a contract
violation (counts are additive, not idempotent) — the same at-least-once
boundary every count-based maintainer in the family draws.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proxima_platform_spark.functions.classify import (
    nb_classify_from_counts,
    nb_counts,
)
from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousNaiveBayes(GenerationStore):
    """Continuously-maintained multinomial Naive Bayes model.

    ``update(batch)`` folds a micro-batch of labeled documents;
    ``classify(test)`` scores from the merged statistics — row-for-row
    equal to the batch classifier trained on the union (pinned in tests
    across batch splits and replay).
    """

    _parts = ("cwc", "cdocs")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        label_col: str = "lang",
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.id_col = id_col
        self.text_col = text_col
        self.label_col = label_col

    def _merged(self, gens: list[str]) -> tuple[DataFrame, DataFrame]:
        cwc = self._union(gens, "cwc").groupBy("c", "w").agg(
            F.sum("cnt").alias("cnt")
        )
        cdocs = self._union(gens, "cdocs").groupBy("c").agg(
            F.sum("nc").alias("nc")
        )
        return cwc, cdocs

    def _delta(self, batch, batch_id, m) -> tuple[DataFrame, DataFrame]:
        return nb_counts(
            batch, id_col=self.id_col, text_col=self.text_col,
            label_col=self.label_col,
        )

    # -- reads ----------------------------------------------------------------

    def counts(self) -> tuple[DataFrame, DataFrame] | None:
        """The merged sufficient statistics (cwc, cdocs)."""
        return self._state()

    def classify(
        self, test: DataFrame, *, top_k_features: int | None = None
    ) -> DataFrame | None:
        """Classify from the current model — exactly the batch classifier
        trained on the union of every ingested batch.

        ``top_k_features`` prunes the MERGED model to each class's K
        most frequent tokens before scoring (ties by smallest token).
        Pruning happens here — after the merge — because pruned counts
        are not additive (top-K of a union ≠ union of top-Ks); the
        maintained state stays raw, so the pruned classification equals
        batch ``nb_counts(union, top_k_features=K)`` exactly."""
        merged = self.counts()
        if merged is None:
            return None
        cwc, cdocs = merged
        if top_k_features is not None:
            if top_k_features < 1:
                raise ValueError(
                    f"top_k_features must be >= 1, got {top_k_features}"
                )
            from pyspark.sql import Window

            w = Window.partitionBy("c").orderBy(
                F.col("cnt").desc(), F.col("w").asc()
            )
            cwc = (
                cwc.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= top_k_features)
                .drop("__rn")
            )
        return nb_classify_from_counts(
            cwc, cdocs, test, id_col=self.id_col, text_col=self.text_col,
            label_col=self.label_col,
        )
