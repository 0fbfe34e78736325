"""Streaming retrieval-eval maintainer — the online twin of the batch
eval trio (``functions/evalmetrics``: rank_auc / precision_at_k /
ndcg_at_k), VERDICT r08 'Next round' #6.

Real pipelines monitor retrieval quality ONLINE: labeled judgments arrive
in micro-batches (human ratings, click-derived labels, freshly scored
candidates) and each batch should move the exact metrics, not an
approximation. :class:`ContinuousEvalMetrics` maintains the growing
labeled set in a ``GenerationStore`` and computes metrics over the union —
EXACTLY equal to the batch functions on everything ingested, because the
maintained state IS the deduplicated union (rank metrics have no mergeable
sketch form; the labeled set itself is the sufficient statistic, and eval
sets are top-N/judged frames by contract — thousands of rows, never the
corpus).

Reference parity: the reference serves this shape with a cached-view
over a commit-log attribute plus user-side aggregation
(direct/core/.../view/CachedView.java via tools/groovy console
streams); here the maintainer is a foreachBatch-compatible object with
exact replay idempotence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousEvalMetrics(GenerationStore):
    """Continuously-maintained exact rank metrics over a growing labeled
    set.

    ``update(batch)`` folds a micro-batch of labeled scored rows
    ``(group..., id, score, rel)`` into the running set
    (``foreachBatch``-compatible; replayed ``batch_id``s are closed by
    the max-committed guard, re-delivered ROWS collapse in the
    whole-row dedup — re-labeling an id with a DIFFERENT score/rel is a
    contract violation, not a supported update). ``auc()``,
    ``precision(ks)`` and ``ndcg(ks)`` return the current exact metrics
    — row-for-row equal to running the batch functions over the union
    of everything ingested, across any batch split (pinned in tests).

    ``rel`` doubles as the binary label for auc/precision (label =
    rel >= ``pos_threshold``), so one ingested frame serves the whole
    trio.

    State is the deduplicated labeled set. Eval sets are bounded by
    contract (judged top-N frames); the maintainer never holds more than
    the distinct labeled rows.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "id",
        score_col: str = "score",
        rel_col: str = "rel",
        group_cols: list[str] | None = None,
        pos_threshold: int = 1,
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.id_col = id_col
        self.score_col = score_col
        self.rel_col = rel_col
        self.group_cols = list(group_cols or [])
        self.pos_threshold = pos_threshold

    def _merged(self, gens: list[str]) -> DataFrame:
        df = self._union(gens)
        return df.dropDuplicates(df.columns)

    def _delta(self, batch, batch_id, m) -> DataFrame:
        cols = [
            *self.group_cols,
            self.id_col,
            self.score_col,
            self.rel_col,
        ]
        return batch.select(*cols).dropDuplicates(cols)

    # -- reads -----------------------------------------------------------
    def labeled(self) -> DataFrame | None:
        """The maintained labeled set: the deduplicated union of every
        ingested batch."""
        return self._state()

    def _with_label(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__label",
            (F.col(self.rel_col) >= self.pos_threshold).cast("int"),
        )

    def auc(self) -> DataFrame | None:
        """Exact tie-aware Mann-Whitney AUC over the maintained set
        (``functions/evalmetrics.rank_auc``); label = rel >= threshold."""
        from proxima_platform_spark.functions.evalmetrics import rank_auc

        cur = self.labeled()
        if cur is None:
            return None
        return rank_auc(
            self._with_label(cur), score=self.score_col, label="__label"
        )

    def precision(self, ks: list[int]) -> DataFrame | None:
        """Exact precision@k over the maintained set
        (``functions/evalmetrics.precision_at_k``)."""
        from proxima_platform_spark.functions.evalmetrics import (
            precision_at_k,
        )

        cur = self.labeled()
        if cur is None:
            return None
        return precision_at_k(
            self._with_label(cur),
            ks,
            id_col=self.id_col,
            score=self.score_col,
            label="__label",
        )

    def ndcg(self, ks: list[int]) -> DataFrame | None:
        """Exact graded NDCG@k over the maintained set
        (``functions/evalmetrics.ndcg_at_k``), per group when
        ``group_cols`` were declared."""
        from proxima_platform_spark.functions.evalmetrics import ndcg_at_k

        cur = self.labeled()
        if cur is None:
            return None
        return ndcg_at_k(
            cur,
            ks,
            id_col=self.id_col,
            score=self.score_col,
            rel=self.rel_col,
            group_cols=self.group_cols or None,
        )
