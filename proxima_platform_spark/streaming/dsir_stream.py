"""Continuously-maintained DSIR importance scoring — the streaming twin
of ``functions/sampling.dsir_resample``'s ratio machinery.

An arriving corpus can't rebuild the raw-distribution q from scratch per
micro-batch; this maintainer keeps the hashed-bigram bucket counts in a
``GenerationStore`` (state is O(buckets) CELLS, a few hundred rows,
regardless of corpus size) and scores each batch
PREQUENTIALLY: against the ratio frame derived from the counts of every
batch BEFORE it. The target distribution p comes from a static curated
corpus whose counts are written once at init.

Replay discipline (the r06-advice ordering, same as
``semantic_dedup_stream``): score -> sink -> THEN append the batch's
delta. foreachBatch is at-least-once; the manifest's max committed
batch_id is the commit point. A crash BEFORE the delta commit replays
against unchanged counts, reproduces identical scores, and the sink's
own batch_id guard swallows the duplicate; a crash AFTER it makes the
replay a manifest-guard no-op before any scoring. Either way the first
scores the sink commits for a batch are the prequential ones.

Scale: per batch the maintainer writes <= ``buckets`` delta rows and
reads back O(generations x buckets) rows (compacted every
``compact_every`` batches); scoring is the same broadcast-ratio join as
the batch path.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from proxima_platform_spark.functions.sampling import (
    dsir_bucket_counts,
    dsir_doc_log_weights,
    dsir_ratios_from_counts,
)
from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousDsir(GenerationStore):
    """``update(batch, batch_id)`` is usable directly as a
    ``foreachBatch`` callback. ``sink(scored_df, batch_id)`` receives
    (id, n_grams, logw) for each batch — it MUST materialize the frame
    and no-op on batch_ids it has already committed."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        target: DataFrame,
        *,
        id_col: str,
        text: str,
        buckets: int = 512,
        smooth: float = 1.0,
        sink: Callable[[DataFrame, int | None], None] | None = None,
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.id_col = id_col
        self.text = text
        self.buckets = buckets
        self.smooth = smooth
        self.sink = sink
        tgt = f"{self.path}/target"
        if not os.path.exists(tgt):
            dsir_bucket_counts(
                target, text=text, buckets=buckets, name="n_tgt"
            ).write.mode("overwrite").parquet(tgt)

    # -- count frames --------------------------------------------------------

    def _merged(self, gens: list[str]) -> DataFrame:
        return self._union(gens).groupBy("b").agg(
            F.sum("n_raw").alias("n_raw")
        )

    def _raw_counts(self, m: dict) -> DataFrame:
        counts = self._state(m)
        if counts is None:
            return self.spark.createDataFrame([], "b long, n_raw long")
        return counts

    def _ratios(self, m: dict) -> DataFrame:
        ct = self.spark.read.parquet(f"{self.path}/target")
        return dsir_ratios_from_counts(
            ct, self._raw_counts(m), buckets=self.buckets, smooth=self.smooth
        )

    def ratios(self) -> DataFrame:
        """The CURRENT (b, lr) ratio frame — what the next batch will be
        scored against."""
        return self._ratios(self._manifest())

    # -- maintenance ---------------------------------------------------------

    def _delta(self, batch, batch_id, m) -> DataFrame:
        # a replay of a COMMITTED batch never gets here: the store's guard
        # no-ops it before any scoring
        scored = dsir_doc_log_weights(
            batch, self._ratios(m),
            id_col=self.id_col, text=self.text, buckets=self.buckets,
        )
        # sink BEFORE the delta commit (r06-advice ordering): a crash in
        # between replays against unchanged counts -> identical scores ->
        # the sink's batch_id guard absorbs the duplicate delivery
        if self.sink is not None:
            self.sink(scored, batch_id)
        return dsir_bucket_counts(
            batch, text=self.text, buckets=self.buckets, name="n_raw"
        )
