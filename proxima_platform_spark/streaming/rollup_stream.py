"""Continuous aggregates: the hypertable rollup ladder maintained
incrementally over the commit-log stream.

The batch ladder (``operators/rollup.hypertable_rollup``) rebuilds from the
raw table; this maintainer keeps the FINEST level's partial aggregates in
a ``GenerationStore`` updated per micro-batch, and serves every coarser
level by re-aggregating the maintained finest level at read time — the
TimescaleDB continuous-aggregate contract.

Why partials compose: only algebraic aggregates ride the ladder — ``cnt``
and decimal ``total_dec`` add, ``vmin``/``vmax`` take min/max — so a
micro-batch's per-bucket partial rows merge exactly with the stored ones
in ONE second-stage aggregate, whatever the batch boundaries were. A
micro-batch costs O(|batch| aggregated to its touched buckets) write I/O,
never a rescan of history; compaction every ``compact_every`` batches
folds the delta partials so reads stay O(|buckets|).

At 100 TB of daily traffic the maintained hour level is the only state —
bounded by |keys| × |hours|, not by events — and a dashboard's day/month
reads scan that 3-orders-smaller frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousRollup(GenerationStore):
    """Incrementally-maintained rollup ladder.

    ``update(batch)`` is usable directly as a ``foreachBatch`` callback;
    ``level(level_ms)`` returns the exact aggregate frame at any resolution
    that is a multiple of ``base_level_ms``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        ts_ms_col: str,
        keys: list[str],
        value_col: str,
        base_level_ms: int,
        decimal_scale: int = 2,
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.ts_ms_col = ts_ms_col
        self.keys = list(keys)
        self.value_col = value_col
        self.base_level_ms = base_level_ms
        self.decimal_scale = decimal_scale

    # -- maintenance ---------------------------------------------------------

    def _delta(self, batch, batch_id, m) -> DataFrame:
        """The batch aggregated to per-bucket partials."""
        ts = F.col(self.ts_ms_col)
        bucket = (ts - F.pmod(ts, F.lit(self.base_level_ms))).alias("bucket_ms")
        dec = f"decimal(28,{self.decimal_scale})"
        return batch.groupBy(*self.keys, bucket).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.col(self.value_col).cast(f"decimal(18,{self.decimal_scale})")
            )
            .cast(dec)
            .alias("total_dec"),
            F.min(self.value_col).alias("vmin"),
            F.max(self.value_col).alias("vmax"),
        )

    def _merge(self, df: DataFrame, bucket="bucket_ms") -> DataFrame:
        dec = f"decimal(28,{self.decimal_scale})"
        return df.groupBy(*self.keys, bucket).agg(
            F.sum("cnt").alias("cnt"),
            F.sum("total_dec").cast(dec).alias("total_dec"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )

    def _merged(self, gens: list[str]) -> DataFrame:
        return self._merge(self._union(gens))

    # -- reads ---------------------------------------------------------------

    def level(self, level_ms: int) -> DataFrame:
        """The exact aggregate frame at ``level_ms`` resolution, computed
        from the maintained finest level (never from raw events)."""
        if level_ms % self.base_level_ms != 0:
            raise ValueError(
                f"level {level_ms} is not a multiple of the maintained "
                f"base level {self.base_level_ms}"
            )
        merged = self._state()
        if merged is None:
            raise LookupError("continuous rollup is empty")
        if level_ms == self.base_level_ms:
            return merged
        b = F.col("bucket_ms")
        return self._merge(
            merged, (b - F.pmod(b, F.lit(level_ms))).alias("bucket_ms")
        )
