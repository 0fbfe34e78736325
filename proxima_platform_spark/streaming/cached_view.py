"""CachedView: locally-maintained snapshot of a state-commit-log.

The analog of direct/core/.../view/CachedView.java:56-101 and its MVCC
implementation LocalCachedPartitionedView.java:59 / TimeBoundedVersionedCache:
a continuously-updated (key, attribute) → latest-element table fed by the
changelog, supporting point reads at a timestamp (time travel).

Spark design — *incremental*, LSM-style:

  * every micro-batch appends one delta file set (``delta/d{v}``) — per-batch
    write volume is O(batch), never O(total state);
  * reads union the compacted base with the live deltas; snapshot semantics
    (max (stamp, seq_id) per (entity, key, attribute), tombstone resolution)
    come from :func:`proxima_platform_spark.changelog.snapshot`, so a delta
    row shadows the base row at read time without rewriting it;
  * every ``compact_every`` batches the base+deltas fold into a new base
    generation (``base/g{v}``), pruning history beyond ``ttl_ms`` while
    always keeping the newest element per (entity, key, attribute) —
    TimeBoundedVersionedCache's retention rule. Compaction cost is
    O(state) but amortized 1/compact_every, the standard LSM trade.

Time travel: the retained history *is* the version store — ``snapshot(at=T)``
compacts only elements with stamp ≤ T, so any T within the TTL window reads
consistently (reference get():268-286). No per-version directory copies. On a
lakehouse deployment base+delta+manifest maps 1:1 onto a Delta/Iceberg table
(MERGE + time travel); this layout is the dependency-free equivalent.

Storage, replay guard and compaction are :class:`GenerationStore`'s; the
view supplies the TTL-pruning merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from proxima_platform_spark.changelog import snapshot as snapshot_read
from proxima_platform_spark.streaming.store import GenerationStore


class CachedView(GenerationStore):
    """Incrementally-maintained materialization of a changelog.

    ``ttl_ms`` mirrors TimeBoundedVersionedCache: the newest element per
    (entity, key, attribute) is always retained; older versions are retained
    while within ``ttl_ms`` of the table's high-watermark, enabling
    time-travel reads inside that window. ``compact_every`` bounds the number
    of live delta file sets a read must union.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        compact_every: int = 8,
        ttl_ms: int = 3_600_000,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.ttl_ms = ttl_ms

    def current_version(self) -> int | None:
        v = self._manifest()["version"]
        return v if v > 0 else None

    def current(self) -> DataFrame | None:
        return self._union(self._gens(self._manifest()))

    def _merged(self, gens: list[str]) -> DataFrame:
        """Fold generations, pruning history beyond the TTL (keeping the
        newest element per (entity, key, attribute) unconditionally —
        TimeBoundedVersionedCache semantics)."""
        from pyspark.sql import Window

        merged = self._union(gens)
        w = Window.partitionBy("entity", "key", "attribute").orderBy(
            F.col("stamp").desc(), F.col("seq_id").desc_nulls_last()
        )
        hwm_us = merged.agg(F.max(F.unix_micros("stamp"))).first()[0]
        cutoff_us = (hwm_us or 0) - self.ttl_ms * 1000
        return (
            merged.withColumn("__rank", F.row_number().over(w))
            .where(
                (F.col("__rank") == 1)
                | (F.unix_micros("stamp") >= F.lit(cutoff_us))
            )
            .drop("__rank")
        )

    # -- reads (CachedView.get / time travel) -------------------------------

    def snapshot(self, at=None) -> DataFrame:
        """Live snapshot (tombstones resolved), optionally time-traveled to
        ``at`` — the retained history keeps tombstones, so historical reads
        within the TTL window resolve correctly."""
        cur = self.current()
        if cur is None:
            raise LookupError("cached view is empty")
        return snapshot_read(cur, at=at)

    def get(self, key: str, attribute: str, stamp=None):
        """Point read, newest element ≤ stamp (CachedView.java:56-101)."""
        snap = self.snapshot(at=F.lit(stamp) if stamp is not None else None)
        rows = snap.where(
            (F.col("key") == key) & (F.col("attribute") == attribute)
        ).collect()
        return rows[0] if rows else None

    def scan_wildcard(self, key: str, prefix: str, stamp=None) -> list:
        snap = self.snapshot(at=F.lit(stamp) if stamp is not None else None)
        return (
            snap.where((F.col("key") == key) & F.col("attribute").startswith(prefix))
            .orderBy("attribute")
            .collect()
        )

    def enrich(
        self,
        batch: DataFrame,
        *,
        attribute: str,
        on: str = "key",
        value_alias: str | None = None,
        how: str = "left",
    ) -> DataFrame:
        """Join a (micro-)batch against this view's *current* value of
        ``attribute`` per key — the reference's read-cached-view-during-
        stream-processing pattern (LocalCachedPartitionedView used inside
        transforms). Call from ``foreachBatch`` so each micro-batch sees the
        view as of that batch (stream-static joins would pin the plan to one
        snapshot). The view side is a compacted per-key table — typically
        dimension-sized, so AQE broadcasts it under the batch side."""
        alias = value_alias or attribute
        side = (
            self.snapshot()
            .where(F.col("attribute") == attribute)
            .select(F.col("key").alias(on), F.col("value").alias(alias))
        )
        return batch.join(side, on=on, how=how)
