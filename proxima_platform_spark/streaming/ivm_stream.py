"""Continuously-maintained snapshot aggregate: the streaming twin of
``operators/ivm.incremental_snapshot_agg``.

``ContinuousRollup`` (rollup_stream.py) maintains ADDITIVE partials over
append-only events. This maintainer closes the other half of the story:
per-group aggregates of the SNAPSHOT of an upsert/delete changelog —
where a new value for a cell must RETRACT the old one, a delete must
remove it, and a wildcard tombstone must retract a whole attribute
prefix. That is the reference's cached-view idea
(direct/core/.../view/LocalCachedPartitionedView.java — apply each
commit-log element to hot state) lifted to aggregates and run per
micro-batch.

State is a ``GenerationStore`` over the changelog snapshot cells, compacted
every ``compact_every`` batches with ``changelog.compact`` (which KEEPS
tombstones — they must survive folding so later base cells still
retract against them), plus one side generation ``agg/g{v}``: the
per-group aggregate, written next to each delta and committed by the
same manifest replace, so the aggregate and the cell state never
disagree.

Exactness: contributions accumulate as DECIMAL (see operators/ivm.py),
so after ANY batch sequence the maintained aggregate is BIT-equal to a
batch recompute over the union — pinned in tests.

Cost per batch at scale: O(|delta|) + a changed-cell semi-join against
the maintained snapshot + |groups| arithmetic; compaction is the usual
generational fold. Nothing ever rescans the event history.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from proxima_platform_spark.changelog import compact, snapshot
from proxima_platform_spark.operators.ivm import (
    cell_contributions,
    incremental_snapshot_agg,
)
from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousSnapshotAgg(GenerationStore):
    """``update(batch)`` is ``foreachBatch``-compatible (batch rows in
    canonical changelog schema); ``current()`` returns the maintained
    per-group aggregate frame ``(group..., n_cells, total)``."""

    _side = ("agg",)

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        group_cols: list[str],
        value: Column,
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every, agg=None)
        self.group_cols = list(group_cols)
        self.value = value

    def _merged(self, gens: list[str]) -> DataFrame:
        # compact() keeps delete + wildcard-tombstone winners — they must
        # survive the fold so future base cells still retract against them
        return compact(self._union(gens))

    def _delta(self, batch, batch_id, m) -> DataFrame:
        cells = self._union(self._gens(m))
        if cells is None:
            # first batch: state is empty — the aggregate IS the batch's
            # own snapshot contributions
            new_agg = cell_contributions(
                snapshot(batch), self.value, self.group_cols
            )
        else:
            base_agg = (
                self.spark.read.parquet(f"{self.path}/{m['agg']}")
                if m["agg"]
                else None
            )
            new_agg = incremental_snapshot_agg(
                snapshot(cells),
                batch,
                group_cols=self.group_cols,
                value=self.value,
                base_agg=base_agg,
            )
        # the new aggregate is a side generation: the delta's manifest
        # replace commits both, and drops the previous one
        m["agg"] = f"agg/g{m['version'] + 1}"
        self._write(m["agg"], new_agg)
        return batch

    def current(self) -> DataFrame | None:
        m = self._manifest()
        if not m["agg"]:
            return None
        return self.spark.read.parquet(f"{self.path}/{m['agg']}")
