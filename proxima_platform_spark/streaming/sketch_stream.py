"""Continuously-maintained frequency sketch: Count-Min + candidate set
folded per micro-batch — streaming heavy hitters with the classic
superset guarantee.

Why the batch two-phase (`functions/sketch.cms_frequent_items`) can't run
online unchanged: its exact confirm re-scans all rows, and a stream can't
revisit history. The streaming maintainer keeps instead

* the merged CMS counter frame (a ``GenerationStore``; state is
  O(width·depth) CELLS regardless of key cardinality), and
* a CANDIDATE key table: every batch, the batch's distinct keys are probed
  against the merged sketch and the ones whose estimate clears the
  threshold are appended. A key's count only grows in batches where it
  appears, and CMS never undercounts — so the batch in which a key's true
  running count crosses T is a batch that contains it, and the probe in
  that batch catches it. Hence candidates ⊇ every key truly frequent so
  far (no false negatives, ever); impostors are bounded by the standard
  CMS collision mass εN and can be confirmed exactly offline.

This is the reference's StorageFilter idea run forward continuously:
cheap online pruning with a hard no-miss guarantee, exactness restored by
a bounded offline confirm. State and I/O per batch: the batch's cell
partials (≤ w·d rows) + its crossing keys — never the raw history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from proxima_platform_spark.functions.sketch import _cms_cells
from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousHeavyHitters(GenerationStore):
    """``update(batch)`` is usable directly as a ``foreachBatch``
    callback; ``hitters()`` returns the current candidate keys with their
    sketch estimates (a superset of the truly-frequent keys)."""

    _side = ("cands",)

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        key_cols: list[str],
        threshold: int,
        width: int = 2048,
        depth: int = 4,
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every, cands=[])
        self.key_cols = list(key_cols)
        self.threshold = threshold
        self.width = width
        self.depth = depth

    # -- sketch frames -------------------------------------------------------

    def _batch_cells(self, batch: DataFrame) -> DataFrame:
        key = [F.col(c) for c in self.key_cols]
        cells = _cms_cells(key, self.width, self.depth)
        return (
            batch.select(F.explode(F.array(*cells)).alias("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def _merged(self, gens: list[str]) -> DataFrame:
        return self._union(gens).groupBy("cell").agg(F.sum("n").alias("n"))

    _merged_cells = _merged

    def _estimate(self, keys: DataFrame, cells: DataFrame) -> DataFrame:
        key = [F.col(c) for c in self.key_cols]
        cell_exprs = _cms_cells(key, self.width, self.depth)
        one_row = cells.agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(F.struct(F.col("cell").cast("int"), "n"))
                )
            ).alias("cells")
        )
        lookups = [
            F.coalesce(
                F.element_at(F.col("__cms.cells"), c.cast("int")),
                F.lit(0).cast("long"),
            )
            for c in cell_exprs
        ]
        est = lookups[0] if self.depth == 1 else F.least(*lookups)
        return (
            keys.crossJoin(
                F.broadcast(one_row.select(F.struct("cells").alias("__cms")))
            )
            .withColumn("freq_est", est)
            .drop("__cms")
        )

    # -- maintenance ---------------------------------------------------------

    def update(self, batch: DataFrame, batch_id: int | None = None) -> None:
        # the store's replay guard matters here: a replayed batch would
        # double-count every key — the superset guarantee survives
        # (counters only grow) but freq_est would exceed the documented
        # εN collision bound
        m = self._begin(batch_id)
        if m is None:
            return
        self._append(m, self._batch_cells(batch))
        # probe THIS batch's keys against the merged-so-far sketch; the
        # crossing batch always contains the key, so no hitter is missed
        crossers = (
            self._estimate(
                batch.select(*self.key_cols).distinct(),
                self._merged(self._gens(m)),
            )
            .where(F.col("freq_est") >= self.threshold)
            .select(*self.key_cols)
        )
        cand = f"cand/c{m['version']}"
        self._write(cand, crossers)
        m["cands"] = m["cands"] + [cand]
        self._commit(m)

    def _fold_side(self, m: dict) -> dict:
        # the candidate fold rides on the counter compaction's commit
        cand = f"cand/g{m['version']}"
        self._write(cand, self._union(m["cands"]).distinct())
        return {"cands": [cand]}

    # -- reads ---------------------------------------------------------------

    def hitters(self) -> DataFrame:
        """Candidate keys with estimate ≥ threshold NOW — a superset of
        every key whose true running count is ≥ threshold. Exactness, if
        needed, is one bounded confirm join over the candidates offline."""
        m = self._manifest()
        if not m["cands"]:
            raise LookupError("continuous heavy hitters is empty")
        cands = self._union(m["cands"]).distinct()
        return self._estimate(cands, self._state(m)).where(
            F.col("freq_est") >= self.threshold
        )


class ContinuousDistinct(GenerationStore):
    """Continuously-maintained HyperLogLog distinct count.

    ``update(batch)`` folds each micro-batch's register frame into the
    running sketch (``foreachBatch``-compatible); ``estimate()`` returns
    the current distinct-count estimate, ``registers()`` the merged
    register frame. Register merge is MAX — associative, commutative and
    idempotent — so compaction order, replay of a crashed compaction, and
    overlap across deltas are all harmless by algebra; the only replay
    hazard left is appending the same batch twice, closed by the same
    max-committed-batch_id guard as :class:`ContinuousHeavyHitters`.

    State is O(m) register CELLS per generation regardless of key
    cardinality (m = 2^b, default 256) — the sketch the reference-style
    continuous rollup wants for COUNT DISTINCT, where the exact answer
    would require unbounded key state.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        key_cols: list[str],
        b: int = 8,
        salt: str = "hll-v1",
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.key_cols = list(key_cols)
        self.b = b
        self.salt = salt

    def _delta(self, batch, batch_id, m) -> DataFrame:
        from proxima_platform_spark.functions.sketch import hll_build

        return hll_build(batch, self.key_cols, b=self.b, salt=self.salt)

    def _merged(self, gens: list[str]) -> DataFrame:
        return self._union(gens).groupBy("bucket").agg(
            F.max("rho").alias("rho")
        )

    def registers(self) -> DataFrame | None:
        return self._state()

    def estimate(self) -> DataFrame | None:
        from proxima_platform_spark.functions.sketch import hll_estimate

        regs = self.registers()
        return None if regs is None else hll_estimate(regs, b=self.b)


class ContinuousQuantileSketch(GenerationStore):
    """Continuously-maintained bottom-k quantile sketch
    (``functions/sketch.quantile_sketch_*`` run online).

    ``update(batch)`` folds each micro-batch's per-group bottom-k frame
    into the running sketch (``foreachBatch``-compatible);
    ``quantiles(qs)`` returns the current type-1 sample-quantile
    estimates, ``sketch()`` the merged ``(group..., h, v)`` frame.

    The merge is bottom-k of the deduplicated union — associative,
    commutative and idempotent (tags are a deterministic md5 over row
    identity, so re-delivered ROWS collapse in the dedup and replayed
    batch_ids are closed by the same max-committed guard as the other
    maintainers). By the exact merge law the maintained sketch equals the
    batch build over the union of everything ingested — not just
    approximately: the streaming and batch estimates are the SAME rows.

    State is ≤ k rows per group per generation regardless of input
    volume; compaction folds generations back to one bottom-k frame.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        value_col: str,
        tag_cols: list[str],
        group_cols: list[str] | None = None,
        k: int = 256,
        salt: str = "qsk-v1",
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.value_col = value_col
        self.tag_cols = list(tag_cols)
        self.group_cols = list(group_cols or [])
        self.k = k
        self.salt = salt

    def _bottom_k(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy(
            *[F.col(g) for g in self.group_cols]
        ).orderBy("h", "v")
        return (
            df.dropDuplicates(df.columns)
            .withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= self.k)
            .drop("__r")
        )

    def _merged(self, gens: list[str]) -> DataFrame:
        return self._bottom_k(self._union(gens))

    def _delta(self, batch, batch_id, m) -> DataFrame:
        from proxima_platform_spark.functions.sketch import (
            quantile_sketch_build,
        )

        return quantile_sketch_build(
            batch,
            self.value_col,
            self.tag_cols,
            group_cols=self.group_cols,
            k=self.k,
            salt=self.salt,
        )

    def sketch(self) -> DataFrame | None:
        return self._state()

    def quantiles(self, qs: list[float]) -> DataFrame | None:
        from proxima_platform_spark.functions.sketch import (
            quantile_sketch_estimate,
        )

        sk = self.sketch()
        return None if sk is None else quantile_sketch_estimate(sk, qs)
