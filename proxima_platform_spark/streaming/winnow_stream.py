"""Continuously-maintained winnowing fingerprint index: online
copy-detection over an unbounded document stream.

A ``GenerationStore`` over the MOSS fingerprint family
(``functions/text.winnow_fingerprints``): each micro-batch's documents are
fingerprinted by the SAME expression stage the batch operator uses, probed
against the index-so-far for shared fingerprints, and appended as a delta
parquet generation.

Report semantics (the exact-twin argument): a document's fingerprint set
arrives ATOMICALLY with its batch, and the probe joins the batch against
the UNION of the index and the batch itself — so every pair (a, b) is
reported exactly once, in the batch where its LATER member arrives, with
the same ``shared`` count the batch operator computes (all of a's
fingerprints are already indexed when b shows up). Accumulated reports
over any batch sequence therefore equal ``winnow_overlap`` over the
union — EXACTLY — as long as no fingerprint crosses ``max_docs_per_fp``
mid-stream. Under saturation the operators necessarily diverge: the batch
operator drops ALL pairs of a saturated fingerprint retroactively, while
an append-only report stream cannot retract — online, a fingerprint
stops contributing to NEW pairs from the batch its count reaches the cap
(pre-saturation reports stand). Both behaviors are pinned in
``tests/test_streaming.py::TestContinuousWinnowIndex``.

Delivery is the standard at-least-once foreachBatch contract: the sink is
called BEFORE ``index.update`` (a crash between the two replays the batch
against an unchanged index → identical verdicts, which the sink dedups on
batch_id; the union-probe also makes the reversed order produce identical
rows because the batch side is distinct-folded into the probe frame — the
convention is kept anyway so all maintainers share one ordering rule).

At scale: state per generation is O(docs · density) rows (density
≈ 2/(w+1) of gram count); the per-batch probe is one equi-join ON fp
(batch side small — AQE broadcasts it), one count-distinct per candidate
pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousWinnowIndex(GenerationStore):
    """Append-only ``(doc_id, fp)`` fingerprint index: ``update(fps,
    batch_id)`` appends a batch's distinct rows as a delta.

    ``ingest(batch_df, batch_id)`` runs the full online step — fingerprint
    the batch, report overlap pairs to ``sink``, fold into the index — and
    is usable directly as a ``foreachBatch`` callback (the
    ``ContinuousDomainCap.update`` shape)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        w: int = 4,
        min_shared: int = 2,
        max_docs_per_fp: int = 64,
        sink=None,
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.id_col = id_col
        self.text_col = text_col
        self.w = w
        self.min_shared = min_shared
        self.max_docs_per_fp = max_docs_per_fp
        self.sink = sink

    def _merged(self, gens: list[str]) -> DataFrame:
        return self._union(gens).distinct()

    def fingerprints(self) -> DataFrame | None:
        return self._state()

    def ingest(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """One online step: fingerprint the batch, report every (doc_a,
        doc_b, shared) pair in which at least one member is in THIS batch
        (new-vs-accepted AND within-batch — module docstring's exact-twin
        argument) to ``sink(pairs_df, batch_id)``, then fold the batch's
        fingerprints into the index. The sink must no-op on replayed
        batch_ids (≤ max committed) — at-least-once foreachBatch
        discipline; ``ingest`` itself is a valid foreachBatch callback.

        Delivery caveat (ADVICE r11): pair reports are exactly-once only
        for UNIQUE doc ids — a committed document re-delivered under a
        NEW batch id re-reports all of its pairs, so a
        non-set-accumulating sink must dedup on (doc_a, doc_b) or the
        upstream must dedup deliveries. The band family's anti-join fix
        does not transfer here: ``shared`` is counted over the batch
        side's fingerprint rows, and an anti-join would count a
        partially-updated document over its fresh rows only."""
        from proxima_platform_spark.functions.text import winnow_fingerprints

        fps_b = (
            winnow_fingerprints(batch_df, self.id_col, self.text_col, w=self.w)
            .select(self.id_col, "fp")
            .distinct()
            .localCheckpoint(eager=False)
        )
        idx = self.fingerprints()
        probe = fps_b if idx is None else idx.unionByName(fps_b).distinct()
        eligible = probe.join(
            probe.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= self.max_docs_per_fp)
            .select("fp"),
            "fp",
        )
        a = eligible.select(F.col(self.id_col).alias("__pa"), "fp")
        b = fps_b.select(F.col(self.id_col).alias("__pb"), "fp")
        pairs = (
            a.join(b, "fp")
            .where(F.col("__pa") != F.col("__pb"))
            .select(
                F.least("__pa", "__pb").alias("doc_a"),
                F.greatest("__pa", "__pb").alias("doc_b"),
                "fp",
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count_distinct("fp").alias("shared"))
            .where(F.col("shared") >= self.min_shared)
        )
        # sink BEFORE update: replay after a crash between the two probes
        # an unchanged index and reproduces identical verdicts (module
        # docstring); the sink dedups on batch_id
        if self.sink is not None:
            self.sink(pairs, batch_id)
        self.update(fps_b, batch_id)


def winnow_overlap_stream(
    stream_docs: DataFrame,
    index: ContinuousWinnowIndex,
):
    """Structured-Streaming wrapper: ``ingest`` per micro-batch. Returns
    a ``DataStreamWriter`` — caller adds trigger/checkpoint and
    ``start()``."""
    return stream_docs.writeStream.foreachBatch(index.ingest)
