"""Continuously-maintained shingle containment index: online asymmetric
(quote-inclusion) near-duplicate detection over an unbounded document
stream — the streaming twin of ``functions/dedup.containment_pairs``,
completing the streaming dedup tier (exact / minhash / winnow /
containment).

The ``ContinuousWinnowIndex`` index applied to Broder'97 containment:
each micro-batch's documents are shingled by the SAME expression stage
the batch operator uses, probed against the union of the index-so-far
and the batch itself, and appended as a delta parquet generation.

Report semantics (the exact-twin argument): a document's shingle set
arrives ATOMICALLY with its batch, so when the LATER member of a pair
arrives, both members' sets are complete — the directional containment
ratios shared/|S(a)| and shared/|S(b)| are both final at that moment
(documents are immutable; no later batch can change them). Every
qualifying ordered pair is therefore reported exactly once, in the
batch where its later member arrives, with the same (shared, size_a,
containment) the batch operator computes. Accumulated reports over any
batch sequence equal ``containment_pairs`` over the union — EXACTLY —
as long as no shingle crosses ``max_docs_per_shingle`` mid-stream: if
the FINAL per-shingle doc count is within the cap, every prefix count
is too (counts only grow), so the unsaturated regime is prefix-stable.
Under saturation the operators necessarily diverge, exactly as for the
winnow index: batch drops a saturated shingle's evidence retroactively,
an append-only report stream cannot retract (pre-saturation reports
stand; the shingle stops contributing to NEW pairs once over the cap).
Both behaviors are pinned in
``tests/test_streaming.py::TestContinuousContainmentIndex``.

Denominators |S(a)| are computed on the UNCAPPED union sets (the batch
operator's contract — the ratio is the true containment of the
surviving evidence), and since a doc's shingle set is complete at
ingest, its size never changes afterward.

Delivery is the standard at-least-once foreachBatch contract: sink
BEFORE ``update`` (a replayed batch probes an unchanged index and
reproduces identical rows; the sink dedups on batch_id).

At scale: state is O(docs · distinct shingles per doc) rows; the
per-batch probe is one equi-join ON the shingle (batch side small —
AQE broadcasts it), one count-distinct per candidate pair, one
broadcast-joinable sizes frame — the batch operator's shape with the
big side replaced by the maintained index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from proxima_platform_spark.streaming.winnow_stream import (
    ContinuousWinnowIndex,
)


class ContinuousContainmentIndex(ContinuousWinnowIndex):
    """Append-only ``(doc_id, s)`` shingle index (storage inherited from
    :class:`ContinuousWinnowIndex`).

    ``ingest(batch_df, batch_id)`` runs the full online step — shingle
    the batch, report directional containment pairs to ``sink``, fold
    the batch's shingles into the index — and is usable directly as a
    ``foreachBatch`` callback."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 4,
        threshold: float = 0.5,
        max_docs_per_shingle: int = 64,
        sink=None,
        compact_every: int = 4,
    ) -> None:
        if not 0.0 < threshold <= 1.0:
            raise ValueError(f"threshold must be in (0,1], got {threshold}")
        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        super().__init__(
            spark,
            path,
            id_col=id_col,
            text_col=text_col,
            sink=sink,
            compact_every=compact_every,
        )
        self.n = n
        self.threshold = threshold
        self.max_docs_per_shingle = max_docs_per_shingle

    def shingles(self) -> DataFrame | None:
        """The maintained distinct ``(doc_id, s)`` index."""
        return self.fingerprints()

    def ingest(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """One online step: shingle the batch, report every directional
        (doc_a, doc_b, shared, size_a, containment) row in which at
        least one member is in THIS batch (new-vs-accepted AND
        within-batch — module docstring's exact-twin argument) to
        ``sink(pairs_df, batch_id)``, then fold the batch's shingles
        into the index.

        Delivery caveat (ADVICE r11): pair reports are exactly-once only
        for UNIQUE doc ids — a committed document re-delivered under a
        NEW batch id re-reports its containment rows; non-set sinks must
        dedup on (doc_a, doc_b). The band family's anti-join fix does
        not transfer here: containment fractions need the batch side's
        FULL shingle set as denominator, which an anti-join would
        truncate for partially-updated documents."""
        from proxima_platform_spark.functions.dedup import (
            shingles_from_tokens,
            tokens,
        )

        sh_b = (
            batch_df.select(
                F.col(self.id_col), tokens(F.col(self.text_col)).alias("__t")
            )
            .select(
                self.id_col,
                F.explode(
                    shingles_from_tokens(F.col("__t"), self.n)
                ).alias("s"),
            )
            .distinct()
            .withColumnRenamed("s", "fp")
            .localCheckpoint(eager=False)
        )
        idx = self.fingerprints()
        probe = sh_b if idx is None else idx.unionByName(sh_b).distinct()
        # denominators on the UNCAPPED union (batch-operator contract)
        sizes = probe.groupBy(self.id_col).agg(
            F.count(F.lit(1)).alias("__n")
        )
        eligible = probe.join(
            probe.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__d"))
            .where(F.col("__d") <= self.max_docs_per_shingle)
            .select("fp"),
            "fp",
        )
        a = eligible.select(F.col(self.id_col).alias("__pa"), "fp")
        b = sh_b.select(F.col(self.id_col).alias("__pb"), "fp")
        unordered = (
            a.join(b, "fp")
            .where(F.col("__pa") != F.col("__pb"))
            .select(
                F.least("__pa", "__pb").alias("__u"),
                F.greatest("__pa", "__pb").alias("__v"),
                "fp",
            )
            .groupBy("__u", "__v")
            .agg(F.count_distinct("fp").alias("shared"))
        )
        directed = unordered.select(
            F.col("__u").alias("doc_a"), F.col("__v").alias("doc_b"), "shared"
        ).unionByName(
            unordered.select(
                F.col("__v").alias("doc_a"),
                F.col("__u").alias("doc_b"),
                "shared",
            )
        )
        pairs = (
            directed.join(
                sizes.withColumnRenamed(self.id_col, "doc_a"), "doc_a"
            )
            .select(
                "doc_a",
                "doc_b",
                "shared",
                F.col("__n").alias("size_a"),
                F.round(
                    F.col("shared").cast("double")
                    / F.col("__n").cast("double"),
                    6,
                ).alias("containment"),
            )
            .where(F.col("containment") >= self.threshold)
        )
        # sink BEFORE update: replay after a crash between the two probes
        # an unchanged index and reproduces identical verdicts; the sink
        # dedups on batch_id
        if self.sink is not None:
            self.sink(pairs, batch_id)
        self.update(sh_b, batch_id)
