"""Continuously-maintained ICWS (weighted-MinHash) band index: online
tf-WEIGHTED near-duplicate detection over an unbounded document stream —
the streaming twin of ``functions/dedup.icws_candidate_pairs``, closing
the tf-weighted axis of the streaming dedup tier (exact / minhash /
winnow / containment / weighted).

The ``ContinuousWinnowIndex`` index applied to 0-bit
Improved Consistent Weighted Sampling (Ioffe ICDM'10; Li KDD'15): each
micro-batch's documents are banded by the SAME expression stage the
batch operator uses (``dedup.icws_band_rows`` — one code path, so batch
and maintained band keys are identical by construction), probed against
the union of the index-so-far and the batch itself, and appended as a
delta parquet generation.

Report semantics (the exact-twin argument): a document's band keys are
a pure per-document function of its text — they arrive ATOMICALLY with
the batch and never change. A candidate pair (a, b) exists in the batch
operator iff the two docs share at least one band key; with the probe
joining the batch side against the union, that pair is reported exactly
once, in the batch where its LATER member arrives (all of a's bands are
already indexed when b shows up; a within-batch pair is caught by the
batch side being folded into the probe). There is no cap/saturation
regime in the batch operator, so accumulated reports over ANY batch
sequence equal ``icws_candidate_pairs`` over the union — exactly,
with no divergence case (unlike winnow/containment, whose
``max_docs_per_*`` caps retroact). Pinned in
``tests/test_streaming.py::TestContinuousIcwsIndex``.

Delivery is the standard at-least-once foreachBatch contract: sink
BEFORE ``update`` (a replayed batch probes an unchanged index and
reproduces identical rows; the sink dedups on batch_id).

At scale: state is O(docs · bands) rows — ``bands`` strings per doc,
the smallest per-doc state of any maintainer in the tier; the per-batch
probe is one equi-join ON the band key (batch side small — AQE
broadcasts it) and one distinct. Signature computation is joinless
(min_by aggregation per (doc, seed)); no all-pairs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from proxima_platform_spark.streaming.band_stream import (
    ContinuousBandIndex,
)


class ContinuousIcwsIndex(ContinuousBandIndex):
    """Append-only ``(doc_id, fp)`` band-key index; the generic online
    step (band the batch with the batch operator's own expression stage,
    probe batch-vs-union, sink, fold) lives in
    :class:`ContinuousBandIndex` — this instance supplies the ICWS banding
    stage."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 6,
        bands: int = 3,
        sink=None,
        compact_every: int = 4,
    ) -> None:
        if num_hashes % bands:
            raise ValueError("bands must divide num_hashes")
        super().__init__(
            spark,
            path,
            id_col=id_col,
            text_col=text_col,
            sink=sink,
            compact_every=compact_every,
        )
        self.num_hashes = num_hashes
        self.bands = bands

    def _band_rows(self, batch_df: DataFrame) -> DataFrame:
        from proxima_platform_spark.functions.dedup import icws_band_rows

        return icws_band_rows(
            batch_df,
            self.id_col,
            self.text_col,
            num_hashes=self.num_hashes,
            bands=self.bands,
        )


def icws_pairs_stream(
    stream_docs: DataFrame,
    index: ContinuousIcwsIndex,
):
    """Structured-Streaming wrapper: ``ingest`` per micro-batch. Returns
    a ``DataStreamWriter`` — caller adds trigger/checkpoint and
    ``start()``."""
    return stream_docs.writeStream.foreachBatch(index.ingest)
