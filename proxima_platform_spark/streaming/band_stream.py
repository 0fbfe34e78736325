"""Generic continuously-maintained LSH band-key index, plus the OPH and
b-bit instances — the online twins of ``oph_candidate_pairs`` /
``bbit_minhash_pairs``, completing the symmetry: every BANDED batch
dedup operator in the package now has a streaming maintainer.

One exact-twin argument covers the whole family (first stated for the
ICWS instance, ``streaming/icws_stream.py``): a document's band keys
are a PURE PER-DOCUMENT function of its text, computed by the batch
operator's own banding stage (``dedup.icws_band_rows`` /
``oph_band_rows`` / ``bbit_band_rows`` — one expression path, so batch
and maintained keys are identical by construction). A candidate pair
exists in the batch operator iff the docs share ≥1 band key; probing
each batch against the union of the index-so-far and the batch itself
reports every pair exactly once, in the batch where its later member
arrives. None of these operators has a cap/saturation regime, so
accumulated reports over ANY batch sequence equal the batch operator
over the union with NO divergence case. Pinned per instance in
``tests/test_streaming.py::TestContinuousBandFamily`` (and
``TestContinuousIcwsIndex`` for the ICWS instance).

Delivery is the family's at-least-once foreachBatch contract: sink
BEFORE ``update`` (a replayed batch probes an unchanged index and
reproduces identical rows; the sink dedups on batch_id). Beyond that,
this family also tolerates re-delivery under a NEW batch id (ADVICE
r11): batch band rows are anti-joined against the index before probing,
so already-accepted (id, band) rows re-report nothing — safe exactly
because these pairs carry no counts. The count-carrying members of the
wider maintainer family (winnow ``shared``, containment fractions)
cannot take this fix (a partially-updated document's counts would be
computed over its fresh rows only) and keep the unique-doc-id delivery
contract documented on their ``ingest``.

At scale: state is O(docs · bands) strings — the smallest per-doc
state of any maintainer family; the per-batch probe is one equi-join
ON the band key (batch side small — AQE broadcasts it) and one
distinct. Storage is the ``GenerationStore`` inherited from
``ContinuousWinnowIndex``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from proxima_platform_spark.streaming.winnow_stream import (
    ContinuousWinnowIndex,
)


class ContinuousBandIndex(ContinuousWinnowIndex):
    """Append-only ``(doc_id, fp)`` band-key index. Subclasses implement
    :meth:`_band_rows` with the batch operator's own banding stage;
    ``ingest(batch_df, batch_id)`` is then a valid ``foreachBatch``
    callback."""

    def _band_rows(self, batch_df: DataFrame) -> DataFrame:
        """``(id, band)`` rows for the batch — the batch operator's
        banding stage, shared verbatim."""
        raise NotImplementedError

    def band_rows(self) -> DataFrame | None:
        """The maintained distinct ``(doc_id, fp)`` band-key index."""
        return self.fingerprints()

    def ingest(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """One online step: band the batch, report every (id_a, id_b)
        candidate pair (id_a < id_b, distinct) in which at least one
        member is in THIS batch — new-vs-accepted AND within-batch, the
        module docstring's exact-twin argument — to
        ``sink(pairs_df, batch_id)``, then fold the batch's band rows
        into the index.

        Duplicate-delivery hardening (ADVICE r11): the batch's band rows
        are anti-joined against the index before probing, so a document
        RE-DELIVERED under a new batch id (its (id, band) rows already
        accepted) re-reports nothing — pair reports are exactly-once per
        pair even for non-set-accumulating sinks. This is safe precisely
        because the family's pairs carry no counts: a genuinely UPDATED
        same-id document's new band rows still probe, and a pair needs
        only one member on the probe's batch side. Replay under the SAME
        batch id keeps the original contract: if the earlier sink call
        failed, the index was never advanced (sink-before-update), so the
        replay reproduces identical rows."""
        bands_b = (
            self._band_rows(batch_df)
            .select(F.col("id").alias(self.id_col), F.col("band").alias("fp"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        idx = self.fingerprints()
        if idx is None:
            fresh = bands_b
            probe = bands_b
        else:
            fresh = bands_b.join(
                idx, [self.id_col, "fp"], "left_anti"
            ).localCheckpoint(eager=False)
            probe = idx.unionByName(fresh).distinct()
        a = probe.select(F.col(self.id_col).alias("__pa"), "fp")
        b = fresh.select(F.col(self.id_col).alias("__pb"), "fp")
        pairs = (
            a.join(b, "fp")
            .where(F.col("__pa") != F.col("__pb"))
            .select(
                F.least("__pa", "__pb").alias("id_a"),
                F.greatest("__pa", "__pb").alias("id_b"),
            )
            .distinct()
        )
        # sink BEFORE update: a replayed batch probes an unchanged index
        # and reproduces identical rows; the sink dedups on batch_id
        if self.sink is not None:
            self.sink(pairs, batch_id)
        self.update(bands_b, batch_id)


class ContinuousOphIndex(ContinuousBandIndex):
    """Online twin of ``dedup.oph_candidate_pairs`` (one-permutation-
    hashing MinHash with rotation densification)."""

    def __init__(
        self,
        spark,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        num_bins: int = 8,
        bands: int = 4,
        sink=None,
        compact_every: int = 4,
    ) -> None:
        if num_bins % bands:
            raise ValueError("bands must divide num_bins")
        super().__init__(
            spark, path,
            id_col=id_col, text_col=text_col,
            sink=sink, compact_every=compact_every,
        )
        self.n = n
        self.num_bins = num_bins
        self.bands = bands

    def _band_rows(self, batch_df: DataFrame) -> DataFrame:
        from proxima_platform_spark.functions.dedup import oph_band_rows

        return oph_band_rows(
            batch_df, self.id_col, self.text_col,
            n=self.n, num_bins=self.num_bins, bands=self.bands,
        )


class ContinuousBbitIndex(ContinuousBandIndex):
    """Online twin of ``dedup.bbit_minhash_pairs`` (b-bit-truncated
    MinHash signatures)."""

    def __init__(
        self,
        spark,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        num_hashes: int = 8,
        b: int = 4,
        bands: int = 2,
        sink=None,
        compact_every: int = 4,
    ) -> None:
        if num_hashes % bands:
            raise ValueError("bands must divide num_hashes")
        super().__init__(
            spark, path,
            id_col=id_col, text_col=text_col,
            sink=sink, compact_every=compact_every,
        )
        self.n = n
        self.num_hashes = num_hashes
        self.b = b
        self.bands = bands

    def _band_rows(self, batch_df: DataFrame) -> DataFrame:
        from proxima_platform_spark.functions.dedup import bbit_band_rows

        return bbit_band_rows(
            batch_df, self.id_col, self.text_col,
            n=self.n, num_hashes=self.num_hashes, b=self.b,
            bands=self.bands,
        )


def band_pairs_stream(stream_docs: DataFrame, index: ContinuousBandIndex):
    """Structured-Streaming wrapper: ``ingest`` per micro-batch. Returns
    a ``DataStreamWriter`` — caller adds trigger/checkpoint and
    ``start()``."""
    return stream_docs.writeStream.foreachBatch(index.ingest)


class ContinuousSimhashIndex(ContinuousBandIndex):
    """Online twin of ``dedup.simhash_candidate_pairs`` — the
    hamming-space member of the family. State rows are
    ``(doc_id, sim, ci, cv)`` (the fingerprint rides along so the exact
    hamming check runs on candidates); pairs are the batch operator's
    ``(id_a, id_b, hamming)``. The exact-twin argument is the module's:
    fingerprint and chunk values are pure per-doc, there is no cap
    regime, and the pigeonhole candidate join + hamming filter are
    computed by the batch operator's own stages."""

    def __init__(
        self,
        spark,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        hamming_threshold: int = 3,
        chunks: int = 4,
        sink=None,
        compact_every: int = 4,
    ) -> None:
        if hamming_threshold > chunks - 1:
            raise ValueError(
                f"hamming_threshold={hamming_threshold} needs at least "
                f"{hamming_threshold + 1} chunks for the pigeonhole"
                " guarantee"
            )
        super().__init__(
            spark, path,
            id_col=id_col, text_col=text_col,
            sink=sink, compact_every=compact_every,
        )
        self.hamming_threshold = hamming_threshold
        self.chunks = chunks

    def ingest(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        from proxima_platform_spark.functions.dedup import (
            hamming64,
            simhash_chunk_rows,
        )

        rows_b = (
            simhash_chunk_rows(
                batch_df, self.id_col, self.text_col, chunks=self.chunks
            )
            .select(
                F.col("id").alias(self.id_col), "sim", "ci", "cv"
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        idx = self.fingerprints()
        # duplicate-delivery hardening (ADVICE r11, base-class rationale):
        # anti-join on the FULL state row — sound here because `sim` rides
        # on every chunk row, so an updated document (sim changed) keeps
        # ALL its rows fresh and its hamming pairs intact, while identical
        # re-delivery drops every row and re-reports nothing
        if idx is None:
            fresh = rows_b
            probe = rows_b
        else:
            fresh = rows_b.join(
                idx, [self.id_col, "sim", "ci", "cv"], "left_anti"
            ).localCheckpoint(eager=False)
            probe = idx.unionByName(fresh).distinct()
        a = probe.select(
            F.col(self.id_col).alias("__pa"), F.col("sim").alias("__sa"),
            "ci", "cv",
        )
        b = fresh.select(
            F.col(self.id_col).alias("__pb"), F.col("sim").alias("__sb"),
            "ci", "cv",
        )
        pairs = (
            a.join(b, ["ci", "cv"])
            .where(F.col("__pa") != F.col("__pb"))
            .select(
                F.least("__pa", "__pb").alias("id_a"),
                F.greatest("__pa", "__pb").alias("id_b"),
                hamming64(F.col("__sa"), F.col("__sb")).alias("hamming"),
            )
            .where(F.col("hamming") <= self.hamming_threshold)
            .distinct()
        )
        if self.sink is not None:
            self.sink(pairs, batch_id)
        self.update(rows_b, batch_id)
