"""Generic continuously-maintained LSH band-key index and its four
instances — the online twins of ``oph_candidate_pairs``,
``bbit_minhash_pairs``, ``icws_candidate_pairs`` (tf-weighted, 0-bit
ICWS) and ``simhash_candidate_pairs``: every BANDED batch dedup operator
in the package has a streaming maintainer, and all four run ONE online
step, :meth:`ContinuousBandIndex.ingest`.

One exact-twin argument covers the whole family: a document's band keys
are a PURE PER-DOCUMENT function of its text, computed by the batch
operator's own banding stage (``dedup.oph_band_rows`` /
``bbit_band_rows`` / ``icws_band_rows`` / ``simhash_chunk_rows`` — one
expression path, so batch and maintained keys are identical by
construction). A candidate pair exists in the batch operator iff the
docs share ≥1 band key; probing each batch against the union of the
index-so-far and the batch itself reports every pair exactly once, in
the batch where its later member arrives. None of these operators has a
cap/saturation regime, so accumulated reports over ANY batch sequence
equal the batch operator over the union with NO divergence case. Pinned
per instance in ``tests/test_streaming.py::TestContinuousBandFamily``
and ``TestContinuousIcwsIndex``.

Delivery is the family's at-least-once foreachBatch contract: sink
BEFORE ``update`` (a replayed batch probes an unchanged index and
reproduces identical rows; the sink dedups on batch_id). Beyond that,
this family also tolerates re-delivery under a NEW batch id (ADVICE
r11): batch state rows are anti-joined against the index before probing,
so already-accepted rows re-report nothing — safe exactly because these
pairs carry no counts. The count-carrying members of the wider
maintainer family (winnow ``shared``, containment fractions) cannot take
this fix (a partially-updated document's counts would be computed over
its fresh rows only) and keep the unique-doc-id delivery contract
documented on their ``ingest``.

At scale: state is O(docs · bands) rows — the smallest per-doc state of
any maintainer family; the per-batch probe is one equi-join ON the band
key (batch side small — AQE broadcasts it) and one distinct. Storage is
a ``GenerationStore`` of distinct state rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from proxima_platform_spark.functions import dedup
from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousBandIndex(GenerationStore):
    """Append-only band-key index. Band-key instances implement
    :meth:`_band_rows` with the batch operator's own banding stage and
    store ``(doc_id, fp)`` rows; an instance banding on other columns
    (SimHash) overrides :meth:`_state_rows`, :attr:`_keys` and
    :meth:`_pair_projection` instead. ``ingest(batch_df, batch_id)`` is
    a valid ``foreachBatch`` callback."""

    #: the state-row columns two documents must share to pair
    _keys: tuple[str, ...] = ("fp",)

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        sink=None,
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.id_col = id_col
        self.text_col = text_col
        self.sink = sink

    def _merged(self, gens: list[str]) -> DataFrame:
        return self._union(gens).distinct()

    def _band_rows(self, batch_df: DataFrame) -> DataFrame:
        """``(id, band)`` rows for the batch — the batch operator's
        banding stage, shared verbatim."""
        raise NotImplementedError

    def _state_rows(self, batch_df: DataFrame) -> DataFrame:
        """The batch's index rows: the id column, :attr:`_keys` and any
        payload the pair projection reads."""
        return self._band_rows(batch_df).select(
            F.col("id").alias(self.id_col), F.col("band").alias("fp")
        )

    def _pair_projection(self) -> tuple[list[Column], Column | None]:
        """Pair columns beyond ``(id_a, id_b)`` — reading the index side
        as ``a.<col>`` and the batch side as ``b.<col>`` — and a filter
        over the projected pairs (the batch operator's ``extra`` /
        ``keep``)."""
        return [], None

    def band_rows(self) -> DataFrame | None:
        """The maintained distinct index rows."""
        return self._state()

    def ingest(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """One online step: band the batch, report every (id_a, id_b)
        candidate pair (id_a < id_b, distinct) in which at least one
        member is in THIS batch — new-vs-accepted AND within-batch, the
        module docstring's exact-twin argument — to
        ``sink(pairs_df, batch_id)``, then fold the batch's state rows
        into the index.

        Duplicate-delivery hardening (ADVICE r11): the batch's state rows
        are anti-joined against the index (on the FULL row) before
        probing, so a document RE-DELIVERED under a new batch id re-
        reports nothing — pair reports are exactly-once per pair even for
        non-set-accumulating sinks. This is safe precisely because the
        family's pairs carry no counts: a genuinely UPDATED same-id
        document's new rows still probe (SimHash's ``sim`` rides on every
        chunk row, so a changed fingerprint keeps ALL its rows fresh),
        and a pair needs only one member on the probe's batch side.
        Replay under the SAME batch id keeps the original contract: if
        the earlier sink call failed, the index was never advanced
        (sink-before-update), so the replay reproduces identical rows."""
        rows_b = (
            self._state_rows(batch_df).distinct().localCheckpoint(eager=False)
        )
        idx = self._state()
        if idx is None:
            fresh = probe = rows_b
        else:
            fresh = rows_b.join(
                idx, rows_b.columns, "left_anti"
            ).localCheckpoint(eager=False)
            probe = idx.unionByName(fresh).distinct()
        ida, idb = F.col(f"a.{self.id_col}"), F.col(f"b.{self.id_col}")
        extra, keep = self._pair_projection()
        pairs = (
            probe.alias("a")
            .join(fresh.alias("b"), list(self._keys))
            .where(ida != idb)
            .select(
                F.least(ida, idb).alias("id_a"),
                F.greatest(ida, idb).alias("id_b"),
                *extra,
            )
        )
        if keep is not None:
            pairs = pairs.where(keep)
        # sink BEFORE update: a replayed batch probes an unchanged index
        # and reproduces identical rows; the sink dedups on batch_id
        if self.sink is not None:
            self.sink(pairs.distinct(), batch_id)
        self.update(rows_b, batch_id)


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
        dedup._check_bands(num_bins, bands, "num_bins")
        super().__init__(
            spark, path,
            id_col=id_col, text_col=text_col,
            sink=sink, compact_every=compact_every,
        )
        self.n = n
        self.num_bins = num_bins
        self.bands = bands

    def _band_rows(self, batch_df: DataFrame) -> DataFrame:
        return dedup.oph_band_rows(
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
        dedup._check_bands(num_hashes, bands, "num_hashes")
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
        return dedup.bbit_band_rows(
            batch_df, self.id_col, self.text_col,
            n=self.n, num_hashes=self.num_hashes, b=self.b,
            bands=self.bands,
        )


class ContinuousIcwsIndex(ContinuousBandIndex):
    """Online twin of ``dedup.icws_candidate_pairs``: online tf-WEIGHTED
    near-duplicate detection (0-bit Improved Consistent Weighted
    Sampling, Ioffe ICDM'10; Li KDD'15) — the tf-weighted axis of the
    streaming dedup tier (exact / minhash / winnow / containment /
    weighted)."""

    def __init__(
        self,
        spark,
        path: str,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 6,
        bands: int = 3,
        sink=None,
        compact_every: int = 4,
    ) -> None:
        dedup._check_bands(num_hashes, bands, "num_hashes")
        super().__init__(
            spark, path,
            id_col=id_col, text_col=text_col,
            sink=sink, compact_every=compact_every,
        )
        self.num_hashes = num_hashes
        self.bands = bands

    def _band_rows(self, batch_df: DataFrame) -> DataFrame:
        return dedup.icws_band_rows(
            batch_df, self.id_col, self.text_col,
            num_hashes=self.num_hashes, bands=self.bands,
        )


class ContinuousSimhashIndex(ContinuousBandIndex):
    """Online twin of ``dedup.simhash_candidate_pairs`` — the
    hamming-space member of the family. State rows are
    ``(doc_id, sim, ci, cv)`` (the fingerprint rides along so the exact
    hamming check runs on candidates); pairs are the batch operator's
    ``(id_a, id_b, hamming)``."""

    _keys = ("ci", "cv")

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
        dedup._check_pigeonhole(hamming_threshold, chunks)
        super().__init__(
            spark, path,
            id_col=id_col, text_col=text_col,
            sink=sink, compact_every=compact_every,
        )
        self.hamming_threshold = hamming_threshold
        self.chunks = chunks

    def _state_rows(self, batch_df: DataFrame) -> DataFrame:
        return dedup.simhash_chunk_rows(
            batch_df, self.id_col, self.text_col, chunks=self.chunks
        ).select(F.col("id").alias(self.id_col), "sim", "ci", "cv")

    def _pair_projection(self) -> tuple[list[Column], Column | None]:
        ham = dedup.hamming64(F.col("a.sim"), F.col("b.sim")).alias("hamming")
        return [ham], F.col("hamming") <= self.hamming_threshold
