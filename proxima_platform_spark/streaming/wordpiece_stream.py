"""Streaming WordPiece-vocabulary maintainer — the online twin of
``functions/wordpiece.wordpiece_vocab`` (VERDICT r12 'Next round' #5).

A live ingestion pipeline wants the tokenizer vocabulary to FOLLOW the
corpus (new domains push new substrings into the top-K) without
re-scanning everything ingested: each micro-batch folds into one
``(piece, cnt)`` substring-count frame — the vocabulary's sufficient
statistic, which is ADDITIVE across corpus slices — and the current
vocabulary is exactly batch ``wordpiece_vocab`` over the union of
everything ingested:

* per batch: ``wordpiece_substring_counts(batch)`` (the SAME stage
  function the batch builder runs, so per-slice counts agree by
  construction);
* merge across generations: ``groupBy(piece).sum(cnt)`` — sum is
  associative/commutative, so base+delta order never matters;
* ``vocab()``: ``wordpiece_select_vocab(merged)`` — the (cnt desc,
  piece asc) rank is a PURE FUNCTION of the merged counts, so
  batch-on-union equality holds by construction (pinned in
  ``TestContinuousWordpieceVocab``).

Storage is a ``GenerationStore`` (same-batch-id replay = no-op). This is
a COUNT-CARRYING member: re-delivering rows under a NEW batch id
double-counts and is a contract violation — the band-family anti-join
hardening does NOT apply here (same exemption as winnow's ``shared``
counts; see band_stream.py).

Scale (100 TB): per ingest one narrow explode + one map-side-combined
count agg; state is bounded by the distinct-substring count (Heaps-law
sublinear in the corpus); ``vocab()`` is one bounded-frame top-K —
no stage ever rescans ingested text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousWordpieceVocab(GenerationStore):
    """Continuously-maintained WordPiece vocabulary.

    ``update(batch)`` folds a micro-batch of documents;
    ``counts()`` returns the merged ``(piece, cnt)`` sufficient
    statistic; ``vocab()`` returns the one-column ``(piece)`` frame —
    row-for-row equal to batch ``wordpiece_vocab`` over the union of
    everything ingested, across any batch split.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        text_col: str = "text",
        vocab_size: int = 1000,
        max_piece_len: int = 8,
        compact_every: int = 4,
    ) -> None:
        if vocab_size < 0:
            raise ValueError(f"vocab_size must be >= 0, got {vocab_size}")
        if max_piece_len < 1:
            raise ValueError(
                f"max_piece_len must be >= 1, got {max_piece_len}"
            )
        super().__init__(spark, path, compact_every=compact_every)
        self.text_col = text_col
        self.vocab_size = vocab_size
        self.max_piece_len = max_piece_len

    def _merged(self, gens: list[str]) -> DataFrame:
        return self._union(gens).groupBy("piece").agg(
            F.sum("cnt").alias("cnt")
        )

    def _delta(self, batch, batch_id, m) -> DataFrame:
        from proxima_platform_spark.functions.wordpiece import (
            wordpiece_substring_counts,
        )

        return wordpiece_substring_counts(
            batch, text_col=self.text_col, max_piece_len=self.max_piece_len
        )

    def counts(self) -> DataFrame | None:
        """The merged ``(piece, cnt)`` sufficient statistic — equal to
        ``wordpiece_substring_counts`` over the ingested union."""
        return self._state()

    def vocab(self) -> DataFrame | None:
        """The current vocabulary — exactly batch ``wordpiece_vocab``
        over the union of everything ingested."""
        from proxima_platform_spark.functions.wordpiece import (
            wordpiece_select_vocab,
        )

        merged = self.counts()
        if merged is None:
            return None
        return wordpiece_select_vocab(merged, vocab_size=self.vocab_size)
