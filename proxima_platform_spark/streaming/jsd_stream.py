"""Streaming source-mixture JSD maintainer — the online twin of
``functions/text.source_jsd`` (corpus-drift monitoring).

A live ingestion pipeline wants "is source X drifting away from the
corpus mixture" as a continuously-updated MONITOR: each micro-batch
folds into one ``(s, w, cs)`` per-(source, word) token-count frame —
the JSD's sufficient statistic, ADDITIVE across corpus slices — and
the current divergence table is exactly batch ``source_jsd`` over the
union of everything ingested:

* per batch: ``source_word_counts(batch)`` (the SAME stage function
  the batch operator runs);
* merge across generations: ``groupBy(s, w).sum(cs)`` — associative/
  commutative, base+delta order never matters;
* ``jsd()``: ``source_jsd_from_counts(merged)`` — per-source totals,
  corpus-wide counts and the grid all derive from the merged
  statistic, so batch-on-union equality holds by construction
  (pinned in ``TestContinuousDomainJsd``).

Storage is a ``GenerationStore`` (same-batch-id replay = no-op).
COUNT-CARRYING member: batches must be disjoint corpus slices;
new-batch-id redelivery double-counts by contract (the band-family
anti-join hardening does not apply — same exemption as winnow's shared
counts).

Scale (100 TB): per ingest one narrow explode + one map-side-combined
count agg; state is bounded by |sources| x |vocab| (Heaps-sublinear);
``jsd()`` runs entirely on the bounded statistic — ingested text is
never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousDomainJsd(GenerationStore):
    """Continuously-maintained per-source Jensen-Shannon divergence.

    ``update(batch)`` folds a micro-batch of documents; ``counts()``
    returns the merged ``(s, w, cs)`` statistic; ``jsd()`` returns
    ``(source, n_words, jsd)`` — row-for-row equal to batch
    ``source_jsd`` over the union of everything ingested, across any
    batch split.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        group_col: str = "source",
        text_col: str = "text",
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.group_col = group_col
        self.text_col = text_col

    def _merged(self, gens: list[str]) -> DataFrame:
        return self._union(gens).groupBy("s", "w").agg(F.sum("cs").alias("cs"))

    def _delta(self, batch, batch_id, m) -> DataFrame:
        from proxima_platform_spark.functions.text import source_word_counts

        return source_word_counts(
            batch, group_col=self.group_col, text_col=self.text_col
        )

    def counts(self) -> DataFrame | None:
        """The merged ``(s, w, cs)`` statistic — equal to
        ``source_word_counts`` over the ingested union."""
        return self._state()

    def jsd(self) -> DataFrame | None:
        """The current divergence table — exactly batch ``source_jsd``
        over the union of everything ingested."""
        from proxima_platform_spark.functions.text import (
            source_jsd_from_counts,
        )

        merged = self.counts()
        if merged is None:
            return None
        return source_jsd_from_counts(merged)
