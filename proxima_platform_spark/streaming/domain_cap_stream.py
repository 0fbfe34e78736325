"""Continuously-maintained per-domain cap ingestion — the streaming twin
of ``functions/urls.domain_cap_sample`` (VERDICT r07 'Next round' #5).

An arriving crawl can't re-rank the whole corpus per micro-batch; this
maintainer keeps per-registered-domain ACCEPTED counts in a
``GenerationStore`` (state is O(|domains|) rows, never corpus-sized) and
decides each batch online:
**first-arrival-wins under the cap** — earlier batches consume a
domain's quota first; within one batch the deterministic md5 sampling
key breaks ties exactly like the batch operator, so the accepted set is
reproducible replay-for-replay.

The batch-equivalence contract (pinned in
``tests/test_streaming.py::TestContinuousDomainCap``): the union of
accepted rows across batches equals the batch rank
``row_number() OVER (PARTITION BY domain
ORDER BY batch_id, sample_key(url), url) <= cap`` over the union — the
``domain_cap_sample`` quota rule with arrival order as the leading
priority (an online operator cannot revoke an accept when a
smaller-key URL arrives later; making arrival order explicit in the
twin keeps the equality exact instead of approximate).

Replay discipline (the r06-advice ordering, same as
``ContinuousDsir``): decide -> sink -> THEN commit the batch's accepted
counts. foreachBatch is at-least-once; the manifest's max committed
batch_id is the commit point. A crash BEFORE the count commit replays
against unchanged counts, reproduces identical verdicts, and the sink's
own batch_id guard swallows the duplicate; a crash AFTER it makes the
replay a manifest-guard no-op before any decision.

Scale: per batch the maintainer writes <= |batch domains| delta rows
and reads back O(generations × domains) rows (compacted every
``compact_every`` batches); the decision join is one hash equi-join on
the domain key (counts side is domain-cardinality, not corpus-sized)
plus one per-(batch, domain) window — batch-bounded sorts.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from proxima_platform_spark.functions.sampling import sample_key
from proxima_platform_spark.functions.urls import (
    registered_domain,
    url_canonicalize,
    url_host,
)
from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousDomainCap(GenerationStore):
    """``update(batch, batch_id)`` is usable directly as a
    ``foreachBatch`` callback. ``sink(verdicts_df, batch_id)`` receives
    (id, url_canon, domain, accepted) for every batch row — it MUST
    materialize the frame and no-op on batch_ids it has already
    committed."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        url_col: str = "url",
        id_col: str = "doc_id",
        cap: int = 1000,
        salt: str = "",
        sink: Callable[[DataFrame, int | None], None] | None = None,
        compact_every: int = 4,
    ) -> None:
        if cap < 0:
            raise ValueError(f"cap must be >= 0, got {cap}")
        super().__init__(spark, path, compact_every=compact_every)
        self.url_col = url_col
        self.id_col = id_col
        self.cap = cap
        self.salt = salt
        self.sink = sink

    # -- accepted-count frames -----------------------------------------------

    def _merged(self, gens: list[str]) -> DataFrame:
        return self._union(gens).groupBy("domain").agg(
            F.sum("n_acc").alias("n_acc")
        )

    def _counts(self, m: dict) -> DataFrame:
        counts = self._state(m)
        if counts is None:
            return self.spark.createDataFrame([], "domain string, n_acc long")
        return counts

    def accepted_counts(self) -> DataFrame:
        """The CURRENT (domain, n_acc) frame — the quota the next batch
        will be decided against."""
        return self._counts(self._manifest())

    # -- maintenance ---------------------------------------------------------

    def _staged(self, batch: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        staged = batch.withColumn(
            "url_canon", url_canonicalize(F.col(self.url_col))
        ).withColumn("domain", registered_domain(url_host(F.col("url_canon"))))
        # within-batch priority: the batch operator's (md5 key, url) order
        w = Window.partitionBy("domain").orderBy(
            sample_key(F.col(self.url_col), self.salt), F.col(self.url_col)
        )
        return staged.withColumn("__rn", F.row_number().over(w))

    def _delta(self, batch, batch_id, m) -> DataFrame:
        # a replay of a COMMITTED batch never gets here: the store's guard
        # no-ops it before any decision
        verdicts = (
            self._staged(batch)
            .join(self._counts(m), "domain", "left")
            .select(
                self.id_col,
                "url_canon",
                "domain",
                (
                    F.col("__rn")
                    <= F.lit(self.cap) - F.coalesce("n_acc", F.lit(0))
                ).alias("accepted"),
            )
            # staged once: the frame feeds the sink AND the delta count;
            # without it both consumers re-run the canonicalize + window
            .localCheckpoint(eager=False)
        )
        # sink BEFORE the count commit (r06-advice ordering): a crash in
        # between replays against unchanged counts -> identical verdicts ->
        # the sink's batch_id guard absorbs the duplicate delivery
        if self.sink is not None:
            self.sink(verdicts, batch_id)
        return (
            verdicts.where("accepted")
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n_acc"))
        )
