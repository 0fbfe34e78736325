"""Cross-batch maintained CCNet — the online twin of
``functions/prep.ccnet_pipeline`` (VERDICT r11 #4).

``ccnet_pipeline_stream`` reruns the batch chain per micro-batch, so its
dedup scope and perplexity thresholds are batch-local (the documented
seal-at-batch-boundary trade). ``ContinuousCcnet`` removes BOTH limits by
composing the family's existing maintainers instead of re-deriving them:

* **cross-batch paragraph dedup** — its own state: the paragraph WINNER
  table ``(fp, id, pos, para)``, the min-struct frame at the heart of
  ``dedup.dedup_paragraphs``. min(struct) is associative AND idempotent,
  so merging per-batch winner frames yields exactly the union corpus's
  winner table; state is one row per DISTINCT paragraph (the inherent
  state of exact paragraph dedup — same growth law as the KN5 gram
  table). The split / winner / reassembly stages are imported from
  ``functions/dedup`` (``_paragraph_array`` / ``paragraph_winners`` /
  ``reassemble_paragraphs``), so both scopes dedup identically by
  construction.
* **language-ID gate** — a caller-supplied ``ContinuousNaiveBayes``
  holding the PRETRAINED labeled corpus (CCNet's fastText stand-in).
  The gate is fixed: ``ingest`` never updates it, mirroring Wenzek'20
  (the classifier does not drift with the crawl).
* **perplexity gate** — a ``ContinuousKneserNey`` that THIS maintainer
  feeds with each batch's cross-batch-deduped text. Its merged 5-gram
  table therefore equals the gram counts of the union's deduped corpus,
  and ``kn.score(clean_union)`` reproduces batch
  ``kneser_ney5_scores(clean_union)`` — the self-scoring contract.

``summary()`` recomputes the per-(lang, bucket) intake summary from the
maintained state through the SAME tail the batch pipeline runs
(``prep.ccnet_summary_from_scores`` — exact union-wide quantile
thresholds via histogram bisection, never sealed per batch). The result
is row-for-row equal to ``ccnet_pipeline`` on the union of every
ingested batch — EXACT equality, not modulo threshold seals — pinned by
``TestContinuousCcnet`` across batch splits and replays.

Ordering contract: batches must arrive in strictly increasing ``id_col``
order (commit-log order — the reference's defining ingest property). The
winner-table min-merge itself is order-independent, but the KN5 gram
folds are decided at ingest time: a batch document's deduped text is
final only when no LATER batch can beat its paragraphs, which increasing
ids guarantee. The contract is ENFORCED, not just documented: ``ingest``
tracks the id high-water mark in the manifest and raises on a batch
whose min id does not exceed it. Re-delivering a committed batch under its own batch_id is
a no-op (manifest guard, applied to this maintainer and propagated to
the KN gate); re-delivery under a NEW batch id is a contract violation —
the same at-least-once boundary every count-based maintainer draws
(``classify_stream`` module docstring).

Scale shape per ingest: one paragraph explode (narrow) + one min-struct
agg (map-side combined — a boilerplate paragraph repeated 10^9 times
costs one row per map task) + one fp anti-join against the index (the
only index-sized shuffle) + the KN gate's own bounded gram agg.
``summary()`` is the batch pipeline's own plan over the winner table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proxima_platform_spark.functions.dedup import (
    _paragraph_array,
    paragraph_winners,
    reassemble_paragraphs,
)
from proxima_platform_spark.streaming.classify_stream import (
    ContinuousNaiveBayes,
)
from proxima_platform_spark.streaming.lm_stream import ContinuousKneserNey
from proxima_platform_spark.streaming.store import GenerationStore


class ContinuousCcnet(GenerationStore):
    """Continuously-maintained CCNet intake pipeline.

    ``ingest(batch)`` folds a micro-batch of raw documents (cross-batch
    paragraph dedup + KN5 gate update); ``summary()`` is the maintained
    per-(predicted language, head/middle/tail) intake summary — equal to
    batch ``ccnet_pipeline`` on the union of every ingested batch.
    """

    _parts = ("kept",)

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        nb: ContinuousNaiveBayes,
        kn: ContinuousKneserNey,
        id_col: str = "doc_id",
        text_col: str = "text",
        label_col: str = "lang",
        lo_q: float = 0.3,
        hi_q: float = 0.7,
        delimiter: str = "\n",
        compact_every: int = 4,
    ) -> None:
        # the gates run over OUR clean frames: their column contracts must
        # agree up front, not fail deep inside a summary plan
        if (nb.id_col, nb.text_col, nb.label_col) != (id_col, text_col,
                                                      label_col):
            raise ValueError(
                "ContinuousCcnet: nb gate columns "
                f"{(nb.id_col, nb.text_col, nb.label_col)} != "
                f"{(id_col, text_col, label_col)}"
            )
        if (kn.id_col, kn.text_col) != (id_col, text_col):
            raise ValueError(
                "ContinuousCcnet: kn gate columns "
                f"{(kn.id_col, kn.text_col)} != {(id_col, text_col)}"
            )
        super().__init__(
            spark, path, compact_every=compact_every, max_id=None
        )
        self.nb = nb
        self.kn = kn
        self.id_col = id_col
        self.text_col = text_col
        self.label_col = label_col
        self.lo_q = lo_q
        self.hi_q = hi_q
        self.delimiter = delimiter

    def _merged(self, gens: list[str]) -> DataFrame:
        frames = self._union(gens, "kept")
        # min-struct re-merge across generations: associative + idempotent,
        # so the merged frame IS the union corpus's winner table
        return (
            frames.groupBy("__fp")
            .agg(
                F.min(F.struct(self.id_col, "pos", "para")).alias("k")
            )
            .select(
                "__fp",
                F.col(f"k.{self.id_col}").alias(self.id_col),
                F.col("k.pos").alias("pos"),
                F.col("k.para").alias("para"),
            )
        )

    def winners(self) -> DataFrame | None:
        """The maintained paragraph winner table (__fp, id, pos, para)."""
        return self._state()

    # -- updates -------------------------------------------------------------

    def _batch_winners(self, batch: DataFrame) -> DataFrame:
        exploded = batch.select(
            F.col(self.id_col),
            F.posexplode(
                _paragraph_array(self.text_col, self.delimiter)
            ).alias("pos", "para"),
        )
        return paragraph_winners(exploded, id_col=self.id_col)

    def ingest(self, batch: DataFrame, batch_id: int | None = None) -> None:
        """One online step: fold the batch's paragraph winners into the
        index, then feed the batch's CROSS-BATCH-deduped text to the KN5
        gate. The KN update must see only paragraphs new to the whole
        corpus — an fp anti-join against the prior index — so the gate's
        gram table tracks the union's deduped corpus exactly."""
        self.update(batch, batch_id)

    def _delta(self, batch, batch_id, m) -> DataFrame:
        # ENFORCE the ordering contract instead of only documenting it: a
        # batch carrying an id at or below the committed high-water mark
        # could beat an existing paragraph winner, silently corrupting the
        # already-folded KN gram counts — fail loudly up front (ids must be
        # strictly increasing across batches; JSON-storable, i.e. numeric
        # or string)
        bounds = batch.agg(
            F.min(self.id_col).alias("lo"), F.max(self.id_col).alias("hi")
        ).first()
        if bounds["lo"] is not None:
            if m["max_id"] is not None and bounds["lo"] <= m["max_id"]:
                raise ValueError(
                    f"ContinuousCcnet: batch min {self.id_col}="
                    f"{bounds['lo']!r} does not exceed the committed "
                    f"high-water mark {m['max_id']!r} — batches must arrive "
                    "in strictly increasing id order (commit-log order) for "
                    "the batch-on-union equality to hold"
                )
            m["max_id"] = bounds["hi"]
        wins = self._batch_winners(batch).localCheckpoint(eager=False)
        prior = self._state(m)
        if prior is None:
            fresh = wins
        else:
            fresh = wins.join(
                prior.select("__fp"), "__fp", "left_anti"
            )
        clean_b = reassemble_paragraphs(
            fresh, id_col=self.id_col, delimiter=self.delimiter
        ).select(
            F.col(self.id_col),
            F.col("text_dedup").alias(self.text_col),
        )
        # gate update FIRST: if it fails mid-write, the un-advanced ccnet
        # manifest lets the replay redo both (the kn manifest's own
        # batch-id guard makes the redo a no-op on its side)
        self.kn.update(clean_b, batch_id=batch_id)
        return wins

    # -- reads ----------------------------------------------------------------

    def clean_corpus(self) -> DataFrame | None:
        """The union corpus after cross-batch paragraph dedup:
        (id_col, text_col) — one row per document with >= 1 winning
        paragraph, text reassembled in original paragraph order."""
        kept = self.winners()
        if kept is None:
            return None
        return reassemble_paragraphs(
            kept, id_col=self.id_col, delimiter=self.delimiter
        ).select(
            F.col(self.id_col), F.col("text_dedup").alias(self.text_col)
        )

    def summary(self) -> DataFrame | None:
        """The maintained CCNet intake summary — batch ``ccnet_pipeline``
        on the union of every ingested batch, recomputed from maintained
        state through the shared summary tail (exact union-wide
        thresholds; nothing sealed per batch)."""
        from proxima_platform_spark.functions.prep import (
            ccnet_summary_from_scores,
        )

        clean = self.clean_corpus()
        if clean is None:
            return None
        clean = clean.localCheckpoint(eager=False)
        labeled = clean.withColumn(self.label_col, F.lit(""))
        pred = self.nb.classify(labeled)
        if pred is None:
            return None
        pred = pred.select(
            F.col("id").alias(self.id_col), "pred"
        )
        kn = self.kn.score(clean)
        if kn is None:
            return None
        return ccnet_summary_from_scores(
            clean, pred, kn, lo_q=self.lo_q, hi_q=self.hi_q,
            id_col=self.id_col, text_col=self.text_col,
        )
