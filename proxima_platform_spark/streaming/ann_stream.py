"""Continuously-maintained ANN index: sign-LSH bucket assignments folded
per micro-batch — approximate nearest-neighbor queries over an unbounded,
growing corpus without rebuilding.

A ``GenerationStore`` over the ANN family: each micro-batch's vectors are
bucket-assigned by the SAME integer-exact Arrow stage the batch operators use
(``similarity.sign_lsh_buckets_arrow``), appended as a delta parquet
generation, and compacted every N generations. A query hashes itself with
the identical integer math (mirrored in pure Python — the plane family is
deterministic md5 signs over fixed-point components, so driver and
executors agree bit-for-bit), reads ONLY its buckets (predicate pushed to
the parquet scan), and ranks candidates by exact cosine.

Consistency contract: ids are append-only across the stream (the corpus
ingestion shape); ``update`` is idempotent on replayed micro-batches.
State per generation is O(rows·num_tables) — the index IS the data plus
its bucket keys; no driver-side structure.

At 1000 executors: deltas land as ordinary parquet appends, compaction is
one bucket-partitioned fold, and queries touch ~num_tables·n/2^planes
rows — the same candidate-volume math as the batch LSH join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from proxima_platform_spark.functions.similarity import (
    LSH_FIXED_SCALE,
    _plane_sign,
    cosine_similarity,
    sign_lsh_buckets_arrow,
)
from proxima_platform_spark.streaming.store import GenerationStore


def _query_buckets(
    vec: list[float], *, num_planes: int, num_tables: int, probes: int = 1
) -> list[list[int]]:
    """Probe buckets of ``vec`` per table — the pure-Python mirror of
    ``sign_lsh_buckets_arrow``'s integer projection (floor(x·scale) int64
    against ±1 planes; exact, so the driver-side query hashes into
    exactly the buckets the executors assigned). With ``probes > 1``,
    each table additionally probes the ``probes − 1`` Hamming-1
    neighbor buckets reached by flipping the smallest-|projection|
    planes (the ``multiprobe_lsh_top_k`` rule — exact integer
    projections, so the flip order is unambiguous)."""
    q = [math.floor(x * LSH_FIXED_SCALE) for x in vec]
    dim = len(q)
    out = []
    for t in range(num_tables):
        projs = []
        bucket = 0
        for p in range(num_planes):
            plane = t * num_planes + p
            proj = sum(q[d] * _plane_sign(plane, d) for d in range(dim))
            projs.append(proj)
            if proj > 0:
                bucket |= 1 << p
        flips = sorted(range(num_planes), key=lambda p: (abs(projs[p]), p))
        out.append(
            [bucket] + [bucket ^ (1 << p) for p in flips[: probes - 1]]
        )
    return out


def semantic_dedup_stream(
    stream_emb: DataFrame,
    index: "ContinuousAnnIndex",
    sink,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Incremental embedding-level dedup ONLINE — the embedding analog of
    the fingerprint ``incremental_dedup`` (new batch vs existing corpus):
    per micro-batch, each vector is checked for a cosine near-dup among
    the ALREADY ACCEPTED corpus via the maintained LSH index (shared
    buckets only, exact cosine on candidates — first arrival wins across
    batches, like ``dropDuplicatesWithinWatermark`` for fingerprints);
    survivors are appended to the index, and ``sink(verdicts, batch_id)``
    receives one row per batch vector: ``(id, kept, nbr, cosine)`` with
    the condemning indexed match (null/−2.0 when kept).

    Within-batch dups are NOT checked here — the batch operators
    (``embedding_near_dup_pairs`` / ``semantic_dedup``) own intra-batch
    semantics; this operator's contract is new-vs-accepted, which is what
    keeps it one bucket equi-join per batch. Delivery is the standard
    at-least-once foreachBatch contract, and the sink MUST no-op on
    replayed batch_ids (≤ max committed). Ordering matters: the sink is
    called BEFORE ``index.update`` — a crash between the two replays the
    batch against an UNCHANGED index, reproducing identical verdicts that
    the sink then dedups on batch_id, and the idempotent update proceeds.
    (The reverse order has a hole: after a crash between update and sink,
    the replayed check would see the batch's own accepted vectors in the
    index, so near-dup batch-mates would condemn each other and the FIRST
    delivery the sink ever received for that batch_id would be wrong.)
    Returns a ``DataStreamWriter`` — caller adds trigger/checkpoint and
    ``start()``."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        ).localCheckpoint()
        dups = index.near_dups_of(
            batch_df.select(
                F.col("vec_id").alias(index.id_col),
                F.col("embedding").alias(index.vec_col),
            ),
            threshold=threshold,
            exclude_self=True,
        ).localCheckpoint()
        verdicts = (
            batch_df.join(
                dups, batch_df["vec_id"] == dups["id"], "left"
            )
            .select(
                "vec_id",
                F.col("id").isNull().alias("kept"),
                "nbr",
                F.round(F.coalesce("cosine", F.lit(-2.0)), 6).alias("cosine"),
            )
        )
        survivors = verdicts.where("kept").select("vec_id").join(
            batch_df, "vec_id"
        )
        # Sink FIRST, then index update (see docstring): a crash between
        # the two replays against an unchanged index → identical verdicts
        # → the sink's batch_id no-op guard holds; the update is
        # batch_id-idempotent either way.
        sink(verdicts, batch_id)
        index.update(
            survivors.select(
                F.col("vec_id").alias(index.id_col),
                F.col("embedding").alias(index.vec_col),
            ),
            batch_id=batch_id,
        )

    return stream_emb.writeStream.foreachBatch(handle)


class ContinuousAnnIndex(GenerationStore):
    """``update(batch)`` is usable directly as a ``foreachBatch``
    callback; ``query_df(vec, k)`` returns the top-k bucket mates by
    exact cosine as a DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        num_planes: int = 8,
        num_tables: int = 2,
        compact_every: int = 4,
    ) -> None:
        super().__init__(spark, path, compact_every=compact_every)
        self.id_col = id_col
        self.vec_col = vec_col
        self.num_planes = num_planes
        self.num_tables = num_tables

    def _bucketed(self, batch: DataFrame) -> DataFrame:
        staged = sign_lsh_buckets_arrow(
            batch.select(
                F.col(self.id_col).alias("__id"),
                F.col(self.vec_col).cast("array<double>").alias("__v"),
            ),
            vec_col="__v",
            num_planes=self.num_planes,
            num_tables=self.num_tables,
        )
        tb = F.array(*[
            F.struct(F.lit(t).alias("t"), F.col(f"__b{t}").alias("b"))
            for t in range(self.num_tables)
        ])
        return staged.select("__id", "__v", F.explode(tb).alias("__tb")).select(
            F.col("__id").alias("id"),
            F.col("__v").alias("v"),
            F.col("__tb.t").alias("t"),
            F.col("__tb.b").alias("bucket"),
        )

    def _delta(self, batch, batch_id, m) -> DataFrame:
        return self._bucketed(batch)

    # -- reads ---------------------------------------------------------------

    def _frames(self) -> DataFrame:
        idx = self._state()
        if idx is None:
            raise LookupError("continuous ANN index is empty")
        return idx

    def near_dups_of(
        self, batch: DataFrame, *, threshold: float, exclude_self: bool = False
    ) -> DataFrame:
        """Ids of ``batch`` vectors whose cosine against some ALREADY
        INDEXED vector exceeds ``threshold`` — candidates restricted to
        shared LSH buckets (the same equi-join shape as the batch
        ``embedding_near_dup_pairs``), exact cosine on candidates.
        Returns ``(id, nbr, cosine)`` with the best (cosine desc, nbr
        asc) indexed match per batch id. Empty result if the index has no
        generations yet. ``exclude_self`` drops matches where the indexed
        id equals the batch id (a replayed batch meeting its own accepted
        copies)."""
        from pyspark.sql import Window

        try:
            idx = self._frames()
        except LookupError:
            b = self._bucketed(batch)
            return b.select(
                F.col("id"), F.col("id").alias("nbr"), F.lit(0.0).alias("cosine")
            ).where(F.lit(False))
        b = self._bucketed(batch).select(
            F.col("id").alias("__qid"), F.col("v").alias("__qv"), "t", "bucket"
        )
        cand = b.join(idx, ["t", "bucket"]).dropDuplicates(["__qid", "id"])
        if exclude_self:
            cand = cand.where(F.col("__qid") != F.col("id"))
        scored = cand.select(
            F.col("__qid").alias("id"),
            F.col("id").alias("nbr"),
            F.round(cosine_similarity(F.col("__qv"), F.col("v")), 6).alias(
                "cosine"
            ),
        ).where(F.col("cosine") > threshold)
        w = Window.partitionBy("id").orderBy(F.desc("cosine"), F.asc("nbr"))
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    def query_df(
        self, query_vec: list[float], k: int = 10, *, probes: int = 1
    ) -> DataFrame:
        """Top-k bucket mates of ``query_vec`` by exact cosine —
        ``(id, cosine)``, deterministic (cosine desc, id asc) order. The
        (t, bucket) disjunction pushes down to the parquet scan, so the
        read touches candidate buckets only. ``probes > 1`` additionally
        probes each table's Hamming-1 neighbors of the smallest-
        |projection| planes (the multi-probe recall knob — more literal
        (t, bucket) pairs in the SAME pushed-down disjunction, zero
        extra index state; vs raising num_tables, which re-shuffles and
        re-stores the whole index)."""
        if not 1 <= probes <= self.num_planes + 1:
            raise ValueError(
                f"probes must lie in [1, num_planes+1], got {probes}"
            )
        buckets = _query_buckets(
            list(query_vec),
            num_planes=self.num_planes,
            num_tables=self.num_tables,
            probes=probes,
        )
        cond = None
        for t, bs in enumerate(buckets):
            for b in bs:
                c = (F.col("t") == t) & (F.col("bucket") == b)
                cond = c if cond is None else (cond | c)
        qlit = F.array(*[F.lit(float(x)) for x in query_vec])
        return (
            self._frames()
            .where(cond)
            .dropDuplicates(["id"])  # multi-table collisions carry equal vectors
            .select(
                "id",
                F.round(cosine_similarity(F.col("v"), qlit), 6).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), F.col("id"))
            .limit(k)
        )
