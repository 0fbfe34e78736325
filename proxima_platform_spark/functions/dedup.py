"""Deduplication primitives: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Extensions beyond the reference surface (north star). All primitives are
engine-portable by construction: hashes are md5-based (identical hex output
in Spark and any ANSI/DuckDB oracle), so correctness is checkable end-to-end.

Scale design (the point of these ops is the 100 TB corpus):
  * exact dedup — one hash-groupBy on a 16-byte key; map-side partial agg
    collapses most duplicates before the shuffle;
  * MinHash — explode(shingles) → groupBy(doc) min per hash seed: shuffle
    volume is ~#shingles rows but combiner reduces to one row per (doc,seed)
    per partition; LSH banding turns all-pairs O(n²) into a self-join on
    band keys (hash-partitioned, broadcast never needed);
  * SimHash — explode(tokens) → per-bit vote aggregation, same shuffle shape;
  * n-gram Jaccard — only ever computed on LSH candidate pairs, never n².
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from proxima_platform_spark.exprtools import static_template


def _spread_narrow_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff its optimizer-
    estimated size is too small for the file scan to produce that many
    partitions — a small parquet reads as 1-2 partitions and any
    interpreted per-row stage over it runs near-serially.

    The estimate comes from Catalyst plan statistics (file-relation
    ``sizeInBytes`` over ``files.maxPartitionBytes``), NOT from
    ``df.rdd.getNumPartitions()`` — the RDD probe forces a
    DataFrame→RDD conversion worth ~1s of driver-side analysis per call
    (r07 verdict #6; priced at dedup.py's minhash staging note). At real
    scale sizeInBytes >= parallelism * maxPartitionBytes and this is a
    no-op (no shuffle added).
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        maxpb = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
        narrow = size < par * maxpb
    except Exception:
        # stats unavailable (non-JVM session wrapper etc.): spread
        # unconditionally — correct either way, costs one small shuffle
        narrow = True
    return df.repartition(par) if narrow else df


def normalize_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dup_key(text: Column) -> Column:
    """Exact-duplicate grouping key: md5 of normalized text."""
    return F.md5(normalize_text(text))


def tokens(text: Column) -> Column:
    return F.split(normalize_text(text), " ", -1)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a pre-tokenized array.

    Guarded for short texts: F.sequence(1, 0) would generate a *descending*
    [1, 0] sequence, so arrays with < n tokens explicitly yield an empty array.
    """
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, shingles).otherwise(
        F.array().cast("array<string>")
    )


def gram_structs_from_tokens(toks: Column, names: list[str]) -> Column:
    """Word n-gram shingles as ``array<struct<...>>`` of the n component
    tokens (n = ``len(names)``, fields named by ``names``) — the
    split-free sibling of :func:`shingles_from_tokens` for consumers
    that need the gram POSITIONS as columns (the Kneser-Ney family,
    PMI): ``tokens()`` splits on whitespace so tokens carry none, which
    makes the ``concat_ws(' ')`` / ``split`` roundtrip this replaces a
    lossless identity — same tuples, zero per-occurrence string
    re-assembly and re-parsing (the roundtrip ran once building the
    count table and AGAIN on the occurrence stream feeding the lp join;
    measured ~40%% of kneser_ney5_scores at sf0.1). Same short-text
    guard as :func:`shingles_from_tokens`."""
    n = len(names)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.struct(
            *[F.element_at(toks, i + k).alias(names[k]) for k in range(n)]
        ),
    )
    empty_t = "array<struct<" + ",".join(f"{nm}:string" for nm in names) + ">>"
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast(empty_t)
    )


def ngram_shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (distinct not applied here).

    Note for hot paths: tokenization (regexp + split) is re-evaluated for
    every reference to the array inside one expression tree — project
    ``tokens(text)`` into its own column first and use
    :func:`shingles_from_tokens` (Catalyst does not CSE inside Generate).
    """
    return shingles_from_tokens(tokens(text), n)


# MinHash permutation family: ONE md5 per shingle → 30-bit base hash h,
# then hash_i(h) = (A[i]·h + B[i]) mod P (affine universal hashing). The
# single-digest form is 8× less hashing than per-seed salted md5 — the
# dominant per-row cost at corpus scale — and all arithmetic stays in
# BIGINT without overflow (A < 2³², h < 2³⁰ ⇒ product < 2⁶²).
MINHASH_PRIME = 1_000_000_007
MINHASH_A = [
    2654435761, 2246822519, 3266489917, 668265263,
    374761393, 2654435789, 2246822551, 3266489979,
]
MINHASH_B = [97, 1013, 10007, 100003, 1000033, 333667, 7368787, 95189]


def shingle_hash(shingle: Column) -> Column:
    """30-bit integer base hash of a shingle (md5 prefix). The *integer*
    form matters for scale: Spark can only HashAggregate fixed-width agg
    buffers — min(string) degrades to SortAggregate (sorts every shingle
    row) — and longs shuffle far smaller than hex strings."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long") % F.lit(
        2**30
    )


def affine_hash(base_hash: Column, seed: int) -> Column:
    return (
        F.lit(MINHASH_A[seed]) * base_hash + F.lit(MINHASH_B[seed])
    ) % F.lit(MINHASH_PRIME)


# The banded LSH family (classic / OPH / b-bit MinHash, ICWS, SimHash)
# is one pipeline of shared stages: tokenize → shingle-hash explode →
# per-doc signature aggregation → md5 band keys → banded self-join. Each
# variant supplies only its signature; batch operators, their streaming
# twins (streaming/band_stream.py) and the oracle share the stages.


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, toks)`` — tokens in their own projection: Catalyst does not
    CSE inside Generate, so the inline form re-tokenizes the doc per
    emitted shingle (7× at sf0.1)."""
    return docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )


def _shingle_hashes(tokenized: DataFrame, n: int) -> DataFrame:
    """``(id, h)``: one row per word n-gram shingle of an ``(id, toks)``
    frame with its :func:`shingle_hash` — the stage every MinHash
    variant aggregates. Docs with fewer than ``n`` tokens have no
    shingles and drop out."""
    return tokenized.select(
        "id", F.explode(shingles_from_tokens(F.col("toks"), n)).alias("shingle")
    ).select("id", shingle_hash(F.col("shingle")).alias("h"))


def _minhash_mins(tokenized: DataFrame, *, n: int, num_hashes: int) -> DataFrame:
    """``(id, h0..h{num_hashes-1})``: the affine-min MinHash signature of
    classic and b-bit MinHash — ONE hash aggregation computing all mins
    at once (one md5 per shingle row; fixed-width buffers, so map-side
    partial agg collapses the shuffle to ~1 row per doc per partition)."""
    if not 1 <= num_hashes <= len(MINHASH_A):
        raise ValueError(
            f"num_hashes must be in [1, {len(MINHASH_A)}] (the size of the "
            f"MINHASH_A/MINHASH_B family), got {num_hashes}"
        )
    # static template over fixed column names — memoized so repeated
    # builds skip the per-hash Column ops (py4j round-trips; exprtools, r13)
    aggs = static_template(
        "minhash_sig_aggs",
        str(num_hashes),
        lambda: [
            F.min(affine_hash(F.col("h"), i)).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return _shingle_hashes(tokenized, n).groupBy("id").agg(*aggs)


def _check_bands(total: int, bands: int, param: str) -> None:
    """Banding needs ``bands`` to divide the signature length ``total``
    exactly — otherwise the trailing signature values silently fall out
    of every band."""
    if bands < 1 or total % bands:
        raise ValueError(
            f"bands must divide {param}: got {param}={total}, bands={bands}"
        )


def _band_keys(
    cols: list[str], bands: int, *, param: str, item=None
) -> Column:
    """``array<string>`` of ``bands`` LSH bucket keys over the signature
    columns ``cols`` (r = len(cols)/bands rows per band): key b is
    ``md5('b|' || v[b·r] || '|' || … || v[b·r+r-1])``, integer values in
    their decimal text. Docs sharing any key are candidate near-
    duplicates. ``item`` maps each value before joining — ICWS passes
    ``F.md5``: a raw sampled token may itself contain '|', so two
    different tuples could concatenate to one key (['a|b','c'] vs
    ['a','b|c']) and emit spurious pairs. ``param`` names the signature
    length in the bad-banding error."""
    _check_bands(len(cols), bands, param)
    rows = len(cols) // bands
    tag = "" if item is None else f"{item.__module__}.{item.__qualname__}"
    return static_template(
        "band_keys",
        f"{'|'.join(cols)}#{bands}#{tag}",
        lambda: F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[
                            F.col(c) if item is None else item(F.col(c))
                            for c in cols[b * rows:(b + 1) * rows]
                        ],
                    )
                )
                for b in range(bands)
            ]
        ),
    )


# Module-level LRU of persisted (id, band) frames shared by the banded
# candidate-pair operators. Eviction contract: recency-ordered, capacity
# _BANDED_CACHE_KEEP; inserting beyond capacity unpersists and drops the
# LEAST-RECENTLY-USED entry (its downstream DataFrames stay correct —
# Spark just recomputes on next use). Consequence: a session running more
# than _BANDED_CACHE_KEEP banded dedups CONCURRENTLY will thrash (persist
# → evict → recompute), and cached frames hold executor storage memory
# for the life of the module; both are deliberate bounds, not leaks.
#
# Rebuild-dedup is REQUIRED, not an optimization: Spark's CacheManager
# matches persist()/unpersist() calls by canonicalized plan, so N
# identical rebuilds (a bench loop, an oracle sweep, a pipeline invoked
# per batch) alias ONE underlying cache entry. A plain FIFO of aliases
# then self-destructs at capacity: the evicted "oldest" alias unpersists
# the shared entry while newer aliases still sit in the list, and every
# later persist-then-evict pair cancels itself — the frame is never
# cached again and each run silently recomputes the full signature
# pipeline twice (measured 0.8s → 9s per run at sf0.1 on the 5th+
# identical icws_candidate_pairs build). _banded_cache_put therefore
# reuses the existing entry (moved to MRU) whenever the new frame's
# canonicalized plan matches a live one.
_BANDED_CACHE: list = []
_BANDED_CACHE_KEEP = 4


def clear_banded_cache() -> None:
    """Unpersist and drop every cached banded frame. Tooling hook: the
    plan-inventory guard calls this before building each query so the
    captured plan is the cache-independent COLD plan (a warm cache
    truncates the visible plan at an InMemoryTableScan, making the
    exchange count depend on which banded queries happened to build
    earlier in the same session — capture-order noise, not plan shape).
    Also called by bench.py before EVERY timed run (r14): the cache must
    not carry the signature pipeline's cost out of the timed region.
    Not used on query paths."""
    while _BANDED_CACHE:
        _BANDED_CACHE.pop().unpersist()


def _banded_cache_put(df: DataFrame) -> DataFrame:
    """Persist ``df`` into the bounded banded-frame cache and return the
    frame to use: the already-persisted equivalent entry (same
    canonicalized plan — refreshed to most-recently-used) when one is
    live, else ``df`` itself, persisted, with the LRU entry evicted past
    capacity."""
    analyzed = df._jdf.queryExecution().analyzed()
    for i, old in enumerate(_BANDED_CACHE):
        if old._jdf.queryExecution().analyzed().sameResult(analyzed):
            _BANDED_CACHE.append(_BANDED_CACHE.pop(i))
            # an external spark.catalog.clearCache() (the bench's
            # between-queries hygiene) unpersists entries this list still
            # holds; returning such an entry un-re-persisted silently
            # recomputes the signature pipeline per consumer — the exact
            # pathology the rebuild-dedup exists to prevent (VERDICT r13
            # item 3 secondary bug). storageLevel consults the live
            # CacheManager, so a stale entry is re-persisted here.
            lvl = old.storageLevel
            if not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap):
                old.persist()
            return old
    df = df.persist()
    _BANDED_CACHE.append(df)
    while len(_BANDED_CACHE) > _BANDED_CACHE_KEEP:
        _BANDED_CACHE.pop(0).unpersist()
    return df


def _banded_self_join(
    banded: DataFrame, on: tuple[str, ...] = ("band",), *, extra=(), keep=None
) -> DataFrame:
    """Distinct ``(id_a, id_b, *extra)`` pairs, id_a < id_b, of the rows
    of an ``(id, *on, …)`` frame that agree on every ``on`` column — the
    family's bucket self-join: pairs are generated only within buckets,
    hash-partitioned, never all-pairs. ``extra`` columns may read either
    side as ``a.<col>`` / ``b.<col>``; ``keep`` filters the projected
    pairs before the distinct (SimHash's exact hamming check).

    ``banded`` is persisted through the bounded banded-frame cache first:
    the self-join would otherwise recompute the whole signature pipeline
    on both sides, while the banded rows are tiny (one per doc per band).
    Bounded LRU with rebuild-dedup: interleaved pipelines (build A, build
    B, run A) don't thrash each other's entry, and repeated identical
    builds (bench loops, oracle sweeps) reuse ONE entry instead of
    self-evicting it (see :func:`_banded_cache_put`)."""
    banded = _banded_cache_put(banded)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on=list(on))
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), *extra)
    )
    if keep is not None:
        pairs = pairs.where(keep)
    return pairs.distinct()


def _banded_from_tokenized(
    tokenized: DataFrame, *, n: int, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band) classic MinHash LSH band keys from an (id, toks) frame:
    affine-min signature → band keys from the aggregated columns."""
    sig = _minhash_mins(tokenized, n=n, num_hashes=num_hashes)
    keys = _band_keys(
        [f"h{i}" for i in range(num_hashes)], bands, param="num_hashes"
    )
    return sig.select("id", F.explode(keys).alias("band"))


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate candidate pairs (a < b) sharing ≥1 LSH band.

    Scale shape (explode → aggregate → bucket-join):
      1. explode shingles (1 row per (doc, shingle); no per-row array
         re-traversals — the expression-form signature recomputes 8 md5
         passes over the array per row and blows the codegen budget);
      2. one hash aggregation computing all ``num_hashes`` mins at once —
         map-side partial agg collapses the shuffle to ~1 row per doc per
         partition;
      3. band keys from the aggregated columns, self-join on band key:
         pairs generated only within buckets, hash-partitioned.
    Docs with fewer than ``n`` tokens have no shingles and drop out.
    """
    tokenized = _tokenized(docs, id_col, text_col)
    # pre-hash parallelism: repartition when the input is file-backed with
    # fewer files than cores. inputFiles() is a plan-time no-op (vs .rdd
    # conversion, ~1s of driver analysis); non-scan inputs are left alone
    # (already spread by their shuffle; repartitioning them is a wasted
    # full shuffle at scale). File *count* is only a proxy for scan
    # partitions: a single splittable multi-GB file or many tiny coalesced
    # files misdetect.
    spark = docs.sparkSession
    try:
        n_src = len(tokenized.inputFiles())
    except Exception:
        n_src = 0
    if 0 < n_src < spark.sparkContext.defaultParallelism:
        tokenized = tokenized.repartition(spark.sparkContext.defaultParallelism)
    return _banded_self_join(
        _banded_from_tokenized(tokenized, n=n, num_hashes=num_hashes, bands=bands)
    )


#: rotation-densification offset constant: strictly above the 30-bit base
#: hash range, so a borrowed value can never collide with a native one from
#: a different distance (Shrivastava & Li ICML'14, the C in H_j = M + t*C)
OPH_DENSIFY_C = 2**30


def oph_signature_df(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_bins: int = 8,
) -> DataFrame:
    """One-Permutation-Hashing MinHash signature (Li, Owen & Zhang NIPS'12;
    densification per Shrivastava & Li ICML'14 rotation scheme).

    Classic k-hash MinHash evaluates k affine hashes per shingle row
    (minhash_candidate_pairs). OPH hashes each shingle ONCE, partitions
    the hash range into ``num_bins`` bins (bin = h mod k), and takes the
    min base hash within each bin; an empty bin j borrows cyclically from
    the first non-empty bin j+t with offset t·C ("rotation
    densification", which restores the unbiased Jaccard collision
    estimate). At 100 TB the win is one hash+bin probe per shingle
    instead of k affine+min updates (compute). The banded candidate paths
    map-side-combine to ~1 row/doc/partition either way, so their shuffle
    bytes are at parity — measured, not assumed (SCALE.md r11 shuffle
    table).

    Output: one row per doc, sig_0..sig_{k-1} bigint columns. Docs with
    fewer than ``n`` tokens have no shingles and drop out (same contract as
    minhash_candidate_pairs).
    """
    # all bins in ONE hash aggregation: fixed-width buffer, map-side
    # combine; agg list and densification are static templates over fixed
    # names — memoized (the rotation coalesce alone is num_bins² Column
    # ops of py4j chatter per build otherwise; exprtools, r13)
    bin_aggs = static_template(
        "oph_bin_aggs",
        str(num_bins),
        lambda: [
            F.min(F.when(F.col("h") % num_bins == j, F.col("h"))).alias(f"b{j}")
            for j in range(num_bins)
        ],
    )
    hashed = _shingle_hashes(_tokenized(docs, id_col, text_col), n)
    binned = hashed.groupBy("id").agg(*bin_aggs)
    dense = static_template(
        "oph_densify",
        str(num_bins),
        lambda: [
            F.coalesce(
                *[
                    F.col(f"b{(j + t) % num_bins}") + F.lit(t * OPH_DENSIFY_C)
                    for t in range(num_bins)
                ]
            ).alias(f"sig_{j}")
            for j in range(num_bins)
        ],
    )
    return binned.select("id", *dense)


def oph_band_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_bins: int = 8,
    bands: int = 4,
) -> DataFrame:
    """``(id, band)`` LSH band keys from the OPH signature — the shared
    banding stage of :func:`oph_candidate_pairs` and the streaming
    ``ContinuousOphIndex`` (one expression path, batch == maintained)."""
    keys = _band_keys(
        [f"sig_{j}" for j in range(num_bins)], bands, param="num_bins"
    )
    sig = oph_signature_df(docs, id_col, text_col, n=n, num_bins=num_bins)
    return sig.select("id", F.explode(keys).alias("band"))


def oph_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_bins: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate candidate pairs from the OPH signature — the same
    banded self-join as minhash_candidate_pairs (rows_per_band =
    num_bins/bands, md5 band keys), built from one hash pass instead of
    ``num_hashes`` affine evaluations per shingle."""
    return _banded_self_join(
        oph_band_rows(docs, id_col, text_col, n=n, num_bins=num_bins, bands=bands)
    )


def bbit_band_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 8,
    b: int = 4,
    bands: int = 2,
) -> DataFrame:
    """``(id, band)`` LSH band keys from b-bit-truncated MinHash values —
    the shared banding stage of :func:`bbit_minhash_pairs` and the
    streaming ``ContinuousBbitIndex`` (one expression path, batch ==
    maintained)."""
    keys = _band_keys(
        [f"s{i}" for i in range(num_hashes)], bands, param="num_hashes"
    )
    mins = _minhash_mins(
        _tokenized(docs, id_col, text_col), n=n, num_hashes=num_hashes
    )
    # the b-bit truncation: keep the low b bits of each min value
    sig = mins.select(
        "id",
        *[(F.col(f"h{i}") % F.lit(2**b)).alias(f"s{i}") for i in range(num_hashes)],
    )
    return sig.select("id", F.explode(keys).alias("band"))


def bbit_signature_df(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 8,
    b: int = 4,
) -> DataFrame:
    """PACKED b-bit MinHash signatures: one row per doc, one integer
    column ``sig`` carrying all ``num_hashes`` truncated values
    (hash i in bits [i·b, (i+1)·b)). This is the artifact the 64/b×
    storage claim is about — 8 hashes × 4 bits = one int32 per doc vs
    8 int64s for the classic signature table (measured at sf1 in
    SCALE.md's r11 storage note). ``num_hashes·b`` must fit 63 bits.
    Unpack hash i as ``(sig >> (i*b)) & (2^b - 1)`` — the banding in
    :func:`bbit_band_rows` stays on the unpacked columns (identical
    keys either way); pack for STORAGE, unpack to band."""
    if num_hashes * b > 63:
        raise ValueError("num_hashes * b must fit in 63 bits")
    mins = _minhash_mins(
        _tokenized(docs, id_col, text_col), n=n, num_hashes=num_hashes
    )
    packed = mins.select(
        "id",
        sum(
            ((F.col(f"h{i}") % F.lit(2**b)) * F.lit(2 ** (i * b)))
            for i in range(num_hashes)
        ).alias("sig"),
    )
    if num_hashes * b <= 31:
        packed = packed.select("id", F.col("sig").cast("int").alias("sig"))
    return packed


def bbit_minhash_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 8,
    b: int = 4,
    bands: int = 2,
) -> DataFrame:
    """Near-duplicate candidate pairs from b-BIT MinHash signatures
    (Li & König WWW'10): store only the lowest ``b`` bits of each MinHash
    value. At 100 TB the signature table is often the dominant artifact —
    b-bit cuts it 64/b× (8 hashes × 4 bits = 4 BYTES per doc here) at a
    known accuracy cost: per-hash collision probability becomes
    ``P_b ≈ 2^-b + (1 - 2^-b)·J``, i.e. a 1/16 chance-collision floor at
    b=4, compensated by widening bands (``num_hashes/bands`` rows per band
    vs classic 2) so random 4-row bands collide at ~2^-16.

    Same exploded-aggregation shape as minhash_candidate_pairs (one hash
    aggregation computes all mins; fixed-width buffer, map-side combine);
    the banded self-join is hash-partitioned, never all-pairs. Docs with
    fewer than ``n`` tokens drop out.
    """
    return _banded_self_join(
        bbit_band_rows(
            docs, id_col, text_col, n=n, num_hashes=num_hashes, b=b, bands=bands
        )
    )


def jaccard_ngram(text_a: Column, text_b: Column, n: int = 3) -> Column:
    """Exact n-gram Jaccard similarity between two texts (use on LSH
    candidates, never all pairs)."""
    sa = F.array_distinct(ngram_shingles(text_a, n))
    sb = F.array_distinct(ngram_shingles(text_b, n))
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def simhash64(text: Column) -> Column:
    """64-bit SimHash of the token set, as a bigint.

    Per token: 60-bit hash from the md5 hex prefix; each bit votes ±1;
    simhash bit = majority. Expression-only (aggregate over the token
    array); for the exploded aggregation shape use a groupBy on token hash
    — same result, bounded per-row work.
    """
    tok = F.array_distinct(tokens(text))
    hashes = F.transform(tok, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"))

    def vote_fn(b: int):
        # closure factory: a `bb=b` default would make the lambda look
        # 3-parameter to F.aggregate's arity check
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = []
    for b in range(60):
        vote = F.aggregate(hashes, F.lit(0), vote_fn(b))
        bits.append(F.when(vote > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long")))
    total = bits[0]
    for bit in bits[1:]:
        total = total + bit
    return total


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures_df(df, id_col: str, text: str):
    """Per-document SimHash as a DataFrame (id, sim) via the exploded
    aggregation shape: explode(distinct tokens) → one md5/conv per token →
    groupBy(id) with 60 conditional-sum bit votes (HashAggregate,
    fixed-width integer buffers — same shuffle shape as the MinHash
    signature aggregation, and ~10× faster than evaluating the 60-aggregate
    Column expression per row)."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.col(text)))).alias("t"),
    )
    h = tok.select(
        "id", F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(60)
    ]
    v = h.groupBy("id").agg(*votes)
    total: Column = F.lit(0).cast("long")
    for b in range(60):
        total = total + F.when(
            F.col(f"v{b}") > 0, F.lit(2**b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return v.select("id", total.alias("sim"))


def simhash_chunk_rows(df, id_col: str, text: str, *, chunks: int = 4):
    """``(id, sim, ci, cv)`` pigeonhole chunk rows of the SimHash
    fingerprint — the shared bucketing stage of
    :func:`simhash_candidate_pairs` and the streaming
    ``ContinuousSimhashIndex`` (one expression path, batch ==
    maintained). ``sim`` rides along for the exact hamming check on
    candidates."""
    bits = 60 // chunks
    mask = (1 << bits) - 1
    sims = simhash_signatures_df(df, id_col, text)
    return sims.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright("sim", bits * i).bitwiseAND(F.lit(mask)).alias("cv"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("chunk"),
    ).select("id", "sim", "chunk.ci", "chunk.cv")


def _check_pigeonhole(hamming_threshold: int, chunks: int) -> None:
    if hamming_threshold > chunks - 1:
        raise ValueError(
            f"hamming_threshold={hamming_threshold} needs at least "
            f"{hamming_threshold + 1} chunks for the pigeonhole guarantee"
        )


def simhash_candidate_pairs(
    df,
    id_col: str,
    text: str,
    *,
    hamming_threshold: int = 3,
    chunks: int = 4,
):
    """Near-dup pairs by SimHash: pigeonhole-chunked bucket join, never n².

    Split the 60-bit fingerprint into ``chunks`` pieces; two fingerprints
    within hamming distance ``hamming_threshold`` ≤ chunks-1 must agree on
    at least one whole chunk (pigeonhole), so the candidate set is the
    family's banded self-join on (chunk index, chunk value) —
    hash-partitioned, linear in corpus size like the MinHash band join —
    followed by the exact hamming check on candidates only. Returns
    (id_a, id_b, hamming), id_a < id_b.
    """
    _check_pigeonhole(hamming_threshold, chunks)
    return _banded_self_join(
        simhash_chunk_rows(df, id_col, text, chunks=chunks),
        ("ci", "cv"),
        extra=[hamming64(F.col("a.sim"), F.col("b.sim")).alias("hamming")],
        keep=F.col("hamming") <= hamming_threshold,
    )


def embedding_near_dup_pairs(
    embeddings,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int | None = None,
    num_tables: int = 1,
    dim: int | None = None,
):
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) for all
    pairs with cosine similarity above `threshold`.

    Exact form (num_planes=None): self-join on id_a < id_b — O(n²) pairs,
    correct baseline for correctness checks and modest n. Scale path
    (num_planes set): candidates restricted to equal sign-LSH buckets first
    (hash-partitioned equi-joins instead of a cross product — the same
    band-join shape as minhash_candidate_pairs). ``num_tables`` > 1 unions
    candidates across independent plane sets — the standard LSH recall
    knob: collision probability for a pair at angle θ rises from
    (1−θ/π)^k to 1−(1−(1−θ/π)^k)^L while candidate volume stays
    ≈ L·n²/2^k. Pairs colliding in several tables are deduped after
    scoring (cosine is deterministic, so DISTINCT collapses them exactly).
    Pass ``dim`` (fixed embedding length) to fold LSH planes into literals
    and unroll the cosine — full codegen instead of interpreted lambdas.
    """
    from proxima_platform_spark.functions.similarity import (
        cosine_similarity,
        dot,
        l2_norm,
        sign_lsh_buckets_arrow,
    )

    if num_planes is not None:
        # integer-exact Arrow bucket stage (order-independent fixed-point
        # projections -> numpy matrix product; see sign_lsh_buckets_arrow)
        # + the per-vector norm, staged ONCE and persisted: both sides of
        # the self-join are projections of the same cached frame. Without
        # the persist, alias-renamed sides canonicalize differently, no
        # ReusedExchange fires, and the Arrow decode+matmul runs TWICE per
        # query (measured: MapInPandas ×2 in the physical plan). Same
        # bounded-FIFO cache hygiene as the minhash banded signatures.
        staged0 = sign_lsh_buckets_arrow(
            embeddings.select(
                F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
            ),
            vec_col="__v",
            num_planes=num_planes,
            num_tables=num_tables,
        ).withColumn(
            "__n",
            # SQL-text operands when dim is known: one F.expr instead of
            # ~5 py4j calls per dimension at query-build time (r13)
            l2_norm("`__v`", dim=dim) if dim is not None
            else l2_norm(F.col("__v")),
        )
        tb = F.array(*[
            F.struct(F.lit(t).alias("t"), F.col(f"__b{t}").alias("b"))
            for t in range(num_tables)
        ])
        staged = staged0.select(
            "__id", "__v", "__n", F.explode(tb).alias("__tb")
        ).select(
            "__id", "__v", "__n",
            F.col("__tb.t").alias("__t"), F.col("__tb.b").alias("__bucket"),
        )
        staged = _banded_cache_put(staged)
        a = staged.select(
            F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
            F.col("__n").alias("__na"), "__t", "__bucket",
        )
        b = staged.select(
            F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
            F.col("__n").alias("__nb"), "__t", "__bucket",
        )
        pairs = a.join(b, ["__t", "__bucket"]).where(F.col("id_a") < F.col("id_b"))
        denom = F.col("__na") * F.col("__nb")
        d_ab = (
            dot("`__va`", "`__vb`", dim=dim) if dim is not None
            else dot(F.col("__va"), F.col("__vb"))
        )
        cos = F.when(denom > 0, d_ab / denom).otherwise(F.lit(0.0))
        scored = pairs.select(
            "id_a", "id_b", cos.alias("cosine")
        ).where(F.col("cosine") > threshold)
        return scored.distinct() if num_tables > 1 else scored
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a", "id_b",
        (
            cosine_similarity("`__va`", "`__vb`", dim=dim) if dim is not None
            else cosine_similarity(F.col("__va"), F.col("__vb"))
        ).alias("cosine"),
    ).where(F.col("cosine") > threshold)


def _paragraph_array(text_col: str, delimiter: str) -> Column:
    """Trimmed non-empty paragraph array of a text column — the split
    stage of :func:`dedup_paragraphs`, shared with the cross-batch
    maintainer (streaming/ccnet_stream.py) so both dedup scopes split
    identically by construction."""
    return F.filter(
        F.transform(
            F.split(F.col(text_col), delimiter, -1), lambda l: F.trim(l)
        ),
        lambda l: F.length(l) > 0,
    )


def paragraph_winners(exploded, *, id_col: str = "doc_id"):
    """First occurrence per paragraph fingerprint from exploded
    ``(id_col, pos, para)`` rows: ``(__fp, id_col, pos, para)`` with the
    lexicographic struct-min winner on (id, pos, para) — (id, pos) is
    unique so the winner is deterministic. min() is associative and
    idempotent, which is exactly what lets the maintained winner table
    merge per-batch winner frames into the union's winner table."""
    return (
        exploded.groupBy(F.md5("para").alias("__fp"))
        .agg(F.min(F.struct(id_col, "pos", "para")).alias("k"))
        .select(
            "__fp",
            F.col(f"k.{id_col}").alias(id_col),
            F.col("k.pos").alias("pos"),
            F.col("k.para").alias("para"),
        )
    )


def reassemble_paragraphs(kept, *, id_col: str = "doc_id", delimiter: str = "\n"):
    """Stitch winner paragraphs back into per-document text in original
    order: ``(id_col, n_kept, text_dedup)`` — the reassembly stage of
    :func:`dedup_paragraphs`, shared with the maintainer."""
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            delimiter,
        ).alias("text_dedup"),
    )


def dedup_paragraphs(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
):
    """Paragraph-level exact deduplication with reassembly — the CCNet /
    RefinedWeb pretraining primitive: split each document into paragraphs,
    drop every corpus-wide duplicate paragraph except its first occurrence
    (smallest ``(id, position)``), and stitch the survivors back together in
    original order.

    Returns ``(id_col, n_para, n_kept, text_dedup)`` — one row per input
    document, ``text_dedup = ''`` when every paragraph was a duplicate.

    Scale shape (100 TB): paragraphs explode narrowly (no shuffle); the
    first-occurrence winner per fingerprint is a ``groupBy(md5).agg(min(
    struct))`` — partial map-side combine makes a boilerplate paragraph
    repeated 10⁹ times cost one row per map task, where the equivalent
    ``row_number() OVER (PARTITION BY fp)`` window would funnel the hot
    fingerprint through a single reducer. The winner set IS the kept set
    (no join back), so the whole operator is explode → agg → agg → one
    left join on the id: three shuffles, no cartesian, no driver state.
    """
    # staged once (lazy localCheckpoint): the paragraph frame feeds both
    # the explode chain and the per-doc counts — the self_dedup_spans
    # staging lesson applied to its parent operator
    base = docs.select(
        F.col(id_col), _paragraph_array(text_col, delimiter).alias("__paras")
    ).localCheckpoint(eager=False)
    exploded = base.select(
        id_col, F.posexplode("__paras").alias("pos", "para")
    )
    kept = paragraph_winners(exploded, id_col=id_col).select(
        id_col, "pos", "para"
    )
    reassembled = reassemble_paragraphs(
        kept, id_col=id_col, delimiter=delimiter
    )
    counts = base.select(id_col, F.size("__paras").alias("n_para"))
    return counts.join(reassembled, id_col, "left").select(
        id_col,
        "n_para",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


def self_dedup_spans(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 3,
):
    """Within-document repeated-span removal — the intra-document half of
    span-level dedup (Gopher-style repeated-passage cleanup, public corpus
    recipes; :func:`dedup_paragraphs` handles the cross-document half):
    normalized tokens are cut into consecutive NON-overlapping
    ``span_tokens``-token spans (last span may be short), every span that
    already occurred earlier in the SAME document is dropped (first
    occurrence kept), and survivors are stitched back in original order.

    Returns ``(id_col, n_spans, n_kept, text_dedup)`` — one row per input
    document.

    Scale shape (100 TB): the ``dedup_paragraphs`` machinery one level
    down, keyed per document — spans explode narrowly; first occurrence
    per (doc, span) is a map-side-combined ``min(pos)`` agg (a document's
    boilerplate span repeated 10⁴ times collapses to one row per map
    task, and the shuffle key (doc, span) cannot concentrate: one
    document's spans spread over its distinct span values); reassembly is
    one more per-doc agg. Three shuffles total, no window over raw spans,
    no cartesian, no Python."""
    toks = tokens(F.col(text_col))
    based = docs.select(F.col(id_col), toks.alias("__toks"))
    t = F.col("__toks")
    n = F.size(t)
    # tokens('') == [''] so n >= 1 always; starts = 0, k, 2k, … < n
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(span_tokens))
    spans = F.transform(
        starts, lambda s: F.array_join(F.slice(t, s + 1, span_tokens), " ")
    )
    # staged once (lazy localCheckpoint): the span frame feeds both the
    # explode chain and the per-doc counts — without it the tokenize +
    # span-build projection runs per consumer
    sp = based.select(id_col, spans.alias("__spans")).localCheckpoint(
        eager=False
    )
    exploded = sp.select(id_col, F.posexplode("__spans").alias("pos", "span"))
    kept = exploded.groupBy(id_col, "span").agg(F.min("pos").alias("pos"))
    reassembled = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    counts = sp.select(id_col, F.size("__spans").alias("n_spans"))
    return counts.join(reassembled, id_col, "left").select(
        id_col,
        "n_spans",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


def dup_ngram_coverage(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
):
    """Cross-document duplicated-passage coverage — for each document,
    how much of it is n-gram-exactly shared with OTHER documents (the
    RefinedWeb/Lee-et-al.-style overlap diagnostic; the cheap-and-exact
    cousin of suffix-array substring dedup at a fixed granularity):

      * a token n-gram is DUPLICATED when it occurs in ≥ 2 distinct docs;
      * a token position is COVERED when some duplicated gram's window
        contains it;
      * output per doc: ``n_tokens``, ``n_grams``, ``n_dup_grams``
        (duplicated-gram occurrences), ``covered_tokens`` (union length
        of the windows), ``coverage`` (covered/tokens, 6 decimals).

    Scale shape (100 TB): grams explode narrowly; distinct-doc counting
    per gram is TWO map-side-combined aggs — ``(fp, doc)`` then ``fp`` —
    never a countDistinct shuffle of raw occurrences (a boilerplate gram
    repeated 10⁴× inside one doc collapses to one row per map task at
    the first agg). The dup-flag joins back on the gram fingerprint (a
    plain equi-join; a fingerprint hot across 10⁹ docs is AQE
    skew-split territory, noted), and the window union is one
    positions-explode + distinct + per-doc count — bounded by n · dup
    occurrences, not by the corpus."""
    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    counts = base.select(id_col, F.size("__toks").alias("n_tokens"))
    # staged once (lazy localCheckpoint): occ feeds three consumers (the
    # per-gram doc counts, the per-doc gram counts, and the dup join) —
    # without the materialization the tokenize + explode + md5 subtree,
    # the dominant cost on a full-corpus run, re-executes per consumer
    # (the semantic_dedup lesson; lazy so the first downstream job both
    # stores and consumes the blocks)
    occ = (
        base.select(
            id_col,
            F.posexplode(shingles_from_tokens(F.col("__toks"), n)).alias(
                "pos", "gram"
            ),
        )
        .select(id_col, "pos", F.md5("gram").alias("__fp"))
        .localCheckpoint(eager=False)
    )
    per_doc = occ.groupBy("__fp", id_col).agg(F.count(F.lit(1)).alias("__o"))
    dup_fps = (
        per_doc.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("__fp")
    )
    dup_occ = occ.join(dup_fps, "__fp")
    gram_counts = occ.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    # window-union length WITHOUT an n× positions explode + global
    # distinct: the duplicated windows all have length n, so sorted by
    # start each one overlaps only its predecessor and the union is
    # n + Σ min(n, sᵢ − sᵢ₋₁) — one per-doc agg over a doc-bounded start
    # list, a narrow pairwise fold, zero extra shuffles (measured ~2×
    # the explode+distinct form at sf0.1)
    dup_stats = dup_occ.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.array_sort(F.collect_list("pos")).alias("__ss"),
    )
    ss = F.col("__ss")
    m = F.size(ss)
    diffs = F.zip_with(
        F.slice(ss, 2, m - 1),
        F.slice(ss, 1, m - 1),
        lambda a, b: F.least(F.lit(n), a - b),
    )
    covered_expr = F.lit(n) + F.aggregate(
        diffs, F.lit(0), lambda acc, x: acc + x
    )
    dup_stats = dup_stats.select(
        id_col, "n_dup_grams", covered_expr.alias("covered_tokens")
    )
    out = counts.join(gram_counts, id_col, "left").join(
        dup_stats, id_col, "left"
    )
    return out.select(
        id_col,
        "n_tokens",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("coverage"),
    )


def dedup_substrings(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
):
    """Cross-document exact-substring deduplication — the ExactSubstr
    shape (Lee et al., "Deduplicating Training Data Makes Language Models
    Better": remove every duplicated passage, keep its first occurrence)
    at fixed n-gram granularity: a token n-gram occurring in ≥ 2 DISTINCT
    documents is duplicated; its globally-first occurrence (lexicographic
    min (doc_id, pos)) is kept and every other occurrence's n-token
    window is cut from its document, survivors stitched back in original
    order. The cross-document cutter that completes the family:
    :func:`dup_ngram_coverage` MEASURES this overlap, and
    :func:`self_dedup_spans` cuts the within-document half.

    Returns ``(id_col, n_tokens, n_kept, n_removed, text_dedup)`` — one
    row per input document.

    Semantics worth pinning: removal windows win over kept windows — if
    a removed occurrence overlaps the kept first occurrence inside one
    document (self-overlapping repeats like "a b a b a b"), the shared
    tokens are still cut; the kept window only guarantees the gram
    survives SOMEWHERE, not that its tokens are immune. Within-doc-only
    repeats (one doc, ≥ 2 occurrences, no second doc) are NOT touched —
    that is :func:`self_dedup_spans`' contract. Cutting can splice
    previously-distant tokens together, so re-running the operator can
    find (and cut) NEW duplicated grams — like suffix-array ExactSubstr,
    it is not idempotent; pipelines iterate to a fixpoint or accept one
    pass.

    Scale shape (100 TB): every stage is keyed and bounded, no window
    over raw occurrences, no cartesian, no Python —

      * duplicated-gram detection is the ``dup_ngram_coverage`` two-agg
        ladder: ``(fp, doc) → min(pos)`` map-side-combines a boilerplate
        gram repeated 10⁴× within one doc to one row per map task, then
        one ``fp`` agg both counts distinct docs AND picks the global
        winner (``min(doc_id)`` + ``min_by(pos, doc_id)`` — algebraic,
        no sort);
      * removal windows explode n× over REMOVED occurrences only (dup
        occurrences minus winners), then collapse to ONE position-set row
        per affected document (map-side-combined ``collect_set`` —
        bounded by n · dup volume, and a document's removed-position set
        is bounded by its own token count);
      * the cut is a pure array projection: ``array_except(sequence(0,
        n_tokens−1), removed_set)`` preserves first-array order, so kept
        tokens come straight off the pinned token array by index — the
        corpus-token explode, the (doc, pos) anti-join and the
        collect_list/array_sort reassembly shuffle (two corpus-token
        exchanges) are gone; only the bounded removed sets shuffle.

    A gram fingerprint hot across 10⁹ docs skews the ``fp`` equi-join —
    AQE skew-join territory, same note as ``dup_ngram_coverage``."""
    base = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).localCheckpoint(eager=False)
    # staged once: occ feeds the (fp,doc) agg AND the removal join — the
    # tokenize + shingle + md5 subtree is the dominant cost (the
    # dup_ngram_coverage lesson)
    occ = (
        base.select(
            F.col(id_col),
            F.posexplode(shingles_from_tokens(F.col("__toks"), n)).alias(
                "pos", "gram"
            ),
        )
        .select(id_col, "pos", F.md5("gram").alias("__fp"))
        .localCheckpoint(eager=False)
    )
    per_doc = occ.groupBy("__fp", id_col).agg(F.min("pos").alias("__mp"))
    # winner per duplicated gram: first doc to contain it, earliest
    # position there. min_by is deterministic here — one row per
    # (fp, doc), so no doc_id ties.
    winners = (
        per_doc.groupBy("__fp")
        .agg(
            F.count(F.lit(1)).alias("__nd"),
            F.min(id_col).alias("__wd"),
            F.min_by("__mp", F.col(id_col)).alias("__wp"),
        )
        .where(F.col("__nd") >= 2)
        .select("__fp", "__wd", "__wp")
    )
    rem = occ.join(winners, "__fp").where(
        ~((F.col(id_col) == F.col("__wd")) & (F.col("pos") == F.col("__wp")))
    )
    removed = (
        rem.select(
            F.col(id_col).alias("__rid"),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("__rp"),
        )
        .groupBy("__rid")
        .agg(F.collect_set("__rp").alias("__rem"))
    )
    empty_i = F.array().cast("array<int>")
    joined = base.join(
        removed, base[id_col] == removed["__rid"], "left"
    )
    all_pos = F.when(
        F.size("__toks") > 0, F.sequence(F.lit(0), F.size("__toks") - 1)
    ).otherwise(empty_i)
    kept_pos = F.array_except(all_pos, F.coalesce(F.col("__rem"), empty_i))
    # kept_pos routed through a single-element explode so the
    # array_except evaluates ONCE per row — the kmeans/r07
    # projection-collapse idiom (three consumers below)
    return (
        joined.select(
            base[id_col].alias(id_col),
            F.col("__toks"),
            F.explode(F.array(kept_pos)).alias("__kp"),
        )
        .select(
            id_col,
            F.size("__toks").alias("n_tokens"),
            F.size("__kp").cast("long").alias("n_kept"),
            (F.size("__toks") - F.size("__kp")).cast("long").alias(
                "n_removed"
            ),
            F.array_join(
                F.transform(
                    "__kp", lambda p: F.element_at(F.col("__toks"), p + 1)
                ),
                " ",
            ).alias("text_dedup"),
        )
    )


def dedup_substrings_maximal(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
):
    """Variable-length cross-document exact-substring deduplication —
    the full ExactSubstr semantics (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): remove every duplicated token
    span of length >= ``min_len`` AT ARBITRARY ALIGNMENT, preserving the
    globally-first occurrence of the duplicated content WHOLE.

    Generalizes :func:`dedup_substrings` (fixed-n gram runs) in the two
    places the fixed-granularity cut diverges from the canonical
    operator:

      * **maximal runs**: a duplicated span of length M >= min_len
        consists of M - min_len + 1 overlapping duplicated min_len-grams
        (every min_len-window inside a shared span is itself shared);
        their removal windows are unioned PER TOKEN, so adjacent/
        overlapping windows merge into the maximal run and the planted
        L+7-token duplicate at an unaligned offset is cut whole, never
        fragmented. Conversely every cut token IS inside some duplicated
        span >= min_len — the per-token union is exactly the "any
        duplicated substring >= L" region of the suffix-array operator.
      * **first occurrence preserved**: the winner window of every
        duplicated gram (globally-first doc, earliest position there) is
        IMMUNE to removal — ``dedup_substrings``' documented
        "removal wins over kept" approximation destroys the kept copy
        under self-overlapping repeats ("a b a b a b" keeps nothing);
        here kept wins, so NO duplicated gram's content is ever erased
        from its last remaining site. Each removed token is therefore
        still readable at the winning occurrence — the ExactSubstr
        keep-one contract.

    Returns ``(id_col, n_tokens, n_kept, n_removed, n_runs_cut,
    max_run_len, text_dedup)`` — run stats expose the maximal-run
    structure (a single planted L+7 duplicate shows as one run of
    length L+7, not fragments).

    Scale shape (100 TB): identical to :func:`dedup_substrings` —
    two map-side-combined gram aggs, winner selection via algebraic
    ``min``/``min_by`` (no sort), window explodes bounded by duplicated
    occurrence volume, the cut a pure ``array_except`` projection off
    ONE bounded position-set row per affected doc (no corpus-token
    explode, no anti-join, no reassembly shuffle). The only additions
    are a second bounded explode (winner windows — at most one window
    per duplicated gram) and run stats computed straight off the sorted
    position array (consecutive-run detection is an array expression,
    not a per-doc window sort). Ref parity anchor: the reference runs
    user-code transforms for this class of corpus op
    (tools/groovy/Stream.java flatMap); here the whole cut is
    declarative codegen.
    """
    n = min_len
    if n < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    base = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).localCheckpoint(eager=False)
    occ = (
        base.select(
            F.col(id_col),
            F.posexplode(shingles_from_tokens(F.col("__toks"), n)).alias(
                "pos", "gram"
            ),
        )
        .select(id_col, "pos", F.md5("gram").alias("__fp"))
        .localCheckpoint(eager=False)
    )
    per_doc = occ.groupBy("__fp", id_col).agg(F.min("pos").alias("__mp"))
    winners = (
        per_doc.groupBy("__fp")
        .agg(
            F.count(F.lit(1)).alias("__nd"),
            F.min(id_col).alias("__wd"),
            F.min_by("__mp", F.col(id_col)).alias("__wp"),
        )
        .where(F.col("__nd") >= 2)
        .select("__fp", "__wd", "__wp")
        .localCheckpoint(eager=False)
    )
    rem = occ.join(winners, "__fp").where(
        ~((F.col(id_col) == F.col("__wd")) & (F.col("pos") == F.col("__wp")))
    )
    removed = rem.select(
        F.col(id_col).alias("__rid"),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("__rp"),
    ).distinct()
    # winner windows are immune: one n-token window per duplicated gram
    # (bounded by |winners|), unioned per token exactly like removals
    keptw = winners.select(
        F.col("__wd").alias("__rid"),
        F.explode(
            F.sequence(F.col("__wp"), F.col("__wp") + F.lit(n - 1))
        ).alias("__rp"),
    ).distinct()
    cut = removed.join(keptw, ["__rid", "__rp"], "left_anti")
    # ONE sorted position-set row per affected doc (map-side-combined
    # collect_set, bounded by dup volume / the doc's own token count);
    # the sorted array is routed through a single-element explode so
    # array_sort evaluates once per row despite the multiple references
    # below (the r07 projection-collapse idiom)
    cutsets = (
        cut.groupBy("__rid")
        .agg(F.collect_set("__rp").alias("__cs"))
        .select(
            "__rid", F.explode(F.array(F.array_sort("__cs"))).alias("__rs")
        )
    )
    # maximal-run stats straight off the sorted array: run starts are
    # the 0-based indices i with rs[i] != rs[i-1] + 1 — same grouping
    # the old rp - row_number() window computed, without the per-doc
    # exchange+sort or the two follow-up aggregations
    run_starts = F.filter(
        F.sequence(F.lit(0), F.size("__rs") - 1),
        lambda i: (i == F.lit(0))
        | (
            F.element_at(F.col("__rs"), i + 1)
            != F.element_at(F.col("__rs"), i) + 1
        ),
    )
    cutstats = cutsets.select(
        "__rid",
        "__rs",
        F.explode(F.array(run_starts)).alias("__st"),
    ).select(
        "__rid",
        "__rs",
        F.size("__st").cast("long").alias("__n_runs"),
        F.array_max(
            F.transform(
                "__st",
                lambda s, j: F.when(
                    j < F.size("__st") - 1,
                    F.element_at(F.col("__st"), j + 2),
                ).otherwise(F.size("__rs"))
                - s,
            )
        ).cast("long").alias("__max_run"),
    )
    # the cut is the same bounded-set array projection dedup_substrings
    # ships: kept positions come straight off the pinned token array —
    # the corpus-token explode, the (doc, pos) anti-join and the
    # collect_list reassembly shuffle are gone
    empty_i = F.array().cast("array<int>")
    joined = base.join(
        cutstats, base[id_col] == cutstats["__rid"], "left"
    )
    all_pos = F.when(
        F.size("__toks") > 0, F.sequence(F.lit(0), F.size("__toks") - 1)
    ).otherwise(empty_i)
    kept_pos = F.array_except(all_pos, F.coalesce(F.col("__rs"), empty_i))
    return (
        joined.select(
            base[id_col].alias(id_col),
            F.col("__toks"),
            F.col("__n_runs"),
            F.col("__max_run"),
            F.explode(F.array(kept_pos)).alias("__kp"),
        )
        .select(
            id_col,
            F.size("__toks").alias("n_tokens"),
            F.size("__kp").cast("long").alias("n_kept"),
            (F.size("__toks") - F.size("__kp")).cast("long").alias(
                "n_removed"
            ),
            F.coalesce("__n_runs", F.lit(0)).alias("n_runs_cut"),
            F.coalesce("__max_run", F.lit(0)).alias("max_run_len"),
            F.array_join(
                F.transform(
                    "__kp", lambda p: F.element_at(F.col("__toks"), p + 1)
                ),
                " ",
            ).alias("text_dedup"),
        )
    )


def dedup_winnow(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 4,
):
    """Winnow-based shared-span CUT — the dedup completion of the
    winnowing tier (VERDICT r08 #4): act on what
    :func:`~proxima_platform_spark.functions.text.winnow_overlap`
    REPORTS by cutting the flagged shared runs, winner-immune, first
    occurrence survives.

    Where :func:`dedup_substrings_maximal` cuts EXACT duplicated spans
    >= min_len tokens, this cuts spans witnessed by shared winnowed
    fingerprints — which detects near-verbatim blocks with small edits:
    an edit only perturbs the 3-grams that overlap it, and winnowing's
    detection theorem guarantees every untouched shared run >= w + 2
    tokens still shares a fingerprint, so a block whose edits are >= w+2
    tokens apart keeps getting caught between them while exact-gram
    dedup (min_len 8) misses every window that crosses an edit.

    Cut semantics (each step mirrors dedup_substrings_maximal, keyed by
    winnow fingerprint matches instead of fixed grams):

      1. fingerprint occurrences: the distinct (doc, pos, fp) winnow set
         (pos = 1-based gram start; gram covers 3 tokens).
      2. duplicated fps: present in >= 2 documents. No boilerplate cap:
         unlike the pair REPORT (quadratic in docs-per-fp), the cut
         keys every stage on fp or doc — occurrence-linear — so hot
         fps cost nothing extra and boilerplate is deliberately CUT.
      3. winner immunity: per fp, the globally-first occurrence
         (min doc, earliest position there) is immune — kept wins over
         removal, so every duplicated fingerprint's content survives at
         its winning site (the keep-one contract).
      4. run bridging: matched non-winner positions <= w grams apart in
         a doc merge into one island (winnowing selects >= 1 fingerprint
         per w-window inside a shared run, so interior match gaps are
         <= w; the tokens between them are part of the run). Each island
         [lo, hi] cuts tokens lo .. hi+2 whole.

    Returns ``(id_col, n_tokens, n_kept, n_removed, n_runs_cut,
    max_run_len, text_dedup)`` — the dedup_substrings_maximal schema.

    Scale shape (100 TB): fingerprint volume is corpus grams × 2/(w+1);
    winner selection is algebraic min/min_by (one map-side-combined agg
    keyed by fp); islands/runs are per-doc windows (doc-bounded sorts);
    the cut is one left-anti equi-join per token. No pair join anywhere
    — the quadratic docs-per-fp term of the overlap report never
    appears. Ref parity anchor: the reference runs user-code transforms
    for corpus ops (tools/groovy/Stream.java flatMap); here the whole
    cut is declarative codegen.
    """
    from pyspark.sql import Window

    from .text import winnow_fingerprints

    if w < 1:
        raise ValueError(f"window w must be >= 1, got {w}")
    base = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).localCheckpoint(eager=False)
    # winnow straight off the raw text: tokens() is idempotent
    # (re-tokenizing a joined token list is the identity), so the
    # fingerprint positions align with base's token positions without
    # paying an array_join + re-tokenize pass (~10% at sf0.1)
    # staged once: the fingerprint set feeds BOTH the winner aggregation
    # and the rem join — without the pin the explode+distinct pipeline
    # (the heaviest stage) executes once per consumer (measured ~1s of
    # the query at sf0.1; r13)
    fps = winnow_fingerprints(docs, id_col, text_col, w=w).localCheckpoint(
        eager=False
    )
    per_doc = fps.groupBy("fp", id_col).agg(F.min("pos").alias("__mp"))
    winners = (
        per_doc.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("__nd"),
            F.min(id_col).alias("__wd"),
            F.min_by("__mp", F.col(id_col)).alias("__wp"),
        )
        .where(F.col("__nd") >= 2)
        .select("fp", "__wd", "__wp")
        .localCheckpoint(eager=False)
    )
    rem = (
        fps.join(winners, "fp")
        .where(
            ~(
                (F.col(id_col) == F.col("__wd"))
                & (F.col("pos") == F.col("__wp"))
            )
        )
        .select(id_col, "pos")
        .distinct()
    )
    # island merge: a new island starts when the gap to the previous
    # matched gram exceeds w (the winnow density bound) — per-doc
    # windows, sort bounded by that doc's matches
    wd = Window.partitionBy(id_col).orderBy("pos")
    isl = (
        rem.withColumn("__prev", F.lag("pos").over(wd))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (F.col("pos") - F.col("__prev") > w),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(
                wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    islands = isl.groupBy(id_col, "__isl").agg(
        F.min("pos").alias("__lo"), F.max("pos").alias("__hi")
    )
    # 1-based gram [lo, hi] covers 0-based tokens lo-1 .. hi+1
    removed = islands.select(
        F.col(id_col).alias("__rid"),
        F.explode(
            F.sequence(F.col("__lo") - 1, F.col("__hi") + 1)
        ).alias("__rp"),
    ).distinct()
    keptw = winners.select(
        F.col("__wd").alias("__rid"),
        F.explode(
            F.sequence(F.col("__wp") - 1, F.col("__wp") + 1)
        ).alias("__rp"),
    ).distinct()
    cut = removed.join(keptw, ["__rid", "__rp"], "left_anti").localCheckpoint(
        eager=False
    )
    wr = Window.partitionBy("__rid").orderBy("__rp")
    run_len = (
        cut.select(
            "__rid", (F.col("__rp") - F.row_number().over(wr)).alias("__grp")
        )
        .groupBy("__rid", "__grp")
        .agg(F.count(F.lit(1)).alias("__rl"))
    )
    run_stats = run_len.groupBy("__rid").agg(
        F.count(F.lit(1)).alias("n_runs_cut"),
        F.max("__rl").alias("max_run_len"),
    )
    tok = base.select(F.col(id_col), F.posexplode("__toks").alias("tp", "tok"))
    kept = tok.join(
        cut,
        (tok[id_col] == cut["__rid"]) & (tok["tp"] == cut["__rp"]),
        "left_anti",
    )
    reassembled = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    counts = base.select(F.col(id_col), F.size("__toks").alias("n_tokens"))
    return (
        counts.join(reassembled, id_col, "left")
        .join(
            run_stats.withColumnRenamed("__rid", id_col), id_col, "left"
        )
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce("n_runs_cut", F.lit(0)).alias("n_runs_cut"),
            F.coalesce("max_run_len", F.lit(0)).alias("max_run_len"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def plan_bands(threshold: float, num_hashes: int) -> tuple[int, int]:
    """Pick the (bands, rows) factorization of ``num_hashes`` whose LSH
    S-curve pivots closest to the requested Jaccard ``threshold``.

    For b bands of r rows the candidate probability at similarity s is
    ``1-(1-s^r)^b``, steepest near ``(1/b)^(1/r)`` — the classic banding
    planner (MMDS ch.3). Callers feed the result to
    :func:`minhash_candidate_pairs`'s ``bands``: more bands → more
    candidates → higher recall at lower precision. Shuffle volume scales
    with ``docs × bands``, so at 100 TB this knob is the explicit
    recall-vs-shuffle trade, chosen from the dedup threshold rather than
    guessed.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    best = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        pivot = (1.0 / b) ** (1.0 / r)
        err = abs(pivot - threshold)
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]


def fuzzy_contaminated_doc_ids(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Fuzzy (near-duplicate) benchmark decontamination — the missing
    variant next to exact n-gram / exact-substring / Bloom: an eval doc
    PARAPHRASED into the corpus shares no long exact n-gram but keeps a
    high shingle-Jaccard. Candidates come from MinHash banding with
    (bands, rows) chosen by :func:`plan_bands` for ``threshold``; each
    candidate is then CONFIRMED by exact distinct-shingle Jaccard ≥
    threshold, so precision is exact and recall follows the planner's
    S-curve (quantified by the `minhash_recall_eval` harness).

    Scale shape: the corpus runs the same explode → hash-agg → band
    pipeline as :func:`minhash_candidate_pairs` (linear, one shuffle per
    doc·band); the eval side is benchmark-sized by definition, so its
    banded keys AND its shingle sets ride broadcast joins — the corpus is
    never shuffled by key and never self-joined. Returns one row per
    contaminated corpus doc: the best-matching eval doc (highest Jaccard,
    ties to the smallest eval id) with the Jaccard in exact micro-units.
    """
    from pyspark.sql import Window

    bands, _rows = plan_bands(threshold, num_hashes)
    corpus_tok = _tokenized(docs, id_col, text_col)
    eval_tok = _tokenized(eval_docs, id_col, text_col)
    corpus_banded = _banded_from_tokenized(
        corpus_tok, n=n, num_hashes=num_hashes, bands=bands
    )
    eval_banded = _banded_from_tokenized(
        eval_tok, n=n, num_hashes=num_hashes, bands=bands
    ).select(F.col("id").alias("eval_id"), "band")
    cand = (
        corpus_banded.join(F.broadcast(eval_banded), "band")
        .select("id", "eval_id")
        .distinct()
    )
    # exact confirm on the (small) candidate set: distinct-shingle Jaccard.
    # Integer micro-units — size() counts are exact ints, one fixed
    # double division + round, so the oracle replays the value bit-for-bit.
    # Shingle ONLY candidate docs: broadcast the (bounded — eval-sized ×
    # near-dup fanout) candidate pairs onto the raw corpus scan and build
    # the shingle array ABOVE the join, routed through a single-element
    # explode so it evaluates once per matched row (the r07 idiom). The
    # corpus is tokenized+shingled once (in the banding pass), not twice —
    # at scale this halves the corpus shingle passes (the dsir_resample
    # single-pass-keying lesson); cand stays single-consumer, so no pin.
    matched_sh = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .join(F.broadcast(cand), "id")
        .select(
            "id",
            "eval_id",
            F.explode(
                F.array(
                    F.array_distinct(
                        shingles_from_tokens(tokens(F.col("__t")), n)
                    )
                )
            ).alias("sa"),
        )
    )
    eval_sh = eval_tok.select(
        F.col("id").alias("eval_id"),
        F.array_distinct(shingles_from_tokens(F.col("toks"), n)).alias("sb"),
    )
    jac = (
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        / F.size(F.array_union(F.col("sa"), F.col("sb"))).cast("double")
    )
    confirmed = (
        matched_sh.join(F.broadcast(eval_sh), "eval_id")
        .select(
            "id",
            "eval_id",
            F.round(jac * 1_000_000, 0).cast("long").alias("jac_micro"),
        )
        .where(F.col("jac_micro") >= int(round(threshold * 1_000_000)))
    )
    w = Window.partitionBy("id").orderBy(F.desc("jac_micro"), "eval_id")
    return (
        confirmed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col("id").alias(id_col), "eval_id", "jac_micro")
    )


def fuzzy_decontaminate_stream(stream_docs: DataFrame, eval_docs: DataFrame, sink, **kwargs):
    """Streaming twin of :func:`fuzzy_contaminated_doc_ids`: the identical
    banding + exact-confirm chain per micro-batch via ``foreachBatch``
    against a STATIC eval set. This is not an approximation: a document's
    contamination verdict depends only on itself and the eval set, so the
    union over micro-batches equals the batch operator on the union of
    batches — no cross-batch state needed (unlike paragraph dedup, whose
    first-arrival-wins semantics do need
    ``dropDuplicatesWithinWatermark``). ``sink(df, batch_id)`` receives
    each batch's contaminated ids; returns a ``DataStreamWriter`` —
    caller adds trigger/checkpoint and ``start()``.

    Delivery is AT-LEAST-ONCE (the standard foreachBatch contract): after
    a failure between the sink call and the checkpoint commit, Structured
    Streaming replays the micro-batch with the SAME ``batch_id``, so the
    sink sees that batch's contaminated ids again. The sink must be
    idempotent on ``batch_id`` — e.g. overwrite a per-batch partition
    keyed by it, or no-op when ``batch_id`` ≤ the max already committed
    (the ``ContinuousHeavyHitters.update`` pattern,
    ``streaming/sketch_stream.py``). Verdicts are deterministic per
    document, so replays carry identical rows and any batch_id-keyed
    dedupe restores exactly-once."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sink(fuzzy_contaminated_doc_ids(batch_df, eval_docs, **kwargs), batch_id)

    return stream_docs.writeStream.foreachBatch(handle)


def embedding_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int = 8,
    num_tables: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Semantic decontamination: TRAIN vectors whose cosine to any EVAL
    vector exceeds ``threshold``, with the best eval match per train
    vector — ``(id, eval_id, cosine)``.

    The embedding sibling of the exact / MinHash / Bloom decontaminators:
    candidates come from CROSS-FRAME sign-LSH buckets (the integer-exact
    Arrow bucket stage both frames share with
    :func:`embedding_near_dup_pairs`), so the pair space is
    ≈ L·|train|·|eval| / 2^k — never a cross product. The eval side is
    small BY CONTRACT (a benchmark suite vs a 100 TB corpus): its
    quantized bucket matrices are collected once and shipped to every
    task in the probe closure, so the train side never shuffles and each
    task scores its bucket-mates with one exact int64 Gram matmul per
    (table, bucket) group — the semantic_dedup Arrow recipe applied
    cross-frame (measured 6.3s -> ~1s at sf0.1 vs the per-pair
    interpreted zip_with dot). Cosines are over floor(x·10⁶) fixed-point
    components (exact in doubles, order-independent, mirrored verbatim
    by the oracle). Best match per train id via one window (cosine DESC,
    eval id ASC — fully deterministic, the oracle's QUALIFY).

    Recall follows the sign-LSH collision model (see `lsh_recall_eval`):
    tune (num_planes, num_tables) to the similarity band that counts as
    contamination; exact-cosine confirm keeps precision at 1.0.

    Pass ``dim`` to validate vector length on BOTH frames (eval at
    collection time, train per Arrow batch) — a loud mismatch beats a
    silent numpy broadcast error deep in the Gram stage.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    from proxima_platform_spark.functions.similarity import (
        sign_lsh_buckets_arrow,
    )

    scale = 1_000_000

    def _bucketed(df: DataFrame) -> DataFrame:
        return sign_lsh_buckets_arrow(
            df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")),
            vec_col="__v",
            num_planes=num_planes,
            num_tables=num_tables,
        )

    # eval side: per-(table, bucket) quantized matrices, driver-collected
    # (bounded by the eval-suite size by contract) and closure-shipped
    ev = _bucketed(eval_df).toPandas()
    table: dict[tuple[int, int], tuple] = {}
    eqmax = 0
    if len(ev):
        EQ_all = np.floor(
            np.stack([np.asarray(x, dtype=np.float64) for x in ev["__v"]])
            * scale
        ).astype(np.int64)
        if dim is not None and EQ_all.shape[1] != dim:
            raise ValueError(
                f"embedding_decontaminate: eval vectors have dim "
                f"{EQ_all.shape[1]}, expected {dim}"
            )
        # eval-side magnitude feeds the Gram terms q_train * q_eval — the
        # probe guard must bound d * qmax_train * eqmax, not qmax_train^2
        # (r07 ADVICE #1)
        eqmax = int(np.abs(EQ_all).max()) if EQ_all.size else 0
        ern_all = np.sqrt((EQ_all * EQ_all).sum(axis=1).astype(np.float64))
        eids_all = ev["__id"].to_numpy()
        for t in range(num_tables):
            bcol = ev[f"__b{t}"].to_numpy()
            for b in np.unique(bcol):
                sel = bcol == b
                table[(t, int(b))] = (
                    eids_all[sel], EQ_all[sel], ern_all[sel]
                )

    tb = F.array(*[
        F.struct(F.lit(t).alias("t"), F.col(f"__b{t}").alias("b"))
        for t in range(num_tables)
    ])
    exploded = (
        _bucketed(train)
        .select("__id", "__v", F.explode(tb).alias("__tb"))
        .select(
            "__id", "__v",
            F.col("__tb.t").alias("__t"),
            F.col("__tb.b").alias("__bucket"),
        )
    )

    def probe(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        empty = pd.DataFrame({
            "vec_id": pd.Series(dtype="int64"),
            "eval_id": pd.Series(dtype="int64"),
            "cosine": pd.Series(dtype="float64"),
        })
        for pdf in batches:
            if pdf.empty:
                yield empty
                continue
            Q = np.floor(
                np.stack([np.asarray(x, dtype=np.float64) for x in pdf["__v"]])
                * scale
            ).astype(np.int64)
            d = Q.shape[1]
            if dim is not None and d != dim:
                raise ValueError(
                    f"embedding_decontaminate: train vectors have dim {d}, "
                    f"expected {dim}"
                )
            qmax = int(np.abs(Q).max()) if Q.size else 0
            # loud overflow guard (the semantic_dedup contract): Gram terms
            # are q_train * q_eval, so bound with the EVAL-side max too
            if qmax and eqmax and d * qmax * eqmax >= 2**62:
                raise ValueError(
                    f"embedding_decontaminate: |value|*{scale} up to {qmax} "
                    f"(train) x {eqmax} (eval) over dim {d} overflows the "
                    "int64 Gram accumulation"
                )
            rn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
            out_t, out_e, out_c = [], [], []
            tcol = pdf["__t"].to_numpy()
            bcol = pdf["__bucket"].to_numpy()
            ids = pdf["__id"].to_numpy()
            import collections
            groups = collections.defaultdict(list)
            for i, (t, b) in enumerate(zip(tcol, bcol)):
                groups[(int(t), int(b))].append(i)
            with np.errstate(divide="ignore", invalid="ignore"):
                for key, idx in groups.items():
                    evb = table.get(key)
                    if evb is None:
                        continue
                    eids, EQ, ern = evb
                    ii = np.asarray(idx)
                    G = Q[ii] @ EQ.T  # exact int64
                    cb = G.astype(np.float64) / (rn[ii, None] * ern[None, :])
                    m = (
                        (cb > threshold)
                        & (rn[ii, None] > 0)
                        & (ern[None, :] > 0)
                    )
                    if m.any():
                        ti, ei = np.nonzero(m)
                        out_t.extend(ids[ii][ti].tolist())
                        out_e.extend(eids[ei].tolist())
                        out_c.extend(cb[m].tolist())
            if not out_t:
                yield empty
                continue
            yield pd.DataFrame({
                "vec_id": np.asarray(out_t, dtype=np.int64),
                "eval_id": np.asarray(out_e, dtype=np.int64),
                "cosine": np.asarray(out_c, dtype=np.float64),
            })

    scored = exploded.mapInPandas(
        probe, "vec_id long, eval_id long, cosine double"
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("eval_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def similarity_join_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07) over word ``n``-gram
    shingle sets: every pair with Jaccard >= ``threshold``, no candidate
    missed, no all-pairs scan. The exact complement of
    :func:`minhash_candidate_pairs` — MinHash trades recall for speed;
    this keeps recall = 1.0 and prunes with a lossless filter instead.

    Filter (lossless, standard AllPairs result): order the shingle
    universe by ascending document frequency (rarest first, ties by
    shingle — one global order both sides share); for a doc with |x|
    distinct shingles keep the first ``p = |x| - ceil(t*|x|) + 1`` under
    that order. Any pair with J >= t shares at least one prefix shingle,
    so a self-equi-join on prefix shingles generates a candidate superset;
    a symmetric size filter ``min(|x|,|y|) >= ceil(t*max(|x|,|y|))``
    prunes further (J <= min/max). Candidates are then verified with the
    EXACT intersection count — output == the naive all-pairs join, which
    is precisely what the DuckDB oracle asserts.

    Scale shape (100 TB corpus): no cartesian anywhere — candidate
    generation is an equi-join on prefix shingles (hash-partitioned);
    rarest-first ordering makes hot shingles (stopword-grade n-grams)
    fall OUTSIDE most prefixes, so the join's per-key fan-out tracks the
    rare tail, not the Zipf head. Document frequencies come from one
    map-side-combined groupBy; the global order needs NO global
    row_number — the composite struct(df, shingle) IS the sort key, so
    per-doc prefixes come from one sort_array over the doc's own
    shingles (no window, no single-partition stage). Verification joins
    only candidate pairs back to exploded shingles: cost tracks
    sum(|x| + |y|) over candidates, not n².

    ``threshold`` should be exactly representable in binary (0.5, 0.25,
    0.75) so ceil/compare arithmetic is bit-identical in any oracle.

    Returns (id_a, id_b, n_inter, jac) with id_a < id_b, jac rounded to
    6 places.
    """
    # spread a narrow scan first (plan-stats probe, no RDD conversion):
    # the interpreted shingle transform would otherwise run near-serially
    # on a 1-2 partition small-parquet scan
    df = _spread_narrow_scan(df)
    toks = df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__toks")
    )
    # distinct (doc, shingle) pairs; tokens staged first (no CSE in Generate).
    # Staged once (lazy localCheckpoint): sh feeds FOUR consumers (the df
    # groupBy, the rank join, and both verification sides) — without
    # staging the tokenize+shingle explode recomputes per consumer.
    sh = (
        toks.select(
            "__id",
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("__toks"), n))
            ).alias("__s"),
        )
    ).localCheckpoint(eager=False)
    dfreq = sh.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    ranked = sh.join(dfreq, "__s")
    # per-doc shingles in global (df asc, shingle asc) order; p-length prefix
    per_doc = (
        ranked.groupBy("__id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__df"), F.col("__s")))
            ).alias("__sorted")
        )
        .select(
            "__id",
            F.size("__sorted").alias("__n"),
            F.transform(
                F.slice(
                    F.col("__sorted"),
                    1,
                    (
                        F.size("__sorted")
                        - F.ceil(F.lit(threshold) * F.size("__sorted"))
                        + 1
                    ).cast("int"),
                ),
                lambda s: s["__s"],
            ).alias("__prefix"),
        )
        # staged once: per_doc feeds both sides of the prefix equi-join;
        # each side would otherwise redo the df join + per-doc sort agg
        .localCheckpoint(eager=False)
    )
    pa = per_doc.select(
        F.col("__id").alias("id_a"),
        F.col("__n").alias("__na"),
        F.explode("__prefix").alias("__s"),
    )
    pb = per_doc.select(
        F.col("__id").alias("id_b"),
        F.col("__n").alias("__nb"),
        F.explode("__prefix").alias("__s"),
    )
    cand = (
        pa.join(pb, "__s")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.least("__na", "__nb")
            >= F.ceil(F.lit(threshold) * F.greatest("__na", "__nb"))
        )
        .select("id_a", "id_b", "__na", "__nb")
        .distinct()
        # spread before verification: the candidate frame is small in
        # BYTES (ids + sizes), so AQE coalesces it to 1-2 partitions and
        # the per-pair array_intersect work below would run near-serially
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    # exact verification on candidates only — per-doc DISTINCT shingle
    # ARRAYS joined to both pair sides, one codegen array_intersect per
    # candidate. (The exploded alternative — re-joining the (doc,
    # shingle) frame on string keys and counting — re-shuffles the full
    # shingle corpus per side: measured 2.9s vs 0.5s at sf0.1. The array
    # row is O(doc shingles), the same bound the prefix sort already
    # needs, so nothing new blows up at scale.)
    arr = (
        sh.groupBy("__id").agg(F.collect_list("__s").alias("__arr"))
    ).localCheckpoint(eager=False)
    aa = arr.select(F.col("__id").alias("id_a"), F.col("__arr").alias("__sa"))
    ab = arr.select(F.col("__id").alias("id_b"), F.col("__arr").alias("__sb"))
    inter = (
        cand.join(aa, "id_a")
        .join(ab, "id_b")
        .select(
            "id_a",
            "id_b",
            "__na",
            "__nb",
            F.size(F.array_intersect("__sa", "__sb")).alias("n_inter"),
        )
    )
    union_n = F.col("__na") + F.col("__nb") - F.col("n_inter")
    jac = F.col("n_inter").cast("double") / union_n.cast("double")
    return (
        inter.where(jac >= F.lit(threshold))
        .select(
            "id_a",
            "id_b",
            "n_inter",
            F.round(jac, 6).alias("jac"),
        )
    )


def snm_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sort_key: Column,
    *,
    window: int = 4,
    bucket_chars: int = 1,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo SIGMOD'95): sort
    records by a blocking key and emit each record paired with its
    ``window - 1`` successors in the global sort order — the O(n·w)
    record-linkage alternative to hash blocking (catches typo-shifted
    keys that land in different hash buckets but sort adjacently).

    Scale shape: the global rank is computed WITHOUT a single-partition
    window — rows get a per-bucket row_number (windows keyed by a
    ``bucket_chars``-char prefix of the key run in parallel) plus a
    cumulative bucket offset from a bucket-count frame that is vocab-
    sized, not row-sized (broadcast join). Neighbor pairing is then an
    EQUI-join on rank+d for d in 1..w-1 (explode of w-1 offsets), never
    a range or cartesian join. At 100 TB raise ``bucket_chars`` until
    buckets fit an executor's window sort; correctness is independent of
    bucket balance (offsets make the rank exact).

    Sort order is (key, id) — deterministic under key ties, so ranks are
    reproducible in any engine (the SQL oracle uses one row_number()).

    Returns (id_a, id_b, rank_a, rank_b, key_a, key_b) with
    rank_b - rank_a in [1, window-1].
    """
    if window < 2:
        # window=1 would hit the descending-sequence trap:
        # F.sequence(rank+1, rank) yields [rank+1, rank] (a DESCENDING
        # 2-element range, not empty) and emits a bogus self-pair
        raise ValueError(f"window must be >= 2, got {window}")
    from pyspark.sql import Window

    keyed = df.select(
        F.col(id_col).alias("__id"), sort_key.alias("__k")
    ).withColumn("__b", F.substring(F.col("__k"), 1, bucket_chars))
    counts = keyed.groupBy("__b").agg(F.count(F.lit(1)).alias("__cnt"))
    # cumulative offsets over the tiny bucket frame (window over buckets,
    # not rows — |buckets| rows total)
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__b", F.coalesce(F.sum("__cnt").over(wb), F.lit(0)).alias("__off")
    )
    wr = Window.partitionBy("__b").orderBy("__k", "__id")
    # staged once (lazy localCheckpoint): the ranked frame feeds BOTH
    # sides of the neighbor equi-join; without staging each side redoes
    # the bucket-window sort and the offset join.
    ranked = (
        keyed.join(F.broadcast(offsets), "__b")
        .select(
            "__id", "__k",
            (F.col("__off") + F.row_number().over(wr)).alias("__rank"),
        )
        .localCheckpoint(eager=False)
    )
    a = ranked.select(
        F.col("__id").alias("id_a"),
        F.col("__k").alias("key_a"),
        F.col("__rank").alias("rank_a"),
        F.explode(
            F.sequence(F.col("__rank") + 1, F.col("__rank") + (window - 1))
        ).alias("__rb"),
    )
    b = ranked.select(
        F.col("__id").alias("id_b"),
        F.col("__k").alias("key_b"),
        F.col("__rank").alias("rank_b"),
    )
    return a.join(b, a["__rb"] == b["rank_b"]).select(
        "id_a", "id_b", "rank_a", "rank_b", "key_a", "key_b"
    )


def containment_pairs(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    threshold: float = 0.5,
    max_docs_per_shingle: int = 64,
):
    """ASYMMETRIC near-duplicate pairs by shingle containment
    (Broder'97's second resemblance measure): ordered pairs (a, b) with

        containment(a, b) = |S(a) ∩ S(b)| / |S(a)| >= threshold

    over distinct word n-gram shingle sets. Containment is what
    resemblance-based dedup (MinHash/Jaccard) structurally MISSES: a
    short document quoted whole inside a much longer one has tiny
    Jaccard (the union is dominated by the long doc) but containment
    ~1 — the quote-inclusion / page-wrapper / syndication case. The
    report is directional: (a contained-in b) and (b contains a) are
    different rows with different denominators.

    ``max_docs_per_shingle`` drops shingles shared by more than that
    many documents BEFORE pairing (boilerplate stop-gram cut — the
    winnow_overlap convention): it bounds the candidate join at
    shingles × cap² instead of n²; a pair sharing ONLY boilerplate is
    deliberately not reported. Denominators |S(a)| are computed on the
    UNCAPPED sets so the ratio stays the true containment of the
    surviving evidence.

    Engine portability: shared/size counts are exact int64; the ratio
    is one correctly-rounded double division, rounded 6 dp.

    Scale shape: distinct (doc, shingle) projection → per-shingle doc
    counts (map-side combined) → capped self equi-join on the shingle →
    one (a, b) count agg → broadcast-joinable sizes frame. Never an
    all-pairs product; every stage keys on shingle or (a, b).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    # staged once (lazy localCheckpoint): the distinct (doc, shingle)
    # frame feeds THREE consumers — the per-doc sizes, the per-shingle
    # doc-count cap, and the capped pair join — and the tokenize +
    # shingle + distinct subtree otherwise re-executes per consumer
    # (the dup_ngram_coverage / kmv_set_ops lesson)
    sh = (
        toks.select(
            id_col, F.explode(shingles_from_tokens(F.col("__t"), n)).alias("s")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    # capped feeds both sides of the pair join — staged so the cap join
    # over the fingerprint volume runs once, not per side
    capped = sh.join(
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("__d"))
        .where(F.col("__d") <= max_docs_per_shingle)
        .select("s"),
        "s",
    ).localCheckpoint(eager=False)
    a = capped.select(F.col(id_col).alias("doc_a"), "s")
    b = capped.select(F.col(id_col).alias("doc_b"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(
            sizes.withColumnRenamed(id_col, "doc_a"), "doc_a"
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.col("__n").alias("size_a"),
            F.round(
                F.col("shared").cast("double") / F.col("__n").cast("double"),
                6,
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def icws_signature_df(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 6,
) -> DataFrame:
    """Improved Consistent Weighted Sampling signatures (Ioffe ICDM'10)
    with the 0-bit simplification (Li KDD'15): per (doc, seed) sample one
    token with probability proportional to its weight under the ICWS
    scheme, so two docs draw the SAME token with probability equal to
    their weighted (generalized) Jaccard  Σ_w min(tf_a, tf_b) / Σ_w
    max(tf_a, tf_b). This is the dedup signal tf-weighted near-dup needs:
    unweighted MinHash treats a 100×-repeated boilerplate token and a
    singleton identically; weighted Jaccard does not.

    Per (token τ, seed s): five md5-derived uniforms u₁..u₅ ∈ (0,1);
        r = −(qln u₁ + qln u₂)   (Gamma(2,1))
        c = −(qln u₄ + qln u₅)
        β = u₃
        t = ⌊ qln(tf)/r + β ⌋
        ln a = qln(c) − r·(t − β + 1)
    and the sample is argmin_τ ln a (ties by token). Engine portability:
    every libm output is quantized (round 8dp — the margin-audit recipe)
    BEFORE any further arithmetic; everything downstream (division, floor,
    argmin comparison) is then a fixed IEEE double sequence on identical
    inputs, bit-identical cross-engine by construction.

    Scale shape (r14): one explode to (doc, token, tf) (map-side-combined
    count); the five md5 uniforms and the derived r/c/β depend only on
    (token, seed) — NOT on the document — so they are computed once per
    DISTINCT token (vocabulary types, sublinear in corpus size) instead
    of once per (doc, token) occurrence pair (the corpus-proportional
    frame that outnumbers the vocabulary ~10-50×; 40 md5+ln calls per
    row at num_hashes=8 made this the suite's hottest per-row stack once
    the bench stopped serving signatures from the warm cache). The
    (doc, token, tf) frame then joins the per-(token, seed) parameter
    frame (AQE broadcasts the vocab side locally; at scale it is an
    equi-join AQE skew-split handles — stop-word keys are hot) and the
    per-(doc, seed) argmin aggregates map-side. The per-token doubles
    are computed by the IDENTICAL expressions on identical inputs, and
    everything downstream is the same fixed IEEE sequence — bit-equal
    output (exact-text oracle green, value tests unchanged).

    Output: (id, seed, token) — num_hashes rows per doc.
    """
    tf = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("w"),
        )
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    def u(j: int) -> Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("w"), F.col("seed"), F.lit(j))),
                1, 15,
            ),
            16, 10,
        ).cast("long") % F.lit(2**30)
        return (h + 1) / F.lit(float(2**30 + 2))

    def qln(x: Column) -> Column:
        return F.round(F.log(x), 8)

    r = -(qln(u(1)) + qln(u(2)))
    c = -(qln(u(4)) + qln(u(5)))
    beta = u(3)
    params = (
        tf.select("w")
        .distinct()
        .select(
            "w",
            F.explode(
                F.sequence(F.lit(0), F.lit(num_hashes - 1))
            ).alias("seed"),
        )
        .select(
            "w", "seed",
            r.alias("__r"), beta.alias("__beta"), qln(c).alias("__qc"),
        )
    )
    rj, betaj = F.col("__r"), F.col("__beta")
    t = F.floor(qln(F.col("tf").cast("double")) / rj + betaj)
    ln_a = F.col("__qc") - rj * (t.cast("double") - betaj + F.lit(1.0))
    sampled = (
        tf.join(params, "w")
        .select("id", "seed", "w", ln_a.alias("la"))
        .groupBy("id", "seed")
        .agg(F.min(F.struct(F.col("la"), F.col("w"))).alias("m"))
    )
    return sampled.select("id", "seed", F.col("m.w").alias("token"))


def icws_band_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 6,
    bands: int = 3,
) -> DataFrame:
    """``(id, band)`` LSH band keys from the 0-bit ICWS samples — the
    shared banding stage of :func:`icws_candidate_pairs` and the
    streaming ``ContinuousIcwsIndex`` (one expression path, so batch
    and maintained banding are identical by construction). Each sampled
    token is md5-hashed before '|'-joining (see :func:`_band_keys`)."""
    keys = _band_keys(
        [str(i) for i in range(num_hashes)], bands,
        param="num_hashes", item=F.md5,
    )
    sig = icws_signature_df(docs, id_col, text_col, num_hashes=num_hashes)
    wide = sig.groupBy("id").pivot(
        "seed", list(range(num_hashes))
    ).agg(F.first("token"))
    return wide.select("id", F.explode(keys).alias("band"))


def icws_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 6,
    bands: int = 3,
) -> DataFrame:
    """tf-weighted near-duplicate candidate pairs: the 0-bit CWS samples
    banded ``num_hashes/bands`` per key (collision prob ≈ J_w^rows per
    band), then the standard banded self-join — never all-pairs."""
    return _banded_self_join(
        icws_band_rows(docs, id_col, text_col, num_hashes=num_hashes, bands=bands)
    )
