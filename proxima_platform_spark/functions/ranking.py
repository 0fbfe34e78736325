"""Lexical relevance ranking: TF, IDF, BM25 over a document corpus.

Extension beyond the reference surface (north star: training-data curation
needs query-relevance scoring for corpus slicing / quality weighting).

Scale design (100 TB corpus, small query):
  * per-document term frequencies are pure Column expressions over the
    tokenized text (JVM codegen, no shuffle);
  * corpus statistics (N, avgdl, per-term document frequency) reduce to ONE
    single-row aggregate — the only shuffle — and re-attach via a broadcast
    cross join (a 1-row build side), so the scoring pass is shuffle-free;
  * query terms are bound literals: the DF aggregate computes one counter
    per term (wide row, not exploded), never a join against a term table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from proxima_platform_spark.functions.dedup import (
    gram_structs_from_tokens,
    tokens,
)


def term_frequency(toks: Column, term: str) -> Column:
    """Occurrences of ``term`` in the token array (exact match)."""
    return F.size(F.filter(toks, lambda t: t == F.lit(term)))


def bm25_score(
    docs: DataFrame,
    query_terms: list[str],
    *,
    text: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document against ``query_terms`` with BM25 (Robertson
    idf, the ``+1`` variant Lucene uses so idf stays positive).

    Returns ``(id_col, score)`` with one row per input document.

        idf(t)  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        tf part = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        score   = Σ_t idf(t) * tf_part(t)

    Two passes over the corpus: one single-row stats aggregate
    (N, avgdl, df per term), one shuffle-free scoring projection with the
    stats broadcast in.
    """
    if not query_terms:
        raise ValueError("bm25_score requires at least one query term")
    toked = docs.select(
        F.col(id_col), tokens(F.col(text)).alias("__toks")
    ).withColumn("__dl", F.size("__toks"))

    stats = toked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum(
                (term_frequency(F.col("__toks"), t) > 0).cast("long")
            ).alias(f"__df_{i}")
            for i, t in enumerate(query_terms)
        ],
    )

    scored = toked.crossJoin(F.broadcast(stats))
    score: Column = F.lit(0.0)
    for i, t in enumerate(query_terms):
        tf = term_frequency(F.col("__toks"), t).cast("double")
        df_t = F.col(f"__df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n") - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")
        )
        score = score + idf * tf * F.lit(k1 + 1.0) / denom
    return scored.select(F.col(id_col), score.alias("score"))


def char_trigrams(norm_text: Column) -> Column:
    """All character 3-grams of (already-normalized) text, as array<string>.
    Project the normalized text into its own column before exploding —
    Catalyst does not CSE inside Generate."""
    n = F.greatest(F.length(norm_text) - 2, F.lit(0))
    return F.transform(
        F.sequence(F.lit(1), n), lambda i: norm_text.substr(i, F.lit(3))
    )


def trigram_lm_scores(
    docs: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-trigram language-model fluency score per document — the
    CCNet-style quality proxy: average log corpus-frequency of the doc's
    trigrams (higher = more typical of the corpus; gibberish and boilerplate
    outliers score low).

        score(d) = mean over trigrams g of d:  ln(count(g) / total)

    Scale shape: one explode→groupBy(count) builds the trigram table (its
    cardinality is bounded by |charset|³, NOT corpus size — it only
    shrinks relative to data as the corpus grows); scoring joins doc
    trigrams against that table (AQE broadcasts the bounded side) and
    reduces per doc. Two shuffles total (count agg + per-doc agg), both
    map-side-combined. Per-gram log-probs round to 8 decimals and
    accumulate as exact decimals, so the score is order-independent and
    engine-portable (the DuckDB oracle reproduces it bit-for-bit).
    """
    from proxima_platform_spark.functions.dedup import normalize_text

    grams = docs.select(
        F.col(id_col), normalize_text(F.col(text)).alias("__norm")
    ).select(
        id_col, F.explode(char_trigrams(F.col("__norm"))).alias("g")
    )
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    scored = (
        grams.join(counts, "g")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.round(F.log(F.col("cnt") / F.col("total")), 8)
            .cast("decimal(28,10)")
            .alias("lp"),
        )
    )
    # exact decimal sum -> double, THEN one IEEE division: deterministic and
    # identical cross-engine (decimal/decimal division rounding rules differ
    # between engines; double division does not)
    return scored.groupBy(id_col).agg(
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 6
        ).alias("lm_score")
    )


def kneser_ney_scores(
    docs: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM fluency score per document —
    the KenLM/CCNet-class quality filter (Kneser & Ney'95, single
    discount D):

        P(w|v)    = max(c(v,w) − D, 0)/c(v·) + λ(v)·P_cont(w)
        λ(v)      = D · N1+(v·) / c(v·)
        P_cont(w) = N1+(·w) / N1+(··)

    KN's continuation distribution fixes the unigram-backoff pathology
    (a word frequent only inside one collocation — "Francisco" — stops
    inflating unseen contexts). Output column ``kn_score``; the
    recursion, exactness recipe and plan shape are
    :func:`kn_scores_from_counts` at order 2.
    """
    return _kn_scores(docs, 2, text, id_col, discount, False)


def bm25_top_k(
    docs: DataFrame,
    query_terms: list[str],
    *,
    k: int = 10,
    text: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 — ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject (per-partition heaps, no full sort/shuffle)."""
    scored = bm25_score(
        docs, query_terms, text=text, id_col=id_col, k1=k1, b=b
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def tfidf_top_terms(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
):
    """Top-k TF-IDF terms per document (extension beyond the reference
    surface; the classic sparse retrieval/feature step next to BM25).

    tf = in-document term count; idf = ln((N+1)/(df+1)) + 1 (smoothed).
    Scale shape: one explode→hash-agg for (doc, term) counts, one hash-agg
    for document frequencies, and the corpus size N is a single-row
    aggregate attached by broadcast — the (doc,term)→df join shuffles on
    term (bounded by vocabulary), never on the corpus; final top-k is a
    per-document window over ≤ vocabulary-sized rows.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+", -1),
                lambda t: F.length(t) > 0,
            )
        ).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
                    + 1.0
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    id_col: str = "doc_id",
    k: int = 60,
    top: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR'09): combine
    any number of rankings of the same id space into one by
    ``rrf(d) = Σ_r 1/(k + rank_r(d))`` — the standard zero-tuning hybrid
    of lexical (BM25) and dense (embedding-cosine) retrieval. Each input
    frame carries ``(id_col, rank)`` with 1-based integer ranks; ids
    absent from a ranking contribute nothing for it (the usual top-N
    cutoff semantics).

    Returns ``(id_col, rrf, n_rankers)`` ordered by (rrf desc, id),
    cut to ``top`` when given (TakeOrderedAndProject — per-partition
    heaps, no full sort).

    Determinism: contributions are exact doubles 1/(k+rank); the fused
    sum is rounded to 9 dp so cross-engine aggregation order cannot
    surface a last-ulp difference (two-ranker sums are order-exact by
    commutativity; the rounding covers ≥ 3 rankers). Scale shape: one
    union of the (tiny, pre-cut) ranking frames, one hash aggregation on
    id — never touches the corpus.
    """
    if not rankings:
        raise ValueError("rrf_fuse requires at least one ranking")
    tagged = None
    for r in rankings:
        c = r.select(F.col(id_col), F.col("rank").cast("long").alias("rank"))
        tagged = c if tagged is None else tagged.unionByName(c)
    fused = tagged.groupBy(id_col).agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("rank"))), 9
        ).alias("rrf"),
        F.count(F.lit(1)).alias("n_rankers"),
    )
    out = fused.orderBy(F.col("rrf").desc(), F.col(id_col))
    return out.limit(top) if top is not None else out


def kneser_ney3_scores(
    docs: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    modified: bool = False,
) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM LM fluency score per document —
    one order up from :func:`kneser_ney_scores` toward the 5-gram KenLM
    that CCNet ships (Wenzek'20); order 3 is where LM filtering starts
    separating fluent boilerplate from prose. The middle order runs on
    continuation counts N1+(·,v,w) (Chen & Goodman'98 eq. 18).

    ``modified=True`` is modified KN (Chen & Goodman'98 §3, the
    estimator KenLM ships). Output column ``kn3_score`` /
    ``kn3_mkn_score``; everything else is :func:`kn_scores_from_counts`
    at order 3.
    """
    return _kn_scores(docs, 3, text, id_col, discount, modified)


def pmi_bigrams(
    docs: DataFrame,
    *,
    text: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information (Church &
    Hanks'90) — the corpus-analysis primitive behind phrase-vocabulary
    induction (word2vec phrase passes, tokenizer merge seeding) and
    "what multi-word units does this source overuse" diagnostics:

        pmi(v,w) = ln( c(v,w)·T / (c(v·)·c(·w)) )

    with c(v,w) the bigram count, c(v·)/c(·w) the marginal first/second
    component totals over the bigram corpus, T the total bigram tokens.
    ``min_count`` floors the bigram count first — raw PMI is maximized
    by hapax pairs (the classic failure), so the floor IS the operator
    contract, not a knob to hide.

    Every count is exact int64; the ratio is computed DOUBLE-FIRST
    (c(v,w)·T as a double product — int64 c(v,w)·T overflows once T
    passes ~3·10⁹ bigrams, i.e. any real corpus; each double op is
    correctly rounded on identical inputs, so the value is still
    engine-identical); the single ln is rounded at 6 dp
    (margin-audited) and the ranking is the total (pmi desc, v, w)
    order — deterministic under ties.

    Scale shape: one bigram count agg (map-side combined) + two
    word-keyed marginal aggs joined back on v / w (AQE broadcasts the
    marginals when small), then a global top-k =
    TakeOrderedAndProject — per-partition heaps, the bigram table never
    globally sorts.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    toks = docs.select(tokens(F.col(text)).alias("__t")).where(
        F.size("__t") >= 2
    )
    big = toks.select(
        F.explode(
            gram_structs_from_tokens(F.col("__t"), ["v", "w"])
        ).alias("bg")
    ).select("bg.v", "bg.w")
    c_vw = big.groupBy("v", "w").agg(F.count(F.lit(1)).alias("n_vw"))
    cv = c_vw.groupBy("v").agg(F.sum("n_vw").alias("__cv"))
    cw = c_vw.groupBy("w").agg(F.sum("n_vw").alias("__cw"))
    t = c_vw.agg(F.sum("n_vw").alias("__t"))
    scored = (
        c_vw.where(F.col("n_vw") >= min_count)
        .join(cv, "v")
        .join(cw, "w")
        .crossJoin(F.broadcast(t))
        .select(
            "v",
            "w",
            "n_vw",
            F.round(
                F.log(
                    (F.col("n_vw").cast("double") * F.col("__t").cast("double"))
                    / (
                        F.col("__cv").cast("double")
                        * F.col("__cw").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), "v", "w"
    ).limit(top_k)


def kneser_ney5_scores(
    docs: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    modified: bool = False,
) -> DataFrame:
    """Interpolated Kneser-Ney 5-GRAM LM fluency score per document — the
    full KenLM order (Heafield'11) that CCNet's quality filter actually
    runs (Wenzek'20). Output column ``kn5_score`` / ``kn5_mkn_score``;
    everything else is :func:`kn_scores_from_counts` at order 5.
    """
    return _kn_scores(docs, 5, text, id_col, discount, modified)


def kn_grams(
    docs: DataFrame, order: int, *, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, w1..w{order}) — every word ``order``-gram occurrence of
    every document with at least ``order`` tokens: the occurrence
    stream the KN engine counts and scores (batch and streaming)."""
    W = [f"w{i}" for i in range(1, order + 1)]
    toks = docs.select(
        F.col(id_col), tokens(F.col(text)).alias("__t")
    ).where(F.size("__t") >= order)
    return toks.select(
        id_col,
        F.explode(gram_structs_from_tokens(F.col("__t"), W)).alias("g"),
    ).select(id_col, *[f"g.{w}" for w in W])


def kn_score_col(order: int, modified: bool) -> str:
    """Output column of the order-``order`` KN score (``kn_score`` for
    bigrams, ``kn{order}_score`` above; ``_mkn`` when modified)."""
    tag = "" if order == 2 else str(order)
    return f"kn{tag}{'_mkn' if modified else ''}_score"


def _kn_scores(docs, order, text, id_col, discount, modified) -> DataFrame:
    """Corpus self-scoring: count the corpus's own grams, score them."""
    grams = kn_grams(docs, order, text=text, id_col=id_col)
    W = [f"w{i}" for i in range(1, order + 1)]
    counts = grams.groupBy(*W).agg(F.count(F.lit(1)).alias(f"c{order}"))
    return kn_scores_from_counts(
        counts, grams, id_col=id_col, discount=discount, modified=modified
    )


def kn_scores_from_counts(
    counts: DataFrame,
    grams: DataFrame,
    *,
    id_col: str = "doc_id",
    discount: float = 0.75,
    modified: bool = False,
) -> DataFrame:
    """Interpolated Kneser-Ney LM score per document at any order N ≥ 2,
    from the model's one sufficient statistic: ``counts`` = (w1..wN, cN)
    raw N-gram counts (ADDITIVE across corpora — what the streaming
    maintainer merges) and ``grams`` = (id_col, w1..wN) the occurrences
    to score. N is read from the ``cN`` column. Every derived table
    (continuation counts, context totals, discounts) is a pure function
    of the count table, so batch and maintained-model scoring share this
    code verbatim.

    The recursion (Kneser & Ney'95; Chen & Goodman'98 eq. 18): the top
    order runs on raw counts, every lower order k on CONTINUATION counts
    — the distinct left-extension types of the (k+1)-order type table:

        P_k(w|ctx) = max(c_k(ctx,w) − D, 0)/c_k(ctx·)
                     + D·N1+(ctx·)/c_k(ctx·) · P_{k-1}(w|ctx′)
        P_1(w)     = N1+(·,w) / N1+(··)     (over bigram types)

        score(d) = mean over d's N-grams of round(ln P_N, 8)

    Scoring only observed N-grams (corpus self-scoring) keeps every
    lookup exact: each observed N-gram witnesses all of its suffix types.

    ``modified=True`` applies the Chen-Goodman'98 three-discount
    estimator at every order N..2 (the estimator KenLM ships): from that
    order's count-of-counts n₁..n₄,

        Y  = n₁ / (n₁ + 2n₂)
        D₁ = 1 − 2Y·n₂/n₁   D₂ = 2 − 3Y·n₃/n₂   D₃₊ = 3 − 4Y·n₄/n₃
        λ(ctx) = (D₁·N₁(ctx·) + D₂·N₂(ctx·) + D₃₊·N₃₊(ctx·)) / c(ctx·)

    with D selected by each gram's own count class (1 / 2 / ≥3). An
    order with an empty n₁/n₂/n₃ class, or with any D_j outside [0, j],
    takes KenLM's ``--discount_fallback`` defaults (D₁=0.5, D₂=1.0,
    D₃₊=1.5) — both happen on LARGE corpora too (continuation counts
    saturate; at sf0.1 order 3 estimates D₂ < 0, which drives some
    probabilities below zero), so the estimator is total rather than
    raising. ``discount`` is ignored when modified; lp rounds at 6 dp
    (fine grids trip the margin audit at ~50k lps per corpus).

    Engine portability: exact int64 counts, correctly-rounded IEEE
    doubles in a fixed parenthesization mirrored by the DuckDB oracle,
    ONE libm op (ln) immediately quantized and margin-audited
    (tools/margin_check.py), and an exact-integer mean.

    Scale shape: the whole stats stage runs as TWO window cascades over
    the type table — one exchange by the final word for the continuation
    counts, one by the word before it for the context totals — then the
    occurrence stream crosses exactly ONE join, grams → (type, lp), and
    reduces per doc. Zero pairwise products.
    """
    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0,1), got {discount}")
    orders = [
        int(c[1:]) for c in counts.columns if c[:1] == "c" and c[1:].isdigit()
    ]
    if len(orders) != 1 or orders[0] < 2:
        raise ValueError(
            "counts needs exactly one cN column with N >= 2, "
            f"got {counts.columns}"
        )
    N = orders[0]
    W = [f"w{i}" for i in range(1, N + 1)]
    # order-k count column; order-k representative-row flag (None: every
    # row of the N-gram type table is its own order-N type)
    cnt_col = {k: f"cc{k}" for k in range(1, N)}
    cnt_col[N] = f"c{N}"
    flag = {k: f"__f{k}" for k in range(2, N)}
    flag[N] = None

    from pyspark.sql import Window as Wnd

    from proxima_platform_spark.exprtools import static_template

    # ---- stats stage as two window cascades (guide §2.4) ---------------
    # Every lower-order quantity is a nested-SUFFIX or nested-CONTEXT
    # aggregate of the single N-gram type table:
    #
    #   cc_k (last k words) = # distinct left-extension types — suffix
    #     keys (wN) ⊂ (wN,wN-1) ⊂ … ⊂ (wN..w2)
    #   tot_k / n1_k / e*_k (per order-k context = the k-1 words before
    #     the final word) — context keys (wN-1) ⊂ (wN-1,wN-2) ⊂ …
    #     ⊂ (wN-1..w1)
    #
    #   pass A — repartition(wN): every suffix window spec requires the
    #     SAME sort [wN..w1], and hashpartitioning(wN) satisfies every
    #     (subset-keyed) clustering, so Catalyst plans ONE exchange + ONE
    #     sort for all of ccN-1..cc1 plus one "representative" row flag
    #     per suffix order (row_number == 1) that lets coarser orders
    #     count DISTINCT finer suffixes as plain flag-counts.
    #   pass B — repartition(wN-1): the same construction over the
    #     context keys (shared sort [wN-1..w1]) computes tot_k and
    #     n1_k/e*_k by aggregating each order's counts at its
    #     representative rows only.
    #
    # 100 TB caveat: WindowExec buffers each partitionBy GROUP (spilling
    # past spark.sql.windowExec.buffer.spill.threshold); the coarsest
    # groups are "all N-gram types sharing a final word" (pass A) /
    # "sharing wN-1" (pass B), so a stop-word group buffers many type
    # rows where a groupBy would combine map-side. The trade is 2
    # shuffles for up to 2N-2 — shuffles dominate at scale (guide §2.2).
    full = (Wnd.unboundedPreceding, Wnd.unboundedFollowing)

    def _reps(k):
        """Count of order-k types in a window (rows carrying the flag)."""
        if flag[k] is None:
            return F.count(F.lit(1))
        return F.count(F.when(F.col(flag[k]), 1))

    def _spec(keys, rest):
        # partition by ``keys``, order by ``rest``, both innermost word
        # first — every spec of a pass shares the one sort [wN..w1]
        return Wnd.partitionBy(*keys[::-1]).orderBy(*rest[::-1])

    def _build_pass_a():
        cols = []
        for k in range(N - 1, 0, -1):
            suffix = _spec(W[N - k:], W[:N - k])  # the last k words
            cols.append(
                (cnt_col[k], _reps(k + 1).over(suffix.rowsBetween(*full)))
            )
            if k >= 2:
                cols.append((flag[k], F.row_number().over(suffix) == 1))
        return cols

    a = counts.repartition(W[-1])
    for _name, _col in static_template("kn_pass_a", str(N), _build_pass_a):
        a = a.withColumn(_name, _col)
    # pinned ONCE: the flagged frame feeds the per-type lp cascade AND
    # the 1-row global aggregate (ntot / count-of-counts); without the
    # pin the 1-row branch re-runs the exchange + sort + window chain.
    a = a.localCheckpoint(eager=False)

    def _build_pass_b():
        cols = []
        for k in range(2, N + 1):
            # the order-k context: the k-1 words before the final word
            if k == N:
                win = Wnd.partitionBy(*W[N - 2::-1])
            else:
                win = _spec(W[N - k:N - 1], W[:N - k]).rowsBetween(*full)
            fk, ck = flag[k], F.col(cnt_col[k])
            rep = F.lit(True) if fk is None else F.col(fk)
            cols.append((f"tot{k}", F.sum(F.when(rep, ck)).over(win)))
            if modified:
                for j, cond in ((1, ck == 1), (2, ck == 2), (3, ck >= 3)):
                    gate = cond if fk is None else (F.col(fk) & cond)
                    cols.append(
                        (f"e{j}_{k}", F.count(F.when(gate, 1)).over(win))
                    )
            else:
                cols.append((f"n1_{k}", F.count(F.when(rep, 1)).over(win)))
        return cols

    b = a.repartition(W[-2])
    for _name, _col in static_template(
        "kn_pass_b", f"{N}|{modified}", _build_pass_b
    ):
        b = b.withColumn(_name, _col)

    if modified:
        # Chen-Goodman discounts for ALL orders from ONE 1-row frame,
        # aggregated straight off the flagged window frame: an order-k
        # type is exactly a row where the order-k flag is set, carrying
        # its count in cc_k. ntot (= order-2 types) rides along, so the
        # lp table crosses ONE bounded broadcast.
        def _build_cls_aggs():
            aggs = [_reps(2).alias("ntot")]
            for k in range(2, N + 1):
                fk, ck = flag[k], F.col(cnt_col[k])
                for j in (1, 2, 3, 4):
                    cond = (ck == j) if fk is None else (F.col(fk) & (ck == j))
                    aggs.append(F.count(F.when(cond, 1)).alias(f"n{j}_o{k}"))
            return aggs

        def _build_dd_cols():
            # estimates first, NULL unless classes 1..3 are all populated
            # (so no division by an empty class is ever evaluated), then
            # KenLM's fallback for an order whose estimate is NULL or has
            # some D_j outside [0, j]. Two projections: the range test
            # reads the guarded estimates, so subexpression elimination
            # cannot hoist a division out of its CASE guard.
            est, dd = [F.col("ntot")], [F.col("ntot")]
            fallback = {1: 0.5, 2: 1.0, 3: 1.5}
            for k in range(2, N + 1):
                n1, n2, n3, n4 = (F.col(f"n{j}_o{k}") for j in (1, 2, 3, 4))
                y = n1.cast("double") / (n1 + F.lit(2) * n2)
                ok = (n1 > 0) & (n2 > 0) & (n3 > 0)
                est += [
                    F.when(ok, F.lit(1.0) - F.lit(2.0) * y * n2 / n1)
                    .alias(f"__d1_o{k}"),
                    F.when(ok, F.lit(2.0) - F.lit(3.0) * y * n3 / n2)
                    .alias(f"__d2_o{k}"),
                    F.when(ok, F.lit(3.0) - F.lit(4.0) * y * n4 / n3)
                    .alias(f"__d3_o{k}"),
                ]
                in_range = (
                    F.col(f"__d1_o{k}").between(0.0, 1.0)
                    & F.col(f"__d2_o{k}").between(0.0, 2.0)
                    & F.col(f"__d3_o{k}").between(0.0, 3.0)
                )
                dd += [
                    F.when(in_range, F.col(f"__d{j}_o{k}"))
                    .otherwise(F.lit(fb))
                    .alias(f"dd{j}_o{k}")
                    for j, fb in fallback.items()
                ]
            return est, dd

        # static templates over fixed names — memoized so repeated builds
        # skip hundreds of Column ops of py4j chatter (exprtools)
        est, dd = static_template("kn_dd_cols", str(N), _build_dd_cols)
        discs = (
            a.agg(*static_template("kn_cls_aggs", str(N), _build_cls_aggs))
            .select(*est)
            .select(*dd)
        )
        lp_tab = b.crossJoin(F.broadcast(discs))
    else:
        ntot = a.agg(_reps(2).alias("ntot"))
        lp_tab = b.crossJoin(F.broadcast(ntot))

    def _build_p():
        # probability expression, built bottom-up with one fixed
        # parenthesization (mirrored by the oracle)
        p = F.col("cc1").cast("double") / F.col("ntot")
        d = F.lit(float(discount))
        for k in range(2, N + 1):
            cnt = F.col(cnt_col[k])
            tot = F.col(f"tot{k}")
            if modified:
                dsel = (
                    F.when(cnt == 1, F.col(f"dd1_o{k}"))
                    .when(cnt == 2, F.col(f"dd2_o{k}"))
                    .otherwise(F.col(f"dd3_o{k}"))
                )
                lam = (
                    F.col(f"dd1_o{k}") * F.col(f"e1_{k}")
                    + F.col(f"dd2_o{k}") * F.col(f"e2_{k}")
                    + F.col(f"dd3_o{k}") * F.col(f"e3_{k}")
                ) / tot
                p = F.greatest(cnt - dsel, F.lit(0.0)) / tot + lam * p
            else:
                p = (
                    F.greatest(cnt - d, F.lit(0.0)) / tot
                    + (d * F.col(f"n1_{k}") / tot) * p
                )
        return p

    p = static_template("kn_p", f"{N}|{modified}|{discount!r}", _build_p)

    # lp per N-gram TYPE straight off the windowed stat columns, then ONE
    # occurrence-level join: at scale the occurrence stream crosses a
    # join exactly once
    dp = 6 if modified else 8
    lp_tab = lp_tab.select(
        *W, F.round(F.log(p), dp).cast("decimal(28,10)").alias("lp")
    )
    scored = grams.join(lp_tab, W).select(id_col, "lp")
    # ENGINE-STABLE MEAN: each lp is an exact multiple of 10^-dp, so the
    # per-doc sum is an exact integer at that scale; the 6dp mean is then
    # pure integer round-half-away (the survival_km recipe) instead of
    # round(double, 6) — whose boundary behavior differs between engines.
    m = 10 ** (dp - 6)  # lp scale units per output micro-unit
    per = scored.groupBy(id_col).agg(
        (F.sum("lp") * F.lit(10 ** dp)).cast("long").alias("su"),
        F.count(F.lit(1)).alias("cnt"),
    )
    q = F.expr(f"(2 * abs(su) + {m} * cnt) DIV (2 * {m} * cnt)")
    sign = F.when(F.col("su") < 0, F.lit(-1)).otherwise(F.lit(1))
    return per.select(
        id_col,
        ((sign * q) / F.lit(1000000.0)).alias(kn_score_col(N, modified)),
    )
