"""Text-analysis expressions for LLM training-data pipelines.

Extensions beyond the reference surface (BASELINE.json north star): language
ID, quality scoring, token counting, document fingerprinting — all as pure
Column expressions (JVM-side, whole-stage codegen; no Python in the path),
designed to run over a 100 TB `documents` table as a single projection.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# tiny per-language stopword marker sets for the n-gram/stopword heuristic;
# enough to separate the fixture languages deterministically
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " die ", " und ", " ist ", " das "],
    "fr": [" le ", " la ", " et ", " les ", " des "],
    "es": [" el ", " los ", " las ", " es ", " una "],
    "cs": [" je ", " se ", " na ", " že ", " pro "],
}


def _padded(text: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(text), F.lit(" "))


def language_scores(text: Column) -> dict[str, Column]:
    padded = _padded(text)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        score = None
        for m in markers:
            # literal (non-regex) occurrence count via replace-length delta
            removed = F.length(padded) - F.length(F.replace(padded, F.lit(m)))
            occurrences = (removed / F.length(F.lit(m))).cast("int")
            score = occurrences if score is None else score + occurrences
        out[lang] = score
    return out


def language_id(text: Column) -> Column:
    """Memoized template (see ``quality_signals``)."""
    from proxima_platform_spark.exprtools import static_template

    return static_template(
        "language_id", str(text), lambda: _language_id_build(text)
    )


def _language_id_build(text: Column) -> Column:
    """Stopword-marker language ID with deterministic tiebreak (alphabetical
    language code order; 'und' when no marker hits at all).

    Implemented as array_max over (score, -lang_rank) structs so each score
    sub-expression appears exactly once — a chained when() accumulator would
    inline the running best repeatedly and grow the expression tree
    exponentially, breaking whole-stage codegen (janino 64KB method limit)."""
    scores = language_scores(text)
    langs = sorted(scores)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("s"), F.lit(-i).alias("nr"))
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(pairs)  # max score; tie → max(-rank) = alphabetical min
    lang = F.element_at(F.array(*[F.lit(l) for l in langs]), -best["nr"] + 1)
    return F.when(best["s"] > 0, lang).otherwise(F.lit("und"))


def token_count(text: Column) -> Column:
    """Whitespace tokenization; empty/blank text counts 0."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+", -1))
    )


def quality_score(text: Column) -> Column:
    """Memoized template (see ``quality_signals``)."""
    from proxima_platform_spark.exprtools import static_template

    return static_template(
        "quality_score", str(text), lambda: _quality_score_build(text)
    )


def _quality_score_build(text: Column) -> Column:
    """Heuristic [0,1] quality score: blend of alphabetic ratio, word-length
    sanity and length saturation — the classic cheap pre-filter stack for
    LLM corpus cleaning (Gopher/C4-style rules, public recipes)."""
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    toks = token_count(text).cast("double")
    mean_word = F.when(toks > 0, n / toks).otherwise(F.lit(0.0))
    word_sanity = F.when((mean_word >= 3) & (mean_word <= 12), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    length_sat = F.least(n / F.lit(200.0), F.lit(1.0))
    return F.round(
        0.5 * alpha_ratio + 0.25 * word_sanity + 0.25 * length_sat, 6
    )


#: fixed logistic-model weights for ``quality_model_score`` — the shape a
#: fastText/linear quality classifier ships as (feature weights + bias),
#: hand-set to the public-recipe signal directions: alphabetic text and
#: stopword density up-weight (real prose), punctuation walls and
#: within-doc word repetition down-weight, mean word length penalized by
#: distance from English's ~5.5-char center, mild length saturation bonus.
#: Versioned constant: a real deployment swaps in trained weights; scoring
#: cost and plan shape are identical.
QUALITY_MODEL_WEIGHTS_V1: dict[str, float] = {
    "bias": -1.5,
    "alpha_ratio": 2.8,
    "punct_ratio": -6.0,
    "stopword_ratio": 4.0,
    "mean_word_len_dev": -0.45,  # applied to |mean_word_len - 5.5|
    "length_sat": 1.2,
    "dup_word_frac": -2.5,
}


def quality_model_logit(text: Column) -> Column:
    """Memoized template (see ``quality_signals``)."""
    from proxima_platform_spark.exprtools import static_template

    return static_template(
        "quality_model_logit", str(text), lambda: _quality_model_logit_build(text)
    )


def _quality_model_logit_build(text: Column) -> Column:
    """Linear-model quality logit over the cheap signal stack
    (``quality_signals`` ratios + length saturation + ``dup_word_frac``)
    — the model-based corpus gate (fastText-classifier analog, public
    recipes: CCNet/DCLM-style quality filtering). Pure Column expression:
    broadcast-free (weights are literals), shuffle-free, one projection
    over a 100 TB documents table inside whole-stage codegen.

    The logit is rounded to 6 decimals so downstream transcendentals
    (sigmoid) start from a bit-identical value in every engine."""
    w = QUALITY_MODEL_WEIGHTS_V1
    sig = quality_signals(text)
    n = F.length(text).cast("double")
    length_sat = F.least(n / F.lit(200.0), F.lit(1.0))
    rep = repetition_signals(text)
    z = (
        F.lit(w["bias"])
        + F.lit(w["alpha_ratio"]) * sig["alpha_ratio"]
        + F.lit(w["punct_ratio"]) * sig["punct_ratio"]
        + F.lit(w["stopword_ratio"]) * sig["stopword_ratio"]
        + F.lit(w["mean_word_len_dev"])
        * F.abs(sig["mean_word_len"] - F.lit(5.5))
        + F.lit(w["length_sat"]) * length_sat
        + F.lit(w["dup_word_frac"]) * rep["dup_word_frac"]
    )
    return F.round(z, 6)


def quality_model_score(text: Column) -> Column:
    """Memoized template (see ``quality_signals``)."""
    from proxima_platform_spark.exprtools import static_template

    return static_template(
        "quality_model_score", str(text), lambda: _quality_model_score_build(text)
    )


def _quality_model_score_build(text: Column) -> Column:
    """Sigmoid of :func:`quality_model_logit`, rounded to 6 decimals —
    the [0,1] keep-probability a pipeline thresholds on (compose as a
    gate: ``where(quality_model_score(text) >= cutoff)``)."""
    z = quality_model_logit(text)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


# GPT-2-style pre-tokenizer pattern (public BPE recipes): contractions,
# space-prefixed letter runs, digit runs, punctuation runs. RE2-compatible
# (no lookarounds) so Spark and DuckDB evaluate it identically.
BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: matches of the GPT-2 pre-tokenizer regex —
    the standard cheap proxy for LLM token budgets (whitespace counting
    under-counts punctuation-heavy text). regexp_count, not
    size(regexp_extract_all): counting must not materialize an array of
    every match per document (measured ~25% faster at sf0.1, and O(1)
    memory per row instead of O(tokens))."""
    return F.regexp_count(text, F.lit(BPE_PATTERN))


# polynomial rolling-hash constants (Rabin–Karp): token k-grams hash as
# sum(tokhash_i · B^(k-1-i)) mod P. All BIGINT-safe: tokhash < 2^30 and
# B, B² < P < 2^31 keep every product under 2^62.
ROLLING_P = 1_000_000_007
ROLLING_B = 1_000_003
ROLLING_B2 = (ROLLING_B * ROLLING_B) % ROLLING_P


def rolling_hash_fingerprint(text: Column, *, k: int = 3) -> Column:
    """Winnowing-style document fingerprint: the minimum Rabin–Karp rolling
    hash over token k-grams (k=3). The rolling form (O(1) per shift) is an
    imperative-engine detail; columnar engines express the same k-gram
    hashes directly — min-sampling keeps the fingerprint robust to local
    edits, the property rolling-hash winnowing is used for.
    """
    assert k == 3, "polynomial constants are precomputed for k=3"
    from proxima_platform_spark.functions.dedup import shingle_hash, tokens

    th = F.transform(tokens(text), shingle_hash)  # 30-bit token hashes
    n = F.size(th)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(0))),
        lambda i: (
            F.element_at(th, i) * F.lit(ROLLING_B2)
            + F.element_at(th, i + 1) * F.lit(ROLLING_B)
            + F.element_at(th, i + 2)
        )
        % F.lit(ROLLING_P),
    )
    return F.when(n >= 3, F.array_min(grams)).otherwise(F.lit(None).cast("long"))


def winnow_fingerprints(
    df, id_col: str, text_col: str, *, w: int = 4
):
    """True winnowing (Schleimer/Wilkerson/Aiken, the MOSS fingerprinter):
    the SET of local fingerprints — in every window of ``w`` consecutive
    token-3-gram hashes select the minimum, breaking ties by the RIGHTMOST
    position — one row per distinct ``(doc, pos, fp)``.

    Unlike :func:`rolling_hash_fingerprint` (the global min — one value
    per doc, a whole-doc near-dup key), the winnowed SET carries the
    **detection guarantee**: any shared token run of length ≥ w + 2
    (w windows over 3-grams) between two documents shares at least one
    fingerprint, while storing only ~2/(w+1) of the gram hashes. That is
    the copy-detection primitive: :func:`winnow_overlap` joins on it.

    Docs with fewer than 3 tokens have no 3-gram and emit nothing; docs
    with 1 ≤ grams < w emit the min of what exists (one clamped window).

    Scale shape: one projection stages the gram-hash array ONCE (the
    no-CSE-inside-Generate rule — the window transform references it w
    times per output element, so it must be a column, not an inline
    expression), one explode bounded by grams-per-doc, one distinct
    keyed (doc, pos, fp). No shuffle before the distinct; fingerprint
    volume ≈ corpus grams × 2/(w+1).
    """
    if w < 1:
        raise ValueError(f"window w must be >= 1, got {w}")
    from proxima_platform_spark.functions.dedup import shingle_hash, tokens

    toks = tokens(F.col(text_col))
    # the >= 3 filter keeps the gram sequence ascending (the documented
    # descending-sequence trap: sequence(1, n-2) with n < 3); the token-
    # hash array is staged in its own checkpointed projection so the gram
    # transform's three element_at references hit a COLUMN, not a
    # re-evaluated md5 chain (no CSE inside lambdas — dedup.py:156 rule)
    based = (
        df.where(F.size(toks) >= 3)
        .select(
            F.col(id_col),
            F.transform(toks, shingle_hash).alias("__th"),
        )
        .localCheckpoint(eager=False)
    )
    th = F.col("__th")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(th) - 2),
        lambda i: (
            F.element_at(th, i) * F.lit(ROLLING_B2)
            + F.element_at(th, i + 1) * F.lit(ROLLING_B)
            + F.element_at(th, i + 2)
        )
        % F.lit(ROLLING_P),
    )
    staged = based.select(F.col(id_col), grams.alias("__g"))
    g = F.col("__g")

    def _win(j):
        return F.slice(g, j, w)

    fps = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(g) - w + 1, F.lit(1))
        ),
        lambda j: F.struct(
            # rightmost min: first position in the REVERSED window.
            # window length = least(w, size(g) - j + 1) — arithmetic,
            # not size(slice(...)): every _win(j) reference re-slices
            # O(w) per window (no CSE inside lambdas), so the length is
            # derived without the 4th slice pass
            (
                j
                + F.least(F.lit(w), F.size(g) - j + 1)
                - F.array_position(F.reverse(_win(j)), F.array_min(_win(j)))
            ).cast("int").alias("pos"),
            F.array_min(_win(j)).alias("fp"),
        ),
    )
    return (
        staged.select(F.col(id_col), F.explode(fps).alias("__w"))
        .select(id_col, F.col("__w.pos").alias("pos"), F.col("__w.fp").alias("fp"))
        .distinct()
    )


def winnow_overlap(
    df,
    id_col: str,
    text_col: str,
    *,
    w: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: int = 64,
):
    """Copy-detection pair report over winnowed fingerprints: document
    pairs ranked by how many distinct fingerprints they share (the MOSS
    report shape). Any shared token run ≥ w + 2 is guaranteed to
    contribute ≥ 1 shared fingerprint (winnowing's detection theorem),
    so plagiarized/quoted passages surface even when the documents are
    otherwise unrelated — the property whole-doc MinHash misses.

    ``max_docs_per_fp`` drops fingerprints shared by more than that many
    documents BEFORE pairing (boilerplate: headers, license blocks) —
    the standard stop-gram cut. It bounds the candidate join at
    fps × cap²/2 pairs per fingerprint bucket instead of n²; a pair
    sharing ONLY boilerplate is deliberately not reported.

    Scale shape: fingerprint set (distinct per doc) → per-fp doc counts
    (one hash agg, map-side combined) → self-equi-join ON fp over the
    capped buckets → one count agg per pair. Never an n² product; every
    stage keys on fp or (doc_a, doc_b).
    """
    # staged once: the fingerprint set feeds the per-fp count, and both
    # sides of the pair join — without the pin the winnow pipeline (the
    # heaviest stage) executes once per consumer (measured 2.65 -> 2.27s
    # at sf0.1; r13)
    fps = (
        winnow_fingerprints(df, id_col, text_col, w=w)
        .select(id_col, "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    capped = fps.join(
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") <= max_docs_per_fp)
        .select("fp"),
        "fp",
    )
    a = capped.select(F.col(id_col).alias("doc_a"), "fp")
    b = capped.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


EN_STOPWORDS = [" the ", " and ", " of ", " to ", " is ", " in ", " a ", " that "]


def quality_signals(text: Column) -> dict[str, Column]:
    """Memoized template — see :mod:`proxima_platform_spark.exprtools`:
    the signal stack is a pure function of literals and ``text``, and its
    Column-by-Column construction costs ~40 py4j round-trips per signal."""
    from proxima_platform_spark.exprtools import static_template

    return static_template(
        "quality_signals", str(text), lambda: _quality_signals_build(text)
    )


def _quality_signals_build(text: Column) -> dict[str, Column]:
    """The individual cheap-quality ratios (Gopher/C4-style public recipes):
    alphabetic ratio, punctuation ratio, stopword ratio, mean word length.
    ``quality_score`` blends a subset; pipelines usually threshold these
    separately."""
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(
        F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", "")
    ).cast("double")
    toks = token_count(text).cast("double")
    padded = _padded(text)
    stop_hits = None
    for m in EN_STOPWORDS:
        hits = (
            (F.length(padded) - F.length(F.replace(padded, F.lit(m))))
            / F.length(F.lit(m))
        ).cast("int")
        stop_hits = hits if stop_hits is None else stop_hits + hits
    return {
        "alpha_ratio": F.when(n > 0, alpha / n).otherwise(0.0),
        "punct_ratio": F.when(n > 0, punct / n).otherwise(0.0),
        "stopword_ratio": F.when(toks > 0, stop_hits / toks).otherwise(0.0),
        "mean_word_len": F.when(toks > 0, n / toks).otherwise(0.0),
    }


# PII patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB/Go oracles): no lookaround, no backrefs — so detection counts and
# redactions are engine-portable and oracle-checkable
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII occurrence counts (codegen'd regexp_count)."""
    return {
        name: F.regexp_count(text, F.lit(pat))
        for name, pat in PII_PATTERNS.items()
    }


def contaminated_doc_ids(
    docs,
    eval_docs,
    *,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 8,
):
    """Benchmark decontamination: ids of corpus documents sharing any word
    ``n``-gram with the evaluation set (the GPT-3/Pile recipe — drop
    training docs that leak eval content).

    Scale shape: the eval side is tiny (a benchmark), so its distinct
    n-gram set stays small; both sides explode their shingles and meet in a
    LEFT SEMI equi-join on the n-gram string — hash-partitioned, linear in
    corpus size, with the eval side broadcast by AQE. Returns distinct
    ``id_col`` rows; anti-join against it to clean the corpus.
    """
    from proxima_platform_spark.functions.dedup import shingles_from_tokens, tokens

    # tokens projected into their own column BEFORE the shingle transform:
    # Catalyst does not CSE inside Generate, so the inline form re-tokenizes
    # the document once per emitted shingle (measured 7× at sf0.1 — the
    # ngram_shingles docstring's warning, applied)
    corpus_grams = docs.select(
        F.col(id_col), tokens(F.col(text)).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("__toks"), n))
        ).alias("g"),
    )
    eval_grams = (
        eval_docs.select(tokens(F.col(text)).alias("__toks"))
        .select(
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("__toks"), n))
            ).alias("g")
        )
        .distinct()
    )
    return (
        corpus_grams.join(eval_grams, "g", "left_semi").select(id_col).distinct()
    )


def ngram_novelty(
    docs,
    reference,
    *,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
):
    """Per-document novelty vs a reference corpus: the fraction of a doc's
    DISTINCT word n-grams never seen in the reference — the memorization /
    near-copy score (novelty ≈ 0 flags verbatim reuse; the per-doc
    granular companion to :func:`contaminated_doc_ids`' boolean verdict).

    Output per doc (docs with < n tokens have no grams and drop out, both
    engines): ``n_grams``, ``n_seen``, and ``novelty_micro`` — the ratio
    in exact integer micro-units (counts are exact ints, one fixed double
    division + round, so the oracle replays the value bit-for-bit).

    Scale shape: both sides explode distinct shingles (tokens projected
    BEFORE the Generate — the CSE trap); the membership check is one
    LEFT equi-join on the gram string (hash-partitioned, linear) and the
    per-doc re-agg groups on the doc id. The reference's distinct-gram
    set is never collected or broadcast by hand — AQE picks broadcast
    when it is small (an eval benchmark) and a shuffle join when it is
    another corpus.
    """
    from proxima_platform_spark.functions.dedup import (
        shingles_from_tokens,
        tokens,
    )

    corpus_grams = docs.select(
        F.col(id_col), tokens(F.col(text)).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("__toks"), n))
        ).alias("g"),
    )
    ref_grams = (
        reference.select(tokens(F.col(text)).alias("__toks"))
        .select(
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("__toks"), n))
            ).alias("g")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    joined = corpus_grams.join(ref_grams, "g", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_seen"),
        F.round(
            (
                F.lit(1.0)
                - F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double")
            )
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("novelty_micro"),
    )


def pii_redact(text: Column) -> Column:
    """Replace each PII occurrence with its ``[CATEGORY]`` placeholder.

    Order matters: emails first (an email's host part must not be left for
    the looser patterns), then IPs (dotted digits would half-match phone),
    then phones.
    """
    out = text
    for name in ("email", "ipv4", "phone"):
        out = F.regexp_replace(out, PII_PATTERNS[name], f"[{name.upper()}]")
    return out


def _norm_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens of trimmed text (empty → empty array)."""
    trimmed = F.trim(F.lower(text))
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+", -1)
    )


def repetition_signals(text: Column) -> dict[str, Column]:
    """Memoized template (see ``quality_signals``)."""
    from proxima_platform_spark.exprtools import static_template

    return static_template(
        "repetition_signals", str(text), lambda: _repetition_signals_build(text)
    )


def _repetition_signals_build(text: Column) -> dict[str, Column]:
    """Gopher-style within-document repetition signals (public corpus-
    cleaning recipes; extension beyond the reference surface):

      * ``dup_word_frac``  — 1 − distinct/total words
      * ``top_bigram_frac`` — occurrences of the most frequent word bigram
        over total bigrams
      * ``dup_line_frac``  — 1 − distinct/total newline-separated lines

    All pure Column expressions (array higher-order functions): per-document
    bounded work, one projection over a 100 TB documents table, no shuffle,
    no Python. The most-frequent-bigram count is a single-pass run-length
    maximum over the *sorted* gram array (O(n log n) per doc) — the naive
    distinct×filter form rebuilds the gram array per distinct element under
    Spark's interpreted lambda evaluation and goes quadratic.
    """
    toks = _norm_tokens(text)
    n_tok = F.size(toks)
    dup_word = F.when(
        n_tok > 0,
        1.0 - F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double"),
    ).otherwise(F.lit(0.0))

    grams = F.when(n_tok >= 2, F.array_sort(F.transform(
        F.sequence(F.lit(0), n_tok - 2),
        lambda i: F.concat_ws(" ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)),
    ))).otherwise(F.array().cast("array<string>"))
    n_gram = F.size(grams)
    run_init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def run_merge(acc, g):
        run2 = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"), run2.alias("run"),
            F.greatest(acc["best"], run2).alias("best"),
        )

    top_cnt = F.aggregate(grams, run_init, run_merge, lambda acc: acc["best"])
    top_gram = F.when(
        n_gram > 0, top_cnt.cast("double") / n_gram.cast("double")
    ).otherwise(F.lit(0.0))

    lines = F.filter(
        F.transform(F.split(text, r"\n", -1), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    n_line = F.size(lines)
    dup_line = F.when(
        n_line > 0,
        1.0 - F.size(F.array_distinct(lines)).cast("double") / n_line.cast("double"),
    ).otherwise(F.lit(0.0))

    return {
        "dup_word_frac": F.round(dup_word, 6),
        "top_bigram_frac": F.round(top_gram, 6),
        "dup_line_frac": F.round(dup_line, 6),
    }


def chunk_documents(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
    stride: int = 12,
):
    """Split documents into fixed-size token chunks with overlap (stride <
    chunk_tokens) — the standard context-window preparation step for LLM
    pretraining/embedding corpora.

    Chunk i covers tokens [i·stride, i·stride + chunk_tokens); the last
    chunk may be short; a document shorter than one chunk yields exactly one
    chunk. Shape at 100 TB: chunk starts come from a per-row `sequence` +
    `posexplode` — a narrow transform with no shuffle; output rows carry
    (id, chunk_id, chunk_text, n_tokens) and inherit the input partitioning.
    """
    # tokens materialized in their own projection first — the inline form
    # re-tokenizes the document once per chunk under the Generate (no CSE;
    # the ngram_shingles lesson applied here too)
    based = docs.select(
        F.col(id_col), _norm_tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    starts = F.when(n > 0, F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))).otherwise(
        F.array(F.lit(0))
    )
    chunks = F.transform(
        starts, lambda s: F.slice(toks, s + 1, chunk_tokens)
    )
    exploded = based.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_toks"),
    )
    return exploded.select(
        id_col,
        "chunk_id",
        F.array_join("chunk_toks", " ").alias("chunk_text"),
        F.size("chunk_toks").alias("n_tokens"),
    )


def repetition_counts_arrow(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple = (),
):
    """Arrow-batched integer repetition counts — the fast path behind
    `repetition_signals`'s fractions.

    Spark's higher-order array lambdas are *interpreted* (not codegen):
    the pure-expression form measures ~4 ms/doc, which is 46 CPU-days per
    10⁹ docs. This mapInPandas stage computes the same counts at ~40 µs/doc
    (100×) and stays narrow: no shuffle, output inherits input
    partitioning, per-batch memory bounded by Arrow batch size. All outputs
    are exact integers — the fraction arithmetic (and rounding) happens in
    Spark expressions afterwards, so results are bit-identical to the
    expression spec and to the DuckDB oracle. Tokenization mirrors
    split(trim(lower(text)), '\\s+') EXACTLY: trim strips ASCII space only
    (not tab/newline — Spark F.trim and DuckDB trim semantics), and the
    split class is Java's \\s = [ \\t\\n\\x0b\\f\\r], NOT Python
    str.split()'s Unicode whitespace. Text starting with a tab therefore
    yields a leading empty token on all three paths alike
    (tests/test_ranking.py::TestRepetitionParity pins this with
    tab/newline/\\r edge cases). ``keep`` names extra input columns to
    carry through the stage (e.g. the text itself for a downstream
    chunker) — cheaper than re-joining the counts back to the source on id.
    """
    import re
    from collections import Counter
    from typing import Iterator

    ws_split = re.compile(r"[ \t\n\x0b\f\r]+").split

    keep = tuple(k for k in keep if k not in (id_col,))
    keep_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in docs.schema.fields if f.name in keep
    )
    schema = (
        f"{id_col} long, n_tok long, n_tok_distinct long, "
        "n_gram long, top_gram_cnt long, n_line long, n_line_distinct long"
        + keep_schema
    )

    def counts(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                text = r[text_col]
                # mirror _norm_tokens: space-only trim, Java-\s split,
                # blank-after-trim -> no tokens
                stripped = (text or "").lower().strip(" ")
                toks = [] if stripped == "" else ws_split(stripped)
                n_tok = len(toks)
                n_gram = max(n_tok - 1, 0)
                top = 0
                if n_gram:
                    top = max(Counter(zip(toks, toks[1:])).values())
                # mirror the expression spec's F.trim(line): space-only strip
                lines = [l.strip(" ") for l in (text or "").split("\n")]
                lines = [l for l in lines if l]
                rows.append(
                    (r[id_col], n_tok, len(set(toks)), n_gram, top,
                     len(lines), len(set(lines)))
                    + tuple(r[k] for k in keep)
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_tok", "n_tok_distinct", "n_gram",
                         "top_gram_cnt", "n_line", "n_line_distinct", *keep],
            )

    in_cols = list(dict.fromkeys([id_col, text_col, *keep]))
    return docs.select(*in_cols).mapInPandas(counts, schema=schema)


def quality_lang_arrow(
    docs,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple = (),
):
    """Arrow-batched quality score + language ID — the fast path behind
    corpus gating (`training_pipeline`). Bit-identical to the expression
    forms (``quality_score``/``language_id``), pinned by
    tests/test_ranking.py::TestQualityLangParity:

      * marker counts: greedy non-overlapping substring count on
        " "+lower(text)+" " — identical to the replace-length-delta trick;
      * token count: space-ONLY trim then Java-\\s split
        ``[ \\t\\n\\x0b\\f\\r]+`` (empty tokens counted), exactly
        ``size(split(trim(text), '\\s+'))``;
      * rounding: Java ``BigDecimal.valueOf(double)`` HALF_UP — replicated
        via shortest-repr ``Decimal(repr(x))`` (Python repr and Java
        Double.toString produce the same shortest round-trip string).

    ~25 full-text scans per doc in the expression form (5 langs × 5
    markers via replace, plus regex strips) become one Python pass per
    batch; the stage is narrow (no shuffle), pre-projected, and output
    inherits input partitioning.
    """
    import re
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    langs = sorted(LANG_MARKERS)
    markers = {l: list(ms) for l, ms in LANG_MARKERS.items()}
    non_alpha = re.compile(r"[^A-Za-z]")
    ws_split = re.compile(r"[ \t\n\x0b\f\r]+").split

    def round6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    def stage(batches):
        for pdf in batches:
            qs, ls = [], []
            for text in pdf[text_col]:
                t = text or ""
                padded = " " + t.lower() + " "
                best_score, best_lang = 0, "und"
                for lang in langs:
                    s = sum(padded.count(m) for m in markers[lang])
                    if s > best_score:  # tie keeps earlier (alphabetical)
                        best_score, best_lang = s, lang
                n = float(len(t))
                alpha = float(len(non_alpha.sub("", t)))
                alpha_ratio = alpha / n if n > 0 else 0.0
                stripped = t.strip(" ")
                toks = float(0 if stripped == "" else len(ws_split(stripped)))
                mean_word = n / toks if toks > 0 else 0.0
                word_sanity = 1.0 if 3 <= mean_word <= 12 else 0.0
                length_sat = min(n / 200.0, 1.0)
                qs.append(
                    round6(0.5 * alpha_ratio + 0.25 * word_sanity + 0.25 * length_sat)
                )
                ls.append(best_lang)
            out = pd.DataFrame({id_col: pdf[id_col]})
            for c in keep:
                out[c] = pdf[c]
            out["quality"] = pd.Series(qs, dtype="float64")
            out["lang_guess"] = pd.Series(ls, dtype="object")
            yield out

    # schema order must follow the emitted pandas column order (id, *keep)
    keep_schema = "".join(
        f", {c} {docs.schema[c].dataType.simpleString()}" for c in keep
    )
    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col, *[c for c in keep if c != text_col]).mapInPandas(
        stage,
        schema=f"{id_col} {id_type}{keep_schema}, quality double, lang_guess string",
    )


def char_entropy(df, id_col: str, text_col: str):
    """Per-document Shannon entropy of the character distribution (bits/
    char) — the compressibility quality signal: machine-generated spam and
    keyword-stuffed pages sit at the low end, natural prose clusters
    tightly, and the signal needs no language model (the cheap stand-in
    for the gzip-ratio filter in public curation recipes, but exactly
    SQL-replayable where a codec is not).

        H = log2(N) − (Σ_c n_c·log2(n_c)) / N

    over character counts n_c (the algebraic rewrite keeps one sum
    instead of per-char divisions). The BARE log2(n_c) quantizes at
    8 dp into an exact decimal and multiplies the exact integer n_c
    AFTERWARD (decimal·int is exact — no second rounding), so the sum
    is order-independent and engine-exact. Quantizing the PRODUCT
    would be wrong at scale: |n·log2 n| grows unboundedly and the
    8-dp boundary spacing shrinks relative to its ulps (the margin
    audit caught exactly that on this fixture at n·log2 n ≈ 414);
    |log2 n| ≤ 63 keeps the quantization margin wide forever. Raw
    double summation would instead ride on aggregation order and libm
    ulps and survive only on rounding slack. Returns ``(id, n_chars,
    entropy)`` with entropy rounded 6 dp and NULL for empty documents.

    Scale shape: one explode bounded by corpus characters, one
    map-side-combinable (doc, char) count, one per-doc aggregation —
    never wider than the corpus itself; no Python.
    """
    chars = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "", -1)).alias("__ch"),
    ).where(F.length("__ch") > 0)
    counts = chars.groupBy(id_col, "__ch").agg(
        F.count(F.lit(1)).alias("__n")
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("__n").alias("n_chars"),
        # operand widths chosen so the product precision stays <= 38:
        # (18,10) x (18,0) -> (37,10) EXACT in both engines. A wider
        # decimal(28,10) x bigint would cap at precision 38 in Spark
        # and silently REDUCE THE SCALE to 6 (SQLSTATE-less value
        # corruption the oracle caught as a 1e-6 entropy drift)
        F.sum(
            F.round(F.log2(F.col("__n").cast("double")), 8)
            .cast("decimal(18,10)")
            * F.col("__n").cast("decimal(18,0)")
        ).alias("__nlogn"),
    )
    ent = F.log2(F.col("n_chars").cast("double")) - F.col("__nlogn").cast(
        "double"
    ) / F.col("n_chars").cast("double")
    base = df.select(F.col(id_col))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
        F.when(F.col("n_chars") > 0, F.round(ent, 6)).alias("entropy"),
    )


def vocab_growth(
    df,
    id_col: str,
    text_col: str,
    *,
    every: int = 100,
):
    """Heaps-law vocabulary-growth curve — cumulative distinct token
    TYPES vs cumulative token COUNT at id-domain checkpoints (every
    ``every`` ids): the corpus diagnostic behind "is more of this source
    still adding vocabulary, or just repeating itself" (Heaps'78 —
    V(n) ≈ K·n^β; a near-flat empirical tail means the source is
    exhausted and further intake is dedup fodder).

    Checkpoints partition the ID DOMAIN (bucket = id div every), not a
    global doc rank: first-occurrence per token is one algebraic
    ``min`` agg keyed by token, per-bucket sums are map-side combined,
    and the ONLY window is the cumulative sum over the |buckets|-row
    checkpoint frame — no global sort of docs or tokens anywhere, the
    property a rank-based checkpointing would destroy at 100 TB.

    Returns (checkpoint, cum_docs, cum_tokens, cum_types) — one row per
    non-empty bucket, checkpoint = exclusive id upper bound; all exact
    int64.
    """
    from pyspark.sql import Window

    from proxima_platform_spark.functions.dedup import tokens

    if every < 1:
        raise ValueError(f"every must be >= 1, got {every}")
    # id_col must be integral: a NULL or non-numeric id would otherwise
    # fall out of (or collapse within) the bucketing — raise per-row
    # with a uniform message instead (fail-loud convention, r09 ADVICE).
    # try_cast: ANSI mode would otherwise throw its own cast error on
    # malformed strings before this guard ever sees the NULL.
    raw_id = F.col(id_col).try_cast("long")
    checked_id = F.when(
        raw_id.isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"vocab_growth: {id_col} must cast to long, got "),
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
            )
        ),
    ).otherwise(raw_id)
    base = df.select(
        (checked_id - (checked_id % every)).alias("__b"),
        tokens(F.col(text_col)).alias("__t"),
    ).localCheckpoint(eager=False)
    per_bucket = base.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__docs"),
        F.sum(F.size("__t")).alias("__toks"),
    )
    first = (
        base.select("__b", F.explode("__t").alias("__w"))
        .groupBy("__w")
        .agg(F.min("__b").alias("__fb"))
    )
    new_types = first.groupBy(F.col("__fb").alias("__b")).agg(
        F.count(F.lit(1)).alias("__new")
    )
    w = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_bucket.join(new_types, "__b", "left")
        .select(
            (F.col("__b") + every).alias("checkpoint"),
            F.col("__b"),
            "__docs",
            "__toks",
            F.coalesce("__new", F.lit(0)).alias("__new"),
        )
        .select(
            "checkpoint",
            F.sum("__docs").over(w).alias("cum_docs"),
            F.sum("__toks").over(w).alias("cum_tokens"),
            F.sum("__new").over(w).alias("cum_types"),
        )
    )


def winnow_decontaminate(
    corpus,
    evalset,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 4,
    min_shared: int = 2,
):
    """Eval-set decontamination via winnowed fingerprints — the
    EDIT-TOLERANT member of the decontamination tier (exact n-gram /
    fuzzy-Jaccard / Bloom / embedding-semantic live in functions/
    dedup.py): a training document that contains a lightly-EDITED copy
    of an eval item shares no exact n-gram with it, but winnowing's
    detection theorem still guarantees a shared fingerprint for every
    untouched run >= w + 2 tokens, so paraphrase-with-patches leakage
    surfaces here first.

    Returns (id_col, eval_id, shared): corpus documents sharing >=
    ``min_shared`` distinct fingerprints with an eval document — the
    MOSS report shape of :func:`winnow_overlap`, cross-frame. Cut or
    drop is the caller's policy (report, don't destroy — the
    contamination_report convention).

    Scale shape: fingerprint sets are doc-local (corpus and eval sides
    never interact until the final fp equi-join); the eval side is
    small by contract, so AQE broadcasts it and the corpus never
    shuffles; one count agg keyed (doc, eval). No docs-per-fp cap
    needed on the eval side — the join is bounded by eval fingerprint
    volume.
    """
    fps_c = (
        winnow_fingerprints(corpus, id_col, text_col, w=w)
        .select(id_col, "fp")
        .distinct()
    )
    fps_e = (
        winnow_fingerprints(evalset, id_col, text_col, w=w)
        .select(F.col(id_col).alias("eval_id"), "fp")
        .distinct()
    )
    return (
        fps_c.join(fps_e, "fp")
        .groupBy(id_col, "eval_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def zipf_slope(
    docs: DataFrame,
    *,
    text_col: str = "text",
    top_r: int = 100,
) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: OLS slope of
    ln(freq) on ln(rank) over the ``top_r`` most frequent terms (Zipf's law
    predicts slope ~ -1; strong deviation flags synthetic/boilerplate or
    tokenizer-mangled corpora — a standard corpus-health diagnostic).

    Exactness: x = round(ln rank, 8) and y = round(ln freq, 8) quantize to
    decimal(18,10); all OLS sums (Sx, Sy, Sxy, Sxx) are exact decimal
    arithmetic (products stay inside precision 38); only the closed-form
    slope/intercept divisions are double ops — deterministic cross-engine.

    Scale shape: one token-count aggregation (map-side combined, bounded by
    vocabulary size not corpus size), then a TakeOrdered top-``top_r`` by
    (freq desc, term) — no global sort of the vocabulary; the rank window
    runs over top_r rows only. Output: one row
    (n_terms, slope, intercept).
    """
    from pyspark.sql import Window

    from proxima_platform_spark.functions.dedup import tokens as _toks

    counts = (
        docs.select(F.explode(_toks(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("w")).limit(top_r)
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("w")))
        .alias("r"),
        "cnt",
    )
    xy = ranked.select(
        F.round(F.log(F.col("r")), 8).cast("decimal(18,10)").alias("x"),
        F.round(F.log(F.col("cnt")), 8).cast("decimal(18,10)").alias("y"),
    )
    sums = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


def source_jsd(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution from
    the corpus distribution (Lin'91) — the drift/mixture diagnostic next to
    the chi-square test (drift_chi2): JSD is bounded [0, ln 2], symmetric,
    and defined even where supports differ, which is what makes it the
    standard corpus-mixture health metric in data-pipeline monitoring.

        JSD(p_s, q) = 0.5·Σ_w p_s(w)·ln(p_s(w)/m(w))
                    + 0.5·Σ_w q(w)·ln(q(w)/m(w)),   m = (p_s + q)/2

    Exactness: each ln argument is a ratio of IEEE-exact count ratios
    (identical operation order in the oracle); every ln quantizes to 8dp
    decimal(18,10) and scales by its integer count (decimal(12,0) factor —
    products stay inside precision 38), so both sums are exact decimals;
    the final 0.5·(S1/T_s + S2/T) is a fixed double sequence.

    Scale shape: two token aggregations (per-(source,word) and per-word,
    both map-side combined, bounded by |sources|x|vocab| and |vocab|), one
    vocab x sources grid join (sources are few; the corpus side broadcasts
    its 1-row total), one aggregation per source. Zero-count source terms
    contribute exactly 0 (p·ln(p/m) → 0 as p → 0), handled by a guard, so
    support mismatch never produces NULLs.

    Output: one row per source — (source, n_words, jsd).
    """
    return source_jsd_from_counts(
        source_word_counts(docs, group_col=group_col, text_col=text_col)
    )


def source_word_counts(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The JSD's sufficient statistic: per-(source, word) token counts
    ``(s, w, cs)``. ADDITIVE across corpus slices, which is what lets
    ``ContinuousDomainJsd`` maintain it as summed base+delta generations
    with batch-on-union equality by construction."""
    from proxima_platform_spark.functions.dedup import tokens as _toks

    tok = docs.select(
        F.col(group_col).alias("s"),
        F.explode(_toks(F.col(text_col))).alias("w"),
    )
    return tok.groupBy("s", "w").agg(F.count(F.lit(1)).alias("cs"))


def source_jsd_from_counts(sw: DataFrame) -> DataFrame:
    """JSD per source from the ``(s, w, cs)`` statistic — a pure function
    of the counts (per-source totals, corpus-wide word counts and total
    all derive from ``sw``), so any maintainer that merges counts
    additively reproduces the batch result exactly."""
    stot = sw.groupBy("s").agg(F.sum("cs").alias("ts"))
    cw = sw.groupBy("w").agg(F.sum("cs").alias("c"))
    tot = cw.agg(F.sum("c").alias("t"))

    grid = (
        cw.crossJoin(F.broadcast(stot))
        .join(sw, ["s", "w"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "s", "w", "ts", "t",
            F.coalesce(F.col("cs"), F.lit(0)).alias("cs"),
            "c",
        )
    )
    p = F.col("cs") / F.col("ts")
    q = F.col("c") / F.col("t")
    m = (p + q) / F.lit(2.0)
    term1 = F.when(
        F.col("cs") > 0,
        F.col("cs").cast("decimal(12,0)")
        * F.round(F.log(p / m), 8).cast("decimal(18,10)"),
    ).otherwise(F.lit(0).cast("decimal(31,10)"))
    term2 = F.col("c").cast("decimal(12,0)") * F.round(F.log(q / m), 8).cast(
        "decimal(18,10)"
    )
    agg = grid.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(term1).alias("s1"),
        F.sum(term2).alias("s2"),
        F.min("ts").alias("ts"),
        F.min("t").alias("t"),
    )
    jsd = F.lit(0.5) * (
        F.col("s1").cast("double") / F.col("ts")
        + F.col("s2").cast("double") / F.col("t")
    )
    return agg.select(
        F.col("s").alias("source"), "n_words", F.round(jsd, 6).alias("jsd")
    )
