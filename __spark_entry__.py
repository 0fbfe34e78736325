"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship changelog→snapshot→windowed-agg pipeline at sf0.001.
`queries()` — one entry per implemented operator from SURVEY.md §2 (plus the
LLM-pipeline extension operators), each a callable (spark, sf_dir) → DataFrame.
`oracle_sql()` — DuckDB-runnable ANSI SQL equivalents, column-name aligned.

Engine-portability conventions (see FIXTURES.md):
  * `events.ts` is parquet timestamp[ns] — Spark 3.x reads it as **long
    nanos** (requires spark.sql.legacy.parquet.nanosAsLong=true); Spark 4.x
    reads it as **TIMESTAMP_NTZ** (µs, that conf is a no-op); DuckDB sees
    TIMESTAMP_NS. `_events` branches on the observed dtype and normalizes to
    epoch integers (exact in all engines) instead of raw timestamps.
  * ns→µs/ms conversions use exact integer arithmetic (`x DIV n`), never
    double division (1e18-scale longs lose precision as doubles).
  * double aggregates are round()ed identically on both sides.
  * every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from proxima_platform_spark import snapshot, snapshot_wide, to_changelog
from proxima_platform_spark.catalog.proxy import AttributeProxyDescriptor
from proxima_platform_spark.functions.dedup import (
    dedup_paragraphs,
    embedding_near_dup_pairs,
    exact_dup_key,
    jaccard_ngram,
    minhash_candidate_pairs,
    normalize_text,
    simhash64,
    simhash_candidate_pairs,
    simhash_signatures_df,
)
from proxima_platform_spark.functions.graph import dedup_groups
from proxima_platform_spark.functions.prep import pretraining_prep
from proxima_platform_spark.functions.ranking import bm25_top_k, tfidf_top_terms
from proxima_platform_spark.functions.multimodal import image_features
from proxima_platform_spark.functions.sampling import sequence_pack
from proxima_platform_spark.functions.similarity import (
    brute_force_top_k,
    ivf_top_k,
    lsh_top_k,
    quantize_embeddings,
    quantize_embeddings_arrow,
)
from proxima_platform_spark.functions.text import (
    BPE_PATTERN,
    EN_STOPWORDS,
    LANG_MARKERS,
    chunk_documents,
    language_id,
    quality_score,
    quality_signals,
    repetition_counts_arrow,
    repetition_signals,
    rolling_hash_fingerprint,
    token_count,
    token_count_bpe,
)
from proxima_platform_spark.operators import Stream
from proxima_platform_spark.operators.asof import asof_join
from proxima_platform_spark.operators.retract import retract_join_batch
from proxima_platform_spark.sources import batch as batch_src

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Spark 3.x throws PARQUET_TYPE_ILLEGAL on ns timestamps unless this
        # legacy conf is set (then `ts` reads as long nanos). On Spark 4.x the
        # conf is a silent no-op and `ts` reads as TIMESTAMP_NTZ (µs,
        # truncated) — _events branches on the observed dtype below.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # conf removed entirely in some future Spark: the NTZ branch handles it
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts (raw), ts_ms (long, epoch ms), tstamp (timestamp, µs).

    Engine-portable across Spark 3.x (ts = long nanos via nanosAsLong) and
    Spark 4.x (ts = TIMESTAMP_NTZ, ns truncated to µs at read). Both branches
    floor toward -inf; all test timestamps are positive so integer DIV,
    parquet ns→µs truncation, and DuckDB epoch_ms() all agree exactly.
    """
    ev = _load(spark, sf_dir, "events")
    if isinstance(ev.schema["ts"].dataType, T.LongType):
        ts_us = F.expr("ts DIV 1000")
        ts_ms = F.expr("ts DIV 1000000")
    else:
        # TIMESTAMP_NTZ wall-clock is UTC by data contract (TESTDATA.md).
        # Compute epoch µs from the wall-clock parts directly — date cast,
        # hour/minute, and extract(SECOND) on NTZ are all timezone-free, so
        # this is exact regardless of session tz (an NTZ→LTZ cast would
        # re-interpret the wall in session tz and shift by its offset).
        # All integer codegen; extract(SECOND) is DECIMAL(8,6) incl. fraction.
        d = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        secs = d.cast("long") * 86400 + F.hour("ts") * 3600 + F.minute("ts") * 60
        ts_us = secs * F.lit(1000000) + (F.expr("extract(SECOND FROM ts)") * 1000000).cast("long")
        # µs→ms via subtract-pmod (numerator a multiple of 1000 → exact), as _stamp_ms.
        ts_ms = ((ts_us - F.pmod(ts_us, F.lit(1000))) / F.lit(1000)).cast("long")
    return ev.withColumn("ts_ms", ts_ms).withColumn("tstamp", F.timestamp_micros(ts_us))


def _events_changelog(spark: SparkSession, sf_dir: str, delete: Column | None = None) -> DataFrame:
    """events as canonical changelog: key=user_id, attribute=event_type,
    stamp=ts (µs), value=string(value), seq_id=event_id."""
    ev = _events(spark, sf_dir)
    return to_changelog(
        ev,
        entity="user",
        key="user_id",
        attribute="event_type",
        stamp="tstamp",
        value=F.encode(F.col("value").cast("string"), "UTF-8"),
        seq_id="event_id",
        delete=delete,
    )


def _dsum(expr: Column, scale: int = 4) -> Column:
    """Engine-portable sum of fixed-decimal data: accumulate exactly in
    DECIMAL (order-independent, no float noise), return as double. Per-row
    double products are bit-identical across engines (IEEE); only the
    aggregation order isn't — decimal accumulation removes that."""
    return F.sum(expr.cast(f"decimal(18,{scale})")).cast("double")


def _stamp_ms(col: str = "stamp") -> Column:
    """timestamp → epoch ms, exact: subtract pmod before dividing so the
    numerator is a multiple of 1000 (double division is then exact; naive
    unix_micros/1000 loses ulp-precision at 1e15 scale and flips boundaries)."""
    us = F.unix_micros(F.col(col))
    return ((us - F.pmod(us, F.lit(1000))) / F.lit(1000)).cast("long")


# ---------------------------------------------------------------------------
# oracle SQL fragments: each rule both engines must agree on and each CTE
# chain several oracles share, written once for DuckDB; a docstring names
# the library function a fragment mirrors. An `indent` argument only
# reproduces a call site's line layout; it never changes what the SQL
# computes.
# ---------------------------------------------------------------------------


def _sql_normalize(col: str = "text") -> str:
    """functions/dedup.py ``normalize_text``: trim, lowercase, collapse
    whitespace runs to one space."""
    return rf"regexp_replace(lower(trim({col})), '\s+', ' ', 'g')"


def _sql_tokens(col: str = "text", indent: int | None = None) -> str:
    """functions/dedup.py ``tokens``: the normalized text split on ' '."""
    wrap = " " if indent is None else "\n" + " " * indent
    return f"string_split({_sql_normalize(col)},{wrap}' ')"


def _sql_token_count(col: str = "text", indent: int = 12, blank: int = 0) -> str:
    """functions/text.py ``token_count``: whitespace-run split of the
    trimmed text; blank text counts ``blank`` (0 as in the library, 1
    where the count is a divisor)."""
    return (
        f"CASE WHEN length(trim({col})) = 0 THEN {blank}\n{' ' * indent}"
        rf"ELSE len(regexp_split_to_array(trim({col}), '\s+')) END"
    )


def _sql_md5_int(expr: str, digits: int = 15) -> str:
    """The integer of the first ``digits`` hex digits of md5(expr) — the
    library's ``F.conv(F.substring(F.md5(x), 1, digits), 16, 10)`` idiom
    (functions/dedup.py ``shingle_hash``, functions/sampling.py
    ``sample_key``). INT while the prefix fits in 31 bits, else BIGINT."""
    cast = "INT" if digits < 8 else "BIGINT"
    return f"('0x' || substr(md5({expr}), 1, {digits}))::{cast}"


def _sql_shingle_hash(expr: str) -> str:
    """functions/dedup.py ``shingle_hash``: the 60-bit md5 prefix of
    ``expr`` mod 2^30."""
    return f"({_sql_md5_int(expr)} % 1073741824)"


def _sql_doc_tokens(name: str = "t", col: str = "tk", src: str = "documents") -> str:
    """CTE ``name(doc_id, col)``: functions/dedup.py ``tokens`` of every
    document of ``src``."""
    return f"""{name} AS (
    SELECT doc_id,
           {_sql_tokens()} AS {col}
    FROM {src}
)"""


def _sql_token_hash_ctes() -> str:
    """``WITH t → h``: each document's tokens and their 30-bit hashes
    ``th`` (``_sql_shingle_hash`` per token), the first step
    of functions/text.py ``rolling_hash_fingerprint``."""
    return f"""WITH {_sql_doc_tokens()}, h AS (
    SELECT doc_id,
           [{_sql_shingle_hash('x')} for x in tk] AS th
    FROM t
)"""


def _sql_ngram_occ_ctes(n: int) -> str:
    """``WITH t → counts → occ``: token counts and every word ``n``-gram
    occurrence ``(doc_id, pos, fp = md5(gram))`` — the gram ladder of
    functions/dedup.py ``dup_ngram_coverage`` / ``dedup_substrings``."""
    return f"""WITH {_sql_doc_tokens()}, counts AS (
    SELECT doc_id, len(tk) AS n_tokens FROM t
), occ AS (
    SELECT doc_id, pos, md5(gram) AS fp
    FROM (
        SELECT doc_id,
               unnest(g) AS gram,
               generate_subscripts(g, 1) AS pos
        FROM (SELECT doc_id,
                     CASE WHEN len(tk) >= {n}
                          THEN [array_to_string(tk[i:i+{n}-1], ' ')
                                for i in range(1, len(tk) - {n} + 2)]
                          ELSE [] END AS g
              FROM t)
    )
)"""


def _sql_distinct_gram_ctes(n: int) -> str:
    """``WITH toks → grams``: each document's distinct word ``n``-grams
    ``g``, one row each — the gram sets functions/text.py
    ``contaminated_doc_ids`` / ``ngram_novelty`` and functions/sketch.py
    ``bloom_semi_join`` compare."""
    return f"""WITH {_sql_doc_tokens("toks", "t")}, grams AS (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= {n}
                  THEN list_distinct([array_to_string(t[i:i+{n - 1}], ' ')
                                      for i in range(1, len(t) - {n - 2})])
                  ELSE [] END) AS g
    FROM toks
)"""


def _sql_shingle_set_ctes() -> str:
    """``toks → sh``: each document's distinct word-3-gram set ``s``
    (functions/dedup.py ``ngram_shingles``), the Jaccard operand of the
    exact similarity joins."""
    return f"""toks AS (
  SELECT doc_id,
         {_sql_tokens()} AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in range(1, len(t) - 1)])
              ELSE [] END AS s
  FROM toks
)"""


def _sql_shingle_ctes(src: str = "documents") -> str:
    """CTEs ``toks → sh`` over ``src``: the normalized token list ``t``
    and the word-3-gram list ``shingles`` per doc (functions/dedup.py
    ``tokens`` / ``shingles_from_tokens``)."""
    return rf"""{_sql_doc_tokens("toks", "t", src)}, sh AS (
    SELECT doc_id,
           CASE WHEN len(t) >= 3
                THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
                ELSE [] END AS shingles
    FROM toks
)"""


def _sql_band_keys(items: list[str], bands: int, sep: str = ",\n               ") -> str:
    """The md5 band-key list of functions/dedup.py ``_band_keys``: key b
    is ``md5('b|' || v[b·r] || '|' || …)`` over the SQL value ``items``."""
    rows = len(items) // bands
    return sep.join(
        f"md5('{b}|' || " + " || '|' || ".join(items[b * rows:(b + 1) * rows]) + ")"
        for b in range(bands)
    )


def _sql_banded_from(id_col: str = "doc_id") -> str:
    return f"FROM banded a JOIN banded b ON a.band = b.band AND a.{id_col} < b.{id_col}"


def _sql_banded_pairs(indent: str = "", id_col: str = "doc_id") -> str:
    """The banded self-join tail: distinct ``(id_a, id_b)``, id_a < id_b,
    of the docs sharing a band key (functions/dedup.py
    ``_banded_self_join``)."""
    return (
        f"{indent}SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b\n"
        f"{indent}{_sql_banded_from(id_col)}"
    )


def _sql_minhash_ctes(
    src: str = "documents", *, bits: int | None = None, bands: int = 4
) -> str:
    """CTE chain ``toks → sh → sig → banded`` computing MinHash+LSH band
    keys over ``src``, mirroring functions/dedup.py: base hash h = (60-bit
    int of md5(shingle)) % 2^30; sig[i] = min((A[i]*h + B[i]) % P), kept
    to its low ``bits`` bits for b-bit MinHash; ``bands`` md5 band keys."""
    from proxima_platform_spark.functions.dedup import (
        MINHASH_A, MINHASH_B, MINHASH_PRIME,
    )

    base = _sql_shingle_hash("s")
    trunc = "" if bits is None else f" % {2**bits}"
    sig_items = ",\n               ".join(
        f"list_min([({MINHASH_A[i]} * {base} + {MINHASH_B[i]}) % {MINHASH_PRIME}"
        f" for s in shingles]){trunc}"
        for i in range(8)
    )
    band_items = _sql_band_keys([f"sg[{i + 1}]::VARCHAR" for i in range(8)], bands)
    return rf"""{_sql_shingle_ctes(src)}, sig AS (
    SELECT doc_id,
           [{sig_items}] AS sg
    FROM sh WHERE len(shingles) > 0
), banded AS (
    SELECT doc_id, unnest([{band_items}]) AS band FROM sig
)"""


def _sql_minhash_components() -> str:
    """``WITH RECURSIVE`` MinHash band pairs over documents, then
    ``edges → reach``: the connected components of functions/graph.py
    ``dedup_groups`` by recursive min-label reachability (a label l reaches
    node x through monotone frontier l < next-node; the minimum label a
    node receives is its component's minimum)."""
    return f"""WITH RECURSIVE {_sql_minhash_ctes("documents")},
pairs AS (
{_sql_banded_pairs("    ")}
), edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
), reach(node, label) AS (
    SELECT DISTINCT u, u FROM edges
    UNION
    SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
    WHERE r.label < e.v
)"""


def _sql_winner_ctes(src: str) -> str:
    """``per_doc → winners`` over ``src(fp, doc_id, pos)``: each
    fingerprint shared by >= 2 documents and its globally-first occurrence
    ``(wd, wp)``, the one that survives (functions/dedup.py
    ``dedup_substrings`` / ``dedup_winnow``)."""
    return f"""per_doc AS (
    SELECT fp, doc_id, min(pos) AS mp FROM {src} GROUP BY 1, 2
), winners AS (
    SELECT fp, min(doc_id) AS wd, arg_min(mp, doc_id) AS wp
    FROM per_doc GROUP BY fp HAVING count(*) >= 2
)"""


def _sql_ngram_removed(n: int) -> str:
    """``rem → removed``: every token position covered by a non-winning
    occurrence of a shared ``n``-gram."""
    return f"""rem AS (
    SELECT occ.doc_id, occ.pos
    FROM occ JOIN winners USING (fp)
    WHERE NOT (occ.doc_id = winners.wd AND occ.pos = winners.wp)
), removed AS (
    SELECT DISTINCT doc_id, rp FROM (
        SELECT doc_id, unnest([pos + i for i in range(0, {n})]) AS rp
        FROM rem
    )
)"""


def _sql_reassembly(src: str, cut: str) -> str:
    """``tok → kept → reass``: the tokens ``tk`` of ``src`` whose position
    is not in ``cut(doc_id, rp)`` (aliased by its first letter), re-joined
    with ' ' in order."""
    a = cut[0]
    return f"""tok AS (
    SELECT doc_id, generate_subscripts(tk, 1) AS tp, unnest(tk) AS tok FROM {src}
), kept AS (
    SELECT k.doc_id, k.tp, k.tok FROM tok k
    WHERE NOT EXISTS (
        SELECT 1 FROM {cut} {a} WHERE {a}.doc_id = k.doc_id AND {a}.rp = k.tp
    )
), reass AS (
    SELECT doc_id, count(*) AS n_kept,
           array_to_string(list(tok ORDER BY tp), ' ') AS text_dedup
    FROM kept GROUP BY doc_id
)"""


def _sql_cut_runs_tail(src: str) -> str:
    """``cut → run_len → run_stats``: the ``removed`` positions outside the
    winners' kept windows ``keptw``, their runs, then the reassembly of
    ``src`` minus ``cut`` and the per-document report (kept / removed
    tokens, cut runs, longest run, text) of functions/dedup.py
    ``dedup_substrings_maximal`` / ``dedup_winnow``."""
    return f"""cut AS (
    SELECT r.doc_id, r.rp FROM removed r
    WHERE NOT EXISTS (
        SELECT 1 FROM keptw k WHERE k.doc_id = r.doc_id AND k.rp = r.rp
    )
), run_len AS (
    SELECT doc_id, grp, count(*) AS rl FROM (
        SELECT doc_id,
               rp - row_number() OVER (PARTITION BY doc_id ORDER BY rp) AS grp
        FROM cut
    ) GROUP BY 1, 2
), run_stats AS (
    SELECT doc_id, count(*) AS n_runs_cut, max(rl) AS max_run_len
    FROM run_len GROUP BY 1
), {_sql_reassembly(src, "cut")}
SELECT c.doc_id, c.n_tokens,
       coalesce(r.n_kept, 0) AS n_kept,
       c.n_tokens - coalesce(r.n_kept, 0) AS n_removed,
       coalesce(s.n_runs_cut, 0) AS n_runs_cut,
       coalesce(s.max_run_len, 0) AS max_run_len,
       coalesce(r.text_dedup, '') AS text_dedup
FROM counts c
LEFT JOIN reass r USING (doc_id)
LEFT JOIN run_stats s USING (doc_id)"""


def _sql_span_dedup_ctes(k: int, cols: str) -> str:
    """``sp → ex → kept → re`` over the token CTE ``t(toks)``: each
    document's ``k``-token spans, the first occurrence of each distinct
    span within the document, re-joined in order — functions/dedup.py
    ``self_dedup_spans``. ``cols`` are the columns ``sp`` carries on."""
    return f"""sp AS (
    SELECT {cols},
           [array_to_string(toks[s+1:s+{k}], ' ')
            for s in range(0, greatest(len(toks), 1), {k})] AS spans
    FROM t
), ex AS (
    SELECT doc_id, unnest(spans) AS span, generate_subscripts(spans, 1) AS pos
    FROM sp
), kept AS (
    SELECT doc_id, span, min(pos) AS pos FROM ex GROUP BY 1, 2
), re AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(span, ' ' ORDER BY pos) AS text_dedup
    FROM kept GROUP BY 1
)"""


def _sql_paragraph_ctes(keep: str) -> str:
    """``WITH tk → st → seg → nz → keep``: each document cut into 10-token
    paragraphs (the fixture has no newlines), the non-empty ones, and
    ``rn = 1`` on each distinct paragraph's first occurrence by
    (doc_id, pos) — functions/dedup.py ``paragraph_winners``."""
    return f"""WITH {_sql_doc_tokens("tk", "toks")}, st AS (
    SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 10)) AS s
    FROM tk
), seg AS (
    SELECT doc_id, s // 10 AS pos, array_to_string(toks[s+1:s+10], ' ') AS para
    FROM st
), nz AS (
    SELECT * FROM seg WHERE len(para) > 0
), {keep} AS (
    SELECT doc_id, pos, para,
           row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
    FROM nz
)"""


def _sql_bm25_ctes() -> str:
    """``toks → d → stats`` of functions/ranking.py ``bm25_score`` for the
    query ['stream', 'data', 'query']: per-doc length ``dl`` and term
    counts ``tf<i>``; corpus size ``n``, mean length ``avgdl`` and document
    frequencies ``df<i>``."""
    terms = ["stream", "data", "query"]
    tfs = ",\n".join(
        f"           len(list_filter(t, x -> x = '{w}')) AS tf{i}"
        for i, w in enumerate(terms)
    )
    dfs = ",\n".join(
        f"           sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::DOUBLE AS df{i}"
        for i in range(len(terms))
    )
    return f"""WITH {_sql_doc_tokens("toks", "t")}, d AS (
    SELECT doc_id, len(t) AS dl,
{tfs}
    FROM toks
), stats AS (
    SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
{dfs}
    FROM d
)"""


def _sql_bm25_score(indent: int = 7) -> str:
    """functions/ranking.py ``bm25_score`` (k1 = 1.2, b = 0.75) over
    ``d, stats`` of ``_sql_bm25_ctes``, rounded to 4 places; ``indent`` is
    the column of ``round(``."""
    pad = " " * indent
    terms = f"\n{pad}  + ".join(
        f"ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5))\n{pad}      * (tf{i}::DOUBLE * 2.2)"
        f" / (tf{i}::DOUBLE + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))"
        for i in range(3)
    )
    return f"round(\n{pad}    {terms},\n{pad}4)"


def _sql_nb_model_ctes() -> str:
    """``tr_tok → … → model`` over the training CTE ``tr(lang, text)``: the
    add-one multinomial naive-Bayes model of functions/classify.py
    ``nb_counts`` — per-class log prior, unseen-word log probability and
    per-(class, word) log probability, each quantized to 8 places."""
    return f"""tr_tok AS (
    SELECT lang AS c,
           unnest({_sql_tokens()}) AS w
    FROM tr
),
cwc AS (SELECT c, w, count(*) AS cnt FROM tr_tok GROUP BY 1, 2),
ctok AS (SELECT c, sum(cnt) AS tc FROM cwc GROUP BY 1),
vocab AS (SELECT count(DISTINCT w) AS v FROM cwc),
cdocs AS (SELECT lang AS c, count(*) AS nc FROM tr GROUP BY 1),
nd AS (SELECT count(*) AS nd FROM tr),
classes AS (
    SELECT c, tc, v,
           round(ln(nc / nd), 8)::DECIMAL(28,10) AS log_prior,
           round(ln(1.0 / (tc + v)), 8)::DECIMAL(28,10) AS lp_unseen
    FROM cdocs CROSS JOIN nd JOIN ctok USING (c) CROSS JOIN vocab
),
model AS (
    SELECT c, w,
           round(ln((cnt + 1) / (tc + v)), 8)::DECIMAL(28,10) AS lp
    FROM cwc JOIN ctok USING (c) CROSS JOIN vocab
)"""


def _sql_nb_loglik_ctes(src: str) -> str:
    """``te_tok → ll``: each document of ``src``'s summed log likelihood
    per class under ``_sql_nb_model_ctes`` (functions/classify.py
    ``nb_best_from_counts`` before the prior)."""
    return f"""te_tok AS (
    SELECT id, w, count(*) AS n FROM (
        SELECT doc_id AS id,
               unnest({_sql_tokens()}) AS w
        FROM {src}
    ) GROUP BY 1, 2
),
ll AS (
    SELECT t.id, cl.c,
           sum(t.n * coalesce(m.lp, cl.lp_unseen)) AS ll
    FROM te_tok t
    CROSS JOIN classes cl
    LEFT JOIN model m ON m.c = cl.c AND m.w = t.w
    GROUP BY 1, 2
)"""


def _sql_lsh_bucket(n_planes: int, offset: int) -> str:
    """DuckDB mirror of sign_lsh_buckets_arrow's integer-exact plane family:
    fixed-point components floor(x·10⁶) (exact in doubles) against ±1 planes
    (md5 top hex digit ≥ 8) — an *integer* projection, so summation order
    can't matter and both engines agree bit-for-bit by construction."""
    return f"""(list_sum(list_transform(range({n_planes}), p ->
      CASE WHEN list_sum(list_transform(range(len(v)), d ->
        floor(v[d+1] * 1000000.0)::BIGINT *
        (CASE WHEN {_sql_md5_int(f"(p + {offset})::VARCHAR || ',' || d::VARCHAR", 1)} >= 8
              THEN 1 ELSE -1 END)
      )) > 0 THEN 2**p ELSE 0 END)))::BIGINT"""


def _sql_lsh_candidates() -> str:
    """``b → cand`` over ``base(vec_id, v)``: two 8-plane sign-LSH tables
    of functions/similarity.py ``sign_lsh_buckets_arrow`` and the vector
    pairs (``va``, ``vb``; id_a < id_b) sharing a bucket in either."""
    return f"""b AS (
  SELECT vec_id, v,
    {_sql_lsh_bucket(8, 0)} AS b0,
    {_sql_lsh_bucket(8, 8)} AS b1
  FROM base),
cand AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.v AS va, c.v AS vb
  FROM b a JOIN b c ON a.b0 = c.b0 AND a.vec_id < c.vec_id
  UNION
  SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.v AS va, c.v AS vb
  FROM b a JOIN b c ON a.b1 = c.b1 AND a.vec_id < c.vec_id
)"""


def _sql_lsh_knn_ctes() -> str:
    """``base → b → cand → scored → directed`` of functions/similarity.py
    ``knn_join_lsh``: nonzero vectors, their exact cosine per distinct
    candidate pair, and each pair in both directions."""
    return f"""WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE len(list_filter(embedding::DOUBLE[], x -> x <> 0)) > 0
),
{_sql_lsh_candidates()},
scored AS (
  SELECT DISTINCT id_a, id_b,
         list_dot_product(va, vb)
         / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) AS cos
  FROM cand
  WHERE list_dot_product(va, vb)
        / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) > -2.0
),
directed AS (
  SELECT id_a, id_b, cos FROM scored
  UNION ALL
  SELECT id_b AS id_a, id_a AS id_b, cos FROM scored
)"""


def _sql_semdedup_report() -> str:
    """``condemned`` and the per-vector report of functions/cluster.py
    ``semantic_dedup``: a vector is dropped when a candidate pair ``p(id_b,
    cos)`` condemns it with cosine > 0.40; kept vectors report -2.0."""
    return """condemned AS (
    SELECT id_b, count(*) AS n_near, max(cos) AS max_cos
    FROM p WHERE cos > 0.40 GROUP BY 1
)
SELECT av.vec_id, av.cid AS cluster,
       c.id_b IS NULL AS kept,
       coalesce(c.n_near, 0) AS n_near,
       round(coalesce(c.max_cos, -2.0), 6) AS max_cos
FROM av LEFT JOIN condemned c ON av.vec_id = c.id_b"""


def _sql_device_snapshot(prefix: str = "device.") -> str:
    """``inst → tomb`` and the joined select of the wildcard snapshot of
    ``_device_changelog`` (changelog.py ``snapshot``): the latest
    ``{prefix}<event_id % 5>`` instance per user, and the user's newest
    ``error`` event as a whole-wildcard tombstone; the caller's WHERE keeps
    instances with ``stamp >= tombstone``."""
    return f"""WITH inst AS (
    SELECT user_id::VARCHAR AS key,
           '{prefix}' || (event_id % 5)::VARCHAR AS attribute,
           epoch_us(ts) // 1000 AS stamp_ms, epoch_us(ts) AS stamp_us
    FROM events WHERE event_type <> 'error'
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_id % 5 ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
), tomb AS (
    SELECT user_id::VARCHAR AS key, max(epoch_us(ts)) AS tomb_us
    FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT i.key, i.attribute, i.stamp_ms
FROM inst i LEFT JOIN tomb t ON i.key = t.key"""


def _sql_daily_bins() -> str:
    """CTE ``binned``: each event's UTC day and its value bin under
    operators/rollup.py ``histogram_rollup`` with boundaries
    [0, 100, 200, 300, 400] (bin 0 below the first, 5 from the last)."""
    return """binned AS (
    SELECT (epoch_ms(ts) // 86400000) * 86400000 AS day_ms,
           event_type,
           CASE WHEN value < 0.0 THEN 0
                WHEN value < 100.0 THEN 1
                WHEN value < 200.0 THEN 2
                WHEN value < 300.0 THEN 3
                WHEN value < 400.0 THEN 4
                ELSE 5 END AS bin_id
    FROM events
)"""


def _sql_copurchase_edges(small: bool = False) -> str:
    """The body of the part co-purchase edge CTE the graph queries share:
    distinct ``(u, v)`` part pairs (u < v) bought in one order; ``small``
    keeps only lineitems of quantity <= 5."""
    edges = """  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"""
    if small:
        edges += "\n  WHERE a.l_quantity <= 5 AND b.l_quantity <= 5"
    return edges


def _sql_triangle_nodes() -> str:
    """``tri → nodes`` over the edge CTE ``e(u, v)`` (u < v): every
    triangle once, then each of its three corners — functions/graph.py
    ``triangle_counts``."""
    return """tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
), nodes AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)"""


def _sql_hash_split_select() -> str:
    """The split of functions/sampling.py ``hash_split`` over ``keyed(doc_id,
    sk)``, sk in [0, 10^6): the cumulative ranges of its sorted split names,
    test [0, 0.1) → train [0.1, 0.9) → validation."""
    return """SELECT doc_id,
       CASE WHEN sk < 100000 THEN 'test'
            WHEN sk < 900000 THEN 'train'
            ELSE 'validation' END AS split
FROM keyed"""


# ===========================================================================
# §2.1 sources / scans
# ===========================================================================

T0 = 1704844800000  # 2024-01-10 00:00 UTC, epoch ms
T1 = 1705708800000  # 2024-01-20 00:00 UTC


def q_batch_updates_range(spark, sf):
    """Bounded scan of raw updates in a time range
    (ref beam/core/.../BeamDataOperator.java:281-318)."""
    ev = _events(spark, sf)
    return ev.where((F.col("ts_ms") >= T0) & (F.col("ts_ms") < T1)).select(
        "event_id", "user_id", "event_type", "value", "ts_ms"
    )


SQL_BATCH_UPDATES = f"""
SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
FROM events WHERE epoch_ms(ts) >= {T0} AND epoch_ms(ts) < {T1}
"""


def q_batch_snapshot(spark, sf):
    """Snapshot: latest element per (key, attribute) — the reduce-fallback
    path (ref BeamDataOperator.java:394-397, PCollectionTools.java:42-66)."""
    snap = snapshot(_events_changelog(spark, sf))
    return snap.select(
        "key",
        "attribute",
        _stamp_ms().alias("stamp_ms"),
        F.decode("value", "UTF-8").alias("val"),
    )


SQL_BATCH_SNAPSHOT = """
SELECT user_id::VARCHAR AS key, event_type AS attribute,
       epoch_us(ts) // 1000 AS stamp_ms, value::VARCHAR AS val
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
"""


def q_snapshot_with_deletes(spark, sf):
    """Delete-tombstone resolution: rows with value<10 are deletes; a
    (key, attribute) whose *latest* element is a delete disappears
    (ref SURVEY §2.10.1, datamodel.md:100-149)."""
    clog = _events_changelog(spark, sf, delete=F.col("value") < 10)
    snap = snapshot(clog)
    return snap.select(
        "key",
        "attribute",
        _stamp_ms().alias("stamp_ms"),
        F.decode("value", "UTF-8").cast("double").alias("val"),
    )


SQL_SNAPSHOT_WITH_DELETES = """
SELECT user_id::VARCHAR AS key, event_type AS attribute,
       epoch_us(ts) // 1000 AS stamp_ms, value AS val
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
    AND NOT (value < 10)
"""


def _device_changelog(spark, sf):
    """Wildcard-attribute changelog derived from events: instances
    device.<event_id%5> from non-error rows; each user's error rows emit a
    deleteWildcard tombstone on device.* (exercises SURVEY §2.10.2)."""
    ev = _events(spark, sf)
    inst = to_changelog(
        ev.where(F.col("event_type") != "error"),
        entity="user",
        key="user_id",
        attribute=F.concat(F.lit("device."), (F.col("event_id") % 5).cast("string")),
        stamp="tstamp",
        value=F.encode(F.col("value").cast("string"), "UTF-8"),
        seq_id="event_id",
    )
    tomb = to_changelog(
        ev.where(F.col("event_type") == "error"),
        entity="user",
        key="user_id",
        attribute=F.lit("device.*"),
        stamp="tstamp",
        seq_id="event_id",
        delete=F.lit(True),
        delete_wildcard=F.lit(True),
    )
    return inst.unionByName(tomb)


def q_wildcard_tombstone_snapshot(spark, sf):
    """deleteWildcard semantics: instances older than the latest device.*
    tombstone drop; stamp >= tombstone survives
    (ref LocalCachedPartitionedView.java:99-121,268-286)."""
    snap = snapshot(_device_changelog(spark, sf))
    return snap.select("key", "attribute", _stamp_ms().alias("stamp_ms"))


SQL_WILDCARD_TOMBSTONE = f"""
{_sql_device_snapshot()}
WHERE t.tomb_us IS NULL OR i.stamp_us >= t.tomb_us
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_snapshot_wide(spark, sf):
    """Pivoted table view: one row per key, latest value per attribute as a
    column (datamodel.md:127-149 'table' form; snapshot_wide fixes the pivot
    values so no extra distinct-scan job runs)."""
    snap = snapshot(_events_changelog(spark, sf))
    wide = snapshot_wide(snap, attributes=EVENT_TYPES)
    return wide.select(
        "key", *[F.decode(F.col(t), "UTF-8").alias(t) for t in EVENT_TYPES]
    )


SQL_SNAPSHOT_WIDE = """
WITH latest AS (
    SELECT user_id::VARCHAR AS key, event_type, value::VARCHAR AS v
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
)
SELECT key,
       max(v) FILTER (event_type = 'click') AS click,
       max(v) FILTER (event_type = 'error') AS error,
       max(v) FILTER (event_type = 'purchase') AS purchase,
       max(v) FILTER (event_type = 'signup') AS signup,
       max(v) FILTER (event_type = 'view') AS view
FROM latest GROUP BY key
"""


def q_random_access_get(spark, sf):
    """Point lookup on the snapshot (ref RandomAccessReader.get:172)."""
    snap = snapshot(_events_changelog(spark, sf))
    return batch_src.get(snap, "42", "click").select(
        "key", "attribute", _stamp_ms().alias("stamp_ms"),
        F.decode("value", "UTF-8").alias("val"),
    )


SQL_RANDOM_ACCESS_GET = """
SELECT user_id::VARCHAR AS key, event_type AS attribute,
       epoch_us(ts) // 1000 AS stamp_ms, value::VARCHAR AS val
FROM events WHERE user_id = 42 AND event_type = 'click'
QUALIFY row_number() OVER (ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
"""


def q_scan_wildcard(spark, sf):
    """Prefix scan of wildcard instances of one key, keyset-paged
    (ref RandomAccessReader.java:245-312)."""
    snap = snapshot(_device_changelog(spark, sf))
    return batch_src.scan_wildcard(snap, "7", "device.", limit=3).select(
        "key", "attribute", _stamp_ms().alias("stamp_ms")
    )


SQL_SCAN_WILDCARD = f"""
{_sql_device_snapshot()}
WHERE (t.tomb_us IS NULL OR i.stamp_us >= t.tomb_us) AND i.key = '7'
ORDER BY i.attribute LIMIT 3
"""


def q_multi_get(spark, sf):
    """multiFetch: batched point lookups (ref RandomAccessReader.java:181-196)."""
    snap = snapshot(_events_changelog(spark, sf))
    return batch_src.multi_get(snap, ["7", "21", "42"], "click").select(
        "key", "attribute", _stamp_ms().alias("stamp_ms"),
        F.decode("value", "UTF-8").alias("val"),
    )


SQL_MULTI_GET = """
SELECT user_id::VARCHAR AS key, event_type AS attribute,
       epoch_us(ts) // 1000 AS stamp_ms, value::VARCHAR AS val
FROM events WHERE user_id IN (7, 21, 42) AND event_type = 'click'
QUALIFY row_number() OVER (
    PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
"""


def q_with_window(spark, sf):
    """withWindow: pair each element with its window (ref Stream.java:147 →
    BeamStream.withWindow:427 — in Spark the window is just a column)."""
    s = Stream(_events(spark, sf), "tstamp")
    win = s.with_window(3600_000)
    return win.df.select(
        "event_id",
        (F.unix_micros(F.col("__window.start")) / 1000).cast("long").alias("ws_ms"),
    )


SQL_WITH_WINDOW = """
SELECT event_id, epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS ws_ms FROM events
"""


def q_list_entities(spark, sf):
    """Keyset-paged key listing (ref RandomAccessReader.java:325-340)."""
    snap = snapshot(_events_changelog(spark, sf))
    return batch_src.list_entities(snap, offset="42", limit=20)


SQL_LIST_ENTITIES = """
SELECT DISTINCT user_id::VARCHAR AS key FROM events
WHERE user_id::VARCHAR > '42' ORDER BY key LIMIT 20
"""


def q_impulse_source(spark, sf):
    """Periodic impulse: synthetic bounded tick source
    (ref BeamStream.impulse:254, periodicImpulse:275-310)."""
    s = Stream.periodic_impulse(spark, count=12, interval_ms=3600_000, start_ms=T0)
    return s.df.select("tick", _stamp_ms().alias("stamp_ms"))


SQL_IMPULSE_SOURCE = f"""
SELECT i AS tick, {T0} + i * 3600000 AS stamp_ms FROM range(12) t(i)
"""


def q_proxy_attribute_read(spark, sf):
    """Proxy attribute: device.* viewed as dev.* through a read-side rename
    proxy, then snapshot (ref AttributeProxyDescriptor.java,
    ElementWiseProxyTransform.java:23-70, RenameTransformation.java)."""
    proxy = AttributeProxyDescriptor(name="dev.*", target="device.*")
    clog = proxy.apply_read(_device_changelog(spark, sf))
    snap = snapshot(clog)
    return snap.select("key", "attribute", _stamp_ms().alias("stamp_ms"))


SQL_PROXY_ATTRIBUTE_READ = f"""
{_sql_device_snapshot("dev.")}
WHERE t.tomb_us IS NULL OR i.stamp_us >= t.tomb_us
"""


def q_elementwise_transform(spark, sf):
    """Declarative element-wise transformation: each upsert fans out to two
    derived attributes (1→N on the changelog; ref
    core/.../transform/ElementWiseTransformation.java:29-58, wiring
    ConfigRepository.readTransformations:394). Batch application of the same
    function the replication controller runs per micro-batch."""
    clog = _events_changelog(spark, sf)

    def derive(batch: DataFrame) -> DataFrame:
        v = F.decode("value", "UTF-8").cast("double")
        doubled = batch.withColumn(
            "attribute", F.concat(F.lit("derived.2x_"), F.col("attribute"))
        ).withColumn("value", F.encode((v * 2).cast("string"), "UTF-8"))
        negated = batch.withColumn(
            "attribute", F.concat(F.lit("derived.neg_"), F.col("attribute"))
        ).withColumn("value", F.encode((-v).cast("string"), "UTF-8"))
        return doubled.unionByName(negated)

    derived = derive(clog)
    return derived.groupBy("attribute").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.decode("value", "UTF-8").cast("double"), 2).alias("total"),
    )


SQL_ELEMENTWISE_TRANSFORM = """
SELECT 'derived.2x_' || event_type AS attribute, count(*) AS n,
       sum((value * 2)::DECIMAL(18,2))::DOUBLE AS total
FROM events GROUP BY 1
UNION ALL
SELECT 'derived.neg_' || event_type AS attribute, count(*) AS n,
       sum((-value)::DECIMAL(18,2))::DOUBLE AS total
FROM events GROUP BY 1
"""


def q_union_attributes(spark, sf):
    """Union of two attribute changelogs (ref BeamStream.union:886-930,
    unionStream console env)."""
    clog = _events_changelog(spark, sf)
    clicks = clog.where(F.col("attribute") == "click")
    views = clog.where(F.col("attribute") == "view")
    u = Stream(clicks).union(Stream(views)).df
    return u.groupBy("attribute").agg(F.count(F.lit(1)).alias("n"))


SQL_UNION_ATTRIBUTES = """
SELECT event_type AS attribute, count(*) AS n FROM events
WHERE event_type IN ('click', 'view') GROUP BY 1
"""


# ===========================================================================
# §2.3 element-wise
# ===========================================================================


def q_map_project(spark, sf):
    """map (ref Stream.java:82 → BeamStream.map:388)."""
    li = _load(spark, sf, "lineitem")
    return Stream(li).map(
        l_orderkey="l_orderkey",
        l_linenumber="l_linenumber",
        revenue=F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4),
    ).df


SQL_MAP_PROJECT = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS revenue
FROM lineitem
"""


def q_filter_where(spark, sf):
    """filter (ref Stream.java:105 → Filter.by)."""
    li = _load(spark, sf, "lineitem")
    return Stream(li).filter(
        (F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R")
    ).df.select("l_orderkey", "l_linenumber", "l_quantity")


SQL_FILTER_WHERE = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_quantity > 45 AND l_returnflag = 'R'
"""


def q_flatmap_tokens(spark, sf):
    """flatMap (ref Stream.java:57 → FlatMapElements; explode keeps the
    1→N expansion inside codegen, no Python)."""
    docs = _load(spark, sf, "documents").where(F.col("doc_id") < 20)
    return docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ", -1)).alias("token"),
    )


SQL_FLATMAP_TOKENS = rf"""
SELECT doc_id,
       unnest({_sql_tokens()}) AS token
FROM documents WHERE doc_id < 20
"""


# ===========================================================================
# §2.4 windows  +  §2.5 aggregations
# ===========================================================================


def q_tumbling_window_sum(spark, sf):
    """Tumbling event-time window + sumByKey (ref BeamStream.timeWindow:831,
    WindowedStream.sumByKey:480)."""
    s = Stream(_events(spark, sf), "tstamp")
    agg = s.time_window(3600_000).aggregate(
        F.col("event_type"), _dsum(F.col("value"), 2).alias("total")
    )
    return agg.select(
        (F.unix_micros(F.col("window.start")) / 1000).cast("long").alias("ws_ms"),
        F.col("key"),
        F.col("total"),
    )


SQL_TUMBLING_WINDOW_SUM = """
SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS ws_ms,
       event_type AS key, sum(value::DECIMAL(18,2))::DOUBLE AS total
FROM events GROUP BY 1, 2
"""


def q_sliding_window_count(spark, sf):
    """Sliding window + global count (ref BeamStream:836 SlidingWindows)."""
    s = Stream(_events(spark, sf), "tstamp")
    agg = s.time_sliding_window(3600_000, 1800_000).count(alias="n")
    return agg.select(
        (F.unix_micros(F.col("window.start")) / 1000).cast("long").alias("ws_ms"),
        F.col("n"),
    )


SQL_SLIDING_WINDOW_COUNT = """
SELECT epoch_ms(time_bucket(INTERVAL '30 minutes', ts)) - 1800000 * i AS ws_ms,
       count(*) AS n
FROM events CROSS JOIN (VALUES (0), (1)) t(i)
GROUP BY 1
"""


def q_session_window_stats(spark, sf):
    """Per-key session windows, 30-minute gap (ref BeamStream:843 Sessions).
    Computed on ms-truncated event time in both engines; Spark merges
    sessions when next <= prev+gap, mirrored by `diff > gap` starting a new
    session in the oracle."""
    ev = _events(spark, sf).withColumn("tsm", F.timestamp_millis(F.col("ts_ms")))
    s = Stream(ev, "tsm")
    agg = s.session_window("user_id", 1800_000).count_by_key(F.col("__key"))
    return agg.select(
        F.col("key").alias("user_id"),
        (F.unix_micros(F.col("window.start")) / 1000).cast("long").alias("sess_start_ms"),
        F.col("count").alias("n"),
    )


SQL_SESSION_WINDOW_STATS = """
WITH t AS (SELECT user_id, epoch_ms(ts) AS tm FROM events),
m AS (
    SELECT user_id, tm,
           CASE WHEN tm - lag(tm) OVER w > 1800000 OR lag(tm) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tm)
),
s AS (SELECT user_id, tm, sum(new_sess) OVER (PARTITION BY user_id ORDER BY tm) AS sid FROM m)
SELECT user_id, min(tm) AS sess_start_ms, count(*) AS n
FROM s GROUP BY user_id, sid
"""


def q_calendar_window_month(spark, sf):
    """Calendar window (months, UTC) (ref CalendarWindows.java:95-291)."""
    s = Stream(_events(spark, sf), "tstamp")
    agg = s.calendar_window("month").aggregate(
        None, F.count(F.lit(1)).alias("n"), _dsum(F.col("value"), 2).alias("total")
    )
    return agg.select(
        (F.unix_micros(F.col("window")) / 1000).cast("long").alias("month_ms"),
        "n",
        "total",
    )


SQL_CALENDAR_WINDOW_MONTH = """
SELECT epoch_ms(date_trunc('month', ts)) AS month_ms, count(*) AS n,
       sum(value::DECIMAL(18,2))::DOUBLE AS total
FROM events GROUP BY 1
"""


def q_calendar_window_week(spark, sf):
    """2-week calendar windows (ref CalendarWindows.java weeks variant —
    N-unit bucketing beyond plain date_trunc; weeks anchored to Monday
    1970-01-05)."""
    s = Stream(_events(spark, sf), "tstamp")
    agg = s.calendar_window("week", count=2).aggregate(
        None, F.count(F.lit(1)).alias("n"), _dsum(F.col("value"), 2).alias("total")
    )
    return agg.select(
        (F.unix_micros(F.col("window")) / 1000).cast("long").alias("week_ms"),
        "n",
        "total",
    )


SQL_CALENDAR_WINDOW_WEEK = """
SELECT epoch_ms((DATE '1970-01-05' + INTERVAL (
           (datediff('day', DATE '1970-01-05', date_trunc('week', ts)) // 14) * 14
       ) DAY)::TIMESTAMP) AS week_ms,
       count(*) AS n, sum(value::DECIMAL(18,2))::DOUBLE AS total
FROM events GROUP BY 1
"""


def q_global_window_agg(spark, sf):
    """Global window + count/sum/average (ref windowAll
    BeamWindowedStream.java:642, :489-541)."""
    s = Stream(_events(spark, sf), "tstamp")
    return s.window_all().aggregate(
        None,
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("value"), 2).alias("total"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


SQL_GLOBAL_WINDOW_AGG = """
SELECT count(*) AS n, sum(value::DECIMAL(18,2))::DOUBLE AS total, round(avg(value), 6) AS mean,
       min(value) AS vmin, max(value) AS vmax
FROM events
"""


def q_count_by_key(spark, sf):
    """countByKey (ref WindowedStream.java:250 → Count.perKey)."""
    s = Stream(_events(spark, sf), "tstamp")
    return s.window_all().count_by_key("user_id", alias="n").select(
        F.col("key").alias("user_id"), "n"
    )


SQL_COUNT_BY_KEY = "SELECT user_id, count(*) AS n FROM events GROUP BY 1"


def q_sum_by_key(spark, sf):
    """sumByKey (ref WindowedStream.java:480)."""
    s = Stream(_events(spark, sf), "tstamp")
    agg = s.window_all().aggregate(
        F.col("event_type"), _dsum(F.col("value"), 2).alias("total")
    )
    return agg.select(F.col("key").alias("event_type"), F.col("total"))


SQL_SUM_BY_KEY = """
SELECT event_type, sum(value::DECIMAL(18,2))::DOUBLE AS total FROM events GROUP BY 1
"""


def q_average_by_key(spark, sf):
    """averageByKey (ref WindowedStream.java:301)."""
    s = Stream(_events(spark, sf), "tstamp")
    agg = s.window_all().average_by_key("event_type", "value")
    return agg.select(F.col("key").alias("event_type"), F.round("avg", 6).alias("mean"))


SQL_AVERAGE_BY_KEY = """
SELECT event_type, round(avg(value), 6) AS mean FROM events GROUP BY 1
"""


def q_combine_min_max(spark, sf):
    """combine with arbitrary algebraic combiners
    (ref WindowedStream.java:189 → Combine.perKey)."""
    s = Stream(_events(spark, sf), "tstamp")
    return s.window_all().aggregate(
        F.col("user_id"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    ).select(F.col("key").alias("user_id"), "vmin", "vmax")


SQL_COMBINE_MIN_MAX = """
SELECT user_id, min(value) AS vmin, max(value) AS vmax FROM events GROUP BY 1
"""


def q_reduce_fold(spark, sf):
    """reduce: arbitrary fold per key (ref WindowedStream.java:61 →
    BeamWindowedStream.reduce:93-165) — sum of squares via F.aggregate."""
    s = Stream(_events(spark, sf), "tstamp")
    folded = s.window_all().reduce(
        F.col("event_type"), F.col("value").cast("double"), 0.0,
        lambda acc, x: acc + x * x, alias="sumsq",
    )
    return folded.select(
        F.col("key").alias("event_type"), F.round("sumsq", 4).alias("sumsq")
    )


SQL_REDUCE_FOLD = """
SELECT event_type, round(sum(value * value), 4) AS sumsq FROM events GROUP BY 1
"""


def q_group_reduce_median(spark, sf):
    """groupReduce: non-algebraic per-key reduce (ref WindowedStream.java:149)
    — median via Arrow-batched applyInPandas."""
    s = Stream(_events(spark, sf).select("event_type", "value"), None)

    def median(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"event_type": [key[0]], "med": [round(float(pdf["value"].median()), 6)]}
        )

    return s.window_all().group_reduce(
        F.col("event_type"), median, "event_type string, med double"
    )


SQL_GROUP_REDUCE_MEDIAN = """
SELECT event_type, round(median(value), 6) AS med FROM events GROUP BY 1
"""


def q_distinct_pairs(spark, sf):
    """distinct (ref WindowedStream.java:500 → Beam Distinct)."""
    ev = _events(spark, sf).select("user_id", "event_type")
    return Stream(ev).window_all().distinct()


SQL_DISTINCT_PAIRS = "SELECT DISTINCT user_id, event_type FROM events"


def q_distinct_mapper(spark, sf):
    """distinct with representative mapper (ref WindowedStream.java:521) —
    deterministic minimal representative per first letter."""
    ev = _events(spark, sf).select("event_type")
    return Stream(ev).window_all().distinct(mapper=F.substring("event_type", 1, 1))


SQL_DISTINCT_MAPPER = """
SELECT min(event_type) AS event_type FROM events GROUP BY substr(event_type, 1, 1)
"""


def q_reduce_to_latest(spark, sf):
    """reduceToLatest (ref WindowedStream.java:118 →
    PCollectionTools.reduceAsSnapshot) — compaction keeping tombstones."""
    clog = _events_changelog(spark, sf)
    latest = Stream(clog).window_all().reduce_to_latest()
    return latest.select("key", "attribute", _stamp_ms().alias("stamp_ms"))


SQL_REDUCE_TO_LATEST = """
SELECT user_id::VARCHAR AS key, event_type AS attribute, epoch_us(ts) // 1000 AS stamp_ms
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
"""


# ===========================================================================
# §2.6 joins
# ===========================================================================


def q_join_inner(spark, sf):
    """Equi inner join (ref WindowedStream.join:335 → Join.innerJoin).
    customer is the small side — Catalyst broadcasts it."""
    orders = _load(spark, sf, "orders")
    customer = _load(spark, sf, "customer")
    j = orders.join(customer, orders["o_custkey"] == customer["c_custkey"], "inner")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice"), 2).alias("revenue"),
    )


SQL_JOIN_INNER = """
SELECT c_mktsegment, count(*) AS n_orders, sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def q_join_left(spark, sf):
    """Left outer join, nulls right (ref WindowedStream.leftJoin:370,
    JoinFn :657-692). Orders restricted to pre-1996 so 326 of 1500
    customers actually take the null-right path (n_orders=0, total=0.0):
    unrestricted, every customer matches and the check would certify an
    inner join (the tpch_q7ish non-vacuity lesson)."""
    customer = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("date")
    )
    j = customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left_outer")
    return j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.coalesce(_dsum(F.col("o_totalprice"), 2), F.lit(0.0)).alias("total"),
    )


SQL_JOIN_LEFT = """
SELECT c_custkey, count(o_orderkey) AS n_orders,
       coalesce(sum(o_totalprice::DECIMAL(18,2))::DOUBLE, 0.0) AS total
FROM customer LEFT JOIN (SELECT * FROM orders
                         WHERE o_orderdate < DATE '1996-01-01') o
  ON c_custkey = o_custkey
GROUP BY 1
"""


def q_windowed_join(spark, sf):
    """Per-window join: purchase⋈click of the same user in the same tumbling
    hour (ref BeamWindowedStream.join:371-404 — join key includes the
    window)."""
    ev = _events(spark, sf)
    purchases = Stream(ev.where(F.col("event_type") == "purchase"), "tstamp")
    clicks = ev.where(F.col("event_type") == "click")
    joined = purchases.time_window(3600_000).join(clicks, "user_id", "user_id")
    return joined.groupBy("window").agg(F.count(F.lit(1)).alias("n_pairs")).select(
        (F.unix_micros(F.col("window.start")) / 1000).cast("long").alias("ws_ms"),
        "n_pairs",
    )


SQL_WINDOWED_JOIN = """
SELECT epoch_ms(time_bucket(INTERVAL '1 hour', a.ts)) AS ws_ms, count(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND time_bucket(INTERVAL '1 hour', a.ts) = time_bucket(INTERVAL '1 hour', b.ts)
WHERE a.event_type = 'purchase' AND b.event_type = 'click'
GROUP BY 1
"""


def q_join_three_way(spark, sf):
    """Multi-join with two broadcastable dims (part, supplier)."""
    li = _load(spark, sf, "lineitem")
    part = _load(spark, sf, "part")
    supp = _load(spark, sf, "supplier")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).join(
        F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"]
    )
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
    )


SQL_JOIN_THREE_WAY = """
SELECT p_brand, count(*) AS n,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1
"""


def q_semi_join(spark, sf):
    """left_semi (Spark extension; absent in reference — SURVEY §2.6):
    customers with at least one pre-1996 order. Every customer has SOME
    order in this fixture, so the unrestricted semi-join keeps all 1500
    rows and never exercises the drop path; with the cutoff 1174 of 1500
    survive — both paths checked (the tpch_q7ish non-vacuity lesson)."""
    customer = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("date")
    )
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate < DATE '1996-01-01')
"""


def q_anti_join(spark, sf):
    """left_anti (Spark extension): customers with no orders before 1996.
    The date restriction makes the check non-vacuous on this fixture
    (every customer has SOME order, so the unrestricted form returns 0
    rows and a hash match would prove nothing — the tpch_q7ish lesson);
    with the cutoff, 326 of 1500 customers survive at sf0.01, exercising
    both the exclusion and retention paths of the anti-join."""
    customer = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("date")
    )
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate < DATE '1996-01-01')
"""


def q_asof_join_enrich(spark, sf):
    """As-of join (extension; absent in reference — SURVEY §2.6): each
    purchase enriched with the user's latest click value at-or-before it.
    One shuffle + carry-forward window, no range cross-product; DuckDB's
    native ASOF JOIN is the oracle."""
    ev = _events(spark, sf)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("tstamp").alias("stamp"), "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("tstamp").alias("stamp"),
        F.round("value", 2).alias("click_value"),
    )
    out = asof_join(purchases, clicks, key="user_id", right_values=["click_value"])
    return out.select(
        "event_id",
        "user_id",
        _stamp_ms().alias("stamp_ms"),
        F.col("right_click_value").alias("last_click_value"),
    )


SQL_ASOF_JOIN_ENRICH = """
SELECT p.event_id, p.user_id, epoch_us(p.ts) // 1000 AS stamp_ms,
       round(c.value, 2) AS last_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_json_props_extract(spark, sf):
    """JSON scheme surface (ref JsonSerializer.java:35-36 → schema-less
    string + get_json_object): extract and aggregate a JSON field."""
    ev = _events(spark, sf)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_total"))
    )


SQL_JSON_PROPS_EXTRACT = """
SELECT event_type, count(*) AS n,
       sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_total
FROM events GROUP BY 1
"""


def q_avro_scheme_roundtrip(spark, sf):
    """Avro scheme surface (ref AvroSerializerFactory.java:44): customer rows
    → Avro binary (pure-python spec codec as Arrow-batched pandas UDF —
    catalog/avro.py; spark-avro jar absent here) → decode → project. The
    oracle is a plain SELECT: if the codec corrupted any value the hash
    diverges."""
    import json as _json

    from proxima_platform_spark.catalog.schemes import resolve_scheme

    schema = {
        "type": "record",
        "name": "Customer",
        "fields": [
            {"name": "c_custkey", "type": "long"},
            {"name": "c_name", "type": "string"},
            {"name": "c_acctbal", "type": "double"},
        ],
    }
    scheme = resolve_scheme("avro:" + _json.dumps(schema))
    cust = _load(spark, sf, "customer")
    packed = cust.select(
        scheme.encode(F.struct("c_custkey", "c_name", "c_acctbal")).alias("bin")
    )
    return (
        packed.select(scheme.decode(F.col("bin")).alias("c"))
        .select("c.c_custkey", "c.c_name", F.round("c.c_acctbal", 2).alias("acctbal"))
    )


SQL_AVRO_SCHEME_ROUNDTRIP = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal FROM customer
"""


def q_proto_scheme_roundtrip(spark, sf):
    """Proto scheme surface (ref scheme/proto/.../ProtoSerializerFactory.java:
    78,124): supplier rows → protobuf wire bytes (pure-python varint/zigzag
    codec as Arrow-batched pandas UDF — catalog/proto.py; spark-protobuf jar
    absent here) → decode → project. The oracle is a plain SELECT: any codec
    corruption (varint boundaries, zigzag sign, length-delimited framing)
    diverges the hash."""
    from proxima_platform_spark.catalog.proto import register_message
    from proxima_platform_spark.catalog.schemes import resolve_scheme

    register_message(
        "tpch.Supplier",
        {
            "fields": {
                1: {"name": "s_suppkey", "type": "int64"},
                2: {"name": "s_name", "type": "string"},
                3: {"name": "s_nationkey", "type": "sint64"},
                4: {"name": "s_acctbal", "type": "double"},
            }
        },
    )
    scheme = resolve_scheme("proto:tpch.Supplier")
    supp = _load(spark, sf, "supplier")
    packed = supp.select(
        scheme.encode(
            F.struct("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        ).alias("bin")
    )
    return packed.select(scheme.decode(F.col("bin")).alias("s")).select(
        "s.s_suppkey", "s.s_name", "s.s_nationkey",
        F.round("s.s_acctbal", 2).alias("acctbal"),
    )


SQL_PROTO_SCHEME_ROUNDTRIP = """
SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS acctbal
FROM supplier
"""


def q_schema_registry_roundtrip(spark, sf):
    """Confluent schema-registry scheme (ref
    SchemaRegistryValueSerializer.java:47-140): nation rows → magic byte +
    schema id + Avro body under the subject's latest schema, then decode by
    the embedded id. Registry is an injected in-memory stub (the scheme's
    fetcher seam); framing and codec are the real wire format."""
    import json as _json

    from proxima_platform_spark.catalog.schemes import resolve_scheme

    schema_str = _json.dumps(
        {
            "type": "record",
            "name": "Nation",
            "fields": [
                {"name": "n_nationkey", "type": "long"},
                {"name": "n_name", "type": "string"},
                {"name": "n_regionkey", "type": "long"},
            ],
        }
    )

    def fetch(url):  # nested → cloudpickle serializes by value for executors
        if url.endswith("/versions/latest"):
            return _json.dumps({"id": 7, "version": 1, "schema": schema_str})
        if url.endswith("/schemas/ids/7"):
            return _json.dumps({"schema": schema_str})
        raise AssertionError(url)

    scheme = resolve_scheme(
        "schema-registry:http://registry:8081/nations", registry_fetcher=fetch
    )
    nation = _load(spark, sf, "nation")
    packed = nation.select(
        scheme.encode(F.struct("n_nationkey", "n_name", "n_regionkey")).alias("bin")
    )
    return packed.select(scheme.decode(F.col("bin")).alias("n")).select(
        "n.n_nationkey", "n.n_name", "n.n_regionkey"
    )


SQL_SCHEMA_REGISTRY_ROUNDTRIP = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


# ===========================================================================
# §2.7 set ops / ordering / limits
# ===========================================================================


def q_union_names(spark, sf):
    """union + distinct (ref Stream.java:337-369)."""
    region = _load(spark, sf, "region").select(F.col("r_name").alias("name"))
    nation = _load(spark, sf, "nation").select(F.col("n_name").alias("name"))
    return Stream(region).union(Stream(nation)).df.distinct()


SQL_UNION_NAMES = """
SELECT r_name AS name FROM region UNION SELECT n_name FROM nation
"""


def q_sorted_topk(spark, sf):
    """sorted + limit (ref BeamWindowedStream.sorted:442-488; top-k =
    orderBy().limit(), TakeOrderedAndProject in the physical plan)."""
    orders = _load(spark, sf, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


SQL_SORTED_TOPK = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_keyset_pagination(spark, sf):
    """keyset pagination (ref RandomAccessReader.java:230-312)."""
    li = _load(spark, sf, "lineitem")
    return (
        li.select("l_orderkey").distinct()
        .where(F.col("l_orderkey") > 1000)
        .orderBy("l_orderkey")
        .limit(20)
    )


SQL_KEYSET_PAGINATION = """
SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey > 1000
ORDER BY l_orderkey LIMIT 20
"""


def q_rollup_revenue(spark, sf):
    """rollup (Spark extension; reference has no grouping sets —
    SURVEY §2.5)."""
    li = _load(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


SQL_ROLLUP_REVENUE = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ===========================================================================
# §2.8 stateful
# ===========================================================================


def q_retract_join(spark, sf):
    """Retract join (ref beam/core/.../transforms/retract/RetractJoin.java:57-363):
    click (L) ⋈ view (R) changelogs keyed by user; value<5 rows are deletes.
    Emits additions and retractions in (stamp, seq_id) order. Values carried
    as exact cents strings so both engines stringify identically."""
    ev = _events(spark, sf).where(F.col("event_type").isin("click", "view"))
    ev = ev.withColumn(
        "v", F.round(F.col("value") * 100, 0).cast("long").cast("string")
    )
    left = ev.where(F.col("event_type") == "click")
    right = ev.where(F.col("event_type") == "view")
    kw = dict(
        left_key="user_id", right_key="user_id",
        left_value="v", right_value="v",
        left_stamp="tstamp", right_stamp="tstamp",
        left_delete=F.col("value") < 5, right_delete=F.col("value") < 5,
        left_seq="event_id", right_seq="event_id",
    )
    out = retract_join_batch(left, right, **kw)
    return out.select(
        "key", "left_value", "right_value",
        _stamp_ms().alias("stamp_ms"), "is_addition",
    )


# Replay as SQL: per (key, side) the previous live value is lag(v) (NULL when
# the previous element was a delete); the counterpart state is the last
# other-side value strictly before this row (last_value IGNORE NULLS over
# UNBOUNDED PRECEDING..1 PRECEDING, deletes encoded as a chr(1) sentinel so
# they overwrite instead of being skipped).
SQL_RETRACT_JOIN = """
WITH merged AS (
    SELECT user_id::VARCHAR AS key,
           CASE WHEN event_type = 'click' THEN 'L' ELSE 'R' END AS side,
           CASE WHEN value < 5 THEN NULL
                ELSE round(value * 100)::BIGINT::VARCHAR END AS v,
           epoch_us(ts) AS st, event_id AS seq
    FROM events WHERE event_type IN ('click', 'view')
), w AS (
    SELECT *,
        lag(v) OVER (PARTITION BY key, side ORDER BY st, seq) AS old_v,
        last_value(CASE WHEN side = 'L' THEN coalesce(v, chr(1)) END IGNORE NULLS)
            OVER (PARTITION BY key ORDER BY st, seq
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lraw,
        last_value(CASE WHEN side = 'R' THEN coalesce(v, chr(1)) END IGNORE NULLS)
            OVER (PARTITION BY key ORDER BY st, seq
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rraw
    FROM merged
), x AS (
    SELECT key, side, v, old_v, st,
           CASE WHEN side = 'L' THEN nullif(rraw, chr(1))
                ELSE nullif(lraw, chr(1)) END AS counterpart
    FROM w
)
SELECT key,
       CASE WHEN side = 'L' THEN old_v ELSE counterpart END AS left_value,
       CASE WHEN side = 'L' THEN counterpart ELSE old_v END AS right_value,
       st // 1000 AS stamp_ms, FALSE AS is_addition
FROM x WHERE counterpart IS NOT NULL AND old_v IS NOT NULL
UNION ALL
SELECT key,
       CASE WHEN side = 'L' THEN v ELSE counterpart END AS left_value,
       CASE WHEN side = 'L' THEN counterpart ELSE v END AS right_value,
       st // 1000 AS stamp_ms, TRUE AS is_addition
FROM x WHERE counterpart IS NOT NULL AND v IS NOT NULL
"""


def q_integrate_per_key(spark, sf):
    """integratePerKey: running per-key prefix sum in event-time order, one
    output per input (ref Stream.java:545-550, IntegrateDoFn:1498-1542).
    Window-function mapping — ORDER BY raw ns stamp (exact in both engines).
    """
    ev = _events(spark, sf).withColumn("vdec", F.col("value").cast("decimal(18,2)"))
    out = Stream(ev, "ts").integrate_per_key("user_id", "vdec")
    return out.df.select(
        "event_id",
        F.col("key").cast("long").alias("user_id"),
        F.col("integrated").cast("double").alias("run_total"),
    )


SQL_INTEGRATE_PER_KEY = """
SELECT event_id, user_id,
       sum(value::DECIMAL(18,2)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE AS run_total
FROM events
"""


def q_reduce_value_state(spark, sf):
    """reduceValueStateByKey (sorted): per-user state machine emitting rows
    only when event_type changes (consecutive-dedup; ref Stream.java:496-503,
    BeamStream.java:1633-1677 — input applied in event-time order)."""
    # normalize the stamp to long epoch-µs Spark-side so the pandas state fn
    # is engine-dtype-independent (ts is long ns on Spark 3.x, NTZ on 4.x)
    # and sorts exactly like the oracle's ORDER BY epoch_us(ts)
    ev = _events(spark, sf).withColumn("ts_us", F.unix_micros(F.col("tstamp")))

    def transitions(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts_us", kind="mergesort")
        changed = pdf["event_type"].ne(pdf["event_type"].shift())
        out = pdf.loc[changed]
        return pd.DataFrame(
            {
                "user_id": int(key),
                # µs (DuckDB truncates parquet ns timestamps to µs)
                "tn": out["ts_us"],
                "event_type": out["event_type"],
            }
        )

    out = Stream(ev, "ts_us").reduce_value_state_by_key(
        F.col("user_id"), ["event_type", "ts_us"], transitions,
        "user_id long, tn long, event_type string",
    )
    return out.df


SQL_REDUCE_VALUE_STATE = """
SELECT user_id, epoch_us(ts) AS tn, event_type FROM (
    SELECT user_id, ts, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
    FROM events
) WHERE prev IS NULL OR prev <> event_type
"""


# ===========================================================================
# §2.9 transactions
# ===========================================================================


def q_transactions(spark, sf):
    """Serializable transactions over the changelog (ref
    TransactionLogObserver.java:81-694, transactions.md:100-187): seed ten
    balances, commit a transfer, abort a stale conflicting transfer, retry
    it against fresh state; return the final snapshot. The expected end
    state is hand-derived from the isolation semantics (not circular).
    Runs on the durable file-backed ledger (optimistic slot claim) so the
    correctness gate exercises the production form, not the test double."""
    import tempfile

    from proxima_platform_spark.transactions import (
        KeyAttribute, PersistentTransactionManager, TransactionState, Upsert,
    )

    mgr = PersistentTransactionManager(spark, tempfile.mkdtemp(prefix="txn-ledger-"))
    for i in range(10):
        mgr.commit(
            mgr.begin([]),
            [Upsert("user", str(i), "balance", b"100", stamp_ms=1000)],
        )
    bal = lambda k: KeyAttribute("user", k, "balance")
    # transfer 10 from key 0 to key 1
    t_ok = mgr.begin([bal("0"), bal("1")])
    # stale transaction that also read balance 0 before t_ok commits
    t_stale = mgr.begin([bal("0")])
    assert mgr.commit(t_ok, [
        Upsert("user", "0", "balance", b"90", stamp_ms=2000),
        Upsert("user", "1", "balance", b"110", stamp_ms=2000),
    ]) is TransactionState.COMMITTED
    assert mgr.commit(t_stale, [
        Upsert("user", "0", "balance", b"50", stamp_ms=2000),
    ]) is TransactionState.ABORTED
    # retried against fresh state: deduct 5 from the *current* 90
    mgr.run([bal("0")], lambda: [
        Upsert("user", "0", "balance", b"85", stamp_ms=3000),
    ])
    snap = snapshot(mgr.changelog())
    return snap.select("key", F.decode("value", "UTF-8").alias("balance"))


SQL_TRANSACTIONS = """
SELECT key, balance FROM (VALUES
    ('0', '85'), ('1', '110'), ('2', '100'), ('3', '100'), ('4', '100'),
    ('5', '100'), ('6', '100'), ('7', '100'), ('8', '100'), ('9', '100')
) AS t(key, balance)
"""


# ===========================================================================
# TPC-H-ish headline queries (bench + correctness)
# ===========================================================================


def q_tpch_q1(spark, sf):
    """Pricing summary (TPC-H Q1 shape) — partial+final hash agg over the
    fact table; the scan prunes to 7 columns."""
    li = _load(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            _dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "sum_disc_price"
            ),
            _dsum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                6,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS sum_disc_price,
       sum((l_extendedprice * (1 - l_discount) * (1 + l_tax))::DECIMAL(18,6))::DOUBLE AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q6(spark, sf):
    """Forecasting-revenue-change shape (TPC-H Q6): fully-pushed selective
    scan + single global agg — the pushdown showcase."""
    li = _load(spark, sf, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1994-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"))


SQL_TPCH_Q6 = """
SELECT sum((l_extendedprice * l_discount)::DECIMAL(18,4))::DOUBLE AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_tpch_q3(spark, sf):
    """Shipping-priority shape (TPC-H Q3): 3-way join + top-k revenue."""
    cust = _load(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
    )
    return (
        j.groupBy("l_orderkey", "o_orderpriority")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


SQL_TPCH_Q3 = """
SELECT l_orderkey, o_orderpriority,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_tpch_q5ish(spark, sf):
    """Regional revenue by supplier nation (TPC-H Q5 shape): 6-table join
    with a broadcast dim chain (region→nation→customer)."""
    region = _load(spark, sf, "region").where(F.col("r_name") == "ASIA")
    nation = _load(spark, sf, "nation")
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem")
    supp = _load(spark, sf, "supplier")
    nation_s = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    dims = (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("c_custkey")
    )
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(dims), orders["o_custkey"] == dims["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation_s), F.col("s_nationkey") == F.col("sn_key"))
    )
    return j.groupBy("nation").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue")
    )


SQL_TPCH_Q5ISH = """
SELECT n2.n_name AS nation,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY 1
"""


def q_tpch_q7ish(spark, sf):
    """Bilateral trade volume (TPC-H Q7 shape): supplier-nation ×
    customer-nation revenue by ship year for one nation pair — two broadcast
    nation dims on a fact join, ship-year from l_shipdate. The pair
    NATION_13/NATION_19 is taken from the driver fixture's nation table
    (NATION_0..NATION_24) so the filter actually selects rows; see
    tests/test_plans.py::TestQ7NonVacuous for the non-empty guard."""
    nation = _load(spark, sf, "nation")
    supp = _load(spark, sf, "supplier")
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem")
    n1 = nation.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              orders["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .where(
            ((F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_19"))
            | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_13"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))


SQL_TPCH_Q7ISH = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
   OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13')
GROUP BY 1, 2, 3
"""


def q_tpch_q10ish(spark, sf):
    """Returned-item revenue report (TPC-H Q10 shape): top 20 customers by
    revenue on returned lineitems; decimal-exact revenue makes the top-20
    cutoff engine-deterministic (ties broken by custkey)."""
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    nation = _load(spark, sf, "nation")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    )
    agg = j.groupBy("c_custkey", "c_name", F.col("n_name").alias("nation")).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


SQL_TPCH_Q10ISH = """
SELECT c_custkey, c_name, n_name AS nation,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# TPC-H decorrelation block (r04c): correlated scalar subqueries, EXISTS /
# NOT EXISTS with inequality correlation, NOT IN, scalar-subquery HAVING,
# CTE + scalar max — the subquery shapes Catalyst rewrites into joins
# (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery). These run
# through ``spark.sql`` on temp views deliberately: the SQL entry point is
# part of the engine surface, and the physical plans (left-semi/anti hash
# joins, broadcast scalar aggregates) are asserted in
# tests/test_plans.py::TestTpchDecorrelation. Engine-exactness notes inline:
# decimal accumulation for money sums, integral-double quantities for avg,
# bigint cents for balance thresholds.
# ---------------------------------------------------------------------------


def _tpch_views(spark, sf):
    """Register the TPC-H-ish fixture tables as ``t_*`` temp views for the
    spark.sql-based queries (idempotent per session)."""
    for t in ("part", "supplier", "customer", "orders", "lineitem", "nation", "region"):
        _load(spark, sf, t).createOrReplaceTempView(f"t_{t}")


def q_tpch_q2ish(spark, sf):
    """Minimum-cost supplier (TPC-H Q2 shape, adapted: no partsupp table in
    the fixture, so "cost" is the shipping supplier's account balance): for
    every small part, the supplier(s) whose s_acctbal equals the correlated
    per-part minimum. Exercises Catalyst's correlated-scalar-subquery
    rewrite (aggregate + rejoin on the correlation key); min over doubles is
    order-independent, so the equality is engine-exact."""
    _tpch_views(spark, sf)
    return spark.sql(
        """
        SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal
        FROM t_part p
        JOIN t_lineitem l ON p.p_partkey = l.l_partkey
        JOIN t_supplier s ON s.s_suppkey = l.l_suppkey
        WHERE p.p_size <= 5
          AND s.s_acctbal = (SELECT min(s2.s_acctbal)
                             FROM t_lineitem l2
                             JOIN t_supplier s2 ON s2.s_suppkey = l2.l_suppkey
                             WHERE l2.l_partkey = p.p_partkey)
        """
    )


SQL_TPCH_Q2ISH = """
SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE p.p_size <= 5
  AND s.s_acctbal = (SELECT min(s2.s_acctbal)
                     FROM lineitem l2
                     JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
                     WHERE l2.l_partkey = p.p_partkey)
"""


def q_tpch_q8ish(spark, sf):
    """National market share (TPC-H Q8 shape): NATION_7's share of supplier
    revenue among ASIA-region customers, by ship year. Two decimal-exact
    conditional sums per group; the share is one IEEE double division of two
    exact values, so it is bit-identical across engines."""
    nation = _load(spark, sf, "nation")
    region = _load(spark, sf, "region")
    cust = _load(spark, sf, "customer")
    supp = _load(spark, sf, "supplier")
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem")
    n1 = nation.select(F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk"))
    n2 = nation.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec = "decimal(18,4)"
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              orders["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(region.where(F.col("r_name") == "ASIA")),
              F.col("crk") == F.col("r_regionkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("snk"))
    )
    return j.groupBy(F.year("l_shipdate").alias("o_year")).agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_7", vol.cast(dec))
                  .otherwise(F.lit(0).cast(dec))).cast("double")
            / F.sum(vol.cast(dec)).cast("double")
        ).alias("mkt_share")
    )


SQL_TPCH_Q8ISH = """
SELECT year(l_shipdate) AS o_year,
       sum(CASE WHEN n2.n_name = 'NATION_7'
                THEN (l_extendedprice * (1 - l_discount))::DECIMAL(18,4)
                ELSE 0::DECIMAL(18,4) END)::DOUBLE
       / sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY 1
"""


def q_tpch_q9ish(spark, sf):
    """Product-type profit (TPC-H Q9 shape, adapted: no partsupp, so cost is
    p_retailprice * quantity): per-row profit is one double expression
    (bit-identical across engines), accumulated in decimal, grouped by
    supplier nation × ship year for parts whose name contains 'red'."""
    part = _load(spark, sf, "part").where(F.col("p_name").contains("red"))
    supp = _load(spark, sf, "supplier")
    nation = _load(spark, sf, "nation")
    li = _load(spark, sf, "lineitem")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    j = (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li["l_partkey"] == F.col("p_partkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year")
    ).agg(_dsum(profit, 4).alias("sum_profit"))


SQL_TPCH_Q9ISH = """
SELECT n_name AS nation, year(l_shipdate) AS o_year,
       sum((l_extendedprice * (1 - l_discount)
            - p_retailprice * l_quantity)::DECIMAL(18,4))::DOUBLE AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q_tpch_q11ish(spark, sf):
    """Important-stock identification (TPC-H Q11 shape): parts whose shipped
    value exceeds 1/1500 of total shipped value — a scalar subquery inside
    HAVING. Both sides accumulate in DECIMAL(18,2) and the threshold
    multiplies the per-part sum by an integer, so the comparison is exact in
    both engines (no double rounding at the cut)."""
    _tpch_views(spark, sf)
    return spark.sql(
        """
        SELECT l_partkey AS p_partkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
        FROM t_lineitem
        GROUP BY l_partkey
        HAVING sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 1500
               > (SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM t_lineitem)
        """
    )


SQL_TPCH_Q11ISH = """
SELECT l_partkey AS p_partkey,
       sum((l_extendedprice)::DECIMAL(18,2))::DOUBLE AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING sum((l_extendedprice)::DECIMAL(18,2)) * 1500
       > (SELECT sum((l_extendedprice)::DECIMAL(18,2)) FROM lineitem)
"""


def q_tpch_q13ish(spark, sf):
    """Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER join
    with an extra join-side predicate (non-urgent orders only), two-level
    aggregation — per-customer count including the zero bucket, then the
    histogram of those counts."""
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy(cust["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


SQL_TPCH_Q13ISH = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_tpch_q15ish(spark, sf):
    """Top supplier (TPC-H Q15 shape): revenue-per-supplier CTE reused twice
    — once as the join input, once under a scalar max() — selecting the
    supplier(s) whose quarterly revenue equals the maximum. Revenue is a
    DECIMAL(18,4) accumulation, so the max-equality is exact."""
    _tpch_views(spark, sf)
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
          FROM t_lineitem
          WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        FROM t_supplier
        JOIN revenue ON s_suppkey = supplier_no
        WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        """
    )


SQL_TPCH_Q15ISH = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev::DOUBLE AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
"""


def q_tpch_q16ish(spark, sf):
    """Part/supplier relationship count (TPC-H Q16 shape): count DISTINCT
    suppliers per (brand, size) over selected sizes, excluding a NOT IN
    supplier set (negative balances) — the anti-join rewrite of NOT IN plus
    a distinct aggregation."""
    _tpch_views(spark, sf)
    return spark.sql(
        """
        SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM t_part
        JOIN t_lineitem ON p_partkey = l_partkey
        WHERE p_size IN (1, 14, 23, 45)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM t_supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size
        """
    )


SQL_TPCH_Q16ISH = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_size IN (1, 14, 23, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
"""


def q_tpch_q17ish(spark, sf):
    """Small-quantity-order revenue (TPC-H Q17 shape): lineitems below 20%
    of their part's average quantity — a correlated scalar avg subquery per
    outer row. Quantities are integral doubles (fixture contract), so
    sum-then-divide is exact-sum + one IEEE division + one multiply: the
    threshold is bit-identical across engines and the < cut cannot flip."""
    _tpch_views(spark, sf)
    return spark.sql(
        """
        SELECT p_brand,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                 AS avg_yearly
        FROM t_lineitem
        JOIN t_part ON p_partkey = l_partkey
        WHERE p_brand IN ('Brand#12', 'Brand#23', 'Brand#34')
          AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                            FROM t_lineitem l2
                            WHERE l2.l_partkey = p_partkey)
        GROUP BY p_brand
        """
    )


SQL_TPCH_Q17ISH = """
SELECT p_brand,
       sum((l_extendedprice)::DECIMAL(18,2))::DOUBLE / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand IN ('Brand#12', 'Brand#23', 'Brand#34')
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
GROUP BY p_brand
"""


def q_tpch_q19ish(spark, sf):
    """Discounted revenue under disjunctive predicates (TPC-H Q19 shape):
    three OR'd conjunctions over (brand, size, quantity). The brand/size
    conjuncts land on the broadcast part side and the common l_quantity
    bounds are pushable to the scan; revenue accumulates in decimal."""
    part = _load(spark, sf, "part")
    li = _load(spark, sf, "lineitem")
    j = li.join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
                li["l_partkey"] == F.col("p_partkey"))
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    return j.where(cond).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
        F.count(F.lit(1)).alias("matched"),
    )


SQL_TPCH_Q19ISH = """
SELECT sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue,
       count(*) AS matched
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q21ish(spark, sf):
    """Suppliers-at-fault report (TPC-H Q21 shape, adapted: no receipt /
    commit dates in the fixture, so "at fault" = sole supplier with returned
    items on a multi-supplier finished order): EXISTS plus NOT EXISTS, both
    correlated with an inequality on the supplier key — the pattern Catalyst
    must turn into left-semi and left-anti joins with non-equi conjuncts."""
    _tpch_views(spark, sf)
    return spark.sql(
        """
        SELECT s_name, count(*) AS numwait
        FROM t_supplier
        JOIN t_lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN t_orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM t_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM t_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        """
    )


SQL_TPCH_Q21ISH = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
"""


def q_tpch_q22ish(spark, sf):
    """Global sales opportunity (TPC-H Q22 shape, adapted: no phone country
    codes, so grouped by nation; "inactive" = no open orders): customers
    above the positive-balance average with no 'O'-status orders. The
    average cut is computed in bigint cents (round(bal*100) is exact for the
    2-decimal fixture balances) as cents*count > total_cents — all-integer
    arithmetic, so the threshold cannot flip between engines."""
    _tpch_views(spark, sf)
    return spark.sql(
        """
        SELECT c_nationkey AS nation_key, count(*) AS numcust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM t_customer c
        WHERE CAST(round(c_acctbal * 100) AS BIGINT)
                * (SELECT count(*) FROM t_customer WHERE c_acctbal > 0.0)
              > (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT))
                 FROM t_customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM t_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'O')
        GROUP BY c_nationkey
        """
    )


SQL_TPCH_Q22ISH = """
SELECT c_nationkey AS nation_key, count(*) AS numcust,
       sum((c_acctbal)::DECIMAL(18,2))::DOUBLE AS totacctbal
FROM customer c
WHERE (round(c_acctbal * 100))::BIGINT
        * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
      > (SELECT sum((round(c_acctbal * 100))::BIGINT)
         FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'O')
GROUP BY c_nationkey
"""


def q_dq_audit(spark, sf):
    """Data-quality audit (the dbt-tests / Deequ constraint shape): one row
    per constraint with its violation count — PK uniqueness (duplicate
    o_orderkey), referential integrity (lineitem orphans vs orders,
    left-anti), accepted range (l_quantity bounds, l_discount in [0,1]),
    and completeness (NULL keys). The quantity bound is deliberately
    tighter than the fixture's [1,50] domain so the audit reports a
    non-zero count alongside the zero rows — both the fire and no-fire
    paths are exercised (the vacuity discipline). Each check is a count
    aggregate or an anti-join — exactly the shapes a 100 TB audit can
    afford (no sorts, no windows); the union of single-row aggregates
    keeps one job."""
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem")
    dup_pk = (
        orders.groupBy("o_orderkey").count().where(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_pk_unique").alias("constraint"), "violations")
    )
    orphans = (
        li.join(orders.select("o_orderkey"),
                li["l_orderkey"] == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_fk_orders").alias("constraint"), "violations")
    )
    qty_range = (
        li.where((F.col("l_quantity") < 1) | (F.col("l_quantity") > 40))
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("l_quantity_in_1_40").alias("constraint"), "violations")
    )
    disc_range = (
        li.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("l_discount_in_0_1").alias("constraint"), "violations")
    )
    null_keys = (
        li.where(F.col("l_orderkey").isNull())
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("l_orderkey_not_null").alias("constraint"), "violations")
    )
    return dup_pk.union(orphans).union(qty_range).union(disc_range).union(null_keys)


SQL_DQ_AUDIT = """
SELECT 'orders_pk_unique' AS constraint, count(*) AS violations
FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
UNION ALL
SELECT 'lineitem_fk_orders', count(*)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'l_quantity_in_1_40', count(*)
FROM lineitem WHERE l_quantity < 1 OR l_quantity > 40
UNION ALL
SELECT 'l_discount_in_0_1', count(*)
FROM lineitem WHERE l_discount < 0 OR l_discount > 1
UNION ALL
SELECT 'l_orderkey_not_null', count(*)
FROM lineitem WHERE l_orderkey IS NULL
"""


def q_null_safe_join(spark, sf):
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): customer and
    supplier cohorts keyed by a nullable derived group (nullif carves a NULL
    class out of the fixture's non-null keys). Plain equality silently drops
    the NULL×NULL pairs; the null-safe operator matches them — and Spark
    still plans it as a hash join (coalesced key), not a nested loop. The
    NULL group's pair count in the output is what certifies the semantics."""
    cust = _load(spark, sf, "customer").select(
        "c_custkey", F.nullif(F.pmod("c_nationkey", F.lit(5)), F.lit(4)).alias("cgrp")
    )
    supp = _load(spark, sf, "supplier").select(
        "s_suppkey", F.nullif(F.pmod("s_nationkey", F.lit(5)), F.lit(4)).alias("sgrp")
    )
    j = cust.join(F.broadcast(supp), cust["cgrp"].eqNullSafe(supp["sgrp"]))
    return j.groupBy(F.col("cgrp").alias("grp")).agg(F.count(F.lit(1)).alias("pairs"))


SQL_NULL_SAFE_JOIN = """
WITH c AS (SELECT c_custkey, nullif(c_nationkey % 5, 4) AS grp FROM customer),
     s AS (SELECT s_suppkey, nullif(s_nationkey % 5, 4) AS grp FROM supplier)
SELECT c.grp AS grp, count(*) AS pairs
FROM c JOIN s ON c.grp IS NOT DISTINCT FROM s.grp
GROUP BY 1
"""


def q_lateral_top_lines(spark, sf):
    """Correlated LATERAL derived table with per-outer-row ORDER BY/LIMIT:
    the top-2 priciest lineitems for each 1997 order — the lateral-join
    shape (Catalyst DecorrelateInnerQuery turns the limit-per-key subquery
    into a partitioned rank, never a per-row re-scan). Deterministic
    tie-break on l_linenumber."""
    _tpch_views(spark, sf)
    return spark.sql(
        """
        SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        FROM t_orders o, LATERAL (
          SELECT l_linenumber, l_extendedprice
          FROM t_lineitem
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber
          LIMIT 2) l
        WHERE o.o_orderdate >= '1997-01-01' AND o.o_orderdate < '1998-01-01'
        """
    )


SQL_LATERAL_TOP_LINES = """
SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
FROM orders o, LATERAL (
  SELECT l_linenumber, l_extendedprice
  FROM lineitem
  WHERE l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber
  LIMIT 2) l
WHERE o.o_orderdate >= '1997-01-01' AND o.o_orderdate < '1998-01-01'
"""


def q_rolling_range_revenue(spark, sf):
    """RANGE-frame window (interval-based, not row-count-based): trailing
    7-day order revenue per customer nation, ordered by epoch-ms order
    date. RANGE semantics include every peer row with an order value inside
    the frame bound, so ties contribute symmetrically and the result is
    tie-order-independent — the property ROWS frames lack. Exact bigint
    cents inside the frame; one exchange on the nation key."""
    from pyspark.sql import Window

    orders = _load(spark, sf, "orders")
    cust = _load(spark, sf, "customer")
    nation = _load(spark, sf, "nation")
    j = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                    orders["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        # o_orderdate is TIMESTAMP_NTZ on Spark 4 — epoch ms from wall-clock
        # parts (tz-free; an LTZ cast would shift by session offset)
        .withColumn(
            "od_ms",
            (
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.lit("1970-01-01").cast("date"),
                ).cast("long")
                * 86400
                + F.hour("o_orderdate") * 3600
                + F.minute("o_orderdate") * 60
            )
            * 1000
            + (F.expr("extract(SECOND FROM o_orderdate)") * 1000).cast("long"),
        )
        .withColumn("cents", F.round(F.col("o_totalprice") * 100, 0).cast("long"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("od_ms")
        .rangeBetween(-604800000, Window.currentRow)
    )
    return j.select(
        "o_orderkey",
        F.col("n_name").alias("nation"),
        F.sum("cents").over(w).alias("win_cents"),
    )


SQL_ROLLING_RANGE_REVENUE = """
SELECT o_orderkey, n_name AS nation,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         OVER (PARTITION BY n_name ORDER BY epoch_ms(o_orderdate)
               RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS win_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
"""


def q_grouping_sets_sales(spark, sf):
    """GROUPING SETS with grouping_id(): the arbitrary-set generalization of
    the rollup/cube family — {(flag,status), (flag), ()} in one pass. Spark
    expands the sets in a single Expand + aggregate (rows × 3 pre-combine,
    map-side partials still apply); grouping_id()'s bit vector is
    column-order-defined identically in both engines."""
    _tpch_views(spark, sf)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS grp_id,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               count(*) AS n_rows
        FROM t_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


SQL_GROUPING_SETS_SALES = """
SELECT l_returnflag, l_linestatus,
       GROUPING_ID(l_returnflag, l_linestatus) AS grp_id,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def q_percent_rank_orders(spark, sf):
    """Analytic rank family (percent_rank + cume_dist) per order priority,
    with a unique (totalprice, orderkey) sort so both engines agree on every
    rank: the outputs are small-integer ratios — (rank-1)/(n-1) and
    rank_count/n — one IEEE division each, bit-identical. One exchange on
    the partition key, sort, and a single window operator for both ranks."""
    from pyspark.sql import Window

    o = _load(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


SQL_PERCENT_RANK_ORDERS = """
SELECT o_orderkey, o_orderpriority,
       percent_rank() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS pct_rank,
       cume_dist() OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS cume
FROM orders
"""


def q_string_agg_nations(spark, sf):
    """Ordered string aggregation (LISTAGG/string_agg): nation names per
    region, comma-joined in sorted order. collect_list is unordered by
    contract in a distributed engine — the array_sort canonicalization is
    what makes the result deterministic, the same discipline every
    distributed string_agg needs (DuckDB gets it via ORDER BY inside the
    aggregate)."""
    nation = _load(spark, sf, "nation")
    region = _load(spark, sf, "region")
    return (
        nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        )
    )


SQL_STRING_AGG_NATIONS = """
SELECT r_name, count(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_twa_value(spark, sf):
    """Time-weighted average (the TimescaleDB `time_weight` primitive) of
    event values per user per day: each sample is weighted by its holding
    duration — lead(ts) within (user, day), last sample held to midnight.
    All-integer core: 2-decimal values become exact bigint cents (fixture
    contract, as ewma_value), durations are epoch-ms longs, so
    Σ(cents·dur) and Σdur are exact and the TWA is one IEEE double
    division, bit-identical across engines. Plan: one Exchange on
    (user, day) → Sort → Window(lead) → partial-agg — window and
    aggregation reuse the same partitioning, no second shuffle."""
    from proxima_platform_spark.functions.timeseries import time_weighted_average

    return time_weighted_average(_events(spark, sf), ["user_id"])


SQL_TWA_VALUE = """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         epoch_ms(ts) // 86400000 AS day,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events),
d AS (
  SELECT user_id, day, cents,
         coalesce(lead(ts_ms) OVER (PARTITION BY user_id, day
                                    ORDER BY ts_ms, event_id),
                  (day + 1) * 86400000) - ts_ms AS dur
  FROM e)
SELECT user_id, day * 86400000 AS day_ms,
       count(*) AS n_samples,
       CAST(sum(cents * dur) AS BIGINT) AS weighted_cents_ms,
       round(CAST(sum(cents * dur) AS DOUBLE)
             / (CAST(sum(dur) AS DOUBLE) * 100.0), 6) AS twa
FROM d
GROUP BY 1, 2
"""


def q_corr_price_qty(spark, sf):
    """Pearson correlation + sample covariance of (quantity, price) per
    return flag, decomposed into exact integer power sums instead of
    Spark's/DuckDB's streaming corr/covar kernels (whose partial-merge
    order makes them engine- and partitioning-dependent): quantities are
    integral, prices become bigint cents, and Σx, Σy, Σxy, Σx², Σy²
    accumulate in DECIMAL — order-independent. The closing formulas are
    the same double expression tree on both sides, so every IEEE op
    matches bit-for-bit. This is also the at-scale design: power sums are
    one map-side-combinable pass; the textbook two-pass mean-centered
    formula would read the fact table twice."""
    li = _load(spark, sf, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    dec = "decimal(38,0)"
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
        F.sum((y * y).cast(dec)).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / F.sqrt(varx * vary), 6).alias("corr_qty_price"),
        F.round(num / (F.col("n") * (F.col("n") - 1.0)) / 100.0, 4).alias(
            "covar_samp_qty_price"
        ),
    )


SQL_CORR_PRICE_QTY = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM (SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        FROM lineitem)
  GROUP BY l_returnflag)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
       round((n * sxy - sx * sy) / (n * (n - 1.0)) / 100.0, 4) AS covar_samp_qty_price
FROM s
"""


def q_set_intersect_buyers(spark, sf):
    """INTERSECT (set semantics): customers who ordered in both 1997 and
    1998. Spark plans distinct-set intersection as an aggregate + left-semi
    hash join — no operator the reference's union machinery offers
    (reference unions only concatenate: core/src/main/java/cz/o2/proxima/
    core/storage/commitlog — set ops are a genuine engine extension)."""
    o = _load(spark, sf, "orders")
    y97 = o.where(F.year("o_orderdate") == 1997).select(F.col("o_custkey").alias("c_custkey"))
    y98 = o.where(F.year("o_orderdate") == 1998).select(F.col("o_custkey").alias("c_custkey"))
    return y97.intersect(y98)


SQL_SET_INTERSECT_BUYERS = """
SELECT o_custkey AS c_custkey FROM orders WHERE year(o_orderdate) = 1997
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE year(o_orderdate) = 1998
"""


def q_set_except_priorities(spark, sf):
    """EXCEPT ALL (multiset semantics): the bag difference of order
    priorities 1997 vs 1998, re-aggregated to counts. Multiset difference
    keeps max(0, n1-n2) copies per value — the count column certifies the
    per-duplicate bookkeeping, not just membership."""
    o = _load(spark, sf, "orders")
    a = o.where(F.year("o_orderdate") == 1997).select("o_orderpriority")
    b = o.where(F.year("o_orderdate") == 1998).select("o_orderpriority")
    return a.exceptAll(b).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("surplus")
    )


SQL_SET_EXCEPT_PRIORITIES = """
SELECT o_orderpriority, count(*) AS surplus FROM (
  SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1997
  EXCEPT ALL
  SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1998
)
GROUP BY o_orderpriority
"""


def q_unpivot_metrics(spark, sf):
    """Unpivot / melt (wide→long, the inverse of the feature_matrix pivot):
    part metrics columns become (metric, val) rows, re-aggregated per
    metric. One narrow Generate — no shuffle until the final aggregate."""
    part = _load(spark, sf, "part").select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice"
    )
    m = part.unpivot(["p_partkey"], ["p_size", "p_retailprice"], "metric", "val")
    return m.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").cast("decimal(18,2)")).cast("double").alias("total"),
    )


SQL_UNPIVOT_METRICS = """
SELECT metric, count(*) AS n, sum(CAST(val AS DECIMAL(18,2)))::DOUBLE AS total
FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size, p_retailprice FROM part)
UNPIVOT (val FOR metric IN (p_size, p_retailprice))
GROUP BY metric
"""


# ===========================================================================
# LLM-pipeline extensions (north star): dedup / similarity / text
# ===========================================================================


def q_tpch_q4ish(spark, sf):
    """Order-priority checking (TPC-H Q4 shape): EXISTS semi-join of orders
    against late-shipped lineitems. The semi-join never materializes the
    probe side — one shuffle, build side reduced to the join keys."""
    orders = _load(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _load(spark, sf, "lineitem")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"]),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


SQL_TPCH_Q4ISH = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q_tpch_q14ish(spark, sf):
    """Promotion effect (TPC-H Q14 shape): broadcast part dim, conditional
    revenue ratio over one shipdate year."""
    li = _load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1999-01-01")
    )
    part = _load(spark, sf, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    return j.agg(
        F.round(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
                .cast("double")
                / F.sum(rev).cast("double")
            ),
            6,
        ).alias("promo_revenue_pct")
    )


SQL_TPCH_Q14ISH = """
SELECT round(
         100.0 * sum(CASE WHEN p_type = 'PROMO'
                     THEN (l_extendedprice * (1 - l_discount))::DECIMAL(18,4)
                     ELSE 0 END)::DOUBLE
         / sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE,
       6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1998-01-01' AND l_shipdate < '1999-01-01'
"""


def q_tpch_q18ish(spark, sf):
    """Large-volume customers (TPC-H Q18 shape): self-aggregated semi-join
    on orders above a quantity threshold, then re-aggregate with the
    customer dim. Quantities accumulate as decimal so the threshold cut and
    the hash compare are exact cross-engine; the big→big join shares the
    l_orderkey shuffle between the HAVING aggregate and the re-join."""
    li = _load(spark, sf, "lineitem")
    orders = _load(spark, sf, "orders")
    cust = _load(spark, sf, "customer")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    j = big.join(orders, big["l_orderkey"] == orders["o_orderkey"]).join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        j.select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


SQL_TPCH_Q18ISH = """
WITH big AS (
    SELECT l_orderkey, sum(l_quantity::DECIMAL(12,2)) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(l_quantity::DECIMAL(12,2)) > 300
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       sum_qty::DOUBLE AS sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def q_bm25_rank(spark, sf):
    """BM25 top-20 for the query ['stream', 'data', 'query']: one
    single-row corpus-stats aggregate broadcast into a shuffle-free scoring
    projection, TakeOrderedAndProject for the cut (functions/ranking.py)."""
    docs = _load(spark, sf, "documents")
    top = bm25_top_k(docs, ["stream", "data", "query"], k=20)
    return top.select("doc_id", F.round("score", 4).alias("score"))


SQL_BM25_RANK = rf"""
{_sql_bm25_ctes()}
SELECT doc_id,
       {_sql_bm25_score()} AS score
FROM d, stats
ORDER BY score DESC, doc_id LIMIT 20
"""


def q_rrf_fusion(spark, sf):
    """Hybrid retrieval via reciprocal-rank fusion (functions/ranking.py::
    rrf_fuse, Cormack et al. SIGIR'09): the BM25 top-50 for ['stream',
    'data', 'query'] fused with the embedding-cosine top-50 against the
    vec_id=0 query vector — rrf = Σ 1/(60+rank), the zero-tuning
    lexical+dense hybrid every retrieval-augmented pipeline runs. Ranks
    are row_number over the ROUNDED scores with id tie-breaks (the
    established cross-engine recipe), so the whole fusion replays
    bit-for-bit in the oracle. The ranking frames are top-N by contract
    (tiny); the global rank windows never see the corpus."""
    from pyspark.sql import Window

    from proxima_platform_spark.functions.ranking import bm25_score, rrf_fuse
    from proxima_platform_spark.functions.similarity import cosine_similarity

    docs = _load(spark, sf, "documents")
    emb = _load(spark, sf, "embeddings")
    lex = bm25_score(docs, ["stream", "data", "query"]).select(
        "doc_id", F.round("score", 4).alias("s")
    )
    wl = Window.orderBy(F.col("s").desc(), F.col("doc_id"))
    lex_r = (
        lex.withColumn("rank", F.row_number().over(wl))
        .where(F.col("rank") <= 50)
        .select("doc_id", "rank")
    )
    qvec = [
        float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    qlit = F.array(*[F.lit(x) for x in qvec])
    dense = emb.where(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"),
        F.round(cosine_similarity(F.col("embedding"), qlit), 4).alias("c"),
    )
    wd = Window.orderBy(F.col("c").desc(), F.col("doc_id"))
    dense_r = (
        dense.withColumn("rank", F.row_number().over(wd))
        .where(F.col("rank") <= 50)
        .select("doc_id", "rank")
    )
    return rrf_fuse([lex_r, dense_r], id_col="doc_id", k=60, top=20)


SQL_RRF_FUSION = rf"""
{_sql_bm25_ctes()}, lex AS (
    SELECT doc_id,
           {_sql_bm25_score(11)} AS s
    FROM d, stats
), lex_r AS (
    SELECT doc_id, rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank
        FROM lex)
    WHERE rank <= 50
), q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
dense AS (
    SELECT vec_id AS doc_id,
           round(
             list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 4) AS c
    FROM embeddings, q WHERE vec_id <> 0
), dense_r AS (
    SELECT doc_id, rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS rank
        FROM dense)
    WHERE rank <= 50
)
SELECT doc_id, round(sum(1.0 / (60 + rank)), 9) AS rrf,
       count(*) AS n_rankers
FROM (SELECT * FROM lex_r UNION ALL SELECT * FROM dense_r)
GROUP BY doc_id
ORDER BY rrf DESC, doc_id LIMIT 20
"""


def q_ndcg_retrieval(spark, sf):
    """Graded-relevance NDCG@{5,10,20} of the BM25 ranking
    (functions/evalmetrics.py::ndcg_at_k — the third leg of the
    retrieval-eval trio next to retrieval_auc / retrieval_precision):
    relevance = how many of the 3 query terms a document contains (0-3
    graded), gains 2^rel − 1 exact int64, rankings the total
    (rounded-score desc, id) / (rel desc, id) orders so both engines
    pick identical term sets; dcg/idcg/ndcg rounded 6 dp (the bm25/tpch
    double-sum convention)."""
    from proxima_platform_spark.functions.evalmetrics import ndcg_at_k
    from proxima_platform_spark.functions.ranking import (
        bm25_score,
        term_frequency,
    )
    from proxima_platform_spark.functions.dedup import tokens

    docs = _load(spark, sf, "documents")
    terms = ["stream", "data", "query"]
    lex = bm25_score(docs, terms).select(
        "doc_id", F.round("score", 4).alias("s")
    )
    rel = docs.select(
        "doc_id",
        sum(
            (term_frequency(tokens(F.col("text")), t) > 0).cast("long")
            for t in terms
        ).alias("rel"),
    )
    return ndcg_at_k(
        lex.join(rel, "doc_id"),
        [5, 10, 20],
        id_col="doc_id",
        score="s",
        rel="rel",
    )


SQL_NDCG_RETRIEVAL = rf"""
{_sql_bm25_ctes()}, scored AS (
    SELECT doc_id,
           {_sql_bm25_score(11)} AS s,
           (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
            + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
            + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS rel
    FROM d, stats
), ranked AS (
    SELECT doc_id, (1::BIGINT << rel) - 1 AS g,
           row_number() OVER (ORDER BY s DESC, doc_id) AS r,
           row_number() OVER (ORDER BY rel DESC, doc_id) AS ri
    FROM scored
)
SELECT k,
       round(sum(CASE WHEN r <= k THEN g::DOUBLE / log2(r::DOUBLE + 1.0) ELSE 0.0 END), 6) AS dcg,
       round(sum(CASE WHEN ri <= k THEN g::DOUBLE / log2(ri::DOUBLE + 1.0) ELSE 0.0 END), 6) AS idcg,
       round(sum(CASE WHEN r <= k THEN g::DOUBLE / log2(r::DOUBLE + 1.0) ELSE 0.0 END)
             / nullif(sum(CASE WHEN ri <= k THEN g::DOUBLE / log2(ri::DOUBLE + 1.0) ELSE 0.0 END), 0), 6) AS ndcg
FROM ranked, unnest([5, 10, 20]) AS u(k)
WHERE r <= 20 OR ri <= 20
GROUP BY k
"""


def q_char_entropy(spark, sf):
    """Per-document character-entropy quality signal (functions/text.py::
    char_entropy): H = log2(N) - (sum n_c*log2(n_c))/N bits/char — the
    compressibility filter (spam/keyword-stuffing sits low, prose
    clusters tightly), exactly SQL-replayable where a gzip-ratio is not.
    One explode + two hash aggs, no Python."""
    from proxima_platform_spark.functions.text import char_entropy

    docs = _load(spark, sf, "documents")
    return char_entropy(docs, "doc_id", "text")


SQL_CHAR_ENTROPY = """
WITH chars AS (
    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
), c2 AS (
    SELECT doc_id, ch, count(*) AS n FROM chars WHERE len(ch) > 0
    GROUP BY doc_id, ch
), per AS (
    SELECT doc_id, sum(n)::BIGINT AS n_chars,
           sum(round(log2(n::DOUBLE), 8)::DECIMAL(18,10) * n::DECIMAL(18,0)) AS nlogn
    FROM c2 GROUP BY doc_id
)
SELECT d.doc_id, coalesce(per.n_chars, 0) AS n_chars,
       CASE WHEN per.n_chars > 0
            THEN round(log2(per.n_chars::DOUBLE) - per.nlogn::DOUBLE / per.n_chars::DOUBLE, 6)
       END AS entropy
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


def q_pii_scrub(spark, sf):
    """PII detect + redact (functions/text.py). The corpus is clean
    synthetic text, so each doc gets deterministic fake PII appended
    (email/IP/phone derived from doc_id) — the scrubber then has real work
    whose counts and redacted text the oracle reproduces exactly."""
    from proxima_platform_spark.functions.text import pii_counts, pii_redact

    docs = _load(spark, sf, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" call 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    counts = pii_counts(F.col("text"))
    return salted.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
        pii_redact(F.col("text")).alias("redacted"),
    )


SQL_PII_SCRUB = r"""
WITH salted AS (
    SELECT doc_id,
           text || ' contact user' || doc_id::VARCHAR
                || '@example.com from 10.0.' || (doc_id % 256)::VARCHAR
                || '.' || ((doc_id * 7) % 256)::VARCHAR
                || ' call 555-010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
               AS text
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
       len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
         '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g') AS redacted
FROM salted
"""


def q_dedup_exact(spark, sf):
    """Exact dedup: md5-of-normalized-text grouping (hash-groupBy) at
    40-char-head granularity — the fixture's full texts are all unique
    (500/500), so full-text keys would leave every group at n_docs=1 and
    the n_docs>1 grouping path unexercised; the head key yields 476 groups
    with real multi-doc clusters (the tpch_q7ish non-vacuity lesson).
    `exact_dup_key` itself remains the full-text primitive."""
    docs = _load(spark, sf, "documents")
    head = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 40
    )
    return docs.groupBy(F.md5(head).alias("fp")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc")
    )


SQL_DEDUP_EXACT = rf"""
SELECT md5(substr({_sql_normalize()}, 1, 40)) AS fp,
       count(*) AS n_docs, min(doc_id) AS min_doc
FROM documents GROUP BY 1
"""


def q_dedup_minhash(spark, sf):
    """MinHash+LSH near-dup candidate pairs: 3-gram shingles, 8 md5-salted
    hash functions, 4 bands × 2 rows (shingle→minhash→band→bucket-join)."""
    docs = _load(spark, sf, "documents")
    return minhash_candidate_pairs(
        docs, "doc_id", "text", n=3, num_hashes=8, bands=4
    ).select(F.col("id_a"), F.col("id_b"))


def q_dedup_minhash_oph(spark, sf):
    """One-Permutation-Hashing MinHash candidate pairs (Li-Owen-Zhang'12,
    rotation densification Shrivastava-Li'14): each shingle hashed ONCE,
    min per (h mod 8) bin, empty bins borrow cyclically with offset t·2^30,
    then the same 4-band LSH self-join as dedup_minhash. The 100 TB path:
    one hash pass over the shingle stream instead of num_hashes."""
    from proxima_platform_spark.functions.dedup import oph_candidate_pairs

    docs = _load(spark, sf, "documents")
    return oph_candidate_pairs(
        docs, "doc_id", "text", n=3, num_bins=8, bands=4
    ).select(F.col("id_a"), F.col("id_b"))


def q_kneser_ney5_score(spark, sf):
    """Interpolated Kneser-Ney 5-GRAM LM fluency per document — the full
    KenLM order CCNet's filter runs: recursion through orders 5..1 with
    continuation counts below the top; exact int64 counts, one quantized
    ln, margin-audited (functions/ranking.py::kneser_ney5_scores)."""
    from proxima_platform_spark.functions.ranking import kneser_ney5_scores

    return kneser_ney5_scores(_load(spark, sf, "documents"))


def q_kneser_ney5_mkn_score(spark, sf):
    """MODIFIED Kneser-Ney 5-gram (Chen-Goodman three-discount estimator at
    every order 5..2, the estimator KenLM ships) — count-of-count discounts
    as broadcast 1-row frames, D by count class; an order whose n1/n2/n3
    count-of-counts class is empty, or with some D_j outside [0, j], takes
    KenLM's --discount_fallback defaults (D1=0.5, D2=1.0, D3+=1.5) so the
    estimator is total."""
    from proxima_platform_spark.functions.ranking import kneser_ney5_scores

    return kneser_ney5_scores(_load(spark, sf, "documents"), modified=True)


def _sql_kneser_ney(
    N: int, modified: bool, *, source: str = "documents", inner: bool = False
) -> str:
    """Oracle generator mirroring kn_scores_from_counts' exact expression
    tree (same parenthesization, same quantization) at order ``N``.

    ``source``: relation providing (doc_id, text) — a table or an
    earlier CTE. ``inner=True`` returns a WITH-less CTE-fragment string
    ending in a ``kn`` CTE of (doc_id, <score column>), for embedding
    into composed oracles (ccnet_pipeline, perplexity_band_prep)."""
    from proxima_platform_spark.functions.ranking import kn_score_col

    W = [f"w{i}" for i in range(1, N + 1)]
    cnt = {k: f"cc{k}" for k in range(1, N)}
    cnt[N] = f"c{N}"
    keys = {k: W[N - k:] for k in range(1, N + 1)}
    ctx_keys = {k: W[N - k: N - 1] for k in range(2, N + 1)}
    picks = [
        f"tk[i{f'+{j}' if j else ''}] AS {w}" for j, w in enumerate(W)
    ]
    # three per line: keeps the embedded order-5 text (ccnet_pipeline's
    # oracle) byte-stable
    picks = ",\n           ".join(
        ", ".join(picks[j:j + 3]) for j in range(0, N, 3)
    )
    last = f"len(tk) - {N - 2}" if N > 2 else "len(tk)"

    ctes = [
        rf"""t AS (
    SELECT doc_id,
           {_sql_tokens()} AS tk
    FROM {source}
)""",
        f"""g AS (
    SELECT doc_id, {picks}
    FROM (SELECT doc_id, tk, unnest(range(1, {last})) AS i FROM t
          WHERE len(tk) >= {N})
)""",
        # AS MATERIALIZED: each count table is referenced 3-4 times (next
        # order, its ctx, its count-of-counts, the scored join); DuckDB
        # would otherwise inline-re-evaluate the whole upstream chain per
        # reference — multiplicative blowup across N orders
        f"""{cnt[N]}t AS MATERIALIZED (
    SELECT {', '.join(W)}, count(*) AS {cnt[N]} FROM g GROUP BY ALL
)""",
    ]
    for k in range(N - 1, 0, -1):
        ctes.append(
            f"""{cnt[k]}t AS MATERIALIZED (
    SELECT {', '.join(keys[k])}, count(*) AS {cnt[k]}
    FROM {cnt[k + 1]}t GROUP BY ALL
)"""
        )
    ctes.append(f"ntott AS (\n    SELECT count(*) AS ntot FROM {cnt[2]}t\n)")
    for k in range(2, N + 1):
        if modified:
            extra = (
                f"count(*) FILTER (WHERE {cnt[k]} = 1) AS e1_{k},\n"
                f"           count(*) FILTER (WHERE {cnt[k]} = 2) AS e2_{k},\n"
                f"           count(*) FILTER (WHERE {cnt[k]} >= 3) AS e3_{k}"
            )
        else:
            extra = f"count(*) AS n1_{k}"
        ctes.append(
            f"""ctx{k} AS (
    SELECT {', '.join(ctx_keys[k])}, sum({cnt[k]}) AS tot{k},
           {extra}
    FROM {cnt[k]}t GROUP BY ALL
)"""
        )
    if modified:
        for k in range(2, N + 1):
            ctes.append(
                f"""cls{k} AS (
    SELECT count(*) FILTER (WHERE {cnt[k]} = 1) AS n1,
           count(*) FILTER (WHERE {cnt[k]} = 2) AS n2,
           count(*) FILTER (WHERE {cnt[k]} = 3) AS n3,
           count(*) FILTER (WHERE {cnt[k]} = 4) AS n4
    FROM {cnt[k]}t
), r{k} AS (
    -- Chen-Goodman estimates, NULL when a count class is empty
    SELECT CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0
                THEN 1.0 - 2.0 * ((n1::DOUBLE) / (n1 + 2 * n2)) * n2 / n1
           END AS r1,
           CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0
                THEN 2.0 - 3.0 * ((n1::DOUBLE) / (n1 + 2 * n2)) * n3 / n2
           END AS r2,
           CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0
                THEN 3.0 - 4.0 * ((n1::DOUBLE) / (n1 + 2 * n2)) * n4 / n3
           END AS r3
    FROM cls{k}
), d{k} AS (
    -- empty class or some D_j outside [0, j] -> KenLM --discount_fallback
    SELECT CASE WHEN ok THEN r1 ELSE 0.5 END AS dd1_o{k},
           CASE WHEN ok THEN r2 ELSE 1.0 END AS dd2_o{k},
           CASE WHEN ok THEN r3 ELSE 1.5 END AS dd3_o{k}
    FROM (SELECT *, r1 BETWEEN 0 AND 1 AND r2 BETWEEN 0 AND 2
                    AND r3 BETWEEN 0 AND 3 AS ok
          FROM r{k})
)"""
            )

    p = "(cc1::DOUBLE / ntot)"
    for k in range(2, N + 1):
        c = cnt[k]
        if modified:
            dsel = (
                f"(CASE WHEN {c} = 1 THEN dd1_o{k} "
                f"WHEN {c} = 2 THEN dd2_o{k} ELSE dd3_o{k} END)"
            )
            lam = (
                f"((dd1_o{k} * e1_{k} + dd2_o{k} * e2_{k}"
                f" + dd3_o{k} * e3_{k}) / tot{k})"
            )
            p = (
                f"(greatest({c} - {dsel}, 0.0) / tot{k}\n"
                f"              + {lam} * {p})"
            )
        else:
            p = (
                f"(greatest({c} - 0.75, 0.0) / tot{k}\n"
                f"              + (0.75 * n1_{k} / tot{k}) * {p})"
            )
    # strip the outermost parens so ln(...) wraps the same tree
    p = p[1:-1]
    dp = 6 if modified else 8
    out = kn_score_col(N, modified)
    joins = ["FROM g", f"    JOIN {cnt[N]}t USING ({', '.join(W)})"]
    for k in range(N, 1, -1):
        if k < N:
            joins.append(f"    JOIN {cnt[k]}t USING ({', '.join(keys[k])})")
        joins.append(f"    JOIN ctx{k} USING ({', '.join(ctx_keys[k])})")
    joins.append(f"    JOIN cc1t USING ({W[-1]})")
    joins.append("    CROSS JOIN ntott")
    if modified:
        for k in range(2, N + 1):
            joins.append(f"    CROSS JOIN d{k}")
    m = 10 ** (dp - 6)
    body = ",\n".join(ctes) + f""",
scored AS (
    SELECT g.doc_id,
           round(ln({p}), {dp})::DECIMAL(28,10) AS lp
    {chr(10).join(joins)}
),
per AS (
    SELECT doc_id, (sum(lp) * {10 ** dp})::BIGINT AS su, count(*) AS cnt
    FROM scored GROUP BY doc_id
)"""
    final = f"""SELECT doc_id,
       (CASE WHEN su < 0 THEN -1 ELSE 1 END)
       * ((2 * abs(su) + {m} * cnt) // (2 * {m} * cnt)) / 1000000.0 AS {out}
FROM per"""
    if inner:
        return body + f",\nkn AS (\n{final}\n)"
    return "\nWITH " + body + "\n" + final + "\n"


def q_tpch_q12ish(spark, sf):
    """Shipping-priority split (TPC-H Q12 shape, reshaped onto the subset
    schema: l_linestatus stands in for l_shipmode): per line status over
    one shipdate year, count high-priority (1-URGENT/2-HIGH) vs lower
    orders. Broadcast-free orderkey equi-join, map-side-combinable
    conditional counts."""
    li = _load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _load(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


SQL_TPCH_Q12ISH = """
SELECT l_linestatus,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q_tpch_q20ish(spark, sf):
    """Excess-supply suppliers (TPC-H Q20 shape, reshaped: no partsupp in
    the subset, so 'stock' = shipped quantity): suppliers of PROMO-type
    parts whose total 1997 shipped quantity exceeds a threshold, restricted
    to even-numbered nations by a broadcast semi-join — the
    nested-subquery → semi-join chain that defines Q20."""
    li = _load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    part = _load(spark, sf, "part").where(F.col("p_type") == "PROMO")
    supplier = _load(spark, sf, "supplier")
    nation = _load(spark, sf, "nation")
    qual = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .where(F.col("qty") > 450)
    )
    nkeys = nation.where(F.col("n_nationkey") % 2 == 0).select("n_nationkey")
    return (
        supplier.join(F.broadcast(nkeys),
                      supplier["s_nationkey"] == nkeys["n_nationkey"], "semi")
        .join(qual, supplier["s_suppkey"] == qual["l_suppkey"], "semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


SQL_TPCH_Q20ISH = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_nationkey % 2 = 0)
  AND s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
      GROUP BY l_suppkey
      HAVING sum(l_quantity::DECIMAL(18,2)) > 450)
ORDER BY s_suppkey
"""


def q_domain_jsd(spark, sf):
    """Jensen-Shannon divergence of each source's unigram distribution from
    the corpus distribution (Lin'91) — bounded, symmetric mixture-drift
    diagnostic next to drift_chi2 (functions/text.py::source_jsd)."""
    from proxima_platform_spark.functions.text import source_jsd

    return source_jsd(_load(spark, sf, "documents"))


SQL_DOMAIN_JSD = rf"""
WITH tok AS (
    SELECT source AS s,
           unnest({_sql_tokens()}) AS w
    FROM documents
), sw AS (
    SELECT s, w, count(*) AS cs FROM tok GROUP BY 1, 2
), stot AS (
    SELECT s, sum(cs) AS ts FROM sw GROUP BY 1
), cw AS (
    SELECT w, count(*) AS c FROM tok GROUP BY 1
), tot AS (
    SELECT sum(c) AS t FROM cw
), grid AS (
    SELECT stot.s, cw.w, stot.ts, tot.t,
           coalesce(sw.cs, 0) AS cs, cw.c
    FROM cw CROSS JOIN stot
    LEFT JOIN sw ON sw.s = stot.s AND sw.w = cw.w
    CROSS JOIN tot
), terms AS (
    SELECT s, ts, t,
           CASE WHEN cs > 0
                THEN cs::DECIMAL(12,0)
                     * round(ln((cs / ts) / (((cs / ts) + (c / t)) / 2.0)), 8)::DECIMAL(18,10)
                ELSE 0::DECIMAL(31,10) END AS term1,
           c::DECIMAL(12,0)
           * round(ln((c / t) / (((cs / ts) + (c / t)) / 2.0)), 8)::DECIMAL(18,10) AS term2
    FROM grid
), agg AS (
    SELECT s, count(*) AS n_words, sum(term1) AS s1, sum(term2) AS s2,
           min(ts) AS ts, min(t) AS t
    FROM terms GROUP BY s
)
SELECT s AS source, n_words,
       round(0.5 * (s1::DOUBLE / ts + s2::DOUBLE / t), 6) AS jsd
FROM agg
"""


def q_dedup_minhash_bbit(spark, sf):
    """b-bit MinHash candidate pairs (Li-König'10): lowest 4 bits of each
    of 8 MinHash values — a 4-BYTE signature per doc (64/b× storage cut,
    the dominant artifact at 100 TB) with the 2^-b chance-collision floor
    compensated by 4-row bands (random-band collision ~2^-16)."""
    from proxima_platform_spark.functions.dedup import bbit_minhash_pairs

    docs = _load(spark, sf, "documents")
    return bbit_minhash_pairs(
        docs, "doc_id", "text", n=3, num_hashes=8, b=4, bands=2
    ).select(F.col("id_a"), F.col("id_b"))


def _sql_dedup_minhash_bbit() -> str:
    """Oracle: the minhash CTE chain with each signature value truncated
    to its low 4 bits and two 4-row md5 band keys."""
    return f"""
WITH {_sql_minhash_ctes("documents", bits=4, bands=2)}
{_sql_banded_pairs()}
"""


def q_unimax_mixture(spark, sf):
    """UniMax token-budget allocation across sources (Chung'23): uniform
    water-filling under per-source epoch caps, closed form over the sorted
    capacity ladder (functions/sampling.py::unimax_mixture)."""
    from proxima_platform_spark.functions.sampling import unimax_mixture

    return unimax_mixture(_load(spark, sf, "documents"), budget_factor=1.5)


SQL_UNIMAX_MIXTURE = rf"""
WITH counts AS (
    SELECT source,
           sum(len({_sql_tokens()}))::BIGINT AS n_tokens
    FROM documents GROUP BY source
), capped AS (
    SELECT source, n_tokens,
           1 + ({_sql_md5_int('source')} % 3) AS epoch_cap,
           (1 + ({_sql_md5_int('source')} % 3)) * n_tokens AS capacity
    FROM counts
), total AS (
    SELECT sum(n_tokens)::DOUBLE * 1.5 AS b, count(*) AS k FROM counts
), ranked AS (
    SELECT capped.*, total.b, total.k,
           row_number() OVER (ORDER BY capacity, source) AS r,
           coalesce(sum(capacity) OVER (
               ORDER BY capacity, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS csum_prev
    FROM capped CROSS JOIN total
), flagged AS (
    SELECT *, (b - csum_prev) / (k - r + 1) AS u,
           capacity > (b - csum_prev) / (k - r + 1) AS viol
    FROM ranked
), t_row AS (
    SELECT min(r) AS t_r,
           min_by(u, r) AS t_u
    FROM flagged WHERE viol
)
SELECT source, n_tokens, epoch_cap, capacity,
       round(CASE WHEN t_r IS NULL OR r < t_r
                  THEN capacity::DOUBLE ELSE t_u END, 6) AS allocation,
       round(round(CASE WHEN t_r IS NULL OR r < t_r
                        THEN capacity::DOUBLE ELSE t_u END, 6) / n_tokens,
             6) AS epochs
FROM flagged CROSS JOIN t_row
"""


def q_dedup_minhash_weighted(spark, sf):
    """tf-WEIGHTED near-dup candidate pairs via Improved Consistent
    Weighted Sampling (Ioffe'10) with the 0-bit signature (Li'15):
    collision probability = generalized Jaccard Σ min(tf)/Σ max(tf) —
    the repetition-aware complement of unweighted MinHash. Every libm
    output quantized at 8dp before downstream arithmetic, so floor/argmin
    replay bit-identically in the oracle."""
    from proxima_platform_spark.functions.dedup import icws_candidate_pairs

    docs = _load(spark, sf, "documents")
    return icws_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=2
    ).select(F.col("id_a"), F.col("id_b"))


def _sql_dedup_minhash_weighted() -> str:
    us = ",\n           ".join(
        "((" + _sql_md5_int(f"w || '|' || seed::VARCHAR || '|{j}'")
        + f" % 1073741824) + 1) / 1073741826.0 AS u{j}"
        for j in (1, 2, 3, 4, 5)
    )
    wide = ",\n           ".join(
        f"min(CASE WHEN seed = {i} THEN w END) AS t{i}" for i in range(8)
    )
    bands = _sql_band_keys([f"md5(t{i})" for i in range(8)], 2, sep=",\n        ")
    return rf"""
WITH tf AS (
    SELECT id, w, count(*) AS tf FROM (
        SELECT doc_id AS id,
               unnest({_sql_tokens()}) AS w
        FROM documents
    ) GROUP BY 1, 2
), seeded AS (
    SELECT id, w, tf, unnest(range(0, 8)) AS seed FROM tf
), vals AS (
    SELECT id, seed, w, tf,
           """ + us + r"""
    FROM seeded
), comp AS (
    SELECT id, seed, w, u3,
           -(round(ln(u1), 8) + round(ln(u2), 8)) AS r,
           -(round(ln(u4), 8) + round(ln(u5), 8)) AS c,
           round(ln(tf::DOUBLE), 8) AS lnw
    FROM vals
), la AS (
    SELECT id, seed, w,
           round(ln(c), 8) - r * (floor(lnw / r + u3) - u3 + 1.0) AS la
    FROM comp
), samp AS (
    SELECT id, seed, w FROM la
    QUALIFY row_number() OVER (PARTITION BY id, seed ORDER BY la, w) = 1
), wide AS (
    SELECT id,
           """ + wide + r"""
    FROM samp GROUP BY id
), banded AS (
    -- tokens md5-hashed before '|'-joining (a raw token may contain '|')
    SELECT id, unnest([
        """ + bands + r"""
    ]) AS band
    FROM wide
)
""" + _sql_banded_pairs(id_col="id") + "\n"


def q_naive_bayes_langid(spark, sf):
    """Multinomial Naive Bayes language-ID (McCallum-Nigam'98): train on
    doc_id % 5 != 0, classify the held-out fifth. Pure counting + quantized
    ln — training/inference exact end-to-end; the counting-classifier
    archetype of fastText-style lang/quality gates in data pipelines."""
    from proxima_platform_spark.functions.classify import naive_bayes_classify

    docs = _load(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    return naive_bayes_classify(
        train, test, id_col="doc_id", text_col="text", label_col="lang"
    )


SQL_NAIVE_BAYES_LANGID = rf"""
WITH tr AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
te AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
{_sql_nb_model_ctes()},
{_sql_nb_loglik_ctes("te")},
best AS (
    SELECT id, c AS pred, (ll + log_prior)::DOUBLE AS score,
           row_number() OVER (
               PARTITION BY id ORDER BY (ll + log_prior) DESC, c ASC
           ) AS rn
    FROM ll JOIN classes USING (c)
)
SELECT te.doc_id AS id, te.lang AS label, b.pred, b.score
FROM te JOIN best b ON b.id = te.doc_id AND b.rn = 1
"""


def q_naive_bayes_topk_langid(spark, sf):
    """Naive Bayes lang-ID with the model PRUNED to each class's top-16
    features (ties by smallest token; the fixture's per-class vocab is
    ~31 tokens, so the prune cuts the model roughly in half — the gate
    genuinely bites) — the web-scale path for large
    label spaces (functions/classify.py::nb_counts top_k_features knob):
    the model frame shrinks from classes×vocab to classes×K and every
    downstream statistic (class token mass, vocabulary, unseen
    likelihood) derives from the pruned frame, so tokens outside the
    kept features score as unseen. One bounded window over the cwc
    frame; otherwise the exact naive_bayes_langid plan."""
    from proxima_platform_spark.functions.classify import naive_bayes_classify

    docs = _load(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    return naive_bayes_classify(
        train, test, id_col="doc_id", text_col="text", label_col="lang",
        top_k_features=16,
    )


# same oracle with the cwc frame pruned to per-class top-16 (the QUALIFY
# mirrors the Spark row_number window: cnt desc, token asc)
SQL_NAIVE_BAYES_TOPK_LANGID = SQL_NAIVE_BAYES_LANGID.replace(
    "cwc AS (SELECT c, w, count(*) AS cnt FROM tr_tok GROUP BY 1, 2),",
    "cwc AS (SELECT c, w, count(*) AS cnt FROM tr_tok GROUP BY 1, 2\n"
    "        QUALIFY row_number() OVER ("
    "PARTITION BY c ORDER BY cnt DESC, w ASC) <= 16),",
)



def q_bleu_dedup_verify(spark, sf):
    """log-BLEU-2 (Papineni'02) of each MinHash-LSH candidate pair —
    candidate-pair verification: modified 1/2-gram clipped precision with
    brevity penalty, all in log space (ln BP = least(0, 1-r/c) is exact
    rational; each ln p_n quantized at 8dp). High log-BLEU confirms a true
    near-verbatim pair; low exposes a banding false positive."""
    from proxima_platform_spark.functions.evalmetrics import log_bleu2_pairs

    docs = _load(spark, sf, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", n=3, num_hashes=8, bands=4)
    return log_bleu2_pairs(pairs, docs)


def _sql_bleu_dedup_verify() -> str:
    return f"""
WITH {_sql_minhash_ctes("documents")},
pairs AS (
{_sql_banded_pairs("    ")}
), g1 AS (
    SELECT doc_id, unnest(t) AS g FROM toks
), c1 AS (
    SELECT doc_id, g, count(*) AS cnt FROM g1 GROUP BY 1, 2
), g2 AS (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= 2
                       THEN [array_to_string(t[i:i+1], ' ')
                             for i in range(1, len(t))]
                       ELSE [] END) AS g
    FROM toks
), c2 AS (
    SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2
), lens AS (
    SELECT doc_id, len(t) AS l FROM toks
), s1 AS (
    SELECT p.id_a, p.id_b,
           sum(least(cb.cnt, coalesce(ca.cnt, 0)))::BIGINT AS clip1,
           sum(cb.cnt)::BIGINT AS tot1
    FROM pairs p
    JOIN c1 cb ON cb.doc_id = p.id_b
    LEFT JOIN c1 ca ON ca.doc_id = p.id_a AND ca.g = cb.g
    GROUP BY 1, 2
), s2 AS (
    SELECT p.id_a, p.id_b,
           sum(least(cb.cnt, coalesce(ca.cnt, 0)))::BIGINT AS clip2,
           sum(cb.cnt)::BIGINT AS tot2
    FROM pairs p
    JOIN c2 cb ON cb.doc_id = p.id_b
    LEFT JOIN c2 ca ON ca.doc_id = p.id_a AND ca.g = cb.g
    GROUP BY 1, 2
)
SELECT s1.id_a, s1.id_b, clip1, tot1, clip2, tot2,
       round(least(0.0, 1.0 - ra.l / rb.l)
             + ((round(ln(clip1 / tot1), 8)::DECIMAL(18,10)
                 + round(ln(clip2 / tot2), 8)::DECIMAL(18,10))::DOUBLE
                / 2.0), 6) AS log_bleu2
FROM s1
JOIN s2 ON s2.id_a = s1.id_a AND s2.id_b = s1.id_b
JOIN lens ra ON ra.doc_id = s1.id_a
JOIN lens rb ON rb.doc_id = s1.id_b
WHERE clip1 > 0 AND clip2 > 0
"""


def q_zipf_slope(spark, sf):
    """Zipf rank-frequency OLS fit over the top-100 corpus terms: slope of
    ln(freq) on ln(rank) (Zipf predicts ~ -1) — corpus-health diagnostic;
    quantized-ln decimals, exact OLS sums, double closed form."""
    from proxima_platform_spark.functions.text import zipf_slope

    return zipf_slope(_load(spark, sf, "documents"), top_r=100)


SQL_ZIPF_SLOPE = rf"""
WITH counts AS (
    SELECT w, count(*) AS cnt FROM (
        SELECT unnest({_sql_tokens()}) AS w
        FROM documents
    ) GROUP BY 1
), top AS (
    SELECT w, cnt FROM counts ORDER BY cnt DESC, w LIMIT 100
), ranked AS (
    SELECT row_number() OVER (ORDER BY cnt DESC, w) AS r, cnt FROM top
), xy AS (
    SELECT round(ln(r), 8)::DECIMAL(18,10) AS x,
           round(ln(cnt), 8)::DECIMAL(18,10) AS y
    FROM ranked
), s AS (
    SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sxx
    FROM xy
), sd AS (
    SELECT n, n::DOUBLE AS nd, sx::DOUBLE AS sxd, sy::DOUBLE AS syd,
           sxy::DOUBLE AS sxyd, sxx::DOUBLE AS sxxd
    FROM s
), fin AS (
    SELECT n, nd, sxd, syd,
           (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS sl
    FROM sd
)
SELECT n AS n_terms, round(sl, 6) AS slope,
       round((syd - sl * sxd) / nd, 6) AS intercept
FROM fin
"""


def _sql_dedup_minhash_oph() -> str:
    """Oracle: identical OPH pipeline — per-doc shingle hash list, list_min
    per (h % 8) bin (NULL when empty), rotation-densified coalesce chain,
    md5 band keys, banded self-join."""
    base = _sql_shingle_hash("s")
    k, c = 8, 1073741824
    bm = ",\n           ".join(
        f"list_min([x for x in hh if x % {k} = {j}]) AS m{j}" for j in range(k)
    )
    dens = ",\n           ".join(
        "coalesce("
        + ", ".join(
            f"m{(j + t) % k}" + (f" + {t * c}" if t else "") for t in range(k)
        )
        + f") AS s{j}"
        for j in range(k)
    )
    bands = _sql_band_keys([f"s{j}::VARCHAR" for j in range(k)], 4)
    return rf"""
WITH {_sql_shingle_ctes()}, hs AS (
    SELECT doc_id, [{base} for s in shingles] AS hh
    FROM sh WHERE len(shingles) > 0
), bm AS (
    SELECT doc_id,
           {bm}
    FROM hs
), dens AS (
    SELECT doc_id,
           {dens}
    FROM bm
), banded AS (
    SELECT doc_id, unnest([{bands}]) AS band FROM dens
)
{_sql_banded_pairs()}
"""


def q_dedup_groups(spark, sf):
    """Transitive dedup groups: MinHash/LSH candidate pairs collapsed by
    distributed connected components (alternating large-star/small-star,
    functions/graph.py). Output: every doc with a near-dup partner, its
    group label (min doc_id in the component), and the keeper flag."""
    docs = _load(spark, sf, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", n=3, num_hashes=8, bands=4)
    return dedup_groups(pairs, "id_a", "id_b")


def _sql_dedup_groups() -> str:
    """Oracle: same banded pairs, components via recursive min-label
    reachability."""
    return f"""
{_sql_minhash_components()}
SELECT node AS id, min(label) AS group_id,
       (node = min(label)) AS is_representative
FROM reach GROUP BY node
"""


def q_dedup_cluster_keep_best(spark, sf):
    """Canonical-document selection per near-dup cluster — the standard
    C4/RealNews-style finishing step after transitive dedup grouping:
    MinHash/LSH candidate pairs → connected components (dedup_groups's
    alternating-star CC) → within each cluster keep the HIGHEST-QUALITY
    member (quality_model_score; ties by smallest doc_id). Output one row
    per clustered doc: (doc_id, group_id, score, keep). The keeper is an
    argmax via one map-side-combinable struct-max agg per group — no
    window funnels a hot cluster through a single reducer (the
    dedup_paragraphs winner-agg lesson at cluster granularity).

    Deliberate sibling of ``dedup_best_of_cluster``, which reports one
    row PER GROUP (keeper_id + best heuristic quality_score) — the
    monitoring view; this one emits the per-document keep/drop frame a
    pipeline actually joins against to filter rows, scored by the
    MODEL-based gate (quality_model_score) the curation chain uses."""
    from proxima_platform_spark.functions.text import quality_model_score

    docs = _load(spark, sf, "documents")
    pairs = minhash_candidate_pairs(
        docs, "doc_id", "text", n=3, num_hashes=8, bands=4
    )
    groups = dedup_groups(pairs, "id_a", "id_b")
    scored = docs.select(
        "doc_id", quality_model_score(F.col("text")).alias("score")
    )
    # staged once (lazy localCheckpoint): g feeds BOTH the per-group
    # argmax and the final keep join — without the pin the CC label agg
    # AND the quality_model_score expression stack over the corpus text
    # execute once per consumer (the kmv_set_ops lesson; CC's edge set
    # is already pinned inside connected_components, but its label agg
    # and this join are not)
    g = (
        groups.select(F.col("id").alias("doc_id"), "group_id")
        .join(scored, "doc_id")
        .localCheckpoint(eager=False)
    )
    best = g.groupBy("group_id").agg(
        F.max(
            F.struct(F.col("score"), (-F.col("doc_id")).alias("nid"))
        ).alias("b")
    )
    return g.join(best, "group_id").select(
        "doc_id",
        "group_id",
        "score",
        (F.col("doc_id") == -F.col("b.nid")).alias("keep"),
    )


def _sql_dedup_cluster_keep_best() -> str:
    return f"""
{_sql_minhash_components()}, grp AS (
    SELECT node AS doc_id, min(label) AS group_id FROM reach GROUP BY node
), {_sql_quality_model_ctes()},
scored AS (
    SELECT doc_id, round(1.0 / (1.0 + exp(-z.logit)), 6) AS score FROM z
), j AS (
    SELECT g.doc_id, g.group_id, s.score
    FROM grp g JOIN scored s USING (doc_id)
)
SELECT doc_id, group_id, score,
       (row_number() OVER (
            PARTITION BY group_id ORDER BY score DESC, doc_id ASC
        ) = 1) AS keep
FROM j
"""



def q_dedup_simhash(spark, sf):
    """SimHash document fingerprints (60-bit; md5-derived token hashes),
    via the exploded hash-aggregation shape (explode → 60 conditional-sum
    bit votes — fixed-width HashAggregate, not a per-row 60-aggregate
    expression)."""
    docs = _load(spark, sf, "documents")
    return simhash_signatures_df(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("sim").alias("simhash")
    )


def _sql_dedup_simhash() -> str:
    votes = ",\n           ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60)
    )
    total = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(60))
    return rf"""
WITH tok AS (
    SELECT doc_id,
           unnest(list_distinct(
               {_sql_tokens()}
           )) AS t
    FROM documents
), h AS (
    SELECT doc_id, {_sql_md5_int('t')} AS h FROM tok
), v AS (
    SELECT doc_id,
           {votes}
    FROM h GROUP BY doc_id
)
SELECT doc_id, ({total})::BIGINT AS simhash FROM v
"""


def q_dedup_simhash_pairs(spark, sf):
    """SimHash near-dup pairs: pigeonhole-chunked bucket join (4×15-bit
    chunks guarantee hamming ≤ 3 collides on ≥1 chunk), exact hamming check
    on candidates only — the hamming-space analog of the MinHash band join
    (functions/dedup.py::simhash_candidate_pairs)."""
    docs = _load(spark, sf, "documents")
    return simhash_candidate_pairs(docs, "doc_id", "text", hamming_threshold=3)


def _sql_dedup_simhash_pairs() -> str:
    return f"""
WITH sims AS (
{_sql_dedup_simhash()}
), chunked AS (
    SELECT doc_id, simhash, t.ci,
           (simhash >> (15 * t.ci)) & 32767 AS cv
    FROM sims, LATERAL (SELECT unnest([0, 1, 2, 3]) AS ci) t
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM chunked a
JOIN chunked b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_dedup_embedding(spark, sf):
    """Embedding-cosine near-dup pairs via multi-table sign-LSH — the
    100 TB shape: candidates come from 2 independent 8-plane tables
    (union of hash-partitioned bucket equi-joins, ≈ 2·n²/2⁸ pairs, never a
    cross product; two tables roughly double recall at the same candidate
    volume as one 6-plane table), exact cosine only on candidates,
    multi-collisions deduped after scoring. The DuckDB oracle mirrors the
    md5-derived hyperplane bucket math per table verbatim (same technique
    as ann_lsh_topk), so the hash check covers the LSH algorithm itself."""
    emb = _load(spark, sf, "embeddings")
    # fixed embedding dim probed once (1-row driver action): folds the LSH
    # planes into literals and unrolls the cosine into codegen chains
    dim = emb.select(F.size("embedding").alias("d")).first().d
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.40, num_planes=8, num_tables=2, dim=dim
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


SQL_DEDUP_EMBEDDING = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_sql_lsh_candidates()}
SELECT DISTINCT id_a, id_b,
       round(
         list_dot_product(va, vb)
         / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))), 6
       ) AS cosine
FROM cand
WHERE list_dot_product(va, vb)
      / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) > 0.40
"""


def q_lsh_recall_eval(spark, sf):
    """Recall evaluation of the production LSH candidate path against exact
    ground truth AND against the sign-LSH collision model — the
    quality-engineering harness every ANN deployment needs. True pairs
    come from a bounded all-pairs cosine sweep (eval-scale ONLY — the n²
    join here is the measurement, not the operator); found pairs from the
    same 2×8-plane candidates `dedup_embedding` ships; expected recall is
    the collision model 1−(1−(1−acos(c)/π)^planes)^tables averaged over
    the true pairs (per-pair probabilities rounded to exact micro-units,
    so the average is integer arithmetic + one division — no float-order
    drift). The certified property is measured ≈ model (pinned ±binomial
    noise in pytest): at this fixture's 0.40 threshold the model itself
    predicts low single-digit recall — sign-LSH is a high-similarity
    tool; low-threshold dedup belongs to MinHash banding (see the LSH
    band planner). Precision is 1.0 by construction (exact-cosine
    confirm)."""
    from proxima_platform_spark.functions.similarity import cosine_similarity

    emb = _load(spark, sf, "embeddings")
    dim = emb.select(F.size("embedding").alias("d")).first().d
    # inequality BNLJ over the 8-byte ids ONLY (codegen-safe), then two
    # equi-joins attach the vectors — consuming wide ArrayData columns
    # inside the BroadcastNestedLoopJoin consume path overflows Janino's
    # 64KB method limit (interpreted fallback: correct but noisy stacks in
    # the sweep artifact). Eval-scale-only all-pairs, as documented.
    ids = emb.select("vec_id")
    id_pairs = ids.select(F.col("vec_id").alias("id_a")).join(
        ids.select(F.col("vec_id").alias("id_b")),
        F.col("id_a") < F.col("id_b"),
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    # dim=None on purpose: the aggregate form evaluates left-to-right like
    # the unrolled chain (bit-equal doubles) but stays a single fallback
    # expression — the unrolled 3·dim multiply-add chain fused into this
    # join stage is exactly what overflowed Janino's method limit
    cos = cosine_similarity(F.col("va"), F.col("vb"))
    p_collide = 1 - F.pow(
        1 - F.pow(1 - F.acos(cos) / float(__import__("math").pi), 8), 2
    )
    true_pairs = (
        id_pairs.join(a, "id_a").join(b, "id_b")
        .where(cos > 0.40)
        .agg(
            F.count(F.lit(1)).alias("true_pairs"),
            F.sum(F.round(p_collide * 1_000_000, 0).cast("long")).alias("p_micro"),
        )
    )
    found = embedding_near_dup_pairs(
        emb, threshold=0.40, num_planes=8, num_tables=2, dim=dim
    ).agg(F.count(F.lit(1)).alias("found_pairs"))
    return true_pairs.crossJoin(found).select(
        "true_pairs",
        "found_pairs",
        F.round(F.col("found_pairs") / F.col("true_pairs"), 6).alias("recall"),
        F.round(
            F.col("p_micro") / (F.col("true_pairs") * 1_000_000.0), 6
        ).alias("expected_recall"),
    )


def _sql_lsh_recall_eval() -> str:
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
tru AS (
  SELECT count(*) AS true_pairs,
         sum(CAST(round((1 - pow(1 - pow(1 - acos(cos) / pi(), 8), 2)) * 1000000, 0)
             AS BIGINT)) AS p_micro
  FROM (
    SELECT list_dot_product(a.v, c.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
    FROM base a JOIN base c ON a.vec_id < c.vec_id)
  WHERE cos > 0.40
),
{_sql_lsh_candidates()},
fnd AS (
  SELECT count(*) AS found_pairs FROM (
    SELECT DISTINCT id_a, id_b FROM cand
    WHERE list_dot_product(va, vb)
          / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) > 0.40)
)
SELECT true_pairs, found_pairs,
       round(found_pairs / true_pairs, 6) AS recall,
       round(p_micro / (true_pairs * 1000000.0), 6) AS expected_recall
FROM tru, fnd
"""


def q_minhash_recall_eval(spark, sf):
    """MinHash-banding recall harness, the companion to `lsh_recall_eval`:
    true pairs from an exact all-pairs 3-gram Jaccard sweep (eval scale
    only), found = banded candidates ∩ true, expected recall from the
    banding model 1−(1−s^rows)^bands at each true pair's exact Jaccard s
    (micro-unit integer average — no float-order drift). On this fixture
    the true pairs sit at s ≥ 0.8 where the 4×2 banding predicts ≈1.0 —
    the measured agreement, next to sign-LSH's predicted-low recall at
    cosine 0.40, is the quantified case for routing low-threshold dedup
    to MinHash banding (the band planner's job)."""
    from proxima_platform_spark.functions.dedup import ngram_shingles

    docs = _load(spark, sf, "documents")
    sh = docs.select(
        "doc_id", F.array_distinct(ngram_shingles(F.col("text"), 3)).alias("s")
    )
    # ids-only inequality BNLJ, shingle arrays attached by equi-join after
    # (same Janino-width reasoning as q_lsh_recall_eval above)
    ids = sh.select("doc_id")
    id_pairs = ids.select(F.col("doc_id").alias("id_a")).join(
        ids.select(F.col("doc_id").alias("id_b")),
        F.col("id_a") < F.col("id_b"),
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    union_n = F.size(F.array_union(F.col("sa"), F.col("sb")))
    jac = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double") / union_n.cast("double")
    p_band = 1 - F.pow(1 - F.pow(jac, 2), 4)
    tru = (
        id_pairs.join(a, "id_a").join(b, "id_b")
        .where(union_n > 0)
        .where(jac >= 0.5)
        .select(
            "id_a", "id_b",
            F.round(p_band * 1_000_000, 0).cast("long").alias("p_micro"),
        )
    )
    cand = minhash_candidate_pairs(
        docs, "doc_id", "text", n=3, num_hashes=8, bands=4
    ).select("id_a", "id_b")
    hit = tru.join(cand, ["id_a", "id_b"], "left_semi")
    stats = tru.agg(
        F.count(F.lit(1)).alias("true_pairs"),
        F.sum("p_micro").alias("p_sum"),
    )
    found = hit.agg(F.count(F.lit(1)).alias("found_pairs"))
    return stats.crossJoin(found).select(
        "true_pairs",
        "found_pairs",
        F.round(F.col("found_pairs") / F.col("true_pairs"), 6).alias("recall"),
        F.round(F.col("p_sum") / (F.col("true_pairs") * 1_000_000.0), 6).alias(
            "expected_recall"
        ),
    )


def _sql_minhash_recall_eval() -> str:
    return rf"""
WITH {_sql_minhash_ctes("documents")},
cand AS (
{_sql_banded_pairs("  ")}
),
shd AS (
  SELECT doc_id, list_distinct(shingles) AS s FROM sh
),
tru AS (
  SELECT id_a, id_b,
         CAST(round((1 - pow(1 - pow(jac, 2), 4)) * 1000000, 0) AS BIGINT) AS p_micro
  FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s))::DOUBLE
             / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE AS jac
    FROM shd a JOIN shd b ON a.doc_id < b.doc_id
    WHERE len(list_distinct(list_concat(a.s, b.s))) > 0)
  WHERE jac >= 0.5
),
stats AS (SELECT count(*) AS true_pairs, sum(p_micro) AS p_sum FROM tru),
fnd AS (
  SELECT count(*) AS found_pairs FROM tru t
  WHERE EXISTS (SELECT 1 FROM cand c WHERE c.id_a = t.id_a AND c.id_b = t.id_b)
)
SELECT true_pairs, found_pairs,
       round(found_pairs / true_pairs, 6) AS recall,
       round(p_sum / (true_pairs * 1000000.0), 6) AS expected_recall
FROM stats, fnd
"""


def q_jaccard_adjacent(spark, sf):
    """Exact n-gram Jaccard on candidate pairs (here: adjacent doc ids)."""
    docs = _load(spark, sf, "documents").where(F.col("doc_id") < 100)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    pairs = a.join(b, a["id_a"] + 1 == b["id_b"])
    return pairs.select(
        "id_a", "id_b",
        F.round(jaccard_ngram(F.col("ta"), F.col("tb"), 3), 6).alias("jaccard"),
    )


SQL_JACCARD_ADJACENT = rf"""
WITH sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
    FROM (
        SELECT doc_id,
               {_sql_tokens()} AS t
        FROM documents WHERE doc_id < 100
    )
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
             THEN len(list_intersect(a.s, b.s))::DOUBLE
                  / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE
             ELSE 0.0 END, 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
"""


def q_ann_cosine_topk(spark, sf):
    """Brute-force cosine top-k against the vec_id=0 embedding (exact ANN
    baseline; TakeOrderedAndProject — no shuffle of the table)."""
    emb = _load(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    top = brute_force_top_k(emb.where(F.col("vec_id") != 0), qvec, k=10)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


SQL_ANN_COSINE_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(
         list_dot_product(embedding::DOUBLE[], qv)
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(qv, qv))), 4) AS cosine
FROM embeddings, q WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10
"""


def q_ann_lsh_topk(spark, sf):
    """Sign-LSH bucketed ANN (scale path). The hyperplanes are md5-derived
    (similarity._plane_component), so the FULL algorithm — bucket hash,
    bucket equi-join, exact in-bucket cosine, per-query top-k — is mirrored
    verbatim in the DuckDB oracle: a hash-green check of the actual LSH,
    not a weaker recall bound."""
    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_top_k(
        emb, queries, k=5, num_planes=6
    )


SQL_ANN_LSH_TOPK = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT vec_id, v,
    (list_sum(list_transform(range(6), p ->
      CASE WHEN list_sum(list_transform(range(len(v)), d ->
        v[d+1] * ({_sql_md5_int("p::VARCHAR || ',' || d::VARCHAR", 8)}
                   / 4294967296.0 - 0.5)
      )) > 0 THEN 2**p ELSE 0 END)))::BIGINT AS bucket
  FROM base),
qs AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
cand AS (
  SELECT qs.query_id, b.vec_id,
         round(CASE WHEN sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(qs.qv, qs.qv)) > 0
               THEN list_dot_product(b.v, qs.qv)
                    / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(qs.qv, qs.qv)))
               ELSE 0.0 END, 6) AS cosine
  FROM b JOIN qs USING (bucket))
SELECT query_id, vec_id, cosine FROM cand
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) <= 5
"""


def q_ann_multiprobe_topk(spark, sf):
    """Multi-probe sign-LSH ANN (functions/similarity.py::
    multiprobe_lsh_top_k, Lv'07 restricted to Hamming-1): ONE corpus
    bucket assignment (no L-table corpus copies) and each query probes
    its bucket plus the probes−1 flips of the smallest-|projection|
    planes. Projections are exact int64 (fixed-point × ±1 md5 planes),
    so bucket ids, flip ORDER and the candidate set are bit-identical
    in the DuckDB oracle — hash-green on the actual multi-probe
    algorithm, not a recall bound. The structural answer to
    ann_knn_join's sf1 ratio: recall budget spent query-side at
    ~L/probes of the corpus cost."""
    from proxima_platform_spark.functions.similarity import (
        multiprobe_lsh_top_k,
    )

    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return multiprobe_lsh_top_k(emb, queries, k=5, num_planes=6, probes=3)


SQL_ANN_MULTIPROBE_TOPK = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT vec_id, v, {_sql_lsh_bucket(6, 0)} AS bucket FROM base),
qp AS (
  SELECT vec_id AS query_id, v AS qv,
    list_transform(range(6), p ->
      list_sum(list_transform(range(len(v)), d ->
        floor(v[d+1] * 1000000.0)::BIGINT *
        (CASE WHEN {_sql_md5_int("p::VARCHAR || ',' || d::VARCHAR", 1)} >= 8
              THEN 1 ELSE -1 END)))) AS projs
  FROM base WHERE vec_id < 5),
qb AS (
  SELECT query_id, qv, projs,
    (list_sum(list_transform(range(6), p ->
       CASE WHEN projs[p+1] > 0 THEN 2**p ELSE 0 END)))::BIGINT AS bucket
  FROM qp),
pr AS (
  SELECT query_id, qv,
    unnest(list_concat([bucket],
      list_transform(
        list_filter(range(6), p ->
          len(list_filter(range(6), q -> q <> p AND
            (abs(projs[q+1]) < abs(projs[p+1])
             OR (abs(projs[q+1]) = abs(projs[p+1]) AND q < p)))) < 2),
        p -> xor(bucket, (2**p)::BIGINT)))) AS bucket
  FROM qb),
cand AS (
  SELECT pr.query_id, b.vec_id,
         round(CASE WHEN sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(pr.qv, pr.qv)) > 0
               THEN list_dot_product(b.v, pr.qv)
                    / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(pr.qv, pr.qv)))
               ELSE 0.0 END, 6) AS cosine
  FROM b JOIN pr USING (bucket))
SELECT query_id, vec_id, cosine FROM cand
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) <= 5
"""


def q_ann_ivf_topk(spark, sf):
    """IVF-flat ANN (second scale path next to sign-LSH): centroids are a
    deterministic md5-ordered sample, so centroid selection, cell
    assignment (argmin squared-L2), n_probe cell probing, and the in-cell
    exact cosine top-k are all mirrored verbatim in the DuckDB oracle —
    hash-green on the actual IVF algorithm."""
    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_top_k(emb, queries, k=5, n_centroids=8, n_probe=2)


SQL_ANN_IVF_TOPK = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)))::INT - 1 AS c, v AS cvec
  FROM base QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= 8),
assign AS (
  SELECT vec_id, v, c AS cell FROM (
    SELECT e.vec_id, e.v, cc.c,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(len(e.v)),
               i -> (e.v[i+1]-cc.cvec[i+1])*(e.v[i+1]-cc.cvec[i+1]))), cc.c) AS rn
    FROM base e CROSS JOIN cents cc)
  WHERE rn = 1),
probes AS (
  SELECT query_id, qv, c AS cell FROM (
    SELECT e.vec_id AS query_id, e.v AS qv, cc.c,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(len(e.v)),
               i -> (e.v[i+1]-cc.cvec[i+1])*(e.v[i+1]-cc.cvec[i+1]))), cc.c) AS rn
    FROM base e CROSS JOIN cents cc WHERE e.vec_id < 5)
  WHERE rn <= 2),
cand AS (
  SELECT p.query_id, a.vec_id,
         round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.qv, p.qv)) > 0
               THEN list_dot_product(a.v, p.qv)
                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.qv, p.qv)))
               ELSE 0.0 END, 6) AS cosine
  FROM assign a JOIN probes p USING (cell))
SELECT query_id, vec_id, cosine FROM cand
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) <= 5
"""


def q_ann_ivfpq_topk(spark, sf):
    """IVF-PQ ANN with exact-rescore refine (functions/similarity.py::
    ivfpq_top_k) — the compressed-index scale path (16 B/vector codes vs
    256 B floats; 160 GB vs 2.56 TB at 10^10 vectors). Coarse md5-sample
    IVF (8 cells, probe 4) + 16-subspace × 64-codeword product quantizer
    over floor(x·10⁶) int64 components; codes, ADC tables and the approx
    distance are exact integer arithmetic, the shortlist-50 refine is
    the established exact-cosine recipe — so the ENTIRE index build,
    encode, probe, ADC scoring and refine is mirrored verbatim in the
    DuckDB oracle. Measured recall@10 = 0.66 vs brute force on this
    fixture (IVF probe ceiling 0.68; pinned in tests/test_similarity)."""
    from proxima_platform_spark.functions.similarity import ivfpq_top_k

    emb = _load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_top_k(emb, queries, k=10)


SQL_ANN_IVFPQ_TOPK = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * 1000000.0)::BIGINT) AS qv
  FROM embeddings),
cents AS (
  SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)))::INT - 1 AS c, v AS cvec
  FROM base QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= 8),
cw AS (
  SELECT (row_number() OVER (ORDER BY md5('pq|' || vec_id::VARCHAR)))::INT - 1 AS j,
         qv AS cwv
  FROM base QUALIFY row_number() OVER (ORDER BY md5('pq|' || vec_id::VARCHAR)) <= 64),
assign AS (
  SELECT vec_id, c AS cell FROM (
    SELECT b.vec_id, cc.c,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             list_sum(list_transform(range(len(b.v)),
               i -> (b.v[i+1]-cc.cvec[i+1])*(b.v[i+1]-cc.cvec[i+1]))), cc.c) AS rn
    FROM base b CROSS JOIN cents cc)
  WHERE rn = 1),
subs AS (SELECT unnest(range(16)) AS s),
enc AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT b.vec_id, subs.s, cw.j,
           row_number() OVER (PARTITION BY b.vec_id, subs.s ORDER BY
             list_sum(list_transform(range(4),
               d -> (b.qv[subs.s*4+d+1]-cw.cwv[subs.s*4+d+1])
                    *(b.qv[subs.s*4+d+1]-cw.cwv[subs.s*4+d+1]))), cw.j) AS rn
    FROM base b CROSS JOIN cw CROSS JOIN subs)
  WHERE rn = 1),
probes AS (
  SELECT query_id, c AS cell FROM (
    SELECT e.vec_id AS query_id, cc.c,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(len(e.v)),
               i -> (e.v[i+1]-cc.cvec[i+1])*(e.v[i+1]-cc.cvec[i+1]))), cc.c) AS rn
    FROM base e CROSS JOIN cents cc WHERE e.vec_id < 5)
  WHERE rn <= 4),
qtab AS (
  SELECT q.vec_id AS query_id, subs.s, cw.j,
         list_sum(list_transform(range(4),
           d -> (q.qv[subs.s*4+d+1]-cw.cwv[subs.s*4+d+1])
                *(q.qv[subs.s*4+d+1]-cw.cwv[subs.s*4+d+1])))::BIGINT AS dist
  FROM base q CROSS JOIN cw CROSS JOIN subs WHERE q.vec_id < 5),
cand AS (
  SELECT p.query_id, a.vec_id FROM assign a JOIN probes p USING (cell)),
scored AS (
  SELECT c.query_id, c.vec_id, sum(qt.dist)::BIGINT AS adc_dist
  FROM cand c
  JOIN enc e ON e.vec_id = c.vec_id
  JOIN qtab qt ON qt.query_id = c.query_id AND qt.s = e.s AND qt.j = e.code
  GROUP BY 1, 2),
short AS (
  SELECT query_id, vec_id, adc_dist FROM scored
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY adc_dist, vec_id) <= 50),
rescored AS (
  SELECT s.query_id, s.vec_id, s.adc_dist,
         round(CASE WHEN sqrt(list_dot_product(b.v, b.v))
                         * sqrt(list_dot_product(q.v, q.v)) > 0
                    THEN list_dot_product(b.v, q.v)
                         / (sqrt(list_dot_product(b.v, b.v))
                            * sqrt(list_dot_product(q.v, q.v)))
                    ELSE 0.0 END, 6) AS cosine
  FROM short s
  JOIN base b ON b.vec_id = s.vec_id
  JOIN base q ON q.vec_id = s.query_id)
SELECT query_id, vec_id, adc_dist, cosine
FROM rescored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, vec_id) <= 10
"""


def q_trigram_lm_score(spark, sf):
    """Char-trigram LM fluency scoring (functions/ranking.py): average log
    corpus-frequency of each doc's trigrams — the CCNet-style quality
    proxy. Trigram table bounded by |charset|^3 (AQE-broadcast), two
    map-side-combined shuffles; per-gram log-probs rounded then summed as
    exact decimals so both engines agree bit-for-bit."""
    from proxima_platform_spark.functions.ranking import trigram_lm_scores

    docs = _load(spark, sf, "documents")
    return trigram_lm_scores(docs)


SQL_TRIGRAM_LM_SCORE = rf"""
WITH norm AS (
    SELECT doc_id, {_sql_normalize()} AS nt
    FROM documents
), grams AS (
    SELECT doc_id, unnest([substr(nt, i, 3)
                           for i in range(1, greatest(len(nt) - 2, 0) + 1)]) AS g
    FROM norm
), counts AS (
    SELECT g, count(*) AS cnt FROM grams GROUP BY g
), total AS (
    SELECT sum(cnt) AS total FROM counts
)
SELECT doc_id,
       round(sum(round(ln(cnt / total), 8)::DECIMAL(28,10))::DOUBLE
             / count(*), 6) AS lm_score
FROM grams JOIN counts USING (g), total
GROUP BY doc_id
"""


def _sql_winnow_fingerprints(w: int = 4) -> str:
    # NOTE (r13 fold, VERDICT r12 #3): the standalone winnow_fingerprint_set
    # query was folded out of the declared set to open r14's window slot for
    # unigram_fertility. The fingerprint pipeline this CTE replays (every
    # w=4-window of token-3-gram Rabin-Karp hashes selecting its minimum
    # with the RIGHTMOST tie-break, one row per distinct (doc, pos, fp))
    # remains driver-hash-certified through BOTH surviving winnow queries —
    # _sql_winnow_overlap and _sql_dedup_winnow embed this CTE verbatim —
    # and its row-level assertions (tie-break side, density bound, the
    # w+2 detection guarantee) moved to tests/test_text.py::TestWinnowFold.
    from proxima_platform_spark.functions.text import (
        ROLLING_B, ROLLING_B2, ROLLING_P,
    )

    return rf"""
{_sql_token_hash_ctes()}, g AS (
    SELECT doc_id,
           [(th[i] * {ROLLING_B2} + th[i+1] * {ROLLING_B} + th[i+2]) % {ROLLING_P}
            for i in range(1, len(th) - 1)] AS gr
    FROM h
    WHERE len(th) >= 3
), wins AS (
    SELECT doc_id,
           unnest([struct_pack(
                pos := j + len(gr[j : j + {w - 1}])
                       - list_position(list_reverse(gr[j : j + {w - 1}]),
                                       list_min(gr[j : j + {w - 1}])),
                fp := list_min(gr[j : j + {w - 1}]))
               for j in range(1, greatest(len(gr) - {w} + 1, 1) + 1)]) AS s
    FROM g
)
SELECT DISTINCT doc_id, s.pos::INT AS pos, s.fp AS fp FROM wins
"""


def q_dedup_winnow(spark, sf):
    """Winnow-based shared-span cut (functions/dedup.py::dedup_winnow) —
    acting on the winnow_overlap REPORT: spans witnessed by shared
    winnowed fingerprints are cut, winner-immune (per-fp globally-first
    occurrence survives), matched positions <= w grams apart bridged
    into one island (winnowing's density bound: a shared run's interior
    match gaps are <= w). Catches near-verbatim blocks with small edits
    that exact-gram dedup misses (an edit every < min_len tokens leaves
    no duplicated min_len-gram, but every untouched run >= w+2 still
    shares a fingerprint). No pair join: every stage keys on fp or doc,
    so the overlap report's quadratic docs-per-fp term never appears and
    no boilerplate cap is needed. Oracle replays winner rule, island
    bridging, kept-window subtraction and the run grouping verbatim."""
    from proxima_platform_spark.functions.dedup import dedup_winnow

    docs = _load(spark, sf, "documents")
    return dedup_winnow(docs, w=4)


def _sql_dedup_winnow(w: int = 4) -> str:
    return rf"""
WITH fpset AS (
    SELECT doc_id, pos, fp FROM ({_sql_winnow_fingerprints(w)})
), {_sql_doc_tokens("t2")}, counts AS (
    SELECT doc_id, len(tk) AS n_tokens FROM t2
), {_sql_winner_ctes("fpset")}, rem AS (
    SELECT DISTINCT f.doc_id, f.pos
    FROM fpset f JOIN winners USING (fp)
    WHERE NOT (f.doc_id = winners.wd AND f.pos = winners.wp)
), isl AS (
    SELECT doc_id, pos,
           sum(CASE WHEN prev IS NULL OR pos - prev > {w} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
    FROM (
        SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM rem
    )
), islands AS (
    SELECT doc_id, isl, min(pos) AS lo, max(pos) AS hi
    FROM isl GROUP BY 1, 2
), removed AS (
    SELECT DISTINCT doc_id, unnest(range(lo, hi + 3)) AS rp FROM islands
), keptw AS (
    SELECT DISTINCT wd AS doc_id, unnest(range(wp, wp + 3)) AS rp
    FROM winners
), {_sql_cut_runs_tail("t2")}
"""


def q_winnow_overlap(spark, sf):
    """Copy-detection pair report (functions/text.py::winnow_overlap):
    document pairs ranked by shared distinct winnowed fingerprints — the
    MOSS report. Fingerprints shared by > 64 docs are dropped before
    pairing (boilerplate stop-gram cut), bounding the candidate join at
    cap^2/2 per fingerprint bucket; a shared passage >= w+2 tokens is
    guaranteed to surface (detection theorem), which whole-doc MinHash
    misses when the rest of the documents differ."""
    from proxima_platform_spark.functions.text import winnow_overlap

    docs = _load(spark, sf, "documents")
    return winnow_overlap(
        docs, "doc_id", "text", w=4, min_shared=2, max_docs_per_fp=64
    )


def _sql_winnow_overlap(
    w: int = 4, min_shared: int = 2, cap: int = 64
) -> str:
    return rf"""
WITH fps AS (
    SELECT DISTINCT doc_id, fp FROM ({_sql_winnow_fingerprints(w)})
), capped AS (
    SELECT doc_id, fp FROM fps
    WHERE fp IN (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {cap})
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


def q_decontaminate(spark, sf):
    """Benchmark decontamination (functions/text.py::contaminated_doc_ids):
    corpus docs sharing any word n-gram with the eval set (docs 0-4) — the
    GPT-3/Pile leak check as an exploded-shingle semi-join (eval side tiny,
    AQE-broadcast). n=3 here because the fixture vocabulary is small;
    production uses 8-13."""
    from proxima_platform_spark.functions.text import contaminated_doc_ids

    docs = _load(spark, sf, "documents")
    return contaminated_doc_ids(
        docs.where(F.col("doc_id") >= 5),
        docs.where(F.col("doc_id") < 5),
        n=3,
    )


SQL_DECONTAMINATE = rf"""
{_sql_distinct_gram_ctes(3)}
SELECT DISTINCT c.doc_id
FROM grams c
JOIN (SELECT DISTINCT g FROM grams WHERE doc_id < 5) e USING (g)
WHERE c.doc_id >= 5
"""


def q_fuzzy_decontaminate(spark, sf):
    """Fuzzy (near-duplicate) decontamination
    (functions/dedup.py::fuzzy_contaminated_doc_ids): eval docs
    PARAPHRASED into the corpus share no long exact n-gram but keep high
    shingle-Jaccard — the contamination variant the exact/Bloom/substring
    trio misses. MinHash banding (bands from plan_bands(0.5, 8) → 4×2)
    generates candidates with the eval side BROADCAST (plan-asserted),
    then exact distinct-shingle Jaccard ≥ 0.5 confirms each one, so
    precision is exact and the hash match certifies banding + confirm
    end-to-end. The corpus is never shuffled by key and never
    self-joined. Eval set = docs 0-99 (the 0-4 split of q_decontaminate
    has no near-dup partners in the fixture — this split crosses a dozen
    real >=0.9-Jaccard pairs, so the drop path is exercised)."""
    from proxima_platform_spark.functions.dedup import (
        fuzzy_contaminated_doc_ids,
    )

    docs = _load(spark, sf, "documents")
    return fuzzy_contaminated_doc_ids(
        docs.where(F.col("doc_id") >= 100),
        docs.where(F.col("doc_id") < 100),
        threshold=0.5,
        n=3,
        num_hashes=8,
    )


def _sql_fuzzy_decontaminate() -> str:
    # band keys over the FULL documents table then split by id: per-doc
    # signatures are independent, so banding once and filtering equals the
    # Spark side's two separate pipelines
    return f"""
WITH {_sql_minhash_ctes("documents")},
corpus_b AS (SELECT doc_id, band FROM banded WHERE doc_id >= 100),
eval_b AS (SELECT doc_id AS eval_id, band FROM banded WHERE doc_id < 100),
cand AS (
  SELECT DISTINCT c.doc_id, e.eval_id FROM corpus_b c JOIN eval_b e USING (band)
),
shd AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
conf AS (
  SELECT cand.doc_id, cand.eval_id,
         CAST(round(len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE
              * 1000000, 0) AS BIGINT) AS jac_micro
  FROM cand
  JOIN shd a ON a.doc_id = cand.doc_id
  JOIN shd b ON b.doc_id = cand.eval_id
)
SELECT doc_id, eval_id, jac_micro FROM conf
WHERE jac_micro >= 500000
QUALIFY row_number() OVER (
    PARTITION BY doc_id ORDER BY jac_micro DESC, eval_id) = 1
"""


def q_ngram_novelty(spark, sf):
    """Per-document novelty / memorization score
    (functions/text.py::ngram_novelty): fraction of each corpus doc's
    distinct trigrams never seen in the reference slice (docs < 100 — the
    fuzzy_decontaminate split, so near-copies score novelty ≈ 0 here and
    the oracle certifies the per-doc ratio in exact micro-units, not just
    a boolean verdict). One gram equi-join + one doc-keyed re-agg."""
    from proxima_platform_spark.functions.text import ngram_novelty

    docs = _load(spark, sf, "documents")
    return ngram_novelty(
        docs.where(F.col("doc_id") >= 100),
        docs.where(F.col("doc_id") < 100),
        n=3,
    )


SQL_NGRAM_NOVELTY = rf"""
{_sql_distinct_gram_ctes(3)}, ref AS (
    SELECT DISTINCT g FROM grams WHERE doc_id < 100
)
SELECT c.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN r.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
       CAST(round((1.0 - CAST(sum(CASE WHEN r.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE)) * 1000000, 0) AS BIGINT)
           AS novelty_micro
FROM grams c LEFT JOIN ref r ON c.g = r.g
WHERE c.doc_id >= 100
GROUP BY c.doc_id
"""


def q_text_stats(spark, sf):
    """Token counting + fingerprinting over documents (single projection)."""
    docs = _load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        exact_dup_key(F.col("text")).alias("fp"),
    )


SQL_TEXT_STATS = rf"""
SELECT doc_id,
       {_sql_token_count(indent=12)} AS n_tokens,
       length(text) AS n_chars_actual,
       md5({_sql_normalize()}) AS fp
FROM documents
"""


def q_text_quality(spark, sf):
    """Quality scoring + language-ID heuristic over documents — via the
    Arrow fast path (bit-identical to the quality_score/language_id
    expression forms, pinned by TestQualityLangParity; the ~25 full-text
    replace/regex scans per doc become one Python pass per batch — the
    training_pipeline precedent)."""
    from proxima_platform_spark.functions.text import quality_lang_arrow

    docs = _load(spark, sf, "documents")
    return quality_lang_arrow(docs).select("doc_id", "quality", "lang_guess")


def _sql_scored_ctes() -> str:
    """CTE chain ``base → scores → g → scored`` computing per-doc quality
    (round 6) and lang_guess, mirroring functions/text.py. Shared by the
    text_quality oracle and the composed training_pipeline oracle."""
    score_exprs, names = [], []
    for lang in sorted(LANG_MARKERS):
        parts = [
            f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS INT)"
            for m in LANG_MARKERS[lang]
        ]
        score_exprs.append(f"({' + '.join(parts)}) AS s_{lang}")
        names.append(f"s_{lang}")
    greatest = f"greatest({', '.join(names)})"
    case = " ".join(
        f"WHEN s_{lang} = g THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    )
    return rf"""base AS (
    SELECT doc_id, source, text, ' ' || lower(text) || ' ' AS p FROM documents
), scores AS (
    SELECT doc_id, source, text, {', '.join(score_exprs)} FROM base
), g AS (
    SELECT doc_id, source, text, {greatest} AS g, * FROM scores
), scored AS (
    SELECT doc_id, source, text,
       round(
         0.5 * (CASE WHEN length(text) > 0
                THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text)
                ELSE 0.0 END)
       + 0.25 * (CASE WHEN ({_sql_token_count(indent=24)}) > 0
                  AND length(text)::DOUBLE / ({_sql_token_count(indent=24, blank=1)}) BETWEEN 3 AND 12
                 THEN 1.0 ELSE 0.0 END)
       + 0.25 * least(length(text) / 200.0, 1.0), 6) AS quality,
       CASE WHEN g = 0 THEN 'und' {case} ELSE 'und' END AS lang_guess
    FROM g
)"""


def _sql_text_quality() -> str:
    return f"WITH {_sql_scored_ctes()}\nSELECT doc_id, quality, lang_guess FROM scored"


def q_text_tokens_bpe(spark, sf):
    """BPE-ish token counting (GPT-2 pre-tokenizer regex) vs whitespace —
    the cheap LLM-token-budget proxy."""
    docs = _load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        token_count_bpe(F.col("text")).alias("n_bpe"),
        token_count(F.col("text")).alias("n_ws"),
    )


def _sql_text_tokens_bpe() -> str:
    pattern = BPE_PATTERN.replace("'", "''")
    return rf"""
SELECT doc_id,
       len(regexp_extract_all(text, '{pattern}')) AS n_bpe,
       {_sql_token_count(indent=12)} AS n_ws
FROM documents
"""


def q_doc_rolling_fingerprint(spark, sf):
    """Winnowing-style rolling-hash fingerprint: min Rabin-Karp hash over
    token 3-grams (robust to local edits; NULL for <3-token docs)."""
    docs = _load(spark, sf, "documents")
    return docs.select(
        "doc_id", rolling_hash_fingerprint(F.col("text")).alias("fp")
    )


def _sql_doc_rolling_fingerprint() -> str:
    from proxima_platform_spark.functions.text import (
        ROLLING_B, ROLLING_B2, ROLLING_P,
    )

    return rf"""
{_sql_token_hash_ctes()}
SELECT doc_id,
       CASE WHEN len(th) >= 3 THEN list_min(
            [(th[i] * {ROLLING_B2} + th[i+1] * {ROLLING_B} + th[i+2]) % {ROLLING_P}
             for i in range(1, len(th) - 1)])
       ELSE NULL END AS fp
FROM h
"""


def q_text_quality_signals(spark, sf):
    """Individual quality ratios (alpha/punct/stopword/mean-word-length) —
    the Gopher/C4-style threshold signals exposed separately."""
    docs = _load(spark, sf, "documents")
    sig = quality_signals(F.col("text"))
    return docs.select(
        "doc_id",
        *[F.round(expr, 6).alias(name) for name, expr in sig.items()],
    )


def _sql_text_quality_signals() -> str:
    stop_parts = " + ".join(
        f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS INT)"
        for m in EN_STOPWORDS
    )
    return rf"""
WITH base AS (
    SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
           length(text)::DOUBLE AS n,
           ({_sql_token_count(indent=17)})::DOUBLE AS toks
    FROM documents
)
SELECT doc_id,
       round(CASE WHEN n > 0
             THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / n
             ELSE 0.0 END, 6) AS alpha_ratio,
       round(CASE WHEN n > 0
             THEN length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) / n
             ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN toks > 0 THEN ({stop_parts}) / toks ELSE 0.0 END, 6)
           AS stopword_ratio,
       round(CASE WHEN toks > 0 THEN n / toks ELSE 0.0 END, 6) AS mean_word_len
FROM base
"""


def q_multimodal_features(spark, sf):
    """Multimodal pipeline with a REAL decode: each document's text bytes are
    packed into a spec-compliant binary PPM (P6) image whose dimensions derive
    from doc_id, then image_features decodes the PPM (pure-numpy codec —
    functions/multimodal.py) and emits per-channel means. Channel sums are
    exact int64, so the means are bit-reproducible and the closed-form SQL
    oracle below hash-matches."""
    import numpy as np
    from proxima_platform_spark.functions.multimodal import encode_ppm

    docs = _load(spark, sf, "documents")

    def encode(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                w = 4 + int(row.doc_id) % 5
                h = 3 + int(row.doc_id) % 4
                n = w * h * 3
                # pixels from CODEPOINTS (mod 256), not UTF-8 bytes: the
                # DuckDB oracle indexes characters (ascii(substr(...))), and
                # a multi-byte character would shift every subsequent byte —
                # codepoint%256 keeps both engines aligned on any text
                pix = [ord(c) % 256 for c in row.text[:n]]
                pix += [0] * (n - len(pix))
                img = np.asarray(pix, dtype=np.uint8).reshape(h, w, 3)
                rows.append({"doc_id": row.doc_id, "payload": encode_ppm(img)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    media = docs.select("doc_id", "text").mapInPandas(
        encode, "doc_id long, payload binary"
    )
    feats = image_features(media)
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("features")[0], 6).alias("mean_r"),
        F.round(F.col("features")[1], 6).alias("mean_g"),
        F.round(F.col("features")[2], 6).alias("mean_b"),
    )


SQL_MULTIMODAL_FEATURES = """
WITH dims AS (
    SELECT doc_id, text,
           4 + doc_id % 5 AS w,
           3 + doc_id % 4 AS h
    FROM documents
), px AS (
    SELECT doc_id, w, h, t.i AS i,
           CASE WHEN t.i <= length(text)
                THEN ascii(substr(text, CAST(t.i AS INT), 1)) % 256
                ELSE 0 END AS b
    FROM dims, LATERAL (SELECT unnest(range(1, CAST(w * h * 3 + 1 AS BIGINT))) AS i) t
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       round(sum(CASE WHEN (i - 1) % 3 = 0 THEN b ELSE 0 END) / (w * h * 1.0), 6) AS mean_r,
       round(sum(CASE WHEN (i - 1) % 3 = 1 THEN b ELSE 0 END) / (w * h * 1.0), 6) AS mean_g,
       round(sum(CASE WHEN (i - 1) % 3 = 2 THEN b ELSE 0 END) / (w * h * 1.0), 6) AS mean_b
FROM px
GROUP BY doc_id, w, h
"""


def q_corpus_sample(spark, sf):
    """Deterministic stratified corpus sampling (functions/sampling.py):
    rebalance the mixture — keep all of src0, half of src1, a quarter of
    src2, 10% of everything else — as ONE pure codegen filter (no shuffle,
    no rand(); md5-keyed so the DuckDB oracle mirrors the sample exactly)."""
    from proxima_platform_spark.functions.sampling import stratified_sample

    docs = _load(spark, sf, "documents")
    sampled = stratified_sample(
        docs,
        key=F.col("doc_id"),
        strata=F.col("source"),
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
        salt="corpus-v1",
    )
    return sampled.select("doc_id", "source")


SQL_CORPUS_SAMPLE = f"""
WITH keyed AS (
    SELECT doc_id, source,
           {_sql_md5_int("'corpus-v1' || CAST(doc_id AS VARCHAR)")}
               % 1000000 AS sk
    FROM documents
)
SELECT doc_id, source
FROM keyed
WHERE sk < CASE source
           WHEN 'src0' THEN 1000000
           WHEN 'src1' THEN 500000
           WHEN 'src2' THEN 250000
           ELSE 100000 END
"""


def q_corpus_split(spark, sf):
    """Disjoint deterministic train/validation/test assignment
    (functions/sampling.py::hash_split): cumulative ranges of one md5
    sampling key — exactly disjoint and exhaustive, unlike per-split salted
    draws; pure codegen expression, no shuffle."""
    from proxima_platform_spark.functions.sampling import hash_split

    docs = _load(spark, sf, "documents")
    split = hash_split(
        docs,
        key=F.col("doc_id"),
        fractions={"train": 0.8, "validation": 0.1, "test": 0.1},
        salt="split-v1",
    )
    return docs.select("doc_id", split.alias("split"))


# hash_split assigns cumulative ranges in sorted-name order:
# test [0, 0.1) -> train [0.1, 0.9) -> validation (rest)
SQL_CORPUS_SPLIT = f"""
WITH keyed AS (
    SELECT doc_id,
           {_sql_md5_int("'split-v1' || CAST(doc_id AS VARCHAR)")}
               % 1000000 AS sk
    FROM documents
)
{_sql_hash_split_select()}
"""


def q_corpus_sample_topk(spark, sf):
    """Exact-size deterministic sample (hash_sample_exact_k): the k smallest
    md5 sampling keys win — TakeOrderedAndProject (per-partition heaps, no
    population shuffle), the distributed reservoir-sampling analog."""
    from proxima_platform_spark.functions.sampling import hash_sample_exact_k

    docs = _load(spark, sf, "documents")
    return hash_sample_exact_k(
        docs, key=F.col("doc_id"), k=50, salt="sample-v1"
    ).select("doc_id", "source")


SQL_CORPUS_SAMPLE_TOPK = f"""
SELECT doc_id, source
FROM (
    SELECT doc_id, source,
           {_sql_md5_int("'sample-v1' || CAST(doc_id AS VARCHAR)")}
               % 1000000 AS sk
    FROM documents
)
ORDER BY sk, doc_id LIMIT 50
"""


_PIPELINE_CACHE: list = []


def q_multimodal_frames(spark, sf):
    """Video frame-sampling plumbing: binary payload + duration metadata →
    mapInPandas frame rows (stubbed decode — functions/multimodal.py) →
    per-doc frame stats. The Arrow batch pipeline is real; the frame count
    is derivable from metadata, so this one IS oracle-checkable."""
    from proxima_platform_spark.functions.multimodal import frame_sample

    docs = _load(spark, sf, "documents")
    media = docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.col("n_chars").cast("long").alias("duration_ms"),
    )
    frames = frame_sample(media, every_ms=100)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ts_ms").alias("last_frame_ms"),
    )


SQL_MULTIMODAL_FRAMES = """
SELECT doc_id,
       CAST(ceil(greatest(n_chars, 1) / 100.0) AS BIGINT) AS n_frames,
       (CAST(ceil(greatest(n_chars, 1) / 100.0) AS BIGINT) - 1) * 100 AS last_frame_ms
FROM documents
"""


def q_training_pipeline(spark, sf):
    """End-to-end LLM training-data pipeline — the extension operators
    composed the way a corpus-cleaning job chains them: quality + language
    gate → exact dedup (keep lowest doc_id per normalized-text fingerprint)
    → MinHash+LSH near-dup removal (drop the higher id of every candidate
    pair) → per-source corpus stats.

    Scale shape: the gate is a pure projection+filter (whole-stage codegen,
    column-pruned scan); exact dedup is one hash aggregation (min_by);
    near-dup candidates come from the explode→agg→bucket-join in
    functions/dedup.py; the drop set is candidate ids only (tiny), so AQE
    broadcasts the anti-join at any scale."""
    from proxima_platform_spark.functions.text import quality_lang_arrow

    docs = _load(spark, sf, "documents")
    # gate via the Arrow fast path (bit-identical to the expression spec —
    # tests/test_ranking.py::TestQualityLangParity): the 25 full-text
    # replace/regex scans per doc of the expression form dominate the whole
    # pipeline (measured 1.9 s of the 3.9 s total at sf0.1; one Python pass
    # per batch is ~6×). Narrow stage, no shuffle, text carried through.
    scored = quality_lang_arrow(docs, keep=("source", "text"))
    gated = scored.where((F.col("quality") >= 0.8) & (F.col("lang_guess") == "en"))
    kept = (
        gated.withColumn("fp", exact_dup_key(F.col("text")))
        .groupBy("fp")
        .agg(
            F.min_by(
                F.struct("doc_id", "source", "text", "quality"), F.col("doc_id")
            ).alias("s")
        )
        .select("s.*")
    )
    # kept feeds both the minhash candidate generation and the final
    # anti-join; persist so the gate+dedup stages run once (the production
    # shape at 100 TB checkpoints this intermediate corpus to storage).
    # Unpersist the previous invocation's cache — repeated builds (bench
    # warmup+timed runs, oracle sweeps) must not pin storage memory
    kept = kept.persist()
    while _PIPELINE_CACHE:
        _PIPELINE_CACHE.pop().unpersist()
    _PIPELINE_CACHE.append(kept)
    drop_ids = (
        minhash_candidate_pairs(kept, "doc_id", "text", n=3, num_hashes=8, bands=4)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    survivors = kept.join(drop_ids, "doc_id", "left_anti")
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_bpe(F.col("text")).cast("long")).alias("total_tokens"),
        F.round(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
    )


def q_repetition_signals(spark, sf):
    """Gopher-style within-document repetition signals (dup-word fraction,
    top-bigram fraction, dup-line fraction). Counts come from the
    Arrow-batched fast path (functions/text.py: repetition_counts_arrow —
    ~100× the interpreted higher-order-lambda expression form, still
    narrow/no-shuffle); fractions and rounding stay Spark expressions so
    the values are bit-identical to the pure-expression spec
    (repetition_signals) and the DuckDB oracle."""
    docs = _load(spark, sf, "documents")
    c = repetition_counts_arrow(docs)
    return c.select(
        "doc_id",
        F.round(
            F.when(
                F.col("n_tok") > 0,
                1.0 - F.col("n_tok_distinct").cast("double") / F.col("n_tok").cast("double"),
            ).otherwise(F.lit(0.0)), 6,
        ).alias("dup_word_frac"),
        F.round(
            F.when(
                F.col("n_gram") > 0,
                F.col("top_gram_cnt").cast("double") / F.col("n_gram").cast("double"),
            ).otherwise(F.lit(0.0)), 6,
        ).alias("top_bigram_frac"),
        F.round(
            F.when(
                F.col("n_line") > 0,
                1.0 - F.col("n_line_distinct").cast("double") / F.col("n_line").cast("double"),
            ).otherwise(F.lit(0.0)), 6,
        ).alias("dup_line_frac"),
    )


SQL_REPETITION_SIGNALS = rf"""
WITH t AS (
    SELECT doc_id,
           {_sql_tokens()} AS toks,
           list_filter([trim(l) for l in string_split(text, chr(10))],
                       l -> len(l) > 0) AS lines
    FROM documents
), g AS (
    SELECT doc_id, toks, lines,
           CASE WHEN len(toks) >= 2
                THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
                ELSE [] END AS bg
    FROM t
)
SELECT doc_id,
       round(CASE WHEN len(toks) > 0
             THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
             ELSE 0.0 END, 6) AS dup_word_frac,
       round(CASE WHEN len(bg) > 0
             THEN list_max([len(list_filter(bg, x -> x = gr))
                            for gr in list_distinct(bg)])::DOUBLE / len(bg)
             ELSE 0.0 END, 6) AS top_bigram_frac,
       round(CASE WHEN len(lines) > 0
             THEN 1.0 - len(list_distinct(lines))::DOUBLE / len(lines)
             ELSE 0.0 END, 6) AS dup_line_frac
FROM g
"""


def q_chunk_documents(spark, sf):
    """Context-window chunking: 16-token chunks, stride 12 (overlap 4) —
    narrow posexplode, no shuffle (functions/text.py: chunk_documents)."""
    docs = _load(spark, sf, "documents")
    return chunk_documents(docs, chunk_tokens=16, stride=12)


SQL_CHUNK_DOCUMENTS = rf"""
WITH {_sql_doc_tokens("t", "toks")}, s AS (
    SELECT doc_id, toks,
           unnest(range(0, greatest(len(toks), 1), 12)) AS st
    FROM t
)
SELECT doc_id,
       st // 12 AS chunk_id,
       array_to_string(toks[st+1 : st+16], ' ') AS chunk_text,
       len(toks[st+1 : st+16]) AS n_tokens
FROM s
"""


def q_sequence_pack(spark, sf):
    """Deterministic sequence packing into 256-token bins over 8 hash
    shards (functions/sampling.py: sequence_pack)."""
    docs = _load(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return sequence_pack(docs, budget=256, n_shards=8)


SQL_SEQUENCE_PACK = rf"""
WITH t AS (
    SELECT doc_id, doc_id % 8 AS shard,
           len({_sql_tokens()}) AS n_tokens
    FROM documents
)
SELECT doc_id, shard,
       (coalesce(sum(n_tokens) OVER (
            PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT // 256)::BIGINT AS bin,
       n_tokens
FROM t
"""


def q_tfidf_top_terms(spark, sf):
    """Top-3 TF-IDF terms per document (functions/ranking.py:
    tfidf_top_terms); ties broken by term so the ranking is total."""
    docs = _load(spark, sf, "documents")
    return tfidf_top_terms(docs, k=3)


SQL_TFIDF_TOP_TERMS = rf"""
WITH toks AS (
    SELECT doc_id,
           unnest({_sql_tokens()}) AS term
    FROM documents
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
    SELECT count(DISTINCT doc_id) AS n_docs FROM documents
)
SELECT doc_id, term, tf, tfidf, rank FROM (
    SELECT tf.doc_id, tf.term, tf.tf,
           round(tf.tf * (ln((n.n_docs + 1)::DOUBLE / (df.df + 1)) + 1), 6) AS tfidf,
           row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * (ln((n.n_docs + 1)::DOUBLE / (df.df + 1)) + 1), 6) DESC,
                        tf.term) AS rank
    FROM tf JOIN df USING (term) CROSS JOIN n
) x WHERE rank <= 3
"""


def q_embedding_quantize(spark, sf):
    """Per-vector int8 min-max quantization with reconstruction MSE, via
    the Arrow-batched fast path (functions/similarity.py:
    quantize_embeddings_arrow; ~20× the interpreted-lambda expression form
    `quantize_embeddings`, bit-identical values — sequential error
    accumulation mirrors F.aggregate and the oracle's list_sum)."""
    emb = _load(spark, sf, "embeddings")
    return quantize_embeddings_arrow(emb, levels=255)


SQL_EMBEDDING_QUANTIZE = """
WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM b)
SELECT vec_id,
       round(mn, 6) AS vmin,
       round(mx, 6) AS vmax,
       (CASE WHEN mx - mn > 0
            THEN list_sum(list_transform(v,
                 x -> floor((x - mn) * 255.0 / (mx - mn))::BIGINT))
            ELSE 0 END)::BIGINT AS q_checksum,
       round(CASE WHEN mx - mn > 0
             THEN list_sum(list_transform(v,
                  x -> (x - (mn + floor((x - mn) * 255.0 / (mx - mn)) * ((mx - mn) / 255.0)))
                     * (x - (mn + floor((x - mn) * 255.0 / (mx - mn)) * ((mx - mn) / 255.0)))))
                  / len(v)
             ELSE 0.0 END, 9) AS mse
FROM m
"""


def q_embedding_covariance(spark, sf):
    """Distributed covariance matrix over the embedding column — the input
    every whitening / PCA / Mahalanobis-outlier step needs, as ONE pass
    with no self-join: each row explodes its d(d+1)/2 upper-triangle
    component pairs (a narrow Generate — the raw table is never shuffled
    by key), and the power sums accumulate per (i, j) cell in DECIMAL
    over micro-scaled integers (the corr_price_qty recipe), so the
    unbounded-row sums are order-independent-exact and the closing sample
    covariance is one fixed IEEE double sequence the oracle replays
    bit-for-bit. Cell count is bounded by d² (64 → 2080 cells) whatever
    the corpus size. Implementation: JVM-side HALF_UP micro-scaling (the
    oracle's exact spec — no Python rounding in the path), then an Arrow
    block stage computes each batch's exact int64 X^T·X and emits ONE
    d(d+1)/2-row partial per batch, so shuffle volume is O(d²·batches),
    never O(rows·d²); the interpreted pair-explode expression form
    measured 8× slower at d=64 and the gap grows with d²
    (functions/similarity.py::embedding_covariance_partials)."""
    from proxima_platform_spark.functions.similarity import (
        embedding_covariance_partials,
    )

    emb = _load(spark, sf, "embeddings")
    d = emb.select(F.size("embedding").alias("d")).first().d
    partials = embedding_covariance_partials(emb, dim=d)
    s = partials.groupBy("i", "j").agg(
        F.sum("n").cast("double").alias("n"),
        F.sum(F.col("sxi").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("sxj").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.col("sxy").cast("decimal(38,0)")).cast("double").alias("sxy"),
    )
    return s.select(
        "i",
        "j",
        F.col("n").cast("long").alias("n_rows"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * (F.col("n") - F.lit(1.0)))
            / F.lit(1e12),
            9,
        ).alias("cov"),
    )


SQL_EMBEDDING_COVARIANCE = """
WITH base AS (
  SELECT [CAST(round(x * 1000000, 0) AS BIGINT) for x in embedding::DOUBLE[]] AS sc
  FROM embeddings
),
pairs AS (
  SELECT t.i, u.j, sc[t.i] AS xi, sc[u.j] AS xj
  FROM base, range(1, 65) t(i), range(1, 65) u(j)
  WHERE t.i <= u.j
),
s AS (
  SELECT i, j,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(xi AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(xj AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(xi * xj AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM pairs GROUP BY i, j
)
SELECT i, j, CAST(n AS BIGINT) AS n_rows,
       round((n * sxy - sx * sy) / (n * (n - 1.0)) / 1e12, 9) AS cov
FROM s
"""


def q_wordpiece_fertility(spark, sf):
    """WordPiece budget summary per document (functions/wordpiece.py) —
    DECLARED IN r13 (built and oracle-validated in r12; kept out of the
    r12 queries() dict so the driver window stays exactly full with zero
    never-checked entries). Greedy longest-match-first encoding against
    the deterministic frequency vocabulary built from the SAME corpus
    (self-encoding → zero UNK by the coverage guarantee; the UNK path is
    pinned in tests): the greedy loop runs as shrinking vocab-frame
    joins on the distinct-word frame (vocab never collects, no UDFs);
    the oracle replays it as a recursive CTE whose per-step state is
    (word, pos, n_pieces) with the longest vocab prefix chosen by a
    grouped max over candidate lengths — integer/string arithmetic only,
    one closing 6-dp rounded division."""
    from proxima_platform_spark.functions.wordpiece import (
        wordpiece_fertility,
        wordpiece_vocab,
    )

    docs = _load(spark, sf, "documents")
    vocab = wordpiece_vocab(docs, text_col="text", vocab_size=200,
                            max_piece_len=8)
    return wordpiece_fertility(docs, vocab)


SQL_WORDPIECE_FERTILITY = rf"""
WITH RECURSIVE tok AS (
    SELECT doc_id,
           unnest({_sql_tokens()}) AS w
    FROM documents
), occ AS (
    SELECT doc_id, w, count(*) AS n FROM tok WHERE len(w) > 0 GROUP BY 1, 2
), words AS (
    SELECT w, sum(n) AS wc FROM occ GROUP BY w
), subs AS (
    SELECT unnest(flatten([[CASE WHEN s = 1 THEN substr(w, s, e - s + 1)
                                 ELSE '##' || substr(w, s, e - s + 1) END
                            for e in range(s, least(len(w), s + 7) + 1)]
                           for s in range(1, len(w) + 1)])) AS piece,
           wc
    FROM words
), counts AS (
    SELECT piece, sum(wc) AS cnt FROM subs GROUP BY piece
), vocab AS (
    SELECT piece FROM counts WHERE len(regexp_replace(piece, '^##', '')) = 1
    UNION
    SELECT piece FROM (
        SELECT piece FROM counts
        WHERE len(regexp_replace(piece, '^##', '')) > 1
        ORDER BY cnt DESC, piece ASC LIMIT 200
    )
), enc(w, pos, n_pieces, unk) AS (
    SELECT w, 1::BIGINT, 0::BIGINT, len(w) > 64 FROM words
    UNION ALL
    SELECT w,
           CASE WHEN plen IS NULL THEN pos ELSE pos + plen END,
           CASE WHEN plen IS NULL THEN 1 ELSE n_pieces + 1 END,
           plen IS NULL
    FROM (
        SELECT e.w, e.pos, e.n_pieces,
               max(CASE WHEN v.piece IS NOT NULL THEN t.l END) AS plen
        FROM enc e
        CROSS JOIN (SELECT unnest(range(1, 9)) AS l) t
        LEFT JOIN vocab v
          ON e.pos + t.l - 1 <= len(e.w)
         AND v.piece = CASE WHEN e.pos = 1 THEN substr(e.w, e.pos, t.l)
                            ELSE '##' || substr(e.w, e.pos, t.l) END
        WHERE NOT e.unk AND e.pos <= len(e.w)
        GROUP BY e.w, e.pos, e.n_pieces
    )
), terminal AS (
    SELECT w, CASE WHEN unk THEN 1 ELSE n_pieces END AS n_pieces, unk
    FROM enc WHERE unk OR pos > len(w)
)
SELECT o.doc_id,
       sum(o.n)::BIGINT AS n_words,
       sum(o.n * t.n_pieces)::BIGINT AS n_pieces,
       sum(CASE WHEN t.unk THEN o.n ELSE 0 END)::BIGINT AS n_unk_words,
       round(sum(o.n * t.n_pieces) / sum(o.n), 6) AS fertility
FROM occ o JOIN terminal t USING (w)
GROUP BY o.doc_id
"""


def q_unigram_fertility(spark, sf):
    """Unigram-LM (SentencePiece) budget summary per document
    (functions/unigram.py) — SCHEDULED FOR r14 at window position 50
    (oracle-validated side-by-side in r12, NOT yet in queries(); the slot
    was opened in r13 by folding winnow_fingerprint_set into the two
    surviving winnow oracles). Viterbi segmentation against the seed model
    with log-probs QUANTIZED to round(ln, 8) exact decimals: the DP sums
    decimals exactly on both engines, so the argmax (and therefore every
    n_pieces) is engine-replayable; ties break (fewer pieces, lex-least
    sequence) — a total order. The oracle unrolls the position DP as 16
    generated chained CTEs (one best-state row per word per prefix
    length). NOTE for the declaring round: the model's round(ln(cnt/t),8)
    site must enter tools/margin_check.py's audit."""
    from proxima_platform_spark.functions.dedup import tokens as _tokens
    from proxima_platform_spark.functions.unigram import (
        unigram_seed_probs,
        unigram_viterbi_encode,
    )

    docs = _load(spark, sf, "documents")
    probs = unigram_seed_probs(
        docs, text_col="text", seed_size=100, max_piece_len=4
    ).select(
        "piece", F.round("lp", 8).cast("decimal(18,10)").alias("lp")
    )
    occ = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    enc = unigram_viterbi_encode(
        occ.select("w").distinct(), probs,
        max_piece_len=4, max_word_chars=16,
    )
    return (
        occ.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_pieces")).cast("bigint").alias(
                "n_pieces"
            ),
            F.sum(F.when(F.col("is_unk"), F.col("n")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_unk_words"),
            F.round(
                F.sum(F.col("n") * F.col("n_pieces"))
                / F.sum("n").cast("double"),
                6,
            ).alias("fertility"),
        )
    )


def _sql_unigram_fertility(max_len: int = 16, max_piece: int = 4) -> str:
    """The oracle twin of q_unigram_fertility: the Viterbi DP unrolled as
    one generated CTE per prefix length (best (lp, n, pieces) state per
    word, pruned by the same total order — prefix dominance makes the
    stepwise argmax exact), over the same quantized-decimal model.

    Tie-parity scope (r12 ADVICE): the lex-least tie-break here orders
    chr(31)-JOINED piece strings, while the Python _viterbi orders piece
    TUPLES — these diverge only when a piece contains a codepoint below
    0x1F (control chars survive the whitespace-split tokenizer). Tied
    states share lp AND n_pieces by construction, and ONLY n_pieces
    reaches the hashed output, so engine parity of this oracle is
    airtight regardless; the piece SEQUENCE itself is parity-guaranteed
    only for control-char-free pieces and is never surfaced."""
    steps = []
    sep = "chr(31)"
    for i in range(1, max_len + 1):
        cands = []
        for j in range(max(0, i - max_piece), i):
            src = "s0" if j == 0 else f"s{j}"
            cands.append(
                f"SELECT p.w, p.lp + m.lp AS lp, p.n + 1 AS n,"
                f" CASE WHEN p.pieces = '' THEN m.piece"
                f" ELSE p.pieces || {sep} || m.piece END AS pieces"
                f" FROM {src} p JOIN model m"
                f" ON m.piece = substr(p.w, {j + 1}, {i - j})"
                f" WHERE len(p.w) >= {i}"
            )
        union = " UNION ALL ".join(cands)
        steps.append(
            f"s{i} AS MATERIALIZED (SELECT w, lp, n, pieces FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY w"
            f" ORDER BY lp DESC, n ASC, pieces ASC) AS rn"
            f" FROM ({union})) WHERE rn = 1)"
        )
    terms = " UNION ALL ".join(
        f"SELECT w, n FROM s{i} WHERE len(w) = {i}"
        for i in range(1, max_len + 1)
    )
    return rf"""
WITH tok AS (
    SELECT doc_id,
           unnest({_sql_tokens()}) AS w
    FROM documents
), occ AS MATERIALIZED (
    SELECT doc_id, w, count(*) AS n FROM tok WHERE len(w) > 0 GROUP BY 1, 2
), words AS MATERIALIZED (
    SELECT w, sum(n) AS wc FROM occ GROUP BY w
), subs AS (
    SELECT unnest(flatten([[substr(w, s, e - s + 1)
                            for e in range(s, least(len(w), s + {max_piece - 1}) + 1)]
                           for s in range(1, len(w) + 1)])) AS piece,
           wc
    FROM words
), counts AS (
    SELECT piece, sum(wc) AS cnt FROM subs GROUP BY piece
), sel AS (
    SELECT piece, cnt FROM counts WHERE len(piece) = 1
    UNION ALL
    SELECT piece, cnt FROM (
        SELECT piece, cnt FROM counts WHERE len(piece) > 1
        ORDER BY cnt DESC, piece ASC LIMIT 100
    )
), model AS MATERIALIZED (
    SELECT piece, round(ln(cnt / t), 8)::DECIMAL(18,10) AS lp
    FROM sel CROSS JOIN (SELECT sum(cnt) AS t FROM sel)
), s0 AS MATERIALIZED (
    SELECT w, 0::DECIMAL(28,10) AS lp, 0 AS n, '' AS pieces
    FROM words WHERE len(w) <= {max_len}
), {", ".join(steps)}, term AS (
    {terms}
), enc AS (
    SELECT w, n AS n_pieces, false AS unk FROM term
    UNION ALL
    SELECT w, 1, true FROM words
    WHERE len(w) > {max_len} OR w NOT IN (SELECT w FROM term)
)
SELECT o.doc_id,
       sum(o.n)::BIGINT AS n_words,
       sum(o.n * e.n_pieces)::BIGINT AS n_pieces,
       sum(CASE WHEN e.unk THEN o.n ELSE 0 END)::BIGINT AS n_unk_words,
       round(sum(o.n * e.n_pieces) / sum(o.n), 6) AS fertility
FROM occ o JOIN enc e USING (w)
GROUP BY o.doc_id
"""


def q_tokenizer_fertility(spark, sf):
    """Tokenizer fertility by language — BPE tokens per word, the standard
    multilingual tokenizer-quality diagnostic (a language the merge table
    under-serves shows fertility near codepoints-per-word): `bpe_encode`
    joined back to the corpus languages, integer sums per language, one
    fixed closing division. The per-doc encode frame is tiny relative to
    the corpus (one row per doc), so the lang join is a cheap equi-join
    and the final agg is bounded by language count."""
    docs = _load(spark, sf, "documents")
    enc = q_bpe_encode(spark, sf)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum("n_tokens").cast("double")
                / F.sum("n_words").cast("double"),
                6,
            ).alias("fertility"),
        )
    )


def _sql_tokenizer_fertility(bpe_ctes: str) -> str:
    """Per-language fertility (tokens per word) of the BPE chain
    ``bpe_ctes`` (``_sql_bpe_ctes`` or ``_sql_bpe_bytes_ctes``)."""
    return f"""
WITH {bpe_ctes},
enc AS (
  SELECT doc_id,
         count(*) AS nw,
         CAST(sum(n_tok) AS BIGINT) AS nt
  FROM words JOIN v USING (word)
  GROUP BY doc_id
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS n_words,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       round(CAST(sum(nt) AS DOUBLE) / CAST(sum(nw) AS DOUBLE), 6) AS fertility
FROM enc JOIN documents USING (doc_id)
GROUP BY lang
"""


def q_multimodal_ahash_dup(spark, sf):
    """Image near-dup via perceptual average-hash, with a REAL decode in the
    path: synthesized spec-compliant PPM payloads (pixel bytes = md5 of the
    image group id, dims from the group id — every 7 consecutive doc_ids
    share an image) → pure-numpy PPM decode → 8×8 aHash → group docs by
    fingerprint. rep_id = min doc_id per fingerprint, the image analog of
    the exact-dedup keeper. The oracle replays the md5→pixels→gray→
    downsample→mean→bit-pack chain in closed form — all integer math."""
    import hashlib

    import numpy as np
    from proxima_platform_spark.functions.multimodal import encode_ppm, image_ahash
    from pyspark.sql import Window

    docs = _load(spark, sf, "documents")

    def encode(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                gid = int(row.doc_id) // 7
                w = 4 + gid % 5
                h = 3 + gid % 4
                n = w * h * 3
                dg = hashlib.md5(str(gid).encode()).digest()
                pix = bytes(dg[i % 16] for i in range(n))
                img = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3)
                rows.append({"doc_id": row.doc_id, "payload": encode_ppm(img)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    media = docs.select("doc_id").mapInPandas(encode, "doc_id long, payload binary")
    ah = image_ahash(media)
    w = Window.partitionBy("ahash")
    return ah.select(
        "doc_id", "ahash", F.min("doc_id").over(w).alias("rep_id")
    )


# aHash oracle: pixel byte i of a group's image is md5-digest byte i%16;
# gray(y,x) averages the 3 channel bytes at base = y*w*3 + x*3; the 8x8
# nearest-neighbor downsample picks src_y = y*h//8, src_x = x*w//8; bits are
# MSB-first per row byte. Flat i in [0,64): y = i//8, x = i%8.
_AHASH_BYTE = (
    "('0x' || substr(hx, ((((((i//8) * h) // 8) * w * 3 + (((i%8) * w) // 8) * 3 + {ch}) % 16) * 2 + 1), 2))::BIGINT"
)

SQL_MULTIMODAL_AHASH_DUP = f"""
WITH d AS (
    SELECT doc_id, doc_id // 7 AS gid,
           4 + (doc_id // 7) % 5 AS w,
           3 + (doc_id // 7) % 4 AS h,
           md5((doc_id // 7)::VARCHAR) AS hx
    FROM documents
), sel AS (
    SELECT doc_id,
           [({_AHASH_BYTE.format(ch=0)}
           + {_AHASH_BYTE.format(ch=1)}
           + {_AHASH_BYTE.format(ch=2)}) // 3
            for i in range(0, 64)] AS g
    FROM d
), m AS (
    SELECT doc_id, g, list_sum(g)::BIGINT // 64 AS mean FROM sel
), bits AS (
    SELECT doc_id,
           [CASE WHEN g[i+1] > mean THEN 1 ELSE 0 END for i in range(0, 64)] AS b
    FROM m
), hx2 AS (
    SELECT doc_id,
           array_to_string(list_transform(range(0, 8), j ->
               printf('%02x',
                   (list_sum(list_transform(range(0, 8), x ->
                       b[j*8 + x + 1] * (2 ** (7 - x)))))::BIGINT)), '') AS ahash
    FROM bits
)
SELECT doc_id, ahash, min(doc_id) OVER (PARTITION BY ahash) AS rep_id FROM hx2
"""


def q_multimodal_phash_dup(spark, sf):
    """Image near-dup via DCT pHash (functions/multimodal.py::image_phash,
    VERDICT r06 #5), with a REAL decode in the path: every 7 consecutive
    doc_ids share a base image (pixel bytes = md5 of the group id mod
    101, dims from the group id); each group member applies a
    brightness/perturbation variant (global +v on every channel, plus a
    +10 bump on the first channel for odd v). pHash — 32×32 gray →
    exact int64 DCT (fixed-point basis) → 63 AC bits vs their median —
    pairs the variants at hamming ≤ 3 through the pigeonhole chunk join,
    while the variants flip aHash's sampled-pixel bits (the aHash-misses
    contract is pinned in tests/test_multimodal.py). Output: candidate
    pairs (id_a, id_b, hamming); the oracle replays synthesis, the DCT
    from the same 256 table integers, and a brute-force pair scan —
    cross-group hamming ≥ 20 in this fixture, so candidates == true
    pairs."""
    import hashlib

    import numpy as np
    from proxima_platform_spark.functions.multimodal import (
        encode_ppm,
        image_phash,
        phash_near_dup_pairs,
    )

    docs = _load(spark, sf, "documents")

    def encode(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                did = int(did)
                gid, v = did // 7, did % 7
                w = 16 + gid % 9
                h = 12 + gid % 7
                n = w * h * 3
                dg = np.frombuffer(
                    hashlib.md5(str(gid).encode()).digest(), dtype=np.uint8
                )
                # index the digest mod 13 (prime): mod 16 resonates with
                # the byte stride (w=16 groups become vertically uniform,
                # degenerate DCTs collide across groups at hamming <= 3)
                pix = dg[np.arange(n) % 13].astype(np.int64) % 101
                pix = pix + v
                pix[0] += 10 * (v % 2)
                img = pix.astype(np.uint8).reshape(h, w, 3)
                rows.append({"doc_id": did, "payload": encode_ppm(img)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    media = docs.select("doc_id").mapInPandas(
        encode, "doc_id long, payload binary"
    )
    return phash_near_dup_pairs(image_phash(media), hamming_threshold=3)


def _sql_phash_dct_literal() -> str:
    """The 8×32 fixed-point DCT basis as a flat 256-int SQL literal —
    generated from multimodal.phash_dct_table() so both engines share the
    exact integers."""
    from proxima_platform_spark.functions.multimodal import phash_dct_table

    return "[" + ", ".join(str(int(x)) for x in phash_dct_table().flatten()) + "]"


# pixel byte k of the synthesized stream: md5 hex byte (k mod 16) mod 101,
# plus the variant brightness v, plus the k==0 bump for odd v
_PHASH_GRAY = (
    "((('0x' || substr(hx, ((i0) % 13) * 2 + 1, 2))::BIGINT % 101)"
    " + (('0x' || substr(hx, ((i0 + 1) % 13) * 2 + 1, 2))::BIGINT % 101)"
    " + (('0x' || substr(hx, ((i0 + 2) % 13) * 2 + 1, 2))::BIGINT % 101)"
    " + 3 * v + CASE WHEN i0 = 0 AND v % 2 = 1 THEN 10 ELSE 0 END) // 3"
)

SQL_MULTIMODAL_PHASH_DUP = f"""
WITH d AS (
    SELECT doc_id,
           doc_id % 7 AS v,
           16 + (doc_id // 7) % 9 AS w,
           12 + (doc_id // 7) % 7 AS h,
           md5((doc_id // 7)::VARCHAR) AS hx
    FROM documents
), tt AS (
    SELECT {_sql_phash_dct_literal()} AS T
), g AS (
    -- G flat row-major 32x32: entry (x,y) samples gray(row (x*h)//32,
    -- col (y*w)//32); i0 = (row*w + col)*3 is the pixel's byte offset
    SELECT doc_id,
           [({_PHASH_GRAY.replace('i0', '((((i//32) * h) // 32) * w + (((i%32) * w) // 32)) * 3')})
            for i in range(0, 1024)] AS G
    FROM d
), p AS (
    -- P = T x G (8x32), flat u*32+y
    SELECT doc_id,
           [list_sum([T[(i//32)*32 + x + 1] * G[x*32 + (i%32) + 1]
                      for x in range(0, 32)])
            for i in range(0, 256)] AS P
    FROM g, tt
), s AS (
    -- S = P x T' (8x8), flat u*8+vv; drop DC, median = sorted[32] of 63
    SELECT doc_id,
           [list_sum([P[(j//8)*32 + y + 1] * T[(j%8)*32 + y + 1]
                      for y in range(0, 32)])
            for j in range(0, 64)][2:64] AS ac
    FROM p, tt
), ph AS (
    SELECT doc_id,
           list_sum([CASE WHEN ac[i+1] > (list_sort(ac)[32])
                          THEN (1::BIGINT << (62 - i)) ELSE 0 END
                     for i in range(0, 63)])::BIGINT AS phv
    FROM s
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.phv, b.phv)) AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phv, b.phv)) <= 3
"""


def q_multimodal_audio_dup(spark, sf):
    """Audio near-dup via perceptual fingerprint, with a REAL decode in the
    path: every 9 consecutive doc_ids share a synthesized waveform (sample
    count and PCM values closed-form in the group id), packed as
    spec-compliant RIFF/WAVE, decoded by wav_fingerprint (chunk walk +
    64-window |sample|-sum bits — functions/multimodal.py), then grouped by
    fingerprint with the min-doc_id keeper — the audio analog of
    multimodal_ahash_dup. Sample counts are multiples of 64 so the window
    boundaries are equal-width and the oracle's window sums mirror the
    operator's index-range windows exactly."""
    import numpy as np
    from proxima_platform_spark.functions.multimodal import encode_wav, wav_fingerprint
    from pyspark.sql import Window

    docs = _load(spark, sf, "documents")

    def synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                gid = int(did) // 9
                n = 128 + (gid % 4) * 64
                i = np.arange(n, dtype=np.int64)
                samples = ((gid + 1) * 2654435761 * (i + 1)) % 65536 - 32768
                rows.append({"doc_id": did, "payload": encode_wav(samples)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    media = docs.select("doc_id").mapInPandas(synth, "doc_id long, payload binary")
    fp = wav_fingerprint(media, n_windows=64)
    w = Window.partitionBy("afp")
    return fp.select("doc_id", "afp", F.min("doc_id").over(w).alias("rep_id"))


SQL_MULTIMODAL_AUDIO_DUP = """
WITH d AS (
    SELECT doc_id, doc_id // 9 AS gid,
           128 + (doc_id // 9) % 4 * 64 AS n
    FROM documents
), s AS (
    SELECT doc_id, n, n // 64 AS wlen,
           [abs((((gid + 1) * 2654435761 * (i + 1)) % 65536) - 32768)
            for i in range(0, n)] AS a
    FROM d
), win AS (
    SELECT doc_id,
           [list_sum(a[k*wlen + 1 : (k+1)*wlen])::BIGINT for k in range(0, 64)] AS s64
    FROM s
), m AS (
    SELECT doc_id, s64, list_sum(s64)::BIGINT // 64 AS mean FROM win
), bits AS (
    SELECT doc_id,
           [CASE WHEN s64[k+1] > mean THEN 1 ELSE 0 END for k in range(0, 64)] AS b
    FROM m
), hx AS (
    SELECT doc_id,
           array_to_string(list_transform(range(0, 8), j ->
               printf('%02x',
                   (list_sum(list_transform(range(0, 8), x ->
                       b[j*8 + x + 1] * (2 ** (7 - x)))))::BIGINT)), '') AS afp
    FROM bits
)
SELECT doc_id, afp, min(doc_id) OVER (PARTITION BY afp) AS rep_id FROM hx
"""


def q_multimodal_video_frames(spark, sf):
    """Video near-dup plumbing with a REAL decode: every 9 consecutive
    doc_ids share a synthesized multi-frame YUV4MPEG2 (C444) clip whose luma
    plane is closed-form in (group id, frame, pixel index), parsed by
    decode_y4m (header tokens, FRAME markers, planar reads), then each
    frame's Y plane is perceptual-hashed (functions/multimodal.py:
    video_frame_ahash). Frame-level near-dup across clips = equi-group on
    the frame hash. 16×8 frames make the 8×8 downsample pick columns 2x —
    mirrored exactly by the oracle's index arithmetic."""
    import numpy as np
    from proxima_platform_spark.functions.multimodal import (
        encode_y4m,
        video_frame_ahash,
    )

    docs = _load(spark, sf, "documents")
    w, h = 16, 8

    def synth(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                gid = int(row.doc_id) // 9
                nf = 2 + gid % 3
                idx = np.arange(h * w, dtype=np.int64)
                frames = np.empty((nf, h, w, 3), dtype=np.uint8)
                for f in range(nf):
                    y = ((gid + 1) * (f * 1315423911 + idx)) % 256
                    frames[f, :, :, 0] = y.reshape(h, w).astype(np.uint8)
                    frames[f, :, :, 1] = 128
                    frames[f, :, :, 2] = 128
                rows.append({"doc_id": row.doc_id, "payload": encode_y4m(frames)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    media = docs.select("doc_id").mapInPandas(synth, "doc_id long, payload binary")
    return video_frame_ahash(media)


SQL_MULTIMODAL_VIDEO_FRAMES = """
WITH d AS (
    SELECT doc_id, doc_id // 9 AS gid,
           2 + (doc_id // 9) % 3 AS nf
    FROM documents
), fr AS (
    SELECT doc_id, gid, unnest(range(0, nf)) AS f FROM d
), sel AS (
    SELECT doc_id, f::INT AS frame_id,
           [((gid + 1) * (f * 1315423911 + ((i // 8) * 16 + (i % 8) * 2))) % 256
            for i in range(0, 64)] AS g
    FROM fr
), m AS (
    SELECT doc_id, frame_id, g, list_sum(g)::BIGINT // 64 AS mean FROM sel
), bits AS (
    SELECT doc_id, frame_id,
           [CASE WHEN g[i+1] > mean THEN 1 ELSE 0 END for i in range(0, 64)] AS b
    FROM m
)
SELECT doc_id, frame_id,
       array_to_string(list_transform(range(0, 8), j ->
           printf('%02x',
               (list_sum(list_transform(range(0, 8), x ->
                   b[j*8 + x + 1] * (2 ** (7 - x)))))::BIGINT)), '') AS fhash
FROM bits
"""


def q_hypertable_rollup(spark, sf):
    """Hypertable-style continuous-aggregate ladder (operators/rollup.py):
    raw events → hourly buckets → DAILY buckets re-aggregated from the
    hourly level (never from raw — the TimescaleDB shape; at 100 TB the
    daily pass reads a 24×-smaller input). The oracle aggregates the raw
    table directly at daily resolution, so the hash match proves the
    ladder's coarse-from-fine composition is exact (decimal sums, counts,
    min/max)."""
    from proxima_platform_spark.operators.rollup import hypertable_rollup

    ev = _events(spark, sf)
    ladder = hypertable_rollup(
        ev,
        ts_ms_col="ts_ms",
        keys=["event_type"],
        value_col="value",
        levels_ms=[3600_000, 86400_000],
    )
    daily = ladder[86400_000]
    return daily.select(
        F.col("bucket_ms").alias("day_ms"),
        F.col("event_type"),
        F.col("cnt"),
        F.col("total_dec").cast("double").alias("total"),
        F.round(F.col("vmin"), 6).alias("vmin"),
        F.round(F.col("vmax"), 6).alias("vmax"),
    )


SQL_HYPERTABLE_ROLLUP = """
SELECT (epoch_ms(ts) // 86400000) * 86400000 AS day_ms,
       event_type,
       count(*) AS cnt,
       sum(value::DECIMAL(18,2))::DOUBLE AS total,
       round(min(value), 6) AS vmin,
       round(max(value), 6) AS vmax
FROM events
GROUP BY 1, 2
"""


def q_rollup_histogram(spark, sf):
    """Mergeable histogram sketch on the rollup ladder
    (operators/rollup.py: histogram_rollup): fixed value bins
    [0,100,200,300,400) + edge bins counted hourly, DAILY level merged
    from the hourly sketches by exact element-wise sum. Output is one row
    per (day, event_type, bin) — the oracle histograms the raw events at
    daily resolution directly, so the hash match proves sketch merges are
    exact (the property probabilistic quantile sketches can't offer an
    oracle for)."""
    from proxima_platform_spark.operators.rollup import histogram_rollup

    ev = _events(spark, sf)
    ladder = histogram_rollup(
        ev,
        ts_ms_col="ts_ms",
        keys=["event_type"],
        value_col="value",
        levels_ms=[3600_000, 86400_000],
        boundaries=[0.0, 100.0, 200.0, 300.0, 400.0],
    )
    daily = ladder[86400_000]
    return daily.select(
        F.col("bucket_ms").alias("day_ms"),
        "event_type",
        F.posexplode("hist").alias("bin_id", "bin_cnt"),
    )


SQL_ROLLUP_HISTOGRAM = f"""
WITH {_sql_daily_bins()}, bins AS (
    SELECT DISTINCT day_ms, event_type FROM binned
), grid AS (
    SELECT day_ms, event_type, unnest(range(0, 6)) AS bin_id FROM bins
)
SELECT g.day_ms, g.event_type, g.bin_id::INT AS bin_id,
       coalesce(c.cnt, 0) AS bin_cnt
FROM grid g
LEFT JOIN (
    SELECT day_ms, event_type, bin_id, count(*) AS cnt
    FROM binned GROUP BY 1, 2, 3
) c USING (day_ms, event_type, bin_id)
"""


def q_range_join_ship_week(spark, sf):
    """Range (interval-overlap) join without equality keys: lineitems
    shipped within 7 days of each order's date — per-month pair counts and
    quantity. Naive Spark plans a BroadcastNestedLoopJoin for this theta
    predicate; operators/range_join.py bins the time axis (7-day bins),
    explodes each interval into its ≤2 bins, equi-joins on the bin id, and
    re-checks the exact predicate — plan-asserted no BNLJ/cartesian. The
    oracle runs the naive theta join directly (DuckDB IEJoin handles it at
    oracle scale)."""
    from proxima_platform_spark.operators.range_join import range_join_binned

    orders = _load(spark, sf, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").alias("ivl_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("ivl_end"),
    )
    # aggregate pushdown BELOW the range join: the requested output is an
    # algebraic aggregate of the pairs, so collapse the point side to one
    # row per ship-date first (|days| rows, not |lineitems|). The range
    # join then produces |orders|×7 candidate rows instead of the full
    # ~quarter-billion (interval × co-resident points) pair set — the
    # difference between 1.4 s and 140 s at sf0.1, and between feasible
    # and not at 100 TB. The pair-level operator stays available for
    # callers that need the pairs themselves.
    li_daily = (
        _load(spark, sf, "lineitem")
        .groupBy("l_shipdate")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__qty_dec"),
        )
    )
    pairs = range_join_binned(
        orders,
        li_daily,
        start_col="ivl_start",
        end_col="ivl_end",
        point_col="l_shipdate",
        bin_seconds=7 * 86400,
    )
    return pairs.groupBy(
        F.year("ivl_start").alias("o_year"), F.month("ivl_start").alias("o_month")
    ).agg(
        F.sum("__cnt").alias("n_pairs"),
        F.sum("__qty_dec").cast("double").alias("qty"),
    )


SQL_RANGE_JOIN_SHIP_WEEK = """
SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
       count(*) AS n_pairs,
       sum(l_quantity::DECIMAL(18,2))::DOUBLE AS qty
FROM orders o
JOIN lineitem l
  ON l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
GROUP BY 1, 2
"""


def q_funnel_steps(spark, sf):
    """Ordered 3-step conversion funnel (view → click → purchase) per user:
    earliest view, earliest click STRICTLY AFTER it, earliest purchase
    strictly after that (functions/timeseries.py::funnel). Generalizes the
    reference's per-key ordered-state reductions (direct/core
    reduceValueStateByKey) to the multi-step conversion shape: one filtered
    min-aggregate per step, every shuffle keyed on user_id so the exchange
    is reused across the chain — never a per-user sort of raw events."""
    from proxima_platform_spark.functions.timeseries import funnel

    ev = _events(spark, sf)
    return funnel(
        ev,
        ["view", "click", "purchase"],
        user_col="user_id",
        type_col="event_type",
        ts_col="ts_ms",
    ).select("user_id", "t1", "t2", "t3")


SQL_FUNNEL_STEPS = """
WITH s1 AS (
    SELECT user_id, min(epoch_ms(ts)) AS t1
    FROM events WHERE event_type = 'view' GROUP BY 1
), s2 AS (
    SELECT e.user_id, min(epoch_ms(e.ts)) AS t2
    FROM events e JOIN s1 USING (user_id)
    WHERE e.event_type = 'click' AND epoch_ms(e.ts) > s1.t1
    GROUP BY 1
), s3 AS (
    SELECT e.user_id, min(epoch_ms(e.ts)) AS t3
    FROM events e JOIN s2 USING (user_id)
    WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > s2.t2
    GROUP BY 1
)
SELECT s1.user_id, s1.t1, s2.t2, s3.t3
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def q_cohort_retention(spark, sf):
    """Weekly cohort-retention triangle: cohort = the user's first-activity
    week (epoch-anchored 604800000-ms buckets, timezone-free), cell =
    distinct cohort users active that week
    (functions/timeseries.py::cohort_retention). Distinct counting is the
    exact two-phase dedup-then-count — re-aggregable and skew-safe at
    100 TB, never a per-group in-memory set."""
    from proxima_platform_spark.functions.timeseries import cohort_retention

    ev = _events(spark, sf)
    return cohort_retention(
        ev, user_col="user_id", ts_ms_col="ts_ms", bucket_ms=604_800_000
    )


SQL_COHORT_RETENTION = """
WITH activity AS (
    SELECT user_id, (epoch_ms(ts) // 604800000) * 604800000 AS bucket_ms
    FROM events
), cohorts AS (
    SELECT user_id, min(bucket_ms) AS cohort_ms FROM activity GROUP BY 1
)
SELECT cohort_ms, bucket_ms, count(*) AS users
FROM (SELECT DISTINCT a.user_id, c.cohort_ms, a.bucket_ms
      FROM activity a JOIN cohorts c USING (user_id))
GROUP BY 1, 2
"""


def q_gapfill_locf(spark, sf):
    """Hypertable gap-fill + last-observation-carried-forward: per-user
    6-hour purchase-revenue buckets densified to a gapless grid between each
    user's first and last active bucket, empty buckets carrying the most
    recent observation forward (functions/timeseries.py::gapfill_locf — the
    TimescaleDB time_bucket_gapfill+locf shape). The grid is generated
    executor-side with sequence()/explode from a per-key (min,max)
    aggregate; LOCF is last(ignorenulls) over the BUCKETED frame, never a
    sort of raw events."""
    from proxima_platform_spark.functions.timeseries import gapfill_locf

    step = 21_600_000
    ev = _events(spark, sf).where(F.col("event_type") == "purchase")
    pts = ev.groupBy(
        "user_id",
        F.expr(f"(ts_ms DIV {step}) * {step}").alias("bucket_ms"),
    ).agg(_dsum(F.col("value"), 2).alias("value"))
    return gapfill_locf(
        pts,
        key_col="user_id",
        bucket_ms_col="bucket_ms",
        value_col="value",
        step_ms=step,
    )


SQL_GAPFILL_LOCF = """
WITH pts AS (
    SELECT user_id, (epoch_ms(ts) // 21600000) * 21600000 AS bucket_ms,
           sum(value::DECIMAL(18,2))::DOUBLE AS v
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), bounds AS (
    SELECT user_id, min(bucket_ms) AS lo, max(bucket_ms) AS hi FROM pts GROUP BY 1
), grid AS (
    SELECT user_id, unnest(range(lo, hi + 21600000, 21600000)) AS bucket_ms
    FROM bounds
)
SELECT g.user_id, g.bucket_ms,
       last_value(p.v IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_ms
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM grid g LEFT JOIN pts p USING (user_id, bucket_ms)
"""


def q_rollup_distinct(spark, sf):
    """Distinct-users rollup ladder (functions/timeseries.py::
    distinct_ladder): daily unique actives computed hour→day from the
    DEDUPED (hour, user) pairs of the finer level — exact distinct is not
    bucket-mergeable, but coarsening an already-deduped pair frame reads
    |distinct pairs|, not |events|, at 100 TB. The mergeable-sketch variant
    (hll_ladder: hour sketches hll_union_agg'd to days) is property-tested
    against this exact ladder in tests/test_timeseries.py."""
    from proxima_platform_spark.functions.timeseries import distinct_ladder

    ev = _events(spark, sf)
    ladder = distinct_ladder(
        ev, ts_ms_col="ts_ms", member_col="user_id",
        levels_ms=[3_600_000, 86_400_000],
    )
    return ladder[86_400_000].select(
        F.col("bucket_ms").alias("day_ms"), "uniques"
    )


SQL_ROLLUP_DISTINCT = """
SELECT (epoch_ms(ts) // 86400000) * 86400000 AS day_ms,
       count(DISTINCT user_id) AS uniques
FROM events
GROUP BY 1
"""


def q_bloom_decontaminate(spark, sf):
    """Runtime-filter decontamination: exact 4-gram semi-join against the
    eval set with a pure-DataFrame Bloom filter in front
    (functions/sketch.py::bloom_semi_join — k×xxhash64 bit positions,
    bit_or-combined words, 1-row broadcast map probe, then exact confirm).
    At 100 TB the corpus-side exploded-gram shuffle carries only bitset
    survivors (~|eval| + ε of the corpus) instead of every gram; the result
    is still EXACT (Bloom admits no false negatives, the confirm join
    removes false positives). The oracle is the plain semi-join — the hash
    match certifies the pre-filter changed nothing."""
    from proxima_platform_spark.functions.dedup import shingles_from_tokens, tokens
    from proxima_platform_spark.functions.sketch import bloom_semi_join

    docs = _load(spark, sf, "documents")
    # tokens projected first — the inline ngram_shingles form re-tokenizes
    # per emitted shingle under Generate (no CSE): measured 5.4 s → 0.7 s
    # for this explode at sf0.1
    grams = docs.select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("__toks"), 4))
        ).alias("g"),
    )
    eval_grams = grams.where(F.col("doc_id") < 5).select("g")
    corpus_grams = grams.where(F.col("doc_id") >= 5)
    hits = bloom_semi_join(corpus_grams, eval_grams, "g")
    return hits.select("doc_id").distinct()


SQL_BLOOM_DECONTAMINATE = rf"""
{_sql_distinct_gram_ctes(4)}
SELECT DISTINCT c.doc_id
FROM grams c
JOIN (SELECT DISTINCT g FROM grams WHERE doc_id < 5) e ON c.g = e.g
WHERE c.doc_id >= 5
"""


def q_kmeans_cluster(spark, sf):
    """Distributed k-means (functions/cluster.py::kmeans_lloyd): 2 Lloyd
    iterations, k=8, deterministic seed (vec_id < k). Per iteration the
    centroids are a k-row broadcast (assignment = crossJoin + per-vector
    row_number argmin, expression-only distances) and the update is a
    posexplode + decimal-sum shuffle — order-independent centroid means,
    which is what lets the DuckDB oracle replay the ENTIRE iteration chain
    hash-identically (assignment, both centroid updates, final argmin)."""
    from proxima_platform_spark.functions.cluster import kmeans_lloyd

    emb = _load(spark, sf, "embeddings")
    out = kmeans_lloyd(emb, k=8, iters=2)
    return out.select(
        "vec_id", F.col("cid").alias("cluster"), F.round("d2", 6).alias("d2")
    )


_SQL_KMEANS_CTES = """v AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c0 AS (
    SELECT vec_id::BIGINT AS cid, v AS c FROM v WHERE vec_id < 8
), a1 AS (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM (SELECT v.vec_id, c0.cid,
                 list_dot_product(v.v, v.v) - 2 * list_dot_product(v.v, c0.c)
                 + list_dot_product(c0.c, c0.c) AS d2
          FROM v, c0)
), c1 AS (
    SELECT cid, list(cv ORDER BY pos) AS c
    FROM (SELECT cid, pos, (sum(x::DECIMAL(28,10))::DOUBLE) / count(*) AS cv
          FROM (SELECT a1.cid, unnest(range(0, len(v.v))) AS pos,
                       unnest(v.v) AS x
                FROM a1 JOIN v USING (vec_id) WHERE a1.rn = 1)
          GROUP BY 1, 2)
    GROUP BY 1
), a2 AS (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM (SELECT v.vec_id, c1.cid,
                 list_dot_product(v.v, v.v) - 2 * list_dot_product(v.v, c1.c)
                 + list_dot_product(c1.c, c1.c) AS d2
          FROM v, c1)
), c2 AS (
    SELECT cid, list(cv ORDER BY pos) AS c
    FROM (SELECT cid, pos, (sum(x::DECIMAL(28,10))::DOUBLE) / count(*) AS cv
          FROM (SELECT a2.cid, unnest(range(0, len(v.v))) AS pos,
                       unnest(v.v) AS x
                FROM a2 JOIN v USING (vec_id) WHERE a2.rn = 1)
          GROUP BY 1, 2)
    GROUP BY 1
), asg AS (
    SELECT vec_id, cid, d2
    FROM (SELECT v.vec_id, c2.cid,
                 list_dot_product(v.v, v.v) - 2 * list_dot_product(v.v, c2.c)
                 + list_dot_product(c2.c, c2.c) AS d2,
                 row_number() OVER (PARTITION BY v.vec_id
                                    ORDER BY list_dot_product(v.v, v.v)
                                          - 2 * list_dot_product(v.v, c2.c)
                                          + list_dot_product(c2.c, c2.c), c2.cid) AS rn
          FROM v, c2)
    WHERE rn = 1
)"""

SQL_KMEANS_CLUSTER = f"""
WITH {_SQL_KMEANS_CTES}
SELECT vec_id, cid AS cluster, round(d2, 6) AS d2 FROM asg
"""


def q_source_quota_sample(spark, sf):
    """Per-source document quota (functions/sampling.py::quota_sample): cap
    every source at 15 docs (fixture: 25/source at sf0.01 — the cut is
    exercised, not vacuous), winners = smallest md5 sampling keys — the
    source-mixing primitive (no crawl may dominate the mixture). One hash
    exchange on source + per-stratum rank; a pre-quota hash_sample filter
    composes in front when a stratum's raw bulk would stress a sort buffer
    (same winners — both order by the same key)."""
    from proxima_platform_spark.functions.sampling import quota_sample

    docs = _load(spark, sf, "documents")
    return quota_sample(
        docs, key=F.col("doc_id"), strata=F.col("source"), quota=15,
        salt="quota-v1",
    ).select("doc_id", "source")


SQL_SOURCE_QUOTA_SAMPLE = f"""
SELECT doc_id, source FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {_sql_md5_int("'quota-v1' || CAST(doc_id AS VARCHAR)")}
                        % 1000000, doc_id) AS rn
    FROM documents
)
WHERE rn <= 15
"""


def q_domain_cap_sample(spark, sf):
    """URL canonicalization + per-registered-domain cap (functions/
    urls.py, VERDICT r06 #6 — the CommonCrawl curation shape): URLs are
    synthesized closed-form from doc_id with realistic messiness
    (case-mixed hosts, www./news. subdomains, default and non-default
    ports, utm_*/gclid tracking params, fragments, .co.uk second-level
    suffixes), canonicalized by the pure-expression stack, reduced to
    their registered domain, and capped at 20 docs/domain by the
    deterministic md5 quota rank. 7 domains × ~71 docs at sf0.01 → the
    cap bites (140 rows). The oracle replays synthesis, every
    canonicalization regexp, the suffix rule, and the rank verbatim."""
    from proxima_platform_spark.functions.urls import domain_cap_sample

    docs = _load(spark, sf, "documents")
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    rawhost = F.concat(
        F.when(d % 3 == 0, F.lit(""))
        .when(d % 3 == 1, F.lit("www."))
        .otherwise(F.lit("news.")),
        F.lit("site"),
        (d % 7).cast("string"),
        F.when((d % 7) % 2 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
    )
    url = F.concat(
        scheme,
        F.lit("://"),
        F.when(d % 4 == 0, F.upper(rawhost)).otherwise(rawhost),
        F.when(
            d % 5 == 0,
            F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        ).otherwise(F.lit("")),
        F.concat(F.lit("/p/"), (d % 23).cast("string")),
        F.when(
            d % 4 == 0,
            F.concat(F.lit("?utm_source=feed&id="), (d % 13).cast("string")),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("?id="), (d % 13).cast("string"),
                F.lit("&utm_campaign=x"),
            ),
        )
        .when(d % 4 == 2, F.lit("?gclid=abc"))
        .otherwise(F.lit("")),
        F.when(
            d % 6 == 0, F.concat(F.lit("#sec"), (d % 3).cast("string"))
        ).otherwise(F.lit("")),
    )
    withu = docs.select("doc_id", url.alias("url"))
    return domain_cap_sample(
        withu, url_col="url", key=F.col("doc_id"), cap=20,
        salt="domain-cap-v1",
    ).select("doc_id", "domain", "url_canon")


SQL_DOMAIN_CAP_SAMPLE = rf"""
WITH parts AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
    (CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'news.' END)
      || 'site' || (doc_id % 7)::VARCHAR
      || (CASE WHEN (doc_id % 7) % 2 = 0 THEN '.co.uk' ELSE '.com' END)
      AS rawhost,
    CASE WHEN doc_id % 5 = 0
         THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
         ELSE '' END AS port,
    '/p/' || (doc_id % 23)::VARCHAR AS path,
    CASE doc_id % 4
      WHEN 0 THEN '?utm_source=feed&id=' || (doc_id % 13)::VARCHAR
      WHEN 1 THEN '?id=' || (doc_id % 13)::VARCHAR || '&utm_campaign=x'
      WHEN 2 THEN '?gclid=abc' ELSE '' END AS query,
    CASE WHEN doc_id % 6 = 0 THEN '#sec' || (doc_id % 3)::VARCHAR
         ELSE '' END AS frag
  FROM documents
), urls AS (
  SELECT doc_id,
    scheme || '://'
      || (CASE WHEN doc_id % 4 = 0 THEN upper(rawhost) ELSE rawhost END)
      || port || path || query || frag AS url
  FROM parts
), split1 AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
  FROM urls
), split2 AS (
  SELECT doc_id, scheme,
    regexp_replace(
      CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
           WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
           ELSE auth END,
      '^www\.', '') AS host,
    CASE WHEN regexp_extract(rest, '^([^?]*)', 1) = '' THEN '/'
         ELSE regexp_extract(rest, '^([^?]*)', 1) END AS path,
    array_to_string(
      list_filter(string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        p -> p <> '' AND NOT regexp_matches(p,
          '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)=')),
      '&') AS canon_q
  FROM split1
), finals AS (
  SELECT doc_id, host,
    scheme || '://' || host || path
      || (CASE WHEN canon_q <> '' THEN '?' || canon_q ELSE '' END)
      AS url_canon
  FROM split2
), dom AS (
  SELECT doc_id, url_canon,
    CASE
      WHEN len(string_split(host, '.')) <= 2 THEN host
      WHEN (string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1])
           IN ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au',
               'co.jp','ne.jp','or.jp','co.in','co.nz','com.br','com.cn',
               'com.mx')
        THEN string_split(host, '.')[-3] || '.'
             || string_split(host, '.')[-2] || '.'
             || string_split(host, '.')[-1]
      ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
    END AS domain
  FROM finals
)
SELECT doc_id, domain, url_canon FROM (
  SELECT doc_id, domain, url_canon,
    row_number() OVER (PARTITION BY domain ORDER BY
      {_sql_md5_int("'domain-cap-v1' || CAST(doc_id AS VARCHAR)")}
        % 1000000, doc_id) AS rn
  FROM dom
) WHERE rn <= 20
"""


def q_weighted_sample(spark, sf):
    """Quality-weighted Bernoulli sampling (functions/sampling.py::
    weighted_sample): per-row keep probability = min(1, n_chars/800) —
    longer documents kept at higher rates (the importance-resampling shape:
    rate column can be any quality/model score). Pure codegen filter, zero
    shuffle, deterministic by md5 key."""
    from proxima_platform_spark.functions.sampling import weighted_sample

    docs = _load(spark, sf, "documents")
    return weighted_sample(
        docs,
        key=F.col("doc_id"),
        rate=F.col("n_chars") / F.lit(800.0),
        salt="weighted-v1",
    ).select("doc_id", "source", "n_chars")


SQL_WEIGHTED_SAMPLE = f"""
SELECT doc_id, source, n_chars
FROM documents
WHERE {_sql_md5_int("'weighted-v1' || CAST(doc_id AS VARCHAR)")}
      % 1000000
    < least(greatest(n_chars / 800.0, 0.0), 1.0) * 1000000.0
"""


def q_user_paths(spark, sf):
    """Top-20 user journey paths: each user's full event-type sequence in
    (ts, event_id) order joined into one path string, counted across users
    — the path-mining shape (Sankey/flow reports). One shuffle to the user
    key; the per-user sequence is an in-group ``array_sort`` of
    (ts, event_id, type) structs — deterministic total order, no window
    sort of the raw table — then a count agg on the path hash. Top-k is
    TakeOrdered."""
    ev = _events(spark, sf)
    paths = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            # tstamp (µs-exact) not ts_ms: a same-user pair
                            # inside one millisecond would order by event_id
                            # here but by µs in the oracle
                            F.struct("tstamp", "event_id", "event_type")
                        )
                    ),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("users"))
    )
    return paths.orderBy(F.desc("users"), "path").limit(20)


SQL_USER_PATHS = """
SELECT path, count(*) AS users
FROM (
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM events GROUP BY user_id
)
GROUP BY path
ORDER BY users DESC, path
LIMIT 20
"""


def q_event_transitions(spark, sf):
    """Event-type transition matrix (first-order Markov counts): for every
    consecutive event pair per user (ts, event_id order), count (from, to)
    occurrences. lead() over the per-user ordered window — one shuffle on
    user_id, then a map-side-combined count agg on the 25-cell matrix."""
    from pyspark.sql import Window

    ev = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("tstamp", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_EVENT_TRANSITIONS = """
SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
FROM (
    SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
    FROM events
)
WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


def q_session_ids(spark, sf):
    """Gap-based session ID assignment (complement of session_window_stats,
    which only returns aggregates): per user, a new session starts when the
    gap since the previous event exceeds 30 min; the session id is the
    running count of session starts — lag + conditional cumsum over one
    user-keyed window (both functions share partitioning and order, so
    the plan is ONE exchange + ONE sort feeding two pipelined Window
    operators — verified: 1 Exchange in the executed plan). Emits
    (event_id, user_id, session_seq) — the enrichment form downstream
    joins consume."""
    from pyspark.sql import Window

    ev = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("tstamp", "event_id")
    gap_ms = 30 * 60 * 1000
    is_start = (
        F.col("ts_ms") - F.lag("ts_ms").over(w) > F.lit(gap_ms)
    ).cast("long")
    run = Window.partitionBy("user_id").orderBy("tstamp", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.sum(F.coalesce(is_start, F.lit(0))).over(run) + 1).alias("session_seq"),
    )


SQL_SESSION_IDS = """
SELECT event_id, user_id,
       (1 + sum(is_start) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
FROM (
    SELECT event_id, user_id, ts,
           coalesce((epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) > 1800000)::BIGINT,
               0) AS is_start
    FROM events
)
"""


def q_scd2_intervals(spark, sf):
    """Changelog → slowly-changing-dimension (SCD2) validity intervals: for
    each (user, event_type) cell, each value version becomes a row valid
    from its stamp until the next version's stamp (open-ended for the
    latest) — the stream-table-duality read that turns the platform's
    changelog into a point-in-time joinable dimension (pair it with
    operators/asof.py for the enrich side). One lead() over the per-cell
    ordered window — single shuffle on the cell key."""
    from pyspark.sql import Window

    ev = _events(spark, sf)
    w = Window.partitionBy("user_id", "event_type").orderBy("tstamp", "event_id")
    return ev.select(
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.col("ts_ms").alias("valid_from_ms"),
        F.lead("ts_ms").over(w).alias("valid_to_ms"),
    )


SQL_SCD2_INTERVALS = """
SELECT user_id, event_type, round(value, 2) AS value,
       epoch_ms(ts) AS valid_from_ms,
       lead(epoch_ms(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
       ) AS valid_to_ms
FROM events
"""


def q_rollup_quantile(spark, sf):
    """Read-time quantiles from the mergeable histogram ladder
    (operators/rollup.py::histogram_quantile): p50/p90 per (day,
    event_type) estimated from the DAY-level bin counts — which were merged
    up from hourly bins, so this certifies the full sketch→merge→estimate
    path. The estimate is a pure CASE-chain interpolation over cumulative
    bin sums; the oracle replays the identical arithmetic from a raw
    day-level histogram, so the hash match proves both the ladder merge and
    the estimator."""
    from proxima_platform_spark.operators.rollup import (
        histogram_quantile,
        histogram_rollup,
    )

    B = [0.0, 100.0, 200.0, 300.0, 400.0]
    ev = _events(spark, sf)
    day = histogram_rollup(
        ev, ts_ms_col="ts_ms", keys=["event_type"], value_col="value",
        levels_ms=[3_600_000, 86_400_000], boundaries=B,
    )[86_400_000]
    return day.select(
        F.col("bucket_ms").alias("day_ms"),
        "event_type",
        F.round(histogram_quantile(B, 0.5), 6).alias("p50"),
        F.round(histogram_quantile(B, 0.9), 6).alias("p90"),
    )


SQL_ROLLUP_QUANTILE = f"""
WITH {_sql_daily_bins()}, c AS (
    SELECT day_ms, event_type, bin_id, cnt,
           sum(cnt) OVER (PARTITION BY day_ms, event_type
                          ORDER BY bin_id) AS cum,
           sum(cnt) OVER (PARTITION BY day_ms, event_type) AS total
    FROM (SELECT day_ms, event_type, bin_id, count(*) AS cnt
          FROM binned GROUP BY 1, 2, 3)
), est AS (
    SELECT day_ms, event_type, qq,
           CASE WHEN bin_id = 0 THEN 0.0
                WHEN bin_id = 5 THEN 400.0
                ELSE (bin_id - 1) * 100.0
                     + (qq * total - (cum - cnt)) / cnt * 100.0
           END AS v,
           row_number() OVER (PARTITION BY day_ms, event_type, qq
                              ORDER BY bin_id) AS rn
    FROM c CROSS JOIN (SELECT unnest([0.5, 0.9]) AS qq)
    WHERE qq * total <= cum
)
SELECT day_ms, event_type,
       round(max(CASE WHEN qq = 0.5 THEN v END), 6) AS p50,
       round(max(CASE WHEN qq = 0.9 THEN v END), 6) AS p90
FROM est
WHERE rn = 1
GROUP BY 1, 2
"""


def q_incremental_dedup(spark, sf):
    """Incremental corpus ingestion dedup: a NEW batch of documents
    (doc_id >= 250) survives only if its content fingerprint (a) does not
    already exist in the REFERENCE corpus (doc_id < 250) — md5 anti-join,
    reference side is a fingerprint-only projection — and (b) is the batch's
    first occurrence (min-struct winner per fingerprint, the skew-safe
    map-side-combining form, not a window). This is the nightly-crawl
    append shape: cost scales with the BATCH, the existing corpus
    contributes one pruned column scan, and both joins hash on the
    fingerprint. The key is the 8-token head fingerprint (boilerplate-head
    dedup; also the granularity at which this fixture actually collides —
    full-text md5 would be vacuously green here, 500/500 unique)."""
    docs = _load(spark, sf, "documents")
    ntext = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    head = F.array_join(F.slice(F.split(ntext, " ", -1), 1, 8), " ")
    keyed = docs.select("doc_id", F.md5(head).alias("fp"))
    existing = keyed.where(F.col("doc_id") < 250).select("fp").distinct()
    batch = keyed.where(F.col("doc_id") >= 250)
    fresh = batch.join(existing, "fp", "left_anti")
    winners = fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return winners.select("doc_id", "fp")


SQL_INCREMENTAL_DEDUP = rf"""
WITH keyed AS (
    SELECT doc_id,
           md5(array_to_string(
               ({_sql_tokens()})[1:8],
               ' ')) AS fp
    FROM documents
), fresh AS (
    SELECT doc_id, fp FROM keyed
    WHERE doc_id >= 250
      AND fp NOT IN (SELECT fp FROM keyed WHERE doc_id < 250)
)
SELECT min(doc_id) AS doc_id, fp
FROM fresh
GROUP BY fp
"""


def q_compressed_ingest(spark, sf):
    """WARC/WET-shaped compressed-corpus ingestion with a REAL codec in the
    path: per-record gzip blobs (functions/compress.py, stdlib zlib wbits=31)
    are decompressed in a narrow Arrow stage and the recovered text feeds
    the standard fingerprint + token stats. The oracle computes the same
    stats on the original table — lossless round-trip through the actual
    gzip wire format is what the hash match certifies (the compressed bytes
    themselves never need to be engine-portable, both directions run
    Spark-side)."""
    from proxima_platform_spark.functions.compress import (
        compress_text,
        decompress_text,
    )

    docs = _load(spark, sf, "documents")
    blobs = compress_text(docs, codec="gzip")
    recovered = decompress_text(blobs, codec="gzip")
    return recovered.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.length("text").alias("n_chars"),
        token_count(F.col("text")).alias("n_tokens"),
    )


SQL_COMPRESSED_INGEST = r"""
SELECT doc_id, md5(text) AS fp, length(text) AS n_chars,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))
       END AS n_tokens
FROM documents
"""


def q_exact_decontaminate(spark, sf):
    """Exact-substring benchmark decontamination, complementing the n-gram
    semi-join (`decontaminate`): flag corpus docs whose normalized text
    contains any eval doc's 3-token prefix verbatim. The needle set is
    O(eval suite) and broadcast; the per-row multi-needle scan is the
    distributed analog of an Aho–Corasick pass over the corpus (the
    BroadcastNestedLoopJoin is deliberate and bounded by |needles|)."""
    docs = _load(spark, sf, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    docs_n = docs.select("doc_id", norm.alias("ntext"))
    needles = (
        docs_n.where(F.col("doc_id") < 5)
        .select(
            F.array_join(
                F.slice(F.split(F.col("ntext"), " ", -1), 1, 3), " "
            ).alias("needle")
        )
        .distinct()
    )
    return (
        docs_n.where(F.col("doc_id") >= 5)
        .join(F.broadcast(needles), F.expr("instr(ntext, needle) > 0"), "left_semi")
        .select("doc_id")
    )


SQL_EXACT_DECONTAMINATE = rf"""
WITH n AS (
    SELECT doc_id,
           {_sql_normalize()} AS ntext
    FROM documents
), needles AS (
    SELECT DISTINCT array_to_string((string_split(ntext, ' '))[1:3], ' ') AS needle
    FROM n WHERE doc_id < 5
)
SELECT doc_id FROM n
WHERE doc_id >= 5
  AND EXISTS (SELECT 1 FROM needles e WHERE contains(n.ntext, e.needle))
"""


def q_dedup_best_of_cluster(spark, sf):
    """Cluster-representative selection: collapse MinHash candidate pairs
    into transitive groups (functions/graph.py) and keep the best-quality
    member per group (quality tie → lowest doc_id) — the corpus cleaner's
    'keep the best copy' policy, vs dedup_groups' min-id keeper. One
    broadcast-friendly join of the (small) grouped-doc set against per-doc
    quality, then a single hash aggregation."""
    from proxima_platform_spark.functions.text import quality_lang_arrow

    docs = _load(spark, sf, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", n=3, num_hashes=8, bands=4)
    groups = dedup_groups(pairs, "id_a", "id_b")
    # quality via the Arrow fast path (bit-identical to quality_score —
    # TestQualityLangParity); one batch pass replaces the per-doc
    # replace/regex scan stack
    scored = quality_lang_arrow(docs).select(
        F.col("doc_id").alias("id"), "quality"
    )
    j = groups.join(scored, "id")
    return j.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by(F.col("id"), F.struct(F.col("quality"), (-F.col("id")).alias("neg"))).alias("keeper_id"),
        F.max("quality").alias("best_quality"),
    )


def _sql_dedup_best_of_cluster() -> str:
    return f"""
{_sql_minhash_components()}, comp AS (
    SELECT node AS id, min(label) AS group_id FROM reach GROUP BY node
), {_sql_scored_ctes()}
SELECT group_id, n_members, keeper_id, best_quality FROM (
    SELECT c.group_id, c.id AS keeper_id,
           count(*) OVER (PARTITION BY c.group_id) AS n_members,
           max(s.quality) OVER (PARTITION BY c.group_id) AS best_quality,
           row_number() OVER (
               PARTITION BY c.group_id ORDER BY s.quality DESC, c.id) AS rn
    FROM comp c JOIN scored s ON s.doc_id = c.id
) x WHERE rn = 1
"""


def q_dedup_paragraphs(spark, sf):
    """Paragraph-level exact dedup with reassembly (CCNet/RefinedWeb shape;
    functions/dedup.py: dedup_paragraphs). The fixture's documents carry no
    newlines, so paragraph structure is synthesized deterministically first:
    10-token non-overlapping segments joined by '\\n' (same expression
    convention as chunk_documents). Non-vacuous on the fixture: the small
    vocabulary makes short tail segments collide across documents, so real
    duplicates are dropped and reassembled texts actually shrink."""
    docs = _load(spark, sf, "documents")
    trimmed = F.trim(F.lower(F.col("text")))
    toks = F.split(trimmed, r"\s+", -1)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(10))
    text2 = F.array_join(
        F.transform(starts, lambda s: F.array_join(F.slice(toks, s + 1, 10), " ")),
        "\n",
    )
    seg = docs.select("doc_id", text2.alias("text"))
    return dedup_paragraphs(seg)


SQL_DEDUP_PARAGRAPHS = rf"""
{_sql_paragraph_ctes("k")}, kept AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(para, chr(10) ORDER BY pos) AS text_dedup
    FROM k WHERE rn = 1 GROUP BY doc_id
), np AS (
    SELECT tk.doc_id, coalesce(c.n_para, 0) AS n_para
    FROM tk LEFT JOIN (
        SELECT doc_id, count(*) AS n_para FROM nz GROUP BY doc_id
    ) c USING (doc_id)
)
SELECT np.doc_id, np.n_para, coalesce(kept.n_kept, 0) AS n_kept,
       coalesce(kept.text_dedup, '') AS text_dedup
FROM np LEFT JOIN kept ON np.doc_id = kept.doc_id
"""


def q_dedup_paragraphs_near(spark, sf):
    """Paragraph-granularity NEAR-dup candidates: the same synthesized
    10-token paragraphs as dedup_paragraphs, each treated as a unit document
    through the MinHash+LSH banding machinery (functions/dedup.py) — the
    CCNet-style complement to exact paragraph dedup. Paragraph unit ids are
    doc_id*64 + position (paras/doc < 64 by corpus contract), so pairs map
    straight back to (document, paragraph) coordinates."""
    docs = _load(spark, sf, "documents")
    trimmed = F.trim(F.lower(F.col("text")))
    toks = F.split(trimmed, r"\s+", -1)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(10))
    seg = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(starts, lambda s: F.array_join(F.slice(toks, s + 1, 10), " "))
        ).alias("pos", "para"),
    )
    paras = seg.select(
        (F.col("doc_id") * 64 + F.col("pos")).alias("para_id"),
        F.col("para").alias("text"),
    )
    return minhash_candidate_pairs(paras, "para_id", "text", n=3, num_hashes=8, bands=4)


def _sql_dedup_paragraphs_near() -> str:
    return rf"""
WITH {_sql_doc_tokens("p0", "toks")}, p1 AS (
    SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 10)) AS s
    FROM p0
), paras AS (
    SELECT doc_id * 64 + s // 10 AS doc_id,
           array_to_string(toks[s+1:s+10], ' ') AS text
    FROM p1
), {_sql_minhash_ctes("paras")}
{_sql_banded_pairs()}
"""


def q_multimodal_audio(spark, sf):
    """Audio pipeline with a REAL decode: deterministic PCM samples are
    synthesized from each document's codepoints, packed into spec-compliant
    RIFF/WAVE payloads (encode_wav), then wav_features walks the RIFF chunk
    list, validates PCM mono 16-bit, and emits exact int64 per-window
    |sample| sums (functions/multimodal.py). Sample synthesis is closed-form
    over (doc_id, text) so the DuckDB oracle recomputes every window sum
    without touching the binary — the same contract as the PPM image
    features."""
    import numpy as np
    from proxima_platform_spark.functions.multimodal import encode_wav, wav_features

    docs = _load(spark, sf, "documents")

    def synth(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                n = 80 + (int(row.doc_id) % 5) * 40
                t = row.text or ""
                i = np.arange(n, dtype=np.int64)
                if t:
                    cps = np.asarray([ord(c) % 256 for c in t], dtype=np.int64)
                    cp = cps[i % len(cps)]
                else:
                    cp = np.zeros(n, dtype=np.int64)
                samples = (cp * 131 + i * 7) % 65536 - 32768
                rows.append({"doc_id": row.doc_id, "payload": encode_wav(samples)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    media = docs.select("doc_id", "text").mapInPandas(
        synth, "doc_id long, payload binary"
    )
    return wav_features(media, window_samples=40)


SQL_MULTIMODAL_AUDIO = """
WITH base AS (
    SELECT doc_id, text, length(text) AS l,
           (80 + (doc_id % 5) * 40) AS n
    FROM documents
), idx AS (
    SELECT doc_id, text, l, unnest(range(0, n)) AS i FROM base
), samp AS (
    SELECT doc_id, (i // 40)::INT AS window_id,
           abs((((CASE WHEN l > 0
                       THEN ascii(substr(text, (i % l)::INT + 1, 1)) % 256
                       ELSE 0 END) * 131 + i * 7) % 65536) - 32768) AS a
    FROM idx
)
SELECT doc_id, window_id, count(*)::INT AS n_samples, sum(a)::BIGINT AS sum_abs
FROM samp GROUP BY 1, 2
"""


def q_pretraining_prep(spark, sf):
    """End-to-end pretraining preparation composing the r03 operators the
    way a batch-prep job chains them: quality + repetition gate → 16-token
    chunking (stride 12) → deterministic packing of chunks into 256-token
    bins over 8 hash shards → per-(shard, bin) manifest. The gate's
    repetition counts ride the Arrow stage with the text carried through
    (no re-join); chunk keys are doc_id·64 + chunk_id (chunks/doc < 64 by
    corpus contract). Output: one row per packed bin — the unit a trainer
    would stream. Shared logic: functions/prep.py (pretraining_prep), which
    also powers the streaming foreachBatch form (pretraining_prep_stream)."""
    docs = _load(spark, sf, "documents")
    return pretraining_prep(
        docs, quality_min=0.5, dup_word_max=0.8, chunk_tokens=16, stride=12,
        budget=256, n_shards=8,
    )


def _sql_pretraining_prep() -> str:
    return rf"""
WITH {_sql_scored_ctes()},
{_sql_doc_tokens("rep", "toks")}, gated AS (
    SELECT s.doc_id, s.text
    FROM scored s JOIN rep r USING (doc_id)
    WHERE s.quality >= 0.5
      AND round(CASE WHEN len(r.toks) > 0
                THEN 1.0 - len(list_distinct(r.toks))::DOUBLE / len(r.toks)
                ELSE 0.0 END, 6) <= 0.8
), {_sql_doc_tokens("t", "toks", "gated")}, ch AS (
    SELECT doc_id, st // 12 AS chunk_id, len(toks[st+1 : st+16]) AS n_tokens
    FROM (SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 12)) AS st FROM t)
), units AS (
    SELECT doc_id * 64 + chunk_id AS unit_id, n_tokens, (doc_id * 64 + chunk_id) % 8 AS shard
    FROM ch
), packed AS (
    SELECT shard,
           (coalesce(sum(n_tokens) OVER (
                PARTITION BY shard ORDER BY unit_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT // 256)::BIGINT AS bin,
           n_tokens
    FROM units
)
SELECT shard, bin, count(*) AS n_chunks, sum(n_tokens)::BIGINT AS total_tokens
FROM packed GROUP BY shard, bin
"""


# ===========================================================================
# r04b extensions: frequency sketch, smoothing/anomaly, attribution,
# feature matrices, quantile binning
# ===========================================================================


def q_heavy_hitters(spark, sf):
    """Exact frequent-items with a Count-Min runtime filter in front
    (functions/sketch.py::cms_frequent_items): every (user, event_type)
    pair occurring ≥ 18 times, exact counts. The CMS build shuffles only
    depth×width counter CELLS (map-side combined, O(8K) regardless of key
    cardinality), collapses to a one-row broadcastable map, and the exact
    groupBy then only carries rows whose estimate clears the threshold —
    CMS never undercounts, so no true hitter is lost, and the exact count
    drops collision impostors. At 100 TB this is the frequent-items analog
    of the reference's StorageFilter pre-selection (prune cheap, confirm
    exact); the oracle is the plain GROUP BY/HAVING — the hash match
    certifies the sketch prefilter changed nothing."""
    from proxima_platform_spark.functions.sketch import cms_frequent_items

    ev = _events(spark, sf)
    return cms_frequent_items(
        ev.select("user_id", "event_type"), ["user_id", "event_type"], 18
    )


SQL_HEAVY_HITTERS = """
SELECT user_id, event_type, count(*) AS n
FROM events
GROUP BY 1, 2
HAVING count(*) >= 18
"""


def q_ewma_value(spark, sf):
    """Per-user exponentially-weighted moving average of event values
    (functions/timeseries.py::ewma) — the decayed analog of the reference's
    integratePerKey running sum (direct/core ReduceValueStateByKey with
    geometric α=1/2 decay, truncated to the trailing 16 observations).
    Exact integer dot product over a bounded window frame; the single
    double division at the end is IEEE-identical in both engines, so the
    oracle hash covers the smoothing math itself. Plan: Exchange(user) →
    Sort → Window with O(16) state per row — no Python, no driver state."""
    from proxima_platform_spark.functions.timeseries import ewma

    ev = _events(spark, sf)
    return ewma(ev, ["user_id"], ["tstamp", "event_id"], "value").select(
        "event_id", "user_id", "ewma"
    )


SQL_EWMA_VALUE = """
WITH w AS (
  SELECT event_id, user_id,
         list(CAST(round(value * 100, 0) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
  FROM events)
SELECT event_id, user_id,
       round(CAST(list_sum(list_transform(l, (x, i) -> x * ((1::BIGINT) << (i - 1)))) AS DOUBLE)
             / (CAST(((1::BIGINT) << len(l)) - 1 AS DOUBLE) * 100.0), 6) AS ewma
FROM w
"""


def q_anomaly_zscore(spark, sf):
    """Rolling anomaly detection (functions/timeseries.py::rolling_zscore):
    per-user trailing-50 z-score, flag |z| ≥ 2.5 after a 10-observation
    warmup. Σx/Σx² accumulate exactly in DECIMAL (order-independent — no
    float summation noise), so μ/σ/z are a fixed sequence of
    correctly-rounded double ops identical across engines. One
    Exchange(user) → Sort → Window pass computes both running sums —
    the streaming-telemetry outlier primitive at any scale."""
    from proxima_platform_spark.functions.timeseries import rolling_zscore

    ev = _events(spark, sf)
    rz = rolling_zscore(ev, ["user_id"], ["tstamp", "event_id"], "value")
    return rz.where(F.abs(F.col("zscore")) >= 2.5).select(
        "event_id", "user_id", "value", "zscore"
    )


SQL_ANOMALY_ZSCORE = """
WITH w AS (
  SELECT event_id, user_id, value,
         CAST(sum(CAST(value AS DECIMAL(18,2))) OVER win AS DOUBLE) AS sum_x,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
                       AS DECIMAL(38,4))) OVER win AS DOUBLE) AS sum_x2,
         CAST(count(*) OVER win AS DOUBLE) AS n
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
), z AS (
  SELECT event_id, user_id, value,
         CASE WHEN n >= 10 AND (sum_x2/n - (sum_x/n)*(sum_x/n)) > 0
              THEN round((CAST(value AS DOUBLE) - sum_x/n)
                         / sqrt(sum_x2/n - (sum_x/n)*(sum_x/n)), 6) END AS zscore
  FROM w)
SELECT event_id, user_id, value, zscore
FROM z WHERE abs(zscore) >= 2.5
"""


def q_attribution(spark, sf):
    """Last-touch marketing attribution: each purchase is credited to the
    user's most recent PRECEDING click/view (none → '(direct)'), then
    purchases and decimal-exact revenue roll up per credited channel.
    last(..., ignorenulls) over the per-user ordered window — one shuffle
    on user_id shared with the sort; the credit assignment itself is O(1)
    per row (Spark's running `last` carries one value), never a per-row
    rescan. The attribution shape every event-analytics deployment runs;
    composes the reference's ordered-per-key guarantee (commit-log
    per-key ordering, direct/core) with a windowed carry-forward."""
    from pyspark.sql import Window

    ev = _events(spark, sf)
    w = (
        Window.partitionBy("user_id")
        .orderBy("tstamp", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    credited = F.last(
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("channel", F.coalesce(credited, F.lit("(direct)")))
        .where(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            _dsum(F.col("value"), 2).alias("revenue"),
        )
    )


SQL_ATTRIBUTION = """
WITH credited AS (
  SELECT coalesce(
           last(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           '(direct)') AS channel,
         event_type, value
  FROM events)
SELECT channel, count(*) AS n_purchases,
       sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS revenue
FROM credited WHERE event_type = 'purchase'
GROUP BY 1
"""


def q_feature_matrix(spark, sf):
    """Per-user feature vectorization: pivot event-type counts into a dense
    user × type matrix plus decimal-exact total spend — the feature-prep
    step in front of any per-entity model. Explicit pivot value list ⇒ a
    SINGLE shuffle with map-side partial aggregation (no extra
    distinct-values job, no second pass); at 100 TB the output is one row
    per entity, each column a conditional count — the same conditional
    aggregation Catalyst compiles for the SQL form."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = _events(spark, sf)
    pv = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )
    spend = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(_dsum(F.col("value"), 2).alias("total_spend"))
    )
    out = pv.join(spend, "user_id", "left").na.fill({"total_spend": 0.0})
    return out.select(
        "user_id",
        *[F.col(t).alias(f"n_{t}") for t in types],
        "total_spend",
    )


SQL_FEATURE_MATRIX = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS n_click,
       count(*) FILTER (event_type = 'error')    AS n_error,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup')   AS n_signup,
       count(*) FILTER (event_type = 'view')     AS n_view,
       coalesce(sum(CAST(value AS DECIMAL(18,2)))
                  FILTER (event_type = 'purchase')::DOUBLE, 0.0) AS total_spend
FROM events
GROUP BY 1
"""


def q_quantile_bins(spark, sf):
    """Equi-depth feature binning: assign every document an n_chars decile
    (ntile over a fully deterministic total order — (n_chars, doc_id)) and
    report per-decile population and range. ntile's bucket-size rule
    (remainder to the leading buckets) is engine-standardized, so the
    oracle hash pins the binning itself. Scale note: a global ntile is a
    range-partitioned sort (Spark samples boundaries, one exchange) —
    the plan a 1000-executor sort uses; for approximate cuts at extreme
    scale the histogram ladder (rollup_quantile) is the sketch path."""
    from pyspark.sql import Window

    docs = _load(spark, sf, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    binned = docs.select(
        "doc_id", "n_chars", F.ntile(10).over(w).alias("decile")
    )
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_QUANTILE_BINS = """
WITH b AS (
  SELECT doc_id, n_chars,
         ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
  FROM documents)
SELECT decile, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM b GROUP BY 1
"""


def q_ohlc_bars(spark, sf):
    """Time-series downsampling to OHLC bars: per (event_type, day) the
    open/high/low/close of `value`, open/close taken at the deterministic
    (ts, event_id) order extremes via min/max over a packed struct — ONE
    hash aggregation with map-side combine, no window sort of raw events
    (the struct min carries (ts, event_id, value) so the arg-min rides the
    agg). The hypertable downsampling primitive: at 100 TB each day×type
    cell reduces locally before the one shuffle, and the bars feed the
    rollup ladder (operators/rollup.py) unchanged. Values are fixed-decimal
    ⇒ cents-exact; open/close recovered from the struct's value field."""
    ev = _events(spark, sf)
    day = F.expr("ts_ms DIV 86400000")
    packed = F.struct(F.col("ts_ms"), F.col("event_id"), F.col("value"))
    return (
        ev.groupBy(F.col("event_type"), day.alias("day"))
        .agg(
            F.min(packed).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(packed).getField("value").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


SQL_OHLC_BARS = """
WITH o AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day, value,
         first_value(value) OVER (PARTITION BY event_type, epoch_ms(ts) // 86400000
                                  ORDER BY ts, event_id) AS open,
         last_value(value)  OVER (PARTITION BY event_type, epoch_ms(ts) // 86400000
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
  FROM events)
SELECT event_type, day,
       any_value(open) AS open, max(value) AS high, min(value) AS low,
       any_value(close) AS close, count(*) AS n_ticks
FROM o GROUP BY 1, 2
"""


def q_inverted_index(spark, sf):
    """Retrieval-prep inverted index: token → document-frequency, total
    term-frequency, and the sorted posting list (CSV string — arrays don't
    hash-compare portably). Tokens are projected into their own column
    BEFORE the explode (the Generate-CSE trap), then one groupBy(term)
    with map-side combine builds df/tf and the postings via
    sort_array(collect_set(...)). Scale shape: term keys are zipf-skewed —
    the df/tf counts two-phase cleanly (partial aggs absorb the skew), and
    the posting-list collect is bounded here by the corpus contract; a
    web-scale index would cap postings per term (slice after sort) or
    shard hot terms — noted in SCALE.md. The BM25/TF-IDF rankers
    (functions/ranking.py) consume exactly these statistics."""
    from proxima_platform_spark.functions.dedup import tokens

    docs = _load(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).where(F.length("term") >= 3)
    # df comes from the SAME collect_set the postings need — a separate
    # countDistinct would plan a second (term, doc_id) dedup aggregation
    # pair, shuffling the corpus-token stream twice (plan measured: 2
    # exchanges + 4 agg passes → 1 + 2)
    agg = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(F.collect_set("doc_id")).alias("__postings"),
    )
    return agg.select(
        "term",
        F.size("__postings").cast("long").alias("df"),
        "tf",
        F.concat_ws(",", "__postings").alias("postings_csv"),
    ).where(F.col("df") >= 5)


SQL_INVERTED_INDEX = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest({_sql_tokens()}) AS term
  FROM documents)
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf,
       list_aggr(list_sort(list_distinct(list(doc_id))), 'string_agg', ',') AS postings_csv
FROM toks WHERE length(term) >= 3
GROUP BY term HAVING count(DISTINCT doc_id) >= 5
"""


def q_pagerank_types(spark, sf):
    """PageRank over the event-type transition graph
    (functions/graph.py::pagerank_int): edges = first-order Markov
    transition counts (the event_transitions query), 3 iterations of the
    INTEGER-spec weighted PageRank — every rank a scaled int64, every
    division integer DIV, so the DuckDB oracle replays the exact spec
    CTE-by-CTE and the hash check certifies the propagation math itself.
    Each iteration is one equi-join (ranks ⋈ edges) + one summed
    groupBy(dst) — at graph scale both hash-partition on the same key
    every round; no driver state, no collect."""
    from pyspark.sql import Window

    from proxima_platform_spark.functions.graph import pagerank_int

    ev = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("tstamp", "event_id")
    edges = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("next_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    ranks = pagerank_int(edges, iterations=3)
    return ranks.select(F.col("node").alias("event_type"), "rank")


SQL_PAGERANK_TYPES = """
WITH edges AS (
  SELECT event_type AS src, next_type AS dst, count(*) AS weight
  FROM (SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events)
  WHERE next_type IS NOT NULL GROUP BY 1, 2
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION SELECT DISTINCT dst FROM edges
), ow AS (SELECT src, sum(weight) AS out_w FROM edges GROUP BY 1),
e AS (SELECT edges.*, ow.out_w FROM edges JOIN ow USING (src)),
r0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes),
r1 AS (
  SELECT n.node, ((3000000000::BIGINT // 20) + coalesce(s.in_sum, 0))::BIGINT AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum((17::BIGINT * r.rank * e.weight) // (20::BIGINT * e.out_w)) AS in_sum
    FROM e JOIN r0 r ON e.src = r.node GROUP BY 1) s ON n.node = s.node
), r2 AS (
  SELECT n.node, ((3000000000::BIGINT // 20) + coalesce(s.in_sum, 0))::BIGINT AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum((17::BIGINT * r.rank * e.weight) // (20::BIGINT * e.out_w)) AS in_sum
    FROM e JOIN r1 r ON e.src = r.node GROUP BY 1) s ON n.node = s.node
), r3 AS (
  SELECT n.node, ((3000000000::BIGINT // 20) + coalesce(s.in_sum, 0))::BIGINT AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum((17::BIGINT * r.rank * e.weight) // (20::BIGINT * e.out_w)) AS in_sum
    FROM e JOIN r2 r ON e.src = r.node GROUP BY 1) s ON n.node = s.node
)
SELECT node AS event_type, rank FROM r3
"""


def q_pit_enrich(spark, sf):
    """Point-in-time-correct feature join, SCD2-interval route: purchases
    enriched with the signup-profile version VALID AT the purchase instant
    (valid_from ≤ t < valid_to, open-ended latest) — the feature-store
    correctness primitive (no leakage from future versions). The dimension
    is built from the changelog exactly like scd2_intervals; the join is an
    EQUI-join on user_id with the interval predicate as a residual filter —
    a hash join, never a BNLJ, because per-key version counts are small
    (the SCD2 contract); a version-heavy dimension would switch to the
    binned range join (operators/range_join.py). Complements
    asof_join_enrich, which certifies the same semantics via the
    carry-forward window — two plans, one meaning."""
    from pyspark.sql import Window

    ev = _events(spark, sf)
    dim = (
        ev.where(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.round("value", 2).alias("profile_value"),
            F.col("ts_ms").alias("valid_from_ms"),
            F.lead("ts_ms").over(
                Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
            ).alias("valid_to_ms"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms"
    )
    j = purchases.join(dim, "user_id").where(
        (F.col("ts_ms") >= F.col("valid_from_ms"))
        & (F.col("valid_to_ms").isNull() | (F.col("ts_ms") < F.col("valid_to_ms")))
    )
    return j.select("event_id", "user_id", "profile_value")


SQL_PIT_ENRICH = """
WITH dim AS (
  SELECT user_id, round(value, 2) AS profile_value,
         epoch_ms(ts) AS valid_from_ms,
         lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
             AS valid_to_ms
  FROM events WHERE event_type = 'signup'
), p AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, dim.profile_value
FROM p JOIN dim USING (user_id)
WHERE p.ts_ms >= dim.valid_from_ms
  AND (dim.valid_to_ms IS NULL OR p.ts_ms < dim.valid_to_ms)
"""


def q_bpe_merge_candidates(spark, sf):
    """First BPE merge-rule induction step: count adjacent CHARACTER pair
    frequencies inside whitespace tokens across the corpus and emit the
    top-20 merge candidates (count desc, pair asc — fully deterministic).
    This is the inner loop of byte-pair-encoding vocabulary training; one
    round is the expensive part at corpus scale and it is pure
    shuffle-on-pair aggregation: tokens projected BEFORE the pair explode
    (Generate-CSE trap), pair cardinality is bounded (alphabet²) so the
    count agg is map-side combined into almost nothing, and the top-20 is
    a TakeOrdered — no global sort."""
    from proxima_platform_spark.functions.dedup import tokens

    docs = _load(spark, sf, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok")).where(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(20)
    )


SQL_BPE_MERGE_CANDIDATES = rf"""
WITH toks AS (
  SELECT unnest({_sql_tokens()}) AS tok
  FROM documents
), pairs AS (
  SELECT substr(tok, i, 2) AS pair
  FROM (SELECT tok, unnest(range(1, length(tok))) AS i FROM toks WHERE length(tok) >= 2)
)
SELECT pair, count(*) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT 20
"""


#: Learned BPE merge table (rank order), pinned from
#: ``functions.bpe.bpe_learn(documents, 16)`` at sf0.01 — pinning makes
#: the encode oracle a STATIC SQL string (oracle_sql() cannot read data),
#: while the learner itself is pinned against a Python-model property
#: suite in tests/test_bpe.py. Note the multi-codepoint merges
#: ('m','er'), ('p','ar'): rank-monotone — 'er'/'ar' are produced by the
#: earlier rules — so the table exercises the merged-token path.
BPE_MERGES_V1 = [
    (" ", "s"), ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("m", "er"), ("a", "t"), ("l", "u"), (" ", "c"), ("a", "s"),
    (" ", "b"), (" ", "v"), ("a", "r"), ("p", "ar"), (" ", "f"),
    (" ", "a"),
]


def q_bpe_encode(spark, sf):
    """BPE tokenization — APPLYING a learned merge table to the corpus
    (functions/bpe.py::bpe_encode_docs), the other half of
    `bpe_merge_candidates`' induction and the op that makes the
    token-budget paths (sequence_pack, chunk_documents) end-to-end real.
    Leftmost-greedy GPT-2 semantics as a pure string fold; cost is paid
    per DISTINCT word (Zipf vocabulary ≪ corpus), joined back and
    re-aggregated per document. The fp column is md5 of the
    position-ordered token stream, so the oracle hash match certifies
    every token's identity and order across both engines, not just the
    counts."""
    from proxima_platform_spark.functions.bpe import bpe_encode_docs

    docs = _load(spark, sf, "documents")
    return bpe_encode_docs(docs, BPE_MERGES_V1)


def _sql_bpe_merge_ctes(merges: list[tuple[str, str]], seed: str) -> str:
    """CTE chain ``words → vocab → <seed> → e1 … eN → v`` of
    functions/bpe.py ``bpe_encode_docs``: the pre-tokenizer's words, the
    distinct vocabulary, ``seed`` (CTEs ending in ``e0(word, enc)``, the
    word's initial symbols joined by chr(31)), one fold per merge of
    ``merges``, and each word's token count."""
    pattern = BPE_PATTERN.replace("'", "''")

    def step(a: str, b: str) -> str:
        aq, bq = a.replace("'", "''"), b.replace("'", "''")
        return (
            "list_reduce(string_split(enc, chr(31)), (acc, x) -> "
            f"CASE WHEN x = '{bq}' AND (acc = '{aq}' "
            f"OR ends_with(acc, chr(31) || '{aq}')) "
            f"THEN acc || '{bq}' ELSE acc || chr(31) || x END)"
        )

    levels = ",\n".join(
        f"e{i + 1} AS (SELECT word, {step(a, b)} AS enc FROM e{i})"
        for i, (a, b) in enumerate(merges)
    )
    return f"""words AS (
  SELECT doc_id, unnest(l) AS word, generate_subscripts(l, 1) AS pos
  FROM (SELECT doc_id, regexp_extract_all(text, '{pattern}') AS l FROM documents)
),
vocab AS (SELECT DISTINCT word FROM words),
{seed},
{levels},
v AS (
  SELECT word, enc, len(string_split(enc, chr(31))) AS n_tok FROM e{len(merges)}
)"""


def _sql_bpe_ctes() -> str:
    """The merge folds of ``BPE_MERGES_V1`` over characters (shared by
    `bpe_encode` and the composed `token_budget_pack`)."""
    return _sql_bpe_merge_ctes(BPE_MERGES_V1, """e0 AS (
  SELECT word,
         array_to_string(regexp_extract_all(word, '.'), chr(31)) AS enc
  FROM vocab
)""")


def _sql_bpe_encode() -> str:
    return f"""
WITH {_sql_bpe_ctes()}
SELECT doc_id,
       count(*) AS n_words,
       CAST(sum(length(word)) AS BIGINT) AS n_chars,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       md5(string_agg(enc, chr(31) ORDER BY pos)) AS fp
FROM words JOIN v USING (word)
GROUP BY doc_id
"""


def q_token_budget_pack(spark, sf):
    """End-to-end token-budget pipeline: BPE-tokenize the corpus with the
    learned merge table, then pack documents into 512-BPE-token training
    bins over 8 hash shards — `bpe_encode` composed with `sequence_pack`,
    the two halves of pretraining batch prep now feeding each other on
    REAL (merged-token) counts instead of whitespace proxies. Output is
    the per-(shard, bin) manifest (doc count + exact token payload) a
    batch assembler would consume. Plan: the encode's distinct-vocab
    join + one window cumsum per shard + one group agg — nothing beyond
    the two operators' own shuffles."""
    from proxima_platform_spark.functions.bpe import bpe_encode_docs
    from proxima_platform_spark.functions.sampling import sequence_pack

    docs = _load(spark, sf, "documents")
    enc = bpe_encode_docs(docs, BPE_MERGES_V1).select("doc_id", "n_tokens")
    packed = sequence_pack(
        enc, id_col="doc_id", token_count_col="n_tokens",
        budget=512, n_shards=8,
    )
    return packed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


def _sql_token_budget_pack() -> str:
    return f"""
WITH {_sql_bpe_ctes()},
enc AS (
  SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM words JOIN v USING (word)
  GROUP BY doc_id
),
packed AS (
  SELECT doc_id, doc_id % 8 AS shard, n_tokens,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY doc_id % 8 ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_start
  FROM enc
)
SELECT shard, (cum_start // 512)::BIGINT AS bin,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
FROM packed
GROUP BY 1, 2
"""


def q_topk_per_group(spark, sf):
    """Per-group top-k (the 'top spenders per event type' shape): exact
    decimal spend per (type, user), then row_number ≤ 3 inside each type
    with a deterministic tie-break (spend desc, user asc). Two shuffles —
    the agg and the per-group rank — and the rank window sorts only the
    ALREADY-AGGREGATED frame (one row per (type, user)), never raw events;
    with millions of groups this stays a partial-sort per group key, no
    global order."""
    from pyspark.sql import Window

    ev = _events(spark, sf)
    spend = ev.groupBy("event_type", "user_id").agg(
        _dsum(F.col("value"), 2).alias("spend")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("spend").desc(), F.col("user_id")
    )
    return (
        spend.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("event_type", "user_id", "spend", "rnk")
    )


SQL_TOPK_PER_GROUP = """
WITH spend AS (
  SELECT event_type, user_id,
         sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS spend
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, user_id, spend,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY spend DESC, user_id) AS rnk
  FROM spend)
SELECT event_type, user_id, spend, rnk
FROM ranked WHERE rnk <= 3
"""


def q_temperature_mix(spark, sf):
    """Temperature-based corpus mixing (functions/sampling.py::
    temperature_mix — the T5/mT5 α=1/2 recipe): languages are sampled
    ∝ √n, so `en` (218 docs at sf0.01) is down-weighted relative to its
    share and the tail languages keep a larger fraction — the standard
    multilingual rebalancing step. Rates are DERIVED from per-stratum
    counts with the exact-arithmetic recipe (6-dec √ weights, decimal Σw,
    fixed IEEE op sequence) and the draw is the md5 sample key, so the
    oracle replays the whole pipeline — counts → weights → rates →
    membership — and the hash match certifies the mixing math. Plan: tiny
    count agg + 1-row broadcast + broadcast rate join + ONE codegen
    filter; the corpus itself never shuffles."""
    from proxima_platform_spark.functions.sampling import temperature_mix

    docs = _load(spark, sf, "documents")
    out = temperature_mix(
        docs, key=F.col("doc_id"), strata_col="lang", target_total=250,
        salt="tmix-v1",
    )
    return out.select("doc_id", "lang")


SQL_TEMPERATURE_MIX = f"""
WITH c AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY 1),
w AS (SELECT lang, n_s, round(sqrt(n_s), 6) AS w_s FROM c),
t AS (SELECT CAST(sum(CAST(w_s AS DECIMAL(28,6))) AS DOUBLE) AS sum_w FROM w),
r AS (SELECT lang,
             round(least(1.0, (250.0 * w_s) / (sum_w * CAST(n_s AS DOUBLE))), 6)
                  * 1000000.0 AS thr
      FROM w, t)
SELECT doc_id, lang
FROM documents d JOIN r USING (lang)
WHERE {_sql_md5_int("'tmix-v1' || CAST(doc_id AS VARCHAR)")}
      % 1000000 < r.thr
"""


def q_zorder_layout(spark, sf):
    """Z-order (Morton) clustering key (functions/layout.py): interleave
    the low 16 bits of user_id and value-cents into one sort key — the
    Delta/Iceberg `OPTIMIZE ZORDER BY` layout primitive, as pure int64
    shift/mask codegen. Range-partitioning by this key bounds BOTH
    columns' min/max per file, which is what turns two-predicate scans
    into file-level skips at 100 TB (sorting by either column alone prunes
    only that column). The oracle computes the identical bit spec
    (zorder_sql_2d is generated from the same step table, so the two specs
    cannot drift) and the hash match certifies every interleaved bit.
    Output: per-event key plus the coarse z-range bucket a writer would
    range-partition on."""
    from proxima_platform_spark.functions.layout import morton_key_2d

    ev = _events(spark, sf)
    cents = F.round(F.col("value") * 100).cast("long")
    zkey = morton_key_2d(F.col("user_id"), cents)
    return ev.select(
        "event_id",
        zkey.alias("zkey"),
        F.shiftright(zkey, 24).alias("zbucket"),
    )


def _sql_zorder_layout() -> str:
    from proxima_platform_spark.functions.layout import zorder_sql_2d

    z = zorder_sql_2d("user_id", "CAST(round(value * 100, 0) AS BIGINT)")
    return f"""
SELECT event_id, {z} AS zkey, ({z} >> 24) AS zbucket
FROM events
"""


def q_hilbert_layout(spark, sf):
    """Hilbert-curve clustering key (functions/layout.py
    ::with_hilbert_key_2d): the locality-optimal companion to
    zorder_layout — consecutive keys are ADJACENT in the
    (user_id, value-cents) plane (no Morton seams), so contiguous key
    ranges tile compact squares and per-file min/max stays tight on both
    dimensions; it is the default clustering curve in Delta liquid
    clustering. Computed as a 4-state DFA over the 2-bit quadrant stream,
    one small Project per step (linear plan, codegen-fused, zero
    shuffles); the DFA transition table is ONE int64 literal derived at
    import from the xy2d transform group and the oracle replays the
    identical nibble lookups from the same constant, so the hash match
    certifies every output bit of every key. Output: per-event key plus
    the coarse bucket a range-partitioning writer would use."""
    from proxima_platform_spark.functions.layout import with_hilbert_key_2d

    ev = _events(spark, sf)
    cents = F.round(F.col("value") * 100).cast("long")
    keyed = with_hilbert_key_2d(
        ev.select("event_id", "user_id", cents.alias("__cents")),
        F.col("user_id"),
        F.col("__cents"),
    )
    return keyed.select(
        "event_id",
        "hkey",
        F.shiftright(F.col("hkey"), 24).alias("hbucket"),
    )


def _sql_hilbert_layout() -> str:
    from proxima_platform_spark.functions.layout import hilbert_sql_2d_select

    inner = hilbert_sql_2d_select(
        "events",
        ["event_id"],
        "user_id",
        "CAST(round(value * 100, 0) AS BIGINT)",
    )
    return f"""
SELECT event_id, hkey, (hkey >> 24) AS hbucket FROM ({inner})
"""


def q_mad_outliers(spark, sf):
    """Robust per-user outliers via Median Absolute Deviation
    (functions/timeseries.py::mad_outliers): |x − med| > 3·MAD with exact
    deterministic LOWER medians (rank-selected — no interpolation, no
    float accumulation), the robust complement to anomaly_zscore (a single
    500.0 spike inflates σ and hides itself from a z-test; it cannot move
    a median). Two rank-the-key passes + same-key joins — partitioning
    reused across all four stages. Output: the flagged rows."""
    from proxima_platform_spark.functions.timeseries import mad_outliers

    ev = _events(spark, sf)
    out = mad_outliers(
        ev.select("event_id", "user_id", "value"),
        ["user_id"], "value", ["event_id"], k=3.0,
    )
    return out.where(F.col("is_outlier")).select(
        "event_id", "user_id", "value", "med", "mad"
    )


SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT user_id, value AS med
  FROM (SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS cnt
        FROM events)
  WHERE rn = (cnt + 1) // 2
), dev AS (
  SELECT e.event_id, e.user_id, e.value, m.med, abs(e.value - m.med) AS d
  FROM events e JOIN med m USING (user_id)
), mad AS (
  SELECT user_id, d AS mad
  FROM (SELECT user_id, d, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY d, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS cnt
        FROM dev)
  WHERE rn = (cnt + 1) // 2
)
SELECT dev.event_id, dev.user_id, dev.value, dev.med, mad.mad
FROM dev JOIN mad USING (user_id)
WHERE mad.mad > 0 AND dev.d > 3.0 * mad.mad
"""


def q_retention_vacuum(spark, sf):
    """Storage retention vacuum (changelog.py::vacuum_changelog): prune the
    events changelog to the newest 2 versions per (key, attribute) cell
    while ALWAYS keeping each cell's newest row — the maintenance
    compaction a bulk family runs under a retention policy, with the
    invariant snapshot(vacuum(c)) == snapshot(c) pinned by test. One
    Exchange(cell) → Sort → row_number → codegen filter, the same
    partitioning `compact` uses. Output: the surviving version rows."""
    from proxima_platform_spark.changelog import vacuum_changelog

    clog = _events_changelog(spark, sf)
    kept = vacuum_changelog(clog, keep_versions=2)
    return kept.select(
        "key", "attribute", F.col("seq_id").alias("event_id"),
        _stamp_ms().alias("stamp_ms"),
    )


SQL_RETENTION_VACUUM = """
SELECT user_id::VARCHAR AS key, event_type AS attribute,
       event_id, epoch_us(ts) // 1000 AS stamp_ms
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id, event_type
    ORDER BY epoch_us(ts) DESC, event_id DESC) <= 2
"""


def q_drift_chi2(spark, sf):
    """Distribution-drift monitor (functions/timeseries.py::drift_chi2):
    per event type, Pearson χ² between the value histogram of the first
    half of the month (reference) and the second half (current), 10 fixed
    bins over [0, 500). χ² stays in +,−,×,÷ (log-free — PSI/KL would drag
    libm's last-ulp differences into the oracle) and the per-group Σ folds
    a SORTED term array, so both engines add in the same order. Two
    bounded count aggs (type×bin cells) — nothing but the first count pass
    scales with row count. The week-over-week telemetry health check."""
    from proxima_platform_spark.functions.timeseries import drift_chi2

    ev = _events(spark, sf)
    mid = 1705363200000  # 2024-01-16 00:00 UTC
    return drift_chi2(
        ev, ["event_type"], "value", F.col("ts_ms") >= mid,
        n_bins=10, lo=0.0, hi=500.0,
    )


SQL_DRIFT_CHI2 = """
WITH binned AS (
  SELECT event_type,
         least(9, greatest(0, floor(value / 50.0)::INT)) AS bin,
         (epoch_ms(ts) >= 1705363200000) AS cur
  FROM events
), counts AS (
  SELECT event_type, bin,
         sum(CASE WHEN cur THEN 1 ELSE 0 END) AS o,
         sum(CASE WHEN cur THEN 0 ELSE 1 END) AS r
  FROM binned GROUP BY 1, 2
), totals AS (
  SELECT event_type, sum(o) AS n_cur, sum(r) AS n_ref
  FROM counts GROUP BY 1
), terms AS (
  SELECT c.event_type, c.bin,
         CASE WHEN c.r > 0 THEN
           (CAST(c.o AS DOUBLE) - (CAST(t.n_cur AS DOUBLE) * CAST(c.r AS DOUBLE) / CAST(t.n_ref AS DOUBLE)))
           * (CAST(c.o AS DOUBLE) - (CAST(t.n_cur AS DOUBLE) * CAST(c.r AS DOUBLE) / CAST(t.n_ref AS DOUBLE)))
           / (CAST(t.n_cur AS DOUBLE) * CAST(c.r AS DOUBLE) / CAST(t.n_ref AS DOUBLE))
         END AS term,
         (c.o > 0 AND c.r = 0) AS extra
  FROM counts c JOIN totals t USING (event_type)
)
SELECT event_type,
       round(coalesce(list_reduce(list(term ORDER BY bin) FILTER (term IS NOT NULL),
                                  (a, b) -> a + b), 0.0), 6) AS chi2,
       CAST(sum(CASE WHEN extra THEN 1 ELSE 0 END) AS BIGINT) AS extra_bins
FROM terms GROUP BY 1
"""


def q_vocab_overlap(spark, sf):
    """Corpus diagnostics: pairwise vocabulary Jaccard between sources —
    the redundancy map that drives mixture decisions (near-identical
    vocabularies ⇒ candidate sources for dedup or down-weighting). Term
    sets are distinct (source, term) pairs (≥3 chars); the intersection is
    ONE equi-join on term (never source×source×corpus), sizes broadcast
    back, Jaccard is a single rounded double division. Zipf skew on hot
    terms is absorbed by the distinct-pair dedup before the join — the
    same two-phase trick the distinct ladder uses; a web-scale run would
    also drop stopword-grade terms (df cap) first."""
    from proxima_platform_spark.functions.dedup import tokens

    docs = _load(spark, sf, "documents")
    terms = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .where(F.length("term") >= 3)
        .distinct()
    )
    sizes = terms.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = terms.select(F.col("source").alias("s1"), "term")
    b = terms.select(F.col("source").alias("s2"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("s1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("source").alias("s2"), F.col("n").alias("n2"))
    return (
        inter.join(F.broadcast(sa), "s1")
        .join(F.broadcast(sb), "s2")
        .select(
            "s1",
            "s2",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


SQL_VOCAB_OVERLAP = rf"""
WITH terms AS (
  SELECT DISTINCT source,
         unnest({_sql_tokens()}) AS term
  FROM documents
), t AS (SELECT source, term FROM terms WHERE length(term) >= 3),
sizes AS (SELECT source, count(*) AS n FROM t GROUP BY 1),
inter AS (
  SELECT a.source AS s1, b.source AS s2, count(*) AS n_inter
  FROM t a JOIN t b USING (term)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT s1, s2, n_inter,
       round(CAST(n_inter AS DOUBLE)
             / CAST(sa.n + sb.n - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = s1
JOIN sizes sb ON sb.source = s2
"""


def q_span_corruption(spark, sf):
    """T5-style span-corruption PLANNING (the deterministic half of
    denoising-objective prep): per document, choose mask-span start
    positions by the md5 sample key over (doc_id, token_index) at ~15%
    token rate / 3-token spans, merge overlaps by construction (span i
    covers min(3, next_start − start) new tokens), and report
    n_tokens / n_spans / n_masked / corruption_rate. All integer except
    the one rounded rate division — the oracle replays every decision.
    Plan: tokens projected once (Generate-CSE trap), positions from
    ``sequence`` — narrow and shuffle-free; sentinel-text materialization
    is a trivial projection on top and deliberately out of the stats
    contract."""
    from proxima_platform_spark.functions.dedup import tokens

    docs = _load(spark, sf, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("__toks")).select(
        "doc_id", F.size("__toks").alias("n_tokens"), "__toks"
    )
    # deterministic start decisions: md5(doc_id*1e6+i) < 5% of key space
    # (≈15% of tokens masked at span length 3)
    starts = t.select(
        "doc_id",
        "n_tokens",
        F.filter(
            F.sequence(F.lit(0), F.col("n_tokens") - 1),
            lambda i: (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("span-v1"),
                                (F.col("doc_id") * 1_000_000 + i).cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 1_000_000
                < 50_000
            ),
        ).alias("__starts"),
    )
    masked = starts.select(
        "doc_id",
        "n_tokens",
        F.size("__starts").alias("n_spans"),
        F.when(
            F.size("__starts") > 0,
            F.aggregate(
                F.zip_with(
                    F.col("__starts"),
                    # successors: drop the first start, append the doc end
                    # (slice length must be a bounded expression — and
                    # least() IGNORES nulls, so the empty case is guarded
                    # by the when(), never by a null ride-through)
                    F.concat(
                        F.slice(
                            F.col("__starts"), 2, F.size(F.col("__starts"))
                        ),
                        F.array(F.col("n_tokens")),
                    ),
                    lambda s, nxt: F.least(F.lit(3), nxt - s),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            ),
        ).otherwise(F.lit(0)).alias("n_masked"),
    )
    return masked.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        "n_masked",
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.col("n_masked").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("corruption_rate"),
    )


SQL_SPAN_CORRUPTION = rf"""
WITH t AS (
  SELECT doc_id,
         {_sql_tokens()} AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_tokens,
         list_filter(range(0, len(toks)),
                     i -> {_sql_md5_int("'span-v1' || CAST(doc_id * 1000000 + i AS VARCHAR)")}
                          % 1000000 < 50000) AS starts
  FROM t
), m AS (
  SELECT doc_id, n_tokens, len(starts) AS n_spans,
         coalesce(list_sum(list_transform(range(1, len(starts) + 1),
             j -> least(3, (CASE WHEN j < len(starts)
                                 THEN starts[j + 1]
                                 ELSE n_tokens END) - starts[j]))), 0) AS n_masked
  FROM base
)
SELECT doc_id, n_tokens, n_spans, CAST(n_masked AS INT) AS n_masked,
       CASE WHEN n_tokens > 0
            THEN round(CAST(n_masked AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
            ELSE 0.0 END AS corruption_rate
FROM m
"""


def q_join_size_estimate(spark, sf):
    """Join-cardinality estimation WITHOUT executing the join
    (functions/sketch.py::cms_join_size_estimate): the Count-Min inner
    product min'd over depth rows upper-bounds |orders ⋈ lineitem| on
    o_orderkey = l_orderkey — the planner primitive that decides broadcast
    vs shuffle vs skew-salt before committing a 100 TB join. Two
    O(width·depth)-cell count aggs, one pass over each input, NO key
    shuffle of either table. The hash family is md5 (sampling.sample_key's
    trick), so the oracle rebuilds both sketches and the estimate
    bit-for-bit — the hash match certifies the estimator math itself; the
    never-undercounts guarantee is pinned in pytest against the exact
    join."""
    from proxima_platform_spark.functions.sketch import cms_join_size_estimate

    orders = _load(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = _load(spark, sf, "lineitem").select(F.col("l_orderkey").alias("k"))
    return cms_join_size_estimate(orders, li, ["k"], width=1024, depth=4)


SQL_JOIN_SIZE_ESTIMATE = f"""
WITH a AS (
  SELECT cell, count(*) AS n FROM (
    SELECT r * 1024 + {_sql_md5_int("'cms-v1' || r || chr(31) || CAST(o_orderkey AS VARCHAR)")} % 1024 AS cell
    FROM orders, range(4) t(r)) GROUP BY 1
), b AS (
  SELECT cell, count(*) AS n FROM (
    SELECT r * 1024 + {_sql_md5_int("'cms-v1' || r || chr(31) || CAST(l_orderkey AS VARCHAR)")} % 1024 AS cell
    FROM lineitem, range(4) t(r)) GROUP BY 1
), per_row AS (
  SELECT rows.r AS row, coalesce(s.ip, 0) AS ip
  FROM range(4) rows(r)
  LEFT JOIN (SELECT a.cell // 1024 AS row, sum(a.n * b.n) AS ip
             FROM a JOIN b USING (cell) GROUP BY 1) s ON rows.r = s.row
)
SELECT CAST(min(ip) AS BIGINT) AS est_join_rows FROM per_row
"""


def q_key_erasure(spark, sf):
    """Right-to-erasure over the changelog (changelog.py::erase_keys):
    physically remove every version of users 0–9 and append per-cell
    DELETE tombstones that propagate the deletion to replicas — then
    snapshot the result. The snapshot must contain nothing for the erased
    keys and be IDENTICAL to the original snapshot for everyone else
    (both directions certified by the oracle: it computes the snapshot of
    the untouched changelog restricted to user_id ≥ 10). Tombstone
    mechanics (max-seq+1 compaction win, replication visibility) are
    pinned in pytest."""
    from proxima_platform_spark.changelog import erase_keys, snapshot

    clog = _events_changelog(spark, sf)
    keys = spark.range(0, 10).select(F.col("id").cast("string").alias("key"))
    erased = erase_keys(clog, keys, erase_stamp_us=1707000000000000)
    snap = snapshot(erased)
    return snap.select(
        "key",
        "attribute",
        _stamp_ms().alias("stamp_ms"),
        F.decode("value", "UTF-8").cast("double").alias("val"),
    )


SQL_KEY_ERASURE = """
SELECT user_id::VARCHAR AS key, event_type AS attribute,
       epoch_us(ts) // 1000 AS stamp_ms, value AS val
FROM events
WHERE user_id >= 10
QUALIFY row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
"""


def q_cube_counts(spark, sf):
    """CUBE aggregation (the §2 rollup/cube pair's second half): order
    counts and decimal revenue over every subset of {orderstatus,
    orderpriority} — one pass, Spark expands the grouping sets inside a
    single hash aggregate (no union of 4 scans). NULL group markers are
    disambiguated with grouping_id so the oracle's GROUPING SETS output
    aligns cell-for-cell."""
    orders = _load(spark, sf, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), 2).alias("revenue"),
            F.grouping_id().alias("gid"),
        )
    )


SQL_CUBE_COUNTS = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS revenue,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_zorder_pruning(spark, sf):
    """File-skipping effectiveness of the Z-order layout, quantified
    in-engine: group events by coarse z-range bucket (the unit a writer
    would emit as one file), record per-bucket min/max of BOTH dimensions
    — the parquet footer stats — and evaluate which buckets a
    two-predicate scan (user_id ∈ [40,60) ∧ cents ∈ [10000,20000)) could
    skip on stats alone. Output: per-bucket stats + can_skip; pytest
    asserts the z-layout skips the majority while a one-column sort
    cannot. This is the read-side payoff the layout exists for."""
    from proxima_platform_spark.functions.layout import morton_key_2d

    ev = _events(spark, sf)
    cents = F.round(F.col("value") * 100).cast("long")
    zb = F.shiftright(morton_key_2d(F.col("user_id"), cents), 22).alias("zbucket")
    stats = (
        ev.select(zb, "user_id", cents.alias("cents"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("user_id").alias("u_min"),
            F.max("user_id").alias("u_max"),
            F.min("cents").alias("c_min"),
            F.max("cents").alias("c_max"),
        )
    )
    return stats.withColumn(
        "can_skip",
        (F.col("u_max") < 40)
        | (F.col("u_min") >= 60)
        | (F.col("c_max") < 10000)
        | (F.col("c_min") >= 20000),
    )


def _sql_zorder_pruning() -> str:
    from proxima_platform_spark.functions.layout import zorder_sql_2d

    z = zorder_sql_2d("user_id", "CAST(round(value * 100, 0) AS BIGINT)")
    return f"""
WITH b AS (
  SELECT ({z} >> 22) AS zbucket, user_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
), stats AS (
  SELECT zbucket, count(*) AS n_rows,
         min(user_id) AS u_min, max(user_id) AS u_max,
         min(cents) AS c_min, max(cents) AS c_max
  FROM b GROUP BY 1
)
SELECT *, (u_max < 40 OR u_min >= 60 OR c_max < 10000 OR c_min >= 20000)
       AS can_skip
FROM stats
"""


def q_quartiles_exact(spark, sf):
    """Exact per-type value quartiles by RANK SELECTION (elements at
    positions ⌈q·n⌉ of the (value, event_id) total order — no
    interpolation, so no float formula to drift between engines; the MAD
    median machinery generalized to {0.25, 0.5, 0.75}). One
    Exchange(type) → Sort → Window pass computes all three positions; the
    histogram ladder (rollup_quantile) remains the sketch path where an
    exact sort is too expensive."""
    from pyspark.sql import Window

    ev = _events(spark, sf)
    wp = Window.partitionBy("event_type")
    w = wp.orderBy("value", "event_id")
    ranked = ev.select("event_type", "value", "event_id").withColumn(
        "rn", F.row_number().over(w)
    ).withColumn("cnt", F.count(F.lit(1)).over(wp))
    picks = ranked.where(
        (F.col("rn") == F.expr("CAST(ceil(0.25 * cnt) AS BIGINT)"))
        | (F.col("rn") == F.expr("CAST(ceil(0.50 * cnt) AS BIGINT)"))
        | (F.col("rn") == F.expr("CAST(ceil(0.75 * cnt) AS BIGINT)"))
    )
    return picks.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("CAST(ceil(0.25 * cnt) AS BIGINT)"), F.col("value"))
        ).alias("p25"),
        F.max(
            F.when(F.col("rn") == F.expr("CAST(ceil(0.50 * cnt) AS BIGINT)"), F.col("value"))
        ).alias("p50"),
        F.max(
            F.when(F.col("rn") == F.expr("CAST(ceil(0.75 * cnt) AS BIGINT)"), F.col("value"))
        ).alias("p75"),
    )


SQL_QUARTILES_EXACT = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM events
)
SELECT event_type,
       max(CASE WHEN rn = CAST(ceil(0.25 * cnt) AS BIGINT) THEN value END) AS p25,
       max(CASE WHEN rn = CAST(ceil(0.50 * cnt) AS BIGINT) THEN value END) AS p50,
       max(CASE WHEN rn = CAST(ceil(0.75 * cnt) AS BIGINT) THEN value END) AS p75
FROM ranked
WHERE rn = CAST(ceil(0.25 * cnt) AS BIGINT)
   OR rn = CAST(ceil(0.50 * cnt) AS BIGINT)
   OR rn = CAST(ceil(0.75 * cnt) AS BIGINT)
GROUP BY 1
"""


def q_skew_report(spark, sf):
    """Skew advisor (operational input to operators/skew.py salting
    decisions): the per-key row-count distribution summarized as an exact
    Gini coefficient (rank formula Σ(2i−n−1)·x_i / (n·Σx) — integer
    numerator/denominator, one rounded double division at the end) plus
    top-1/top-10 key shares. The rank pass sorts the AGGREGATED per-key
    frame (|keys| rows, 3 orders below raw); at billions of keys the
    sampled-quantile approximation replaces the exact rank — stated, not
    assumed. One row out: the go/no-go for salting a pipeline's key."""
    from pyspark.sql import Window

    ev = _events(spark, sf)
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("c", "user_id")
    ranked = counts.withColumn("i", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("total"),
        F.round(
            F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("c")).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.sum("c").cast("double")),
            6,
        ).alias("gini"),
    )


SQL_SKEW_REPORT = """
WITH counts AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY 1
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c, user_id) AS i,
         count(*) OVER () AS n
  FROM counts
)
SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS total,
       round(CAST(sum((2 * i - n - 1) * c) AS DOUBLE)
             / (CAST(any_value(n) AS DOUBLE) * CAST(sum(c) AS DOUBLE)), 6) AS gini
FROM ranked
"""


def q_bitmap_retention(spark, sf):
    """Bitmap-index day-over-day retention: per-day active users packed
    into 64-bit word bitmaps (word = user DIV 64, bit = user MOD 64 via
    bit_or agg — the roaring-bitmap warehouse technique as pure integer
    codegen), consecutive days intersected by joining on the WORD and
    popcounting bits1 & bits2. Exact distinct-intersection without ever
    re-shuffling raw events per day pair: state is |users|/64 words per
    day. The oracle computes the same retention with plain COUNT(DISTINCT)
    self-joins — the hash match certifies the whole bitmap encoding. At
    100 TB this is THE pattern for audience-overlap matrices (N² pairs
    from one bitmap table, raw scanned once)."""
    ev = _events(spark, sf)
    day = F.expr("ts_ms DIV 86400000")
    bm = (
        ev.select(
            day.alias("day"),
            F.expr("user_id DIV 64").alias("word"),
            F.expr("shiftleft(1L, CAST(user_id % 64 AS INT))").alias("m"),
        )
        .groupBy("day", "word")
        .agg(F.bit_or("m").alias("bits"))
    )
    active = bm.groupBy("day").agg(
        F.sum(F.bit_count("bits")).alias("n_active")
    )
    nxt = bm.select((F.col("day") - 1).alias("day"), "word", F.col("bits").alias("bits2"))
    retained = (
        bm.join(nxt, ["day", "word"])
        .select("day", F.bit_count(F.col("bits").bitwiseAND(F.col("bits2"))).alias("p"))
        .groupBy("day")
        .agg(F.sum("p").alias("n_retained"))
    )
    return (
        active.join(retained, "day")
        .select("day", "n_active", "n_retained")
    )


SQL_BITMAP_RETENTION = """
WITH a AS (
  SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id FROM events
), act AS (
  SELECT day, count(*) AS n_active FROM a GROUP BY 1
), ret AS (
  SELECT a1.day, count(*) AS n_retained
  FROM a a1 JOIN a a2 ON a1.user_id = a2.user_id AND a2.day = a1.day + 1
  GROUP BY 1
)
SELECT act.day, act.n_active, ret.n_retained
FROM act JOIN ret ON act.day = ret.day
"""


def q_snapshot_diff(spark, sf):
    """Point-in-time audit diff (changelog.py::snapshot_diff): which
    (user, event_type) cells changed between 2024-01-10 and 2024-01-20 —
    added / updated (no deletes in the plain events changelog; the delete
    path is pinned by TestSnapshotDiff). Two deterministic snapshot-at
    compactions + one full outer join on the shared cell key (partitioning
    reused); history is never rescanned beyond the two compactions. The
    time-travel read the reference's cached view serves, as a batch
    audit."""
    from proxima_platform_spark.changelog import snapshot_diff

    clog = _events_changelog(spark, sf)
    d = snapshot_diff(
        clog,
        at_from=F.timestamp_millis(F.lit(T0)),
        at_to=F.timestamp_millis(F.lit(T1)),
    )
    return d.select(
        "key",
        "attribute",
        "status",
        F.decode("value_from", "UTF-8").cast("double").alias("val_from"),
        F.decode("value_to", "UTF-8").cast("double").alias("val_to"),
    )


SQL_SNAPSHOT_DIFF = f"""
WITH s0 AS (
  SELECT user_id::VARCHAR AS key, event_type AS attribute, value AS val
  FROM events WHERE epoch_us(ts) <= {T0} * 1000
  QUALIFY row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
), s1 AS (
  SELECT user_id::VARCHAR AS key, event_type AS attribute, value AS val
  FROM events WHERE epoch_us(ts) <= {T1} * 1000
  QUALIFY row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
)
SELECT coalesce(s0.key, s1.key) AS key,
       coalesce(s0.attribute, s1.attribute) AS attribute,
       CASE WHEN s0.key IS NULL THEN 'added'
            WHEN s1.key IS NULL THEN 'deleted'
            ELSE 'updated' END AS status,
       s0.val AS val_from, s1.val AS val_to
FROM s0 FULL OUTER JOIN s1
  ON s0.key = s1.key AND s0.attribute = s1.attribute
WHERE s0.key IS NULL OR s1.key IS NULL OR s0.val <> s1.val
"""


# ===========================================================================
# round-6 additions: model-based quality, within-doc span dedup,
# byte-level BPE, semantic dedup
# ===========================================================================


def q_quality_model_score(spark, sf):
    """Model-based quality scoring (functions/text.py::
    quality_model_score): a fixed-weight logistic model over the cheap
    signal stack (alpha/punct/stopword ratios, mean-word-length deviation,
    length saturation, dup-word fraction) — the fastText-classifier analog
    corpus pipelines gate on (CCNet/DCLM-style, public recipes). Pure
    literal-weight projection: zero shuffles, zero joins, whole-stage
    codegen over a 100 TB documents scan. The logit is rounded to 6
    decimals BEFORE the sigmoid so both engines feed exp() bit-identical
    inputs; the score re-rounds to 6."""
    from proxima_platform_spark.functions.text import (
        quality_model_logit,
        quality_model_score,
    )

    docs = _load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        quality_model_logit(F.col("text")).alias("logit"),
        quality_model_score(F.col("text")).alias("score"),
        (quality_model_score(F.col("text")) >= 0.5).alias("keep"),
    )


def _sql_quality_model_ctes() -> str:
    """CTE chain ``base → feat → z`` computing the fixed-weight logistic
    quality model per doc (shared by `quality_model_score` and the
    composed `curation_pipeline`)."""
    from proxima_platform_spark.functions.text import QUALITY_MODEL_WEIGHTS_V1 as W

    stop_parts = " + ".join(
        f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS INT)"
        for m in EN_STOPWORDS
    )
    return rf"""base AS (
    SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
           length(text)::DOUBLE AS n,
           ({_sql_token_count(indent=17)})::DOUBLE AS toks,
           {_sql_tokens()} AS tk
    FROM documents
), feat AS (
    SELECT doc_id,
       CASE WHEN n > 0
            THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / n
            ELSE 0.0 END AS alpha_ratio,
       CASE WHEN n > 0
            THEN length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) / n
            ELSE 0.0 END AS punct_ratio,
       CASE WHEN toks > 0 THEN ({stop_parts}) / toks ELSE 0.0 END AS stopword_ratio,
       CASE WHEN toks > 0 THEN n / toks ELSE 0.0 END AS mean_word_len,
       least(n / 200.0, 1.0) AS length_sat,
       round(CASE WHEN len(tk) > 0
             THEN 1.0 - len(list_distinct(tk))::DOUBLE / len(tk)
             ELSE 0.0 END, 6) AS dup_word_frac
    FROM base
), z AS (
    SELECT doc_id,
           round({W["bias"]} + {W["alpha_ratio"]} * alpha_ratio
                 + {W["punct_ratio"]} * punct_ratio
                 + {W["stopword_ratio"]} * stopword_ratio
                 + {W["mean_word_len_dev"]} * abs(mean_word_len - 5.5)
                 + {W["length_sat"]} * length_sat
                 + {W["dup_word_frac"]} * dup_word_frac, 6) AS logit
    FROM feat
)"""


def _sql_quality_model_score() -> str:
    return f"""
WITH {_sql_quality_model_ctes()}
SELECT doc_id, logit,
       round(1.0 / (1.0 + exp(-logit)), 6) AS score,
       round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS keep
FROM z
"""


#: ``functions.bpe.bpe_learn(documents, 16, alphabet='byte')`` at sf0.01 —
#: the byte-level twin of BPE_MERGES_V1 over the GPT-2-style byte alphabet
#: (space remaps to 'Ġ' U+0120; this ASCII-dominant fixture otherwise
#: learns the same pair ranking, which itself certifies the remap: every
#: ' x' rule becomes 'Ġx'). Pinned so the encode oracle stays a static SQL
#: string; the byte learner is pinned against the Python byte-model
#: property suite in tests/test_bpe.py.
BPE_BYTE_MERGES_V1 = [
    ("Ġ", "s"), ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("Ġ", "c"), ("a", "s"),
    ("Ġ", "b"), ("Ġ", "v"), ("a", "r"), ("p", "ar"), ("Ġ", "f"),
    ("Ġ", "a"),
]


def q_bpe_encode_bytes(spark, sf):
    """BYTE-level BPE tokenization (functions/bpe.py, alphabet='byte') —
    the tokenizer shape production GPT-2/tiktoken pipelines actually run:
    words pre-tokenize to their UTF-8 BYTES through the fixed 256-entry
    byte→unicode remap (space → 'Ġ'), merges operate over the remapped
    alphabet, so any input is representable and merges can cross codepoint
    boundaries. Same scale path as bpe_encode (distinct-vocab fold +
    equi-join back); the remap itself is one foldable map expression. The
    oracle replays the remap via a 256-row VALUES join and every merge
    fold bit-for-bit; fp certifies token identity and order."""
    from proxima_platform_spark.functions.bpe import bpe_encode_docs

    docs = _load(spark, sf, "documents")
    return bpe_encode_docs(docs, BPE_BYTE_MERGES_V1, alphabet="byte")


def _sql_bpe_bytes_ctes() -> str:
    """Byte remap (``bmap/b0/e0``) then the merge folds of
    ``BPE_BYTE_MERGES_V1``."""
    from proxima_platform_spark.functions.bpe import BYTE_HEX_CHARS

    bmap_rows = ", ".join(
        f"('{hx}', chr({ord(ch)}))" for hx, ch in sorted(BYTE_HEX_CHARS.items())
    )
    return _sql_bpe_merge_ctes(BPE_BYTE_MERGES_V1, f"""bmap(h, c) AS (VALUES {bmap_rows}),
b0 AS (
  SELECT word, unnest(hs) AS h, generate_subscripts(hs, 1) AS bpos
  FROM (SELECT word, regexp_extract_all(hex(encode(word)), '..') AS hs FROM vocab)
),
e0 AS (
  SELECT word, string_agg(c, chr(31) ORDER BY bpos) AS enc
  FROM b0 JOIN bmap USING (h)
  GROUP BY word
)""")


def _sql_bpe_encode_bytes() -> str:
    return f"""
WITH {_sql_bpe_bytes_ctes()}
SELECT doc_id,
       count(*) AS n_words,
       CAST(sum(octet_length(encode(word))) AS BIGINT) AS n_bytes,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       md5(string_agg(enc, chr(31) ORDER BY pos)) AS fp
FROM words JOIN v USING (word)
GROUP BY doc_id
"""


def q_semantic_dedup(spark, sf):
    """Semantic (embedding-level) dedup — the SemDeDup composition
    (functions/cluster.py::semantic_dedup): k-means bounds the pair space
    per cluster, exact cosine runs on intra-cluster pairs only, greedy
    keep-lowest-id verdicts. The standard companion to MinHash for
    paraphrase-level dups that token shingles miss. The DuckDB oracle
    replays the ENTIRE chain — both Lloyd iterations (decimal means),
    final assignment, per-cluster pair cosine, and the verdicts — so the
    hash certifies the composition end-to-end. The pair cosine runs on
    micro-quantized int64 vectors (exact order-independent Gram matmul in
    an Arrow stage; floor(x·10⁶) replayed literally in SQL — the
    embedding_covariance parity technique). Threshold 0.40 on this
    fixture condemns a real slice of vectors (non-vacuous both ways)."""
    from proxima_platform_spark.functions.cluster import semantic_dedup

    emb = _load(spark, sf, "embeddings")
    return semantic_dedup(emb, k=8, iters=2, threshold=0.40)


SQL_SEMANTIC_DEDUP = f"""
WITH {_SQL_KMEANS_CTES},
av AS (
    SELECT a.vec_id, a.cid, v.v FROM asg a JOIN v USING (vec_id)
), qv AS (
    SELECT vec_id, cid,
           [floor(x * 1000000.0)::BIGINT for x in v] AS q
    FROM av
), nn AS (
    SELECT vec_id, cid, q,
           list_sum(list_transform(q, x -> x * x))::DOUBLE AS n2
    FROM qv
), p AS (
    SELECT y.vec_id AS id_b,
           list_sum(list_transform(range(len(x.q)), i -> x.q[i+1] * y.q[i+1]))::DOUBLE
           / (sqrt(x.n2) * sqrt(y.n2)) AS cos
    FROM nn x JOIN nn y ON x.cid = y.cid AND x.vec_id < y.vec_id
    WHERE x.n2 > 0 AND y.n2 > 0
), {_sql_semdedup_report()}
"""


def q_tokenizer_fertility_bytes(spark, sf):
    """Tokenizer fertility by language, BYTE-level — tokens per word under
    the byte-alphabet merge table. The diagnostic real pipelines run: a
    language whose script needs multi-byte UTF-8 shows fertility near
    bytes-per-word until the table learns its byte pairs, which is
    exactly what byte-level measurement (and not codepoint-level) makes
    visible. Same bounded shape as tokenizer_fertility: per-doc encode
    frame → lang equi-join → language-count-bounded agg.

    Real-model vocabularies: when SPARK_GRAFT_GPT2_MERGES points at a
    GPT-2-format merges.txt (the published artifact; not shippable in
    this container — no network, no bundled copy), fertility is measured
    under the first SPARK_GRAFT_GPT2_MERGES_N (default 128) real merges
    via bpe.load_gpt2_merges instead of the learned table. The oracle
    certifies the DEFAULT table only — the env path is for deployments
    with the artifact (format + conventions are pinned by
    tests/test_bpe.py::TestGpt2MergeTable)."""
    import os as _os

    docs = _load(spark, sf, "documents")
    real = _os.environ.get("SPARK_GRAFT_GPT2_MERGES")
    if real:
        from proxima_platform_spark.functions.bpe import (
            bpe_encode_docs,
            load_gpt2_merges,
        )

        cap = int(_os.environ.get("SPARK_GRAFT_GPT2_MERGES_N", "128"))
        enc = bpe_encode_docs(
            docs, load_gpt2_merges(real, max_merges=cap), alphabet="byte"
        )
    else:
        enc = q_bpe_encode_bytes(spark, sf)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum("n_tokens").cast("double")
                / F.sum("n_words").cast("double"),
                6,
            ).alias("fertility"),
        )
    )


def q_semantic_dedup_diverse(spark, sf):
    """semantic_dedup under the SemDeDup paper's keep policy — of each
    near-dup pair the member FARTHEST from its centroid survives
    (diversity keep; d2 comes from the kmeans assignment already in
    hand, vec_id tiebreak). Same cluster-bounded Arrow scorer, different
    deterministic priority order; the oracle expresses the rule as a
    priority-theta pair predicate over the replayed kmeans chain."""
    from proxima_platform_spark.functions.cluster import semantic_dedup

    emb = _load(spark, sf, "embeddings")
    return semantic_dedup(emb, k=8, iters=2, threshold=0.40, keep="far_centroid")


SQL_SEMANTIC_DEDUP_DIVERSE = f"""
WITH {_SQL_KMEANS_CTES},
av AS (
    SELECT a.vec_id, a.cid, a.d2, v.v FROM asg a JOIN v USING (vec_id)
), nn AS (
    SELECT vec_id, cid, d2,
           [floor(x * 1000000.0)::BIGINT for x in v] AS q
    FROM av
), nn2 AS (
    SELECT vec_id, cid, d2, q,
           list_sum(list_transform(q, x -> x * x))::DOUBLE AS n2
    FROM nn
), p AS (
    SELECT y.vec_id AS id_b,
           list_sum(list_transform(range(len(x.q)), i -> x.q[i+1] * y.q[i+1]))::DOUBLE
           / (sqrt(x.n2) * sqrt(y.n2)) AS cos
    FROM nn2 x JOIN nn2 y
      ON x.cid = y.cid
     AND (x.d2 > y.d2 OR (x.d2 = y.d2 AND x.vec_id < y.vec_id))
    WHERE x.n2 > 0 AND y.n2 > 0
), {_sql_semdedup_report()}
"""


def q_self_dedup_spans(spark, sf):
    """Within-document repeated-span removal (functions/dedup.py::
    self_dedup_spans): non-overlapping 2-token spans, first occurrence
    kept per document, survivors reassembled in order — the intra-doc
    companion to dedup_paragraphs (Gopher-style repeated-passage
    cleanup). The fp column is md5 of the reassembled text, certifying
    every surviving span's identity and order; dup_word_frac before/after
    quantifies the repetition delta in the same result (repetition_signals
    formula on the original and the deduped text). At sf0.01 the drop
    path bites on ~250 span groups (non-vacuous by construction)."""
    from proxima_platform_spark.functions.dedup import self_dedup_spans
    from proxima_platform_spark.functions.text import repetition_signals

    docs = _load(spark, sf, "documents")
    sd = self_dedup_spans(docs, span_tokens=2)
    # only (doc_id, text) from the docs side survives the select below —
    # project before the join exchange (lang/source/n_chars are ballast)
    joined = docs.select("doc_id", "text").join(sd, "doc_id")
    return joined.select(
        "doc_id",
        "n_spans",
        "n_kept",
        F.md5("text_dedup").alias("fp"),
        repetition_signals(F.col("text"))["dup_word_frac"].alias("dup_before"),
        repetition_signals(F.col("text_dedup"))["dup_word_frac"].alias("dup_after"),
    )


def _sql_self_dedup_spans(k: int = 2) -> str:
    return rf"""
WITH t AS (
    SELECT doc_id, text,
           {_sql_tokens()} AS toks
    FROM documents
), {_sql_span_dedup_ctes(k, "doc_id, text, toks")}, joined AS (
    SELECT sp.doc_id, len(sp.spans) AS n_spans, re.n_kept, re.text_dedup,
           sp.toks,
           CASE WHEN length(trim(re.text_dedup)) = 0 THEN ['']
                ELSE {_sql_tokens('re.text_dedup')}
           END AS toks_after
    FROM sp JOIN re USING (doc_id)
)
SELECT doc_id, n_spans, n_kept, md5(text_dedup) AS fp,
       round(CASE WHEN len(toks) > 0
             THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
             ELSE 0.0 END, 6) AS dup_before,
       round(CASE WHEN length(trim(text_dedup)) = 0 THEN 0.0
             WHEN len(toks_after) > 0
             THEN 1.0 - len(list_distinct(toks_after))::DOUBLE / len(toks_after)
             ELSE 0.0 END, 6) AS dup_after
FROM joined
"""


def q_dup_ngram_coverage(spark, sf):
    """Cross-document duplicated-passage coverage (functions/dedup.py::
    dup_ngram_coverage): per-document fraction of token positions covered
    by 8-grams that occur in >= 2 distinct documents — the exact
    fixed-granularity cousin of suffix-array substring dedup and the
    overlap diagnostic corpus reports quote. Distinct-doc counting per
    gram is two map-side-combined aggs (never countDistinct over raw
    occurrences); the window union is a positions-explode + distinct
    bounded by duplicated occurrences. At sf0.01 ~1,000 grams are
    cross-doc duplicated (non-vacuous)."""
    from proxima_platform_spark.functions.dedup import dup_ngram_coverage

    docs = _load(spark, sf, "documents")
    return dup_ngram_coverage(docs, n=8)


def _sql_dup_ngram_coverage(n: int = 8) -> str:
    return rf"""
{_sql_ngram_occ_ctes(n)}, per_doc AS (
    SELECT fp, doc_id, count(*) AS o FROM occ GROUP BY 1, 2
), dup_fps AS (
    SELECT fp FROM per_doc GROUP BY fp HAVING count(*) >= 2
), dup_occ AS (
    SELECT occ.doc_id, occ.pos FROM occ JOIN dup_fps USING (fp)
), gram_counts AS (
    SELECT doc_id, count(*) AS n_grams FROM occ GROUP BY 1
), dup_stats AS (
    SELECT doc_id, count(*) AS n_dup_grams,
           list_sort(list(pos)) AS ss
    FROM dup_occ GROUP BY 1
), dup_cov AS (
    SELECT doc_id, n_dup_grams,
           ({n} + coalesce(list_sum(
               [least({n}, ss[i+1] - ss[i]) for i in range(1, len(ss))]
           ), 0))::BIGINT AS covered_tokens
    FROM dup_stats
)
SELECT c.doc_id, c.n_tokens,
       coalesce(g.n_grams, 0) AS n_grams,
       coalesce(d.n_dup_grams, 0) AS n_dup_grams,
       coalesce(d.covered_tokens, 0) AS covered_tokens,
       round(CASE WHEN c.n_tokens > 0
             THEN coalesce(d.covered_tokens, 0)::DOUBLE / c.n_tokens
             ELSE 0.0 END, 6) AS coverage
FROM counts c
LEFT JOIN gram_counts g USING (doc_id)
LEFT JOIN dup_cov d USING (doc_id)
"""


def q_dedup_substrings(spark, sf):
    """Cross-document exact-substring dedup (functions/dedup.py::
    dedup_substrings) — the ExactSubstr shape at 8-gram granularity:
    every 8-gram occurring in >= 2 distinct documents keeps its
    globally-first occurrence (min (doc_id, pos)) and every other
    occurrence's window is cut, survivors reassembled in order. The
    cutter companion to dup_ngram_coverage's measurement (same gram
    ladder; ~1,000 grams are cross-doc duplicated at sf0.01, so the cut
    path is non-vacuous). Oracle replays the winner rule and window
    union verbatim."""
    from proxima_platform_spark.functions.dedup import dedup_substrings

    docs = _load(spark, sf, "documents")
    return dedup_substrings(docs, n=8)


def _sql_dedup_substrings(n: int = 8) -> str:
    return rf"""
{_sql_ngram_occ_ctes(n)}, {_sql_winner_ctes("occ")}, {_sql_ngram_removed(n)}, {_sql_reassembly("t", "removed")}
SELECT c.doc_id, c.n_tokens,
       coalesce(r.n_kept, 0) AS n_kept,
       c.n_tokens - coalesce(r.n_kept, 0) AS n_removed,
       coalesce(r.text_dedup, '') AS text_dedup
FROM counts c LEFT JOIN reass r USING (doc_id)
"""


def q_dedup_substrings_maximal(spark, sf):
    """Variable-length ExactSubstr dedup (functions/dedup.py::
    dedup_substrings_maximal) — the full Lee et al. semantics over the
    fixed-granularity cutter: duplicated spans >= 8 tokens removed WHOLE
    at arbitrary alignment (per-token union of overlapping duplicated
    8-gram windows = the maximal-run region), with every gram's
    globally-first occurrence window immune (kept wins over removal, so
    duplicated content always survives at its winning site). Run stats
    (n_runs_cut, max_run_len) expose the maximal-run structure. Oracle
    replays winner rule, window unions, the kept-window subtraction and
    the rp - row_number() run grouping verbatim."""
    from proxima_platform_spark.functions.dedup import dedup_substrings_maximal

    docs = _load(spark, sf, "documents")
    return dedup_substrings_maximal(docs, min_len=8)


def _sql_dedup_substrings_maximal(n: int = 8) -> str:
    return rf"""
{_sql_ngram_occ_ctes(n)}, {_sql_winner_ctes("occ")}, {_sql_ngram_removed(n)}, keptw AS (
    SELECT DISTINCT doc_id, rp FROM (
        SELECT wd AS doc_id, unnest([wp + i for i in range(0, {n})]) AS rp
        FROM winners
    )
), {_sql_cut_runs_tail("t")}
"""


def q_ann_knn_join(spark, sf):
    """Approximate kNN SELF-join (functions/similarity.py::knn_join_lsh):
    every vector's top-3 cosine neighbors among its 2×8-plane sign-LSH
    bucket mates — the corpus-wide companion to the single-query ann_*
    operators. Candidates are the same bucket equi-joins dedup_embedding
    ships (no n² product); ranking is one per-vector window over the
    candidate set with deterministic (cosine desc, id asc) tiebreaks.
    The oracle replays the md5 hyperplane bucket math per table AND the
    ranking verbatim."""
    from proxima_platform_spark.functions.similarity import knn_join_lsh

    emb = _load(spark, sf, "embeddings")
    dim = emb.select(F.size("embedding").alias("d")).first().d
    return knn_join_lsh(emb, k=3, num_planes=8, num_tables=2, dim=dim)


SQL_ANN_KNN_JOIN = f"""
{_sql_lsh_knn_ctes()},
ranked AS (
  SELECT id_a, id_b, cos,
         row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS rank
  FROM directed
)
SELECT id_a AS vec_id, rank, id_b AS nbr, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 3
"""


def q_curation_pipeline(spark, sf):
    """Composed r06 curation chain, end to end: model-based quality gate
    (logistic score ≥ 0.65, ~30th percentile on this fixture — the gate
    bites) → within-document repeated-span removal →
    per-source curation summary (docs kept, spans dropped, clean
    whitespace-token volume, decimal-exact average model score). The
    r06 analog of training_pipeline: each stage is individually
    certified; this certifies their composition in one hash. Plan: one
    zero-shuffle gate projection + the span operator's three keyed
    shuffles + one source-bounded agg. r07: the chain is now the shared
    functions/prep.py::curation_pipeline engine, whose streaming twin
    (curation_pipeline_stream) runs it per micro-batch — same rows per
    slice, pinned by TestStreamingCuration. 0.65 cuts the fixture's score
    distribution near its 30th percentile (357 of 500 survive at sf0.01)
    so the gate is exercised, not vacuous."""
    from proxima_platform_spark.functions.prep import curation_pipeline

    docs = _load(spark, sf, "documents")
    return curation_pipeline(docs, threshold=0.65, span_tokens=2)


def _sql_curation_pipeline(k: int = 2) -> str:
    return rf"""
WITH {_sql_quality_model_ctes()},
gated AS (
    SELECT d.doc_id, d.source, d.text,
           round(1.0 / (1.0 + exp(-z.logit)), 6) AS score
    FROM documents d JOIN z USING (doc_id)
    WHERE round(1.0 / (1.0 + exp(-z.logit)), 6) >= 0.65
), t AS (
    SELECT doc_id, source, score,
           {_sql_tokens()} AS toks
    FROM gated
), {_sql_span_dedup_ctes(k, "doc_id, source, score")}, joined AS (
    SELECT sp.source, sp.score, len(sp.spans) AS n_spans, re.n_kept,
           re.text_dedup
    FROM sp JOIN re USING (doc_id)
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_spans - n_kept) AS BIGINT) AS spans_dropped,
       CAST(sum({_sql_token_count('text_dedup', 16)})
            AS BIGINT) AS clean_tokens,
       round(sum(score::DECIMAL(18,6))::DOUBLE / count(*), 6) AS avg_score
FROM joined GROUP BY source
"""


# ===========================================================================
# round-7 additions: HLL / KMV distinct sketches, incremental view
# maintenance, embedding-based decontamination
# ===========================================================================

from proxima_platform_spark.functions.sketch import (  # noqa: E402
    hll_build,
    hll_estimate,
    hll_merge,
    hll_sql,
    kmv_build,
    kmv_set_ops,
)
from proxima_platform_spark.operators.ivm import (  # noqa: E402
    incremental_snapshot_agg,
)


def q_distinct_hll(spark, sf):
    """HyperLogLog distinct l_partkey per return flag (m=256 registers)
    over the engine-portable md5 hash family — the DuckDB oracle rebuilds
    every register and the estimator arithmetic bit-for-bit, so the hash
    gate certifies the SKETCH, not just row counts. Registers come from
    one map-side-combining groupBy (≤ m rows per group shuffle — the
    100 TB shape: per-partition partial registers, max-merged); the
    harmonic sum is kept integer (order-independent) with doubles only in
    the final 3-row estimate arithmetic (sketch.py::hll_build/estimate).
    Fixture cardinality ~11k per group (orders with a line of that flag
    — per-group hash sets genuinely differ) ≫ 2.5m exercises the raw-estimate
    branch; `hll_union_distinct` covers the linear-counting branch."""
    li = _load(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("grp"), "l_orderkey"
    )
    regs = hll_build(li, ["l_orderkey"], group_cols=["grp"], b=8)
    return hll_estimate(regs, group_cols=["grp"], b=8)


SQL_DISTINCT_HLL = hll_sql("lineitem", "l_orderkey", group_expr="l_returnflag", b=8)


def q_hll_union_distinct(spark, sf):
    """HLL MERGE: distinct suppliers over two OVERLAPPING shipdate slices,
    sketched independently and max-combined (hll_merge) — the mergeability
    that makes the sketch work at 100 TB (register frames from independent
    scans / days / streams union with no rescan; merge is associative and
    idempotent, so the overlap double-counts nothing). ~100 distinct
    suppliers against m=256 registers lands in the LINEAR-COUNTING branch
    (m·ln(m/V)), certifying the small-range correction and the ln() parity
    across engines. Oracle = one build over the UNION ALL of the slices —
    equal by the merge law."""
    li = _load(spark, sf, "lineitem")
    a = li.where(F.col("l_shipdate") < "1998-01-01")
    b = li.where(F.col("l_shipdate") >= "1997-01-01")
    regs = hll_merge(
        hll_build(a, ["l_suppkey"], b=8), hll_build(b, ["l_suppkey"], b=8)
    )
    return hll_estimate(regs, b=8)


SQL_HLL_UNION_DISTINCT = hll_sql(
    """(
  SELECT l_suppkey FROM lineitem WHERE l_shipdate < '1998-01-01'
  UNION ALL
  SELECT l_suppkey FROM lineitem WHERE l_shipdate >= '1997-01-01') u""",
    "l_suppkey",
    b=8,
)


def q_kmv_set_ops(spark, sf):
    """Theta-style set-operation estimates from KMV (bottom-k) sketches:
    orders with a 1996 shipment vs orders with a deep-discount line —
    distinct / union / intersection cardinalities from two 256-hash
    sketches (sketch.py::kmv_build/kmv_set_ops, the Druid/Pinot set-sketch
    family). Each sketch is a TakeOrdered over distinct hashes (k rows per
    partition partial, one k-row merge — no full key shuffle); set algebra
    then runs on ≤ 2k rows. Integer to the last division; the oracle
    replays hashes, bottom-k cuts, and the ρ·est∪ intersection rule
    exactly."""
    li = _load(spark, sf, "lineitem")
    a = kmv_build(
        li.where(F.year("l_shipdate") == 1996),
        ["l_orderkey"], k=256, salt="kmv-v1", set_name="a",
    )
    b = kmv_build(
        li.where(F.col("l_discount") > 0.06),
        ["l_orderkey"], k=256, salt="kmv-v1", set_name="b",
    )
    return kmv_set_ops(a, b, k=256)


SQL_KMV_SET_OPS = f"""
WITH sa AS (
  SELECT DISTINCT {_sql_md5_int("'kmv-v1' || chr(31) || l_orderkey::VARCHAR")} AS h
  FROM lineitem WHERE year(l_shipdate) = 1996),
ka AS (SELECT h FROM sa ORDER BY h LIMIT 256),
sb AS (
  SELECT DISTINCT {_sql_md5_int("'kmv-v1' || chr(31) || l_orderkey::VARCHAR")} AS h
  FROM lineitem WHERE l_discount > 0.06),
kb AS (SELECT h FROM sb ORDER BY h LIMIT 256),
uk AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 256),
ea AS (SELECT round(CASE WHEN count(*) < 256 THEN count(*)::DOUBLE
               ELSE 255.0 * 1152921504606846976.0 / max(h) END, 3) AS est_a FROM ka),
eb AS (SELECT round(CASE WHEN count(*) < 256 THEN count(*)::DOUBLE
               ELSE 255.0 * 1152921504606846976.0 / max(h) END, 3) AS est_b FROM kb),
eu AS (SELECT round(CASE WHEN count(*) < 256 THEN count(*)::DOUBLE
               ELSE 255.0 * 1152921504606846976.0 / max(h) END, 3) AS est_union FROM uk),
ov AS (
  SELECT sum(CASE WHEN ka.h IS NOT NULL AND kb.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_both,
         count(*)::BIGINT AS n_union
  FROM uk LEFT JOIN ka ON uk.h = ka.h LEFT JOIN kb ON uk.h = kb.h)
SELECT est_a, est_b, est_union,
       round(n_both / n_union * est_union, 3) AS est_intersection,
       round(n_both / n_union, 6) AS jaccard_k
FROM ea, eb, eu, ov
"""


def q_quantile_sketch(spark, sf):
    """Mergeable bottom-k quantile sketch (sketch.py::quantile_sketch_*):
    per l_returnflag, the k=256 rows with the smallest deterministic
    md5 row tags form a uniform ROW sample; quantile estimate = type-1
    sample quantile at integer rank ceil(q_micro*n/1e6). The sketch obeys
    an EXACT merge law (bottom-k of union == bottom-k of merged bottom-ks
    — associative, idempotent), pinned in tests/test_sketch.py; the
    completing member of the sketch family (HLL distinct, KMV/theta sets,
    CMS frequency, Bloom membership — this is the quantile axis that
    t-digest/KLL fill in other engines, here with zero randomness so the
    oracle replays it bit-for-bit)."""
    from proxima_platform_spark.functions.sketch import (
        quantile_sketch_build,
        quantile_sketch_estimate,
    )

    li = _load(spark, sf, "lineitem")
    sk = quantile_sketch_build(
        li,
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        group_cols=["l_returnflag"],
        k=256,
    )
    return quantile_sketch_estimate(sk, [0.25, 0.5, 0.75, 0.95])


_QSK_KEY = _sql_md5_int("""'qsk-v1' || chr(31) || l_orderkey::VARCHAR
                || chr(31) || l_linenumber::VARCHAR""")

SQL_QUANTILE_SKETCH = f"""
WITH tagged AS (
    SELECT l_returnflag,
           {_QSK_KEY} AS h,
           l_extendedprice AS v
    FROM lineitem
), sk AS (
    SELECT l_returnflag, h, v FROM (
        SELECT l_returnflag, h, v,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY h, v) AS r
        FROM tagged)
    WHERE r <= 256
), agg AS (
    SELECT l_returnflag, list_sort(list(v)) AS vs, count(*) AS n
    FROM sk GROUP BY l_returnflag
)
SELECT l_returnflag, qm / 1000000.0 AS q,
       vs[greatest((qm * n + 999999) // 1000000, 1)::INT] AS est
FROM agg, unnest([250000, 500000, 750000, 950000]) AS u(qm)
"""


def q_ivm_agg_apply(spark, sf):
    """Incremental view maintenance: per-event-type (cell count, value
    total) of the snapshot at T1, maintained from the materialized T0
    snapshot + ONLY the (T0, T1] changelog slice — never a full-history
    recompute (operators/ivm.py; the reference's cached-view idea lifted
    to aggregates, LocalCachedPartitionedView.java:99-121). New state of a
    changed cell is a compaction of its own old row ∪ delta rows; deletes
    retract via the shared snapshot() tombstone rules. Contributions
    accumulate as DECIMAL, so the incremental result is BIT-equal to the
    oracle's full recompute at T1 — not merely close. Cost at scale:
    O(|delta|) + a cell-key semi-join against the materialized snapshot +
    |groups| arithmetic."""
    clog = _events_changelog(spark, sf)
    ts0 = F.timestamp_millis(F.lit(T0))
    ts1 = F.timestamp_millis(F.lit(T1))
    base_cells = snapshot(clog, at=ts0)
    delta = clog.where((F.col("stamp") > ts0) & (F.col("stamp") <= ts1))
    val = F.decode(F.col("value"), "UTF-8").cast("decimal(18,2)")
    out = incremental_snapshot_agg(
        base_cells, delta, group_cols=["attribute"], value=val
    )
    return out.select(
        "attribute",
        "n_cells",
        F.col("total").cast("double").alias("total_value"),
    )


SQL_IVM_AGG_APPLY = f"""
WITH s1 AS (
  SELECT user_id, event_type, value
  FROM events WHERE epoch_us(ts) <= {T1} * 1000
  QUALIFY row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY epoch_us(ts) DESC, event_id DESC) = 1)
SELECT event_type AS attribute, count(*) AS n_cells,
       sum(value::DECIMAL(18,2))::DOUBLE AS total_value
FROM s1 GROUP BY 1
"""


def q_semantic_decontaminate(spark, sf):
    """Embedding-based decontamination: flag TRAIN vectors whose cosine to
    any EVAL vector clears the threshold — the semantic sibling of the
    exact/MinHash/Bloom decontaminators, run entirely on the bucketed
    sign-LSH candidate path (functions/dedup.py::embedding_decontaminate:
    cross-frame bucket equi-joins, ≈ L·|train|·|eval|/2^k candidates,
    never a cross product; the eval side is small by nature and hash-joins
    as the build side). Top eval match per contaminated train vector via
    one window (cosine DESC, eval id ASC — deterministic). Oracle mirrors
    the md5 hyperplane buckets, exact cosine, and the QUALIFY verbatim."""
    from proxima_platform_spark.functions.dedup import embedding_decontaminate

    emb = _load(spark, sf, "embeddings")
    dim = emb.select(F.size("embedding").alias("d")).first().d
    train = emb.where(F.col("vec_id") % 10 != 0)
    ev = emb.where(F.col("vec_id") % 10 == 0)
    hits = embedding_decontaminate(
        train, ev, threshold=0.40, num_planes=4, num_tables=8, dim=dim
    )
    return hits.select(
        "vec_id", "eval_id", F.round("cosine", 6).alias("cosine")
    )


SQL_SEMANTIC_DECONTAMINATE = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT vec_id, v,
    {_sql_lsh_bucket(4, 0)} AS b0,
    {_sql_lsh_bucket(4, 4)} AS b1,
    {_sql_lsh_bucket(4, 8)} AS b2,
    {_sql_lsh_bucket(4, 12)} AS b3,
    {_sql_lsh_bucket(4, 16)} AS b4,
    {_sql_lsh_bucket(4, 20)} AS b5,
    {_sql_lsh_bucket(4, 24)} AS b6,
    {_sql_lsh_bucket(4, 28)} AS b7
  FROM base),
cand AS (
  SELECT t.vec_id AS vec_id, e.vec_id AS eval_id
  FROM b t JOIN b e ON t.b0 = e.b0
  WHERE t.vec_id % 10 != 0 AND e.vec_id % 10 = 0
  UNION
  SELECT t.vec_id, e.vec_id FROM b t JOIN b e ON t.b1 = e.b1
  WHERE t.vec_id % 10 != 0 AND e.vec_id % 10 = 0
  UNION
  SELECT t.vec_id, e.vec_id FROM b t JOIN b e ON t.b2 = e.b2
  WHERE t.vec_id % 10 != 0 AND e.vec_id % 10 = 0
  UNION
  SELECT t.vec_id, e.vec_id FROM b t JOIN b e ON t.b3 = e.b3
  WHERE t.vec_id % 10 != 0 AND e.vec_id % 10 = 0
  UNION
  SELECT t.vec_id, e.vec_id FROM b t JOIN b e ON t.b4 = e.b4
  WHERE t.vec_id % 10 != 0 AND e.vec_id % 10 = 0
  UNION
  SELECT t.vec_id, e.vec_id FROM b t JOIN b e ON t.b5 = e.b5
  WHERE t.vec_id % 10 != 0 AND e.vec_id % 10 = 0
  UNION
  SELECT t.vec_id, e.vec_id FROM b t JOIN b e ON t.b6 = e.b6
  WHERE t.vec_id % 10 != 0 AND e.vec_id % 10 = 0
  UNION
  SELECT t.vec_id, e.vec_id FROM b t JOIN b e ON t.b7 = e.b7
  WHERE t.vec_id % 10 != 0 AND e.vec_id % 10 = 0
),
-- quantized fixed-point cosine (floor(x*1e6) int64) — the exact-integer
-- Gram family the Spark Arrow probe computes; order-independent dots
nn AS (
  SELECT vec_id,
         [floor(x * 1000000.0)::BIGINT for x in v] AS q,
         list_sum(list_transform([floor(x * 1000000.0)::BIGINT for x in v],
                                 x -> x * x))::DOUBLE AS n2
  FROM base
),
scored AS (
  SELECT c.vec_id, c.eval_id,
         list_sum(list_transform(range(len(a.q)), i -> a.q[i+1] * b2.q[i+1]))::DOUBLE
           / (sqrt(a.n2) * sqrt(b2.n2)) AS cos
  FROM cand c
  JOIN nn a ON a.vec_id = c.vec_id
  JOIN nn b2 ON b2.vec_id = c.eval_id
  WHERE a.n2 > 0 AND b2.n2 > 0
    AND list_sum(list_transform(range(len(a.q)), i -> a.q[i+1] * b2.q[i+1]))::DOUBLE
        / (sqrt(a.n2) * sqrt(b2.n2)) > 0.40
)
SELECT vec_id, eval_id, round(cos, 6) AS cosine
FROM scored
QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY cos DESC, eval_id ASC) = 1
"""


def q_similarity_join_exact(spark, sf):
    """EXACT set-similarity self-join with lossless prefix filtering
    (functions/dedup.similarity_join_prefix — AllPairs/PPJoin shape):
    every document pair with 3-gram-shingle Jaccard >= 0.5, recall 1.0
    by construction. The oracle is the NAIVE all-pairs join — equality
    proves the prefix + size filters drop no true pair. Plan: candidate
    generation is an equi-join on rarest-first prefix shingles (hash-
    partitioned, no cartesian, no window/global sort — the struct(df,
    shingle) composite IS the order), verification touches candidates
    only. The exact complement of dedup_minhash's approximate recall."""
    from proxima_platform_spark.functions.dedup import similarity_join_prefix

    docs = _load(spark, sf, "documents")
    return similarity_join_prefix(docs, "doc_id", "text", n=3, threshold=0.5)


SQL_SIMILARITY_JOIN_EXACT = rf"""
WITH {_sql_shingle_set_ctes()}, j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) AS n_inter,
         len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS n_union
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, n_inter,
       round(n_inter::DOUBLE / n_union::DOUBLE, 6) AS jac
FROM j
WHERE n_union > 0 AND n_inter::DOUBLE / n_union::DOUBLE >= 0.5
"""


def q_snm_dedup(spark, sf):
    """Sorted-neighborhood dedup (functions/dedup.snm_candidate_pairs —
    Hernandez-Stolfo SNM): sort documents by a 40-char normalized-text
    prefix, pair each with its 3 successors in global sort order (O(n·w)
    candidates, not n²), verify with exact 3-gram-shingle Jaccard >= 0.5.
    Rank is bucket-parallel row_number + broadcast cumulative offsets —
    no single-partition window; pairing is an equi-join on rank+d. On
    this corpus SNM's neighbor window recovers 25/25 of the exact-join
    truth (cross-check: similarity_join_exact) from ~1.5k candidates.

    Verification shape: shingle arrays are built ONCE per document (the
    interpreted higher-order transform is the expensive part — it is not
    whole-stage-codegen'd), staged, and joined to both sides of the
    candidate frame; the per-pair work is then two codegen'd array
    set-ops on pre-built arrays. Scoring shingles inline per pair
    re-evaluates the transform up to 8x per candidate (both sides x
    intersect/union x filter+project) — measured 60s vs <2s at sf0.1."""
    from proxima_platform_spark.functions.dedup import (
        ngram_shingles,
        normalize_text,
        snm_candidate_pairs,
    )

    docs = _load(spark, sf, "documents")
    cand = snm_candidate_pairs(
        docs,
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, 40),
        window=4,
        bucket_chars=1,
    )
    # repartition first: the sf0.1 documents parquet scans as ONE
    # partition, and the interpreted shingle transform would run
    # single-threaded (5.6s -> 1.0s measured); sized to the cluster
    # (defaultParallelism), not a constant — same rule as the
    # triangle_counts probe (functions/graph.py)
    sh = docs.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("doc_id").alias("__id"),
        F.array_distinct(ngram_shingles(F.col("text"), 3)).alias("__s"),
    ).localCheckpoint(eager=False)
    sa = sh.select(F.col("__id").alias("id_a"), F.col("__s").alias("__sa"))
    sb = sh.select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = F.size(F.array_union("__sa", "__sb")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(jac >= 0.5)
        .select(
            "id_a", "id_b", "rank_a", "rank_b", F.round(jac, 6).alias("jac")
        )
    )


SQL_SNM_DEDUP = rf"""
WITH keyed AS (
  SELECT doc_id,
         substr({_sql_normalize()}, 1, 40) AS k
  FROM documents
), ranked AS (
  SELECT doc_id, k, row_number() OVER (ORDER BY k, doc_id) AS rnk FROM keyed
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.rnk AS rank_a, b.rnk AS rank_b
  FROM ranked a JOIN ranked b ON b.rnk - a.rnk BETWEEN 1 AND 3
), {_sql_shingle_set_ctes()}, j AS (
  SELECT id_a, id_b, rank_a, rank_b,
         CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
              THEN len(list_intersect(a.s, b.s))::DOUBLE
                   / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE
              ELSE 0.0 END AS jac
  FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
)
SELECT id_a, id_b, rank_a, rank_b, round(jac, 6) AS jac
FROM j WHERE jac >= 0.5
"""


def q_scd2_history(spark, sf):
    """SCD2 validity intervals (changelog.history_intervals): every
    VERSION of each device.<n> cell as [valid_from, valid_to) with
    is_current — the interval read of the same history
    wildcard_tombstone_snapshot collapses to a point (tombstones close
    intervals on every attribute under device.*; same-stamp writes
    survive via the tombstone-first sort rule). Extends scd2_intervals
    (upsert-only lead) with delete + deleteWildcard retraction semantics. is_current rows ==
    snapshot() is pinned in tests. One window per cell, no global sort;
    tombstone expansion broadcasts."""
    from proxima_platform_spark.changelog import history_intervals

    hist = history_intervals(_device_changelog(spark, sf))
    return hist.select(
        "key",
        "attribute",
        F.decode(F.col("value"), "UTF-8").alias("value"),
        _stamp_ms("valid_from").alias("valid_from_ms"),
        _stamp_ms("valid_to").alias("valid_to_ms"),
        "is_current",
    )


SQL_SCD2_HISTORY = """
WITH inst AS (
  SELECT user_id::VARCHAR AS key,
         'device.' || (event_id % 5)::VARCHAR AS attribute,
         epoch_us(ts) AS stamp_us, event_id AS seq,
         FALSE AS del, value::VARCHAR AS v, 1 AS prio
  FROM events WHERE event_type <> 'error'
), attrs AS (
  SELECT DISTINCT key, attribute FROM inst
), tomb AS (
  SELECT user_id::VARCHAR AS key, epoch_us(ts) AS stamp_us, event_id AS seq
  FROM events WHERE event_type = 'error'
), synth AS (
  SELECT a.key, a.attribute, t.stamp_us, t.seq,
         TRUE AS del, NULL::VARCHAR AS v, 0 AS prio
  FROM tomb t JOIN attrs a ON a.key = t.key
), ev AS (
  SELECT * FROM inst UNION ALL SELECT * FROM synth
), led AS (
  SELECT key, attribute, del, v, stamp_us,
         lead(stamp_us) OVER (
             PARTITION BY key, attribute ORDER BY stamp_us, prio, seq
         ) AS to_us
  FROM ev
)
SELECT key, attribute, v AS value,
       stamp_us // 1000 AS valid_from_ms,
       to_us // 1000 AS valid_to_ms,
       to_us IS NULL AS is_current
FROM led WHERE NOT del
"""


def q_triangle_counts(spark, sf):
    """Per-node triangle counts (functions/graph.triangle_counts) over
    the part co-purchase graph (parts sharing an order, edges from one
    bounded per-order self-join). Degree-ordered node-iterator (Suri &
    Vassilvitskii): orientation bounds every wedge fan-out by O(sqrt(m)),
    so the Zipf-hub skew that makes naive triangle joins explode at
    graph scale becomes sqrt-bounded; each triangle is found exactly
    once from its min-(degree,id) corner. The id-oriented DuckDB oracle
    proves orientation-invariance of the counts."""
    from proxima_platform_spark.functions.graph import triangle_counts

    li = _load(spark, sf, "lineitem")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "o").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    )
    return triangle_counts(edges)


SQL_TRIANGLE_COUNTS = f"""
WITH e AS (
{_sql_copurchase_edges()}
), {_sql_triangle_nodes()}
SELECT node, count(*) AS n_tri FROM nodes GROUP BY node
"""


def q_bloom_join_prune(spark, sf):
    """Bloom-reduced inner join (functions/sketch.bloom_join_reduce —
    the semi-join-reduction rewrite): revenue of lineitems belonging to
    Q1-1995 urgent orders. The selective dim predicate lives on the other
    side of the join's exchange, so a plain join shuffles the FULL fact
    table; here the dim keys' Bloom bitset (1-row broadcast, codegen bit
    probes) drops non-matching lineitems inside their own scan stage and
    only survivors reach the shuffle. The oracle is the PLAIN join —
    equality proves the bitset dropped no true row (no-false-negative
    contract; false positives die in the exact join)."""
    from proxima_platform_spark.functions.sketch import bloom_join_reduce

    orders = (
        _load(spark, sf, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-04-01"))
        )
        .select(F.col("o_orderkey").alias("k"), "o_orderdate")
    )
    li = _load(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_extendedprice", "l_discount"
    )
    joined = bloom_join_reduce(li, orders, "k")
    return joined.groupBy("o_orderdate").agg(
        F.count(F.lit(1)).alias("n_lines"),
        _dsum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
        ).alias("revenue"),
    )


SQL_BLOOM_JOIN_PRUNE = """
SELECT o.o_orderdate,
       count(*) AS n_lines,
       sum((l.l_extendedprice * (1.0 - l.l_discount))::DECIMAL(18,4))::DOUBLE
           AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate < TIMESTAMP '1995-04-01'
GROUP BY o.o_orderdate
"""


def q_leakage_safe_split(spark, sf):
    """Leakage-safe train/validation/test split
    (functions/sampling.leakage_safe_split): the split key is the
    EXACT-DUP GROUP key (md5 of normalized text), not the row id, so
    every member of a duplicate group lands in the same split and a
    near-verbatim copy of a test document can never sit in train —
    decontamination by construction, zero shuffle (pure codegen
    expression over the scan)."""
    from proxima_platform_spark.functions.dedup import exact_dup_key
    from proxima_platform_spark.functions.sampling import leakage_safe_split

    docs = _load(spark, sf, "documents")
    split = leakage_safe_split(
        docs,
        group_key=exact_dup_key(F.col("text")),
        fractions={"train": 0.8, "validation": 0.1, "test": 0.1},
        salt="lsplit-v1",
    )
    return docs.select("doc_id", split.alias("split"))


# same cumulative ranges as hash_split, keyed by the dup-group md5:
# sorted-name order => test [0, 0.1) -> train [0.1, 0.9) -> validation
_LSPLIT_KEY = _sql_md5_int(f"""'lsplit-v1' ||
               md5({_sql_normalize()})
           """)

SQL_LEAKAGE_SAFE_SPLIT = rf"""
WITH keyed AS (
    SELECT doc_id,
           {_LSPLIT_KEY} % 1000000 AS sk
    FROM documents
)
{_sql_hash_split_select()}
"""


def q_negative_sampling(spark, sf):
    """Deterministic contrastive negatives
    (functions/sampling.negative_samples): 3 negatives per anchor doc,
    drawn from one md5-assigned partner bucket (candidate space n/16 per
    anchor — an equi-join, never all-pairs), ranked by a pair hash, with
    the anchor's exact-dup group EXCLUDED (a near-duplicate is a false
    negative). Retry-stable and engine-mirrorable: every draw is a pure
    md5 expression."""
    from proxima_platform_spark.functions.dedup import exact_dup_key
    from proxima_platform_spark.functions.sampling import negative_samples

    docs = _load(spark, sf, "documents")
    out = negative_samples(
        docs,
        id_col="doc_id",
        k=3,
        exclude_key=exact_dup_key(F.col("text")),
        buckets=16,
        salt="neg-v1",
    )
    return out.select(
        "anchor_id", "negative_id", F.col("rank").cast("long").alias("rank")
    )


_NEG_PAIR_KEY = _sql_md5_int("""'neg-v1' || CAST(a.doc_id AS VARCHAR) || '|'
                            || CAST(c.doc_id AS VARCHAR)""")

SQL_NEGATIVE_SAMPLING = rf"""
WITH b AS (
    SELECT doc_id,
           ({_sql_md5_int("'neg-v1' || CAST(doc_id AS VARCHAR)")}
               % 1000000) % 16 AS own,
           md5({_sql_normalize()}) AS ex
    FROM documents
), pairs AS (
    SELECT a.doc_id AS anchor_id, c.doc_id AS negative_id,
           {_NEG_PAIR_KEY}
               % 1000000 AS pk
    FROM b a JOIN b c ON (a.own + 1) % 16 = c.own AND a.ex <> c.ex
), r AS (
    SELECT anchor_id, negative_id,
           row_number() OVER (PARTITION BY anchor_id
                              ORDER BY pk, negative_id) AS rank
    FROM pairs
)
SELECT anchor_id, negative_id, rank FROM r WHERE rank <= 3
"""


def q_record_linkage(spark, sf):
    """Record linkage (functions/linkage.record_linkage_pairs — the
    deterministic Fellegi-Sunter shape): sorted-neighborhood blocking on
    a 40-char normalized prefix, then a weighted field-agreement score
    per candidate pair — levenshtein similarity on the 48-char prefix
    (weight .8) + exact agreement on lang and source (.1 each). Pairs
    scoring >= 0.8 survive, per-field similarities exposed for the FS
    match/possible/non-match triage. All comparators are codegen
    expressions; the pair space is O(n·w) from the blocking, never n²."""
    from proxima_platform_spark.functions.dedup import normalize_text
    from proxima_platform_spark.functions.linkage import record_linkage_pairs

    docs = _load(spark, sf, "documents")
    recs = docs.select(
        "doc_id",
        F.substring(normalize_text(F.col("text")), 1, 48).alias("prefix"),
        "lang",
        "source",
    )
    return record_linkage_pairs(
        recs,
        "doc_id",
        block_key=F.substring(F.col("prefix"), 1, 40),
        fields=[
            ("prefix", "levenshtein", 0.8),
            ("lang", "exact", 0.1),
            ("source", "exact", 0.1),
        ],
        threshold=0.8,
        window=4,
        bucket_chars=1,
    )


SQL_RECORD_LINKAGE = rf"""
WITH recs AS (
    SELECT doc_id,
           substr({_sql_normalize()}, 1, 48)
               AS prefix,
           lang, source
    FROM documents
), ranked AS (
    SELECT doc_id, prefix, lang, source,
           row_number() OVER (ORDER BY substr(prefix, 1, 40), doc_id) AS rnk
    FROM recs
), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.prefix AS pa, b.prefix AS pb,
           a.lang AS la, b.lang AS lb,
           a.source AS sa, b.source AS sb
    FROM ranked a JOIN ranked b ON b.rnk - a.rnk BETWEEN 1 AND 3
), scored AS (
    SELECT id_a, id_b,
           round(1.0 - levenshtein(pa, pb)::DOUBLE
                     / greatest(len(pa), len(pb), 1)::DOUBLE, 6) AS sim_prefix,
           CASE WHEN la = lb THEN 1.0 ELSE 0.0 END AS sim_lang,
           CASE WHEN sa = sb THEN 1.0 ELSE 0.0 END AS sim_source,
           round((0.8 * (1.0 - levenshtein(pa, pb)::DOUBLE
                             / greatest(len(pa), len(pb), 1)::DOUBLE)
                  + 0.1 * (CASE WHEN la = lb THEN 1.0 ELSE 0.0 END)
                  + 0.1 * (CASE WHEN sa = sb THEN 1.0 ELSE 0.0 END)) / 1.0,
                 6) AS score
    FROM cand
)
SELECT id_a, id_b, sim_prefix, sim_lang, sim_source, score
FROM scored WHERE score >= 0.8
"""


def q_dsir_resample(spark, sf):
    """DSIR importance resampling (functions/sampling.dsir_resample —
    Xie et al. NeurIPS'23): select the 100 raw docs most target-like
    under hashed word-bigram importance ratios, target = the src0 slice.
    Feature space is FIXED at 512 buckets regardless of corpus size (two
    map-side-combined count aggs + one broadcast ratio frame); selection
    is Gumbel-top-k from the md5 key family (= sampling without
    replacement proportional to the importance weight, deterministic and
    engine-replayable); top-k compiles to TakeOrderedAndProject. Scores
    use the trigram_lm_scores portability recipe: round(ln, 8) ->
    exact-decimal sum -> double."""
    from proxima_platform_spark.functions.sampling import dsir_resample

    docs = _load(spark, sf, "documents")
    target = docs.where(F.col("source") == "src0")
    out = dsir_resample(
        docs,
        target,
        id_col="doc_id",
        text="text",
        k=100,
        buckets=512,
        smooth=1.0,
        salt="dsir-v1",
    )
    return out.select(F.col("id").alias("doc_id"), "n_grams", "score")


_DSIR_GUMBEL_KEY = _sql_md5_int("""'dsir-v1' ||
                     CAST(doc_id AS VARCHAR)""")

SQL_DSIR_RESAMPLE = rf"""
WITH toks AS (
    SELECT doc_id, source,
           {_sql_tokens()} AS t
    FROM documents
), grams AS (
    SELECT doc_id, source,
           unnest(CASE WHEN len(t) >= 2
                  THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
                  ELSE [] END) AS g
    FROM toks
), keyed AS (
    SELECT doc_id, source,
           {_sql_md5_int("g")} % 512 AS b
    FROM grams
), cr AS (
    SELECT b, count(*) AS n_raw FROM keyed GROUP BY b
), ct AS (
    SELECT b, count(*) AS n_tgt FROM keyed WHERE source = 'src0' GROUP BY b
), domain AS (
    SELECT range AS b FROM range(0, 512)
), joined AS (
    SELECT d.b,
           coalesce(ct.n_tgt, 0) AS n_tgt,
           coalesce(cr.n_raw, 0) AS n_raw
    FROM domain d LEFT JOIN ct ON ct.b = d.b LEFT JOIN cr ON cr.b = d.b
), tot AS (
    SELECT sum(n_tgt) AS t_tot, sum(n_raw) AS r_tot FROM joined
), lr AS (
    SELECT b,
           round(ln(((n_tgt::DOUBLE + 1.0) / (t_tot::DOUBLE + 512.0))
                  / ((n_raw::DOUBLE + 1.0) / (r_tot::DOUBLE + 512.0))),
                 8)::DECIMAL(28,10) AS lr
    FROM joined, tot
), per_doc AS (
    SELECT k.doc_id,
           count(*) AS n_grams,
           sum(lr.lr) AS logw
    FROM keyed k JOIN lr ON lr.b = k.b
    GROUP BY k.doc_id
), gum AS (
    SELECT doc_id, n_grams,
           round(logw +
                 round(-ln(-ln((({_DSIR_GUMBEL_KEY} % 1000000)
                     + 1)::DOUBLE / 1000001.0)), 8)::DECIMAL(28,10),
                 6)::DECIMAL(28,6) AS score
    FROM per_doc
)
SELECT doc_id, n_grams, score
FROM gum ORDER BY score DESC, doc_id LIMIT 100
"""


def q_k_core(spark, sf):
    """3-core of the small-quantity part co-purchase graph
    (functions/graph.k_core — Seidman'83 round-synchronous peeling):
    every round removes ALL currently-underdegree nodes at once
    (one map-side-combined degree agg + two broadcast anti-joins, edge
    frame lazily checkpointed per round), so convergence takes peel-depth
    rounds, not node-count. Declared with rounds=8 — the fixed-iteration
    contract of pagerank_types — so the oracle replays the peels as 8
    chained CTEs; fixpoint lands by round 3 (sf0.01) / 5 (sf0.1), which
    the test pins, so 8 rounds IS the k-core."""
    from proxima_platform_spark.functions.graph import k_core

    li = _load(spark, sf, "lineitem").where(F.col("l_quantity") <= 5)
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "o").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    )
    return k_core(edges, 3, rounds=8)


def _sql_k_core(k: int = 3, rounds: int = 8) -> str:
    # MATERIALIZED: each round references its predecessor 3x (the edge
    # frame + both degree sides); inlined CTEs would re-expand the chain
    # 3^rounds times and re-open the parquet thousands of times
    head = f"""
WITH e0 AS MATERIALIZED (
{_sql_copurchase_edges(small=True)}
), s0 AS MATERIALIZED (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0)"""
    parts = [head]
    for i in range(rounds):
        parts.append(
            f", d{i} AS MATERIALIZED (SELECT a, count(*) AS c FROM s{i} GROUP BY a)"
            f", s{i + 1} AS MATERIALIZED (SELECT s.a, s.b FROM s{i} s"
            f" JOIN d{i} da ON da.a = s.a JOIN d{i} db ON db.a = s.b"
            f" WHERE da.c >= {k} AND db.c >= {k})"
        )
    parts.append(
        f"\nSELECT a AS node, count(*) AS deg FROM s{rounds}"
        f" GROUP BY a HAVING count(*) >= {k}"
    )
    return "".join(parts)


def q_label_propagation(spark, sf):
    """Community detection on the small-quantity part co-purchase graph
    (functions/graph.label_propagation — Raghavan et al. 2007, the
    deterministic synchronous rendering): each round every node adopts
    the most frequent label among neighbors + itself (self-vote damping),
    ties to the smallest label, so the run has no RNG/visit-order and the
    oracle replays the rounds as chained MATERIALIZED CTEs (the
    pagerank_int/k_core fixed-iteration contract). rounds=8 — past the
    fixture fixpoints (communities stabilize by round 6 at sf0.001 and
    round 4 at sf0.01, measured; once two consecutive rounds agree the
    deterministic round map holds the labels forever — pinned in
    tests/test_graph.py); completes the graph family next to connected
    components, pagerank, triangles/clustering and k-core."""
    from proxima_platform_spark.functions.graph import label_propagation

    li = _load(spark, sf, "lineitem").where(F.col("l_quantity") <= 5)
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "o").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    )
    return label_propagation(edges, rounds=8)


def _sql_label_propagation(rounds: int = 8) -> str:
    # MATERIALIZED for the same reason as _sql_k_core: each round
    # references its predecessor multiple times
    head = f"""
WITH e0 AS MATERIALIZED (
{_sql_copurchase_edges(small=True)}
), s0 AS MATERIALIZED (SELECT u AS n, v AS m FROM e0 UNION ALL SELECT v, u FROM e0),
l0 AS MATERIALIZED (SELECT DISTINCT n AS node, n AS lab FROM s0)"""
    parts = [head]
    for i in range(rounds):
        parts.append(
            f", v{i} AS MATERIALIZED ("
            f" SELECT s.n AS node, l.lab FROM s0 s JOIN l{i} l ON l.node = s.m"
            f" UNION ALL SELECT node, lab FROM l{i})"
            f", c{i} AS MATERIALIZED ("
            f" SELECT node, lab, count(*) AS c FROM v{i} GROUP BY node, lab)"
            f", l{i + 1} AS MATERIALIZED ("
            f" SELECT node, lab FROM ("
            f"  SELECT node, lab, row_number() OVER"
            f"   (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c{i})"
            f" WHERE rn = 1)"
        )
    parts.append(f"\nSELECT node, lab AS label FROM l{rounds}")
    return "".join(parts)


def q_cuped_lift(spark, sf):
    """CUPED variance-reduced A/B readout
    (functions/experiment.cuped_adjusted_means — Deng et al. WSDM'13):
    per-user experiment-period value sum (Jan 15+) residualized on the
    pre-period sum (Jan 1-14), variant = user_id % 2 (synthetic
    assignment; X predates it, so the adjustment is unbiased by
    construction). One conditional agg to the per-user frame, one 1-row
    pooled moment agg (broadcast), one 2-row per-variant agg; sums exact
    decimals, θ and means a fixed IEEE double op sequence — bit-replayed
    by the oracle."""
    from proxima_platform_spark.functions.experiment import cuped_adjusted_means

    ev = _events(spark, sf)
    cut = 1705276800000  # 2024-01-15T00:00:00Z epoch ms
    # decimal cast INSIDE the sum: a double accumulation would be
    # order-dependent in the last ulp and break the oracle hash
    units = ev.groupBy(F.col("user_id")).agg(
        F.sum(
            F.when(F.col("ts_ms") < cut, F.col("value"))
            .otherwise(F.lit(0.0))
            .cast("decimal(18,2)")
        ).alias("x"),
        F.sum(
            F.when(F.col("ts_ms") >= cut, F.col("value"))
            .otherwise(F.lit(0.0))
            .cast("decimal(18,2)")
        ).alias("y"),
    ).select(F.pmod(F.col("user_id"), F.lit(2)).alias("variant"), "x", "y")
    return cuped_adjusted_means(units, variant="variant", x="x", y="y")


SQL_CUPED_LIFT = """
WITH units AS (
    SELECT user_id % 2 AS variant,
           sum((CASE WHEN epoch_ms(ts) < 1705276800000
                     THEN value ELSE 0.0 END)::DECIMAL(18,2)) AS x,
           sum((CASE WHEN epoch_ms(ts) >= 1705276800000
                     THEN value ELSE 0.0 END)::DECIMAL(18,2)) AS y
    FROM events GROUP BY user_id
), g AS (
    SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum((x * x)::DECIMAL(38,4)) AS sxx,
           sum((x * y)::DECIMAL(38,4)) AS sxy
    FROM units
), t AS (
    SELECT n, sx,
           CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) <> 0.0
                THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                     / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                ELSE 0.0 END AS theta
    FROM g
), pv AS (
    SELECT variant, count(*) AS n_units, sum(x) AS sxv, sum(y) AS syv
    FROM units GROUP BY variant
)
SELECT variant, n_units,
       round(syv::DOUBLE / n_units::DOUBLE, 6) AS mean_y,
       round(syv::DOUBLE / n_units::DOUBLE
             - theta * (sxv::DOUBLE / n_units::DOUBLE
                        - sx::DOUBLE / n::DOUBLE), 6) AS mean_y_adj,
       round(theta, 6) AS theta
FROM pv, t
"""


def q_survival_km(spark, sf):
    """Kaplan-Meier user-retention curve
    (functions/timeseries.kaplan_meier): per-(user, event_type) observed
    engagement lifetime in days (first to last event of that type),
    right-censored at the 2024-01-24 horizon — units still active past
    it count in every at-risk denominator but never as churn events
    (dropping them is the classic churn overestimate). The curve frame
    is |distinct days| rows (one map-side-combined agg from the
    per-user frame), so the windows sort ~30 rows, never users. The
    survival product is PURE INTEGER arithmetic (scaled 1e12, per-step
    round-half-up S' = (2*S*(n-d)+n) DIV (2n) folded over the ordered
    steps) — no transcendental ever reaches a hashed column; the r08
    driver red proved round(ln/exp) margins as thin as 7.1e-11 flip
    under a different libm. DuckDB replays the identical fold with a
    recursive CTE over HUGEINT."""
    from proxima_platform_spark.functions.timeseries import kaplan_meier

    ev = _events(spark, sf)
    horizon = 1706054400000  # 2024-01-24T00:00:00Z epoch ms
    units = ev.groupBy("user_id", "event_type").agg(
        F.min("ts_ms").alias("__first"),
        F.max("ts_ms").alias("__last"),
    ).select(
        # integer DIV, not a double-divide + cast: cast-of-double rounds
        # half-away in DuckDB but truncates in Spark
        F.expr("(__last - __first) DIV 86400000").alias("obs_time"),
        (F.col("__last") < horizon).cast("int").alias("event"),
    )
    return kaplan_meier(units, time_col="obs_time", event_col="event")


SQL_SURVIVAL_KM = """
WITH RECURSIVE units AS (
    SELECT (max(epoch_ms(ts)) - min(epoch_ms(ts))) // 86400000 AS obs_time,
           CASE WHEN max(epoch_ms(ts)) < 1706054400000 THEN 1 ELSE 0 END
               AS event
    FROM events GROUP BY user_id, event_type
), per_t AS (
    SELECT obs_time AS t, sum(event) AS d, count(*) AS c
    FROM units GROUP BY obs_time
), risked AS (
    SELECT t, d, c,
           sum(c) OVER (ORDER BY t DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
    FROM per_t
), steps AS (
    SELECT row_number() OVER (ORDER BY t) AS rn, t,
           n::HUGEINT AS n, d::HUGEINT AS d
    FROM risked WHERE d > 0
), surv AS (
    SELECT rn, t, n, d,
           (2 * 1000000000000::HUGEINT * (n - d) + n) // (2 * n) AS s
    FROM steps WHERE rn = 1
    UNION ALL
    SELECT nx.rn, nx.t, nx.n, nx.d,
           (2 * surv.s * (nx.n - nx.d) + nx.n) // (2 * nx.n) AS s
    FROM surv JOIN steps nx ON nx.rn = surv.rn + 1
)
SELECT t, n::BIGINT AS n_at_risk, d::BIGINT AS n_events,
       s::DOUBLE / 1e12 AS survival
FROM surv
"""


def q_matryoshka_fidelity(spark, sf):
    """Matryoshka truncation fidelity (Kusupati et al. NeurIPS'22 MRL
    eval shape): how well the 8/16/32-dim PREFIXES of the 64-dim
    embeddings preserve full cosine similarity over candidate pairs —
    the go/no-go measurement before switching an ANN index to truncated
    vectors (truncation cuts index memory 2-8x; this query prices the
    recall you pay). Per-pair |cos_k - cos_64| rounds to 8 decimals and
    accumulates as exact decimals (order-independent mean); all cosine
    arithmetic is the same zip_with double expression family the ANN
    queries mirror in SQL. Pair set: consecutive vec_ids — a fixed
    O(n) probe set, no quadratic pair space."""
    from proxima_platform_spark.functions.similarity import cosine_similarity

    emb = _load(spark, sf, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, a["id_a"] + 1 == b["id_b"])
    full = cosine_similarity(F.col("va"), F.col("vb"))

    def mad(k: int):
        ck = cosine_similarity(
            F.slice(F.col("va"), 1, k), F.slice(F.col("vb"), 1, k)
        )
        d = F.round(F.abs(ck - full), 8).cast("decimal(28,10)")
        return F.round(
            (F.sum(d).cast("double") / F.count(F.lit(1))), 6
        ).alias(f"mad_{k}")

    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        mad(8),
        mad(16),
        mad(32),
        F.round(
            F.sum(F.round(full, 8).cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_cos_full"),
    )


SQL_MATRYOSHKA_FIDELITY = """
WITH pairs AS (
    SELECT a.embedding::DOUBLE[] AS va, b.embedding::DOUBLE[] AS vb
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
), scored AS (
    SELECT
      list_dot_product(va, vb)
        / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
        AS c_full,
      list_dot_product(va[1:8], vb[1:8])
        / (sqrt(list_dot_product(va[1:8], va[1:8]))
           * sqrt(list_dot_product(vb[1:8], vb[1:8]))) AS c8,
      list_dot_product(va[1:16], vb[1:16])
        / (sqrt(list_dot_product(va[1:16], va[1:16]))
           * sqrt(list_dot_product(vb[1:16], vb[1:16]))) AS c16,
      list_dot_product(va[1:32], vb[1:32])
        / (sqrt(list_dot_product(va[1:32], va[1:32]))
           * sqrt(list_dot_product(vb[1:32], vb[1:32]))) AS c32
    FROM pairs
)
SELECT count(*) AS n_pairs,
       round(sum(round(abs(c8 - c_full), 8)::DECIMAL(28,10))::DOUBLE
             / count(*), 6) AS mad_8,
       round(sum(round(abs(c16 - c_full), 8)::DECIMAL(28,10))::DOUBLE
             / count(*), 6) AS mad_16,
       round(sum(round(abs(c32 - c_full), 8)::DECIMAL(28,10))::DOUBLE
             / count(*), 6) AS mad_32,
       round(sum(round(c_full, 8)::DECIMAL(28,10))::DOUBLE
             / count(*), 6) AS mean_cos_full
FROM scored
"""


def _anchor_scored(spark, sf):
    """(vec_id, score, label01) for all non-anchor embeddings: score =
    round(cosine to vec_id 0, 6) — rounded BEFORE ranking so tie groups
    are identical across engines — label01 = same-label-as-anchor."""
    from proxima_platform_spark.functions.similarity import cosine_similarity

    emb = _load(spark, sf, "embeddings")
    anchor = emb.where(F.col("vec_id") == 0).first()
    qv = F.array(*[F.lit(float(x)) for x in anchor["embedding"]])
    return emb.where(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("id"),
        F.round(cosine_similarity(F.col("embedding"), qv), 6).alias("score"),
        (F.col("label") == int(anchor["label"])).cast("int").alias("label"),
    )


_SQL_ANCHOR_SCORED = """
WITH q AS (
    SELECT embedding::DOUBLE[] AS qv, label AS ql FROM embeddings WHERE vec_id = 0
), scored AS (
    SELECT vec_id AS id,
           round(list_dot_product(embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))), 6) AS s,
           CASE WHEN label = ql THEN 1 ELSE 0 END AS l
    FROM embeddings, q WHERE vec_id <> 0
)"""


def q_retrieval_auc(spark, sf):
    """Exact tie-aware Mann-Whitney AUC (functions/evalmetrics.rank_auc)
    of cosine-to-anchor predicting same-label-as-anchor — the one-number
    ranking quality of the embedding space, computed via the rank-sum
    identity with DOUBLED ranks: every quantity is int64 until one final
    double division (no threshold sweeps, no trapezoids). The rank
    window runs over |distinct scores| rows, not vectors."""
    from proxima_platform_spark.functions.evalmetrics import rank_auc

    return rank_auc(_anchor_scored(spark, sf))


SQL_RETRIEVAL_AUC = (
    _SQL_ANCHOR_SCORED
    + """, g AS (
    SELECT s, count(*) AS cnt, sum(l) AS pos FROM scored GROUP BY s
), r AS (
    SELECT pos, cnt,
           coalesce(sum(cnt) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
    FROM g
), a AS (
    SELECT sum(pos) AS n_pos, sum(cnt - pos) AS n_neg,
           sum((2 * below + cnt + 1) * pos) AS rsum2
    FROM r
)
SELECT n_pos::BIGINT AS n_pos, n_neg::BIGINT AS n_neg,
       round((rsum2 - n_pos * (n_pos + 1))::DOUBLE
             / (2.0 * n_pos::DOUBLE * n_neg::DOUBLE), 6) AS auc
FROM a
"""
)


def q_retrieval_precision(spark, sf):
    """precision@k (functions/evalmetrics.precision_at_k) of the same
    anchor retrieval at k = 1/5/10/50: fraction of same-label items
    among the k most-cosine-similar, under the total (score desc, id)
    order. One rank window serves every k."""
    from proxima_platform_spark.functions.evalmetrics import precision_at_k

    return precision_at_k(
        _anchor_scored(spark, sf), [1, 5, 10, 50],
        id_col="id", score="score", label="label",
    )


SQL_RETRIEVAL_PRECISION = (
    _SQL_ANCHOR_SCORED
    + """, ranked AS (
    SELECT id, l, row_number() OVER (ORDER BY s DESC, id) AS r FROM scored
)
SELECT k, sum(l)::BIGINT AS n_hits,
       round(sum(l)::DOUBLE / count(*), 6) AS precision
FROM ranked, (SELECT unnest([1, 5, 10, 50]) AS k)
WHERE r <= k GROUP BY k
"""
)


def q_contamination_report(spark, sf):
    """Span-level contamination AUDIT (the report the drop-based
    decontaminators — exact_decontaminate, fuzzy_decontaminate,
    semantic_decontaminate — act on blindly): for every (eval doc,
    train doc) pair sharing >= 3 distinct 3-gram shingles, the shared
    count and the fraction of the eval doc's grams covered — what a
    curation team reviews BEFORE deciding drop thresholds. Eval side
    (doc_id < 25) is vocabulary-sized and broadcasts; the train corpus
    never shuffles by anything but the gram equi-join key, and pair
    volume is bounded by shared-gram matches, never |eval|x|train|."""
    from proxima_platform_spark.functions.dedup import (
        ngram_shingles,
        normalize_text,
    )

    docs = _load(spark, sf, "documents").select(
        "doc_id",
        F.array_distinct(ngram_shingles(normalize_text(F.col("text")), 3)).alias(
            "__g"
        ),
    )
    ev = docs.where(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("eval_id"),
        F.size("__g").alias("__n_eval"),
        F.explode("__g").alias("__s"),
    )
    tr = docs.where(F.col("doc_id") >= 25).select(
        F.col("doc_id").alias("train_id"), F.explode("__g").alias("__s")
    )
    return (
        tr.join(F.broadcast(ev), "__s")
        .groupBy("train_id", "eval_id", "__n_eval")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 3)
        .select(
            "eval_id",
            "train_id",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("__n_eval"), 6
            ).alias("eval_frac"),
        )
    )


SQL_CONTAMINATION_REPORT = rf"""
WITH sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
                 THEN [array_to_string(t[i:i+2], ' ')
                       for i in range(1, len(t) - 1)]
                 ELSE [] END) AS g
    FROM (SELECT doc_id,
                 {_sql_tokens(indent=30)} AS t
          FROM documents)
), ev AS (
    SELECT doc_id AS eval_id, len(g) AS n_eval, unnest(g) AS s
    FROM sh WHERE doc_id < 25
), tr AS (
    SELECT doc_id AS train_id, unnest(g) AS s FROM sh WHERE doc_id >= 25
)
SELECT eval_id, train_id, count(*) AS n_shared,
       round(count(*)::DOUBLE / n_eval, 6) AS eval_frac
FROM tr JOIN ev USING (s)
GROUP BY train_id, eval_id, n_eval
HAVING count(*) >= 3
"""


def q_clustering_coefficient(spark, sf):
    """Per-node local clustering coefficient c = 2T / (d(d-1)) over the
    small-quantity co-purchase graph — the standard graph-cohesion
    readout composed from the degree-oriented triangle counter
    (functions/graph.triangle_counts) and one map-side-combined degree
    agg; left join keeps triangle-free nodes at c = 0. Micro-unit
    output (round(c·1e6) as bigint) so the division is one fixed double
    op mirrored exactly."""
    from proxima_platform_spark.functions.graph import triangle_counts

    li = _load(spark, sf, "lineitem").where(F.col("l_quantity") <= 5)
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "o").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    ).localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangle_counts(edges)
    c = (
        F.lit(2.0)
        * F.coalesce(F.col("n_tri"), F.lit(0)).cast("double")
        / (F.col("deg").cast("double") * (F.col("deg") - 1).cast("double"))
    )
    return deg.join(tri.withColumnRenamed("node", "node2"),
                    deg["node"] == F.col("node2"), "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
        F.when(F.col("deg") > 1, F.round(c * 1_000_000, 0).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("cc_micro"),
    )


SQL_CLUSTERING_COEFFICIENT = f"""
WITH e AS (
{_sql_copurchase_edges(small=True)}
), deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
), {_sql_triangle_nodes()}, ntri AS (
  SELECT node, count(*) AS n_tri FROM nodes GROUP BY node
)
SELECT d.node, d.deg, coalesce(t.n_tri, 0) AS n_tri,
       CASE WHEN d.deg > 1
            THEN round(2.0 * coalesce(t.n_tri, 0)::DOUBLE
                       / (d.deg::DOUBLE * (d.deg - 1)::DOUBLE)
                       * 1000000, 0)::BIGINT
            ELSE 0 END AS cc_micro
FROM deg d LEFT JOIN ntri t ON t.node = d.node
"""


# ===========================================================================
# driver contract
# ===========================================================================


def q_kneser_ney_score(spark, sf):
    """Interpolated Kneser-Ney bigram LM fluency per document
    (functions/ranking.py::kneser_ney_scores) — the KenLM/CCNet-class
    quality filter with the continuation-probability fix for the
    unigram-backoff pathology. All counts exact int64, ratios
    correctly-rounded IEEE doubles, the one ln per bigram immediately
    quantized (round 8 → decimal, the trigram recipe) and mean'd as
    exact integers; tools/margin_check.py audits the ln site. Stats are
    the order-2 window cascade of kn_scores_from_counts."""
    from proxima_platform_spark.functions.ranking import kneser_ney_scores

    docs = _load(spark, sf, "documents")
    return kneser_ney_scores(docs)



def q_kneser_ney3_score(spark, sf):
    """Interpolated Kneser-Ney TRIGRAM LM fluency per document
    (functions/ranking.py::kneser_ney3_scores) — one order up from the
    bigram filter toward CCNet's 5-gram KenLM, with the full recursive
    continuation backoff (middle order runs on N1+(·,v,w) continuation
    counts, lowest on middle-order types). All counts exact int64, the
    one ln per trigram immediately quantized (round 8 → decimal),
    margin-audited; stats bounded by corpus trigram TYPES (the order-3
    window cascade of kn_scores_from_counts)."""
    from proxima_platform_spark.functions.ranking import kneser_ney3_scores

    docs = _load(spark, sf, "documents")
    return kneser_ney3_scores(docs)



def q_kneser_ney3_mkn_score(spark, sf):
    """MODIFIED Kneser-Ney trigram LM fluency per document
    (functions/ranking.py::kneser_ney3_scores(modified=True)) — the
    Chen-Goodman three-discount estimator KenLM actually ships: D1/D2/D3+
    per order from that order's count-of-counts n1..n4 (one 4-long agg,
    broadcast 1-row frame — no driver round-trip), D selected by each
    gram's own count class, middle order estimating its discounts from
    the continuation count-of-counts (KenLM's fallback for an empty
    class or a D_j outside [0, j]). Same exactness recipe as the
    fixed-discount form: int64 counts, fixed IEEE double sequence for
    the discounts, one quantized ln, margin-audited."""
    from proxima_platform_spark.functions.ranking import kneser_ney3_scores

    docs = _load(spark, sf, "documents")
    return kneser_ney3_scores(docs, modified=True)



def q_cohens_kappa(spark, sf):
    """Cohen's kappa between the two cheap corpus gates (functions/
    evalmetrics.py::cohens_kappa): does the quality gate (quality >=
    0.8) agree with the language gate (lang_guess = 'en') beyond
    chance — the acceptance check run on any labeling/gating pair
    before its labels feed an eval set. kappa = (N·S − M)/(N² − M) is a
    ratio of two pure int64 quantities (S = diagonal agreement, M =
    summed marginal products): the only float op is the final rounded
    double division. One |categories|²-cell count agg — the corpus
    never sorts."""
    from proxima_platform_spark.functions.evalmetrics import cohens_kappa
    from proxima_platform_spark.functions.text import quality_lang_arrow

    docs = _load(spark, sf, "documents")
    # both gates from the Arrow fast path (bit-identical to the
    # quality_score/language_id expression forms — TestQualityLangParity)
    scored = quality_lang_arrow(docs)
    rated = scored.select(
        (F.col("quality") >= 0.8).cast("int").alias("gate_q"),
        (F.col("lang_guess") == "en").cast("int").alias("gate_l"),
    )
    return cohens_kappa(rated, rater_a="gate_q", rater_b="gate_l")


def _sql_cohens_kappa() -> str:
    return f"""
WITH {_sql_scored_ctes()},
rated AS (
    SELECT CASE WHEN quality >= 0.8 THEN 1 ELSE 0 END AS a,
           CASE WHEN lang_guess = 'en' THEN 1 ELSE 0 END AS b
    FROM scored
), pairs AS (
    SELECT a, b, count(*) AS c FROM rated GROUP BY 1, 2
), marg AS (
    SELECT sum(ra * cb) AS m FROM
        (SELECT a, sum(c) AS ra FROM pairs GROUP BY a) r
        JOIN (SELECT b, sum(c) AS cb FROM pairs GROUP BY b) col
        ON r.a = col.b
), kb AS (
    SELECT sum(c) AS n,
           coalesce(sum(CASE WHEN a = b THEN c END), 0) AS s
    FROM pairs
)
SELECT n::BIGINT AS n_items, s::BIGINT AS observed_agree,
       CASE WHEN n * n <> m
            THEN round((n * s - m)::DOUBLE / (n * n - m)::DOUBLE, 6)
            END AS kappa
FROM kb, marg
"""


def q_calibration_ece(spark, sf):
    """Expected calibration error of the quality score against the
    English gate (functions/evalmetrics.py::calibration_ece) — the
    check before a model-based gate's scores are trusted as
    probabilities (a miscalibrated gate silently shifts the kept-corpus
    mix at any threshold). Binning is pure integer micro-unit
    arithmetic (no float-boundary floor), conf sums are exact, each
    bin's term quantizes at 8 dp before the cross-bin decimal sum —
    the ECE never depends on double summation order. One 10-cell agg."""
    from proxima_platform_spark.functions.evalmetrics import calibration_ece
    from proxima_platform_spark.functions.text import quality_lang_arrow

    docs = _load(spark, sf, "documents")
    # score + label from the Arrow fast path (bit-identical to the
    # quality_score/language_id expression forms — TestQualityLangParity)
    scored = quality_lang_arrow(docs).select(
        F.col("quality").alias("score"),
        (F.col("lang_guess") == "en").cast("int").alias("label"),
    )
    return calibration_ece(scored, bins=10)


def _sql_calibration_ece(bins: int = 10) -> str:
    return f"""
WITH {_sql_scored_ctes()},
binned AS (
    SELECT least((round(quality * 1000000)::BIGINT * {bins}) // 1000000,
                 {bins - 1}) AS bin,
           round(quality * 1000000)::BIGINT AS sm,
           CASE WHEN lang_guess = 'en' THEN 1 ELSE 0 END AS l
    FROM scored
), per_bin AS (
    SELECT bin, count(*) AS n, sum(sm) AS sms, sum(l) AS pos
    FROM binned GROUP BY bin
), tot AS (
    SELECT sum(n) AS nn FROM per_bin
)
SELECT nn::BIGINT AS n_items,
       round(sum(round((n::DOUBLE / nn)
                       * abs(pos::DOUBLE / n
                             - sms::DOUBLE / 1000000.0 / n),
                       8)::DECIMAL(28,10))::DOUBLE, 6) AS ece
FROM per_bin, tot
GROUP BY nn
"""


def q_vocab_growth(spark, sf):
    """Heaps-law vocabulary-growth curve (functions/text.py::
    vocab_growth): cumulative distinct token types vs cumulative tokens
    at id-domain checkpoints (every 50 ids) — the "is this source
    exhausted" corpus diagnostic. First occurrence per token is one
    algebraic min agg keyed by token; the only window is the cumsum
    over the |buckets|-row checkpoint frame — no global doc or token
    sort (what a rank-based checkpointing would require). All exact
    int64."""
    from proxima_platform_spark.functions.text import vocab_growth

    docs = _load(spark, sf, "documents")
    return vocab_growth(docs, "doc_id", "text", every=50)


SQL_VOCAB_GROWTH = rf"""
WITH t AS (
    SELECT doc_id - doc_id % 50 AS b,
           {_sql_tokens()} AS tk
    FROM documents
), per_bucket AS (
    SELECT b, count(*) AS docs, sum(len(tk)) AS toks FROM t GROUP BY b
), first AS (
    SELECT w, min(b) AS fb FROM (SELECT b, unnest(tk) AS w FROM t) GROUP BY w
), new_types AS (
    SELECT fb AS b, count(*) AS nw FROM first GROUP BY fb
)
SELECT b + 50 AS checkpoint,
       (sum(docs) OVER w)::BIGINT AS cum_docs,
       (sum(toks) OVER w)::BIGINT AS cum_tokens,
       (sum(coalesce(nw, 0)) OVER w)::BIGINT AS cum_types
FROM per_bucket LEFT JOIN new_types USING (b)
WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_exact_quantile_bisect(spark, sf):
    """EXACT median of l_extendedprice WITHOUT a global sort
    (functions/selection.py::exact_quantile_bisect) — iterative
    histogram refinement: each pass one bounded 256-cell count agg over
    the narrowing BETWEEN window (predicate pushes to parquet min/max
    pruning), log_256(range) passes total, driver sees only histogram
    cells. The scale path next to quartiles_exact's sort-based answer —
    the same exact type-1 micro-unit rank (ceil(q_micro·n/1e6)) the
    quantile sketch estimates, here exact over the full population."""
    from proxima_platform_spark.functions.selection import (
        exact_quantile_bisect,
    )

    li = _load(spark, sf, "lineitem")
    return exact_quantile_bisect(li, "l_extendedprice", 0.5)


SQL_EXACT_QUANTILE_BISECT = """
WITH v AS (
    SELECT round(l_extendedprice::DOUBLE * 1000000)::BIGINT AS v
    FROM lineitem WHERE l_extendedprice IS NOT NULL
), n AS (
    SELECT count(*) AS n FROM v
), r AS (
    SELECT n, greatest((500000 * n + 999999) // 1000000, 1) AS rank FROM n
), sel AS (
    SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v
)
SELECT r.n AS n, r.rank AS rank, sel.v::DOUBLE / 1000000 AS value
FROM r JOIN sel ON sel.rn = r.rank
"""


def q_pmi_bigrams(spark, sf):
    """Top-50 collocations by PMI with a count floor
    (functions/ranking.py::pmi_bigrams — Church & Hanks) — the phrase-
    vocabulary / source-overuse diagnostic. Exact int64 counts, one
    margin-audited rounded ln, (pmi desc, v, w) total order; one bigram
    agg + two word-keyed marginals + TakeOrderedAndProject — the bigram
    table never globally sorts."""
    from proxima_platform_spark.functions.ranking import pmi_bigrams

    docs = _load(spark, sf, "documents")
    return pmi_bigrams(docs, min_count=5, top_k=50)


SQL_PMI_BIGRAMS = rf"""
WITH t AS (
    SELECT {_sql_tokens()} AS tk
    FROM documents
), big AS (
    SELECT tk[i] AS v, tk[i+1] AS w
    FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM t
          WHERE len(tk) >= 2)
), c_vw AS (
    SELECT v, w, count(*) AS n_vw FROM big GROUP BY 1, 2
), cv AS (
    SELECT v, sum(n_vw) AS cv FROM c_vw GROUP BY v
), cw AS (
    SELECT w, sum(n_vw) AS cw FROM c_vw GROUP BY w
), tot AS (
    SELECT sum(n_vw) AS t FROM c_vw
)
SELECT v, w, n_vw,
       round(ln((n_vw::DOUBLE * t::DOUBLE) / (cv::DOUBLE * cw::DOUBLE)), 6) AS pmi
FROM c_vw JOIN cv USING (v) JOIN cw USING (w) CROSS JOIN tot
WHERE n_vw >= 5
ORDER BY pmi DESC, v, w LIMIT 50
"""


def q_random_projection(spark, sf):
    """Sparse Achlioptas random projection 64 → 16 dims
    (functions/similarity.py::random_projection) — the JL dimension
    reducer in front of LSH/IVF, EXACT int64 end-to-end: the ±1/0
    matrix is drawn per-cell from the md5 family (no literal matrix in
    the plan — the IVF-PQ Catalyst-analysis trap), components quantize
    to micro-units, projections are exact integer sums. Exploded scalar
    output (vec_id, dim_j, y); one broadcast crossJoin of a 16-row R
    frame, zero shuffles."""
    from proxima_platform_spark.functions.similarity import (
        random_projection,
    )

    emb = _load(spark, sf, "embeddings")
    dim = emb.select(F.size("embedding").alias("d")).first().d
    return random_projection(emb, dim=dim, out_dim=16)


SQL_RANDOM_PROJECTION = f"""
WITH r AS (
    SELECT j, i,
           CASE ({_sql_md5_int("'rp-v1|' || i || '|' || j")} % 6)
                WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS s
    FROM range(16) t1(j), range(64) t2(i)
), v AS (
    SELECT vec_id,
           [round(x * 1000000)::BIGINT for x in embedding::DOUBLE[]] AS vm
    FROM embeddings WHERE len(embedding) = 64
)
SELECT vec_id, j::INT AS dim_j, sum(vm[i + 1] * s)::BIGINT AS y
FROM v CROSS JOIN r
GROUP BY vec_id, j
"""


def q_winnow_decontaminate(spark, sf):
    """Edit-tolerant eval decontamination (functions/text.py::
    winnow_decontaminate): corpus docs (id >= 5) sharing winnowed
    fingerprints with the eval set (docs 0-4) — a lightly-edited copy
    of an eval item shares no exact n-gram, but every untouched run
    >= w+2 tokens still shares a fingerprint (detection theorem).
    min_shared=1: decontamination is recall-first (one shared 6-token
    run is already a flag); the eval side broadcasts, the corpus never
    shuffles before the (doc, eval) count agg."""
    from proxima_platform_spark.functions.text import winnow_decontaminate

    docs = _load(spark, sf, "documents")
    return winnow_decontaminate(
        docs.where(F.col("doc_id") >= 5),
        docs.where(F.col("doc_id") < 5),
        w=4,
        min_shared=1,
    )


def _sql_winnow_decontaminate(w: int = 4, min_shared: int = 1) -> str:
    return f"""
WITH fps AS (
    SELECT DISTINCT doc_id, fp FROM ({_sql_winnow_fingerprints(w)})
)
SELECT c.doc_id, e.doc_id AS eval_id, count(*) AS shared
FROM fps c JOIN fps e ON c.fp = e.fp AND e.doc_id < 5 AND c.doc_id >= 5
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
"""


def q_hard_negative_mining(spark, sf):
    """Hard negatives for contrastive training (functions/similarity.py::
    hard_negative_mining): every anchor's top-3 most-cosine-similar
    DIFFERENT-label neighbors from the multi-table sign-LSH bucket
    candidates — the pairs that teach the margin. Same never-n² bucket
    equi-joins as ann_knn_join with the label filter ahead of the
    per-anchor window; oracle replays buckets, label join and ranking
    verbatim."""
    from proxima_platform_spark.functions.similarity import (
        hard_negative_mining,
    )

    emb = _load(spark, sf, "embeddings")
    dim = emb.select(F.size("embedding").alias("d")).first().d
    return hard_negative_mining(
        emb, k=3, num_planes=8, num_tables=2, dim=dim
    )


def _sql_hard_negative_mining() -> str:
    return f"""
{_sql_lsh_knn_ctes()},
labeled AS (
  SELECT d.id_a, d.id_b, d.cos,
         la.label AS anchor_label, lb.label AS negative_label
  FROM directed d
  JOIN embeddings la ON la.vec_id = d.id_a
  JOIN embeddings lb ON lb.vec_id = d.id_b
  WHERE la.label <> lb.label
),
ranked AS (
  SELECT id_a, id_b, cos, anchor_label, negative_label,
         row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS rank
  FROM labeled
)
SELECT id_a AS vec_id, rank, id_b AS negative_id, round(cos, 6) AS cosine,
       anchor_label, negative_label
FROM ranked WHERE rank <= 3
"""


def q_perplexity_band_prep(spark, sf):
    """Composed r09 chain — the CCNet/DSIR-style perplexity-band intake:
    Kneser-Ney fluency per doc (functions/ranking.py::kneser_ney_scores)
    → EXACT [q20, q90] band thresholds via histogram bisection
    (functions/selection.py::exact_quantile_bisect — no global sort;
    the middle band drops both gibberish and boilerplate tails) →
    per-source intake summary with a decimal-exact average score. The
    scored frame is lazily checkpointed so the bisection's bounded
    histogram passes reuse it instead of re-running the LM; band
    membership compares integer micro-units, never raw doubles."""
    from proxima_platform_spark.functions.ranking import kneser_ney_scores
    from proxima_platform_spark.functions.selection import (
        exact_quantiles_bisect,
    )

    docs = _load(spark, sf, "documents")
    kn = kneser_ney_scores(docs).localCheckpoint(eager=False)
    # both band ends from ONE lockstep bisection (half the histogram
    # scans/round-trips; value-identical — selection.py)
    lo, hi = exact_quantiles_bisect(kn, "kn_score", [0.2, 0.9])
    lo_m, hi_m = int(round(lo * 1_000_000)), int(round(hi * 1_000_000))
    band = kn.where(
        F.round(F.col("kn_score") * 1_000_000)
        .cast("long")
        .between(lo_m, hi_m)
    )
    return (
        band.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("kn_score").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_kn"),
        )
    )


def _sql_perplexity_band_prep() -> str:
    return f"""
WITH {_sql_kneser_ney(2, False, inner=True)},
m AS (
    SELECT doc_id, kn_score,
           round(kn_score * 1000000)::BIGINT AS sm
    FROM kn
), nn AS (
    SELECT count(*) AS n FROM m
), sel AS (
    SELECT sm, row_number() OVER (ORDER BY sm) AS rn FROM m
), bounds AS (
    SELECT
      (SELECT sm FROM sel, nn
       WHERE rn = greatest((200000 * n + 999999) // 1000000, 1)) AS lo_sm,
      (SELECT sm FROM sel, nn
       WHERE rn = greatest((900000 * n + 999999) // 1000000, 1)) AS hi_sm
), band AS (
    SELECT doc_id, kn_score FROM m, bounds
    WHERE sm BETWEEN lo_sm AND hi_sm
)
SELECT d.source, count(*) AS n_docs,
       round(sum(kn_score::DECIMAL(18,6))::DOUBLE / count(*), 6) AS avg_kn
FROM band JOIN documents d USING (doc_id)
GROUP BY d.source
"""


def q_containment_pairs(spark, sf):
    """Asymmetric containment near-dup (functions/dedup.py::
    containment_pairs — Broder's second measure): ordered pairs with
    |S(a) ∩ S(b)|/|S(a)| >= 0.5 over distinct word 4-gram shingles —
    the quote-inclusion / syndication case resemblance dedup
    structurally misses (a short doc quoted whole inside a long one
    has tiny Jaccard but containment ~1). Boilerplate-capped candidate
    join (the winnow_overlap convention), exact int counts, one
    rounded double division."""
    from proxima_platform_spark.functions.dedup import containment_pairs

    docs = _load(spark, sf, "documents")
    return containment_pairs(
        docs, n=4, threshold=0.5, max_docs_per_shingle=64
    )


SQL_CONTAINMENT_PAIRS = rf"""
WITH {_sql_doc_tokens()}, sh AS (
    SELECT DISTINCT doc_id,
           unnest(CASE WHEN len(tk) >= 4
                  THEN [array_to_string(tk[i:i+3], ' ') for i in range(1, len(tk) - 2)]
                  ELSE [] END) AS s
    FROM t
), sizes AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), capped AS (
    SELECT doc_id, s FROM sh
    WHERE s IN (SELECT s FROM sh GROUP BY s HAVING count(*) <= 64)
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared, n AS size_a,
       round(shared::DOUBLE / n::DOUBLE, 6) AS containment
FROM pairs JOIN sizes ON sizes.doc_id = pairs.doc_a
WHERE round(shared::DOUBLE / n::DOUBLE, 6) >= 0.5
"""


def q_ccnet_pipeline(spark, sf):
    """The CCNet flagship (Wenzek'20; functions/prep.py::ccnet_pipeline),
    composed from individually-certified operators into ONE hash, in
    CCNet's order: paragraph-level exact dedup with reassembly (the
    fixture carries no newlines, so 10-token paragraphs are synthesized
    exactly as dedup_paragraphs' query does) → Naive Bayes language-ID
    over the CLEANED text, model trained on the labeled doc_id % 5 != 0
    split of the raw corpus (the pretrained-fastText stand-in) → 5-gram
    interpolated Kneser-Ney fluency (the KenLM order CCNet runs) with
    EXACT global [q30, q70] thresholds via histogram bisection splitting
    head / middle / tail → per-(predicted lang, bucket) intake summary.
    Streaming twin: ccnet_pipeline_stream (TestStreamingCcnet)."""
    from proxima_platform_spark.functions.prep import ccnet_pipeline

    docs = _load(spark, sf, "documents")
    trimmed = F.trim(F.lower(F.col("text")))
    toks = F.split(trimmed, r"\s+", -1)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(10))
    text2 = F.array_join(
        F.transform(starts, lambda s: F.array_join(F.slice(toks, s + 1, 10), " ")),
        "\n",
    )
    seg = docs.select("doc_id", text2.alias("text"), "lang")
    train = docs.where(F.col("doc_id") % 5 != 0)
    return ccnet_pipeline(seg, train, lo_q=0.3, hi_q=0.7)


def _sql_ccnet_pipeline() -> str:
    return rf"""
{_sql_paragraph_ctes("kkeep")}, dd AS MATERIALIZED (
    -- deduped + reassembled text; docs with zero kept paragraphs drop out
    SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
    FROM kkeep WHERE rn = 1 GROUP BY doc_id
),
-- NB language model trained on the ORIGINAL labeled corpus (train split)
tr AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
{_sql_nb_model_ctes()},
{_sql_nb_loglik_ctes("dd")},
best AS (
    SELECT id, c AS pred,
           row_number() OVER (
               PARTITION BY id ORDER BY (ll + log_prior) DESC, c ASC
           ) AS rn
    FROM ll JOIN classes USING (c)
),
-- 5-gram interpolated Kneser-Ney over the DEDUPED text
{{kn5}},
m5 AS (
    SELECT doc_id, kn5_score,
           round(kn5_score * 1000000)::BIGINT AS sm
    FROM kn
), nn5 AS (
    SELECT count(*) AS n FROM m5
), sel5 AS (
    SELECT sm, row_number() OVER (ORDER BY sm) AS rn FROM m5
), bounds AS (
    SELECT
      (SELECT sm FROM sel5, nn5
       WHERE rn = greatest((300000 * n + 999999) // 1000000, 1)) AS lo_sm,
      (SELECT sm FROM sel5, nn5
       WHERE rn = greatest((700000 * n + 999999) // 1000000, 1)) AS hi_sm
), bucketed AS (
    SELECT doc_id, kn5_score,
           CASE WHEN sm > hi_sm THEN 'head'
                WHEN sm >= lo_sm THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM m5, bounds
), ntok AS (
    SELECT doc_id,
           {_sql_token_count(indent=16)} AS n_tok
    FROM dd
)
SELECT b.pred AS pred_lang, bk.bucket,
       count(*) AS n_docs,
       sum(ntok.n_tok)::BIGINT AS clean_tokens,
       round(sum(bk.kn5_score::DECIMAL(18,6))::DOUBLE / count(*), 6) AS avg_kn5
FROM bucketed bk
JOIN best b ON b.id = bk.doc_id AND b.rn = 1
JOIN ntok USING (doc_id)
GROUP BY 1, 2
""".replace("{kn5}", _sql_kneser_ney(5, False, source="dd", inner=True))



def entry(spark: SparkSession) -> DataFrame:
    """Flagship: changelog → snapshot → per-attribute stats at sf0.001
    (source→compaction→agg, the platform's defining path —
    ref BeamDataOperator.java:394-397)."""
    sf = "/root/testdata/sf0.001"
    snap = snapshot(_events_changelog(spark, sf))
    return (
        snap.groupBy("attribute")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.max(_stamp_ms()).alias("latest_ms"),
        )
        .orderBy("attribute")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # STALENESS-AWARE ROTATION (r13; VERDICT r12 'Next round' #1): the
    # driver hash-checks the first ~50 insertion-order entries per round.
    # Tiers recomputed from the CORRECTNESS_r01..r12 union (r12: 50/50
    # green; histogram r08:49 r09:50 r10:50 r11:50 r12:50), ordered
    # OLDEST-LAST-GREEN FIRST (no red rows, none never-checked):
    #   (A) the 49 r08-stale queries — last driver-green 5 rounds ago;
    #   (B) the ONE new r13 query (wordpiece_fertility, pre-built and
    #       oracle-validated in r12) at window position 50 — exactly
    #       filling the window, so nothing is never-checked and the
    #       oldest tier advances r08 -> r09;
    #   (C)-(F) last green r09, r10, r11, r12 — each tier in its prior
    #       relative order. r14 ZERO-SLOT DECISION (VERDICT r12 #3),
    #       resolved THIS round: winnow_fingerprint_set is FOLDED out of
    #       the declared set — its fingerprint pipeline stays hash-
    #       certified through BOTH surviving winnow queries (the
    #       winnow_overlap and dedup_winnow oracles embed
    #       _sql_winnow_fingerprints verbatim) and its row-level
    #       assertions moved to tests/test_text.py::TestWinnowFold. That
    #       puts the r09 tier at 49, opening r14's position-50 slot for
    #       the banked unigram_fertility (its round(ln(cnt/t),8) site is
    #       ALREADY wired into tools/margin_check.py this round). Cycle
    #       length 249/50 ~= 4.98 <= 5.0 (SURVEY §8 tracks it). Next
    #       round: recompute from the union including CORRECTNESS_r13,
    #       rotate the r09 tier first, declare unigram_fertility at 50.
    return {
        # -- (A) r08-stale: last driver-green 5 rounds ago — certify first
        "hll_union_distinct": q_hll_union_distinct,
        "kmv_set_ops": q_kmv_set_ops,
        "similarity_join_exact": q_similarity_join_exact,
        "snm_dedup": q_snm_dedup,
        "scd2_history": q_scd2_history,
        "triangle_counts": q_triangle_counts,
        "bloom_join_prune": q_bloom_join_prune,
        "leakage_safe_split": q_leakage_safe_split,
        "negative_sampling": q_negative_sampling,
        "record_linkage": q_record_linkage,
        "dsir_resample": q_dsir_resample,
        "k_core": q_k_core,
        "cuped_lift": q_cuped_lift,
        "matryoshka_fidelity": q_matryoshka_fidelity,
        "retrieval_auc": q_retrieval_auc,
        "retrieval_precision": q_retrieval_precision,
        "contamination_report": q_contamination_report,
        "clustering_coefficient": q_clustering_coefficient,
        "dedup_best_of_cluster": q_dedup_best_of_cluster,
        "pretraining_prep": q_pretraining_prep,
        "tpch_q2ish": q_tpch_q2ish,
        "tpch_q8ish": q_tpch_q8ish,
        "tpch_q9ish": q_tpch_q9ish,
        "tpch_q11ish": q_tpch_q11ish,
        "tpch_q13ish": q_tpch_q13ish,
        "tpch_q15ish": q_tpch_q15ish,
        "tpch_q16ish": q_tpch_q16ish,
        "tpch_q17ish": q_tpch_q17ish,
        "tpch_q19ish": q_tpch_q19ish,
        "tpch_q21ish": q_tpch_q21ish,
        "tpch_q22ish": q_tpch_q22ish,
        "dq_audit": q_dq_audit,
        "null_safe_join": q_null_safe_join,
        "lateral_top_lines": q_lateral_top_lines,
        "rolling_range_revenue": q_rolling_range_revenue,
        "grouping_sets_sales": q_grouping_sets_sales,
        "percent_rank_orders": q_percent_rank_orders,
        "string_agg_nations": q_string_agg_nations,
        "twa_value": q_twa_value,
        "corr_price_qty": q_corr_price_qty,
        "set_intersect_buyers": q_set_intersect_buyers,
        "set_except_priorities": q_set_except_priorities,
        "unpivot_metrics": q_unpivot_metrics,
        "heavy_hitters": q_heavy_hitters,
        "mad_outliers": q_mad_outliers,
        "drift_chi2": q_drift_chi2,
        "join_size_estimate": q_join_size_estimate,
        "cube_counts": q_cube_counts,
        "skew_report": q_skew_report,
        # -- (B) NEW r13 query (built+oracle-validated in r12): window position 50
        "wordpiece_fertility": q_wordpiece_fertility,
        # -- last green r09 (49 after the winnow_fingerprint_set fold — see note)
        "survival_km": q_survival_km,
        "dedup_substrings_maximal": q_dedup_substrings_maximal,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "winnow_overlap": q_winnow_overlap,
        "quantile_sketch": q_quantile_sketch,
        "rrf_fusion": q_rrf_fusion,
        "ndcg_retrieval": q_ndcg_retrieval,
        "label_propagation": q_label_propagation,
        "char_entropy_signal": q_char_entropy,
        "snapshot_diff": q_snapshot_diff,
        "bitmap_retention": q_bitmap_retention,
        "zorder_pruning": q_zorder_pruning,
        "quartiles_exact": q_quartiles_exact,
        "key_erasure": q_key_erasure,
        "vocab_overlap": q_vocab_overlap,
        "span_corruption": q_span_corruption,
        "retention_vacuum": q_retention_vacuum,
        "zorder_layout": q_zorder_layout,
        "dedup_winnow": q_dedup_winnow,
        "kneser_ney_score": q_kneser_ney_score,
        "cohens_kappa": q_cohens_kappa,
        "calibration_ece": q_calibration_ece,
        "vocab_growth": q_vocab_growth,
        "exact_quantile_bisect": q_exact_quantile_bisect,
        "pmi_bigrams": q_pmi_bigrams,
        "random_projection": q_random_projection,
        "winnow_decontaminate": q_winnow_decontaminate,
        "hard_negative_mining": q_hard_negative_mining,
        "perplexity_band_prep": q_perplexity_band_prep,
        "containment_pairs": q_containment_pairs,
        "pit_enrich": q_pit_enrich,
        "bpe_merge_candidates": q_bpe_merge_candidates,
        "topk_per_group": q_topk_per_group,
        "ohlc_bars": q_ohlc_bars,
        "inverted_index": q_inverted_index,
        "pagerank_types": q_pagerank_types,
        "ewma_value": q_ewma_value,
        "anomaly_zscore": q_anomaly_zscore,
        "attribution": q_attribution,
        "feature_matrix": q_feature_matrix,
        "quantile_bins": q_quantile_bins,
        "dedup_paragraphs": q_dedup_paragraphs,
        "dedup_paragraphs_near": q_dedup_paragraphs_near,
        "multimodal_audio": q_multimodal_audio,
        "multimodal_audio_dup": q_multimodal_audio_dup,
        "multimodal_video_frames": q_multimodal_video_frames,
        "compressed_ingest": q_compressed_ingest,
        "range_join_ship_week": q_range_join_ship_week,
        "hypertable_rollup": q_hypertable_rollup,
        # -- last green r10
        "rollup_histogram": q_rollup_histogram,
        "funnel_steps": q_funnel_steps,
        "cohort_retention": q_cohort_retention,
        "gapfill_locf": q_gapfill_locf,
        "rollup_distinct": q_rollup_distinct,
        "bloom_decontaminate": q_bloom_decontaminate,
        "kmeans_cluster": q_kmeans_cluster,
        "source_quota_sample": q_source_quota_sample,
        "weighted_sample": q_weighted_sample,
        "user_paths": q_user_paths,
        "event_transitions": q_event_transitions,
        "session_ids": q_session_ids,
        "scd2_intervals": q_scd2_intervals,
        "rollup_quantile": q_rollup_quantile,
        "incremental_dedup": q_incremental_dedup,
        "bpe_encode": q_bpe_encode,
        "token_budget_pack": q_token_budget_pack,
        "tokenizer_fertility": q_tokenizer_fertility,
        "embedding_covariance": q_embedding_covariance,
        "fuzzy_decontaminate": q_fuzzy_decontaminate,
        "ngram_novelty": q_ngram_novelty,
        "temperature_mix": q_temperature_mix,
        "minhash_recall_eval": q_minhash_recall_eval,
        "lsh_recall_eval": q_lsh_recall_eval,
        "tpch_q7ish": q_tpch_q7ish,
        "tpch_q10ish": q_tpch_q10ish,
        "chunk_documents": q_chunk_documents,
        "sequence_pack": q_sequence_pack,
        "tfidf_top_terms": q_tfidf_top_terms,
        "embedding_quantize": q_embedding_quantize,
        "exact_decontaminate": q_exact_decontaminate,
        "kneser_ney3_score": q_kneser_ney3_score,
        "ann_multiprobe_topk": q_ann_multiprobe_topk,
        "kneser_ney3_mkn_score": q_kneser_ney3_mkn_score,
        "dedup_minhash_oph": q_dedup_minhash_oph,
        "naive_bayes_langid": q_naive_bayes_langid,
        "bleu_dedup_verify": q_bleu_dedup_verify,
        "zipf_slope": q_zipf_slope,
        "kneser_ney5_score": q_kneser_ney5_score,
        "kneser_ney5_mkn_score": q_kneser_ney5_mkn_score,
        "domain_jsd": q_domain_jsd,
        "tpch_q12ish": q_tpch_q12ish,
        "tpch_q20ish": q_tpch_q20ish,
        "dedup_minhash_bbit": q_dedup_minhash_bbit,
        "unimax_mixture": q_unimax_mixture,
        "dedup_minhash_weighted": q_dedup_minhash_weighted,
        "text_tokens_bpe": q_text_tokens_bpe,
        "training_pipeline": q_training_pipeline,
        "dedup_exact": q_dedup_exact,
        "tpch_q3": q_tpch_q3,
        # -- last green r11
        "tpch_q5ish": q_tpch_q5ish,
        "tpch_q4ish": q_tpch_q4ish,
        "tpch_q14ish": q_tpch_q14ish,
        "tpch_q18ish": q_tpch_q18ish,
        "dedup_minhash": q_dedup_minhash,
        "dedup_groups": q_dedup_groups,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "jaccard_adjacent": q_jaccard_adjacent,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "text_stats": q_text_stats,
        "text_quality": q_text_quality,
        "doc_rolling_fingerprint": q_doc_rolling_fingerprint,
        "text_quality_signals": q_text_quality_signals,
        "bm25_rank": q_bm25_rank,
        "decontaminate": q_decontaminate,
        "trigram_lm_score": q_trigram_lm_score,
        "pii_scrub": q_pii_scrub,
        "multimodal_features": q_multimodal_features,
        "multimodal_frames": q_multimodal_frames,
        "avro_scheme_roundtrip": q_avro_scheme_roundtrip,
        "schema_registry_roundtrip": q_schema_registry_roundtrip,
        "corpus_sample": q_corpus_sample,
        "corpus_split": q_corpus_split,
        "corpus_sample_topk": q_corpus_sample_topk,
        "impulse_source": q_impulse_source,
        "map_project": q_map_project,
        "filter_where": q_filter_where,
        "flatmap_tokens": q_flatmap_tokens,
        "quality_model_score": q_quality_model_score,
        "self_dedup_spans": q_self_dedup_spans,
        "bpe_encode_bytes": q_bpe_encode_bytes,
        "semantic_dedup": q_semantic_dedup,
        "tokenizer_fertility_bytes": q_tokenizer_fertility_bytes,
        "dup_ngram_coverage": q_dup_ngram_coverage,
        "ann_knn_join": q_ann_knn_join,
        "semantic_dedup_diverse": q_semantic_dedup_diverse,
        "curation_pipeline": q_curation_pipeline,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "join_left": q_join_left,
        "sliding_window_count": q_sliding_window_count,
        "session_window_stats": q_session_window_stats,
        "calendar_window_month": q_calendar_window_month,
        "ccnet_pipeline": q_ccnet_pipeline,
        "naive_bayes_topk_langid": q_naive_bayes_topk_langid,
        "dedup_cluster_keep_best": q_dedup_cluster_keep_best,
        "calendar_window_week": q_calendar_window_week,
        # -- last green r12
        "global_window_agg": q_global_window_agg,
        "count_by_key": q_count_by_key,
        "sum_by_key": q_sum_by_key,
        "average_by_key": q_average_by_key,
        "combine_min_max": q_combine_min_max,
        "reduce_fold": q_reduce_fold,
        "group_reduce_median": q_group_reduce_median,
        "distinct_pairs": q_distinct_pairs,
        "distinct_mapper": q_distinct_mapper,
        "reduce_to_latest": q_reduce_to_latest,
        "join_inner": q_join_inner,
        "windowed_join": q_windowed_join,
        "join_three_way": q_join_three_way,
        "asof_join_enrich": q_asof_join_enrich,
        "json_props_extract": q_json_props_extract,
        "union_names": q_union_names,
        "sorted_topk": q_sorted_topk,
        "keyset_pagination": q_keyset_pagination,
        "rollup_revenue": q_rollup_revenue,
        "integrate_per_key": q_integrate_per_key,
        "reduce_value_state": q_reduce_value_state,
        "retract_join": q_retract_join,
        "transactions": q_transactions,
        "tpch_q1": q_tpch_q1,
        "tpch_q6": q_tpch_q6,
        "batch_updates_range": q_batch_updates_range,
        "batch_snapshot": q_batch_snapshot,
        "snapshot_wide": q_snapshot_wide,
        "snapshot_with_deletes": q_snapshot_with_deletes,
        "wildcard_tombstone_snapshot": q_wildcard_tombstone_snapshot,
        "random_access_get": q_random_access_get,
        "multi_get": q_multi_get,
        "scan_wildcard": q_scan_wildcard,
        "list_entities": q_list_entities,
        "union_attributes": q_union_attributes,
        "proxy_attribute_read": q_proxy_attribute_read,
        "elementwise_transform": q_elementwise_transform,
        "with_window": q_with_window,
        "tumbling_window_sum": q_tumbling_window_sum,
        "dedup_embedding": q_dedup_embedding,
        "proto_scheme_roundtrip": q_proto_scheme_roundtrip,
        "multimodal_ahash_dup": q_multimodal_ahash_dup,
        "repetition_signals": q_repetition_signals,
        "dedup_substrings": q_dedup_substrings,
        "multimodal_phash_dup": q_multimodal_phash_dup,
        "domain_cap_sample": q_domain_cap_sample,
        "distinct_hll": q_distinct_hll,
        "ivm_agg_apply": q_ivm_agg_apply,
        "semantic_decontaminate": q_semantic_decontaminate,
        "hilbert_layout": q_hilbert_layout,
    }


def _sql_dedup_minhash() -> str:
    return f"""
WITH {_sql_minhash_ctes("documents")}
{_sql_banded_pairs()}
"""


def _sql_training_pipeline() -> str:
    """Composed corpus-cleaning oracle: scored gate → exact-dedup keeper →
    MinHash band join over the kept set → anti-join → per-source stats."""
    pattern = BPE_PATTERN.replace("'", "''")
    return rf"""
WITH {_sql_scored_ctes()},
gated AS (
    SELECT * FROM scored WHERE quality >= 0.8 AND lang_guess = 'en'
), exact AS (
    SELECT *, md5({_sql_normalize()}) AS fp
    FROM gated
), kept AS (
    SELECT doc_id, source, text, quality FROM exact
    QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
), {_sql_minhash_ctes("kept")},
drop_ids AS (
    SELECT DISTINCT b.doc_id
    {_sql_banded_from()}
), survivors AS (
    SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)
)
SELECT source, count(*) AS n_docs,
       sum(len(regexp_extract_all(text, '{pattern}')))::BIGINT AS total_tokens,
       round(sum(quality::DECIMAL(18,6))::DOUBLE / count(*), 6) AS avg_quality
FROM survivors GROUP BY source
"""


def oracle_sql() -> dict[str, str]:
    return {
        "quality_model_score": _sql_quality_model_score(),
        "self_dedup_spans": _sql_self_dedup_spans(),
        "bpe_encode_bytes": _sql_bpe_encode_bytes(),
        "semantic_dedup": SQL_SEMANTIC_DEDUP,
        "tokenizer_fertility_bytes": _sql_tokenizer_fertility(_sql_bpe_bytes_ctes()),
        "dup_ngram_coverage": _sql_dup_ngram_coverage(),
        "dedup_substrings": _sql_dedup_substrings(),
        "dedup_substrings_maximal": _sql_dedup_substrings_maximal(),
        "multimodal_phash_dup": SQL_MULTIMODAL_PHASH_DUP,
        "domain_cap_sample": SQL_DOMAIN_CAP_SAMPLE,
        "distinct_hll": SQL_DISTINCT_HLL,
        "ivm_agg_apply": SQL_IVM_AGG_APPLY,
        "semantic_decontaminate": SQL_SEMANTIC_DECONTAMINATE,
        "hll_union_distinct": SQL_HLL_UNION_DISTINCT,
        "kmv_set_ops": SQL_KMV_SET_OPS,
        "similarity_join_exact": SQL_SIMILARITY_JOIN_EXACT,
        "snm_dedup": SQL_SNM_DEDUP,
        "scd2_history": SQL_SCD2_HISTORY,
        "triangle_counts": SQL_TRIANGLE_COUNTS,
        "bloom_join_prune": SQL_BLOOM_JOIN_PRUNE,
        "leakage_safe_split": SQL_LEAKAGE_SAFE_SPLIT,
        "negative_sampling": SQL_NEGATIVE_SAMPLING,
        "record_linkage": SQL_RECORD_LINKAGE,
        "dsir_resample": SQL_DSIR_RESAMPLE,
        "k_core": _sql_k_core(),
        "cuped_lift": SQL_CUPED_LIFT,
        "survival_km": SQL_SURVIVAL_KM,
        "matryoshka_fidelity": SQL_MATRYOSHKA_FIDELITY,
        "retrieval_auc": SQL_RETRIEVAL_AUC,
        "retrieval_precision": SQL_RETRIEVAL_PRECISION,
        "contamination_report": SQL_CONTAMINATION_REPORT,
        "clustering_coefficient": SQL_CLUSTERING_COEFFICIENT,
        "ann_knn_join": SQL_ANN_KNN_JOIN,
        "semantic_dedup_diverse": SQL_SEMANTIC_DEDUP_DIVERSE,
        "curation_pipeline": _sql_curation_pipeline(),
        "heavy_hitters": SQL_HEAVY_HITTERS,
        "temperature_mix": SQL_TEMPERATURE_MIX,
        "mad_outliers": SQL_MAD_OUTLIERS,
        "drift_chi2": SQL_DRIFT_CHI2,
        "join_size_estimate": SQL_JOIN_SIZE_ESTIMATE,
        "cube_counts": SQL_CUBE_COUNTS,
        "skew_report": SQL_SKEW_REPORT,
        "snapshot_diff": SQL_SNAPSHOT_DIFF,
        "bitmap_retention": SQL_BITMAP_RETENTION,
        "zorder_pruning": _sql_zorder_pruning(),
        "quartiles_exact": SQL_QUARTILES_EXACT,
        "key_erasure": SQL_KEY_ERASURE,
        "vocab_overlap": SQL_VOCAB_OVERLAP,
        "span_corruption": SQL_SPAN_CORRUPTION,
        "retention_vacuum": SQL_RETENTION_VACUUM,
        "zorder_layout": _sql_zorder_layout(),
        "hilbert_layout": _sql_hilbert_layout(),
        "pit_enrich": SQL_PIT_ENRICH,
        "bpe_merge_candidates": SQL_BPE_MERGE_CANDIDATES,
        "bpe_encode": _sql_bpe_encode(),
        "token_budget_pack": _sql_token_budget_pack(),
        "tokenizer_fertility": _sql_tokenizer_fertility(_sql_bpe_ctes()),
        "embedding_covariance": SQL_EMBEDDING_COVARIANCE,
        "topk_per_group": SQL_TOPK_PER_GROUP,
        "ohlc_bars": SQL_OHLC_BARS,
        "inverted_index": SQL_INVERTED_INDEX,
        "pagerank_types": SQL_PAGERANK_TYPES,
        "ewma_value": SQL_EWMA_VALUE,
        "anomaly_zscore": SQL_ANOMALY_ZSCORE,
        "attribution": SQL_ATTRIBUTION,
        "feature_matrix": SQL_FEATURE_MATRIX,
        "quantile_bins": SQL_QUANTILE_BINS,
        "batch_updates_range": SQL_BATCH_UPDATES,
        "batch_snapshot": SQL_BATCH_SNAPSHOT,
        "snapshot_wide": SQL_SNAPSHOT_WIDE,
        "snapshot_with_deletes": SQL_SNAPSHOT_WITH_DELETES,
        "wildcard_tombstone_snapshot": SQL_WILDCARD_TOMBSTONE,
        "random_access_get": SQL_RANDOM_ACCESS_GET,
        "multi_get": SQL_MULTI_GET,
        "scan_wildcard": SQL_SCAN_WILDCARD,
        "list_entities": SQL_LIST_ENTITIES,
        "union_attributes": SQL_UNION_ATTRIBUTES,
        "impulse_source": SQL_IMPULSE_SOURCE,
        "proxy_attribute_read": SQL_PROXY_ATTRIBUTE_READ,
        "map_project": SQL_MAP_PROJECT,
        "filter_where": SQL_FILTER_WHERE,
        "flatmap_tokens": SQL_FLATMAP_TOKENS,
        "elementwise_transform": SQL_ELEMENTWISE_TRANSFORM,
        "with_window": SQL_WITH_WINDOW,
        "tumbling_window_sum": SQL_TUMBLING_WINDOW_SUM,
        "sliding_window_count": SQL_SLIDING_WINDOW_COUNT,
        "session_window_stats": SQL_SESSION_WINDOW_STATS,
        "calendar_window_month": SQL_CALENDAR_WINDOW_MONTH,
        "calendar_window_week": SQL_CALENDAR_WINDOW_WEEK,
        "global_window_agg": SQL_GLOBAL_WINDOW_AGG,
        "count_by_key": SQL_COUNT_BY_KEY,
        "sum_by_key": SQL_SUM_BY_KEY,
        "average_by_key": SQL_AVERAGE_BY_KEY,
        "combine_min_max": SQL_COMBINE_MIN_MAX,
        "reduce_fold": SQL_REDUCE_FOLD,
        "group_reduce_median": SQL_GROUP_REDUCE_MEDIAN,
        "distinct_pairs": SQL_DISTINCT_PAIRS,
        "distinct_mapper": SQL_DISTINCT_MAPPER,
        "reduce_to_latest": SQL_REDUCE_TO_LATEST,
        "join_inner": SQL_JOIN_INNER,
        "join_left": SQL_JOIN_LEFT,
        "windowed_join": SQL_WINDOWED_JOIN,
        "join_three_way": SQL_JOIN_THREE_WAY,
        "semi_join": SQL_SEMI_JOIN,
        "anti_join": SQL_ANTI_JOIN,
        "asof_join_enrich": SQL_ASOF_JOIN_ENRICH,
        "json_props_extract": SQL_JSON_PROPS_EXTRACT,
        "avro_scheme_roundtrip": SQL_AVRO_SCHEME_ROUNDTRIP,
        "proto_scheme_roundtrip": SQL_PROTO_SCHEME_ROUNDTRIP,
        "repetition_signals": SQL_REPETITION_SIGNALS,
        "chunk_documents": SQL_CHUNK_DOCUMENTS,
        "sequence_pack": SQL_SEQUENCE_PACK,
        "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
        "embedding_quantize": SQL_EMBEDDING_QUANTIZE,
        "multimodal_ahash_dup": SQL_MULTIMODAL_AHASH_DUP,
        "exact_decontaminate": SQL_EXACT_DECONTAMINATE,
        "dedup_best_of_cluster": _sql_dedup_best_of_cluster(),
        "dedup_paragraphs": SQL_DEDUP_PARAGRAPHS,
        "dedup_paragraphs_near": _sql_dedup_paragraphs_near(),
        "multimodal_audio": SQL_MULTIMODAL_AUDIO,
        "multimodal_audio_dup": SQL_MULTIMODAL_AUDIO_DUP,
        "multimodal_video_frames": SQL_MULTIMODAL_VIDEO_FRAMES,
        "compressed_ingest": SQL_COMPRESSED_INGEST,
        "range_join_ship_week": SQL_RANGE_JOIN_SHIP_WEEK,
        "hypertable_rollup": SQL_HYPERTABLE_ROLLUP,
        "rollup_histogram": SQL_ROLLUP_HISTOGRAM,
        "funnel_steps": SQL_FUNNEL_STEPS,
        "cohort_retention": SQL_COHORT_RETENTION,
        "gapfill_locf": SQL_GAPFILL_LOCF,
        "rollup_distinct": SQL_ROLLUP_DISTINCT,
        "bloom_decontaminate": SQL_BLOOM_DECONTAMINATE,
        "kmeans_cluster": SQL_KMEANS_CLUSTER,
        "source_quota_sample": SQL_SOURCE_QUOTA_SAMPLE,
        "weighted_sample": SQL_WEIGHTED_SAMPLE,
        "user_paths": SQL_USER_PATHS,
        "event_transitions": SQL_EVENT_TRANSITIONS,
        "session_ids": SQL_SESSION_IDS,
        "scd2_intervals": SQL_SCD2_INTERVALS,
        "rollup_quantile": SQL_ROLLUP_QUANTILE,
        "incremental_dedup": SQL_INCREMENTAL_DEDUP,
        "tpch_q7ish": SQL_TPCH_Q7ISH,
        "tpch_q2ish": SQL_TPCH_Q2ISH,
        "tpch_q8ish": SQL_TPCH_Q8ISH,
        "tpch_q9ish": SQL_TPCH_Q9ISH,
        "tpch_q11ish": SQL_TPCH_Q11ISH,
        "tpch_q13ish": SQL_TPCH_Q13ISH,
        "tpch_q15ish": SQL_TPCH_Q15ISH,
        "tpch_q16ish": SQL_TPCH_Q16ISH,
        "tpch_q17ish": SQL_TPCH_Q17ISH,
        "tpch_q19ish": SQL_TPCH_Q19ISH,
        "tpch_q21ish": SQL_TPCH_Q21ISH,
        "tpch_q22ish": SQL_TPCH_Q22ISH,
        "minhash_recall_eval": _sql_minhash_recall_eval(),
        "lsh_recall_eval": _sql_lsh_recall_eval(),
        "dq_audit": SQL_DQ_AUDIT,
        "null_safe_join": SQL_NULL_SAFE_JOIN,
        "lateral_top_lines": SQL_LATERAL_TOP_LINES,
        "rolling_range_revenue": SQL_ROLLING_RANGE_REVENUE,
        "grouping_sets_sales": SQL_GROUPING_SETS_SALES,
        "percent_rank_orders": SQL_PERCENT_RANK_ORDERS,
        "string_agg_nations": SQL_STRING_AGG_NATIONS,
        "twa_value": SQL_TWA_VALUE,
        "corr_price_qty": SQL_CORR_PRICE_QTY,
        "set_intersect_buyers": SQL_SET_INTERSECT_BUYERS,
        "set_except_priorities": SQL_SET_EXCEPT_PRIORITIES,
        "unpivot_metrics": SQL_UNPIVOT_METRICS,
        "tpch_q10ish": SQL_TPCH_Q10ISH,
        "pretraining_prep": _sql_pretraining_prep(),
        "schema_registry_roundtrip": SQL_SCHEMA_REGISTRY_ROUNDTRIP,
        "corpus_sample": SQL_CORPUS_SAMPLE,
        "corpus_split": SQL_CORPUS_SPLIT,
        "corpus_sample_topk": SQL_CORPUS_SAMPLE_TOPK,
        "union_names": SQL_UNION_NAMES,
        "sorted_topk": SQL_SORTED_TOPK,
        "keyset_pagination": SQL_KEYSET_PAGINATION,
        "rollup_revenue": SQL_ROLLUP_REVENUE,
        "integrate_per_key": SQL_INTEGRATE_PER_KEY,
        "reduce_value_state": SQL_REDUCE_VALUE_STATE,
        "retract_join": SQL_RETRACT_JOIN,
        "transactions": SQL_TRANSACTIONS,
        "tpch_q1": SQL_TPCH_Q1,
        "tpch_q6": SQL_TPCH_Q6,
        "tpch_q3": SQL_TPCH_Q3,
        "tpch_q5ish": SQL_TPCH_Q5ISH,
        "tpch_q4ish": SQL_TPCH_Q4ISH,
        "tpch_q14ish": SQL_TPCH_Q14ISH,
        "tpch_q18ish": SQL_TPCH_Q18ISH,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_minhash": _sql_dedup_minhash(),
        "dedup_groups": _sql_dedup_groups(),
        "dedup_simhash": _sql_dedup_simhash(),
        "dedup_simhash_pairs": _sql_dedup_simhash_pairs(),
        "dedup_embedding": SQL_DEDUP_EMBEDDING,
        "jaccard_adjacent": SQL_JACCARD_ADJACENT,
        "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
        "text_stats": SQL_TEXT_STATS,
        "text_quality": _sql_text_quality(),
        "text_tokens_bpe": _sql_text_tokens_bpe(),
        "doc_rolling_fingerprint": _sql_doc_rolling_fingerprint(),
        "text_quality_signals": _sql_text_quality_signals(),
        "bm25_rank": SQL_BM25_RANK,
        "decontaminate": SQL_DECONTAMINATE,
        "fuzzy_decontaminate": _sql_fuzzy_decontaminate(),
        "ngram_novelty": SQL_NGRAM_NOVELTY,
        "trigram_lm_score": SQL_TRIGRAM_LM_SCORE,
        "pii_scrub": SQL_PII_SCRUB,
        "training_pipeline": _sql_training_pipeline(),
        "multimodal_features": SQL_MULTIMODAL_FEATURES,
        "multimodal_frames": SQL_MULTIMODAL_FRAMES,
        "ann_lsh_topk": SQL_ANN_LSH_TOPK,
        "ann_multiprobe_topk": SQL_ANN_MULTIPROBE_TOPK,
        "ann_ivf_topk": SQL_ANN_IVF_TOPK,
        "ann_ivfpq_topk": SQL_ANN_IVFPQ_TOPK,
        "wordpiece_fertility": SQL_WORDPIECE_FERTILITY,
        "winnow_overlap": _sql_winnow_overlap(),
        "dedup_winnow": _sql_dedup_winnow(),
        "kneser_ney_score": _sql_kneser_ney(2, False),
        "kneser_ney3_score": _sql_kneser_ney(3, False),
        "kneser_ney3_mkn_score": _sql_kneser_ney(3, True),
        "dedup_minhash_oph": _sql_dedup_minhash_oph(),
        "naive_bayes_langid": SQL_NAIVE_BAYES_LANGID,
        "bleu_dedup_verify": _sql_bleu_dedup_verify(),
        "zipf_slope": SQL_ZIPF_SLOPE,
        "kneser_ney5_score": _sql_kneser_ney(5, False),
        "kneser_ney5_mkn_score": _sql_kneser_ney(5, True),
        "domain_jsd": SQL_DOMAIN_JSD,
        "tpch_q12ish": SQL_TPCH_Q12ISH,
        "tpch_q20ish": SQL_TPCH_Q20ISH,
        "dedup_minhash_bbit": _sql_dedup_minhash_bbit(),
        "unimax_mixture": SQL_UNIMAX_MIXTURE,
        "dedup_minhash_weighted": _sql_dedup_minhash_weighted(),
        "cohens_kappa": _sql_cohens_kappa(),
        "calibration_ece": _sql_calibration_ece(),
        "vocab_growth": SQL_VOCAB_GROWTH,
        "exact_quantile_bisect": SQL_EXACT_QUANTILE_BISECT,
        "pmi_bigrams": SQL_PMI_BIGRAMS,
        "random_projection": SQL_RANDOM_PROJECTION,
        "winnow_decontaminate": _sql_winnow_decontaminate(),
        "hard_negative_mining": _sql_hard_negative_mining(),
        "perplexity_band_prep": _sql_perplexity_band_prep(),
        "ccnet_pipeline": _sql_ccnet_pipeline(),
        "naive_bayes_topk_langid": SQL_NAIVE_BAYES_TOPK_LANGID,
        "dedup_cluster_keep_best": _sql_dedup_cluster_keep_best(),
        "containment_pairs": SQL_CONTAINMENT_PAIRS,
        "quantile_sketch": SQL_QUANTILE_SKETCH,
        "rrf_fusion": SQL_RRF_FUSION,
        "ndcg_retrieval": SQL_NDCG_RETRIEVAL,
        "label_propagation": _sql_label_propagation(),
        "char_entropy_signal": SQL_CHAR_ENTROPY,
    }


def banked_oracle_sql() -> dict[str, str]:
    """Oracles BUILT AND VALIDATED but not yet in oracle_sql() (awaiting a
    driver-window slot under the <= 5.0-round rotation-cycle cap). The
    margin audit (tools/margin_check.py) includes these so a thin
    transcendental rounding margin is caught BEFORE the declaring round,
    not by the driver box (the r12 ADVICE forcing function: the
    round(ln(cnt/t),8) unigram model site is audited from r13 on, while
    the query itself declares in r14)."""
    return {
        "unigram_fertility": _sql_unigram_fertility(),
    }
