"""BM25 ranking (functions/ranking.py) and PII scrubbing (functions/text.py)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from proxima_platform_spark.functions.ranking import bm25_score, bm25_top_k
from proxima_platform_spark.functions.text import pii_counts, pii_redact


CORPUS = [
    (1, "the stream engine processes the stream"),
    (2, "batch data and more data and yet more data"),
    (3, "nothing relevant here at all"),
    (4, "stream data stream data stream data"),
]


class TestBM25:
    def test_manual_formula_tiny_corpus(self, spark):
        docs = spark.createDataFrame(CORPUS, "doc_id int, text string")
        got = {
            r.doc_id: r.score
            for r in bm25_score(docs, ["stream"], id_col="doc_id").collect()
        }
        # by hand: N=4, df=2, idf = ln(1 + (4-2+0.5)/(2+0.5)) = ln(2)
        dls = {i: len(t.split()) for i, t in CORPUS}
        avgdl = sum(dls.values()) / 4
        tfs = {i: t.split().count("stream") for i, t in CORPUS}
        for i in got:
            tf = tfs[i]
            expect = math.log(2.0) * (tf * 2.2) / (
                tf + 1.2 * (1 - 0.75 + 0.75 * dls[i] / avgdl)
            ) if tf else 0.0
            assert got[i] == pytest.approx(expect, rel=1e-12)

    def test_more_matching_terms_rank_higher(self, spark):
        docs = spark.createDataFrame(CORPUS, "doc_id int, text string")
        top = bm25_top_k(docs, ["stream", "data"], k=4).collect()
        assert top[0].doc_id == 4  # hits both terms, repeatedly
        assert top[-1].score == 0.0 and top[-1].doc_id == 3

    def test_empty_query_raises(self, spark):
        docs = spark.createDataFrame(CORPUS, "doc_id int, text string")
        with pytest.raises(ValueError):
            bm25_score(docs, [])

    def test_scoring_pass_is_shuffle_free(self, spark):
        """The only exchange feeds the single-row stats aggregate; scoring
        re-attaches it via broadcast — no shuffle of the corpus itself."""
        docs = spark.createDataFrame(CORPUS, "doc_id int, text string")
        plan = bm25_score(docs, ["stream"])._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        # exactly one shuffle exchange (the partial->final stats agg)
        assert plan.count("Exchange SinglePartition") <= 1
        assert "Exchange hashpartitioning" not in plan


class TestPII:
    def test_counts_and_redaction(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail a@b.co and c.d+x@e-f.org, ip 10.0.0.1, call 555-123-4567"),
                (2, "clean text with version 1.2 and date 2024-01-02"),
            ],
            "id int, text string",
        )
        c = pii_counts(F.col("text"))
        got = df.select(
            "id",
            c["email"].alias("e"), c["ipv4"].alias("i"), c["phone"].alias("p"),
            pii_redact(F.col("text")).alias("red"),
        ).collect()
        by_id = {r.id: r for r in got}
        assert (by_id[1].e, by_id[1].i, by_id[1].p) == (2, 1, 1)
        assert by_id[1].red == "mail [EMAIL] and [EMAIL], ip [IPV4], call [PHONE]"
        assert (by_id[2].e, by_id[2].i, by_id[2].p) == (0, 0, 0)
        assert by_id[2].red == "clean text with version 1.2 and date 2024-01-02"

    def test_email_redacted_before_ip_like_host(self, spark):
        df = spark.createDataFrame(
            [(1, "x admin@127.0.0.1.com y")], "id int, text string"
        )
        red = df.select(pii_redact(F.col("text")).alias("r")).first()["r"]
        assert red == "x [EMAIL] y"  # dotted-digit host consumed by EMAIL, not IPV4


class TestDecontamination:
    def test_shared_ngram_flags_doc(self, spark):
        from proxima_platform_spark.functions.text import contaminated_doc_ids

        eval_docs = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id int, text string",
        )
        corpus = spark.createDataFrame(
            [
                (1, "a sentence containing the quick brown fox verbatim"),
                (2, "entirely unrelated content with no overlap at all"),
                (3, "quick brown elsewhere but never three in a row"),
            ],
            "doc_id int, text string",
        )
        got = {
            r.doc_id
            for r in contaminated_doc_ids(corpus, eval_docs, n=3).collect()
        }
        assert got == {1}  # only the verbatim 3-gram leak

    def test_eval_side_semi_join_keeps_corpus_columns_minimal(self, spark):
        from proxima_platform_spark.functions.text import contaminated_doc_ids

        eval_docs = spark.createDataFrame(
            [(100, "x y z")], "doc_id int, text string"
        )
        corpus = spark.createDataFrame(
            [(1, "x y z")], "doc_id int, text string"
        )
        out = contaminated_doc_ids(corpus, eval_docs, n=3)
        assert out.columns == ["doc_id"]
        assert [r.doc_id for r in out.collect()] == [1]


class TestTrigramLM:
    def test_gibberish_scores_below_typical(self, spark):
        from proxima_platform_spark.functions.ranking import trigram_lm_scores

        docs = spark.createDataFrame(
            [
                (1, "the cat sat on the mat"),
                (2, "the cat sat on the hat"),
                (3, "the bat sat on the mat"),
                (4, "zq xv jk qz wx kj zx"),  # trigrams shared with nobody
            ],
            "doc_id int, text string",
        )
        got = {r.doc_id: r.lm_score for r in trigram_lm_scores(docs).collect()}
        assert len(got) == 4
        typical_floor = min(got[1], got[2], got[3])
        assert got[4] < typical_floor  # fluency proxy separates the outlier

    def test_identical_docs_identical_scores(self, spark):
        from proxima_platform_spark.functions.ranking import trigram_lm_scores

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
            "doc_id int, text string",
        )
        got = {r.doc_id: r.lm_score for r in trigram_lm_scores(docs).collect()}
        assert got[1] == got[2]


class TestParagraphDedup:
    def _run(self, spark, rows):
        from proxima_platform_spark.functions.dedup import dedup_paragraphs

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r.doc_id: (r.n_para, r.n_kept, r.text_dedup)
            for r in dedup_paragraphs(df).collect()
        }

    def test_no_duplicates_roundtrips(self, spark):
        got = self._run(spark, [(1, "alpha beta\ngamma delta"), (2, "epsilon zeta")])
        assert got == {
            1: (2, 2, "alpha beta\ngamma delta"),
            2: (1, 1, "epsilon zeta"),
        }

    def test_cross_doc_duplicate_kept_in_smallest_id(self, spark):
        got = self._run(
            spark,
            [(2, "shared para\nunique two"), (1, "unique one\nshared para")],
        )
        # doc 1 keeps 'shared para' (smallest doc_id wins); doc 2 drops it
        assert got[1] == (2, 2, "unique one\nshared para")
        assert got[2] == (2, 1, "unique two")

    def test_within_doc_duplicate_kept_at_first_pos(self, spark):
        got = self._run(spark, [(1, "again\nmiddle\nagain")])
        assert got[1] == (3, 2, "again\nmiddle")

    def test_fully_deduplicated_doc_stays_with_empty_text(self, spark):
        got = self._run(spark, [(1, "only para"), (2, "only para")])
        assert got[1] == (1, 1, "only para")
        assert got[2] == (1, 0, "")

    def test_blank_paragraphs_dropped_before_counting(self, spark):
        got = self._run(spark, [(1, "first\n\n  \nsecond\n")])
        assert got[1] == (2, 2, "first\nsecond")


class TestChunking:
    def test_chunks_cover_and_overlap(self, spark):
        from proxima_platform_spark.functions.text import chunk_documents

        text = " ".join(f"w{i}" for i in range(40))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = sorted(
            chunk_documents(docs, chunk_tokens=16, stride=12).collect(),
            key=lambda r: r.chunk_id,
        )
        # starts at 0,12,24,36 → 4 chunks; sizes 16,16,16,4
        assert [r.n_tokens for r in out] == [16, 16, 16, 4]
        # dropping the 4-token overlap from every chunk after the first
        # reconstructs the document exactly
        rebuilt = out[0].chunk_text.split()
        for r in out[1:]:
            rebuilt += r.chunk_text.split()[4:]
        assert rebuilt == text.split()

    def test_short_doc_single_chunk(self, spark):
        from proxima_platform_spark.functions.text import chunk_documents

        docs = spark.createDataFrame([(1, "only three words")], "doc_id long, text string")
        out = chunk_documents(docs, chunk_tokens=16, stride=12).collect()
        assert len(out) == 1 and out[0].n_tokens == 3


class TestArrowFastPathParity:
    """The Arrow fast paths must be value-identical to their pure-expression
    specs (which the DuckDB oracles mirror)."""

    def test_repetition_counts_match_expression_form(self, spark, sf_dir):
        import __spark_entry__ as entry
        from proxima_platform_spark.functions.text import repetition_signals

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
        sig = repetition_signals(F.col("text"))
        expr_rows = {
            r.doc_id: (r.a, r.b, r.c)
            for r in docs.select(
                "doc_id",
                sig["dup_word_frac"].alias("a"),
                sig["top_bigram_frac"].alias("b"),
                sig["dup_line_frac"].alias("c"),
            ).collect()
        }
        fast = entry.q_repetition_signals.__wrapped__ if hasattr(
            entry.q_repetition_signals, "__wrapped__") else entry.q_repetition_signals
        got_rows = {
            r.doc_id: (r.dup_word_frac, r.top_bigram_frac, r.dup_line_frac)
            for r in fast(spark, sf_dir).collect()
        }
        for k, v in expr_rows.items():
            assert got_rows[k] == v, k

    def test_repetition_counts_whitespace_edge_parity(self, spark):
        # ADVICE r03: leading tab/newline and '\r' cases — Python str.strip()/
        # str.split() diverge from the Spark/DuckDB spec (space-only trim,
        # Java-\s split). The Arrow path must match the expression form on
        # exactly these inputs.
        from proxima_platform_spark.functions.text import (
            _norm_tokens,
            repetition_counts_arrow,
        )

        nasty = [
            (1, "\tleading tab text"),
            (2, "\nleading newline"),
            (3, "trailing tab\t"),
            (4, "line one\r\nline two\r\nline one"),
            (5, "  double  spaced  words  "),
            (6, "\t"),
            (7, "plain text no tricks plain text"),
            (8, "a\x0bb\x0cc"),
        ]
        docs = spark.createDataFrame(nasty, "doc_id long, text string")
        toks = _norm_tokens(F.col("text"))
        lines = F.filter(
            F.transform(F.split("text", r"\n", -1), lambda l: F.trim(l)),
            lambda l: F.length(l) > 0,
        )
        expr = {
            r.doc_id: (r.n_tok, r.n_tok_distinct, r.n_line, r.n_line_distinct)
            for r in docs.select(
                "doc_id",
                F.size(toks).alias("n_tok"),
                F.size(F.array_distinct(toks)).alias("n_tok_distinct"),
                F.size(lines).alias("n_line"),
                F.size(F.array_distinct(lines)).alias("n_line_distinct"),
            ).collect()
        }
        fast = {
            r.doc_id: (r.n_tok, r.n_tok_distinct, r.n_line, r.n_line_distinct)
            for r in repetition_counts_arrow(docs).collect()
        }
        assert fast == expr

    def test_quantize_matches_expression_form(self, spark, sf_dir):
        from proxima_platform_spark.functions.similarity import (
            quantize_embeddings,
            quantize_embeddings_arrow,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
        a = {r.vec_id: (r.vmin, r.vmax, r.q_checksum, r.mse)
             for r in quantize_embeddings(emb).collect()}
        b = {r.vec_id: (r.vmin, r.vmax, r.q_checksum, r.mse)
             for r in quantize_embeddings_arrow(emb).collect()}
        assert a == b


class TestQualityLangParity:
    EDGE_DOCS = [
        (0, "the cat and the dog is of to the house"),      # english markers
        (1, "der hund und die katze ist das haus"),          # german
        (2, ""),                                             # empty
        (3, "   "),                                          # blank
        (4, "\tthe and of to is leading tab"),               # tab head (trim parity)
        (5, "x" * 500),                                      # long, no markers
        (6, "le la et les des " * 3),                         # french repeats
        (7, " the  the the  and and "),                       # overlap-ish markers
        (8, "a\r\nb\x0bc d"),                                 # exotic whitespace
        (9, "12345 67890 !!! ???"),                           # no alpha
    ]

    def test_arrow_matches_expression_spec(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from proxima_platform_spark.functions.text import (
            language_id,
            quality_lang_arrow,
            quality_score,
        )

        fixture = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        edge = spark.createDataFrame(self.EDGE_DOCS, "doc_id long, text string")
        docs = fixture.unionByName(edge.withColumn("doc_id", F.col("doc_id") + 10_000))
        want = {
            r["doc_id"]: (r["q"], r["l"])
            for r in docs.select(
                "doc_id",
                quality_score(F.col("text")).alias("q"),
                language_id(F.col("text")).alias("l"),
            ).collect()
        }
        got = {
            r["doc_id"]: (r["quality"], r["lang_guess"])
            for r in quality_lang_arrow(docs).collect()
        }
        assert got == want  # bit-identical, including rounding

    def test_keep_columns_ride_through(self, spark):
        from proxima_platform_spark.functions.text import quality_lang_arrow

        df = spark.createDataFrame(
            [(1, "s0", "the and of")], "doc_id long, source string, text string"
        )
        out = quality_lang_arrow(df, keep=("source", "text")).collect()[0]
        assert out["source"] == "s0" and out["text"] == "the and of"


class TestRrfFusion:
    def test_fusion_math_and_missing_ids(self, spark):
        """rrf = sum 1/(k+rank) over the rankings an id appears in; ids
        absent from one ranking contribute only the other's term; order
        is (rrf desc, id)."""
        from proxima_platform_spark.functions.ranking import rrf_fuse

        a = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
        )
        b = spark.createDataFrame(
            [(2, 1), (3, 2), (4, 3)], "doc_id long, rank int"
        )
        got = {
            r.doc_id: (r.rrf, r.n_rankers)
            for r in rrf_fuse([a, b], k=60).collect()
        }
        assert got[2] == (round(1 / 62 + 1 / 61, 9), 2)
        assert got[3] == (round(1 / 63 + 1 / 62, 9), 2)
        assert got[1] == (round(1 / 61, 9), 1)
        assert got[4] == (round(1 / 63, 9), 1)
        order = [
            r.doc_id for r in rrf_fuse([a, b], k=60, top=2).collect()
        ]
        assert order == [2, 3]  # both-ranker docs fuse above single-ranker

    def test_requires_rankings(self, spark):
        import pytest

        from proxima_platform_spark.functions.ranking import rrf_fuse

        with pytest.raises(ValueError, match="at least one"):
            rrf_fuse([])


class TestKneserNey:
    """Interpolated Kneser-Ney bigram LM: hand-checked probabilities,
    the continuation fix, and validation."""

    def test_matches_hand_computation(self, spark):
        from math import log

        from proxima_platform_spark.functions.ranking import (
            kneser_ney_scores,
        )

        # corpus: doc 1 "a b a b", doc 2 "a c"
        # bigrams: (a,b)x2, (b,a)x1, (a,c)x1
        # c(a·)=3, c(b·)=1; N1+(a·)=2, N1+(b·)=1
        # N1+(·b)=1, N1+(·a)=1, N1+(·c)=1, N1+(··)=3
        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a c")], "doc_id long, text string"
        )
        D = 0.75

        def p(cvw, cv, n1v, n1w):
            return max(cvw - D, 0.0) / cv + (D * n1v / cv) * (n1w / 3.0)

        p_ab = p(2, 3, 2, 1)
        p_ba = p(1, 1, 1, 1)
        p_ac = p(1, 3, 2, 1)
        lp = lambda x: round(log(x), 8)  # noqa: E731
        want1 = round((lp(p_ab) * 2 + lp(p_ba)) / 3, 6)
        want2 = round(lp(p_ac) / 1, 6)
        got = {
            r.doc_id: r.kn_score for r in kneser_ney_scores(df).collect()
        }
        assert abs(got[1] - want1) < 1e-9
        assert abs(got[2] - want2) < 1e-9

    def test_continuation_beats_raw_unigram(self, spark):
        """The KN property: a word frequent ONLY inside one collocation
        gets a LOW continuation probability. 'york' appears 5 times but
        always after 'new'; 'dog' appears twice after two different
        contexts — P_cont(dog) > P_cont(york) even though c(york) >
        c(dog), so an unseen-context bigram ending in 'york' scores
        lower than one ending in 'dog'."""
        from proxima_platform_spark.functions.ranking import (
            kneser_ney_scores,
        )

        corpus = spark.createDataFrame(
            [
                (1, "new york new york new york new york new york"),
                (2, "the dog ran dog"),
                # probe docs: same context 'ran' before each target
                (3, "ran york"),
                (4, "ran dog"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.kn_score
            for r in kneser_ney_scores(corpus).collect()
        }
        assert got[4] > got[3]

    def test_discount_validation(self, spark):
        import pytest

        from proxima_platform_spark.functions.ranking import (
            kneser_ney_scores,
        )

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        for bad in (0.0, 1.0, -0.5):
            with pytest.raises(ValueError, match="discount"):
                kneser_ney_scores(df, discount=bad)

    def test_single_token_docs_unscored(self, spark):
        from proxima_platform_spark.functions.ranking import (
            kneser_ney_scores,
        )

        df = spark.createDataFrame(
            [(1, "alone"), (2, "a b")], "doc_id long, text string"
        )
        got = {r.doc_id for r in kneser_ney_scores(df).collect()}
        assert got == {2}


class TestKneserNey3:
    """Trigram interpolated KN: hand-checked recursion through the
    continuation middle order, and the order-3 separation property."""

    def test_matches_hand_computation(self, spark):
        from math import log

        from proxima_platform_spark.functions.ranking import (
            kneser_ney3_scores,
        )

        # doc 1 "a b c a b c": trigrams (a,b,c)x2, (b,c,a), (c,a,b)
        # doc 2 "a b d": (a,b,d)
        # c3ctx: (a,b) c3c=3 n1uv=2; (b,c) 1,1; (c,a) 1,1
        # cc2 (distinct u per (v,w)): (b,c)=1 (c,a)=1 (a,b)=1 (b,d)=1
        # cc2ctx: b: cc2c=2 n1cv=2; c: 1,1; a: 1,1
        # nlw: c=1 a=1 b=1 d=1; ntot=4
        df = spark.createDataFrame(
            [(1, "a b c a b c"), (2, "a b d")], "doc_id long, text string"
        )
        D = 0.75

        def p2(cc2, cc2c, n1cv, nw):
            return max(cc2 - D, 0.0) / cc2c + (D * n1cv / cc2c) * (nw / 4.0)

        def p3(c3, c3c, n1uv, p2v):
            return max(c3 - D, 0.0) / c3c + (D * n1uv / c3c) * p2v

        p_abc = p3(2, 3, 2, p2(1, 2, 2, 1))
        p_bca = p3(1, 1, 1, p2(1, 1, 1, 1))
        p_cab = p3(1, 1, 1, p2(1, 1, 1, 1))
        p_abd = p3(1, 3, 2, p2(1, 2, 2, 1))
        lp = lambda x: round(log(x), 8)  # noqa: E731
        want1 = round((lp(p_abc) * 2 + lp(p_bca) + lp(p_cab)) / 4, 6)
        want2 = round(lp(p_abd) / 1, 6)
        got = {
            r.doc_id: r.kn3_score for r in kneser_ney3_scores(df).collect()
        }
        assert abs(got[1] - want1) < 1e-9
        assert abs(got[2] - want2) < 1e-9

    def test_order3_separates_shuffled_prose(self, spark):
        """The reason for order 3: a probe doc reusing the corpus's own
        trigrams scores higher than one built from the same BIGRAMS
        glued in an order whose trigrams are rarer — a bigram LM sees
        both probes much closer together."""
        from proxima_platform_spark.functions.ranking import (
            kneser_ney3_scores,
        )

        base = "the cat sat on the mat " * 5
        corpus = spark.createDataFrame(
            [
                (1, base),
                # fluent probe: in-corpus trigrams
                (2, "the cat sat on the mat"),
                # glued probe: valid bigrams (mat the, the cat / sat on)
                # but novel trigrams
                (3, "on the cat sat on the"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.kn3_score
            for r in kneser_ney3_scores(corpus).collect()
        }
        assert got[2] > got[3]

    def test_discount_validation(self, spark):
        import pytest

        from proxima_platform_spark.functions.ranking import (
            kneser_ney3_scores,
        )

        df = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string"
        )
        for bad in (0.0, 1.0, -0.5):
            with pytest.raises(ValueError, match="discount"):
                kneser_ney3_scores(df, discount=bad)

    def test_short_docs_unscored(self, spark):
        from proxima_platform_spark.functions.ranking import (
            kneser_ney3_scores,
        )

        df = spark.createDataFrame(
            [(1, "alone"), (2, "a b"), (3, "a b c")],
            "doc_id long, text string",
        )
        got = {r.doc_id for r in kneser_ney3_scores(df).collect()}
        assert got == {3}


class TestKneserNey3Modified:
    """Modified KN (Chen-Goodman three-discount) at order 3: python-model
    parity on a corpus exercising every count class at both orders, and
    KenLM's discount fallback for empty classes and out-of-range
    estimates."""

    # repetition plants trigrams at counts 1..4 and several contexts
    # share (v,w) continuations so both orders have classes 1..3
    CORPUS = [
        (1, "a b c a b c a b c a b c"),      # (a,b,c) x4
        (2, "x b c y b c z b c"),            # cc2(b,c) gains u∈{x,y,z}
        (3, "p q r p q r p q r"),            # (p,q,r) x3
        (4, "m q r n q r"),                  # cc2(q,r) += {m,n}
        (5, "s t u s t u"),                  # (s,t,u) x2
        (6, "one two three four five six"),  # singletons
        (7, "two three four seven eight"),
        (8, "k t u"),                        # cc2(t,u) = {s,k} -> class 2
    ]

    def test_matches_python_model(self, spark):
        from proxima_platform_spark.functions.ranking import (
            kneser_ney3_scores,
        )

        df = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        want = _kn_model(self.CORPUS, 3, modified=True)
        got = {
            r.doc_id: r.kn3_mkn_score
            for r in kneser_ney3_scores(df, modified=True).collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])

    def test_degenerate_corpus_takes_fallback_discounts(self, spark):
        from decimal import Decimal
        from math import log

        from proxima_platform_spark.functions.ranking import (
            kneser_ney3_scores,
        )

        # all trigram counts are 1 -> n2 = n3 = 0 at BOTH orders -> every
        # order takes KenLM --discount_fallback (D1=0.5); replay by hand:
        # each trigram: c3=1 ctx(c3c=1,e1=1) cc2=1 cc2ctx(cc2c=1,e1=1)
        # nlw=1 ntot=3
        df = spark.createDataFrame(
            [(1, "a b c d e")], "doc_id long, text string"
        )
        [row] = kneser_ney3_scores(df, modified=True).collect()
        p2 = max(1 - 0.5, 0.0) / 1 + (0.5 * 1 / 1) * (1 / 3)
        p3 = max(1 - 0.5, 0.0) / 1 + (0.5 * 1 / 1) * p2
        lp = Decimal(repr(round(log(p3), 6)))
        want = round(float(lp * 3) / 3, 6)
        assert abs(row["kn3_mkn_score"] - want) < 1e-9

    def test_negative_discount_takes_fallback(self, spark):
        """Trigram count-of-counts n1=1, n2=1, n3=5 estimate D2 = 2 −
        3·(1/3)·5/1 = −3, outside KenLM's [0, 2]: the order must take the
        fallback discounts. With the raw estimate, λ(a,b) is negative and
        P(c|a,b) < 0, so ln gives NULL and doc 1 silently loses its only
        trigram."""
        from proxima_platform_spark.functions.ranking import (
            kneser_ney3_scores,
        )

        rows = [(1, "a b c"), (2, "a b d"), (3, "a b d")] + [
            (10 * i + r, f"p{i} q{i} r{i}")
            for i in range(1, 6)
            for r in range(3)
        ]
        _, tables = _kn_tables(rows, 3)
        assert sorted(tables[3].values()) == [1, 2] + [3] * 5
        assert _kn_discounts(tables[3])[1]  # out of range -> fallback
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: r.kn3_mkn_score
            for r in kneser_ney3_scores(df, modified=True).collect()
        }
        want = _kn_model(rows, 3, modified=True)
        assert set(got) == set(want)
        assert all(v is not None for v in got.values()), got
        for did in want:
            assert abs(got[did] - want[did]) < 1e-9, (did, got[did], want[did])


class TestPmiBigrams:
    def test_collocation_outranks_chance_pair(self, spark):
        """'strong coffee' always co-occurs; 'the'+anything is chance —
        PMI ranks the collocation first. Hand-check the value."""
        from math import log

        from proxima_platform_spark.functions.ranking import pmi_bigrams

        docs = spark.createDataFrame(
            [(i, "strong coffee the cat the dog the fish") for i in range(5)],
            "doc_id long, text string",
        )
        out = pmi_bigrams(docs, min_count=5, top_k=10).collect()
        assert out[0].v == "strong" and out[0].w == "coffee"
        # T = 35 bigrams (7 per doc x 5); c(strong,coffee)=5,
        # c(strong .)=5, c(. coffee)=5
        assert out[0].n_vw == 5
        assert out[0].pmi == round(log(5 * 35 / (5 * 5)), 6)

    def test_min_count_floors_hapax(self, spark):
        from proxima_platform_spark.functions.ranking import pmi_bigrams

        docs = spark.createDataFrame(
            [(1, "rare pair common word common word common word")],
            "doc_id long, text string",
        )
        out = pmi_bigrams(docs, min_count=2, top_k=10).collect()
        assert all((r.v, r.w) != ("rare", "pair") for r in out)

    def test_validation(self, spark):
        import pytest

        from proxima_platform_spark.functions.ranking import pmi_bigrams

        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="min_count"):
            pmi_bigrams(docs, min_count=0)
        with pytest.raises(ValueError, match="top_k"):
            pmi_bigrams(docs, top_k=0)


def _kn_discounts(counts):
    """Chen-Goodman D1/D2/D3+ of one order's count table, and whether
    KenLM's --discount_fallback (0.5, 1.0, 1.5) replaced them: an empty
    class n1/n2/n3, or some D_j outside [0, j]."""
    from collections import Counter

    cls = Counter(counts.values())
    n1, n2, n3, n4 = (cls.get(j, 0) for j in (1, 2, 3, 4))
    if n1 and n2 and n3:
        y = n1 / (n1 + 2 * n2)
        dd = (
            1.0 - 2.0 * y * n2 / n1,
            2.0 - 3.0 * y * n3 / n2,
            3.0 - 4.0 * y * n4 / n3,
        )
        if all(0.0 <= d <= j for j, d in enumerate(dd, 1)):
            return dd, False
    return (0.5, 1.0, 1.5), True


def _kn_tables(rows, order):
    """Per-doc order-N grams and the count tables of orders N..1: raw
    counts at N, continuation counts (distinct left extensions) below."""
    from collections import Counter

    per_doc, top = {}, Counter()
    for did, txt in rows:
        t = txt.split()
        gs = [tuple(t[i: i + order]) for i in range(len(t) - order + 1)]
        per_doc[did] = gs
        top.update(gs)
    tables = {order: top}
    for k in range(order - 1, 0, -1):
        tables[k] = Counter(g[1:] for g in tables[k + 1])
    return per_doc, tables


def _kn_model(rows, order, discount=0.75, modified=False):
    """Pure-python replay of kn_scores_from_counts at any order: full
    N..1 recursion, quantized lps, exact-integer round-half-away mean."""
    import math
    from collections import defaultdict
    from decimal import Decimal

    per_doc, tables = _kn_tables(rows, order)
    ntot = len(tables[2])
    tot, n1, ecls, dd = {}, {}, {}, {}
    for k in range(2, order + 1):
        tot[k], n1[k] = defaultdict(int), defaultdict(int)
        ecls[k] = defaultdict(lambda: [0, 0, 0])
        for g, c in tables[k].items():
            ctx = g[:-1]
            tot[k][ctx] += c
            n1[k][ctx] += 1
            ecls[k][ctx][min(c, 3) - 1] += 1
        dd[k] = _kn_discounts(tables[k])[0]
    dp = 6 if modified else 8
    out = {}
    for did, gs in per_doc.items():
        if not gs:
            continue
        su = Decimal(0)
        for g in gs:
            p = tables[1][g[-1:]] / ntot
            for k in range(2, order + 1):
                sub = g[order - k:]
                ctx = sub[:-1]
                c = tables[k][sub]
                t_ = tot[k][ctx]
                if modified:
                    d1, d2, d3 = dd[k]
                    dsel = d1 if c == 1 else (d2 if c == 2 else d3)
                    e1, e2, e3 = ecls[k][ctx]
                    lam = (d1 * e1 + d2 * e2 + d3 * e3) / t_
                    p = max(c - dsel, 0.0) / t_ + lam * p
                else:
                    p = (
                        max(c - discount, 0.0) / t_
                        + (discount * n1[k][ctx] / t_) * p
                    )
            su += Decimal(repr(round(math.log(p), dp)))
        cnt = len(gs)
        m = 10 ** (dp - 6)
        su_i = int(su * 10 ** dp)
        q = (2 * abs(su_i) + m * cnt) // (2 * m * cnt)
        out[did] = (-q if su_i < 0 else q) / 1e6
    return out


def _kn_corpus():
    # deterministic pseudo-random base (vocab 40: rich order-2/3 count
    # classes) + crafted repeats that populate the order-4/5 classes the
    # modified estimator divides by (n1/n2/n3 per order)
    rows, x = [], 12345
    for did in range(50):
        toks = []
        for _ in range(80):
            x ^= (x << 13) & 0xFFFFFFFF
            x ^= x >> 17
            x ^= (x << 5) & 0xFFFFFFFF
            toks.append(f"w{x % 40}")
        rows.append((did, " ".join(toks)))
    rows += [
        (100, "qa qb qc qd qe"),  # 5-gram count 2  -> o5 n2
        (101, "qa qb qc qd qe"),
        (102, "ra rb rc rd re"),  # 5-gram count 3  -> o5 n3
        (103, "ra rb rc rd re"),
        (104, "ra rb rc rd re"),
        (105, "xa sa sb sc sd"),  # 3 lefts of (sa..sd) -> o4 n3
        (106, "xb sa sb sc sd"),
        (107, "xc sa sb sc sd"),
        (108, "ya ta tb tc td"),  # 2 lefts -> o4 n2
        (109, "yb ta tb tc td"),
        (110, "za ma ua ub uc"),  # 3 distinct w2 of (ua,ub,uc) -> o3 n3
        (111, "za mb ua ub uc"),
        (112, "za mc ua ub uc"),
        (999, "a"),  # shorter than every order: drops out
    ]
    return rows


class TestKneserNey5:
    """Order-5 modified KN on a corpus where every order is degenerate."""

    def test_modified_degenerate_fallback(self, spark):
        # every order's count-of-counts is degenerate on this corpus ->
        # all orders take KenLM's --discount_fallback (0.5/1.0/1.5);
        # the result must match the python model running the same fallback
        from proxima_platform_spark.functions.ranking import kneser_ney5_scores

        rows = [(1, "a b c d e a b c d e"), (2, "a b c d e f g")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["kn5_mkn_score"]
            for r in kneser_ney5_scores(df, modified=True).collect()
        }
        want = _kn_model(rows, 5, modified=True)
        assert got.keys() == want.keys()
        for did in want:
            assert abs(got[did] - want[did]) < 1e-9, did


def _normalize_exact(pdf):
    """Rows as exact text (tools/exact_check.py, the driver-mimic)."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "exact_check.py",
    )
    spec = importlib.util.spec_from_file_location("exact_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize_exact(pdf)


class TestKneserNeyEngine:
    """The one order-generic engine (kn_scores_from_counts): python-model
    parity per order and variant, and exact-text parity of the declared
    KN queries with their DuckDB oracles."""

    @pytest.mark.parametrize("modified", [False, True], ids=["plain", "mkn"])
    @pytest.mark.parametrize("order", [2, 3, 5])
    def test_matches_python_model(self, spark, order, modified):
        from proxima_platform_spark.functions import ranking

        rows = _kn_corpus()
        df = spark.createDataFrame(rows, "doc_id long, text string")
        if order == 2 and modified:  # no public order-2 modified wrapper
            grams = ranking.kn_grams(df, 2)
            counts = grams.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
            out = ranking.kn_scores_from_counts(counts, grams, modified=True)
        else:
            wrapper = {
                2: ranking.kneser_ney_scores,
                3: ranking.kneser_ney3_scores,
                5: ranking.kneser_ney5_scores,
            }[order]
            kw = {"modified": True} if modified else {}
            out = wrapper(df, **kw)
        col = ranking.kn_score_col(order, modified)
        got = {r["doc_id"]: r[col] for r in out.collect()}
        want = _kn_model(rows, order, modified=modified)
        assert set(got) == set(want) and 999 not in got
        for did in want:
            assert abs(got[did] - want[did]) < 1e-9, (did, got[did], want[did])
        if modified:  # non-vacuous: the estimated discounts are in use
            _, tables = _kn_tables(rows, order)
            assert not _kn_discounts(tables[2])[1]

    def test_counts_table_must_name_its_order(self, spark):
        from proxima_platform_spark.functions.ranking import (
            kn_scores_from_counts,
        )

        grams = spark.createDataFrame(
            [(1, "a")], "doc_id long, w1 string"
        )
        counts = spark.createDataFrame([("a", 1)], "w1 string, c1 long")
        with pytest.raises(ValueError, match="cN column"):
            kn_scores_from_counts(counts, grams)

    ORACLE_QUERIES = [
        "kneser_ney_score",
        "kneser_ney3_score",
        "kneser_ney3_mkn_score",
        "kneser_ney5_score",
        "kneser_ney5_mkn_score",
        "perplexity_band_prep",
        # the banded LSH family (functions/dedup.py shared stages)
        "dedup_minhash",
        "dedup_minhash_oph",
        "dedup_minhash_bbit",
        "dedup_minhash_weighted",
        "dedup_simhash_pairs",
        "fuzzy_decontaminate",
        "dedup_paragraphs_near",
    ]

    @pytest.mark.parametrize("name", ORACLE_QUERIES)
    def test_spark_matches_duckdb_oracle_sf001(self, spark, sf_dir, name):
        """The declared query and its oracle_sql() agree as exact text
        (no rounding tolerance) on the sf0.01 fixture."""
        import os

        import duckdb

        import __spark_entry__ as entry

        sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
        if not os.path.exists(os.path.join(sf, "documents.parquet")):
            pytest.skip(f"no sf0.01 fixture next to {sf_dir}")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        got = entry.queries()[name](spark, sf).toPandas()
        want = con.execute(entry.oracle_sql()[name]).fetchdf()
        assert sorted(got.columns) == sorted(want.columns)
        assert len(got) > 0
        assert _normalize_exact(got) == _normalize_exact(want)

    @pytest.mark.parametrize("order", [2, 3, 5])
    def test_generator_matches_engine_out_of_range(self, spark, tmp_path, order):
        """Modified KN on a corpus whose top-order estimate has D2 < 0 at
        every order (count-of-counts 2/2/22 at order 2, 3/3/15 at order
        3, 1/1/5 at order 5): the engine, the oracle generator and the
        python model take the same fallback, so ln never sees a
        non-positive probability."""
        import duckdb

        import __spark_entry__ as entry
        from proxima_platform_spark.functions import ranking

        rows = [(1, "a b c e f"), (2, "a b d e f"), (3, "a b d e f")] + [
            (10 * i + r, f"p{i} q{i} r{i} s{i} t{i}")
            for i in range(1, 6)
            for r in range(3)
        ]
        path = str(tmp_path / "documents.parquet")
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.toPandas().to_parquet(path)
        grams = ranking.kn_grams(df, order)
        w = [f"w{i}" for i in range(1, order + 1)]
        counts = grams.groupBy(*w).agg(F.count("*").alias(f"c{order}"))
        got = ranking.kn_scores_from_counts(
            counts, grams, modified=True
        ).toPandas()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = con.execute(entry._sql_kneser_ney(order, True)).fetchdf()
        assert got.notna().all().all()
        assert _normalize_exact(got) == _normalize_exact(want)
        model = _kn_model(rows, order, modified=True)
        assert set(got["doc_id"]) == set(model)
        for did, score in zip(got["doc_id"], got.iloc[:, 1]):
            assert abs(score - model[did]) < 1e-9, (did, score, model[did])
