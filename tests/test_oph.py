"""One-Permutation-Hashing MinHash (functions/dedup.py::oph_signature_df)
vs a pure-python model: Li-Owen-Zhang'12 binned mins + Shrivastava-Li'14
rotation densification, bit-exact."""

import hashlib
import re

from pyspark.sql import functions as F

from proxima_platform_spark.functions.dedup import (
    OPH_DENSIFY_C,
    oph_candidate_pairs,
    oph_signature_df,
)

K = 8


def model_signature(text: str, k: int = K, n: int = 3) -> list[int] | None:
    toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    if len(toks) < n:
        return None
    shingles = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    hs = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2**30
        for s in shingles
    ]
    mins = [
        min((h for h in hs if h % k == j), default=None) for j in range(k)
    ]
    sig = []
    for j in range(k):
        for t in range(k):
            v = mins[(j + t) % k]
            if v is not None:
                sig.append(v + t * OPH_DENSIFY_C)
                break
    return sig


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "completely different content about spark execution engines"),
    (4, "one two three"),  # exactly one shingle → 7 empty bins densified
    (5, "too short"),  # < n tokens → drops out
    (6, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
]


class TestOphSignature:
    def test_matches_python_model(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        got = {
            r["id"]: [r[f"sig_{j}"] for j in range(K)]
            for r in oph_signature_df(df, "doc_id", "text", num_bins=K).collect()
        }
        expected = {
            i: model_signature(t) for i, t in DOCS if model_signature(t)
        }
        assert got == expected

    def test_short_docs_drop_out(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        ids = {r["id"] for r in oph_signature_df(df, "doc_id", "text").collect()}
        assert 5 not in ids

    def test_densification_borrows_with_offset(self):
        # one shingle → its hash lands in exactly one bin; every other bin
        # must read that value + t*C for its borrow distance t
        sig = model_signature("one two three")
        base_positions = [j for j in range(K) if sig[j] < OPH_DENSIFY_C]
        assert len(base_positions) == 1
        j0 = base_positions[0]
        for j in range(K):
            t = (j0 - j) % K
            assert sig[j] == sig[j0] + t * OPH_DENSIFY_C


class TestOphPairs:
    def test_pairs_match_model_banding(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in oph_candidate_pairs(df, "doc_id", "text").collect()
        }
        # model: band b key = (b, sig[2b], sig[2b+1]); pair iff any band matches
        sigs = {i: model_signature(t) for i, t in DOCS if model_signature(t)}
        expected = set()
        ids = sorted(sigs)
        for i in ids:
            for j in ids:
                if i < j and any(
                    sigs[i][2 * b : 2 * b + 2] == sigs[j][2 * b : 2 * b + 2]
                    for b in range(4)
                ):
                    expected.add((i, j))
        assert (1, 6) in expected  # exact dups always collide
        assert got == expected

    def test_near_dup_recall_vs_distinct(self, spark):
        # 1 vs 2 differ by one trailing token — most shingles shared; the
        # deterministic model decides whether they band-collide, and the
        # engine must agree. 3 shares nothing with 1 and must never pair.
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in oph_candidate_pairs(df, "doc_id", "text").collect()
        }
        assert (1, 3) not in got and (2, 3) not in got


class TestBbitMinhash:
    def model_pairs(self, rows, b=4, num_hashes=8, bands=2):
        import hashlib

        from proxima_platform_spark.functions.dedup import (
            MINHASH_A, MINHASH_B, MINHASH_PRIME,
        )
        sigs = {}
        for did, text in rows:
            import re as _re
            t = _re.sub(r"\s+", " ", text.strip().lower()).split(" ")
            if len(t) < 3:
                continue
            sh = [" ".join(t[i: i + 3]) for i in range(len(t) - 2)]
            hs = [
                int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2**30
                for s in sh
            ]
            sigs[did] = [
                min((MINHASH_A[i] * h + MINHASH_B[i]) % MINHASH_PRIME
                    for h in hs) % 2**b
                for i in range(num_hashes)
            ]
        rpb = num_hashes // bands
        out = set()
        ids = sorted(sigs)
        for i in ids:
            for j in ids:
                if i < j and any(
                    sigs[i][bd * rpb: (bd + 1) * rpb]
                    == sigs[j][bd * rpb: (bd + 1) * rpb]
                    for bd in range(bands)
                ):
                    out.add((i, j))
        return out

    def test_pairs_match_model(self, spark):
        from proxima_platform_spark.functions.dedup import bbit_minhash_pairs

        rows = DOCS  # reuse the OPH corpus (has exact dups + near dups)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in bbit_minhash_pairs(df, "doc_id", "text").collect()
        }
        want = self.model_pairs(rows)
        assert (1, 6) in want  # exact dups always share every band
        assert got == want

    def test_band_width_guard(self, spark):
        import pytest as _pytest

        from proxima_platform_spark.functions.dedup import bbit_minhash_pairs

        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        with _pytest.raises(ValueError):
            bbit_minhash_pairs(df, "doc_id", "text", num_hashes=8, bands=3)


class TestIcwsWeighted:
    @staticmethod
    def model_signature(text, num_hashes=8):
        import hashlib
        import math
        import re as _re
        from collections import Counter

        toks = Counter(
            _re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        )
        qln = lambda x: round(math.log(x), 8)

        def u(w, s, j):
            h = (
                int(
                    hashlib.md5(f"{w}|{s}|{j}".encode()).hexdigest()[:15], 16
                )
                % 2**30
            )
            return (h + 1) / float(2**30 + 2)

        sig = []
        for s in range(num_hashes):
            best = None
            for w, tf in toks.items():
                r = -(qln(u(w, s, 1)) + qln(u(w, s, 2)))
                c = -(qln(u(w, s, 4)) + qln(u(w, s, 5)))
                beta = u(w, s, 3)
                t = math.floor(qln(float(tf)) / r + beta)
                la = qln(c) - r * (float(t) - beta + 1.0)
                if best is None or (la, w) < best:
                    best = (la, w)
            sig.append(best[1])
        return sig

    def test_signature_matches_python_model(self, spark):
        from proxima_platform_spark.functions.dedup import icws_signature_df

        rows = [
            (1, "alpha alpha alpha beta gamma"),
            (2, "alpha beta beta delta delta delta delta"),
            (3, "epsilon zeta eta theta"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {}
        for r in icws_signature_df(df, "doc_id", "text", num_hashes=8).collect():
            got.setdefault(r["id"], {})[r["seed"]] = r["token"]
        for did, text in rows:
            want = self.model_signature(text)
            assert [got[did][s] for s in range(8)] == want, did

    def test_weighting_separates_repetition_profiles(self, spark):
        # A and B share one HEAVY token (tf 50) and differ in singletons:
        # weighted Jaccard ~ 50/60 -> same token dominates every sample
        # with high probability. C has the same token ONCE among distinct
        # singletons: weighted Jaccard to A is tiny. The deterministic
        # model decides the pairs; the engine must agree.
        from proxima_platform_spark.functions.dedup import icws_candidate_pairs

        heavy = " ".join(["boiler"] * 50)
        rows = [
            (1, heavy + " a1 a2 a3 a4 a5"),
            (2, heavy + " b1 b2 b3 b4 b5"),
            (3, "boiler c1 c2 c3 c4 c5 c6 c7 c8 c9"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in icws_candidate_pairs(
                df, "doc_id", "text", num_hashes=8, bands=2
            ).collect()
        }
        sigs = {did: self.model_signature(t) for did, t in rows}
        expected = set()
        for i in (1, 2, 3):
            for j in (1, 2, 3):
                if i < j and any(
                    sigs[i][b * 4: b * 4 + 4] == sigs[j][b * 4: b * 4 + 4]
                    for b in range(2)
                ):
                    expected.add((i, j))
        assert got == expected
        assert (1, 2) in got          # heavy-token twins collide
        assert (1, 3) not in got      # singleton-profile doc does not


class TestBandKeyHygiene:
    def test_oph_bands_must_divide_bins(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        with _pytest.raises(ValueError):
            oph_candidate_pairs(df, "doc_id", "text", num_bins=8, bands=3)

    def test_minhash_bands_must_divide_hashes(self, spark):
        # 8 // 3 = 2 rows per band would band only h0..h5 and silently
        # drop h6, h7 from every key
        import pytest as _pytest

        from proxima_platform_spark.functions.dedup import (
            minhash_candidate_pairs,
        )

        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        with _pytest.raises(ValueError, match="num_hashes"):
            minhash_candidate_pairs(df, "doc_id", "text", num_hashes=8, bands=3)

    def test_minhash_num_hashes_beyond_family(self, spark):
        # MINHASH_A/MINHASH_B hold 8 affine hashes: a 9th has no
        # parameters, so the request fails at the call site by name
        import pytest as _pytest

        from proxima_platform_spark.functions.dedup import (
            minhash_candidate_pairs,
        )

        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        with _pytest.raises(ValueError, match="num_hashes"):
            minhash_candidate_pairs(df, "doc_id", "text", num_hashes=16, bands=4)

    def test_bbit_band_rows_num_hashes_beyond_family(self, spark):
        import pytest as _pytest

        from proxima_platform_spark.functions.dedup import bbit_band_rows

        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        with _pytest.raises(ValueError, match="num_hashes"):
            bbit_band_rows(df, "doc_id", "text", num_hashes=10, bands=2)

    def test_bbit_signature_num_hashes_beyond_family(self, spark):
        # 9 hashes x 4 bits fits the 63-bit pack; the hash family does not
        import pytest as _pytest

        from proxima_platform_spark.functions.dedup import bbit_signature_df

        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        with _pytest.raises(ValueError, match="num_hashes"):
            bbit_signature_df(df, "doc_id", "text", num_hashes=9, b=4)

    def test_fuzzy_decontaminate_num_hashes_beyond_family(self, spark):
        # plan_bands(0.5, 16) is a valid (bands, rows) factorization; the
        # signature it would band has no 9th..16th hash
        import pytest as _pytest

        from proxima_platform_spark.functions.dedup import (
            fuzzy_contaminated_doc_ids,
            plan_bands,
        )

        bands, rows = plan_bands(0.5, 16)
        assert bands * rows == 16
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        with _pytest.raises(ValueError, match="num_hashes"):
            fuzzy_contaminated_doc_ids(df, df, num_hashes=16)

    def test_icws_pipe_tokens_do_not_alias_bands(self, spark):
        # Band keys md5 each sampled token before '|'-joining: without
        # that, two DIFFERENT signature tuples can concatenate to the
        # same band string and emit a spurious candidate pair. This pair
        # is a deterministic witness (verified against the python model):
        #   doc 1 = 'a|b' ×4           -> every seed samples 'a|b';
        #           band 1 tuple ('a|b','a|b'), raw join '1|a|b|a|b'
        #   doc 2 = 'a b|a|b'          -> seeds 2,3 sample ('a','b|a|b');
        #           band 1 tuple ('a','b|a|b'), raw join '1|a|b|a|b'
        # Same raw string, ZERO shared tokens — raw-concat banding emits
        # (1,2); token-hashed banding must not.
        from proxima_platform_spark.functions.dedup import icws_candidate_pairs

        rows = [
            (1, " ".join(["a|b"] * 4)),
            (2, "a b|a|b"),
        ]
        # precondition: the aliasing really is present in the sampled
        # signatures (guards against drift in the hash family)
        s1 = TestIcwsWeighted.model_signature(rows[0][1])
        s2 = TestIcwsWeighted.model_signature(rows[1][1])
        assert (s1[2], s1[3]) == ("a|b", "a|b")
        assert (s2[2], s2[3]) == ("a", "b|a|b")
        assert "|".join(s1[2:4]) == "|".join(s2[2:4])  # raw join aliases
        assert not set(s1) & set(s2)                   # no shared token

        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = icws_candidate_pairs(
            df, "doc_id", "text", num_hashes=8, bands=4
        ).collect()
        assert all((r["id_a"], r["id_b"]) != (1, 2) for r in got)


class TestBbitPackedSignature:
    def test_pack_unpack_matches_banding_columns(self, spark):
        # the packed artifact and the banding columns are the same
        # values: unpacking hash i of `sig` must equal the classic
        # affine-min MinHash value truncated to its low b bits
        from proxima_platform_spark.functions.dedup import (
            MINHASH_A, MINHASH_B, MINHASH_PRIME, bbit_signature_df,
        )

        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        got = {r["id"]: r["sig"] for r in
               bbit_signature_df(df, "doc_id", "text", num_hashes=8, b=4)
               .collect()}
        for did, text in DOCS:
            t = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
            if len(t) < 3:
                assert did not in got
                continue
            sh = [" ".join(t[i: i + 3]) for i in range(len(t) - 2)]
            hs = [
                int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2**30
                for s in sh
            ]
            packed = 0
            for i in range(8):
                m = min(
                    (MINHASH_A[i] * h + MINHASH_B[i]) % MINHASH_PRIME
                    for h in hs
                )
                packed |= (m % 16) << (i * 4)
            assert got[did] == packed, did

    def test_int32_when_it_fits(self, spark):
        from proxima_platform_spark.functions.dedup import bbit_signature_df

        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        sig = bbit_signature_df(df, "doc_id", "text", num_hashes=7, b=4)
        assert dict(sig.dtypes)["sig"] == "int"

    def test_width_guard(self, spark):
        import pytest as _pytest

        from proxima_platform_spark.functions.dedup import bbit_signature_df

        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        with _pytest.raises(ValueError):
            bbit_signature_df(df, "doc_id", "text", num_hashes=16, b=4)


class TestBandedCacheReuse:
    """Rebuild-dedup contract of _banded_cache_put (r13 fix): Spark's
    CacheManager aliases identical persisted plans, so a plain FIFO of
    aliases unpersists the shared entry at capacity and every later
    persist-then-evict pair cancels itself — repeated identical builds
    (bench loops, oracle sweeps, per-batch pipelines) silently lose the
    cache and recompute the signature pipeline twice per run (measured
    0.8s -> 9s at sf0.1). The cache must instead reuse a live equivalent
    entry, keep identical rebuilds at ONE entry, and still evict LRU
    across genuinely distinct frames."""

    def _reset(self, dedup):
        while dedup._BANDED_CACHE:
            dedup._BANDED_CACHE.pop().unpersist()

    def test_identical_rebuilds_share_one_cached_entry(self, spark):
        from proxima_platform_spark.functions import dedup

        self._reset(dedup)
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        try:
            for _ in range(dedup._BANDED_CACHE_KEEP + 3):
                minhash_pairs_count = dedup.minhash_candidate_pairs(
                    df, "doc_id", "text"
                ).count()
            assert len(dedup._BANDED_CACHE) == 1
            # the surviving entry is genuinely cached — the broken FIFO
            # left it permanently unpersisted past the KEEP-th rebuild
            assert dedup._BANDED_CACHE[0].storageLevel.useMemory
            assert minhash_pairs_count >= 0
        finally:
            self._reset(dedup)

    def test_distinct_frames_still_evict_lru(self, spark):
        from proxima_platform_spark.functions import dedup

        self._reset(dedup)
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        try:
            # KEEP+1 genuinely different banded frames (the seed table
            # holds 8 affine hashes, so vary shingle n for the fifth)
            for nh, n in ((2, 3), (4, 3), (6, 3), (8, 3), (2, 2)):
                dedup.minhash_candidate_pairs(
                    df, "doc_id", "text", num_hashes=nh, bands=2, n=n
                ).count()
            assert len(dedup._BANDED_CACHE) == dedup._BANDED_CACHE_KEEP
            # every surviving entry remains persisted
            assert all(
                e.storageLevel.useMemory for e in dedup._BANDED_CACHE
            )
            # and a rebuild of an evicted variant re-enters cleanly
            dedup.minhash_candidate_pairs(
                df, "doc_id", "text", num_hashes=2, bands=2
            ).count()
            assert len(dedup._BANDED_CACHE) == dedup._BANDED_CACHE_KEEP
        finally:
            self._reset(dedup)

    def test_externally_cleared_entry_is_repersisted_on_reuse(self, spark):
        """The bench's between-queries hygiene calls
        spark.catalog.clearCache(), which unpersists entries the banded
        LRU still holds; returning such a stale entry without
        re-persisting silently recomputes the signature pipeline per
        consumer (VERDICT r13 item 3 secondary bug). A reuse hit must
        re-persist a stale entry."""
        from proxima_platform_spark.functions import dedup

        self._reset(dedup)
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        try:
            dedup.minhash_candidate_pairs(
                df, "doc_id", "text", num_hashes=2, bands=2
            ).count()
            assert dedup._BANDED_CACHE[0].storageLevel.useMemory
            spark.catalog.clearCache()  # external unpersist
            assert not dedup._BANDED_CACHE[0].storageLevel.useMemory
            dedup.minhash_candidate_pairs(
                df, "doc_id", "text", num_hashes=2, bands=2
            ).count()
            assert len(dedup._BANDED_CACHE) == 1
            assert dedup._BANDED_CACHE[0].storageLevel.useMemory
        finally:
            self._reset(dedup)

    def test_reuse_refreshes_recency(self, spark):
        from proxima_platform_spark.functions import dedup

        self._reset(dedup)
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        try:
            dedup.minhash_candidate_pairs(
                df, "doc_id", "text", num_hashes=2, bands=2
            ).count()
            first = dedup._BANDED_CACHE[0]
            for nh in (4, 6, 8):
                dedup.minhash_candidate_pairs(
                    df, "doc_id", "text", num_hashes=nh, bands=2
                ).count()
            # touch the oldest: it must move to MRU ...
            dedup.minhash_candidate_pairs(
                df, "doc_id", "text", num_hashes=2, bands=2
            ).count()
            assert dedup._BANDED_CACHE[-1] is first
            # ... so the NEXT distinct insert evicts nh=4, not nh=2
            dedup.minhash_candidate_pairs(
                df, "doc_id", "text", num_hashes=2, bands=2, n=2
            ).count()
            assert first in dedup._BANDED_CACHE
            assert first.storageLevel.useMemory
        finally:
            self._reset(dedup)
