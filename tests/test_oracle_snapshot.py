"""Snapshot guard for the DuckDB oracle text: a sha256 digest per key of
``oracle_sql()`` and ``banked_oracle_sql()`` is committed in
``tests/oracle_sql.sha256.json``. Refactors of the SQL generators (shared
CTE builders, de-duplicated tails) must leave every oracle byte-identical;
a deliberate oracle change regenerates the file with

    python tests/test_oracle_snapshot.py --write

It also pins the two rules every text oracle leans on: the DuckDB
tokenizer ``_sql_tokens`` and token count ``_sql_token_count`` against
the library's ``dedup.tokens`` and ``text.token_count`` on Spark.
"""

import hashlib
import json
import os
import sys

import pytest

_HERE = os.path.dirname(os.path.abspath(__file__))
_SNAPSHOT = os.path.join(_HERE, "oracle_sql.sha256.json")


def _digests() -> dict[str, dict[str, str]]:
    sys.path.insert(0, os.path.dirname(_HERE))
    import __spark_entry__ as entry

    return {
        fn: {
            k: hashlib.sha256(v.encode()).hexdigest()
            for k, v in sorted(getattr(entry, fn)().items())
        }
        for fn in ("oracle_sql", "banked_oracle_sql")
    }


def test_oracle_text_matches_snapshot():
    """Every oracle text hashes to its committed digest, and the key sets
    match (no oracle silently added or dropped). Regenerate after a
    deliberate oracle change with
    ``python tests/test_oracle_snapshot.py --write``."""
    with open(_SNAPSHOT) as f:
        want = json.load(f)
    got = _digests()
    for fn in want:
        assert sorted(got[fn]) == sorted(want[fn]), fn
        changed = sorted(k for k in want[fn] if got[fn][k] != want[fn][k])
        assert not changed, f"{fn}: oracle text changed for {changed}"


# Spark's lower() is Java's locale-free full case mapping; DuckDB's maps
# each character on its own (DELTAS.md, "Oracle-compare conventions")
_CASE_MAPPING = pytest.mark.xfail(
    strict=True,
    reason="Unicode case mapping: Spark lower() applies full case mapping "
    "(İ -> i + U+0307, word-final Σ -> ς), DuckDB lower() maps per character",
)


@pytest.mark.parametrize(
    "text",
    [
        "",
        " ",
        "  a  b ",
        "\tfoo\tbar",
        "x\ny",
        " \t ",
        "A  B\r\nC",
        "ÄÖÜ straße",
        "a\u00a0b c",
        "a\u2003b c",
        pytest.param("İstanbul", marks=_CASE_MAPPING),
        pytest.param("ΣΑΣ", marks=_CASE_MAPPING),
    ],
)
def test_tokenizer_parity(spark, text):
    """``_sql_tokens`` / ``_sql_token_count`` on DuckDB give the same
    tokens and count as ``dedup.tokens`` / ``text.token_count`` on Spark."""
    import duckdb
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.dirname(_HERE))
    import __spark_entry__ as entry
    from proxima_platform_spark.functions.dedup import tokens
    from proxima_platform_spark.functions.text import token_count

    duck = duckdb.connect().execute(
        f"SELECT {entry._sql_tokens('t')}, {entry._sql_token_count('t')}"
        " FROM (SELECT ?::VARCHAR AS t)",
        [text],
    ).fetchone()
    row = (
        spark.createDataFrame([(text,)], "t string")
        .select(tokens(F.col("t")), token_count(F.col("t")))
        .first()
    )
    assert (list(duck[0]), duck[1]) == (list(row[0]), row[1])


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_oracle_snapshot.py --write")
    with open(_SNAPSHOT, "w") as f:
        json.dump(_digests(), f, indent=1, sort_keys=True)
        f.write("\n")
