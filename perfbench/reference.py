"""Reference answers the benchmark checks the library against.

* DuckDB snapshot compaction with the library's tombstone rules: the
  newest element per (entity, key, attribute) by (stamp, seq_id); deletes
  and wildcard tombstones drop out; an instance survives a wildcard
  tombstone on its prefix iff ``stamp >= tombstone stamp``.
* Fingerprints: order-free aggregates that both engines compute exactly.
  Generated values are ``v<seq_id>``, so summing the parsed seq ids of the
  surviving rows changes whenever a different version wins.
* The oracle comparator: exact, order-insensitive row multisets.
"""

from __future__ import annotations

import decimal
import math

import duckdb


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def live_sql(paths: list[str], at_ms: int | None = None) -> str:
    """The live snapshot of the changelog in ``paths`` at ``at_ms``."""
    bound = f"WHERE epoch_ms(stamp) <= {at_ms}" if at_ms is not None else ""
    return f"""
WITH cl AS (SELECT * FROM read_parquet({_files(paths)}) {bound}),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY entity, key, attribute
        ORDER BY stamp DESC, coalesce(seq_id, 0) DESC) AS rn
    FROM cl
),
tomb AS (
    SELECT entity, key, attribute_base, max(stamp) AS tomb_stamp
    FROM cl WHERE delete_wildcard GROUP BY ALL
)
SELECT r.entity, r.key, r.attribute, r.attribute_base, r.seq_id, r.stamp,
       r.value
FROM ranked r LEFT JOIN tomb t USING (entity, key, attribute_base)
WHERE r.rn = 1 AND NOT r.delete AND NOT r.delete_wildcard
  AND (t.tomb_stamp IS NULL OR r.stamp >= t.tomb_stamp)
"""


def _seq(col: str) -> str:
    """DuckDB: the seq id a generated ``v<seq>`` value carries."""
    return f"CAST(substr(CAST({col} AS VARCHAR), 2) AS BIGINT)"


def spark_seq(col: str) -> str:
    """Spark SQL twin of :func:`_seq`."""
    return f"CAST(substring(CAST({col} AS STRING), 2) AS BIGINT)"


class Reference:
    """DuckDB answers over one generated changelog."""

    def __init__(self, paths: list[str]) -> None:
        self.paths = paths
        self.con = duckdb.connect()

    def _one(self, sql: str) -> tuple:
        return tuple(int(v or 0) for v in self.con.execute(sql).fetchone())

    def snapshot_fp(self, at_ms: int | None = None) -> tuple:
        return self._one(
            "SELECT count(*), sum(seq_id), sum(seq_id * seq_id) FROM ("
            + live_sql(self.paths, at_ms) + ")")

    def wide_fp(self, scalars: tuple[str, ...]) -> tuple:
        sums = ", ".join(
            f"sum(CASE WHEN attribute = '{a}' THEN {_seq('value')} END)"
            for a in scalars)
        return self._one(
            f"SELECT count(DISTINCT (entity, key)), {sums} FROM ("
            + live_sql(self.paths) + ")")

    def map_fp(self, base: str) -> tuple:
        return self._one(
            f"SELECT count(DISTINCT (entity, key)), count(*), sum({_seq('value')})"
            f" FROM ({live_sql(self.paths)}) WHERE attribute_base = '{base}'"
            f" AND attribute <> '{base}'")

    def diff_fp(self, at_from: int, at_to: int) -> tuple:
        a, b = live_sql(self.paths, at_from), live_sql(self.paths, at_to)
        return self._one(f"""
WITH a AS ({a}), b AS ({b}),
j AS (
    SELECT a.value AS vf, b.value AS vt
    FROM a FULL OUTER JOIN b USING (entity, key, attribute)
)
SELECT count(*) FILTER (WHERE vf IS NULL),
       count(*) FILTER (WHERE vt IS NULL),
       count(*) FILTER (WHERE vf IS NOT NULL AND vt IS NOT NULL),
       coalesce(sum({_seq('vf')}), 0), coalesce(sum({_seq('vt')}), 0)
FROM j WHERE vf IS NULL OR vt IS NULL OR vf <> vt""")

    def window_fp(self, window_ms: int) -> tuple:
        return self._one(f"""
SELECT count(*), sum(n), sum(s) FROM (
    SELECT count(*) AS n, sum(seq_id) AS s
    FROM read_parquet({_files(self.paths)})
    GROUP BY epoch_ms(stamp) // {window_ms}, key)""")

    def count_where(self, predicate: str) -> int:
        return self._one(
            f"SELECT count(*) FROM read_parquet({_files(self.paths)})"
            f" WHERE {predicate}")[0]

    def live_cells(self) -> dict[tuple[str, str], tuple[bytes, int]]:
        """(key, attribute) → (value, stamp ms) of every live cell."""
        rows = self.con.execute(
            "SELECT key, attribute, value, epoch_ms(stamp) FROM ("
            + live_sql(self.paths) + ")").fetchall()
        return {(k, a): (bytes(v), int(s)) for k, a, v, s in rows}


# -- oracle comparator --------------------------------------------------------


def _norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "\x00NULL" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return str(v)


def canonical_rows(df) -> list[tuple]:
    """Order-insensitive canonical form of a pandas frame: columns sorted
    by name, decimals as exact text, doubles as shortest round-trip
    text, rows sorted."""
    df = df[sorted(df.columns)]
    return sorted(tuple(_norm(v) for v in row)
                  for row in df.itertuples(index=False, name=None))


def oracle_mismatch(spark_pdf, duck_pdf) -> str | None:
    """None when both results hold the same rows, else a short reason."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"rows {len(spark_pdf)} != {len(duck_pdf)}"
    a, b = canonical_rows(spark_pdf), canonical_rows(duck_pdf)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"first differing row {diff}"
    return None
