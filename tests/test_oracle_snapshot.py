"""Snapshot guard for the DuckDB oracle text: a sha256 digest per key of
``oracle_sql()`` and ``banked_oracle_sql()`` is committed in
``tests/oracle_sql.sha256.json``. Refactors of the SQL generators (shared
CTE builders, de-duplicated tails) must leave every oracle byte-identical;
a deliberate oracle change regenerates the file with

    python tests/test_oracle_snapshot.py --write
"""

import hashlib
import json
import os
import sys

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


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_oracle_snapshot.py --write")
    with open(_SNAPSHOT, "w") as f:
        json.dump(_digests(), f, indent=1, sort_keys=True)
        f.write("\n")
