"""Seeded input generators: a changelog and a documents corpus.

Both are pure functions of their arguments (numpy ``default_rng(seed)``),
so the same seed always gives byte-identical inputs. Files are written
with pyarrow directly: the inputs exist before the Spark session does
any work, and writing them costs no Spark job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENTITY = "user"
#: the 8 scalar attributes of the generated entity
SCALARS = ("status", "score", "plan", "region", "tier", "email", "locale", "origin")
WILDCARD = "device.*"
DEVICES = 16
T0_MS = 1_700_000_000_000

CHANGELOG_ARROW = pa.schema([
    pa.field("entity", pa.string(), nullable=False),
    pa.field("key", pa.string(), nullable=False),
    pa.field("attribute", pa.string(), nullable=False),
    pa.field("attribute_base", pa.string(), nullable=False),
    pa.field("seq_id", pa.int64()),
    pa.field("uuid", pa.string()),
    pa.field("stamp", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("delete", pa.bool_(), nullable=False),
    pa.field("delete_wildcard", pa.bool_(), nullable=False),
    pa.field("value", pa.binary()),
])


@dataclass(frozen=True)
class ChangelogSpec:
    """Traffic dimensions of a generated changelog."""

    rows: int
    keys: int
    zipf_s: float = 1.1  # key skew: P(key rank k) ~ 1 / k**s
    delete_share: float = 0.02  # direct deletes of one cell
    tombstone_share: float = 0.005  # wildcard tombstones on device.*
    wildcard_share: float = 0.3  # writes to a device.* instance
    stamp_step_ms: int = 1000  # coarse stamps, so equal-stamp ties occur


def zipf_ranks(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    """``size`` draws of a rank in [0, n) with P(k) proportional to 1/(k+1)**s."""
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def changelog_rows(seed: int, spec: ChangelogSpec) -> pa.Table:
    """One changelog of ``spec.rows`` rows, in random stamp order.

    Stamps fall on a ``stamp_step_ms`` grid so hot cells get equal-stamp
    versions; ``seq_id`` is a permutation of 1..rows, which makes every
    (stamp, seq_id) order total."""
    rng = np.random.default_rng(seed)
    n = spec.rows
    key_rank = zipf_ranks(rng, spec.keys, n, spec.zipf_s)
    # scatter hot ranks over the key space so key order is not rank order
    key_ids = rng.permutation(spec.keys)[key_rank]
    kind = rng.random(n)
    tomb = kind < spec.tombstone_share
    delete = tomb | (kind >= 1.0 - spec.delete_share)
    wildcard = ~tomb & (rng.random(n) < spec.wildcard_share)
    scalar_idx = rng.integers(0, len(SCALARS), n)
    device_idx = rng.integers(0, DEVICES, n)
    stamps = T0_MS + spec.stamp_step_ms * rng.integers(0, max(n // 8, 1), n)
    seq = rng.permutation(n) + 1

    keys = [f"u{k:06d}" for k in key_ids.tolist()]
    attribute, base = [], []
    for t, w, si, di in zip(tomb.tolist(), wildcard.tolist(),
                            scalar_idx.tolist(), device_idx.tolist()):
        if t:
            attribute.append(WILDCARD)
            base.append(WILDCARD)
        elif w:
            attribute.append(f"device.d{di:02d}")
            base.append(WILDCARD)
        else:
            attribute.append(SCALARS[si])
            base.append(SCALARS[si])
    values = [
        None if d else f"v{s}".encode()
        for d, s in zip(delete.tolist(), seq.tolist())
    ]
    return pa.table(
        {
            "entity": pa.array([ENTITY] * n, pa.string()),
            "key": pa.array(keys, pa.string()),
            "attribute": pa.array(attribute, pa.string()),
            "attribute_base": pa.array(base, pa.string()),
            "seq_id": pa.array(seq, pa.int64()),
            "uuid": pa.nulls(n, pa.string()),
            "stamp": pa.array(stamps * 1000, pa.timestamp("us", tz="UTC")),
            "delete": pa.array(delete),
            "delete_wildcard": pa.array(tomb),
            "value": pa.array(values, pa.binary()),
        },
        schema=CHANGELOG_ARROW,
    )


def write_files(table: pa.Table, directory: str, files: int) -> list[str]:
    """Split ``table`` into ``files`` consecutive slices, one parquet file
    each, written in order (the file-stream source reads them in that
    order)."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    paths = []
    for i in range(files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths


# -- documents corpus --------------------------------------------------------

LANGS = ("en", "de", "fr", "cs")
_SYLLABLES = {
    "en": ("th", "an", "er", "in", "on", "st", "re", "al", "ing", "ed"),
    "de": ("sch", "ein", "ich", "und", "ber", "gen", "ver", "ung", "zu", "ck"),
    "fr": ("ou", "eau", "ai", "les", "ent", "qu", "ion", "re", "ne", "te"),
    "cs": ("ch", "ost", "ni", "pr", "ov", "ky", "je", "na", "ze", "tr"),
}
PARAGRAPH_TOKENS = 10  # the curation queries cut 10-token paragraphs


@dataclass(frozen=True)
class DocsSpec:
    """Traffic dimensions of a generated documents corpus."""

    docs: int
    vocab: int = 600  # words per language
    zipf_s: float = 1.05  # word-frequency skew within a language
    near_dup_share: float = 0.15  # copies of an earlier doc with token edits
    edit_share: float = 0.05  # tokens replaced in a near-duplicate
    boilerplate_share: float = 0.3  # docs carrying a repeated paragraph
    boilerplate_pool: int = 12  # repeated paragraphs per language


def _vocabulary(rng: np.random.Generator, lang: str, size: int) -> list[str]:
    syl = _SYLLABLES[lang]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(syl[i] for i in rng.integers(0, len(syl), rng.integers(2, 5)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def documents(seed: int, spec: DocsSpec) -> pa.Table:
    """``documents`` with the fixture schema (doc_id, text, lang, source,
    n_chars): lowercase words separated by single spaces."""
    rng = np.random.default_rng(seed)
    vocab = {lang: _vocabulary(rng, lang, spec.vocab) for lang in LANGS}

    def words(lang: str, count: int) -> list[str]:
        v = vocab[lang]
        return [v[i] for i in zipf_ranks(rng, len(v), count, spec.zipf_s)]

    boiler = {
        lang: [words(lang, PARAGRAPH_TOKENS) for _ in range(spec.boilerplate_pool)]
        for lang in LANGS
    }
    rows: list[tuple[str, list[str]]] = []
    for _ in range(spec.docs):
        if rows and rng.random() < spec.near_dup_share:
            lang, toks = rows[int(rng.integers(0, len(rows)))]
            toks = list(toks)
            for pos in np.flatnonzero(rng.random(len(toks)) < spec.edit_share):
                toks[pos] = words(lang, 1)[0]
            rows.append((lang, toks))
            continue
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        paragraphs = int(rng.integers(3, 9))
        toks = words(lang, paragraphs * PARAGRAPH_TOKENS)
        if rng.random() < spec.boilerplate_share:
            at = int(rng.integers(0, paragraphs)) * PARAGRAPH_TOKENS
            pick = boiler[lang][int(rng.integers(0, spec.boilerplate_pool))]
            toks[at:at + PARAGRAPH_TOKENS] = pick
        rows.append((lang, toks))
    texts = [" ".join(t) for _, t in rows]
    return pa.table({
        "doc_id": pa.array(np.arange(len(rows)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([lang for lang, _ in rows], pa.string()),
        "source": pa.array(
            [f"src{i}" for i in rng.integers(0, 20, len(rows)).tolist()],
            pa.string(),
        ),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
