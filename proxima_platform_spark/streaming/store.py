"""GenerationStore: the storage contract every continuous maintainer in
``streaming/`` shares.

A maintainer's state is a set of parquet generations under ``path``: one
compacted base ``base/g{v}`` plus the deltas ``delta/d{v}`` appended
since. ``manifest.json`` names the live set and is the only commit
point: every generation is first written with ``mode("overwrite")`` to
its versioned path, and readers see it only once an atomic
``os.replace`` of the manifest names it. A crash between the two leaves
an orphan at that same path; the replayed batch rewrites it, and the
next compaction garbage-collects any orphan no replay revisits.

``foreachBatch`` is at-least-once: a replay carries the same monotonic
``batch_id``. The manifest keeps the max committed id, and ``update``
is a no-op for any id at or below it — the idempotent-sink half of
Structured Streaming's exactly-once contract.

Every ``compact_every`` deltas the live generations fold into a new
base through the subclass's merge, and the old generations are deleted.

``path`` must be a plain POSIX path shared by the driver and every
executor: executors write the generations while the manifest and GC are
driver-local file I/O. URI paths (``s3a://``, ``hdfs://``) are rejected;
supporting them means routing the manifest I/O through the Hadoop
FileSystem API.

A subclass supplies ``_delta`` (what one batch appends), ``_merged``
(how generations fold into one) and its read API.
"""

from __future__ import annotations

import copy
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class GenerationStore:
    #: sub-frames each generation holds (``delta/d3/cwc``, ...); empty when
    #: a generation is a single parquet frame
    _parts: tuple[str, ...] = ()
    #: manifest keys naming side generations committed with the deltas
    _side: tuple[str, ...] = ()

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        compact_every: int,
        **extras,
    ) -> None:
        if "://" in path:
            raise ValueError(
                f"{type(self).__name__} path must be a plain shared-POSIX "
                f"path (got {path!r}); the manifest and GC use driver-local "
                "file I/O"
            )
        self.spark = spark
        self.path = path.rstrip("/")
        self.compact_every = compact_every
        self._initial = {
            "version": 0, "base": None, "deltas": [], "max_batch_id": None,
            **extras,
        }
        os.makedirs(self.path, exist_ok=True)

    # -- manifest ------------------------------------------------------------

    def _manifest(self) -> dict:
        try:
            with open(f"{self.path}/manifest.json") as f:
                m = json.load(f)
        except FileNotFoundError:
            m = {}
        # older manifests recorded every batch id; ids are monotonic, so
        # the max is all the replay guard needs
        if "seen_batches" in m:
            seen = m.pop("seen_batches")
            m["max_batch_id"] = max(seen) if seen else None
        return {**copy.deepcopy(self._initial), **m}

    def _write_manifest(self, m: dict) -> None:
        """Atomically replace the manifest, then delete the generations the
        replaced manifest referenced and ``m`` no longer does."""
        dropped = self._refs(self._manifest()) - self._refs(m)
        tmp = f"{self.path}/manifest.json.tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, f"{self.path}/manifest.json")
        for p in dropped:
            shutil.rmtree(f"{self.path}/{p}", ignore_errors=True)

    def _refs(self, m: dict) -> set[str]:
        refs = {m["base"], *m["deltas"]}
        for k in self._side:
            refs.update(m[k] if isinstance(m[k], list) else [m[k]])
        refs.discard(None)
        return refs

    # -- generations ---------------------------------------------------------

    @staticmethod
    def _gens(m: dict) -> list[str]:
        return ([m["base"]] if m["base"] else []) + m["deltas"]

    def _union(self, gens: list[str], part: str = "") -> DataFrame | None:
        if not gens:
            return None
        return self.spark.read.parquet(
            *[f"{self.path}/{g}/{part}".rstrip("/") for g in gens]
        )

    def _write(self, gen: str, frames) -> None:
        frames = frames if isinstance(frames, tuple) else (frames,)
        for part, df in zip(self._parts or ("",), frames):
            df.write.mode("overwrite").parquet(
                f"{self.path}/{gen}/{part}".rstrip("/")
            )

    def _state(self, m: dict | None = None):
        """The merged live state, or None before the first batch."""
        gens = self._gens(m or self._manifest())
        return self._merged(gens) if gens else None

    def _merged(self, gens: list[str]):
        """Fold non-empty ``gens`` into one state (frame or ``_parts``
        tuple) — what compaction writes as the new base."""
        return self._union(gens)

    # -- maintenance ---------------------------------------------------------

    def seen(self, batch_id: int | None) -> bool:
        """True when ``batch_id`` is already committed."""
        return self._begin(batch_id) is None

    def _begin(self, batch_id: int | None) -> dict | None:
        """The manifest to build this batch's commit on, or None when the
        batch is a replay of a committed one."""
        m = self._manifest()
        if batch_id is not None:
            last = m["max_batch_id"]
            if last is not None and batch_id <= last:
                return None
            m["max_batch_id"] = batch_id
        return m

    def _delta(self, batch: DataFrame, batch_id: int | None, m: dict):
        """What ``batch`` appends, decided against the committed state
        ``m`` (sinks run here, before the commit)."""
        return batch

    def update(self, batch: DataFrame, batch_id: int | None = None) -> None:
        """Append one micro-batch as a delta generation and compact every
        ``compact_every`` deltas. Usable directly as a ``foreachBatch``
        callback; a replayed ``batch_id`` is a no-op."""
        m = self._begin(batch_id)
        if m is None:
            return
        self._append(m, self._delta(batch, batch_id, m))
        self._commit(m)

    def _append(self, m: dict, frames) -> None:
        v = m["version"] + 1
        self._write(f"delta/d{v}", frames)
        m["version"] = v
        m["deltas"] = m["deltas"] + [f"delta/d{v}"]

    def _commit(self, m: dict) -> None:
        self._write_manifest(m)
        if len(m["deltas"]) >= self.compact_every:
            self._compact()

    def _compact(self) -> None:
        """Fold the live generations into ``base/g{version}``, commit,
        delete the old generations and collect orphans."""
        m = self._manifest()
        gens = self._gens(m)
        if not gens:
            return
        base = f"base/g{m['version']}"
        self._write(base, self._merged(gens))
        m.update(base=base, deltas=[], **self._fold_side(m))
        self._write_manifest(m)
        self._gc(m)

    def _fold_side(self, m: dict) -> dict:
        """Side generations this compaction rewrites, written before its
        commit: ``{manifest key: new value}``."""
        return {}

    def _gc(self, m: dict) -> None:
        """Remove generation dirs no manifest references — orphans of a
        crash between parquet writes and the manifest commit that the
        replayed batch never revisits (it no-ops on the guard). Updates run
        sequentially inside foreachBatch, so no write is in flight here."""
        live = self._refs(m)
        for sub in {"base", "delta"} | {p.split("/")[0] for p in live}:
            d = f"{self.path}/{sub}"
            if not os.path.isdir(d):
                continue
            for g in os.listdir(d):
                if f"{sub}/{g}" not in live:
                    shutil.rmtree(f"{d}/{g}", ignore_errors=True)

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch``: the maintainer's
        ``ingest`` when it has one, else ``update``."""
        step = getattr(self, "ingest", self.update)
        return lambda batch, batch_id: step(batch, batch_id=batch_id)
