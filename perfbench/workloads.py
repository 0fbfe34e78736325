"""The workloads: inputs, one timed pass, the correctness check and the
per-layer metrics of a traced pass.

Every workload is a closed loop with one client: the next call starts
when the previous one has returned. A pass is one fixed unit of work on
freshly reset state; ``run.py`` repeats passes for the measured seconds.

``snapshot_replicate`` runs two parts in one pass: the changelog read as
snapshots (``SnapshotBatch``), then replicated micro-batch by micro-batch
(``ReplicateStream``). Sharing one Spark session saves a session start
and a cold first pass per run, which the benchmark's time limit needs.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import gen
from reference import Reference, oracle_mismatch, spark_seq
from tracing import StatusStore, Tracer


@dataclass
class Pass:
    """What one pass did: wall time, per-operation latencies, input rows,
    failed operations and per-layer observations."""

    wall_s: float = 0.0
    op_ms: list[float] = field(default_factory=list)
    rows: int = 0
    failed: int = 0
    start_ms: float = 0.0
    end_ms: float = 0.0
    layers: dict[str, list[float]] = field(default_factory=dict)

    def note(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def p90(values) -> float:
    values = sorted(values)
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return float(statistics.quantiles(values, n=10, method="inclusive")[-1])


def pooled(passes: list[Pass], name: str) -> list[float]:
    """Every observation called ``name`` over ``passes``."""
    return [v for p in passes for v in p.layers.get(name, [])]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def files_under(path: str) -> list[str]:
    out = []
    for d, _, names in os.walk(path):
        out += [os.path.join(d, n) for n in names]
    return out


def repo_config(families: dict[str, dict]) -> dict:
    attrs = {a: {"scheme": "bytes"} for a in gen.SCALARS}
    attrs[gen.WILDCARD] = {"scheme": "bytes"}
    return {"entities": {gen.ENTITY: {"attributes": attrs}},
            "attributeFamilies": {
                name: {"entity": gen.ENTITY, "attributes": ["*"], **spec}
                for name, spec in families.items()}}


class Workload:
    name = ""
    why = ""
    #: timed passes a run makes at least: more where a single pass spread
    #: too far from run to run over ten seeds
    PASSES = 1

    def __init__(self, spark, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.rows = 0

    def setup(self, work: str) -> None:
        """Generate the inputs into ``work`` and open the library objects."""
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        """Untimed correctness pass: (checks made, mismatches)."""
        raise NotImplementedError

    def run_pass(self, tracer: Tracer | None) -> Pass:
        raise NotImplementedError

    def instrument(self, tracer: Tracer) -> None:
        """Wrap the library calls of this workload in spans."""

    def layers(self, tracer: Tracer, store: StatusStore,
               passes: list[Pass]) -> dict[str, float]:
        return {}

    # -- helpers -------------------------------------------------------------

    @staticmethod
    def span(tracer: Tracer | None, name: str):
        return tracer.span(name) if tracer else nullcontext()

    @staticmethod
    def span_stats(tracer: Tracer, store: StatusStore, name: str) -> list[dict]:
        """Per span called ``name``: its ms, and the jobs and stage metrics
        of its subtree."""
        kids = tracer.children()
        out = []
        for s in tracer.spans:
            if s["name"] != name or s["end"] is None:
                continue
            jobs = [j for t in tracer.subtree(s, kids) for j in store.jobs_of(t["id"])]
            d = store.summarize(jobs)
            d["ms"] = (s["end"] - s["start"]) * 1000.0
            out.append(d)
        return out


def _med(stats: list[dict], key: str) -> float:
    return median(d[key] for d in stats)


# -- snapshot_batch -----------------------------------------------------------


class SnapshotBatch(Workload):
    name = "snapshot_batch"
    SPEC = gen.ChangelogSpec(rows=40_000, keys=2_000)
    FILES = 8
    WINDOW_MS = 60_000
    PASSES = 2
    why = (f"stream-table read, shuffle and compaction heavy: {SPEC.rows} changelog"
           f" rows, Zipf {SPEC.zipf_s} over {SPEC.keys} keys, 2% deletes, 0.5%"
           " wildcard tombstones, tied stamps; 5 snapshot calls")

    def setup(self, work: str) -> None:
        from proxima_platform_spark.catalog.repository import Repository

        table = gen.changelog_rows(self.seed, self.SPEC)
        self.paths = gen.write_files(table, f"{work}/log", self.FILES)
        self.rows = table.num_rows
        self.repo = Repository.of(repo_config({"user-log": {
            "storage": f"parquet://{work}/log", "type": "primary",
            "access": ["commit-log", "batch-updates"]}}))
        span_ms = self.SPEC.stamp_step_ms * (self.SPEC.rows // 8)
        self.at_from = gen.T0_MS + int(span_ms * 0.4)
        self.at_to = gen.T0_MS + int(span_ms * 0.8)
        self.ref = Reference(self.paths)

    def _frames(self, tracer):
        """Build the five calls in order, each in its build span; yield
        (exec span name, DataFrame) after each build."""
        from proxima_platform_spark.changelog import (
            snapshot_diff, snapshot_map, snapshot_wide)
        from proxima_platform_spark.operators import Stream
        from proxima_platform_spark.sources.registry import DataOperator

        op = DataOperator(self.repo, self.spark)
        frames: dict = {}

        def ts(ms):
            return F.timestamp_millis(F.lit(ms))

        calls = [
            ("sources.batch_snapshot", "changelog.snapshot",
             lambda: op.batch_snapshot(gen.ENTITY)),
            ("changelog.snapshot_wide", "changelog.snapshot_wide",
             lambda: snapshot_wide(frames["changelog.snapshot"],
                                   attributes=list(gen.SCALARS))),
            ("changelog.snapshot_map", "changelog.snapshot_map",
             lambda: snapshot_map(frames["changelog.snapshot"], gen.WILDCARD)),
            ("changelog.snapshot_diff", "changelog.snapshot_diff",
             lambda: snapshot_diff(op.batch_updates(gen.ENTITY),
                                   at_from=ts(self.at_from), at_to=ts(self.at_to))),
            ("operators.time_window", "operators.time_window",
             lambda: Stream(op.batch_updates(gen.ENTITY), "stamp")
             .time_window(self.WINDOW_MS)
             .aggregate("key", F.count(F.lit(1)).alias("n"),
                        F.sum("seq_id").alias("s"))),
        ]
        for build_name, exec_name, thunk in calls:
            with self.span(tracer, build_name + ".build"):
                frames[exec_name] = thunk()
            yield exec_name, frames[exec_name]

    def run_pass(self, tracer):
        p = Pass(rows=self.rows)
        t0 = time.perf_counter()
        frames = self._frames(tracer)
        while True:
            c0 = time.perf_counter()
            try:
                name, df = next(frames)
            except StopIteration:
                break
            with self.span(tracer, name + ".exec"):
                noop(df)
            p.op_ms.append((time.perf_counter() - c0) * 1000.0)
        p.wall_s = time.perf_counter() - t0
        return p

    def check(self):
        fps = {}
        for name, df in self._frames(None):
            if name == "changelog.snapshot":
                row = df.agg(F.count(F.lit(1)), F.sum("seq_id"),
                             F.sum(F.col("seq_id") * F.col("seq_id"))).first()
            elif name == "changelog.snapshot_wide":
                row = df.agg(F.count(F.lit(1)), *[
                    F.sum(F.expr(spark_seq(f"`{a}`"))) for a in gen.SCALARS]).first()
            elif name == "changelog.snapshot_map":
                col = F.col(gen.WILDCARD[:-2])
                seqs = F.aggregate(
                    F.map_values(col), F.lit(0).cast("long"),
                    lambda acc, v: acc + F.substring(v.cast("string"), 2, 64).cast("long"))
                row = df.agg(F.count(F.lit(1)), F.sum(F.size(col)),
                             F.sum(seqs)).first()
            elif name == "changelog.snapshot_diff":
                seq_from = F.expr(spark_seq("value_from"))
                seq_to = F.expr(spark_seq("value_to"))
                row = df.agg(
                    F.count(F.when(F.col("status") == "added", 1)),
                    F.count(F.when(F.col("status") == "deleted", 1)),
                    F.count(F.when(F.col("status") == "updated", 1)),
                    F.coalesce(F.sum(seq_from), F.lit(0)),
                    F.coalesce(F.sum(seq_to), F.lit(0))).first()
            else:
                row = df.agg(F.count(F.lit(1)), F.sum("n"), F.sum("s")).first()
            fps[name] = tuple(int(v or 0) for v in row)
        want = {
            "changelog.snapshot": self.ref.snapshot_fp(),
            "changelog.snapshot_wide": self.ref.wide_fp(gen.SCALARS),
            "changelog.snapshot_map": self.ref.map_fp(gen.WILDCARD),
            "changelog.snapshot_diff": self.ref.diff_fp(self.at_from, self.at_to),
            "operators.time_window": self.ref.window_fp(self.WINDOW_MS),
        }
        bad = [n for n in want if fps.get(n) != want[n]]
        for n in bad:
            print(f"mismatch {n}: spark {fps.get(n)} reference {want[n]}",
                  file=sys.stderr)
        return len(want), len(bad)

    def instrument(self, tracer):
        from proxima_platform_spark import changelog

        tracer.install(changelog, "snapshot", "changelog.snapshot.build")

    def layers(self, tracer, store, passes):
        out = {}
        snap = self.span_stats(tracer, store, "changelog.snapshot.exec")
        out["changelog.snapshot.build_ms"] = median(
            d["ms"] for d in self.span_stats(tracer, store, "changelog.snapshot.build"))
        out["changelog.snapshot.exec_ms"] = _med(snap, "ms")
        out["changelog.snapshot.shuffle_write_bytes"] = _med(snap, "shuffle_write_bytes")
        out["changelog.snapshot.spill_bytes"] = _med(snap, "spill_bytes")
        out["changelog.snapshot.peak_exec_mem_bytes"] = _med(snap, "peak_exec_mem_bytes")
        for call in ("snapshot_wide", "snapshot_map", "snapshot_diff"):
            out[f"changelog.{call}.exec_ms"] = _med(
                self.span_stats(tracer, store, f"changelog.{call}.exec"), "ms")
        out["sources.batch_snapshot.build_ms"] = _med(
            self.span_stats(tracer, store, "sources.batch_snapshot.build"), "ms")
        tw = self.span_stats(tracer, store, "operators.time_window.exec")
        out["operators.time_window.exec_ms"] = _med(tw, "ms")
        out["operators.time_window.shuffle_write_bytes"] = _med(tw, "shuffle_write_bytes")
        return out


# -- replicate_stream ---------------------------------------------------------


class ReplicateStream(Workload):
    name = "replicate_stream"
    SPEC = gen.ChangelogSpec(rows=18_000, keys=3_000)
    FILES = 6
    COMPACT_EVERY = 3
    REPLICATED = gen.SCALARS[:4]
    why = (f"per-micro-batch cost and LSM compaction: {SPEC.rows} rows in {FILES}"
           " commit-log files, one per batch, into a filtered renamed replica"
           f" and a cached view compacting every {COMPACT_EVERY}")

    def setup(self, work: str) -> None:
        from proxima_platform_spark.catalog.repository import Repository

        table = gen.changelog_rows(self.seed, self.SPEC)
        self.paths = gen.write_files(table, f"{work}/log", self.FILES)
        self.rows = table.num_rows
        self.input_bytes = sum(os.path.getsize(p) for p in self.paths)
        self.out = f"{work}/out"
        self.repo = Repository.of(repo_config({
            "user-log": {"storage": f"parquet://{work}/log", "type": "primary",
                         "access": ["commit-log", "batch-updates"]},
            "user-replica": {"storage": f"parquet://{self.out}/replica",
                             "type": "replica", "access": ["batch-updates"]},
        }))
        self.ref = Reference(self.paths)

    def _replicate(self, tracer):
        from proxima_platform_spark.streaming.cached_view import CachedView
        from proxima_platform_spark.streaming.replication import (
            ReplicationController, ReplicationTarget, rename_transform)
        from proxima_platform_spark.streaming.source import commit_log_stream

        shutil.rmtree(self.out, ignore_errors=True)
        source = commit_log_stream(self.spark, self.repo.families["user-log"],
                                   position="OLDEST", max_per_trigger=1)
        view = CachedView(self.spark, f"{self.out}/view",
                          compact_every=self.COMPACT_EVERY)
        ctl = ReplicationController(source, checkpoint_root=f"{self.out}/ckpt")
        written = {"bytes": 0, "seen": set()}

        def update(batch, batch_id):
            view.update(batch, batch_id)
            if tracer is not None:
                for f in files_under(view.path):
                    if f not in written["seen"]:
                        written["seen"].add(f)
                        written["bytes"] += os.path.getsize(f)

        replica = ctl.replicate(ReplicationTarget(
            family=self.repo.families["user-replica"],
            storage_filter=F.col("attribute_base").isin(list(self.REPLICATED)),
            transformations=(rename_transform({"status": "status_v2"}),)))
        cached = ctl.replicate_with("cached-view", update)
        try:
            ctl.await_all(150)
        finally:
            ctl.stop_all()
        for q in ctl.queries:
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        return view, replica, cached, written["bytes"]

    @staticmethod
    def _batches(query) -> list[dict]:
        return [p["durationMs"] for p in query.recentProgress if p["numInputRows"] > 0]

    def run_pass(self, tracer):
        p = Pass(rows=self.rows)
        t0 = time.perf_counter()
        view, replica, cached, written = self._replicate(tracer)
        p.wall_s = time.perf_counter() - t0
        view_batches = self._batches(cached)
        replica_batches = self._batches(replica)
        p.op_ms = [float(d["triggerExecution"]) for d in view_batches]
        p.layers["batch"] = list(p.op_ms)
        p.failed = int(len(view_batches) != self.FILES) + int(
            len(replica_batches) != self.FILES)
        p.note("bytes_written", written)
        for d in replica_batches:
            p.note("replica.add_batch_ms", d.get("addBatch", 0))
        for d in view_batches + replica_batches:
            p.note("latest_offset_ms", d.get("latestOffset", 0))
            p.note("wal_commit_ms", d.get("walCommit", 0))
        return p

    def check(self):
        view, _, _, _ = self._replicate(None)
        snap = view.snapshot()
        got = tuple(int(v or 0) for v in snap.agg(
            F.count(F.lit(1)), F.sum("seq_id"),
            F.sum(F.col("seq_id") * F.col("seq_id"))).first())
        replica = self.spark.read.parquet(f"{self.out}/replica")
        names = ", ".join(f"'{a}'" for a in self.REPLICATED)
        checks = [
            (got, self.ref.snapshot_fp()),
            (replica.count(), self.ref.count_where(f"attribute_base IN ({names})")),
            (replica.where(F.col("attribute") == "status_v2").count(),
             self.ref.count_where("attribute = 'status'")),
        ]
        bad = [(g, w) for g, w in checks if g != w]
        for g, w in bad:
            print(f"mismatch replicate_stream: got {g} want {w}",
                  file=sys.stderr)
        return len(checks), len(bad)

    def instrument(self, tracer):
        from proxima_platform_spark.streaming.cached_view import CachedView

        tracer.install(CachedView, "update", "streaming.cached_view.update")
        tracer.install(CachedView, "_compact", "streaming.cached_view.compact")

    def layers(self, tracer, store, passes):
        def durations(name):
            return [(s["end"] - s["start"]) * 1000.0 for s in tracer.spans
                    if s["name"] == name and s["end"] is not None]

        compacts = durations("streaming.cached_view.compact")
        pool = functools.partial(pooled, passes)
        batch = pool("batch")
        return {
            "streaming.cached_view.update_ms": median(
                durations("streaming.cached_view.update")),
            "streaming.cached_view.compact_ms": median(compacts),
            "streaming.cached_view.compactions": len(compacts) / max(len(passes), 1),
            "streaming.cached_view.bytes_written_per_input_byte": median(
                pool("bytes_written")) / self.input_bytes,
            "streaming.replica.add_batch_ms": median(pool("replica.add_batch_ms")),
            "streaming.query.latest_offset_ms": median(pool("latest_offset_ms")),
            "streaming.query.wal_commit_ms": median(pool("wal_commit_ms")),
            "streaming.batch_p50_ms": median(batch),
            "streaming.batch_p90_ms": p90(batch),
        }


# -- serve_mixed --------------------------------------------------------------

INGEST_T0_MS = gen.T0_MS + 10_000_000_000  # later than every generated stamp


class ServeMixed(Workload):
    name = "serve_mixed"
    SPEC = gen.ChangelogSpec(rows=20_000, keys=2_000)
    #: actions per pass, in a seeded order: 60% get, 10% list, 20% ingest,
    #: 10% paired transactions (8 calls each)
    MIX = {"get": 6, "list": 1, "ingest": 2, "txn": 1}
    TXN_KEYS = 8  # transactions draw keys from a small hot set: some conflict
    PASSES = 3
    why = (f"per-call constant cost: RpcServer on a {SPEC.rows}-row parquet log,"
           " 60% get, 10% list, 20% ingest, 10% paired txns on hot keys, Zipf"
           " keys; log and ledger reset per pass")

    def setup(self, work: str) -> None:
        from proxima_platform_spark.catalog.repository import Repository

        table = gen.changelog_rows(self.seed, self.SPEC)
        self.pristine = gen.write_files(table, f"{work}/pristine", 4)
        self.rows = table.num_rows
        self.log = f"{work}/log"
        self.ledger = f"{work}/ledger"
        self.repo = Repository.of(repo_config({"user-log": {
            "storage": f"parquet://{self.log}", "type": "primary",
            "access": ["commit-log", "batch-updates"]}}))
        self.cells: dict[str, dict[str, tuple[bytes, int]]] = {}
        for (k, a), cell in Reference(self.pristine).live_cells().items():
            self.cells.setdefault(k, {})[a] = cell
        self.plan = self._plan(np.random.default_rng(self.seed + 1))

    def _plan(self, rng) -> list[tuple]:
        kinds = rng.permutation([k for k, n in self.MIX.items() for _ in range(n)])
        order = rng.permutation(self.SPEC.keys)
        hot = [f"u{k:06d}" for k in order[:self.TXN_KEYS]]
        attrs = list(gen.SCALARS) + [f"device.d{i:02d}" for i in range(gen.DEVICES)]

        def key():
            return f"u{order[gen.zipf_ranks(rng, self.SPEC.keys, 1, self.SPEC.zipf_s)[0]]:06d}"

        def hot_cell():
            return (hot[gen.zipf_ranks(rng, len(hot), 1, 1.0)[0]],
                    gen.SCALARS[rng.integers(2)])

        plan = []
        for i, kind in enumerate(kinds):
            stamp = INGEST_T0_MS + 1000 * i
            if kind == "get":
                plan.append(("get", key(), attrs[rng.integers(len(attrs))]))
            elif kind == "list":
                plan.append(("list", key()))
            elif kind == "ingest":
                r = rng.random()
                if r < 0.8:
                    op, attr = "put", attrs[rng.integers(len(attrs))]
                elif r < 0.95:
                    op, attr = "delete", gen.SCALARS[rng.integers(len(gen.SCALARS))]
                else:
                    op, attr = "delete_all", gen.WILDCARD
                plan.append(("ingest", op, key(), attr, stamp))
            else:
                plan.append(("txn", hot_cell(), hot_cell(), stamp))
        return plan

    # -- the model of the store ---------------------------------------------

    @staticmethod
    def _apply(model, op, key, attr, value, stamp):
        cells = model.setdefault(key, {})
        if op == "put":
            cells[attr] = (value, stamp)
        elif op == "delete":
            cells.pop(attr, None)
        else:  # wildcard tombstone: every instance written before it dies
            for a in [a for a in cells if a.startswith(gen.WILDCARD[:-1])]:
                del cells[a]

    @staticmethod
    def _get_ok(resp, model, key, attr) -> bool:
        cell = model.get(key, {}).get(attr)
        if cell is None:
            return resp["status"] == 404
        return (resp["status"], resp["value"], resp["stamp"]) == (200, *cell)

    def run_pass(self, tracer):
        from proxima_platform_spark.server import (
            IngestClient, LocalChannel, RetrieveClient, RpcServer)
        from proxima_platform_spark.server.rpc import TXN_COMMITTED, TXN_REJECTED
        from proxima_platform_spark.sources.registry import DataOperator
        from proxima_platform_spark.transactions import PersistentTransactionManager

        shutil.rmtree(self.log, ignore_errors=True)
        shutil.rmtree(self.ledger, ignore_errors=True)
        shutil.copytree(os.path.dirname(self.pristine[0]), self.log)
        model = {k: dict(v) for k, v in self.cells.items()}
        p = Pass(rows=self.rows)
        files0 = len(files_under(self.log))
        t0 = time.perf_counter()
        server = RpcServer(DataOperator(self.repo, self.spark),
                           PersistentTransactionManager(self.spark, self.ledger))
        channel = LocalChannel(server)
        ingest, retrieve = IngestClient(channel), RetrieveClient(channel)
        e = gen.ENTITY

        def call(method, fn):
            c0 = time.perf_counter()
            with self.span(tracer, f"server.{method}"):
                resp = fn()
            ms = (time.perf_counter() - c0) * 1000.0
            p.op_ms.append(ms)
            p.note(f"server.{method}", ms)
            return resp, ms

        commits = rejected = 0
        for action in self.plan:
            if action[0] == "get":
                _, k, a = action
                resp, _ = call("get", lambda: retrieve.get(entity=e, key=k, attribute=a))
                p.failed += not self._get_ok(resp, model, k, a)
            elif action[0] == "list":
                _, k = action
                resp, _ = call("listAttributes", lambda: retrieve.list_attributes(
                    entity=e, key=k, wildcard_prefix=gen.WILDCARD))
                want = sorted((a, *c) for a, c in model.get(k, {}).items()
                              if a.startswith(gen.WILDCARD[:-1]))
                got = [(v["attribute"], v["value"], v["stamp"]) for v in resp["value"]]
                p.failed += resp["status"] != 200 or got != want
            elif action[0] == "ingest":
                _, op, k, a, stamp = action
                value = f"i{stamp}".encode()
                resp, _ = call("ingest", lambda: ingest.ingest(
                    entity=e, key=k, attribute=a, value=b"" if op != "put" else value,
                    stamp=stamp, delete=op != "put"))
                p.failed += resp["status"] != 200
                self._apply(model, op, k, a, value, stamp)
            else:
                _, (k1, a1), (k2, a2), stamp = action
                txn_ms = [0.0, 0.0]
                ids = []
                for i, (k, a) in enumerate(((k1, a1), (k2, a2))):
                    ka = [{"entity": e, "key": k, "attribute": a}]
                    tid, ms = call("begin", lambda: retrieve.begin(ka))
                    ids.append(tid)
                    resp, ms2 = call("get", lambda: retrieve.get(
                        entity=e, key=k, attribute=a, transaction_id=tid))
                    txn_ms[i] += ms + ms2
                    p.failed += not tid or not self._get_ok(resp, model, k, a)
                for i, (k, a) in enumerate(((k1, a1), (k2, a2))):
                    value = f"t{stamp}.{i}".encode()
                    resp, ms = call("ingest", lambda: ingest.ingest(
                        entity=e, key=k, attribute=a, value=value,
                        stamp=stamp + i, transaction_id=ids[i]))
                    status, ms2 = call("commit", lambda: ingest.commit(ids[i]))
                    txn_ms[i] += ms + ms2
                    # the first commit always wins; the second loses iff the
                    # first wrote the cell the second read
                    lose = i == 1 and (k1, a1) == (k2, a2)
                    p.failed += resp["status"] != 200 or status != (
                        TXN_REJECTED if lose else TXN_COMMITTED)
                    commits += 1
                    rejected += lose
                    if not lose:
                        self._apply(model, "put", k, a, value, stamp + i)
                for ms in txn_ms:
                    p.note("server.txn", ms)
        p.wall_s = time.perf_counter() - t0
        p.note("commit_log.files", len(files_under(self.log)))
        p.note("put.files_written", len(files_under(self.log)) - files0)
        commit_dir = os.path.join(self.ledger, "commits")
        p.note("ledger_files", len(os.listdir(commit_dir)) if os.path.isdir(commit_dir) else 0)
        p.note("aborted_ratio", rejected / commits if commits else 0.0)
        return p

    def check(self):
        p = self.run_pass(None)
        return len(p.op_ms), p.failed

    def instrument(self, tracer):
        from proxima_platform_spark import changelog
        from proxima_platform_spark.env import AttributeEnv
        from proxima_platform_spark.transactions import PersistentTransactionManager

        tracer.install(changelog, "snapshot", "changelog.snapshot.build")
        for method in ("put", "delete", "delete_all"):
            tracer.install(AttributeEnv, method, "env.put")
        tracer.install(PersistentTransactionManager, "begin", "transactions.begin")
        tracer.install(PersistentTransactionManager, "commit", "transactions.commit")

    def layers(self, tracer, store, passes):
        pool = functools.partial(pooled, passes)
        out = {}
        for method in ("get", "listAttributes", "ingest", "begin", "commit"):
            st = self.span_stats(tracer, store, f"server.{method}")
            out[f"server.{method}.call_ms"] = _med(st, "ms")
            out[f"server.{method}.driver_ms"] = median(d["ms"] - d["job_ms"] for d in st)
            if method == "get":
                out["sources.get.spark_jobs"] = _med(st, "jobs")
                out["sources.get.job_ms"] = _med(st, "job_ms")
                out["changelog.snapshot.exec_ms"] = _med(st, "job_ms")
                out["changelog.snapshot.shuffle_write_bytes"] = _med(st, "shuffle_write_bytes")
                out["changelog.snapshot.spill_bytes"] = _med(st, "spill_bytes")
                out["changelog.snapshot.peak_exec_mem_bytes"] = _med(st, "peak_exec_mem_bytes")
        out["server.get.call_p90_ms"] = p90(pool("server.get"))
        out["server.ingest.call_p90_ms"] = p90(pool("server.ingest"))
        out["server.txn.call_ms"] = median(pool("server.txn"))
        out["changelog.snapshot.build_ms"] = _med(
            self.span_stats(tracer, store, "changelog.snapshot.build"), "ms")
        out["sources.commit_log.files"] = median(pool("commit_log.files"))
        puts = self.span_stats(tracer, store, "env.put")
        out["env.put_ms"] = _med(puts, "ms")
        out["env.put.files_written"] = sum(pool("put.files_written")) / max(
            len(puts), 1)
        out["transactions.begin_ms"] = _med(
            self.span_stats(tracer, store, "transactions.begin"), "ms")
        out["transactions.commit_ms"] = _med(
            self.span_stats(tracer, store, "transactions.commit"), "ms")
        out["transactions.ledger_files"] = median(pool("ledger_files"))
        out["transactions.aborted_ratio"] = median(pool("aborted_ratio"))
        return out


# -- curate_docs --------------------------------------------------------------


class CurateDocs(Workload):
    name = "curate_docs"
    SPEC = gen.DocsSpec(docs=500)
    QUERIES = ("ccnet_pipeline",)
    #: a pass runs ~48 small Spark jobs, each still getting faster as the
    #: JIT compiles Spark's planner; the median of four damps that drift
    PASSES = 4
    why = (f"the only functions workload, build-phase jobs: {SPEC.docs} docs in"
           f" {len(gen.LANGS)} languages with own Zipf vocabularies, 15% near-dups,"
           " repeated paragraphs; ccnet_pipeline")

    def setup(self, work: str) -> None:
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        self.dir = f"{work}/docs"
        os.makedirs(self.dir, exist_ok=True)
        table = gen.documents(self.seed, self.SPEC)
        pq.write_table(table, f"{self.dir}/documents.parquet")
        self.rows = table.num_rows
        self.queries = {q: entry.queries()[q] for q in self.QUERIES}
        self.oracle = {q: entry.oracle_sql()[q] for q in self.QUERIES}

    def _reset(self) -> None:
        from proxima_platform_spark.functions.dedup import clear_banded_cache

        clear_banded_cache()
        self.spark.catalog.clearCache()

    def run_pass(self, tracer):
        self._reset()
        p = Pass(rows=self.rows)
        t0 = time.perf_counter()
        for q in self.QUERIES:
            c0 = time.perf_counter()
            with self.span(tracer, f"functions.{q}.build"):
                df = self.queries[q](self.spark, self.dir)
            with self.span(tracer, f"functions.{q}.exec"):
                noop(df)
            p.op_ms.append((time.perf_counter() - c0) * 1000.0)
        p.wall_s = time.perf_counter() - t0
        return p

    def check(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{self.dir}/documents.parquet'")
        bad = 0
        for q in self.QUERIES:
            self._reset()
            why = oracle_mismatch(self.queries[q](self.spark, self.dir).toPandas(),
                                  con.execute(self.oracle[q]).fetchdf())
            if why is not None:
                bad += 1
                print(f"mismatch {q}: {why}", file=sys.stderr)
        return len(self.QUERIES), bad

    def layers(self, tracer, store, passes):
        out = {}
        for q in self.QUERIES:
            build = self.span_stats(tracer, store, f"functions.{q}.build")
            run = self.span_stats(tracer, store, f"functions.{q}.exec")
            out[f"functions.{q}.build_ms"] = _med(build, "ms")
            out[f"functions.{q}.eager_jobs"] = _med(build, "jobs")
            out[f"functions.{q}.eager_ms"] = _med(build, "job_ms")
            out[f"functions.{q}.exec_ms"] = _med(run, "ms")
            out[f"functions.{q}.shuffle_write_bytes"] = median(
                b["shuffle_write_bytes"] + r["shuffle_write_bytes"]
                for b, r in zip(build, run))
            out[f"functions.{q}.spill_bytes"] = median(
                b["spill_bytes"] + r["spill_bytes"] for b, r in zip(build, run))
        return out


# -- snapshot_replicate -------------------------------------------------------


class SnapshotReplicate(Workload):
    name = "snapshot_replicate"
    PARTS = (SnapshotBatch, ReplicateStream)
    PASSES = 2
    why = (f"changelog as table, then as stream: {SnapshotBatch.SPEC.rows} rows, Zipf"
           " keys, deletes, wildcard tombstones, tied stamps, 5 snapshot calls;"
           f" {ReplicateStream.SPEC.rows} rows in {ReplicateStream.FILES}"
           " micro-batches into replica and cached view")

    def __init__(self, spark, seed: int) -> None:
        super().__init__(spark, seed)
        self.parts = [cls(spark, seed) for cls in self.PARTS]

    def setup(self, work: str) -> None:
        for part in self.parts:
            part.setup(f"{work}/{part.name}")
        self.rows = sum(part.rows for part in self.parts)

    def check(self):
        results = [part.check() for part in self.parts]
        return sum(c for c, _ in results), sum(b for _, b in results)

    def run_pass(self, tracer):
        out = Pass()
        for part in self.parts:
            p = part.run_pass(tracer)
            out.wall_s += p.wall_s
            out.op_ms += p.op_ms
            out.rows += p.rows
            out.failed += p.failed
            for name, values in p.layers.items():
                out.layers.setdefault(name, []).extend(values)
        return out

    def instrument(self, tracer):
        for part in self.parts:
            part.instrument(tracer)

    def layers(self, tracer, store, passes):
        out = {}
        for part in self.parts:
            out.update(part.layers(tracer, store, passes))
        return out


WORKLOADS = {w.name: w for w in (SnapshotReplicate, ServeMixed, CurateDocs)}
