"""The platform benchmark: one workload, one seed, one result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload snapshot_replicate --seed 1 \\
        --seconds 2 --trace 0

Workloads (see ``workloads.py``): ``snapshot_replicate``, ``serve_mixed``,
``curate_docs``. One local Spark session runs
``local[<cpus>]`` with as many shuffle partitions as CPUs, the UI and the
console progress bar off.

A run starts the session, sets the workload up ``SETUP_REPS`` times from
the seed (``setup_s`` is the session start plus the median set-up), makes
one untimed pass that checks every output against a reference (it also
warms the JVM up), then repeats timed passes until ``--seconds`` have
passed and the workload's ``PASSES`` are done. Timings are medians over
the timed passes. Every pass outlasts the 2 seconds of
``BENCHMARK.json``, so each run times exactly ``PASSES`` passes; runs that
timed different numbers of passes would not compare, because the JVM is
still warming up and a later pass is faster.

An operation (``ops_per_s``) is, for ``snapshot_replicate``, one library
call built and run or one cached-view micro-batch; one RPC for
``serve_mixed``; and one query built and run for ``curate_docs``.

``--trace 0`` reports the end-to-end metrics of the timed passes.
``--trace 1`` makes one more untimed pass, then alternates untraced and
traced passes (at least two of each) and reports the per-layer metrics
of the traced ones, plus the tracing overhead: the median traced pass
minus the median untraced pass. A per-layer metric of a layer the
workload does not call reads 0. Traced runs also write their spans to
``.perfbench/spans-<workload>-<seed>.json``.

The last line of standard output is one JSON object: ``correct``,
``attempted`` (checks plus timed operations), ``failed`` and ``metrics``.
The lines before it list each metric with its sample count, then the
latencies of single operation kinds (``get_p50_ms`` and the like) where
the workload makes them, and ``failed_ratio`` with both of its counts.
Scratch data lives under ``.perfbench/`` in the checkout and is removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
HEAP = "1g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "ops_per_s": "ops/s",
    "peak_rss_mb": "MiB",
}

#: latencies of one kind of operation, printed (not in the JSON line) for
#: the workloads that make them: name -> (observation, percentile)
BY_KIND = {
    "get_p50_ms": ("server.get", 50),
    "get_p90_ms": ("server.get", 90),
    "ingest_p50_ms": ("server.ingest", 50),
    "ingest_p90_ms": ("server.ingest", 90),
    "txn_p50_ms": ("server.txn", 50),
    "batch_p50_ms": ("batch", 50),
    "batch_p90_ms": ("batch", 90),
}

PER_LAYER = {
    "changelog.snapshot.build_ms": "ms",
    "changelog.snapshot.exec_ms": "ms",
    "changelog.snapshot.shuffle_write_bytes": "bytes",
    "changelog.snapshot.spill_bytes": "bytes",
    "changelog.snapshot.peak_exec_mem_bytes": "bytes",
    "changelog.snapshot_wide.exec_ms": "ms",
    "changelog.snapshot_map.exec_ms": "ms",
    "changelog.snapshot_diff.exec_ms": "ms",
    "sources.batch_snapshot.build_ms": "ms",
    "sources.get.spark_jobs": "count",
    "sources.get.job_ms": "ms",
    "sources.commit_log.files": "count",
    "operators.time_window.exec_ms": "ms",
    "operators.time_window.shuffle_write_bytes": "bytes",
    "streaming.cached_view.update_ms": "ms",
    "streaming.cached_view.compact_ms": "ms",
    "streaming.cached_view.compactions": "count",
    "streaming.cached_view.bytes_written_per_input_byte": "ratio",
    "streaming.replica.add_batch_ms": "ms",
    "streaming.query.latest_offset_ms": "ms",
    "streaming.query.wal_commit_ms": "ms",
    "streaming.batch_p50_ms": "ms",
    "streaming.batch_p90_ms": "ms",
    "transactions.begin_ms": "ms",
    "transactions.commit_ms": "ms",
    "transactions.ledger_files": "count",
    "transactions.aborted_ratio": "ratio",
    "env.put_ms": "ms",
    "env.put.files_written": "count",
    **{f"server.{m}.{k}": "ms"
       for m in ("get", "listAttributes", "ingest", "begin", "commit")
       for k in ("call_ms", "driver_ms")},
    "server.get.call_p90_ms": "ms",
    "server.ingest.call_p90_ms": "ms",
    "server.txn.call_ms": "ms",
    **{f"functions.{q}.{k}": u
       for q in ("ccnet_pipeline",)
       for k, u in (("build_ms", "ms"), ("eager_jobs", "count"),
                    ("eager_ms", "ms"), ("exec_ms", "ms"),
                    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"))},
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.gc_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """The local session; every file Spark or the JVM writes stays in
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    from pyspark.sql import SparkSession

    cpus = str(_cpus())
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", HEAP)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                # a fixed, pre-touched heap: peak RSS then moves with
                # non-heap and Python memory, not with GC heap sizing
                f" -Xms{HEAP} -XX:+AlwaysPreTouch")
        # the traced run reads every job of the run from the status store
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        # room for every class a pass generates (ccnet_pipeline makes ~230,
        # past the default 100): otherwise every pass compiles them all again
        # and the JIT starts over on the new classes, a cost that swings
        # widely from run to run
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _drain_listener_bus(sc) -> None:
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(1.0)


def measure(args, work: str) -> dict:
    from tracing import RssSampler, StatusStore, Tracer
    from workloads import WORKLOADS, median, p90, pooled

    t0 = time.perf_counter()
    spark = start_session(work)
    try:
        import proxima_platform_spark  # noqa: F401  (import cost is start-up)

        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        w = WORKLOADS[args.workload](spark, args.seed)
        setups = []
        for rep in range(SETUP_REPS):
            s0 = time.perf_counter()
            w.setup(os.path.join(work, f"setup{rep}"))
            setups.append(time.perf_counter() - s0)
            if rep:
                shutil.rmtree(os.path.join(work, f"setup{rep - 1}"), ignore_errors=True)

        log(f"session {session_s:.2f}s, setups {[round(s, 2) for s in setups]}")
        c0 = time.perf_counter()
        checks, mismatches = w.check()
        log(f"check {time.perf_counter() - c0:.2f}s: {mismatches}/{checks} mismatches")
        attempted, failed = checks, mismatches

        pids = [os.getpid(), sc._gateway.proc.pid]
        tracer = Tracer(sc) if args.trace else None
        plain, traced = [], []
        if args.trace:
            # ABBA order cancels only linear drift, and the pass right
            # after the check is still far slower than the ones after it
            p = w.run_pass(None)
            attempted += len(p.op_ms)
            failed += p.failed
            log(f"warm-up pass {p.wall_s:.2f}s")
        # whole passes until the window is over, at least w.PASSES
        deadline = time.perf_counter() + args.seconds
        i = 0
        while i < (4 if args.trace else w.PASSES) or time.perf_counter() < deadline:
            # traced passes go in ABBA order (plain, traced, traced, plain)
            # so the JVM's warm-up drift cancels out of the overhead
            on = bool(args.trace) and i % 4 in (1, 2)
            i += 1
            if on:
                w.instrument(tracer)
            start_ms = time.time() * 1000.0
            try:
                with RssSampler(pids) as rss:
                    p = w.run_pass(tracer if on else None)
            except Exception:
                traceback.print_exc()
                attempted += 1
                failed += 1
                continue
            finally:
                if on:
                    tracer.uninstall()
            p.start_ms, p.end_ms = start_ms, time.time() * 1000.0
            p.layers["peak_rss"] = [rss.peak_bytes]
            attempted += len(p.op_ms)
            failed += p.failed
            (traced if on else plain).append(p)
            log(f"pass {i} {'traced' if on else 'plain'} {p.wall_s:.2f}s"
                f" ops={len(p.op_ms)} failed={p.failed}")

        out: dict[str, tuple[float, int]] = {}
        by_kind: dict[str, tuple[float, int]] = {}
        if plain:
            n = len(plain)
            out = {
                "setup_s": (session_s + median(setups), SETUP_REPS),
                "wall_s": (median(p.wall_s for p in plain), n),
                "rows_per_s": (median(p.rows / p.wall_s for p in plain), n),
                "ops_per_s": (median(len(p.op_ms) / p.wall_s for p in plain), n),
                "peak_rss_mb": (median(p.layers["peak_rss"][0] for p in plain) / 2**20, n),
            }
            for name, (kind, pct) in BY_KIND.items():
                vals = pooled(plain, kind)
                if vals:
                    by_kind[name] = (median(vals) if pct == 50 else p90(vals), len(vals))
        if args.trace:
            _drain_listener_bus(sc)
            store = StatusStore(sc)
            layers = {k: 0.0 for k in PER_LAYER}
            layers.update(w.layers(tracer, store, traced) if traced else {})
            jobs = [store.job(j) for j in store.all_job_ids()]
            per_pass = [store.summarize(
                [j["id"] for j in jobs if p.start_ms <= j["start_ms"] <= p.end_ms])
                for p in traced]
            for k in ("jobs", "tasks", "executor_run_ms", "gc_ms"):
                layers[f"spark.{k}"] = median(d[k] for d in per_pass)
            layers["trace.overhead_ms"] = 1000.0 * (
                median(p.wall_s for p in traced) - median(p.wall_s for p in plain))
            layers["trace.spans"] = len(tracer.spans) / max(len(traced), 1)
            out = {k: (layers[k], len(traced)) for k in PER_LAYER}
            os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
        return {"attempted": attempted, "failed": failed, "metrics": out,
                "by_kind": by_kind}
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("snapshot_replicate", "serve_mixed", "curate_docs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = [os.path.join(ROOT, "proxima_platform_spark", "__init__.py"),
              os.path.join(ROOT, "__spark_entry__.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: the library is not in this checkout: {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    try:
        res = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    for name, (value, samples) in [*res["metrics"].items(), *res["by_kind"].items()]:
        print(f"{args.workload:16s} {name:52s} {value:16.4f} {units.get(name, 'ms'):7s}"
              f" n={samples}")
    print(f"{args.workload:16s} {'failed_ratio':52s}"
          f" {res['failed'] / max(res['attempted'], 1):16.4f} ratio  "
          f" {res['failed']} of {res['attempted']}")
    print(json.dumps({
        "correct": res["failed"] == 0 and len(res["metrics"]) == len(units),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": value, "unit": units[name]}
                    for name, (value, _) in res["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
