"""Structured Streaming parity tests (SURVEY §2.8, Phase 3).

All tests use file sources with Trigger.AvailableNow + memory/parquet sinks —
in-process, deterministic, mirroring the reference's in-memory operator tests
(InMemStorage-based suites).
"""

import os
import time
from datetime import datetime, timezone

import pytest

from pyspark.sql import Row, functions as F

from proxima_platform_spark.changelog import CHANGELOG_SCHEMA
from proxima_platform_spark.catalog.descriptors import (
    AccessType,
    AttributeFamilyDescriptor,
    StorageType,
)
from proxima_platform_spark.streaming.cached_view import CachedView
from proxima_platform_spark.streaming.replication import (
    ReplicationController,
    ReplicationTarget,
    rename_transform,
)
from proxima_platform_spark.streaming.stateful import (
    distinct_within_watermark,
    integrate_per_key_stream,
)


def ts(ms: int) -> datetime:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc)


from conftest import changelog_element as element


class TestWindowedStreamingAgg:
    def test_tumbling_window_append_mode(self, spark, tmp_path):
        """Windowed agg on a stream with watermark — closed windows emit in
        append mode once the watermark passes (SURVEY §2.4)."""
        src = str(tmp_path / "src")
        rows1 = [(1, ts(500), 1.0), (2, ts(900), 2.0)]
        rows2 = [(3, ts(1500), 4.0)]
        rows3 = [(4, ts(10_000), 8.0)]  # sentinel advancing the watermark
        schema = "id long, ts timestamp, value double"
        for i, rows in enumerate([rows1, rows2, rows3]):
            # one file per micro-batch: multi-part writes would split across
            # triggers in arbitrary mtime order and late-drop rows
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f{i}")
            time.sleep(0.05)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        agg = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 second"))
            .agg(F.sum("value").alias("total"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("win_agg")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.window.start.second, r.total)
            for r in spark.sql("SELECT * FROM win_agg").collect()
        }
        # windows [0,1) and [1,2) closed by the sentinel; [10,11) still open
        assert (0, 3.0) in got and (1, 4.0) in got
        assert all(s != 10 for s, _ in got)


class TestReplication:
    def test_fanout_with_filter_and_rename(self, spark, tmp_path):
        """ReplicationController: one source commit log → replica family with
        StorageFilter + proxy rename (ReplicationController.java, replication.md)."""
        src = str(tmp_path / "commit-log")
        spark.createDataFrame(
            [
                element("user", "u1", "clicks", 1000, "a"),
                element("user", "u2", "views", 2000, "b"),
                element("user", "u3", "clicks", 3000, "c"),
            ],
            CHANGELOG_SCHEMA,
        ).write.parquet(src)

        stream = spark.readStream.schema(CHANGELOG_SCHEMA).parquet(src)
        replica = AttributeFamilyDescriptor(
            name="clicks-replica",
            entity="user",
            attributes=("clicks_renamed",),
            storage_uri=f"parquet://{tmp_path}/replica",
            storage_type=StorageType.REPLICA,
            access=frozenset({AccessType.BATCH_UPDATES}),
        )
        ctl = ReplicationController(stream, checkpoint_root=str(tmp_path / "ckpt"))
        ctl.replicate(
            ReplicationTarget(
                family=replica,
                storage_filter=F.col("attribute") == "clicks",
                transformations=(rename_transform({"clicks": "clicks_renamed"}),),
            )
        )
        ctl.await_all(120)

        out = spark.read.parquet(f"{tmp_path}/replica")
        rows = {(r.key, r.attribute) for r in out.collect()}
        assert rows == {("u1", "clicks_renamed"), ("u3", "clicks_renamed")}


class TestCachedView:
    def test_update_get_time_travel(self, spark, tmp_path):
        """CachedView MVCC semantics: latest value, time travel, wildcard
        tombstone (LocalCachedPartitionedView.java:99-121,268-286)."""
        view = CachedView(spark, str(tmp_path / "view"))
        batch1 = spark.createDataFrame(
            [
                element("user", "u1", "score", 1000, "10"),
                element("user", "u1", "device.a", 1000, "phone"),
            ],
            CHANGELOG_SCHEMA,
        )
        view.update(batch1, 0)
        batch2 = spark.createDataFrame(
            [
                element("user", "u1", "score", 2000, "20"),
                element("user", "u1", "device.*", 1500, None, delete_wildcard=True),
                element("user", "u1", "device.b", 2000, "tablet"),
            ],
            CHANGELOG_SCHEMA,
        )
        view.update(batch2, 1)

        assert bytes(view.get("u1", "score").value).decode() == "20"
        # time travel to before the second batch
        assert bytes(view.get("u1", "score", stamp=ts(1500)).value).decode() == "10"
        # wildcard tombstone at 1500 kills device.a (1000), keeps device.b (2000)
        wild = view.scan_wildcard("u1", "device.")
        assert [(r.attribute, bytes(r.value).decode()) for r in wild] == [
            ("device.b", "tablet")
        ]
        # versions retained
        assert view.current_version() == 2

    def test_per_batch_write_volume_scales_with_batch(self, spark, tmp_path):
        """Incremental maintenance: a micro-batch writes O(batch) rows, not
        O(total state) — no full-snapshot rewrite per batch (the reference's
        TimeBoundedVersionedCache is incremental)."""
        import glob
        import pyarrow.parquet as pq

        root = str(tmp_path / "view-inc")
        view = CachedView(spark, root, compact_every=100)
        big = spark.createDataFrame(
            [element("user", f"u{i}", "score", 1000, str(i)) for i in range(500)],
            CHANGELOG_SCHEMA,
        )
        view.update(big, 0)

        def parquet_rows():
            return sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in glob.glob(f"{root}/**/*.parquet", recursive=True)
            )

        before = parquet_rows()
        small = spark.createDataFrame(
            [element("user", "u1", "score", 2000, "new")], CHANGELOG_SCHEMA
        )
        view.update(small, 1)
        written = parquet_rows() - before
        assert written == 1  # only the delta, never the 500-row state
        # and the delta shadows the base at read time
        assert bytes(view.get("u1", "score").value).decode() == "new"
        assert view.snapshot().count() == 500

    def test_compaction_folds_deltas_and_prunes(self, spark, tmp_path):
        """Every compact_every batches the deltas fold into one base
        generation; reads stay identical and old file sets are removed."""
        import os

        root = str(tmp_path / "view-compact")
        view = CachedView(spark, root, compact_every=2)
        view.update(
            spark.createDataFrame(
                [element("user", "u1", "score", 1000, "10")], CHANGELOG_SCHEMA
            ),
            0,
        )
        view.update(
            spark.createDataFrame(
                [element("user", "u1", "score", 2000, "20")], CHANGELOG_SCHEMA
            ),
            1,
        )
        # compaction ran: no live deltas, one base generation
        assert view._manifest()["deltas"] == []
        assert view._manifest()["base"] == "base/g2"
        assert os.listdir(f"{root}/delta") == []
        # history within TTL retained → time travel still works post-compact
        assert bytes(view.get("u1", "score").value).decode() == "20"
        assert bytes(view.get("u1", "score", stamp=ts(1500)).value).decode() == "10"

    def test_replayed_batch_id_is_noop(self, spark, tmp_path):
        """foreachBatch is at-least-once: re-delivering batch 0 must not
        advance the view a second time."""
        view = CachedView(spark, str(tmp_path / "view-replay"))
        batch = spark.createDataFrame(
            [element("user", "u1", "score", 1000, "10")], CHANGELOG_SCHEMA
        )
        view.update(batch, 0)
        view.update(batch, 0)
        assert view.current_version() == 1
        assert view.current().count() == 1

    def test_manifest_without_replay_guard_still_loads(self, spark, tmp_path):
        """A manifest written before the view kept ``max_batch_id`` (and
        that still carries ``high_watermark``) loads; the guard engages
        from the next commit on."""
        import json

        root = str(tmp_path / "view-legacy")
        spark.createDataFrame(
            [element("user", "u1", "score", 1000, "10")], CHANGELOG_SCHEMA
        ).write.parquet(f"{root}/delta/d1")
        with open(f"{root}/manifest.json", "w") as f:
            json.dump({"version": 1, "base": None, "deltas": ["delta/d1"],
                       "high_watermark": "1970-01-01 00:00:01"}, f)
        view = CachedView(spark, root)
        batch = spark.createDataFrame(
            [element("user", "u1", "score", 2000, "20")], CHANGELOG_SCHEMA
        )
        view.update(batch, 1)
        view.update(batch, 1)
        assert view.current_version() == 2
        assert bytes(view.get("u1", "score").value).decode() == "20"
        assert bytes(
            view.get("u1", "score", stamp=ts(1500)).value
        ).decode() == "10"


class TestCrashPointReplay:
    """A crash between a maintainer's delta write and its manifest write
    leaves an orphan ``delta/d1``; the replayed batch must overwrite it
    and leave the state of exactly one clean apply."""

    HOUR = 3_600_000

    def _cached_view(self, spark, path):
        return CachedView(spark, path)

    def _rollup(self, spark, path):
        from proxima_platform_spark.streaming.rollup_stream import (
            ContinuousRollup,
        )

        return ContinuousRollup(
            spark, path, ts_ms_col="ts_ms", keys=["k"], value_col="v",
            base_level_ms=self.HOUR,
        )

    def _kneser_ney(self, spark, path):
        from proxima_platform_spark.streaming.lm_stream import (
            ContinuousKneserNey,
        )

        return ContinuousKneserNey(spark, path)

    def _winnow(self, spark, path):
        from proxima_platform_spark.streaming.winnow_stream import (
            ContinuousWinnowIndex,
        )

        return ContinuousWinnowIndex(spark, path)

    CASES = {
        # name: (factory, schema, crashed batch, replayed batch, state read)
        "cached_view": (
            _cached_view, CHANGELOG_SCHEMA,
            [element("user", "u9", "score", 500, "9")],
            [element("user", "u1", "score", 1000, "10"),
             element("user", "u2", "score", 1000, "20")],
            lambda m: m.snapshot(),
        ),
        "rollup": (
            _rollup, "k string, ts_ms long, v double",
            [("z", 5, 100.0)],
            [("a", 10, 1.5), ("a", 20, 2.5)],
            lambda m: m.level(TestCrashPointReplay.HOUR),
        ),
        "kneser_ney": (
            _kneser_ney, "doc_id long, text string",
            [(9, "p q r s t u v")],
            [(1, "a b c d e a b c d e"), (2, "a b c d f g")],
            lambda m: m.counts(),
        ),
        "winnow": (
            _winnow, "doc_id long, fp long",
            [(9, 99)],
            [(1, 10), (1, 11), (2, 10)],
            lambda m: m.fingerprints(),
        ),
    }

    @pytest.mark.parametrize("name", sorted(CASES))
    def test_orphan_delta_is_overwritten_by_replay(self, spark, tmp_path, name):
        import shutil

        make, schema, crashed_rows, rows, read = self.CASES[name]
        crashed = make(self, spark, str(tmp_path / "crashed"))
        crashed.update(spark.createDataFrame(crashed_rows, schema), 0)
        replayed = make(self, spark, str(tmp_path / "replayed"))
        shutil.copytree(
            f"{crashed.path}/delta/d1", f"{replayed.path}/delta/d1"
        )
        replayed.update(spark.createDataFrame(rows, schema), 0)
        clean = make(self, spark, str(tmp_path / "clean"))
        clean.update(spark.createDataFrame(rows, schema), 0)

        def state(m):
            return sorted(map(tuple, read(m).collect()))

        assert state(replayed) == state(clean)
        assert replayed._manifest() == clean._manifest()


class TestStreamingDedup:
    def test_drop_duplicates_within_watermark(self, spark, tmp_path):
        src = str(tmp_path / "dup-src")
        schema = "id long, ts timestamp, k string"
        spark.createDataFrame(
            [(1, ts(1000), "a"), (2, ts(1100), "a"), (3, ts(1200), "b")], schema
        ).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        dedup = distinct_within_watermark(stream, stamp="ts", delay="1 minute", subset=["k"])
        q = (
            dedup.writeStream.format("memory").queryName("dedup_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r.k for r in spark.sql("SELECT k FROM dedup_out").collect()}
        assert got == {"a", "b"}
        assert spark.sql("SELECT count(*) n FROM dedup_out").first().n == 2


class TestStreamingIntegrate:
    def test_integrate_per_key_event_time_order(self, spark, tmp_path):
        """Streaming integratePerKey: out-of-order arrivals within a batch
        integrate in event-time order after the watermark passes
        (IntegrateDoFn:1498, sorted buffering BeamStream.java:1633-1677)."""
        src = str(tmp_path / "int-src")
        schema = "k string, ts timestamp, v double"
        # batch 1: out-of-order events for key a
        spark.createDataFrame(
            [("a", ts(2000), 2.0), ("a", ts(1000), 1.0), ("b", ts(1000), 5.0)], schema
        ).coalesce(1).write.parquet(f"{src}/f0")
        time.sleep(0.05)
        # batch 2: watermark-advancing sentinel far in the future
        spark.createDataFrame([("z", ts(10_000_000), 0.0)], schema).coalesce(1).write.parquet(
            f"{src}/f1"
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        out = integrate_per_key_stream(
            stream, key="k", value="v", stamp="ts", watermark_delay="0 seconds"
        )
        q = (
            out.writeStream.format("memory").queryName("integ_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT key, integrated FROM integ_out").collect()
        got = {(r.key, r.integrated) for r in rows}
        # a: 1.0 then 3.0 (event-time order despite arrival order); b: 5.0
        assert {("a", 1.0), ("a", 3.0), ("b", 5.0)} <= got


class TestStreamStreamJoin:
    def test_windowed_stream_stream_join(self, spark, tmp_path):
        """Per-window equi join of two streams: window column in the join key
        + watermarks on both sides (SURVEY §2.6 — the streaming mapping of
        BeamWindowedStream.join:371-404)."""
        left_src, right_src = str(tmp_path / "l"), str(tmp_path / "r")
        schema = "k string, ts timestamp, v double"
        spark.createDataFrame(
            [("a", ts(500), 1.0), ("b", ts(700), 2.0), ("a", ts(1500), 3.0)],
            schema,
        ).coalesce(1).write.parquet(left_src)
        spark.createDataFrame(
            [("a", ts(600), 10.0), ("a", ts(1600), 30.0), ("c", ts(800), 99.0)],
            schema,
        ).coalesce(1).write.parquet(right_src)

        def windowed(path):
            s = spark.readStream.schema(schema).parquet(path)
            return s.withWatermark("ts", "0 seconds").select(
                "k", "v", F.window("ts", "1 second").alias("w")
            )

        l = windowed(left_src).withColumnRenamed("v", "lv")
        r = windowed(right_src).withColumnRenamed("v", "rv")
        joined = l.join(r, on=["k", "w"], how="inner")

        q = (
            joined.writeStream.format("memory")
            .queryName("ss_join")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.k, r.lv, r.rv)
            for r in spark.sql("SELECT * FROM ss_join").collect()
        }
        # same key AND same tumbling window only; 'b'/'c' have no partner
        assert got == {("a", 1.0, 10.0), ("a", 3.0, 30.0)}


class TestEarlyEmitting:
    def test_update_mode_emits_partials(self, spark, tmp_path):
        """withEarlyEmitting → update mode: a window emits partial results
        per micro-batch instead of once at close (BeamWindowedStream:598;
        documented per-query-trigger delta)."""
        from proxima_platform_spark.operators.windowed import Windowing
        from proxima_platform_spark.streaming.windows import (
            windowed_streaming_aggregation,
        )

        src = str(tmp_path / "early_src")
        schema = "k string, ts timestamp, v double"
        for i, rows in enumerate(
            [[("a", ts(100), 1.0)], [("a", ts(300), 2.0)]]
        ):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f{i}")
            time.sleep(0.05)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        from dataclasses import replace

        w = replace(Windowing.tumbling("ts", 1000), early_emitting_ms=500)
        agg, kwargs = windowed_streaming_aggregation(
            stream, w, "k", F.sum("v").alias("total")
        )
        assert kwargs["outputMode"] == "update"
        q = (
            agg.writeStream.format("memory")
            .queryName("early_agg")
            .outputMode(kwargs["outputMode"])
            .trigger(availableNow=True)  # test override of the PT trigger
            .start()
        )
        q.awaitTermination(120)
        totals = [
            r.total
            for r in spark.sql(
                "SELECT total FROM early_agg ORDER BY total"
            ).collect()
        ]
        # partial emission (1.0) then the updated window (3.0)
        assert totals == [1.0, 3.0]

    def test_append_mode_emits_once(self, spark, tmp_path):
        from proxima_platform_spark.operators.windowed import Windowing
        from proxima_platform_spark.streaming.windows import (
            windowed_streaming_aggregation,
        )

        w = Windowing.tumbling("ts", 1000)
        src = str(tmp_path / "append_src")
        schema = "k string, ts timestamp, v double"
        spark.createDataFrame(
            [("a", ts(100), 1.0), ("a", ts(5000), 9.0)], schema
        ).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        agg, kwargs = windowed_streaming_aggregation(
            stream, w, "k", F.sum("v").alias("total")
        )
        assert kwargs["outputMode"] == "append"


class TestCommitLogSources:
    def test_parquet_commit_log_stream_with_limit(self, spark, tmp_path):
        """File-family commit log: OLDEST replay with the throughput limiter
        (maxFilesPerTrigger — ThroughputLimiter analog)."""
        from proxima_platform_spark.streaming.source import commit_log_stream

        path = str(tmp_path / "families" / "clog")
        rows = [element("user", f"k{i}", "status", 1000 + i, "v") for i in range(4)]
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).write.parquet(path)
        fam = AttributeFamilyDescriptor(
            name="clog", entity="user", attributes=["status"],
            storage_uri=f"parquet://{path}",
            access={AccessType.COMMIT_LOG}, storage_type=StorageType.PRIMARY,
        )
        stream = commit_log_stream(
            spark, fam, position="OLDEST", max_per_trigger=1
        )
        q = (
            stream.writeStream.format("memory").queryName("clog_replay")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        assert spark.sql("SELECT count(*) n FROM clog_replay").first().n == 4
        assert q.lastProgress is not None

    def test_bad_position_rejected(self, spark, tmp_path):
        from proxima_platform_spark.streaming.source import commit_log_stream

        fam = AttributeFamilyDescriptor(
            name="x", entity="user", attributes=["a"],
            storage_uri="parquet:///nope",
            access={AccessType.COMMIT_LOG}, storage_type=StorageType.PRIMARY,
        )
        with pytest.raises(ValueError):
            commit_log_stream(spark, fam, position="MIDDLE")


class TestBulkWriter:
    def test_time_bucketed_directories(self, spark, tmp_path):
        """Bulk writer lands files in stamp-bucketed partitions
        (AbstractBulkFileSystemAttributeWriter / NamingConvention)."""
        from proxima_platform_spark.streaming.sink import write_bulk

        src = str(tmp_path / "bulk_src")
        out = str(tmp_path / "bulk_out")
        rows = [
            element("user", "k1", "status", 0, "a"),
            element("user", "k2", "status", 11 * 60_000, "b"),  # next 10-min bucket
        ]
        spark.createDataFrame(rows, CHANGELOG_SCHEMA).write.parquet(src)
        stream = spark.readStream.schema(CHANGELOG_SCHEMA).parquet(src)
        fam = AttributeFamilyDescriptor(
            name="bulk", entity="user", attributes=["status"],
            storage_uri=f"parquet://{out}",
            access={AccessType.BATCH_UPDATES}, storage_type=StorageType.REPLICA,
        )
        q = write_bulk(stream, fam, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        buckets = {
            d for d in os.listdir(out) if d.startswith("stamp_bucket=")
        }
        assert len(buckets) == 2  # two distinct 10-minute buckets
        assert spark.read.parquet(out).count() == 2


class TestLatecomerSplit:
    def test_split(self, spark):
        from proxima_platform_spark.streaming.stateful import split_latecomers

        df = spark.createDataFrame(
            [("a", ts(1000)), ("b", ts(5000))], "k string, stamp timestamp"
        )
        on_time, late = split_latecomers(df, stamp="stamp", watermark=ts(2000))
        assert [r.k for r in on_time.collect()] == ["b"]
        assert [r.k for r in late.collect()] == ["a"]


class TestStreamingPretrainingPrep:
    def test_per_batch_manifest_matches_batch_oracle(self, spark, tmp_path):
        """VERDICT r03 #5: the gate→chunk→pack chain runs over a commit-log
        stream via foreachBatch, and each micro-batch's manifest equals the
        batch pipeline on the same data slice (packing is batch-local by
        design — bins seal at micro-batch boundaries)."""
        from proxima_platform_spark.functions.prep import (
            pretraining_prep,
            pretraining_prep_stream,
        )

        good_a = (
            "the quick brown fox jumps over the lazy dog and keeps running "
            "through the quiet field toward the river bank every morning "
            "while the sun rises slowly over the distant eastern hills"
        )
        good_b = (
            "a second perfectly reasonable document with enough words and "
            "letters to clear the quality gate threshold easily and then "
            "some more text so that several chunks come out of the splitter"
        )
        src = str(tmp_path / "prep-src")
        schema = "doc_id long, ts timestamp, text string"
        batches = [
            [(1, ts(1000), good_a), (2, ts(1100), "!!! ### $$$ %%%")],
            [(3, ts(2000), good_b), (4, ts(2100), good_a + " " + good_b)],
        ]
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                f"{src}/f{i}"
            )
            time.sleep(0.05)

        collected: dict[int, set] = {}

        def sink(manifest, batch_id):
            collected[batch_id] = {tuple(r) for r in manifest.collect()}

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            pretraining_prep_stream(stream, sink, budget=64, n_shards=4)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        assert len(collected) == 2
        # micro-batch file order is mtime-based; compare against the batch
        # form on each slice regardless of which file landed in which batch
        got = sorted(collected.values(), key=sorted)
        want = sorted(
            (
                {
                    tuple(r)
                    for r in pretraining_prep(
                        spark.createDataFrame(rows, schema),
                        budget=64,
                        n_shards=4,
                    ).collect()
                }
                for rows in batches
            ),
            key=sorted,
        )
        assert got == want
        # the junk doc was gated out, the good docs produced real bins
        assert all(len(s) > 0 for s in want)


class TestStreamingParagraphDedup:
    def test_online_paragraph_dedup_across_batches(self, spark, tmp_path):
        """Paragraph-level online dedup over the changelog: explode the
        document stream to trimmed non-empty paragraphs, fingerprint, and
        dropDuplicatesWithinWatermark on the fingerprint — the streaming
        complement of functions/dedup.dedup_paragraphs (first arrival wins
        instead of smallest (doc_id, pos); batch replay reproduces the
        batch operator's keeper set when arrival order follows doc order)."""
        src = str(tmp_path / "pdedup-src")
        schema = "doc_id long, ts timestamp, text string"
        spark.createDataFrame(
            [(1, ts(1000), "shared para\nunique one")], schema
        ).coalesce(1).write.parquet(f"{src}/f0")
        time.sleep(0.05)
        spark.createDataFrame(
            [(2, ts(2000), "unique two\nshared para")], schema
        ).coalesce(1).write.parquet(f"{src}/f1")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        paras = F.filter(
            F.transform(F.split("text", r"\n", -1), lambda l: F.trim(l)),
            lambda l: F.length(l) > 0,
        )
        exploded = stream.select(
            "doc_id", "ts", F.posexplode(paras).alias("pos", "para")
        ).withColumn("fp", F.md5("para"))
        deduped = (
            exploded.withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["fp"])
        )
        q = (
            deduped.writeStream.format("memory").queryName("pdedup_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            (r.doc_id, r.pos, r.para)
            for r in spark.sql("SELECT doc_id, pos, para FROM pdedup_out").collect()
        }
        # doc 2's copy of 'shared para' (pos 1) was dropped online
        assert got == {
            (1, 0, "shared para"),
            (1, 1, "unique one"),
            (2, 0, "unique two"),
        }


class TestTransformWithStateProbe:
    """DELTAS.md #12: the stateful streaming operators auto-select Spark 4's
    transformWithStateInPandas when the environment can actually run it
    (protobuf + RocksDB provider), falling back to applyInPandasWithState.
    The suites above certify whichever path the dispatch picks here."""

    def test_probe_requires_rocksdb_provider(self, spark):
        from proxima_platform_spark.streaming.stateful import (
            transform_with_state_available,
        )

        key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(key, None)
        try:
            spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
            assert transform_with_state_available(spark) is False
            spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
            got = transform_with_state_available(spark)
            # with RocksDB configured the answer depends only on protobuf
            try:
                from google.protobuf import descriptor  # noqa: F401

                assert got is True
            except ImportError:
                assert got is False
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

    def test_probe_gate_imports(self, spark):
        """Gate 1 in isolation: with the memoized import flag forced False,
        the probe answers False even when the provider is RocksDB."""
        from proxima_platform_spark.streaming import stateful

        key = "spark.sql.streaming.stateStore.providerClass"
        old_conf = spark.conf.get(key, None)
        old_flag = stateful._TWS_IMPORTS_OK
        try:
            spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
            stateful._TWS_IMPORTS_OK = False
            assert stateful.transform_with_state_available(spark) is False
        finally:
            stateful._TWS_IMPORTS_OK = old_flag
            if old_conf is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old_conf)

    def test_probe_gate_provider_binds_even_with_imports(self, spark):
        """Gate 3 in isolation: with imports forced True, a non-RocksDB
        provider still vetoes (HDFSBackedStateStoreProvider cannot run
        transformWithState)."""
        from proxima_platform_spark.streaming import stateful

        key = "spark.sql.streaming.stateStore.providerClass"
        old_conf = spark.conf.get(key, None)
        old_flag = stateful._TWS_IMPORTS_OK
        try:
            stateful._TWS_IMPORTS_OK = True
            spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
            assert stateful.transform_with_state_available(spark) is False
            spark.conf.unset(key)  # unset default: no RocksDB → False
            assert stateful.transform_with_state_available(spark) is False
        finally:
            stateful._TWS_IMPORTS_OK = old_flag
            if old_conf is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old_conf)

    def test_probe_gate_memoization_is_import_static(self):
        """Gate 2's memo: the import probe is cached per process (a FAILED
        import otherwise re-scans sys.path per call — the r04 bench-drift
        suspect), so the flag is a module global with three states."""
        from proxima_platform_spark.streaming import stateful

        assert stateful._TWS_IMPORTS_OK in (None, True, False)

    def test_twsip_branch_end_to_end_when_available(self, spark, tmp_path):
        """The r05 unification hosts reduce-value-state, the retract join,
        and the streaming as-of join on ONE keyed engine with two API
        backends. This runs the twsip backend end-to-end (sorted flush,
        list outputs, order_cols tiebreak — the retract-join shape) and
        pins it to the apiws backend's output. SKIPS where the
        environment lacks the twsip prerequisites (this container has no
        google.protobuf — DELTAS.md #12); the day the probe flips, the
        branch is already covered."""
        try:
            from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
                StatefulProcessor,
            )
            from google.protobuf import descriptor  # noqa: F401
        except ImportError:
            pytest.skip("transformWithStateInPandas imports unavailable")

        from proxima_platform_spark.streaming.stateful import (
            reduce_value_state_by_key_stream,
        )

        key = "spark.sql.streaming.stateStore.providerClass"
        old_conf = spark.conf.get(key, None)
        spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try:
            src = str(tmp_path / "twsip_src")
            schema = "k string, seq long, ts timestamp, v long"
            spark.createDataFrame(
                [("a", 2, ts(3000), 3), ("a", 0, ts(1000), 1), ("a", 1, ts(1000), 2)],
                schema,
            ).coalesce(1).write.parquet(f"{src}/f0")
            time.sleep(0.05)
            spark.createDataFrame(
                [("a", 9, ts(60_000), 99)], schema
            ).coalesce(1).write.parquet(f"{src}/f1")

            def dup_emit(state, key_, row):
                total = state + row["v"]
                # list output: the retract join's emit-two-rows shape
                return total, [
                    {"k": key_, "v": row["v"], "total": total, "tag": "add"},
                    {"k": key_, "v": row["v"], "total": total, "tag": "run"},
                ]

            results = {}
            for api in ("twsip", "apiws"):
                stream = (
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(f"{src}/f*")
                )
                out = reduce_value_state_by_key_stream(
                    stream,
                    key="k",
                    stamp="ts",
                    state_fn=dup_emit,
                    initial_state=0,
                    output_schema="k string, v long, total long, tag string",
                    watermark_delay="0 seconds",
                    order_cols=("seq",),
                    api=api,
                )
                name = f"twsip_cmp_{api}"
                q = (
                    out.writeStream.format("memory").queryName(name)
                    .outputMode("append").trigger(availableNow=True).start()
                )
                q.awaitTermination(120)
                results[api] = sorted(
                    (r.k, r.v, r.total, r.tag)
                    for r in spark.sql(f"SELECT * FROM {name}").collect()
                )
            assert results["twsip"] == results["apiws"]
            # event-time + seq tiebreak order applied: totals 1, 3, 6
            totals = sorted({t for (_, _, t, _) in results["apiws"]})
            assert totals[:3] == [1, 3, 6]
        finally:
            if old_conf is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old_conf)

    def test_dispatch_falls_back_cleanly(self, spark):
        # building the fallback query plan must not require protobuf
        import pandas as pd

        from proxima_platform_spark.streaming.stateful import (
            reduce_value_state_by_key_stream,
            transform_with_state_available,
        )

        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", "1").load()
            .select(F.lit("k").alias("k"), F.col("timestamp").alias("ts"),
                    F.col("value").cast("double").alias("v"))
        )
        out = reduce_value_state_by_key_stream(
            stream,
            key="k",
            stamp="ts",
            state_fn=lambda st, k, row: (st, None),
            initial_state=0,
            output_schema="k string, ts timestamp",
            api="auto",
        )
        assert out.isStreaming
        if not transform_with_state_available(spark):
            # the deprecated-track API must be the one in the plan
            assert "FlatMapGroupsInPandasWithState" in out._jdf.queryExecution().analyzed().toString()


class TestStreamingReduceValueState:
    def test_event_time_sorted_state_machine(self, spark, tmp_path):
        """Streaming reduceValueStateByKey (sorted): buffered rows apply in
        event-time order once the watermark passes (BeamStream.java:1633-1677
        timer design → applyInPandasWithState)."""
        from proxima_platform_spark.streaming.stateful import (
            reduce_value_state_by_key_stream,
        )

        src = str(tmp_path / "rvs_src")
        schema = "k string, ts timestamp, v long"
        # batch 1 delivers out of order; batch 2's sentinel advances the
        # watermark far enough to flush everything buffered
        spark.createDataFrame(
            [("a", ts(3000), 3), ("a", ts(1000), 1), ("a", ts(2000), 2)], schema
        ).coalesce(1).write.parquet(f"{src}/f0")
        time.sleep(0.05)
        spark.createDataFrame(
            [("a", ts(60_000), 99)], schema
        ).coalesce(1).write.parquet(f"{src}/f1")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )

        def running_sum(state, key, row):
            total = state + row["v"]
            return total, {"k": key, "v": row["v"], "total": total}

        out = reduce_value_state_by_key_stream(
            stream,
            key="k",
            stamp="ts",
            state_fn=running_sum,
            initial_state=0,
            output_schema="k string, v long, total long",
            watermark_delay="0 seconds",
        )
        q = (
            out.writeStream.format("memory").queryName("rvs_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT v, total FROM rvs_out ORDER BY total").collect()
        got = [(r.v, r.total) for r in rows]
        # applied in event-time order (1, 2, 3) despite arrival (3, 1, 2)
        assert got[:3] == [(1, 1), (2, 3), (3, 6)]


class TestWatermarkEstimators:
    def test_bounded_out_of_orderness_drops_late(self, spark, tmp_path):
        """0ms out-of-orderness (the reference default): rows older than the
        max seen stamp drop from windowed aggregation state."""
        from proxima_platform_spark.streaming.watermarks import BoundedOutOfOrderness

        src = str(tmp_path / "wm_src")
        ckpt = str(tmp_path / "wm_ckpt")
        schema = "k string, ts timestamp, v double"

        out = str(tmp_path / "wm_out")

        def run():
            stream = spark.readStream.schema(schema).parquet(f"{src}/f*")
            wm = BoundedOutOfOrderness(0).apply(stream, "ts")
            agg = wm.groupBy(F.window("ts", "1 second")).agg(F.sum("v").alias("total"))
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        # run 1 advances the checkpointed watermark to 10s
        spark.createDataFrame([("a", ts(10_000), 1.0)], schema).coalesce(1).write.parquet(f"{src}/f0")
        run()
        # run 2 delivers a row 9.5s older than the watermark → dropped; the
        # sentinel closes nothing new
        spark.createDataFrame([("a", ts(500), 99.0)], schema).coalesce(1).write.parquet(f"{src}/f1")
        run()
        totals = {r.total for r in spark.read.parquet(out).collect()}
        assert 99.0 not in totals  # the late row was dropped

    def test_processing_time_stamps_arrival(self, spark):
        from proxima_platform_spark.streaming.watermarks import ProcessingTime

        df = spark.createDataFrame([("a",)], "k string")
        out = ProcessingTime(stamp_arrival_as="arrived").apply(df)
        assert "arrived" in out.columns


class TestStreamingCorpusIngest:
    def test_gate_fingerprint_online_dedup(self, spark, tmp_path):
        """Streaming LLM-corpus ingestion composed from existing pieces:
        quality gate (pure expressions) → content fingerprint →
        dropDuplicatesWithinWatermark on the fingerprint. Cross-micro-batch
        duplicates inside the watermark are dropped online; the gate runs
        before the stateful stage so junk never enters the dedup state."""
        from proxima_platform_spark.functions.text import doc_fingerprint, quality_score
        from proxima_platform_spark.streaming.stateful import distinct_within_watermark

        good = (
            "the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet field toward the river bank"
        )
        other = (
            "a second perfectly reasonable document with enough words "
            "and letters to clear the quality gate threshold easily"
        )
        src = str(tmp_path / "corpus-src")
        schema = "doc_id long, ts timestamp, text string"
        # batch 0: good doc + junk; batch 1: same good text again (dup) + new
        spark.createDataFrame(
            [(1, ts(1000), good), (2, ts(1100), "!!! ### $$$ %%%")], schema
        ).coalesce(1).write.parquet(f"{src}/f0")
        spark.createDataFrame(
            [(3, ts(2000), good), (4, ts(2100), other)], schema
        ).coalesce(1).write.parquet(f"{src}/f1")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        gated = stream.where(quality_score(F.col("text")) >= 0.5).withColumn(
            "fp", doc_fingerprint(F.col("text"))
        )
        dedup = distinct_within_watermark(
            gated, stamp="ts", delay="10 minutes", subset=["fp"]
        )
        q = (
            dedup.writeStream.format("memory").queryName("corpus_ingest_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = sorted(r.doc_id for r in spark.sql(
            "SELECT doc_id FROM corpus_ingest_out").collect())
        # 1 survives; 2 gated out; 3 is an online dup of 1; 4 survives
        assert got == [1, 4]


class TestStreamingFunnel:
    def test_emits_changelog_of_batch_funnel(self, spark, tmp_path):
        """Streaming funnel (functions/timeseries.funnel_stream): per-user
        step state over the keyed state machine; end-state must equal the
        batch funnel on the same data, and intermediate emissions form its
        changelog (one row per step advance)."""
        from proxima_platform_spark.functions.timeseries import funnel, funnel_stream

        src = str(tmp_path / "funnel_src")
        schema = "user_id long, event_type string, tstamp timestamp"
        rows = [
            # u1: view(1s) click-before-view ignored at step2? no — click at
            # 0.5s arrives first in event time but step1 not done: dropped.
            (1, "click", ts(500)),
            (1, "view", ts(1000)),
            (1, "click", ts(2000)),
            (1, "purchase", ts(3000)),
            # u2: completes step 1 only (clicks at/before the view don't count)
            (2, "click", ts(900)),
            (2, "view", ts(1000)),
            # u3: noise only
            (3, "purchase", ts(100)),
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f0")
        time.sleep(0.05)
        # sentinel far in the future advances the watermark to flush all
        spark.createDataFrame(
            [(9, "x", ts(60_000))], schema
        ).coalesce(1).write.parquet(f"{src}/f1")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        out = funnel_stream(
            stream,
            ["view", "click", "purchase"],
            watermark_delay="0 seconds",
        )
        q = (
            out.writeStream.format("memory").queryName("funnel_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        emitted = [
            (r.user_id, r.t1, r.t2, r.t3)
            for r in spark.sql(
                "SELECT * FROM funnel_out ORDER BY user_id, coalesce(t3,-1), coalesce(t2,-1), t1"
            ).collect()
        ]
        # changelog: one emission per step advance
        assert emitted == [
            (1, 1000, None, None),
            (1, 1000, 2000, None),
            (1, 1000, 2000, 3000),
            (2, 1000, None, None),
        ]
        # end-state (latest emission per user) == batch funnel on same data
        batch_df = spark.createDataFrame(rows, schema).withColumn(
            "ts_ms", (F.unix_micros("tstamp") / 1000).cast("long")
        )
        batch = {
            r.user_id: (r.t1, r.t2, r.t3)
            for r in funnel(
                batch_df, ["view", "click", "purchase"], ts_col="ts_ms"
            ).collect()
        }
        latest = {}
        for u, t1, t2, t3 in emitted:
            latest[u] = (t1, t2, t3)
        assert latest == batch


class TestContinuousRollup:
    def test_streaming_ladder_equals_batch_ladder(self, spark, tmp_path):
        """Continuous aggregate (streaming/rollup_stream.ContinuousRollup):
        per-micro-batch partial folds must reproduce the batch
        hypertable_rollup ladder exactly — hour level and day level —
        whatever the batch boundaries, including a bucket straddling two
        batches and compaction kicking in."""
        from proxima_platform_spark.operators.rollup import hypertable_rollup
        from proxima_platform_spark.streaming.rollup_stream import ContinuousRollup

        HOUR, DAY = 3_600_000, 86_400_000
        schema = "k string, ts_ms long, v double"
        batches = [
            # bucket hour-0 split across batches 1 and 2; negative value
            # exercises vmin; day 2 appears only in batch 3
            [("a", 10_000, 1.5), ("a", 20_000, -2.0), ("b", 30_000, 7.25)],
            [("a", 40_000, 3.0), ("a", HOUR + 1_000, 10.0)],
            [("b", DAY + 5_000, 0.5), ("a", DAY + HOUR + 1, 4.75)],
            [("a", 50_000, 2.25)],  # late-in-arrival but in-bucket: folds fine
            [("b", 60_000, -1.25)],
        ]
        roll = ContinuousRollup(
            spark,
            str(tmp_path / "cr"),
            ts_ms_col="ts_ms",
            keys=["k"],
            value_col="v",
            base_level_ms=HOUR,
            compact_every=3,
        )
        for i, rows in enumerate(batches):
            roll.update(spark.createDataFrame(rows, schema), i)

        all_rows = [r for b in batches for r in b]
        raw = spark.createDataFrame(all_rows, schema)
        for lvl in (HOUR, DAY):
            want = {
                tuple(r[c] for c in ("k", "bucket_ms")): (
                    r["cnt"], float(r["total_dec"]), r["vmin"], r["vmax"]
                )
                for r in hypertable_rollup(
                    raw, ts_ms_col="ts_ms", keys=["k"], value_col="v",
                    levels_ms=[HOUR, DAY] if lvl == DAY else [HOUR],
                )[lvl].collect()
            }
            got = {
                (r["k"], r["bucket_ms"]): (
                    r["cnt"], float(r["total_dec"]), r["vmin"], r["vmax"]
                )
                for r in roll.level(lvl).collect()
            }
            assert got == want, lvl
        # compaction folded the first generations: fewer deltas than batches
        assert len(roll._manifest()["deltas"]) < len(batches)

    def test_replayed_batch_id_is_noop(self, spark, tmp_path):
        """Re-delivering batch 0 must not fold its partials twice."""
        from proxima_platform_spark.streaming.rollup_stream import ContinuousRollup

        HOUR = 3_600_000
        roll = ContinuousRollup(
            spark, str(tmp_path / "cr-replay"), ts_ms_col="ts_ms",
            keys=["k"], value_col="v", base_level_ms=HOUR,
        )
        ev = spark.createDataFrame(
            [("a", 1_000, 1.0), ("a", 2_000, 2.0)], "k string, ts_ms long, v double"
        )
        roll.update(ev, 0)
        roll.update(ev, 0)
        assert [(r["cnt"], float(r["total_dec"])) for r in roll.level(HOUR).collect()] == [
            (2, 3.0)
        ]

    def test_foreachbatch_wiring(self, spark, tmp_path):
        """update() as a foreachBatch callback over a file stream."""
        from proxima_platform_spark.streaming.rollup_stream import ContinuousRollup

        HOUR = 3_600_000
        src = str(tmp_path / "cr_src")
        schema = "k string, ts_ms long, v double"
        spark.createDataFrame(
            [("a", 1_000, 1.0), ("a", 2_000, 2.0)], schema
        ).coalesce(1).write.parquet(f"{src}/f0")
        time.sleep(0.05)
        spark.createDataFrame(
            [("a", HOUR + 1_000, 5.0)], schema
        ).coalesce(1).write.parquet(f"{src}/f1")

        roll = ContinuousRollup(
            spark, str(tmp_path / "cr2"), ts_ms_col="ts_ms", keys=["k"],
            value_col="v", base_level_ms=HOUR,
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            stream.writeStream.foreachBatch(roll.update)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            (r["k"], r["bucket_ms"]): (r["cnt"], float(r["total_dec"]))
            for r in roll.level(HOUR).collect()
        }
        assert got == {("a", 0): (2, 3.0), ("a", HOUR): (1, 5.0)}


class TestStreamingHeavyHitters:
    def test_merged_batch_sketches_equal_global(self, spark):
        """Continuous frequent-items: CMS built per micro-batch and merged
        across batches (functions/sketch.py::cms_merge) must equal the
        sketch of the full stream — so a streaming job can maintain one
        small merged sketch and answer 'is this key frequent so far'
        without re-reading history. Then the merged-sketch prefilter +
        exact confirm over the full data reproduces the plain exact
        frequent-items — the batch heavy_hitters contract, maintained
        online."""
        from proxima_platform_spark.functions.sketch import (
            cms_build,
            cms_estimate,
            cms_merge,
        )

        schema = "k string, t string"
        batches = [
            [("a", "x")] * 9 + [("b", "y")] * 2,
            [("a", "x")] * 5 + [("c", "z")] * 6 + [("b", "y")],
            [("a", "x")] * 4 + [("c", "z")] * 3,
        ]
        merged = None
        for rows in batches:
            sk = cms_build(spark.createDataFrame(rows, schema), ["k", "t"],
                           width=128, depth=4)
            merged = sk if merged is None else cms_merge(merged, sk)
        all_rows = [r for b in batches for r in b]
        full = spark.createDataFrame(all_rows, schema)
        want = cms_build(full, ["k", "t"], width=128, depth=4).collect()[0]
        got = merged.collect()[0]
        assert dict(got.cells) == dict(want.cells)

        # online heavy-hitters from the merged sketch == exact groupBy
        threshold = 9
        cand = cms_estimate(full, ["k", "t"], merged, width=128, depth=4).where(
            F.col("freq_est") >= threshold
        )
        hh = {
            (r.k, r.t): r["n"]
            for r in cand.groupBy("k", "t")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= threshold)
            .collect()
        }
        exact = {
            (r.k, r.t): r["count"]
            for r in full.groupBy("k", "t").count().collect()
            if r["count"] >= threshold
        }
        assert hh == exact and len(exact) == 2  # ('a','x')=18, ('c','z')=9


class TestStreamingEwma:
    def test_streaming_equals_batch_per_row(self, spark, tmp_path):
        """Streaming EWMA (functions/timeseries.ewma_stream): the keyed
        event-time state machine carries the trailing-16 scaled-int buffer
        per user; every emitted (user, event, ewma) must equal the batch
        operator's value for that row — including across a micro-batch
        boundary splitting one user's series."""
        from proxima_platform_spark.functions.timeseries import ewma, ewma_stream

        src = str(tmp_path / "ewma_src")
        schema = "user_id long, event_id long, tstamp timestamp, value double"
        b0 = [
            (1, 0, ts(1000), 10.0),
            (1, 1, ts(2000), 20.0),
            (2, 2, ts(1500), 5.5),
        ]
        b1 = [
            (1, 3, ts(3000), 40.0),  # continues u1's buffer from batch 0
            (2, 4, ts(2500), 7.25),
        ]
        spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src}/f0")
        time.sleep(0.05)
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f1")
        time.sleep(0.05)
        spark.createDataFrame(
            [(9, 99, ts(60_000), 0.0)], schema
        ).coalesce(1).write.parquet(f"{src}/f2")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        out = ewma_stream(stream, watermark_delay="0 seconds")
        q = (
            out.writeStream.format("memory").queryName("ewma_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            r.event_id: r.ewma
            for r in spark.sql("SELECT * FROM ewma_out").collect()
            if r.user_id != 9
        }
        batch_df = spark.createDataFrame(b0 + b1, schema)
        want = {
            r.event_id: r.ewma
            for r in ewma(
                batch_df, ["user_id"], ["tstamp", "event_id"], "value"
            ).collect()
        }
        assert got == want and len(got) == 5


class TestStreamingZscore:
    def test_streaming_equals_batch_per_row(self, spark, tmp_path):
        """Streaming rolling z-score (functions/timeseries.
        rolling_zscore_stream): per-row equality with the batch operator,
        with one user's window straddling the micro-batch boundary."""
        from proxima_platform_spark.functions.timeseries import (
            rolling_zscore,
            rolling_zscore_stream,
        )

        src = str(tmp_path / "zs_src")
        schema = "user_id long, event_id long, tstamp timestamp, value double"
        b0 = [(1, i, ts(1000 + i * 100), 10.0 + (i % 7) * 0.5) for i in range(8)]
        b1 = [(1, 8 + i, ts(2000 + i * 100), 12.0 + i) for i in range(6)]
        b1[-1] = (1, 13, ts(2500), 400.0)  # outlier once warmed up
        spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src}/f0")
        time.sleep(0.05)
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f1")
        time.sleep(0.05)
        spark.createDataFrame(
            [(9, 99, ts(60_000), 0.0)], schema
        ).coalesce(1).write.parquet(f"{src}/f2")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        out = rolling_zscore_stream(stream, watermark_delay="0 seconds")
        q = (
            out.writeStream.format("memory").queryName("zs_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            r.event_id: (r.n_obs, r.zscore)
            for r in spark.sql("SELECT * FROM zs_out").collect()
            if r.user_id != 9
        }
        batch_df = spark.createDataFrame(b0 + b1, schema)
        want = {
            r.event_id: (r.n_obs, r.zscore)
            for r in rolling_zscore(
                batch_df, ["user_id"], ["tstamp", "event_id"], "value"
            ).collect()
        }
        assert got == want and len(got) == 14
        assert got[13][1] is not None and got[13][1] > 2  # outlier flagged


class TestContinuousHeavyHitters:
    def test_superset_guarantee_and_exactness_when_wide(self, spark, tmp_path):
        """Maintained CMS + candidate set (streaming/sketch_stream.
        ContinuousHeavyHitters): after any batch sequence, hitters() must
        contain EVERY key whose true running count >= T (no false
        negatives — including keys that cross T mid-stream via
        accumulation), and with a wide grid it equals the exact set."""
        from proxima_platform_spark.functions.sketch import cms_build
        from proxima_platform_spark.streaming.sketch_stream import (
            ContinuousHeavyHitters,
        )

        schema = "k string"
        batches = [
            ["a"] * 4 + ["b"] * 2,
            ["a"] * 3 + ["c"] * 5,       # a crosses T=7 here (4+3)
            ["c"] * 3 + ["d"] * 1,       # c crosses T=7 here (5+3)
        ]
        hh = ContinuousHeavyHitters(
            spark, str(tmp_path / "hh"), key_cols=["k"], threshold=7,
            width=2048, depth=4, compact_every=2,
        )
        for i, rows in enumerate(batches):
            hh.update(spark.createDataFrame([(r,) for r in rows], schema), i)

        got = {r.k: r.freq_est for r in hh.hitters().collect()}
        from collections import Counter

        exact = Counter(r for b in batches for r in b)
        true_hitters = {k for k, n in exact.items() if n >= 7}
        assert true_hitters <= set(got)          # superset guarantee
        assert set(got) == true_hitters          # wide grid → no impostors
        for k in got:
            assert got[k] >= exact[k]            # estimates never undercount

        # the maintained sketch == the batch sketch of the union
        full = spark.createDataFrame(
            [(r,) for b in batches for r in b], schema
        )
        want = dict(
            cms_build(full, ["k"], width=2048, depth=4).collect()[0].cells
        )
        m = hh._manifest()
        merged = {
            r.cell: r.n
            for r in hh._merged_cells(
                ([m["base"]] if m["base"] else []) + m["deltas"]
            ).collect()
        }
        assert merged == want
        # compaction ran (compact_every=2) — deltas folded into a base
        assert m["base"] is not None


class TestContinuousDistinct:
    def test_streaming_registers_equal_batch_build(self, spark, tmp_path):
        """Maintained HLL (streaming/sketch_stream.ContinuousDistinct):
        after any batch sequence — including an overlapping re-delivery of
        old KEYS (not a replayed batch_id) and a compaction — the merged
        registers equal the batch hll_build over the union, hence the
        estimate equals the batch estimate exactly."""
        from proxima_platform_spark.functions.sketch import (
            hll_build,
            hll_estimate,
        )
        from proxima_platform_spark.streaming.sketch_stream import (
            ContinuousDistinct,
        )

        schema = "k long"
        batches = [
            list(range(0, 400)),
            list(range(300, 800)),   # overlaps the first batch
            list(range(700, 900)),
        ]
        cd = ContinuousDistinct(
            spark, str(tmp_path / "hll"), key_cols=["k"], b=8, compact_every=2
        )
        for i, ks in enumerate(batches):
            cd.update(spark.createDataFrame([(k,) for k in ks], schema), i)

        full = spark.createDataFrame(
            [(k,) for b in batches for k in b], schema
        )
        want = {
            (r.bucket, r.rho)
            for r in hll_build(full, ["k"], b=8).collect()
        }
        got = {(r.bucket, r.rho) for r in cd.registers().collect()}
        assert got == want
        [es] = cd.estimate().collect()
        [eb] = hll_estimate(hll_build(full, ["k"], b=8), b=8).collect()
        assert es.est_distinct == eb.est_distinct
        assert abs(es.est_distinct - 900) / 900 < 0.26
        # compaction ran (compact_every=2)
        assert cd._manifest()["base"] is not None

    def test_replayed_batch_id_is_noop(self, spark, tmp_path):
        from proxima_platform_spark.streaming.sketch_stream import (
            ContinuousDistinct,
        )

        cd = ContinuousDistinct(
            spark, str(tmp_path / "hll2"), key_cols=["k"], b=8
        )
        df = spark.createDataFrame([(i,) for i in range(100)], "k long")
        cd.update(df, 0)
        before = {(r.bucket, r.rho) for r in cd.registers().collect()}
        v_before = cd._manifest()["version"]
        cd.update(df, 0)  # at-least-once replay: must not append a delta
        assert cd._manifest()["version"] == v_before
        assert {(r.bucket, r.rho) for r in cd.registers().collect()} == before


class TestContinuousSnapshotAgg:
    def _batch(self, spark, rows):
        from proxima_platform_spark.changelog import to_changelog

        df = spark.createDataFrame(
            rows,
            "key string, attribute string, stamp_ms long, value double, op string",
        ).select(
            "key", "attribute",
            F.timestamp_millis(F.col("stamp_ms")).alias("tsc"),
            "value", "op",
            F.monotonically_increasing_id().alias("seq"),
        )
        return to_changelog(
            df, entity="e", key="key", attribute="attribute", stamp="tsc",
            value=F.encode(F.col("value").cast("string"), "UTF-8"),
            seq_id="seq",
            delete=F.col("op") == "delete",
            delete_wildcard=F.col("op") == "delete_wildcard",
        )

    def test_maintained_agg_equals_batch_recompute(self, spark, tmp_path):
        """Retraction-correct streaming aggregate maintainer
        (streaming/ivm_stream.ContinuousSnapshotAgg): after every batch —
        through updates, deletes, a wildcard tombstone, and a compaction
        — current() is BIT-equal to the batch snapshot aggregate of the
        union so far (decimal accumulation, operators/ivm.py)."""
        from proxima_platform_spark.changelog import snapshot
        from proxima_platform_spark.operators.ivm import cell_contributions
        from proxima_platform_spark.streaming.ivm_stream import (
            ContinuousSnapshotAgg,
        )

        val = F.decode(F.col("value"), "UTF-8").cast("decimal(18,2)")
        batches = [
            [("u1", "a", 100, 1.00, "upsert"), ("u2", "a", 110, 2.25, "upsert"),
             ("u1", "m.x", 120, 3.00, "upsert")],
            [("u1", "a", 200, 5.00, "upsert"),          # update: retract 1.00
             ("u2", "a", 210, 0.00, "delete"),          # delete: retract 2.25
             ("u3", "b", 220, 7.50, "upsert")],
            [("u1", "m.*", 300, 0.00, "delete_wildcard"),  # prefix retract
             ("u3", "b", 310, 8.00, "upsert")],
            [("u1", "m.y", 400, 9.00, "upsert")],       # post-tombstone write
        ]
        agg = ContinuousSnapshotAgg(
            spark, str(tmp_path / "csa"),
            group_cols=["attribute"], value=val, compact_every=2,
        )
        union_rows = []
        for i, rows in enumerate(batches):
            union_rows += rows
            agg.update(self._batch(spark, rows), i)
            got = {
                (r.attribute, r.n_cells, r.total)
                for r in agg.current().collect()
            }
            want = {
                (r.attribute, r.n_cells, r.total)
                for r in cell_contributions(
                    snapshot(self._batch(spark, union_rows)), val, ["attribute"]
                ).collect()
            }
            assert got == want, f"batch {i}: {got} != {want}"
        # compaction ran and folded generations
        assert agg._manifest()["base"] is not None

    def test_replay_is_noop_and_state_consistent(self, spark, tmp_path):
        from proxima_platform_spark.streaming.ivm_stream import (
            ContinuousSnapshotAgg,
        )

        val = F.decode(F.col("value"), "UTF-8").cast("decimal(18,2)")
        agg = ContinuousSnapshotAgg(
            spark, str(tmp_path / "csa2"), group_cols=["attribute"], value=val
        )
        b0 = self._batch(spark, [("u1", "a", 100, 4.00, "upsert")])
        agg.update(b0, 0)
        before = {(r.attribute, r.n_cells, r.total) for r in agg.current().collect()}
        v = agg._manifest()["version"]
        agg.update(b0, 0)  # at-least-once replay
        assert agg._manifest()["version"] == v
        assert {
            (r.attribute, r.n_cells, r.total) for r in agg.current().collect()
        } == before


class TestStreamingAttribution:
    def test_streaming_credit_equals_batch_window(self, spark, tmp_path):
        """Streaming last-touch attribution (functions/timeseries.
        attribution_stream): per-conversion credit must equal the batch
        carry-forward window, including a touch in one micro-batch
        crediting a purchase in the next, and '(direct)' before any
        touch."""
        from proxima_platform_spark.functions.timeseries import attribution_stream

        src = str(tmp_path / "attr_src")
        schema = "user_id long, event_id long, event_type string, tstamp timestamp"
        b0 = [
            (1, 0, "purchase", ts(500)),   # before any touch → (direct)
            (1, 1, "click", ts(1000)),
            (2, 2, "view", ts(900)),
        ]
        b1 = [
            (1, 3, "purchase", ts(2000)),  # credited to b0's click
            (2, 4, "click", ts(1500)),
            (2, 5, "purchase", ts(1800)),  # click overrides older view
        ]
        spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src}/f0")
        time.sleep(0.05)
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f1")
        time.sleep(0.05)
        spark.createDataFrame(
            [(9, 99, "x", ts(60_000))], schema
        ).coalesce(1).write.parquet(f"{src}/f2")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        out = attribution_stream(stream, watermark_delay="0 seconds")
        q = (
            out.writeStream.format("memory").queryName("attr_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            r.event_id: r.channel
            for r in spark.sql("SELECT * FROM attr_out").collect()
            if r.user_id != 9
        }
        assert got == {0: "(direct)", 3: "click", 5: "click"}


class TestStreamingTwa:
    def test_last_emission_equals_batch(self, spark, tmp_path):
        """Streaming TWA (functions/timeseries.twa_stream) is continuously
        maintained: after each event it emits the day's TWA as if the day
        ended now, so the LAST emission per (user, day) must equal the batch
        time_weighted_average value — including across a micro-batch
        boundary splitting one user's day."""
        from proxima_platform_spark.functions.timeseries import (
            time_weighted_average,
            twa_stream,
        )

        day0 = 1_700_000_000_000 - (1_700_000_000_000 % 86_400_000)
        src = str(tmp_path / "twa_src")
        schema = "user_id long, event_id long, tstamp timestamp, value double"
        b0 = [
            (1, 0, ts(day0 + 1_000), 10.0),
            (1, 1, ts(day0 + 7_200_000), 20.0),
            (2, 2, ts(day0 + 3_600_000), 5.5),
        ]
        b1 = [
            (1, 3, ts(day0 + 50_000_000), 40.0),   # continues u1's day
            (2, 4, ts(day0 + 86_000_000), 7.25),
            (1, 5, ts(day0 + 86_400_000 + 10_000), 3.0),  # next day
        ]
        spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src}/f0")
        time.sleep(0.05)
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f1")
        time.sleep(0.05)
        spark.createDataFrame(
            [(9, 99, ts(day0 + 10 * 86_400_000), 0.0)], schema
        ).coalesce(1).write.parquet(f"{src}/f2")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        out = twa_stream(stream, watermark_delay="0 seconds")
        q = (
            out.writeStream.format("memory").queryName("twa_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        emitted = [
            r for r in spark.sql("SELECT * FROM twa_out").collect()
            if r.user_id != 9
        ]
        assert len(emitted) == 6  # one emission per event
        best = {}
        for r in emitted:  # last emission = highest event_id here (stamps
            k = (r.user_id, r.day_ms)  # increase with event_id per key)
            if k not in best or r.event_id > best[k].event_id:
                best[k] = r
        last = {k: r.twa for k, r in best.items()}
        batch_df = spark.createDataFrame(b0 + b1, schema).withColumn(
            "ts_ms", F.expr("unix_millis(tstamp)")
        )
        want = {
            (r.user_id, r.day_ms): r.twa
            for r in time_weighted_average(batch_df, ["user_id"]).collect()
        }
        assert last == want and len(want) == 3


class TestStreamingFuzzyDecontaminate:
    def test_union_over_batches_equals_batch(self, spark, tmp_path):
        """Per-micro-batch fuzzy decontamination against a static eval set
        is EXACT: verdicts are per-document, so the union over batches must
        equal the batch operator on the full corpus."""
        from proxima_platform_spark.functions.dedup import (
            fuzzy_contaminated_doc_ids,
            fuzzy_decontaminate_stream,
        )

        base = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"
        )
        eval_rows = [(0, base), (1, "one two three four five six seven")]
        corpus_batches = [
            [(10, base + " extra"), (11, "totally unrelated words here")],
            [(12, "one two three four five six seven eight"), (13, base)],
        ]
        schema = "doc_id long, text string"
        eval_df = spark.createDataFrame(eval_rows, schema)
        src = str(tmp_path / "fuzzy-src")
        for i, rows in enumerate(corpus_batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                f"{src}/f{i}"
            )
            time.sleep(0.05)

        collected = []

        def sink(df, batch_id):
            collected.extend(tuple(r) for r in df.collect())

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            fuzzy_decontaminate_stream(
                stream, eval_df, sink, threshold=0.5, n=3, num_hashes=8
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        all_rows = [r for rows in corpus_batches for r in rows]
        want = {
            tuple(r)
            for r in fuzzy_contaminated_doc_ids(
                spark.createDataFrame(all_rows, schema),
                eval_df,
                threshold=0.5,
                n=3,
                num_hashes=8,
            ).collect()
        }
        assert set(collected) == want
        # non-vacuity: the near-dup corpus docs must actually be flagged
        assert {r[0] for r in collected} >= {10, 12, 13}


class TestStreamingAsofJoin:
    def test_stream_matches_batch_row_for_row(self, spark, tmp_path):
        """Streaming as-of join (operators/asof.asof_join_stream) is a
        drop-in twin of the batch operator: every left event must carry the
        same right values as asof_join, including a right update in one
        micro-batch enriching a left event in the next, an equal-stamp tie
        (right visible, non-strict), and a left event before any right
        (nulls)."""
        from proxima_platform_spark.operators.asof import asof_join, asof_join_stream

        src = str(tmp_path / "asof_src")
        schema = (
            "side int, user_id long, event_id long, stamp timestamp, "
            "price double, note string"
        )
        # side=1 left events, side=0 right updates, mixed in arrival order
        b0 = [
            (1, 1, 0, ts(500), None, None),       # before any right → nulls
            (0, 1, 100, ts(1_000), 10.0, "a"),
            (1, 1, 1, ts(1_000), None, None),     # equal-stamp tie → sees "a"
            (0, 2, 101, ts(900), 5.0, "x"),
        ]
        b1 = [
            (1, 1, 2, ts(2_000), None, None),     # cross-batch carry → "a"
            (0, 1, 102, ts(2_500), 20.0, "b"),
            (1, 2, 3, ts(9_000), None, None),     # tolerance-expired lookback
            (1, 1, 4, ts(3_000), None, None),     # sees "b"
        ]
        sentinel = [(1, 9, 99, ts(60_000), None, None)]
        for i, rows in enumerate([b0, b1, sentinel]):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f{i}")
            time.sleep(0.05)

        def split(df):
            left = df.where(F.col("side") == 1).select("user_id", "event_id", "stamp")
            right = df.where(F.col("side") == 0).select("user_id", "stamp", "price", "note")
            return left, right

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        sl, sr = split(stream)
        out = asof_join_stream(
            sl, sr, key="user_id", tolerance_ms=5_000, watermark_delay="0 seconds"
        )
        q = (
            out.writeStream.format("memory").queryName("asof_out")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            r.event_id: (r.right_price, r.right_note)
            for r in spark.sql("SELECT * FROM asof_out").collect()
            if r.user_id != 9
        }

        bl, br = split(spark.createDataFrame(b0 + b1, schema))
        want = {
            r.event_id: (r.right_price, r.right_note)
            for r in asof_join(
                bl, br, key="user_id", left_stamp="stamp",
                right_stamp="stamp", tolerance_ms=5_000,
            ).collect()
        }
        assert got == want and len(want) == 5
        # non-vacuity: the tie, carry, null, and tolerance cases each bite
        assert want[0] == (None, None)
        assert want[1] == (10.0, "a")
        assert want[2] == (10.0, "a")
        assert want[4] == (20.0, "b")
        assert want[3] == (None, None)  # 9000 - 900 > 5000ms tolerance


class TestStreamingPrepModelGate:
    def test_model_gate_forwards_to_stream(self, spark, tmp_path):
        """model_quality_min forwards through pretraining_prep_stream: each
        micro-batch manifest equals the batch form with the same gate."""
        from proxima_platform_spark.functions.prep import (
            pretraining_prep,
            pretraining_prep_stream,
        )

        good = (
            "the quick brown fox jumps over the lazy dog and keeps running "
            "through the quiet field toward the river bank every morning"
        )
        junk = "$$$ " * 30
        src = str(tmp_path / "prep-gate-src")
        schema = "doc_id long, ts timestamp, text string"
        rows = [(1, ts(1000), good), (2, ts(1100), junk)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f0")

        collected = {}

        def sink(manifest, batch_id):
            collected[batch_id] = {tuple(r) for r in manifest.collect()}

        stream = spark.readStream.schema(schema).parquet(f"{src}/f*")
        q = (
            pretraining_prep_stream(
                stream, sink, budget=64, n_shards=2,
                quality_min=0.0, dup_word_max=1.0, model_quality_min=0.5,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        want = {
            tuple(r)
            for r in pretraining_prep(
                spark.createDataFrame(rows, schema),
                budget=64, n_shards=2,
                quality_min=0.0, dup_word_max=1.0, model_quality_min=0.5,
            ).collect()
        }
        assert collected[0] == want and len(want) > 0



class TestContinuousAnnIndex:
    def test_maintained_index_matches_batch_lsh(self, spark, tmp_path):
        """Index maintained over micro-batches answers exactly like the
        batch LSH path on the union: same candidate buckets (the Python
        query-hash mirrors the Arrow integer projection), same exact
        cosine ranking. Includes a replayed batch_id (no double insert)
        and enough generations to force compaction."""
        import numpy as np

        from proxima_platform_spark.functions.similarity import (
            sign_lsh_buckets_arrow,
        )
        from proxima_platform_spark.streaming.ann_stream import (
            ContinuousAnnIndex,
            _query_buckets,
        )

        rng = np.random.RandomState(17)
        all_rows = [
            (i, [float(x) for x in rng.randn(8)]) for i in range(120)
        ]
        schema = "vec_id long, embedding array<double>"
        idx = ContinuousAnnIndex(
            spark, str(tmp_path / "ann_idx"),
            num_planes=4, num_tables=2, compact_every=2,
        )
        batches = [all_rows[:40], all_rows[40:80], all_rows[80:]]
        for bid, rows in enumerate(batches):
            idx.update(spark.createDataFrame(rows, schema), batch_id=bid)
        # replay of batch 2 must no-op (at-least-once discipline)
        idx.update(spark.createDataFrame(batches[2], schema), batch_id=2)
        # compaction ran (compact_every=2) and the manifest is consistent
        m = idx._manifest()
        assert m["base"] is not None and m["max_batch_id"] == 2

        qvec = [float(x) for x in rng.randn(8)]
        got = [(r.id, r.cosine) for r in idx.query_df(qvec, k=5).collect()]

        # batch oracle: bucket the union with the same Arrow stage, take
        # ids landing in the query's buckets, rank by exact cosine
        full = spark.createDataFrame(all_rows, schema)
        staged = sign_lsh_buckets_arrow(
            full.select(F.col("vec_id"), F.col("embedding").alias("__v")),
            vec_col="__v", num_planes=4, num_tables=2,
        ).collect()
        qb = _query_buckets(qvec, num_planes=4, num_tables=2)
        cand = {
            r["vec_id"] for r in staged
            if r["__b0"] == qb[0][0] or r["__b1"] == qb[1][0]
        }
        assert cand, "fixture must produce candidates"
        vecs = dict(all_rows)

        def cos(a, b):
            import math
            d = sum(x * y for x, y in zip(a, b))
            return d / (
                math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
            )

        want = sorted(
            ((i, round(cos(vecs[i], qvec), 6)) for i in cand),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        assert got == want

        # multi-probe query path (r10): probes=1 is exactly the base
        # query; more probes only widen the candidate set — results are
        # a superset ranked the same way, and the probe set matches the
        # python flip rule (smallest-|projection| planes first)
        got1 = {r.id for r in idx.query_df(qvec, k=100, probes=1).collect()}
        got3 = {r.id for r in idx.query_df(qvec, k=100, probes=3).collect()}
        assert got1 <= got3
        qb3 = _query_buckets(qvec, num_planes=4, num_tables=2, probes=3)
        cand3 = {
            r["vec_id"] for r in staged
            if r["__b0"] in qb3[0] or r["__b1"] in qb3[1]
        }
        assert got3 == set(
            i for i, _ in sorted(
                ((i, round(cos(vecs[i], qvec), 6)) for i in cand3),
                key=lambda t: (-t[1], t[0]),
            )[:100]
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="probes"):
            idx.query_df(qvec, probes=0)

    def test_foreachbatch_wiring(self, spark, tmp_path):
        """update() works directly as a writeStream.foreachBatch callback."""
        import numpy as np

        from proxima_platform_spark.streaming.ann_stream import ContinuousAnnIndex

        rng = np.random.RandomState(3)
        src = str(tmp_path / "ann_src")
        schema = "vec_id long, embedding array<double>"
        rows = [(i, [float(x) for x in rng.randn(4)]) for i in range(30)]
        spark.createDataFrame(rows[:15], schema).coalesce(1).write.parquet(f"{src}/f0")
        time.sleep(0.05)
        spark.createDataFrame(rows[15:], schema).coalesce(1).write.parquet(f"{src}/f1")

        idx = ContinuousAnnIndex(
            spark, str(tmp_path / "ann_idx2"), num_planes=3, num_tables=1,
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            stream.writeStream.foreachBatch(idx.update)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        out = idx.query_df(rows[0][1], k=3).collect()
        assert out and out[0].id == 0 and out[0].cosine == 1.0


class TestContinuousIndexGc:
    def test_orphan_generation_collected_on_next_compaction(self, spark, tmp_path):
        """A generation dir left by a crash between parquet writes and the
        manifest commit is garbage-collected by the next successful
        compaction instead of leaking forever — for every maintainer."""
        import os

        import numpy as np

        from proxima_platform_spark.streaming.ann_stream import ContinuousAnnIndex

        rng = np.random.RandomState(1)
        schema = "vec_id long, embedding array<double>"
        rows = [(i, [float(x) for x in rng.randn(4)]) for i in range(20)]
        idx = ContinuousAnnIndex(
            spark, str(tmp_path / "gc_idx"), num_planes=3, num_tables=1,
            compact_every=2,
        )
        view = CachedView(spark, str(tmp_path / "gc_view"), compact_every=2)
        cases = [
            (idx, lambda i: spark.createDataFrame(rows[5 * i:5 * i + 5], schema),
             lambda: idx.query_df(rows[1][1], k=1).collect()[0].id == 1),
            (view, lambda i: spark.createDataFrame(
                [element("user", "u1", "score", 1000 * (i + 1), str(i))],
                CHANGELOG_SCHEMA),
             lambda: bytes(view.get("u1", "score").value).decode() == "1"),
        ]
        for store, batch, live_reads in cases:
            store.update(batch(0), batch_id=0)
            # simulate the crash artifact: an orphan base dir no manifest knows
            orphan = f"{store.path}/base/g99"
            os.makedirs(orphan, exist_ok=True)
            with open(f"{orphan}/part-junk.parquet", "w") as f:
                f.write("x")
            store.update(batch(1), batch_id=1)  # compacts
            assert not os.path.exists(orphan), type(store).__name__
            assert live_reads(), type(store).__name__


class TestSemanticDedupStream:
    def test_new_vs_accepted_matches_python_model(self, spark, tmp_path):
        """Incremental embedding dedup online: per batch, a vector is
        dropped iff an ALREADY ACCEPTED vector shares an LSH bucket and
        clears the cosine threshold (first arrival wins across batches;
        within-batch pairs deliberately unchecked). Pinned against a
        Python model of exactly that spec."""
        import math

        import numpy as np

        from proxima_platform_spark.streaming.ann_stream import (
            ContinuousAnnIndex,
            _query_buckets,
            semantic_dedup_stream,
        )

        rng = np.random.RandomState(23)
        base_vecs = [rng.randn(6) for _ in range(12)]
        rows = []
        vid = 0
        for b in range(3):
            for v in base_vecs[b * 4:(b + 1) * 4]:
                rows.append((b, vid, [float(x) for x in v]))
                vid += 1
            # near-copies of earlier vectors → must be dropped in later batches
            if b > 0:
                for src in (0, 5):
                    v = np.asarray(base_vecs[src % len(base_vecs)]) * (1 + 1e-5)
                    rows.append((b, vid, [float(x) for x in v]))
                    vid += 1

        src_dir = str(tmp_path / "sds_src")
        schema = "vec_id long, embedding array<double>"
        for b in range(3):
            batch_rows = [(i, v) for (bb, i, v) in rows if bb == b]
            spark.createDataFrame(batch_rows, schema).coalesce(1).write.parquet(
                f"{src_dir}/f{b}"
            )
            time.sleep(0.05)

        idx = ContinuousAnnIndex(
            spark, str(tmp_path / "sds_idx"), num_planes=3, num_tables=2,
            compact_every=2,
        )
        collected = {}

        def sink(verdicts, batch_id):
            collected[batch_id] = {
                r.vec_id: (r.kept, r.nbr) for r in verdicts.collect()
            }

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src_dir}/f*")
        )
        q = (
            semantic_dedup_stream(stream, idx, sink, threshold=0.99)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        # python model over the same batch sequence; batches arrive in
        # mtime order = written order here
        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (
                math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
            )

        def buckets(v):
            return _query_buckets(v, num_planes=3, num_tables=2)

        accepted = {}
        want = {}
        for b in range(3):
            batch = [(i, v) for (bb, i, v) in rows if bb == b]
            verdicts = {}
            for i, v in batch:
                bs = buckets(v)
                hit = None
                for j, (vj, bj) in accepted.items():
                    if any(x == y for x, y in zip(bs, bj)) and cos(v, vj) > 0.99:
                        c = round(cos(v, vj), 6)
                        if hit is None or (-c, j) < (-hit[1], hit[0]):
                            hit = (j, c)
                verdicts[i] = (hit is None, hit[0] if hit else None)
            for i, v in batch:
                if verdicts[i][0]:
                    accepted[i] = (v, buckets(v))
            want[b] = verdicts

        got = {b: collected[b] for b in collected}
        assert got == want
        # non-vacuity: later batches must actually drop the near-copies
        dropped = [i for b in (1, 2) for i, (k, _) in want[b].items() if not k]
        assert len(dropped) >= 2


class TestStreamingCuration:
    def test_per_batch_summary_equals_batch_pipeline(self, spark, tmp_path):
        """VERDICT r06 #7: the gate -> span-dedup -> per-source summary
        chain runs per micro-batch via foreachBatch, and each batch's
        summary equals the batch curation_pipeline on the same slice
        (summaries are batch-local by design)."""
        from proxima_platform_spark.functions.prep import (
            curation_pipeline,
            curation_pipeline_stream,
        )

        clean = (
            "the quick brown fox jumps over the lazy dog and keeps running "
            "through the quiet field toward the river bank every morning "
            "while the sun rises slowly over the distant eastern hills"
        )
        spammy = ("buy now " * 12 + "limited offer " * 8).strip()
        junk = "!!! ### $$$ %%%"
        src = str(tmp_path / "curation-src")
        schema = "doc_id long, source string, text string"
        batches = [
            [(1, "srcA", clean), (2, "srcA", spammy), (3, "srcB", junk)],
            [(4, "srcB", clean + " " + clean), (5, "srcA", clean)],
        ]
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                f"{src}/f{i}"
            )
            time.sleep(0.05)

        collected: dict[int, set] = {}

        def sink(summary, batch_id):
            collected[batch_id] = {tuple(r) for r in summary.collect()}

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            curation_pipeline_stream(
                stream, sink, threshold=0.65, span_tokens=2
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        assert len(collected) == 2
        got = sorted(collected.values(), key=sorted)
        want = sorted(
            (
                {
                    tuple(r)
                    for r in curation_pipeline(
                        spark.createDataFrame(rows, schema),
                        threshold=0.65,
                        span_tokens=2,
                    ).collect()
                }
                for rows in batches
            ),
            key=sorted,
        )
        assert got == want
        # the gate and the span cutter both did real work somewhere
        all_rows = [r for s in collected.values() for r in s]
        assert sum(r[1] for r in all_rows) < sum(len(b) for b in batches)
        assert any(r[2] > 0 for r in all_rows)


class TestStreamingCcnet:
    def test_per_batch_summary_equals_batch_pipeline(self, spark, tmp_path):
        """VERDICT r10 #2: the CCNet chain (paragraph dedup -> NB lang-ID
        -> KN5 perplexity band -> per-(lang, bucket) summary) runs per
        micro-batch via foreachBatch against a FIXED pretrained lang
        model, and each batch's summary equals the batch ccnet_pipeline
        on the same slice (dedup scope and band thresholds are
        batch-local by design)."""
        from proxima_platform_spark.functions.prep import (
            ccnet_pipeline,
            ccnet_pipeline_stream,
        )

        # fixed labeled training corpus — two separable vocabularies
        train_rows = [
            (900 + i, "en", "the cat sat on the mat near the door today")
            for i in range(3)
        ] + [
            (950 + i, "fr", "le chat dort sur le tapis pres de la porte")
            for i in range(3)
        ]
        lang_train = spark.createDataFrame(
            train_rows, "doc_id long, lang string, text string"
        )

        boiler = "the cat sat on the mat"  # shared paragraph → dedup bites
        schema = "doc_id long, text string"
        batches = [
            [
                (1, boiler + "\nthe dog ran across the wide green field"),
                (2, boiler + "\nthe bird flew over the tall old tree"),
                (3, "le chat dort\nle chien court dans le grand jardin vert"),
                (4, "the cat sat on the mat near the door today again now"),
                (5, "le tapis est pres de la porte et le chat dort encore"),
                (6, "the mat and the door and the cat and the dog again"),
            ],
            [
                (7, boiler + "\nthe sun rose over the quiet eastern hills"),
                (8, "la porte est grande et le jardin est vert et calme"),
                (9, "the dog and the bird sat near the old tree today"),
                (10, "le chat et le chien dorment sur le tapis vert"),
            ],
        ]
        src = str(tmp_path / "ccnet-src")
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                f"{src}/f{i}"
            )
            time.sleep(0.05)

        collected: dict[int, set] = {}

        def sink(summary, batch_id):
            collected[batch_id] = {tuple(r) for r in summary.collect()}

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f*")
        )
        q = (
            ccnet_pipeline_stream(stream, lang_train, sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        assert len(collected) == 2
        got = sorted(collected.values(), key=sorted)
        want = sorted(
            (
                {
                    tuple(r)
                    for r in ccnet_pipeline(
                        spark.createDataFrame(rows, schema), lang_train
                    ).collect()
                }
                for rows in batches
            ),
            key=sorted,
        )
        assert got == want
        # non-vacuous: both languages predicted somewhere, and the band
        # split produced at least two distinct buckets in some batch
        langs = {r[0] for s in collected.values() for r in s}
        assert langs == {"en", "fr"}
        assert any(
            len({r[1] for r in s}) >= 2 for s in collected.values()
        )


class TestContinuousIcwsIndex:
    HEAVY = " ".join(["boiler"] * 50)

    def _batches(self):
        h = self.HEAVY
        return [
            [(1, h + " a1 a2 a3 a4 a5"),
             (6, "unrelated singleton words only here today")],
            [(2, h + " b1 b2 b3 b4 b5"),
             (3, "boiler c1 c2 c3 c4 c5 c6 c7 c8 c9")],
            # identical token multisets -> identical signatures: a
            # GUARANTEED within-batch pair
            [(4, h + " d1 d2 d3 d4 d5"),
             (5, "d5 d4 d3 d2 d1 " + h)],
        ]

    def test_accumulated_reports_equal_batch_operator(self, spark, tmp_path):
        """VERDICT r10 #3, exact twin with NO divergence case: after
        every batch, the accumulated pair reports equal
        icws_candidate_pairs over the prefix union — each pair reported
        once, when its later member arrives, including within-batch
        pairs. Band keys are a pure per-doc function, so batch and
        maintained banding share one expression path (icws_band_rows)."""
        from proxima_platform_spark.functions.dedup import (
            icws_candidate_pairs,
        )
        from proxima_platform_spark.streaming.icws_stream import (
            ContinuousIcwsIndex,
        )

        got = set()
        seen = set()

        def sink(pairs, batch_id):
            if batch_id in seen:
                return
            seen.add(batch_id)
            got.update((r.id_a, r.id_b) for r in pairs.collect())

        idx = ContinuousIcwsIndex(
            spark, str(tmp_path / "ii"),
            num_hashes=8, bands=2, sink=sink, compact_every=2,
        )
        prefix = []
        for bid, rows in enumerate(self._batches()):
            idx.ingest(
                spark.createDataFrame(rows, "doc_id long, text string"), bid
            )
            prefix += rows
            want = {
                (r.id_a, r.id_b)
                for r in icws_candidate_pairs(
                    spark.createDataFrame(
                        prefix, "doc_id long, text string"
                    ),
                    "doc_id", "text", num_hashes=8, bands=2,
                ).collect()
            }
            assert got == want, f"prefix divergence after batch {bid}"
        # non-vacuous: cross-batch heavy-token pairs and a within-batch
        # pair (4,5) both reported
        assert (1, 2) in got
        assert (4, 5) in got
        # the singleton-profile docs never pair with the heavy twins
        assert all(6 not in p and 3 not in p for p in got)
        assert idx._manifest()["base"] is not None  # compaction ran

    def test_replayed_batch_id_is_noop_on_index(self, spark, tmp_path):
        from proxima_platform_spark.streaming.icws_stream import (
            ContinuousIcwsIndex,
        )

        calls = []
        idx = ContinuousIcwsIndex(
            spark, str(tmp_path / "ii2"),
            num_hashes=8, bands=2,
            sink=lambda df, bid: calls.append(bid),
        )
        rows = self._batches()[0]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        idx.ingest(df, 0)
        before = sorted(map(tuple, idx.band_rows().collect()))
        idx.ingest(df, 0)  # replay: sink sees the duplicate batch_id
        # (and dedups); the index append no-ops
        assert calls == [0, 0]
        assert sorted(map(tuple, idx.band_rows().collect())) == before

    def test_bands_must_divide_hashes(self, spark, tmp_path):
        from proxima_platform_spark.streaming.icws_stream import (
            ContinuousIcwsIndex,
        )

        with pytest.raises(ValueError):
            ContinuousIcwsIndex(
                spark, str(tmp_path / "ii3"), num_hashes=8, bands=3
            )


class TestContinuousBandFamily:
    """The generic band-index family (streaming/band_stream.py): every
    BANDED batch dedup operator has an online twin sharing its banding
    stage. One exact-twin law, three instances (ICWS has its own class
    above); prefix equality after EVERY batch pins it per instance."""

    BATCHES = [
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (3, "wholly different words live in this document here now yes")],
        [(4, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
         (5, "other unrelated vocabulary entirely separate from anything")],
        [(6, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
    ]

    def _run(self, spark, tmp_path, make_index, batch_pairs):
        got, seen = set(), set()

        def sink(pairs, batch_id):
            if batch_id in seen:
                return
            seen.add(batch_id)
            got.update((r.id_a, r.id_b) for r in pairs.collect())

        idx = make_index(sink)
        prefix = []
        for bid, rows in enumerate(self.BATCHES):
            idx.ingest(
                spark.createDataFrame(rows, "doc_id long, text string"), bid
            )
            prefix += rows
            want = {
                (r.id_a, r.id_b)
                for r in batch_pairs(
                    spark.createDataFrame(prefix, "doc_id long, text string")
                ).collect()
            }
            assert got == want, f"prefix divergence after batch {bid}"
        # non-vacuous: the identical docs pair within-batch (1,2) and
        # cross-batch (1,6)
        assert (1, 2) in got and (1, 6) in got
        # replay no-op on the index
        before = sorted(map(tuple, idx.band_rows().collect()))
        idx.ingest(
            spark.createDataFrame(
                self.BATCHES[-1], "doc_id long, text string"
            ),
            len(self.BATCHES) - 1,
        )
        assert sorted(map(tuple, idx.band_rows().collect())) == before

    def test_oph_instance(self, spark, tmp_path):
        from proxima_platform_spark.functions.dedup import oph_candidate_pairs
        from proxima_platform_spark.streaming.band_stream import (
            ContinuousOphIndex,
        )

        self._run(
            spark, tmp_path,
            lambda sink: ContinuousOphIndex(
                spark, str(tmp_path / "oi"), num_bins=8, bands=4,
                sink=sink, compact_every=2,
            ),
            lambda df: oph_candidate_pairs(
                df, "doc_id", "text", num_bins=8, bands=4
            ),
        )

    def test_bbit_instance(self, spark, tmp_path):
        from proxima_platform_spark.functions.dedup import bbit_minhash_pairs
        from proxima_platform_spark.streaming.band_stream import (
            ContinuousBbitIndex,
        )

        self._run(
            spark, tmp_path,
            lambda sink: ContinuousBbitIndex(
                spark, str(tmp_path / "bi"), num_hashes=8, b=4, bands=2,
                sink=sink, compact_every=2,
            ),
            lambda df: bbit_minhash_pairs(
                df, "doc_id", "text", num_hashes=8, b=4, bands=2
            ),
        )

    def test_simhash_instance(self, spark, tmp_path):
        """The hamming-space member: pairs carry the exact hamming
        distance, so the twin equality covers the fingerprint, the
        pigeonhole chunk join, AND the hamming filter."""
        from proxima_platform_spark.functions.dedup import (
            simhash_candidate_pairs,
        )
        from proxima_platform_spark.streaming.band_stream import (
            ContinuousSimhashIndex,
        )

        got, seen = set(), set()

        def sink(pairs, batch_id):
            if batch_id in seen:
                return
            seen.add(batch_id)
            got.update((r.id_a, r.id_b, r.hamming) for r in pairs.collect())

        idx = ContinuousSimhashIndex(
            spark, str(tmp_path / "si"),
            hamming_threshold=3, chunks=4, sink=sink, compact_every=2,
        )
        prefix = []
        for bid, rows in enumerate(self.BATCHES):
            idx.ingest(
                spark.createDataFrame(rows, "doc_id long, text string"), bid
            )
            prefix += rows
            want = {
                (r.id_a, r.id_b, r.hamming)
                for r in simhash_candidate_pairs(
                    spark.createDataFrame(prefix, "doc_id long, text string"),
                    "doc_id", "text", hamming_threshold=3, chunks=4,
                ).collect()
            }
            assert got == want, f"prefix divergence after batch {bid}"
        # identical docs: hamming 0, within-batch and cross-batch
        assert (1, 2, 0) in got and (1, 6, 0) in got
        # replay no-op
        before = sorted(map(tuple, idx.band_rows().collect()))
        idx.ingest(
            spark.createDataFrame(
                self.BATCHES[-1], "doc_id long, text string"
            ),
            len(self.BATCHES) - 1,
        )
        assert sorted(map(tuple, idx.band_rows().collect())) == before

    def test_knob_guards(self, spark, tmp_path):
        from proxima_platform_spark.streaming.band_stream import (
            ContinuousBbitIndex,
            ContinuousOphIndex,
            ContinuousSimhashIndex,
        )

        with pytest.raises(ValueError):
            ContinuousOphIndex(spark, str(tmp_path / "g1"), num_bins=8,
                               bands=3)
        with pytest.raises(ValueError):
            ContinuousBbitIndex(spark, str(tmp_path / "g2"), num_hashes=8,
                                bands=3)
        with pytest.raises(ValueError):
            ContinuousSimhashIndex(spark, str(tmp_path / "g3"),
                                   hamming_threshold=4, chunks=4)


class TestMaintainedCcnetGate:
    def test_live_gate_equals_batch_models_on_union(self, spark, tmp_path):
        """The LIVE CCNet gate composed from the maintained models: lang
        prediction from ContinuousNaiveBayes (labeled batches folded in)
        and fluency from ContinuousKneserNey (reference-corpus batches
        folded in) must gate an incoming document set exactly as the
        batch models trained on the respective unions would — the
        cross-batch complement of the batch-local ccnet_pipeline_stream
        twin (each pinned equality composes, and this pins the
        COMPOSITION)."""
        from proxima_platform_spark.functions.classify import (
            naive_bayes_classify,
        )
        from proxima_platform_spark.functions.ranking import (
            kneser_ney5_scores,
        )
        from proxima_platform_spark.streaming.classify_stream import (
            ContinuousNaiveBayes,
        )
        from proxima_platform_spark.streaming.lm_stream import (
            ContinuousKneserNey,
        )

        label_batches = [
            [(900, "en", "the cat sat on the mat near the door"),
             (901, "fr", "le chat dort sur le tapis pres de la porte")],
            [(902, "en", "the dog ran across the field to the door"),
             (903, "fr", "le chien court dans le jardin vert calme")],
        ]
        corpus_batches = [
            [(800, "the cat sat on the mat near the door today"),
             (801, "the dog ran across the wide green field again")],
            [(802, "the cat sat on the mat near the old tree"),
             (803, "the bird flew over the tall old tree today")],
        ]
        nb = ContinuousNaiveBayes(spark, str(tmp_path / "nb"))
        lm = ContinuousKneserNey(spark, str(tmp_path / "lm"))
        for i, rows in enumerate(label_batches):
            nb.update(
                spark.createDataFrame(
                    rows, "doc_id long, lang string, text string"
                ),
                batch_id=i,
            )
        for i, rows in enumerate(corpus_batches):
            lm.update(
                spark.createDataFrame(rows, "doc_id long, text string"),
                batch_id=i,
            )

        incoming = spark.createDataFrame(
            [(1, "zz", "the cat sat on the mat near the door today"),
             (2, "zz", "the dog ran across the wide green field again"),
             (3, "zz", "le chat dort sur le tapis pres de la porte")],
            "doc_id long, lang string, text string",
        )
        # live gate: maintained prediction + maintained fluency
        pred = nb.classify(incoming).select("id", "pred")
        kn = lm.score(incoming.select("doc_id", "text"))
        live = sorted(
            tuple(r)
            for r in pred.join(
                kn.withColumnRenamed("doc_id", "id"), "id"
            ).collect()
        )
        # batch gate: the same models trained on the unions
        train = spark.createDataFrame(
            [r for b in label_batches for r in b],
            "doc_id long, lang string, text string",
        )
        corpus = spark.createDataFrame(
            [r for b in corpus_batches for r in b],
            "doc_id long, text string",
        )
        b_pred = naive_bayes_classify(train, incoming).select("id", "pred")
        # self-scoring contract: score incoming against the corpus by
        # counting corpus 5-grams, scoring incoming's observed ones
        from proxima_platform_spark.functions.ranking import (
            kn5_scores_from_counts,
        )
        from proxima_platform_spark.functions.dedup import (
            shingles_from_tokens,
            tokens,
        )
        from pyspark.sql import functions as F2

        W = [f"w{i}" for i in range(1, 6)]

        def grams(df):
            toks = df.select(
                F2.col("doc_id").alias("id"),
                tokens(F2.col("text")).alias("__t"),
            ).where(F2.size("__t") >= 5)
            return toks.select(
                "id",
                F2.explode(shingles_from_tokens(F2.col("__t"), 5)).alias("g"),
            ).select(
                "id",
                *[
                    F2.element_at(F2.split("g", " ", -1), i + 1).alias(W[i])
                    for i in range(5)
                ],
            )

        c5 = grams(corpus).groupBy(*W).agg(F2.count(F2.lit(1)).alias("c5"))
        b_kn = kn5_scores_from_counts(c5, grams(incoming), id_col="id")
        batch = sorted(
            tuple(r) for r in b_pred.join(b_kn, "id").collect()
        )
        assert live == batch
        # non-vacuous: the en docs score (their 5-grams are in the
        # maintained corpus), the fr doc drops out of the LM frame
        live_ids = {t[0] for t in live}
        assert {1, 2} <= live_ids and 3 not in live_ids
        preds = {t[0]: t[1] for t in live}
        assert preds[1] == "en" and preds[2] == "en"


class TestContinuousDsir:
    def _corpus(self, spark):
        target = spark.createDataFrame(
            [(i, "alpha beta gamma alpha beta") for i in range(20)],
            ["doc_id", "text"],
        )
        batches = [
            [(100 + i, "alpha beta gamma delta epsilon") for i in range(5)],
            [(200 + i, "delta epsilon zeta delta epsilon") for i in range(5)],
            [(300 + i, "alpha beta something else here") for i in range(5)],
        ]
        return target, batches

    def test_prequential_scores_and_count_equality(self, spark, tmp_path):
        """Each batch's sink delivery must equal the BATCH scorer run
        against ratios built from the prefix corpus (prequential twin),
        and the maintained bucket counts must equal the batch build over
        the union."""
        from proxima_platform_spark.functions.sampling import (
            dsir_bucket_counts,
            dsir_doc_log_weights,
            dsir_ratios_from_counts,
        )
        from proxima_platform_spark.streaming.dsir_stream import ContinuousDsir

        target, batches = self._corpus(spark)
        got = {}

        def sink(df, batch_id):
            got[batch_id] = sorted(map(tuple, df.collect()))

        cd = ContinuousDsir(
            spark, str(tmp_path / "dsir"), target,
            id_col="doc_id", text="text", buckets=64, sink=sink,
            compact_every=2,
        )
        schema = "doc_id long, text string"
        prefix_rows = []
        for i, rows in enumerate(batches):
            bdf = spark.createDataFrame(rows, schema)
            cd.update(bdf, i)
            # prequential twin: ratios from the PREFIX corpus only
            ct = dsir_bucket_counts(target, text="text", buckets=64, name="n_tgt")
            if prefix_rows:
                cr = dsir_bucket_counts(
                    spark.createDataFrame(prefix_rows, schema),
                    text="text", buckets=64, name="n_raw",
                )
            else:
                cr = spark.createDataFrame([], "b long, n_raw long")
            lr = dsir_ratios_from_counts(ct, cr, buckets=64)
            want = sorted(map(tuple, dsir_doc_log_weights(
                bdf, lr, id_col="doc_id", text="text", buckets=64
            ).collect()))
            assert got[i] == want, f"batch {i}"
            prefix_rows += rows

        # maintained counts == batch build over the union
        maintained = {
            r.b: r.n_raw for r in cd._raw_counts(cd._manifest()).collect()
        }
        union = spark.createDataFrame(prefix_rows, schema)
        want_counts = {
            r.b: r.n
            for r in dsir_bucket_counts(
                union, text="text", buckets=64, name="n"
            ).collect()
        }
        assert maintained == want_counts

    def test_replay_is_noop(self, spark, tmp_path):
        from proxima_platform_spark.streaming.dsir_stream import ContinuousDsir

        target, batches = self._corpus(spark)
        calls = []
        cd = ContinuousDsir(
            spark, str(tmp_path / "dsir2"), target,
            id_col="doc_id", text="text", buckets=64,
            sink=lambda df, bid: calls.append(bid),
        )
        schema = "doc_id long, text string"
        bdf = spark.createDataFrame(batches[0], schema)
        cd.update(bdf, 0)
        counts_before = sorted(
            map(tuple, cd._raw_counts(cd._manifest()).collect())
        )
        cd.update(bdf, 0)  # replay of a committed batch
        assert calls == [0]
        assert sorted(
            map(tuple, cd._raw_counts(cd._manifest()).collect())
        ) == counts_before


class TestContinuousDomainCap:
    CAP = 3

    def _batches(self, spark):
        # 3 batches over 2 registered domains with messy URLs; the cap
        # (3/domain) bites mid-stream so accepts span batch boundaries
        rows = [
            [(1, "http://www.Site0.com/a?utm_source=x"),
             (2, "https://site0.com:443/b"),
             (3, "http://news.site1.co.uk/a"),
             (4, "http://site0.com/c#frag")],
            [(5, "http://site0.com/d"),          # site0 quota exhausted here
             (6, "https://www.site1.co.uk/b"),
             (7, "http://site1.co.uk/c")],
            [(8, "http://site0.com/e"),          # all rejected: over cap
             (9, "http://site1.co.uk/d")],
        ]
        return [
            (i, [(doc_id, url) for doc_id, url in batch])
            for i, batch in enumerate(rows)
        ]

    def _reference(self, spark, all_rows):
        """Batch twin: row_number over (domain ORDER BY batch_id,
        sample_key(url), url) <= cap on the union — domain_cap_sample's
        quota rule with arrival order as the leading priority."""
        from pyspark.sql import Window, functions as F

        from proxima_platform_spark.functions.sampling import sample_key
        from proxima_platform_spark.functions.urls import (
            registered_domain,
            url_canonicalize,
            url_host,
        )

        df = spark.createDataFrame(
            all_rows, "batch_id long, doc_id long, url string"
        )
        staged = df.withColumn(
            "url_canon", url_canonicalize(F.col("url"))
        ).withColumn("domain", registered_domain(url_host(F.col("url_canon"))))
        w = Window.partitionBy("domain").orderBy(
            "batch_id", sample_key(F.col("url")), F.col("url")
        )
        return {
            r.doc_id
            for r in staged.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= self.CAP)
            .collect()
        }

    def test_streaming_verdicts_match_batch_union(self, spark, tmp_path):
        from proxima_platform_spark.streaming.domain_cap_stream import (
            ContinuousDomainCap,
        )

        got: dict[int, list] = {}

        def sink(df, batch_id):
            got[batch_id] = sorted(map(tuple, df.collect()))

        cap = ContinuousDomainCap(
            spark, str(tmp_path / "dcap"), cap=self.CAP, sink=sink,
            compact_every=2,
        )
        all_rows = []
        for bid, rows in self._batches(spark):
            bdf = spark.createDataFrame(rows, "doc_id long, url string")
            cap.update(bdf, bid)
            all_rows += [(bid, d, u) for d, u in rows]

        accepted = {
            r[0] for rows in got.values() for r in rows if r[3]
        }
        assert accepted == self._reference(spark, all_rows)
        # the cap actually bites (non-vacuous): some rows rejected
        rejected = {r[0] for rows in got.values() for r in rows if not r[3]}
        assert rejected
        # maintained counts == accepted per domain
        counts = {r.domain: r.n_acc for r in cap.accepted_counts().collect()}
        assert sum(counts.values()) == len(accepted)
        assert all(v <= self.CAP for v in counts.values())

    def test_replay_is_noop_and_first_arrival_wins(self, spark, tmp_path):
        from proxima_platform_spark.streaming.domain_cap_stream import (
            ContinuousDomainCap,
        )

        calls = []
        cap = ContinuousDomainCap(
            spark, str(tmp_path / "dcap2"), cap=self.CAP,
            sink=lambda df, bid: calls.append(bid),
        )
        batches = self._batches(spark)
        bdf0 = spark.createDataFrame(batches[0][1], "doc_id long, url string")
        cap.update(bdf0, 0)
        before = sorted(map(tuple, cap.accepted_counts().collect()))
        cap.update(bdf0, 0)  # replay of a committed batch: full no-op
        assert calls == [0]
        assert sorted(map(tuple, cap.accepted_counts().collect())) == before
        # first-arrival-wins: a later batch cannot displace an accept even
        # with a smaller sampling key — batch 1's site0 rows all reject
        got = {}
        cap.sink = lambda df, bid: got.update({bid: df.collect()})
        bdf1 = spark.createDataFrame(batches[1][1], "doc_id long, url string")
        cap.update(bdf1, 1)
        site0_later = [
            r for r in got[1] if r.domain == "site0.com"
        ]
        assert site0_later and all(not r.accepted for r in site0_later)

    def test_rejects_non_posix_path(self, spark, tmp_path):
        """Every maintainer rejects URI paths (its manifest is driver-local
        file I/O) and creates nothing locally."""
        import pytest

        from proxima_platform_spark.streaming.domain_cap_stream import (
            ContinuousDomainCap,
        )
        from proxima_platform_spark.streaming.rollup_stream import (
            ContinuousRollup,
        )

        makers = [
            lambda p: ContinuousDomainCap(spark, p),
            lambda p: CachedView(spark, p),
            lambda p: ContinuousRollup(
                spark, p, ts_ms_col="ts_ms", keys=["k"], value_col="v",
                base_level_ms=1000,
            ),
        ]
        cwd = os.getcwd()
        os.chdir(tmp_path)
        try:
            for make in makers:
                for uri in ("s3a://bucket/state", "hdfs://nn/x"):
                    with pytest.raises(ValueError, match="POSIX"):
                        make(uri)
            assert os.listdir(tmp_path) == []
        finally:
            os.chdir(cwd)


class TestContinuousQuantileSketch:
    def test_streaming_sketch_equals_batch_build(self, spark, tmp_path):
        """Maintained bottom-k quantile sketch: after overlapping batches
        and a compaction, the merged sketch equals the batch build over
        the union ROW-FOR-ROW (the exact merge law), hence streaming and
        batch quantile estimates are identical."""
        from proxima_platform_spark.functions.sketch import (
            quantile_sketch_build,
            quantile_sketch_estimate,
        )
        from proxima_platform_spark.streaming.sketch_stream import (
            ContinuousQuantileSketch,
        )

        schema = "g string, rid long, v double"

        def rows(lo, hi):
            return [
                ("a" if i % 2 else "b", i, float((i * 31) % 97))
                for i in range(lo, hi)
            ]

        batches = [rows(0, 300), rows(200, 600), rows(550, 700)]
        cq = ContinuousQuantileSketch(
            spark,
            str(tmp_path / "qsk"),
            value_col="v",
            tag_cols=["rid"],
            group_cols=["g"],
            k=64,
            compact_every=2,
        )
        for i, b in enumerate(batches):
            cq.update(spark.createDataFrame(b, schema), i)

        union = {r for b in batches for r in b}
        full = spark.createDataFrame(sorted(union), schema)
        want = sorted(
            map(
                tuple,
                quantile_sketch_build(
                    full, "v", ["rid"], group_cols=["g"], k=64
                ).collect(),
            )
        )
        got = sorted(map(tuple, cq.sketch().collect()))
        assert got == want
        wq = sorted(
            map(
                tuple,
                quantile_sketch_estimate(
                    quantile_sketch_build(
                        full, "v", ["rid"], group_cols=["g"], k=64
                    ),
                    [0.5, 0.9],
                ).collect(),
            )
        )
        gq = sorted(map(tuple, cq.quantiles([0.5, 0.9]).collect()))
        assert gq == wq
        assert cq._manifest()["base"] is not None  # compaction ran

    def test_replayed_batch_id_is_noop(self, spark, tmp_path):
        from proxima_platform_spark.streaming.sketch_stream import (
            ContinuousQuantileSketch,
        )

        cq = ContinuousQuantileSketch(
            spark,
            str(tmp_path / "qsk2"),
            value_col="v",
            tag_cols=["rid"],
            group_cols=[],
            k=16,
        )
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "rid long, v double"
        )
        cq.update(df, 0)
        before = sorted(map(tuple, cq.sketch().collect()))
        v_before = cq._manifest()["version"]
        cq.update(df, 0)
        assert cq._manifest()["version"] == v_before
        assert sorted(map(tuple, cq.sketch().collect())) == before


class TestContinuousWinnowIndex:
    SHARED = "alpha beta gamma delta epsilon zeta eta theta"

    def _batches(self):
        s = self.SHARED
        return [
            [(0, f"one two three {s} four five"),
             (1, "completely different words in this document here")],
            [(2, f"nine ten eleven {s} twelve thirteen"),
             (3, f"prefix words {s} and a suffix tail here")],
            [(4, "nothing in common with anyone at all truly")],
        ]

    def test_accumulated_reports_equal_batch_operator(self, spark, tmp_path):
        """Exact twin (unsaturated regime): the union of per-batch pair
        reports — each pair reported once, when its later member arrives,
        including within-batch pairs — equals winnow_overlap over the
        union of all documents, shared counts and all."""
        from proxima_platform_spark.functions.text import winnow_overlap
        from proxima_platform_spark.streaming.winnow_stream import (
            ContinuousWinnowIndex,
        )

        got = set()
        seen = set()

        def sink(pairs, batch_id):
            if batch_id in seen:
                return
            seen.add(batch_id)
            got.update((r.doc_a, r.doc_b, r.shared) for r in pairs.collect())

        idx = ContinuousWinnowIndex(
            spark, str(tmp_path / "wi"),
            w=4, min_shared=1, max_docs_per_fp=64,
            sink=sink, compact_every=2,
        )
        all_rows = []
        for bid, rows in enumerate(self._batches()):
            idx.ingest(
                spark.createDataFrame(rows, "doc_id long, text string"), bid
            )
            all_rows += rows

        full = spark.createDataFrame(all_rows, "doc_id long, text string")
        want = {
            (r.doc_a, r.doc_b, r.shared)
            for r in winnow_overlap(
                full, "doc_id", "text", w=4, min_shared=1, max_docs_per_fp=64
            ).collect()
        }
        assert got == want
        # non-vacuous: the copied passage produced cross-batch pairs
        assert any(a == 0 and b in (2, 3) for a, b, _ in got)
        # within-batch pair (2,3) reported in ITS batch
        assert any(a == 2 and b == 3 for a, b, _ in got)
        assert idx._manifest()["base"] is not None  # compaction ran

    def test_replayed_batch_id_is_noop_on_index(self, spark, tmp_path):
        from proxima_platform_spark.streaming.winnow_stream import (
            ContinuousWinnowIndex,
        )

        calls = []
        idx = ContinuousWinnowIndex(
            spark, str(tmp_path / "wi2"), min_shared=1,
            sink=lambda df, bid: calls.append(bid),
        )
        rows = self._batches()[0]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        idx.ingest(df, 0)
        before = sorted(map(tuple, idx.fingerprints().collect()))
        idx.ingest(df, 0)  # replay: sink sees the duplicate batch_id
        # (and dedups); the index append no-ops
        assert calls == [0, 0]
        assert sorted(map(tuple, idx.fingerprints().collect())) == before

    def test_saturated_fingerprint_stops_contributing(self, spark, tmp_path):
        """Documented cap divergence: once a fingerprint's doc count
        crosses max_docs_per_fp, it contributes to no NEW pairs — a later
        doc sharing only the boilerplate passage reports nothing."""
        from proxima_platform_spark.streaming.winnow_stream import (
            ContinuousWinnowIndex,
        )

        header = "licensed under the apache license version two point zero"
        got = {}
        idx = ContinuousWinnowIndex(
            spark, str(tmp_path / "wi3"),
            w=4, min_shared=1, max_docs_per_fp=3,
            sink=lambda df, bid: got.update({bid: df.collect()}),
        )
        # batch 0: three docs with the header → fp count hits the cap
        b0 = [(i, f"{header} unique{i} filler{i} words{i} extra{i}")
              for i in range(3)]
        idx.ingest(spark.createDataFrame(b0, "doc_id long, text string"), 0)
        # batch 1: a fourth header-only doc → count now 4 > cap → no pair
        b1 = [(10, f"{header} totally fresh trailing content words")]
        idx.ingest(spark.createDataFrame(b1, "doc_id long, text string"), 1)
        assert got[1] == []


class TestContinuousContainmentIndex:
    """Online asymmetric-containment maintainer: accumulated directional
    reports == batch containment_pairs over the union (unsaturated),
    replay idempotence, and the documented cap divergence."""

    QUOTE = "alpha beta gamma delta epsilon zeta eta theta"

    def _batches(self):
        q = self.QUOTE
        return [
            # batch 0: the short quoted doc + an unrelated one
            [(0, q),
             (1, "completely different words in this document here today")],
            # batch 1: a long doc containing the quote whole (containment
            # of 0 in 2 ≈ 1, but 2 in 0 is small) + a same-batch pair
            [(2, f"long wrapper starts here {q} and keeps going with much "
                 f"more trailing content after the quoted block ends"),
             (3, f"another wrapper also embedding {q} plus its own tail "
                 f"of extra words")],
            [(4, "nothing in common with anyone at all truly never")],
        ]

    def test_accumulated_reports_equal_batch_operator(self, spark, tmp_path):
        """Exact twin (unsaturated): the union of per-batch directional
        reports — each ordered pair reported once, when its later member
        arrives, including within-batch pairs — equals containment_pairs
        over the union, shared/size/containment and all."""
        from proxima_platform_spark.functions.dedup import containment_pairs
        from proxima_platform_spark.streaming.containment_stream import (
            ContinuousContainmentIndex,
        )

        got = set()
        seen = set()

        def sink(pairs, batch_id):
            if batch_id in seen:
                return
            seen.add(batch_id)
            got.update(
                (r.doc_a, r.doc_b, r.shared, r.size_a, r.containment)
                for r in pairs.collect()
            )

        idx = ContinuousContainmentIndex(
            spark, str(tmp_path / "ci"),
            n=4, threshold=0.2, max_docs_per_shingle=64,
            sink=sink, compact_every=2,
        )
        all_rows = []
        for bid, rows in enumerate(self._batches()):
            idx.ingest(
                spark.createDataFrame(rows, "doc_id long, text string"), bid
            )
            all_rows += rows

        full = spark.createDataFrame(all_rows, "doc_id long, text string")
        want = {
            (r.doc_a, r.doc_b, r.shared, r.size_a, r.containment)
            for r in containment_pairs(
                full, n=4, threshold=0.2, max_docs_per_shingle=64
            ).collect()
        }
        assert got == want
        # non-vacuous and DIRECTIONAL: the quote doc 0 is contained in
        # the later wrappers (containment = 1.0 as doc_a)...
        assert any(
            a == 0 and b in (2, 3) and c == 1.0 for a, b, _, _, c in got
        )
        # ...including the within-batch wrapper pair, reported in ITS batch
        assert any(a == 2 and b == 3 for a, b, _, _, c in got)
        assert idx._manifest()["base"] is not None  # compaction ran

    def test_replayed_batch_id_is_noop_on_index(self, spark, tmp_path):
        from proxima_platform_spark.streaming.containment_stream import (
            ContinuousContainmentIndex,
        )

        calls = []
        idx = ContinuousContainmentIndex(
            spark, str(tmp_path / "ci2"), threshold=0.2,
            sink=lambda df, bid: calls.append(bid),
        )
        rows = self._batches()[0]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        idx.ingest(df, 0)
        before = sorted(map(tuple, idx.shingles().collect()))
        idx.ingest(df, 0)  # replay: sink sees the duplicate batch_id
        # (and dedups); the index append no-ops
        assert calls == [0, 0]
        assert sorted(map(tuple, idx.shingles().collect())) == before

    def test_saturated_shingle_stops_contributing(self, spark, tmp_path):
        """Documented cap divergence: once a shingle's doc count crosses
        max_docs_per_shingle, it contributes to no NEW pairs — a later
        doc sharing only the boilerplate reports nothing."""
        from proxima_platform_spark.streaming.containment_stream import (
            ContinuousContainmentIndex,
        )

        header = "licensed under the apache license version two point zero"
        got = {}
        idx = ContinuousContainmentIndex(
            spark, str(tmp_path / "ci3"),
            n=4, threshold=0.1, max_docs_per_shingle=3,
            sink=lambda df, bid: got.update({bid: df.collect()}),
        )
        b0 = [(i, f"{header} unique{i} filler{i} words{i} extra{i}")
              for i in range(3)]
        idx.ingest(spark.createDataFrame(b0, "doc_id long, text string"), 0)
        b1 = [(10, f"{header} totally fresh trailing content words")]
        idx.ingest(spark.createDataFrame(b1, "doc_id long, text string"), 1)
        assert got[1] == []

    def test_validation(self, spark, tmp_path):
        from proxima_platform_spark.streaming.containment_stream import (
            ContinuousContainmentIndex,
        )

        with pytest.raises(ValueError, match="threshold"):
            ContinuousContainmentIndex(
                spark, str(tmp_path / "ci4"), threshold=0.0
            )
        with pytest.raises(ValueError, match="n must"):
            ContinuousContainmentIndex(
                spark, str(tmp_path / "ci5"), n=0
            )


class TestContinuousEvalMetrics:
    """Online retrieval-eval maintainer: metrics over the maintained
    labeled set == batch eval trio over the union of everything
    ingested, across any batch split."""

    def _rows(self, lo, hi):
        # deterministic scores with ties and graded relevance 0..3
        return [
            ("q1" if i % 2 else "q2", i, float((i * 13) % 50) / 10.0,
             (i * 7) % 4)
            for i in range(lo, hi)
        ]

    def test_union_equality_across_batches(self, spark, tmp_path):
        from proxima_platform_spark.functions.evalmetrics import (
            ndcg_at_k,
            precision_at_k,
            rank_auc,
        )
        from proxima_platform_spark.streaming.evalmetrics_stream import (
            ContinuousEvalMetrics,
        )

        schema = "q string, id long, score double, rel int"
        batches = [self._rows(0, 40), self._rows(30, 90), self._rows(85, 120)]
        cm = ContinuousEvalMetrics(
            spark,
            str(tmp_path / "evm"),
            id_col="id",
            score_col="score",
            rel_col="rel",
            group_cols=["q"],
            pos_threshold=1,
            compact_every=2,
        )
        for i, b in enumerate(batches):
            cm.update(spark.createDataFrame(b, schema), i)

        union = {r for b in batches for r in b}
        full = spark.createDataFrame(sorted(union), schema).withColumn(
            "__label", (F.col("rel") >= 1).cast("int")
        )
        # maintained state IS the deduplicated union
        assert sorted(map(tuple, cm.labeled().collect())) == sorted(union)
        # the whole trio matches the batch functions on the union
        assert cm.auc().collect() == rank_auc(
            full, score="score", label="__label"
        ).collect()
        assert sorted(map(tuple, cm.precision([5, 10]).collect())) == sorted(
            map(
                tuple,
                precision_at_k(
                    full, [5, 10], id_col="id", score="score",
                    label="__label",
                ).collect(),
            )
        )
        assert sorted(map(tuple, cm.ndcg([5, 10]).collect())) == sorted(
            map(
                tuple,
                ndcg_at_k(
                    full.drop("__label"), [5, 10], id_col="id",
                    score="score", rel="rel", group_cols=["q"],
                ).collect(),
            )
        )

    def test_replay_is_idempotent(self, spark, tmp_path):
        from proxima_platform_spark.streaming.evalmetrics_stream import (
            ContinuousEvalMetrics,
        )

        schema = "q string, id long, score double, rel int"
        cm = ContinuousEvalMetrics(
            spark, str(tmp_path / "evm2"), group_cols=["q"]
        )
        b0 = spark.createDataFrame(self._rows(0, 30), schema)
        cm.update(b0, 0)
        want = cm.auc().collect()
        cm.update(b0, 0)  # replayed batch_id: closed by the guard
        assert cm.auc().collect() == want
        # re-delivered ROWS under a new batch_id collapse in the dedup
        cm.update(b0, 1)
        assert cm.auc().collect() == want


class TestContinuousVocabGrowth:
    def test_curve_equals_batch_on_union(self, spark, tmp_path):
        from proxima_platform_spark.functions.text import vocab_growth
        from proxima_platform_spark.streaming.vocab_stream import (
            ContinuousVocabGrowth,
        )

        schema = "doc_id long, text string"
        rows = [
            (i, " ".join(f"w{(i * j) % 37}" for j in range(1, 8)))
            for i in range(120)
        ]
        batches = [rows[0:50], rows[40:90], rows[85:120]]  # overlapping
        cv = ContinuousVocabGrowth(
            spark, str(tmp_path / "vg"), every=25, compact_every=2
        )
        for i, b in enumerate(batches):
            cv.update(spark.createDataFrame(b, schema), i)
        union = sorted({r for b in batches for r in b})
        want = sorted(
            map(
                tuple,
                vocab_growth(
                    spark.createDataFrame(union, schema),
                    "doc_id",
                    "text",
                    every=25,
                ).collect(),
            )
        )
        got = sorted(map(tuple, cv.curve().collect()))
        assert got == want

    def test_replay_and_redelivery_idempotent(self, spark, tmp_path):
        from proxima_platform_spark.streaming.vocab_stream import (
            ContinuousVocabGrowth,
        )

        schema = "doc_id long, text string"
        cv = ContinuousVocabGrowth(spark, str(tmp_path / "vg2"), every=10)
        b0 = spark.createDataFrame(
            [(i, f"alpha beta w{i}") for i in range(30)], schema
        )
        cv.update(b0, 0)
        want = sorted(map(tuple, cv.curve().collect()))
        cv.update(b0, 0)  # replayed batch_id: guard closes it
        assert sorted(map(tuple, cv.curve().collect())) == want
        cv.update(b0, 1)  # re-delivered docs: whole-row dedup
        assert sorted(map(tuple, cv.curve().collect())) == want

    def test_every_validation(self, spark, tmp_path):
        import pytest

        from proxima_platform_spark.streaming.vocab_stream import (
            ContinuousVocabGrowth,
        )

        with pytest.raises(ValueError, match="every"):
            ContinuousVocabGrowth(spark, str(tmp_path / "vg3"), every=0)


class TestContinuousWordpieceVocab:
    """r13 maintainer (VERDICT r12 'Next round' #5): the WordPiece
    vocabulary maintained as summed base+delta substring-count
    generations. Count-carrying member: batches are DISJOINT corpus
    slices (new-batch-id redelivery is a contract violation, like the
    winnow shared counts); same-batch-id replay is a no-op."""

    def _rows(self, lo, hi):
        return [
            (i, f"inter internal net work working w{i % 13}x")
            for i in range(lo, hi)
        ]

    def test_vocab_equals_batch_on_union(self, spark, tmp_path):
        from proxima_platform_spark.functions.wordpiece import (
            wordpiece_substring_counts,
            wordpiece_vocab,
        )
        from proxima_platform_spark.streaming.wordpiece_stream import (
            ContinuousWordpieceVocab,
        )

        schema = "doc_id long, text string"
        batches = [self._rows(0, 40), self._rows(40, 70), self._rows(70, 100)]
        cw = ContinuousWordpieceVocab(
            spark, str(tmp_path / "wpv"), vocab_size=25, max_piece_len=4,
            compact_every=2,  # compaction fires mid-run: invariance covered
        )
        for i, b in enumerate(batches):
            cw.update(spark.createDataFrame(b, schema), i)
        union = spark.createDataFrame(
            [r for b in batches for r in b], schema
        )
        want_vocab = {
            r.piece
            for r in wordpiece_vocab(
                union, vocab_size=25, max_piece_len=4
            ).collect()
        }
        got_vocab = {r.piece for r in cw.vocab().collect()}
        assert got_vocab == want_vocab
        # the sufficient statistic matches too (counts, not just rank)
        want_counts = {
            (r.piece, r.cnt)
            for r in wordpiece_substring_counts(
                union, max_piece_len=4
            ).collect()
        }
        got_counts = {(r.piece, r.cnt) for r in cw.counts().collect()}
        assert got_counts == want_counts

    def test_replay_same_batch_id_is_noop(self, spark, tmp_path):
        from proxima_platform_spark.streaming.wordpiece_stream import (
            ContinuousWordpieceVocab,
        )

        schema = "doc_id long, text string"
        cw = ContinuousWordpieceVocab(
            spark, str(tmp_path / "wpv2"), vocab_size=10, max_piece_len=4
        )
        b0 = spark.createDataFrame(self._rows(0, 30), schema)
        cw.update(b0, 0)
        want = sorted((r.piece, r.cnt) for r in cw.counts().collect())
        cw.update(b0, 0)  # replayed batch_id: guard closes it
        assert sorted((r.piece, r.cnt) for r in cw.counts().collect()) == want
        # a NEW batch id with the same rows is a CONTRACT VIOLATION for a
        # count-carrying maintainer — it must double-count (documented),
        # which is exactly why the source must deliver disjoint slices
        cw.update(b0, 1)
        doubled = sorted((r.piece, r.cnt) for r in cw.counts().collect())
        assert doubled == [(p, c * 2) for p, c in want]

    def test_empty_and_guards(self, spark, tmp_path):
        import pytest

        from proxima_platform_spark.streaming.wordpiece_stream import (
            ContinuousWordpieceVocab,
        )

        cw = ContinuousWordpieceVocab(spark, str(tmp_path / "wpv3"))
        assert cw.vocab() is None and cw.counts() is None
        with pytest.raises(ValueError, match="vocab_size"):
            ContinuousWordpieceVocab(
                spark, str(tmp_path / "wpv4"), vocab_size=-1
            )
        with pytest.raises(ValueError, match="max_piece_len"):
            ContinuousWordpieceVocab(
                spark, str(tmp_path / "wpv5"), max_piece_len=0
            )


class TestContinuousDomainJsd:
    """r13 maintainer: per-source JSD maintained as summed base+delta
    (s, w, cs) generations. Count-carrying member: disjoint slices
    required; same-batch-id replay is a no-op."""

    def _rows(self, lo, hi):
        srcs = ["web", "books", "code"]
        return [
            (i, srcs[i % 3], f"alpha beta w{i % 11} gamma{i % 5} delta")
            for i in range(lo, hi)
        ]

    def test_jsd_equals_batch_on_union(self, spark, tmp_path):
        from proxima_platform_spark.functions.text import source_jsd
        from proxima_platform_spark.streaming.jsd_stream import (
            ContinuousDomainJsd,
        )

        schema = "doc_id long, source string, text string"
        batches = [self._rows(0, 40), self._rows(40, 75), self._rows(75, 120)]
        cj = ContinuousDomainJsd(
            spark, str(tmp_path / "jsd"),
            compact_every=2,  # compaction fires mid-run: invariance covered
        )
        for i, b in enumerate(batches):
            cj.update(spark.createDataFrame(b, schema), i)
        union = spark.createDataFrame([r for b in batches for r in b], schema)
        want = sorted(map(tuple, source_jsd(union).collect()))
        got = sorted(map(tuple, cj.jsd().collect()))
        assert got == want
        assert len(got) == 3 and all(j > 0 for _, _, j in got)  # non-vacuous

    def test_replay_same_batch_id_is_noop(self, spark, tmp_path):
        from proxima_platform_spark.streaming.jsd_stream import (
            ContinuousDomainJsd,
        )

        schema = "doc_id long, source string, text string"
        cj = ContinuousDomainJsd(spark, str(tmp_path / "jsd2"))
        b0 = spark.createDataFrame(self._rows(0, 30), schema)
        cj.update(b0, 0)
        want = sorted((r.s, r.w, r.cs) for r in cj.counts().collect())
        cj.update(b0, 0)  # replayed batch_id: guard closes it
        assert sorted((r.s, r.w, r.cs) for r in cj.counts().collect()) == want
        assert cj.jsd() is not None

    def test_empty_state(self, spark, tmp_path):
        from proxima_platform_spark.streaming.jsd_stream import (
            ContinuousDomainJsd,
        )

        cj = ContinuousDomainJsd(spark, str(tmp_path / "jsd3"))
        assert cj.jsd() is None and cj.counts() is None


class TestWatermarkIdlePolicies:
    """The reference's idle-policy SPI implemented for the driver-owned
    watermark path (foreachBatch maintainers, latecomer split): idle
    sources either hold, shift by processing time, or track skewed
    processing time."""

    def test_not_progressing_holds_global(self):
        from proxima_platform_spark.streaming.watermarks import (
            BoundedOutOfOrdernessEstimator,
            MinimalPartitionWatermark,
            NotProgressingIdlePolicy,
        )

        mp = MinimalPartitionWatermark({
            0: BoundedOutOfOrdernessEstimator(
                idle_policy=NotProgressingIdlePolicy()
            ),
            1: BoundedOutOfOrdernessEstimator(
                idle_policy=NotProgressingIdlePolicy()
            ),
        })
        mp.update(0, 1_000)
        mp.update(1, 500)
        assert mp.watermark() == 500
        # partition 1 goes quiet: its watermark holds at 500 and keeps
        # pinning the global min no matter how often idle fires
        for _ in range(5):
            mp.idle(1)
        mp.update(0, 9_000)
        assert mp.partition_watermark(0) == 9_000
        assert mp.watermark() == 500

    def test_processing_time_shifting_advances_while_idle(self):
        from proxima_platform_spark.streaming.watermarks import (
            BoundedOutOfOrdernessEstimator,
            ProcessingTimeShiftingIdlePolicy,
        )

        clock = [10_000]
        est = BoundedOutOfOrdernessEstimator(
            idle_policy=ProcessingTimeShiftingIdlePolicy(
                time_fn=lambda: clock[0]
            )
        )
        est.update(1_000)
        assert est.watermark() == 1_000
        est.idle()            # anchors at the current watermark
        clock[0] += 300
        est.idle()            # +300ms wall -> +300ms watermark
        clock[0] += 200
        est.idle()
        assert est.watermark() == 1_500
        # data returns: the shift disarms and event time rules again
        est.update(1_600)
        assert est.watermark() == 1_600
        clock[0] += 10_000
        est.idle()            # re-anchors at 1_600, no jump
        assert est.watermark() == 1_600

    def test_skewed_processing_time_follows_clock(self):
        from proxima_platform_spark.streaming.watermarks import (
            BoundedOutOfOrdernessEstimator,
            SkewedProcessingTimeIdlePolicy,
        )

        clock = [50_000]
        est = BoundedOutOfOrdernessEstimator(
            idle_policy=SkewedProcessingTimeIdlePolicy(
                skew_ms=100, time_fn=lambda: clock[0]
            )
        )
        est.update(1_000)
        est.idle()
        assert est.watermark() == 49_900  # now - skew
        clock[0] += 1_000
        est.idle()
        assert est.watermark() == 50_900

    def test_watermark_is_monotonic(self):
        from proxima_platform_spark.streaming.watermarks import (
            BoundedOutOfOrdernessEstimator,
        )

        est = BoundedOutOfOrdernessEstimator(max_out_of_orderness_ms=100)
        est.update(2_000)
        assert est.watermark() == 1_900
        est.update(1_000)  # out-of-order element never lowers the mark
        assert est.watermark() == 1_900

    def test_idle_feeds_latecomer_split(self, spark):
        """End-to-end with the engine piece that consumes the tracker:
        a shifting idle policy advances the driver-owned watermark past
        buffered stamps, and split_latecomers then routes them late."""
        from proxima_platform_spark.streaming.stateful import (
            split_latecomers,
        )
        from proxima_platform_spark.streaming.watermarks import (
            BoundedOutOfOrdernessEstimator,
            MinimalPartitionWatermark,
            ProcessingTimeShiftingIdlePolicy,
        )

        clock = [100_000]
        mp = MinimalPartitionWatermark({
            0: BoundedOutOfOrdernessEstimator(
                idle_policy=ProcessingTimeShiftingIdlePolicy(
                    time_fn=lambda: clock[0]
                )
            ),
        })
        mp.update(0, 5_000)
        batch = spark.createDataFrame(
            [(4_000, "a"), (6_000, "b")], "stamp long, v string"
        )
        on_time, late = split_latecomers(batch, stamp="stamp",
                                         watermark=mp.watermark())
        assert late.count() == 1  # 4000 < 5000
        mp.idle(0)
        clock[0] += 2_000
        mp.idle(0)  # watermark shifts 5000 -> 7000 while idle
        on_time, late = split_latecomers(batch, stamp="stamp",
                                         watermark=mp.watermark())
        assert late.count() == 2  # both now late

    def test_shifted_watermark_trails_by_fixed_duration(self, spark):
        from proxima_platform_spark.streaming.stateful import (
            split_latecomers,
        )
        from proxima_platform_spark.streaming.watermarks import (
            MIN_WATERMARK,
            BoundedOutOfOrdernessEstimator,
            MinimalPartitionWatermark,
            ShiftedWatermark,
        )

        mp = MinimalPartitionWatermark(
            {0: BoundedOutOfOrdernessEstimator()}
        )
        shifted = ShiftedWatermark(mp, shift_ms=1_000)
        assert shifted.watermark() == MIN_WATERMARK  # no data: stays MIN
        mp.update(0, 5_000)
        assert mp.watermark() == 5_000
        assert shifted.watermark() == 4_000
        # the extra slack is exactly what downstream consumers see
        batch = spark.createDataFrame(
            [(4_500, "x")], "stamp long, v string"
        )
        _, late_raw = split_latecomers(batch, stamp="stamp",
                                       watermark=mp.watermark())
        _, late_shift = split_latecomers(batch, stamp="stamp",
                                         watermark=shifted.watermark())
        assert late_raw.count() == 1 and late_shift.count() == 0
        import pytest

        with pytest.raises(ValueError, match="shift_ms"):
            ShiftedWatermark(mp, shift_ms=-1)


class TestContinuousNaiveBayes:
    TRAIN = [
        (1, "spark spark shuffle", "tech"),
        (2, "spark join agg", "tech"),
        (3, "goal match score", "sport"),
        (4, "match match goal", "sport"),
        (5, "window agg shuffle", "tech"),
        (6, "score goal referee", "sport"),
    ]
    TEST = [
        (10, "spark shuffle shuffle", "tech"),
        (11, "goal goal match", "sport"),
        (12, "unseen words only", "tech"),
    ]

    def _maintainer(self, spark, tmp_path, **kw):
        from proxima_platform_spark.streaming.classify_stream import (
            ContinuousNaiveBayes,
        )

        return ContinuousNaiveBayes(spark, str(tmp_path / "nb"), **kw)

    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )

    def test_union_equality_across_batches(self, spark, tmp_path):
        from proxima_platform_spark.functions.classify import (
            naive_bayes_classify,
        )

        nb = self._maintainer(spark, tmp_path, compact_every=2)
        # three batches, middle one triggers a compaction
        for i, lo in enumerate([(0, 2), (2, 4), (4, 6)]):
            nb.update(self._df(spark, self.TRAIN[lo[0]:lo[1]]), batch_id=i)
        test = self._df(spark, self.TEST)
        got = sorted(
            tuple(r) for r in nb.classify(test).collect()
        )
        want = sorted(
            tuple(r)
            for r in naive_bayes_classify(
                self._df(spark, self.TRAIN), test
            ).collect()
        )
        assert got == want

    def test_replayed_batch_is_noop(self, spark, tmp_path):
        nb = self._maintainer(spark, tmp_path)
        b = self._df(spark, self.TRAIN[:3])
        nb.update(b, batch_id=0)
        before = sorted(tuple(r) for r in nb.counts()[0].collect())
        nb.update(b, batch_id=0)  # replay: must not double-count
        after = sorted(tuple(r) for r in nb.counts()[0].collect())
        assert before == after

    def test_topk_pruned_classify_equals_batch_pruned_union(
        self, spark, tmp_path
    ):
        """Pruned counts are not additive, so the maintainer prunes the
        MERGED model at classify time: the result must equal the batch
        classifier trained on the union with the same knob."""
        from proxima_platform_spark.functions.classify import (
            naive_bayes_classify,
        )

        nb = self._maintainer(spark, tmp_path, compact_every=2)
        for i, lo in enumerate([(0, 2), (2, 4), (4, 6)]):
            nb.update(self._df(spark, self.TRAIN[lo[0]:lo[1]]), batch_id=i)
        test = self._df(spark, self.TEST)
        got = sorted(
            tuple(r)
            for r in nb.classify(test, top_k_features=2).collect()
        )
        want = sorted(
            tuple(r)
            for r in naive_bayes_classify(
                self._df(spark, self.TRAIN), test, top_k_features=2
            ).collect()
        )
        assert got == want
        # non-vacuous: the pruned model really differs from the raw one
        raw = sorted(tuple(r) for r in nb.classify(test).collect())
        assert raw != got

    def test_empty_state_returns_none(self, spark, tmp_path):
        nb = self._maintainer(spark, tmp_path)
        assert nb.classify(self._df(spark, self.TEST)) is None


class TestContinuousKneserNey:
    DOCS = [
        (1, "a b c d e a b c d e a b"),
        (2, "a b c d f a b c d f g h"),
        (3, "x y z w v u t s r q p o"),
        (4, "a b c d e f g h i j k l"),
        (5, "short doc"),  # < 5 tokens: contributes nothing
        (6, "b c d e a b c d e a b c"),
    ]

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_union_equality_across_batches(self, spark, tmp_path):
        from proxima_platform_spark.functions.ranking import kneser_ney5_scores
        from proxima_platform_spark.streaming.lm_stream import (
            ContinuousKneserNey,
        )

        lm = ContinuousKneserNey(spark, str(tmp_path / "kn"), compact_every=2)
        for i, sl in enumerate([(0, 2), (2, 4), (4, 6)]):
            lm.update(self._df(spark, self.DOCS[sl[0]:sl[1]]), batch_id=i)
        union = self._df(spark, self.DOCS)
        got = sorted(tuple(r) for r in lm.score(union).collect())
        want = sorted(tuple(r) for r in kneser_ney5_scores(union).collect())
        assert got == want

    def test_modified_union_equality(self, spark, tmp_path):
        from proxima_platform_spark.functions.ranking import kneser_ney5_scores
        from proxima_platform_spark.streaming.lm_stream import (
            ContinuousKneserNey,
        )

        lm = ContinuousKneserNey(spark, str(tmp_path / "kn"))
        for i, sl in enumerate([(0, 3), (3, 6)]):
            lm.update(self._df(spark, self.DOCS[sl[0]:sl[1]]), batch_id=i)
        union = self._df(spark, self.DOCS)
        got = sorted(
            tuple(r) for r in lm.score(union, modified=True).collect()
        )
        want = sorted(
            tuple(r)
            for r in kneser_ney5_scores(union, modified=True).collect()
        )
        assert got == want

    def test_replayed_batch_is_noop(self, spark, tmp_path):
        from proxima_platform_spark.streaming.lm_stream import (
            ContinuousKneserNey,
        )

        lm = ContinuousKneserNey(spark, str(tmp_path / "kn"))
        b = self._df(spark, self.DOCS[:3])
        lm.update(b, batch_id=0)
        before = sorted(tuple(r) for r in lm.counts().collect())
        lm.update(b, batch_id=0)
        after = sorted(tuple(r) for r in lm.counts().collect())
        assert before == after

    def test_empty_state_returns_none(self, spark, tmp_path):
        from proxima_platform_spark.streaming.lm_stream import (
            ContinuousKneserNey,
        )

        lm = ContinuousKneserNey(spark, str(tmp_path / "kn"))
        assert lm.score(self._df(spark, self.DOCS)) is None


class TestContinuousCcnet:
    """Cross-batch maintained CCNet (streaming/ccnet_stream.py): the
    summary recomputed from maintained state must equal batch
    ccnet_pipeline on the union of every ingested batch — EXACT equality
    (union-wide thresholds, cross-batch dedup scope), the property
    ccnet_pipeline_stream trades away per batch."""

    LANG_TRAIN = [
        (900, "en", "the cat sat on the mat near the door"),
        (901, "fr", "le chat dort sur le tapis pres de la porte"),
        (902, "en", "the dog ran across the field to the door"),
        (903, "fr", "le chien court dans le jardin vert calme"),
    ]
    # duplicate paragraphs cross batch boundaries; doc 4 is too short to
    # score; doc 5 is entirely duplicates (drops from the corpus)
    BATCHES = [
        [(1, "the cat sat on the mat\nthe dog ran across the field today"),
         (2, "the cat sat on the mat\nthe bird flew over the tree house")],
        [(3, "the dog ran across the field today\nthe fish swam under the old bridge quickly"),
         (4, "tiny")],
        [(5, "the bird flew over the tree house\nthe cat sat on the mat"),
         (6, "le chat dort sur le tapis pres de la porte aujourd hui\nle chien court dans le jardin")],
    ]

    def _build(self, spark, tmp_path):
        from proxima_platform_spark.streaming.ccnet_stream import (
            ContinuousCcnet,
        )
        from proxima_platform_spark.streaming.classify_stream import (
            ContinuousNaiveBayes,
        )
        from proxima_platform_spark.streaming.lm_stream import (
            ContinuousKneserNey,
        )

        nb = ContinuousNaiveBayes(spark, str(tmp_path / "nb"))
        nb.update(
            spark.createDataFrame(
                self.LANG_TRAIN, "doc_id long, lang string, text string"
            ),
            batch_id=0,
        )
        kn = ContinuousKneserNey(spark, str(tmp_path / "kn"))
        cc = ContinuousCcnet(
            spark, str(tmp_path / "ccnet"), nb=nb, kn=kn,
        )
        return cc

    def _batch_summary(self, spark):
        from proxima_platform_spark.functions.prep import ccnet_pipeline

        union = spark.createDataFrame(
            [r for b in self.BATCHES for r in b], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            self.LANG_TRAIN, "doc_id long, lang string, text string"
        )
        return sorted(
            tuple(r) for r in ccnet_pipeline(union, train).collect()
        )

    def test_summary_equals_batch_on_union(self, spark, tmp_path):
        cc = self._build(spark, tmp_path)
        for i, rows in enumerate(self.BATCHES):
            cc.ingest(
                spark.createDataFrame(rows, "doc_id long, text string"),
                batch_id=i,
            )
        got = sorted(tuple(r) for r in cc.summary().collect())
        assert got == self._batch_summary(spark)
        assert len(got) > 0

    def test_clean_corpus_equals_batch_dedup(self, spark, tmp_path):
        from proxima_platform_spark.functions.dedup import dedup_paragraphs
        from pyspark.sql import functions as F2

        cc = self._build(spark, tmp_path)
        for i, rows in enumerate(self.BATCHES):
            cc.ingest(
                spark.createDataFrame(rows, "doc_id long, text string"),
                batch_id=i,
            )
        union = spark.createDataFrame(
            [r for b in self.BATCHES for r in b], "doc_id long, text string"
        )
        want = sorted(
            tuple(r)
            for r in dedup_paragraphs(union)
            .where(F2.col("n_kept") > 0)
            .select("doc_id", F2.col("text_dedup").alias("text"))
            .collect()
        )
        got = sorted(tuple(r) for r in cc.clean_corpus().collect())
        assert got == want

    def test_replayed_batch_is_noop(self, spark, tmp_path):
        cc = self._build(spark, tmp_path)
        for i, rows in enumerate(self.BATCHES):
            cc.ingest(
                spark.createDataFrame(rows, "doc_id long, text string"),
                batch_id=i,
            )
        before = sorted(tuple(r) for r in cc.summary().collect())
        # replay the last committed batch id: both the ccnet winner-table
        # manifest and the propagated KN gate guard must make it a no-op
        cc.ingest(
            spark.createDataFrame(
                self.BATCHES[-1], "doc_id long, text string"
            ),
            batch_id=len(self.BATCHES) - 1,
        )
        assert sorted(tuple(r) for r in cc.summary().collect()) == before

    def test_single_ingest_equals_batch_pipeline(self, spark, tmp_path):
        # degenerate maintained case: everything in one batch must also
        # reproduce the batch pipeline (no cross-batch machinery engaged)
        cc = self._build(spark, tmp_path)
        union = spark.createDataFrame(
            [r for b in self.BATCHES for r in b], "doc_id long, text string"
        )
        cc.ingest(union, batch_id=0)
        got = sorted(tuple(r) for r in cc.summary().collect())
        assert got == self._batch_summary(spark)

    def test_compaction_preserves_summary(self, spark, tmp_path):
        from proxima_platform_spark.streaming.ccnet_stream import (
            ContinuousCcnet,
        )
        from proxima_platform_spark.streaming.classify_stream import (
            ContinuousNaiveBayes,
        )
        from proxima_platform_spark.streaming.lm_stream import (
            ContinuousKneserNey,
        )

        nb = ContinuousNaiveBayes(spark, str(tmp_path / "nb"))
        nb.update(
            spark.createDataFrame(
                self.LANG_TRAIN, "doc_id long, lang string, text string"
            ),
            batch_id=0,
        )
        kn = ContinuousKneserNey(spark, str(tmp_path / "kn"))
        cc = ContinuousCcnet(
            spark, str(tmp_path / "ccnet"), nb=nb, kn=kn, compact_every=2,
        )
        for i, rows in enumerate(self.BATCHES):
            cc.ingest(
                spark.createDataFrame(rows, "doc_id long, text string"),
                batch_id=i,
            )
        m = cc._manifest()
        assert m["base"] is not None  # compaction fired
        got = sorted(tuple(r) for r in cc.summary().collect())
        assert got == self._batch_summary(spark)

    def test_out_of_order_batch_raises(self, spark, tmp_path):
        # the ordering contract is enforced: a batch at or below the id
        # high-water mark could beat an existing paragraph winner and
        # silently corrupt the folded KN counts — it must fail loudly
        cc = self._build(spark, tmp_path)
        cc.ingest(
            spark.createDataFrame(
                self.BATCHES[0], "doc_id long, text string"
            ),
            batch_id=0,
        )
        with pytest.raises(ValueError, match="strictly increasing"):
            cc.ingest(
                spark.createDataFrame(
                    [(1, "any text at all here")], "doc_id long, text string"
                ),
                batch_id=1,
            )


class TestBandIndexDuplicateDelivery:
    """ADVICE r11 hardening: a committed document re-delivered under a
    NEW batch id must re-report nothing (its (id, band) rows are
    anti-joined away before the probe), while a genuinely UPDATED
    same-id document still pairs via its fresh rows."""

    def _sink(self):
        calls = []

        def sink(pairs, batch_id):
            calls.append((batch_id, {(r.id_a, r.id_b) for r in pairs.collect()}))

        return sink, calls

    def test_redelivery_new_batch_id_reports_nothing(self, spark, tmp_path):
        from proxima_platform_spark.streaming.band_stream import (
            ContinuousOphIndex,
        )

        sink, calls = self._sink()
        idx = ContinuousOphIndex(
            spark, str(tmp_path / "oi"), num_bins=8, bands=4, sink=sink,
        )
        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ]
        idx.ingest(spark.createDataFrame(rows, "doc_id long, text string"), 0)
        assert calls[-1][1] == {(1, 2)}
        # identical re-delivery under a NEW batch id: zero pair reports —
        # a non-set-accumulating sink no longer double-counts
        idx.ingest(spark.createDataFrame(rows, "doc_id long, text string"), 1)
        assert calls[-1][1] == set()
        # index state unchanged by the redelivery (distinct-union fold)
        assert idx.band_rows().count() > 0

    def test_updated_document_still_pairs(self, spark, tmp_path):
        from proxima_platform_spark.streaming.band_stream import (
            ContinuousOphIndex,
        )

        sink, calls = self._sink()
        idx = ContinuousOphIndex(
            spark, str(tmp_path / "oi2"), num_bins=8, bands=4, sink=sink,
        )
        idx.ingest(
            spark.createDataFrame(
                [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
                "doc_id long, text string",
            ),
            0,
        )
        # doc 2 arrives as a near-copy, then is RE-delivered updated to a
        # copy of doc 1's text under a new batch id: the fresh rows must
        # still probe and find (1, 2)
        idx.ingest(
            spark.createDataFrame(
                [(2, "wholly different words live in this document here now")],
                "doc_id long, text string",
            ),
            1,
        )
        assert calls[-1][1] == set()
        idx.ingest(
            spark.createDataFrame(
                [(2, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
                "doc_id long, text string",
            ),
            2,
        )
        assert (1, 2) in calls[-1][1]

    def test_simhash_redelivery_new_batch_id(self, spark, tmp_path):
        from proxima_platform_spark.streaming.band_stream import (
            ContinuousSimhashIndex,
        )

        reported = []

        def sink(pairs, batch_id):
            reported.append(
                (batch_id, {(r.id_a, r.id_b) for r in pairs.collect()})
            )

        idx = ContinuousSimhashIndex(
            spark, str(tmp_path / "si"), hamming_threshold=3, chunks=4,
            sink=sink,
        )
        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ]
        idx.ingest(spark.createDataFrame(rows, "doc_id long, text string"), 0)
        assert reported[-1][1] == {(1, 2)}
        idx.ingest(spark.createDataFrame(rows, "doc_id long, text string"), 1)
        assert reported[-1][1] == set()


class TestContinuousCcnetContract:
    def test_mismatched_gate_columns_raise(self, spark, tmp_path):
        from proxima_platform_spark.streaming.ccnet_stream import (
            ContinuousCcnet,
        )
        from proxima_platform_spark.streaming.classify_stream import (
            ContinuousNaiveBayes,
        )
        from proxima_platform_spark.streaming.lm_stream import (
            ContinuousKneserNey,
        )

        nb = ContinuousNaiveBayes(spark, str(tmp_path / "nb"), id_col="id")
        kn = ContinuousKneserNey(spark, str(tmp_path / "kn"))
        with pytest.raises(ValueError, match="nb gate columns"):
            ContinuousCcnet(spark, str(tmp_path / "cc"), nb=nb, kn=kn)
        nb2 = ContinuousNaiveBayes(spark, str(tmp_path / "nb2"))
        kn2 = ContinuousKneserNey(spark, str(tmp_path / "kn2"),
                                  text_col="body")
        with pytest.raises(ValueError, match="kn gate columns"):
            ContinuousCcnet(spark, str(tmp_path / "cc2"), nb=nb2, kn=kn2)
