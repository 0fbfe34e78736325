"""Structured Streaming parity: commit-log sources, replication, cached view.

Reference mapping (SURVEY §2.8, §3.3): commit-log observe → readStream;
replication controller → one streaming query per (source family → target
family); cached view → foreachBatch-maintained snapshot table; continuous
aggregates → ``rollup_stream.ContinuousRollup`` (foreachBatch-maintained
rollup ladder). Every continuous maintainer keeps its state in a
``store.GenerationStore`` (manifest, replay guard, compaction, GC).
"""
