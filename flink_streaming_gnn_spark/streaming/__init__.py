"""Structured Streaming surface — the reference's raison d'être
(SURVEY.md §2A A1/A6/A8/A16: event-time windows, watermarks, incremental
keyed aggregation on an unbounded stream).

Design split:
- ``windows.py`` — event-time window *semantics* (tumbling / sliding /
  session / dedup / stream-static join) as batch DataFrames with DuckDB
  twins; identical plans run unchanged under ``readStream``.
- ``replay.py`` — deterministic file-stream replay (Trigger.AvailableNow)
  used by the batch≡stream property tests (SURVEY.md §5.2#3).
- ``stateful.py`` — arbitrary keyed state: the reference's incremental
  MeanAggregator (A6) with running {sum, count} per vertex, on both the
  applyInPandasWithState and Spark-4 transformWithStateInPandas APIs,
  plus last-writer-wins GraphOp materialization.
- ``gnn.py`` — the windowed GNN forward (A8): per-(window, vertex)
  coalescing aggregate + one batched tensor forward, batch≡stream.
- ``sources.py`` — Kafka source builder + wire codec with a file-backed
  test double (same downstream plan on either source).
- ``joins.py`` — watermarked stream–stream interval join.
- ``cdc.py`` / ``topk.py`` — foreachBatch patterns: log-structured CDC
  apply + merge-on-read, and the complete-mode top-k re-rank.
- ``e2e.py`` — END-TO-END streaming keys for the driver contract: real
  multi-trigger runs (windowed top-k, CDC snapshot, sliding and session
  aggregations) whose deterministic final state hash-matches batch SQL
  oracles.
"""
