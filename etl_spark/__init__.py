"""etl_spark — a PySpark-native CDC / analytics engine.

A from-scratch re-expression of the capabilities of supabase/etl (a Postgres
logical-replication / CDC pipeline framework) on Apache Spark:

- **Envelope** (:mod:`etl_spark.envelope`): the CDC change-event DataFrame
  schema with a total ordering key ``event_seq`` mirroring the reference's
  ``EventSequenceKey {commit_lsn, tx_ordinal}``
  (reference: crates/etl/src/event.rs:323-344).
- **Codec** (:mod:`etl_spark.codec`): typed decode of Postgres text wire
  values into Spark columns — the reference's function library
  (crates/etl/src/postgres/codec/text.rs).
- **Operators** (:mod:`etl_spark.operators`): current-state (last-write-wins)
  materialization, changelog, TOAST partial-row resolution, as-of lookups,
  plus large-scale training-data operators (dedup, similarity search,
  text analysis, multimodal plumbing).
- **Sources** (:mod:`etl_spark.sources`): snapshot COPY, the replication
  transport and pgoutput decode, and the sim-harness change envelopes.
- **Streaming** (:mod:`etl_spark.streaming`): the pipeline orchestrator —
  snapshot→stream handoff, per-table lifecycle state, idempotent sinks.

Design stance: everything is declared with the DataFrame/SQL API so Catalyst
handles pushdown, pruning, join strategy and AQE; Python UDFs appear only
where Spark genuinely lacks the semantics (PG array literals, multimodal
decode), and then as Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"
