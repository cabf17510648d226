"""CDC jobs: batch replay + Structured Streaming wrappers (SURVEY §2.9).

Two entry points mirroring the reference's two jobs:

- :func:`initial_load` — the snapshot/bootstrap path
  (`StreamingJobInitialExecutor.scala:15-51`): append-materialize
  snapshot (op='r') events.
- :func:`run_cdc_stream` — the continuous path
  (`StreamingJobExecutor.scala:16-61`): readStream → parse → per-batch
  compact+merge via ``foreachBatch``, with a real checkpoint location
  (the reference ignores its checkpoint constructor arg and hardcodes
  one path for both jobs — defect §2.11-5).

The per-batch function is pure (parse → compact → merge), so the SAME
code path serves batch replay in tests and streaming in production —
exactly how foreachBatch is meant to be used.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.compact import compact_latest
from spark_streaming_with_debezium_spark.cdc.envelope import TableSpec, parse_envelope
from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable


def kafka_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    fail_on_data_loss: bool = False,
):
    """Kafka streaming source, mirroring `StreamingJobExecutor.scala:35-44`
    (subscribe one topic, startingOffsets default latest,
    failOnDataLoss=false). Requires the spark-sql-kafka package on the
    classpath; not exercised in the offline test environment."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
        .load()
    )


def apply_starting_offsets(
    df: DataFrame, starting_offsets: str, topic: str | None = None
) -> DataFrame:
    """Kafka ``startingOffsets`` option semantics applied to the
    file-backed envelope source (VERDICT r8 item 5) — the in-sandbox
    testable slice of the option contract the reference passes through
    to the real Kafka source (`StreamingUtils.scala:5`,
    `StreamingJobExecutor.scala:41-42`).

    Accepts exactly what the Kafka source accepts:

    - ``"earliest"`` — keep every record,
    - ``"latest"`` — keep none of the records present at start (a
      bootstrap against live Kafka begins at the log head; on a bounded
      file source that means the pre-existing backlog is skipped),
    - a per-partition JSON string ``{"<topic>": {"0": 11, "1": -2}}``
      with the Kafka specials ``-2`` = earliest and ``-1`` = latest.
      Partitions NOT listed for the topic follow the Kafka source's
      documented fallback: latest (dropped).

    The filter is a plain pushdown-friendly predicate on the envelope's
    (partition, offset) columns — at scale it reaches the parquet/JSON
    scan, so a mid-log restart reads only the tail.

    ADVICE r9 caveat — ``"latest"`` (and per-partition ``-1``) is only
    meaningful for BOUNDED reads of the file-backed source (batch /
    ``availableNow`` drains): the filter is static, so on a continuous
    streaming DataFrame over a growing directory it would drop FUTURE
    micro-batch rows too, where real Kafka's ``latest`` skips only the
    backlog and then consumes new records. The top-level ``"latest"``
    therefore RAISES on a streaming DataFrame rather than silently
    consuming nothing; per-partition ``-1`` entries are accepted (a
    bounded window spec composes them with ``apply_ending_offsets``)
    but carry the same bounded-read-only meaning.
    """
    import json as _json

    s = starting_offsets.strip()
    if s == "earliest":
        return df
    if s == "latest":
        if df.isStreaming:
            raise ValueError(
                'startingOffsets="latest" on the file-backed source is a '
                "static filter: a continuous stream would silently drop "
                "future micro-batch rows as well as the backlog. Use a "
                "bounded (batch / availableNow) read, or a per-partition "
                "JSON spec for a closed replay window."
            )
        return df.filter(F.lit(False))
    spec = _json.loads(s)
    if topic is None:
        if len(spec) != 1:
            raise ValueError(
                "topic must be given when startingOffsets JSON names "
                f"multiple topics: {sorted(spec)}"
            )
        topic = next(iter(spec))
    per_part = spec.get(topic, {})
    pred = F.lit(False)  # unlisted partitions default to latest
    for part, off in per_part.items():
        p = int(part)
        o = int(off)
        if o == -2:  # earliest
            keep = F.lit(True)
        elif o == -1:  # latest
            keep = F.lit(False)
        else:
            keep = F.col("offset") >= o
        pred = pred | ((F.col("partition") == p) & keep)
    return df.filter(pred)


def apply_ending_offsets(
    df: DataFrame, ending_offsets: str, topic: str | None = None
) -> DataFrame:
    """Kafka ``endingOffsets`` (batch-read bound) on the file-backed
    envelope source — the other half of the offset-window contract
    :func:`apply_starting_offsets` covers: a bounded BACKFILL reads
    ``spark.read.format("kafka")`` with start AND end, replaying a
    fixed log window idempotently. Accepts ``"latest"`` (everything
    present) or a per-partition JSON ``{"<topic>": {"0": 15}}`` where
    the offset is EXCLUSIVE (Kafka's endingOffsets semantics) and
    ``-1`` = latest; unlisted partitions read to latest. Compose both
    for a closed window:
    ``apply_ending_offsets(apply_starting_offsets(df, s), e)``."""
    import json as _json

    s = ending_offsets.strip()
    if s == "latest":
        return df
    spec = _json.loads(s)
    if topic is None:
        if len(spec) != 1:
            raise ValueError(
                "topic must be given when endingOffsets JSON names "
                f"multiple topics: {sorted(spec)}"
            )
        topic = next(iter(spec))
    per_part = spec.get(topic, {})
    pred = F.lit(True)  # unlisted partitions read to latest
    for part, off in per_part.items():
        p = int(part)
        o = int(off)
        if o == -1:  # latest
            continue
        pred = pred & (
            (F.col("partition") != p) | (F.col("offset") < o)
        )
    return df.filter(pred)


def project_kafka(df: DataFrame) -> DataFrame:
    """CAST(key AS STRING), CAST(value AS STRING), topic + ordering cols
    (`StreamingJobExecutor.scala:22-23`, plus partition/offset which the
    reference drops — needed for correct in-batch LWW ordering)."""
    cols = [
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.col("topic"),
    ]
    for c in ("partition", "offset", "timestamp"):
        if c in df.columns:
            cols.append(F.col(c))
    return df.select(*cols)


def batch_apply(
    raw_batch: DataFrame,
    spec: TableSpec,
    state: ParquetStateTable,
    seq_cols: Sequence[str] = ("partition", "offset"),
) -> None:
    """The foreachBatch body: parse → LWW-compact → merge.

    Replaces `StreamingJobExecutor.upsertToDelta`
    (`StreamingJobExecutor.scala:47-61`) + the driver-side formatter —
    one distributed plan, no driver hop, dedup-safe.
    """
    seq_cols = tuple(c for c in seq_cols if c in raw_batch.columns)
    changes = parse_envelope(raw_batch, spec, seq_cols=seq_cols)
    order = seq_cols if seq_cols else ("ts_ms",)
    latest = compact_latest(changes, spec.key_cols, order_cols=order)
    state.merge(latest, data_cols=[c for c in spec.data_cols if c not in spec.key_cols])


def quarantine_batch(
    df: DataFrame, path: str, batch_col: str, batch_id: int
) -> None:
    """Write ``df`` as the ``batch_col=batch_id`` partition of ``path``,
    overwriting only that partition (dynamic mode): a foreachBatch
    crash-replay re-delivers the same batch id, so the rewrite is
    idempotent where a blind append would duplicate the rows."""
    (
        df.withColumn(batch_col, F.lit(batch_id).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(batch_col)
        .parquet(path)
    )


def initial_load(
    raw: DataFrame,
    spec: TableSpec,
    state: ParquetStateTable,
    seq_cols: Sequence[str] = ("partition", "offset"),
) -> None:
    """Bootstrap state from snapshot events (op='r').

    The reference appends every batch blindly
    (`StreamingJobInitialExecutor.scala:44-51`); we filter to snapshot
    reads and LWW-compact so re-delivered snapshots stay idempotent.
    """
    seq_cols = tuple(c for c in seq_cols if c in raw.columns)
    changes = parse_envelope(raw, spec, seq_cols=seq_cols).filter(~F.col("deleted"))
    latest = compact_latest(
        changes, spec.key_cols, order_cols=seq_cols if seq_cols else ("ts_ms",)
    )
    snapshot = latest.select(*spec.data_cols)
    state.init(snapshot)


def batch_apply_with_neardup(
    raw_batch: DataFrame,
    spec: TableSpec,
    state: ParquetStateTable,
    store,
    text_col: str,
    threshold: float = 0.5,
    seq_cols: Sequence[str] = ("partition", "offset"),
) -> None:
    """foreachBatch body composing CDC upsert with ingest-time
    near-duplicate suppression: parse → LWW-compact → drop upserts that
    near-duplicate an already-accepted document (or an earlier doc in
    the same batch) → merge survivors + deletes.

    The reference's foreachBatch upsert loop
    (`StreamingJobExecutor.scala:47-61`) composed with the
    ``SignatureStore`` stage from streaming/neardup.py in ONE batch
    function — ingest and dedup share the micro-batch, the checkpoint,
    and the replay story instead of running as two parallel pipelines.

    Ordering/crash contract: the state merge runs inside the dedup
    stage's ``sink`` callback, i.e. BEFORE the signature store mutates.
    A crash in between replays the batch against an unchanged store,
    re-derives the same survivors (the probe excludes the batch's own
    doc_ids), and the LWW merge is idempotent. Semantics note: an
    UPDATE whose new text near-duplicates another accepted document is
    suppressed — state keeps the document's previous version; deletes
    always pass through (a delete for a suppressed key is a no-op
    merge).
    """
    from spark_streaming_with_debezium_spark.streaming.neardup import (
        dedup_batch_against_store,
    )

    if len(spec.key_cols) != 1:
        raise ValueError(
            "near-dup suppression needs a single-column key to serve as "
            f"doc_id; got key_cols={list(spec.key_cols)}"
        )
    key = spec.key_cols[0]
    if text_col not in spec.data_cols:
        raise ValueError(f"text_col {text_col!r} not in spec.data_cols")
    seq_cols = tuple(c for c in seq_cols if c in raw_batch.columns)
    changes = parse_envelope(raw_batch, spec, seq_cols=seq_cols)
    order = seq_cols if seq_cols else ("ts_ms",)
    latest = compact_latest(changes, spec.key_cols, order_cols=order)
    data_cols = [c for c in spec.data_cols if c not in spec.key_cols]
    deletes = latest.filter(F.col("deleted"))
    docs = (
        latest.filter(~F.col("deleted"))
        .withColumnRenamed(key, "doc_id")
        .withColumnRenamed(text_col, "text")
    )

    def sink(kept: DataFrame) -> None:
        survivors = kept.withColumnRenamed("doc_id", key).withColumnRenamed(
            "text", text_col
        )
        state.merge(survivors.unionByName(deletes), data_cols=data_cols)

    dedup_batch_against_store(docs, store, threshold=threshold, sink=sink)


def run_cdc_stream(
    raw_stream: DataFrame,
    spec: TableSpec,
    state: ParquetStateTable,
    checkpoint_dir: str,
    available_now: bool = True,
    compact_every_n_batches: int | None = None,
    compact_min_files: int = 4,
    neardup_store=None,
    neardup_text_col: str | None = None,
    neardup_threshold: float = 0.5,
    drift_policy: str | None = None,
    drift_dead_letter_dir: str | None = None,
):
    """Continuous CDC upsert: writeStream.foreachBatch(batch_apply).

    ``available_now=True`` drains all available input then stops —
    deterministic for tests and the right trigger for backfills; set
    False for a continuously running query (default micro-batch
    trigger, as the reference uses).

    ``compact_every_n_batches`` opts into periodic small-file
    maintenance: every N micro-batches, buckets fragmented into
    ``compact_min_files``+ parquet files are rewritten via
    ``state.compact_buckets`` — a long-running CDC stream otherwise
    accumulates fragments from crash-recovered or externally-appended
    buckets, and small files are the classic lake-scale read killer.
    Runs inside foreachBatch, so it is serialized with merges (no
    concurrent writer) and its cost amortizes over N batches.

    ``neardup_store`` (a ``streaming.neardup.SignatureStore``) +
    ``neardup_text_col`` opt the stream into ingest-time near-dup
    suppression: each batch's upserts are LSH-probed against the
    accepted corpus and in-batch candidates, duplicates dropped before
    the merge (see :func:`batch_apply_with_neardup`). Store compaction
    piggybacks on the same ``compact_every_n_batches`` cadence.

    ``drift_policy`` ('evolve' | 'strict') opts into per-batch schema
    drift handling against the IN-BAND Connect schema (cdc/drift.py):
    'evolve' auto-adds nullable columns / widens numerics in both the
    parse spec and the state table's sidecar schema before merging;
    destructive drift (dropped/retyped columns) raises and fails the
    batch VISIBLY instead of silently dropping data. The evolved spec
    carries across micro-batches within this stream.

    ``drift_dead_letter_dir`` changes the destructive-drift outcome
    from fail-the-stream to quarantine-and-continue: the ENTIRE raw
    batch is written to the dead-letter path as its own ``_batch_id``
    partition (:func:`quarantine_batch`, so a replayed batch id is not
    duplicated), with a ``_drift_reason`` column for triage, and its merge is
    skipped, so one upstream DDL accident doesn't stall every other
    table sharing the stream. The quarantined batch is replayable
    after the operator fixes the spec — the at-scale posture for a
    multi-team CDC bus.
    """
    if (neardup_store is None) != (neardup_text_col is None):
        raise ValueError(
            "neardup_store and neardup_text_col must be set together"
        )
    live_spec = [spec]  # mutable: drift evolution carries across batches

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        projected = (
            project_kafka(batch_df) if "topic" in batch_df.columns else batch_df
        )
        spec = live_spec[0]
        if drift_policy is not None:
            from spark_streaming_with_debezium_spark.cdc.drift import (
                SchemaDriftError,
                apply_drift,
            )

            try:
                spec = apply_drift(projected, spec, state, policy=drift_policy)
            except SchemaDriftError as err:
                if drift_dead_letter_dir is None:
                    raise
                quarantine_batch(
                    projected.withColumn("_drift_reason", F.lit(str(err))),
                    drift_dead_letter_dir, "_batch_id", batch_id,
                )
                return  # quarantined; stream continues
            live_spec[0] = spec
        if neardup_store is not None:
            batch_apply_with_neardup(
                projected, spec, state, neardup_store,
                neardup_text_col, threshold=neardup_threshold,
            )
        else:
            batch_apply(projected, spec, state)
        if (
            compact_every_n_batches
            and (batch_id + 1) % compact_every_n_batches == 0
        ):
            state.compact_buckets(min_files=compact_min_files)
            if neardup_store is not None:
                neardup_store.compact()

    writer = (
        raw_stream.writeStream.foreachBatch(_fn)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
