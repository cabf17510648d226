"""CDC jobs: one per-table micro-batch step and the drivers around it
(SURVEY §2.9).

The reference runs one upsert function per micro-batch
(`StreamingJobExecutor.scala:47-61`) and lists reusing it per table as
future work (README.md:51). Here that function is :class:`TableStep`,
one table's share of a micro-batch: schema drift, a plain or near-dup
apply, and the compaction cadence. A plain apply is :func:`batch_apply`
(parse → LWW-compact → merge); its prelude :func:`latest_changes` also
serves the near-dup apply and :func:`initial_load`, the snapshot job
(`StreamingJobInitialExecutor.scala:15-51`).

Both stream drivers run the step: :func:`run_cdc_stream` for one table
(`StreamingJobExecutor.scala:16-61`) and ``CdcRegistry.run_stream``
(cdc/registry.py) for many topic-routed tables on one stream. Every
query starts through :func:`start_foreach_batch` with a real checkpoint
location (the reference hardcodes one path for both jobs — defect
§2.11-5). The step is a pure function of (batch, state), so the SAME
code path serves batch replay in tests and streaming in production.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.compact import compact_latest
from spark_streaming_with_debezium_spark.cdc.drift import SchemaDriftError, apply_drift
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


def latest_changes(
    raw: DataFrame,
    spec: TableSpec,
    seq_cols: Sequence[str] = ("partition", "offset"),
) -> DataFrame:
    """Parse → LWW-compact: the latest change row per key of ``raw``,
    ordered by whichever of ``seq_cols`` it carries (else ``ts_ms``).
    Deletes stay in, flagged ``deleted``."""
    seq_cols = tuple(c for c in seq_cols if c in raw.columns)
    changes = parse_envelope(raw, spec, seq_cols=seq_cols)
    return compact_latest(changes, spec.key_cols, order_cols=seq_cols or ("ts_ms",))


def _merge_cols(spec: TableSpec) -> list[str]:
    return [c for c in spec.data_cols if c not in spec.key_cols]


def batch_apply(
    raw_batch: DataFrame,
    spec: TableSpec,
    state: ParquetStateTable,
    seq_cols: Sequence[str] = ("partition", "offset"),
) -> None:
    """The plain apply: parse → LWW-compact → merge.

    Replaces `StreamingJobExecutor.upsertToDelta`
    (`StreamingJobExecutor.scala:47-61`) + the driver-side formatter —
    one distributed plan, no driver hop, dedup-safe.
    """
    state.merge(latest_changes(raw_batch, spec, seq_cols), data_cols=_merge_cols(spec))


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
    """Bootstrap state from a bounded read of change events (the
    snapshot's op='r' reads, possibly followed by later changes).

    The reference appends every batch blindly
    (`StreamingJobInitialExecutor.scala:44-51`); we LWW-compact first,
    so re-delivered snapshots stay idempotent, and then drop the keys
    whose latest event is a delete, so a deleted row does not come back.
    """
    latest = latest_changes(raw, spec, seq_cols)
    state.init(latest.filter(~F.col("deleted")).select(*spec.data_cols))


@dataclass
class TableStep:
    """One table's share of a micro-batch: drift → apply → maintenance.
    ``step(raw_batch, batch_id)`` is the foreachBatch body of
    :func:`run_cdc_stream` and, per routed table, of
    ``CdcRegistry.apply_batch``. :attr:`spec` is the spec the next batch
    parses with; drift evolution widens it.

    ``drift_policy`` ('evolve' | 'strict') first checks the batch's
    IN-BAND Connect schema (cdc/drift.py): 'evolve' adds nullable
    columns / widens numerics in both :attr:`spec` and the state
    table's sidecar schema; destructive drift raises
    :class:`SchemaDriftError` and fails the batch VISIBLY. With
    ``drift_dead_letter_dir`` set, such a batch is quarantined there
    whole instead (its own ``_batch_id`` partition, see
    :func:`quarantine_batch`, with a ``_drift_reason`` column), its
    merge skipped, so one upstream DDL accident does not stall the
    stream; it is replayable once the spec is fixed.

    ``neardup_store`` (a ``streaming.neardup.SignatureStore``) +
    ``neardup_text_col`` replace the plain apply with ingest-time
    near-duplicate suppression (:meth:`_apply_neardup`).

    ``compact_every_n_batches``: after every N-th batch, rewrite the
    buckets fragmented into ``compact_min_files``+ parquet files
    (``state.compact_buckets``) and the near-dup store's partitions.
    Inside foreachBatch it is serialized with merges.
    """

    spec: TableSpec
    state: ParquetStateTable
    drift_policy: str | None = None
    drift_dead_letter_dir: str | None = None
    compact_every_n_batches: int | None = None
    compact_min_files: int = 4
    neardup_store: object = None
    neardup_text_col: str | None = None

    def __post_init__(self) -> None:
        if (self.neardup_store is None) != (self.neardup_text_col is None):
            raise ValueError(
                "neardup_store and neardup_text_col must be set together"
            )
        if self.neardup_store is None:
            return
        if len(self.spec.key_cols) != 1:
            raise ValueError(
                "near-dup suppression needs a single-column key to serve as "
                f"doc_id; got key_cols={list(self.spec.key_cols)}"
            )
        if self.neardup_text_col not in self.spec.data_cols:
            raise ValueError(f"text_col {self.neardup_text_col!r} not in spec.data_cols")

    def __call__(self, raw_batch: DataFrame, batch_id: int) -> None:
        if self.drift_policy is not None:
            try:
                self.spec = apply_drift(
                    raw_batch, self.spec, self.state, policy=self.drift_policy
                )
            except SchemaDriftError as err:
                if self.drift_dead_letter_dir is None:
                    raise
                quarantine_batch(
                    raw_batch.withColumn("_drift_reason", F.lit(str(err))),
                    self.drift_dead_letter_dir, "_batch_id", batch_id,
                )
                return  # quarantined; the stream continues
        if self.neardup_store is None:
            batch_apply(raw_batch, self.spec, self.state)
        else:
            self._apply_neardup(raw_batch)
        n = self.compact_every_n_batches
        if n and (batch_id + 1) % n == 0:
            self.state.compact_buckets(min_files=self.compact_min_files)
            if self.neardup_store is not None:
                self.neardup_store.compact()

    def _apply_neardup(self, raw_batch: DataFrame) -> None:
        """Parse → LWW-compact → drop upserts that near-duplicate an
        already-accepted document (or an earlier doc in the same batch)
        → merge survivors + deletes: the ``SignatureStore`` stage of
        streaming/neardup.py composed into the upsert, so ingest and
        dedup share the micro-batch, the checkpoint and the replay
        story instead of running as two parallel pipelines.

        Ordering/crash contract: the state merge runs inside the dedup
        stage's ``sink`` callback, i.e. BEFORE the signature store
        mutates. A crash in between replays the batch against an
        unchanged store, re-derives the same survivors (the probe
        excludes the batch's own doc_ids), and the LWW merge is
        idempotent. Semantics note: an UPDATE whose new text
        near-duplicates another accepted document is suppressed — state
        keeps the document's previous version; deletes always pass
        through (a delete for a suppressed key is a no-op merge).
        """
        from spark_streaming_with_debezium_spark.streaming.neardup import (
            dedup_batch_against_store,
        )

        spec, text_col = self.spec, self.neardup_text_col
        key = spec.key_cols[0]
        latest = latest_changes(raw_batch, spec)
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
            self.state.merge(
                survivors.unionByName(deletes), data_cols=_merge_cols(spec)
            )

        dedup_batch_against_store(docs, self.neardup_store, sink=sink)


def start_foreach_batch(
    stream: DataFrame, fn, checkpoint_dir: str, available_now: bool = True
):
    """Start ``stream`` as a query that runs ``fn(batch_df, batch_id)``
    per micro-batch, checkpointed at ``checkpoint_dir``.

    ``available_now=True`` drains all available input then stops —
    deterministic for tests and the right trigger for backfills; False
    keeps the query running on the default micro-batch trigger, as the
    reference does.
    """
    writer = (
        stream.writeStream.foreachBatch(fn)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    drift_policy: str | None = None,
    drift_dead_letter_dir: str | None = None,
):
    """Continuous CDC upsert of one table: a :class:`TableStep` (see it
    for the drift, near-dup and compaction options) as the foreachBatch
    body, started by :func:`start_foreach_batch`. A raw Kafka stream (one
    with a ``topic`` column) goes through :func:`project_kafka` first."""
    step = TableStep(
        spec, state, drift_policy, drift_dead_letter_dir,
        compact_every_n_batches, compact_min_files,
        neardup_store, neardup_text_col,
    )
    if "topic" in raw_stream.columns:
        raw_stream = project_kafka(raw_stream)
    return start_foreach_batch(raw_stream, step, checkpoint_dir, available_now)
