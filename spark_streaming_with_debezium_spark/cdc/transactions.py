"""Transaction-atomic multi-table CDC apply (Debezium transaction
metadata).

The reference applies every event in a micro-batch independently
(`StreamingJobExecutor.scala:47-61`), so a reader can observe HALF of a
source transaction that touched two tables — or half of one whose
events were split across micro-batches. Debezium's
``provide.transaction.metadata=true`` mode ships the fix on the wire
(public Debezium docs, v1.0+): every data event carries a
``transaction`` block (``{id, total_order, data_collection_order}``)
and a dedicated transaction topic emits ``END`` markers with the
transaction's total ``event_count``. This module buffers data events
until their transaction's END marker AND all of its events have
arrived, then applies the complete transaction's events to every
affected table in one batch — readers never observe a torn source
transaction, across tables OR across micro-batches.

Semantics per micro-batch (:func:`apply_batch_transactional`):

1. events WITHOUT a transaction block apply in this batch (passthrough —
   non-transactional topics keep the reference's behavior);
2. transactional events and END markers are unioned into the pending
   buffer, deduplicated by Kafka ``(topic, partition, offset)`` /
   transaction id so foreachBatch replays after a crash cannot
   double-count;
3. a transaction is COMPLETE when ``count(buffered events) ==
   end.event_count``; incomplete ones stay buffered;
4. the passthrough events and the complete transactions' events are
   applied TOGETHER by one :meth:`CdcRegistry.apply_batch` (the normal
   per-table parse→compact→merge), so last-write-wins on ``(partition,
   offset)`` keeps the newest event of a key whichever set it came in
   — an older buffered transaction event never overwrites a newer
   passthrough one.

Crash safety: the buffer is a versioned parquet store — a new version
directory is fully written and fsynced BEFORE the ``CURRENT`` pointer
is atomically renamed over (the `cdc/timetravel.py` discipline), and
the merge itself is idempotent (LWW on key + offsets), so the
crash-replay of a micro-batch re-applies the same complete
transactions onto the same state harmlessly.

Scale: the buffer holds only IN-FLIGHT transactions (steady-state: a
few seconds of open transactions, not history); completeness is one
groupBy(transaction id) over buffer∪batch — a uniform key — joined to
the END markers. No driver collect anywhere; per-table applies reuse
the bucketed merge path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.pipeline import start_foreach_batch
from spark_streaming_with_debezium_spark.cdc.registry import CdcRegistry
from spark_streaming_with_debezium_spark.storage.fs import (
    LocalFS,
    StateFS,
    fs_for_path,
)

_APPLY_COLS = ("topic", "key", "value", "partition", "offset")
_EVENTS_SCHEMA = (
    "topic string, key string, value string, partition int, offset long, "
    "txn_id string"
)
_ENDS_SCHEMA = "txn_id string, event_count long"
_APPLIED_SCHEMA = "txn_id string, applied_batch long"


def _fsync_tree(root: str) -> None:
    """fsync every file and directory under ``root`` so the version's
    parquet data is durable BEFORE the CURRENT pointer references it —
    Spark's local parquet writes are not fsynced, and a power loss
    after the pointer rename must not leave CURRENT pointing at
    incompletely-durable data. Only meaningful (and only invoked) on
    the local-POSIX backend; on a real lake (S3/HDFS) close() is the
    durability barrier."""
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in filenames:
            fd = os.open(os.path.join(dirpath, name), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        dfd = os.open(dirpath, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)


class TxnBuffer:
    """Versioned pending store: ``v{n}/events`` + ``v{n}/ends`` parquet
    under a root, with a durable ``CURRENT`` pointer. Old versions are
    deleted only after the pointer moves, so every crash state holds
    one complete buffer."""

    def __init__(self, spark: SparkSession, path: str, fs: StateFS | None = None):
        self.spark = spark
        self.path = path
        self.fs = fs if fs is not None else fs_for_path(spark, path)
        self.fs.mkdirs(path)
        self._gc()

    def _current(self) -> int | None:
        ptr = os.path.join(self.path, "CURRENT")
        if not self.fs.exists(ptr):
            return None
        txt = self.fs.read_text(ptr).strip()
        return int(txt) if txt else None

    def _gc(self) -> None:
        """Drop version dirs the pointer no longer references (either
        superseded, or half-written by a crash before the pointer
        moved)."""
        cur = self._current()
        for d in self.fs.listdir(self.path):
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) != cur:
                self.fs.delete(os.path.join(self.path, d))

    def read(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        cur = self._current()
        if cur is None:
            return (
                self.spark.createDataFrame([], _EVENTS_SCHEMA),
                self.spark.createDataFrame([], _ENDS_SCHEMA),
                self.spark.createDataFrame([], _APPLIED_SCHEMA),
            )
        base = os.path.join(self.path, f"v{cur}")
        return (
            self.spark.read.schema(_EVENTS_SCHEMA).parquet(
                os.path.join(base, "events")
            ),
            self.spark.read.schema(_ENDS_SCHEMA).parquet(
                os.path.join(base, "ends")
            ),
            self.spark.read.schema(_APPLIED_SCHEMA).parquet(
                os.path.join(base, "applied")
            ),
        )

    def write(
        self, events: DataFrame, ends: DataFrame, applied: DataFrame
    ) -> None:
        cur = self._current()
        nxt = 0 if cur is None else cur + 1
        base = os.path.join(self.path, f"v{nxt}")
        events.write.mode("overwrite").parquet(os.path.join(base, "events"))
        ends.write.mode("overwrite").parquet(os.path.join(base, "ends"))
        applied.write.mode("overwrite").parquet(os.path.join(base, "applied"))
        if isinstance(self.fs, LocalFS):
            _fsync_tree(base)  # data durable BEFORE the pointer moves
        self.fs.write_text_atomic(os.path.join(self.path, "CURRENT"), str(nxt))
        self._gc()


def split_transactional(
    raw_batch: DataFrame, txn_topic: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(immediate, txn_events, ends) from one raw Kafka batch.

    ``ends`` parses the transaction topic's END markers; ``txn_events``
    are data events carrying a transaction id; ``immediate`` is
    everything else (non-transactional passthrough)."""
    is_boundary = F.col("topic") == txn_topic
    data = raw_batch.filter(~is_boundary).withColumn(
        "txn_id",
        F.get_json_object(F.col("value").cast("string"), "$.payload.transaction.id"),
    )
    ends = (
        raw_batch.filter(is_boundary)
        .select(
            F.get_json_object(F.col("value").cast("string"), "$.payload.status")
            .alias("status"),
            F.get_json_object(F.col("value").cast("string"), "$.payload.id")
            .alias("txn_id"),
            F.get_json_object(
                F.col("value").cast("string"), "$.payload.event_count"
            )
            .cast("long")
            .alias("event_count"),
        )
        .filter(F.col("status") == "END")
        .select("txn_id", "event_count")
    )
    immediate = data.filter(F.col("txn_id").isNull()).drop("txn_id")
    txn_events = data.filter(F.col("txn_id").isNotNull()).select(
        *_APPLY_COLS, "txn_id"
    )
    return immediate, txn_events, ends


def apply_batch_transactional(
    registry: CdcRegistry,
    buffer: TxnBuffer,
    raw_batch: DataFrame,
    txn_topic: str,
    batch_id: int = 0,
    keep_applied_batches: int = 1000,
) -> None:
    """foreachBatch body providing source-transaction atomicity on top
    of :meth:`CdcRegistry.apply_batch` (docstring at module top).

    ``keep_applied_batches`` bounds the applied-transaction ledger:
    re-delivered events of an already-applied transaction (a crash
    replay — its END marker is long gone from the buffer) are DROPPED
    against this ledger rather than buffered forever; ids older than
    the retention window age out, matching how far back foreachBatch
    can actually replay."""
    immediate, txn_events, ends = split_transactional(raw_batch, txn_topic)
    pend_events, pend_ends, applied = buffer.read()
    applied = applied.persist()
    fresh_events = txn_events.join(applied, "txn_id", "left_anti")
    fresh_ends = ends.join(applied, "txn_id", "left_anti")
    all_events = (
        pend_events.unionByName(fresh_events)
        .dropDuplicates(["topic", "partition", "offset"])
        .persist()
    )
    try:
        all_ends = pend_ends.unionByName(fresh_ends).dropDuplicates(["txn_id"])
        counts = all_events.groupBy("txn_id").agg(
            F.count(F.lit(1)).alias("n_seen")
        )
        complete = (
            counts.join(all_ends, "txn_id")
            .filter(F.col("n_seen") == F.col("event_count"))
            .select("txn_id")
        )
        to_apply = immediate.select(*_APPLY_COLS).unionByName(
            all_events.join(complete, "txn_id", "left_semi").select(*_APPLY_COLS)
        )
        registry.apply_batch(to_apply, batch_id)
        keep_events = all_events.join(complete, "txn_id", "left_anti")
        keep_ends = all_ends.join(complete, "txn_id", "left_anti")
        new_applied = applied.unionByName(
            complete.withColumn("applied_batch", F.lit(batch_id).cast("long"))
        ).filter(
            F.col("applied_batch") > F.lit(batch_id - keep_applied_batches)
        )
        buffer.write(keep_events, keep_ends, new_applied)
    finally:
        all_events.unpersist()
        applied.unpersist()


def run_transactional_stream(
    registry: CdcRegistry,
    buffer: TxnBuffer,
    raw_stream: DataFrame,
    checkpoint_dir: str,
    txn_topic: str,
    available_now: bool = True,
):
    """One streaming query: transaction-atomic apply across every
    registered table."""
    return start_foreach_batch(
        raw_stream,
        lambda b, bid: apply_batch_transactional(registry, buffer, b, txn_topic, bid),
        checkpoint_dir,
        available_now,
    )
