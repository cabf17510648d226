"""Time travel for the CDC state table: reconstruct the keyed state as
of any past batch from an append-only change log.

Delta gets this from its transaction log; on plain parquet we keep:

- ``snapshot0/``  — the initial state (written once at init)
- ``log/``        — every compacted change batch, appended with its
                    ``_batch_seq`` (partition column → pruned reads)

``as_of(seq)`` = LWW-compact the log restricted to ``_batch_seq <= seq``
and apply it to snapshot0 — one window + one merge join, O(log size up
to seq), no stored per-version copies. The audit/"what did the
dashboard say on Tuesday" capability CDC pipelines are asked for.
"""

from __future__ import annotations

import os  # os.path.join only — file ops go through StateFS
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.compact import compact_latest
from spark_streaming_with_debezium_spark.cdc.merge import (
    ParquetStateTable,
    apply_changes,
)
from spark_streaming_with_debezium_spark.storage.fs import (
    StateFS,
    fs_for_path,
    recover_swap,
    swap_dirs,
)

# Durable marker/pointer writes go through StateFS.write_text_atomic:
# a torn ``_base_seq``/``.pending`` that parses as 0 would silently
# mis-recover (serve pre-retention state); atomic-publish visibility
# makes each file either absent or complete on every backend.


class TimeTravelStateTable:
    """ParquetStateTable + retained change log + as_of reconstruction."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        n_buckets: int = 16,
        fs: StateFS | None = None,
    ):
        self.spark = spark
        self.path = path
        self.fs = fs if fs is not None else fs_for_path(spark, path)
        self.key_cols = list(key_cols)
        self._snap_dir = os.path.join(path, "snapshot0")
        self._log_dir = os.path.join(path, "log")
        self._cur_dir = os.path.join(path, "current")
        # Before anything reads the dirs (the current table's bucket
        # count comes from its meta sidecar, which a purge may have
        # parked).
        self._recover_purge()
        self.current = ParquetStateTable(
            spark, self._cur_dir, key_cols, n_buckets, fs=self.fs
        )
        self._data_cols_path = os.path.join(path, "_data_cols")
        self._base_seq_path = os.path.join(path, "_base_seq")
        # Finish or roll back any compact_log interrupted by a crash
        # BEFORE reading the base — otherwise a half-applied fold
        # (snapshot already advanced, base not yet persisted) would
        # silently serve corrupted reconstructions.
        self._recover_compaction()
        # The snapshot represents state as of _base_seq (0 until a
        # compact_log retention tick folds a log prefix into it).
        self._base_seq = self._recover_base_seq()
        # Reopening an existing table must resume the sequence from the
        # durable log, not restart at 0 — a restarted counter would
        # append new merges under already-used _batch_seq partitions,
        # corrupting replay and every as_of reconstruction. After a
        # retention tick the log may be EMPTY, so the floor is the
        # folded base sequence, not 0.
        self._seq = self._recover_seq()
        self._data_cols = self._recover_data_cols()

    def _recover_purge(self) -> None:
        """Undo an interrupted :func:`purge_keys` swap of each dir."""
        for live in (self._snap_dir, self._log_dir, self._cur_dir):
            recover_swap(self.fs, *_purge_dirs(live))

    def _recover_base_seq(self) -> int:
        if not self.fs.exists(self._base_seq_path):
            return 0
        return int(self.fs.read_text(self._base_seq_path).strip() or 0)

    def _drop_folded_partitions(self, upto_seq: int) -> int:
        dropped = 0
        for d in self.fs.listdir(self._log_dir):
            if d.startswith("_batch_seq="):
                if int(d.split("=", 1)[1]) <= upto_seq:
                    self.fs.delete(os.path.join(self._log_dir, d))
                    dropped += 1
        return dropped

    def _recover_compaction(self) -> None:
        """Crash recovery for :meth:`compact_log`'s rename-only fold
        protocol, keyed on WHICH DIRECTORIES EXIST (each is complete
        by construction — directories only ever appear/disappear via
        atomic rename, except the aside copy, deleted once the new
        snapshot has landed — ``storage.fs.swap_dirs``):

        - marker + snap + tmp, no aside → crash before the swap began:
          roll BACK (drop tmp + marker; nothing was destroyed).
        - marker + aside + tmp, no snap → crash between the two swap
          renames: roll FORWARD (land tmp as snap, persist base, drop
          folded log, drop aside).
        - marker + aside + snap        → crash after the swap (tmp is
          gone): roll FORWARD (persist base, drop folded log, drop
          aside — possibly re-deleting a half-removed aside, which is
          safe because nothing reads it).
        - marker + snap only           → crash after cleanup, before
          the marker was removed: re-run the idempotent tail.
        - tmp without marker           → stray from a crash before the
          marker: roll back (remove tmp).
        The marker and ``_base_seq`` are written via
        ``StateFS.write_text_atomic``, so a torn/empty marker that
        would parse as 0 cannot exist.
        """
        tmp = self._snap_dir + "_folding"
        old = self._snap_dir + "_old"
        pend = self._base_seq_path + ".pending"
        has_tmp, has_pend = self.fs.isdir(tmp), self.fs.exists(pend)
        has_snap, has_old = self.fs.isdir(self._snap_dir), self.fs.isdir(old)
        if has_pend:
            upto = int(self.fs.read_text(pend).strip() or 0)
            if has_snap and has_tmp and not has_old:
                self.fs.delete(tmp)
                self.fs.delete(pend)
            else:
                if not has_snap and has_tmp:
                    self.fs.rename(tmp, self._snap_dir)
                self.fs.write_text_atomic(self._base_seq_path, str(upto))
                self._drop_folded_partitions(upto)
                self.fs.delete(old)
                self.fs.delete(pend)
        else:
            if has_tmp:
                self.fs.delete(tmp)
            # an aside without a marker is unreachable by the protocol
            # (aside appears after the marker, marker removed after the
            # aside is gone) — but sweep it defensively
            if has_old and has_snap:
                self.fs.delete(old)

    def _recover_seq(self) -> int:
        seqs = [
            int(d.split("=", 1)[1])
            for d in self.fs.listdir(self._log_dir)
            if d.startswith("_batch_seq=")
        ]
        return max(seqs, default=self._base_seq)

    def _recover_data_cols(self) -> list[str] | None:
        if not self.fs.exists(self._data_cols_path):
            return None
        cols = [
            line.strip()
            for line in self.fs.read_text(self._data_cols_path).splitlines()
            if line.strip()
        ]
        return cols or None

    def init(self, snapshot: DataFrame) -> None:
        snapshot.write.mode("overwrite").parquet(self._snap_dir)
        self.current.init(self.spark.read.parquet(self._snap_dir))
        # Re-init on an existing path must purge the old change log:
        # stale _batch_seq=N partitions would otherwise receive the next
        # merge's append (log writes are mode=append) and replay/as_of
        # would read old+new rows as one corrupted batch.
        self.fs.delete(self._log_dir)
        self._seq = 0
        self._base_seq = 0
        self._data_cols = None
        self.fs.delete(self._data_cols_path)
        self.fs.delete(self._base_seq_path)

    def merge_logged(
        self, changes: DataFrame, data_cols: Sequence[str] | None = None
    ) -> int:
        """Merge into current state AND append the (compacted) batch to
        the log. Returns the batch sequence number."""
        # Persist data_cols so as_of applies the SAME column subset as
        # the maintained current state (a balance-only merge must stay
        # balance-only when replayed historically). The guard is
        # two-sided: as_of replays EVERY batch with one data_cols value,
        # so mixing full-row merges (None) with subset merges in either
        # order silently drops columns on replay — reject both.
        if data_cols is None:
            if self._data_cols is not None:
                raise ValueError(
                    f"full-row merge after subset merges ({self._data_cols}) "
                    "— historical replay would diverge"
                )
        else:
            if self._data_cols is not None and list(data_cols) != self._data_cols:
                raise ValueError(
                    f"data_cols changed across merges: {self._data_cols} "
                    f"vs {list(data_cols)} — historical replay would diverge"
                )
            if self._data_cols is None and self._seq > 0:
                raise ValueError(
                    f"subset merge ({list(data_cols)}) after full-row merges "
                    "— historical replay would diverge"
                )
            self._data_cols = list(data_cols)
            self.fs.write_text_atomic(
                self._data_cols_path, "\n".join(self._data_cols)
            )
        self._seq += 1
        logged = changes.withColumn("_batch_seq", F.lit(self._seq))
        logged.write.mode("append").partitionBy("_batch_seq").parquet(self._log_dir)
        # replay from what was durably logged (exactly-once even if the
        # caller's DataFrame is non-deterministic)
        replay = (
            self.spark.read.parquet(self._log_dir)
            .filter(F.col("_batch_seq") == self._seq)
            .drop("_batch_seq")
        )
        self.current.merge(replay, data_cols=data_cols)
        return self._seq

    def read(self) -> DataFrame:
        return self.current.read()

    def as_of(self, seq: int) -> DataFrame:
        """State as of (and including) batch ``seq``; seq=base →
        snapshot. Raises for seq below the retention horizon — that
        history was folded away by :meth:`compact_log`."""
        if seq < self._base_seq:
            raise ValueError(
                f"as_of({seq}) is beyond the retention horizon: log "
                f"batches <= {self._base_seq} were folded into the "
                "snapshot by compact_log and can no longer be replayed"
            )
        snapshot = self.spark.read.parquet(self._snap_dir)
        if seq <= self._base_seq or not self.fs.exists(self._log_dir):
            return snapshot
        log = self.spark.read.parquet(self._log_dir).filter(
            (F.col("_batch_seq") > self._base_seq) & (F.col("_batch_seq") <= seq)
        )
        latest = compact_latest(
            log, self.key_cols, order_cols=["_batch_seq"]
        ).drop("_batch_seq")
        return apply_changes(
            snapshot, latest, self.key_cols, data_cols=self._data_cols
        )

    def compact_log(self, upto_seq: int) -> int:
        """Retention: fold log batches ``<= upto_seq`` into the
        snapshot and drop their partitions. After this, ``as_of(s)``
        serves only ``s >= upto_seq`` — the standard lake trade of
        history depth for bounded storage; at 100 TB this is an O(1
        files-touched-per-partition) tick, the reconstruction itself
        one window + one merge. Returns the number of log partitions
        dropped."""
        upto_seq = min(upto_seq, self._seq)
        if upto_seq <= self._base_seq:
            return 0
        folded = self.as_of(upto_seq)
        tmp = self._snap_dir + "_folding"
        old = self._snap_dir + "_old"
        pend = self._base_seq_path + ".pending"
        # Fold protocol (crash-safe; recovery in _recover_compaction).
        # The swap is RENAME-ONLY: a snapshot directory is either the
        # complete old one or the complete new one at every instant.
        # (A rmtree-then-rename swap can crash mid-rmtree, leaving a
        # half-deleted snapshot that recovery would then serve.)
        # 1. materialize the folded snapshot into tmp (non-destructive)
        folded.write.mode("overwrite").parquet(tmp)
        # 2. durable write-ahead marker BEFORE any destructive step
        self.fs.write_text_atomic(pend, str(upto_seq))
        # 3. swap: aside the old, land the new, drop the aside
        swap_dirs(self.fs, tmp, self._snap_dir, old)
        # 4. persist the base, THEN drop the folded partitions —
        # stale partitions <= base are invisible to as_of (its filter
        # is _batch_seq > base), so a crash between these steps only
        # leaves ignorable files, never a wrong reconstruction.
        self._base_seq = upto_seq
        self.fs.write_text_atomic(self._base_seq_path, str(upto_seq))
        dropped = self._drop_folded_partitions(upto_seq)
        self.fs.delete(pend)
        return dropped


def reduce_and(conds):
    """AND-fold a non-empty list of Column predicates."""
    from functools import reduce

    return reduce(lambda x, y: x & y, conds)


def changes_between(
    table: TimeTravelStateTable, seq_a: int, seq_b: int
) -> DataFrame:
    """Change feed between two retained versions — the "table changes"
    API (Delta CDF / Debezium snapshot-diff shape): one row per key
    whose state differs between ``as_of(seq_a)`` and ``as_of(seq_b)``,
    tagged ``_change_type`` ∈ insert/delete/update, with the NEW image
    for inserts/updates and the OLD image for deletes.

    Plan: one full outer join on the key columns (both sides already
    reconstruct through bucket-pruned snapshot+log merges); equality
    compares the data columns null-safely. No per-version log scans
    beyond what as_of itself needs. At 100 TB the join co-partitions
    on the same key both state tables bucket by."""
    a = table.as_of(seq_a)
    b = table.as_of(seq_b)
    data_cols = [c for c in b.columns if c not in table.key_cols]
    # Side-presence via literal flags, NOT key nullability: the join is
    # eqNullSafe (NULL key values are legal), so a row whose first key
    # column is legitimately NULL must still read as "present".
    aa = a.select(
        *[F.col(c).alias(f"_a_{c}") for c in a.columns],
        F.lit(True).alias("_a_present"),
    )
    b = b.withColumn("_b_present", F.lit(True))
    join_cond = [
        F.col(f"_a_{k}").eqNullSafe(F.col(k)) for k in table.key_cols
    ]
    j = aa.join(b, on=reduce_and(join_cond), how="full")
    in_a = F.col("_a_present").isNotNull()
    in_b = F.col("_b_present").isNotNull()
    same = reduce_and(
        [F.col(f"_a_{c}").eqNullSafe(F.col(c)) for c in data_cols]
    )
    change = (
        F.when(~in_a & in_b, "insert")
        .when(in_a & ~in_b, "delete")
        .when(~same, "update")
    )
    keyed = [
        F.coalesce(F.col(k), F.col(f"_a_{k}")).alias(k)
        for k in table.key_cols
    ]
    imaged = [
        F.when(in_b, F.col(c)).otherwise(F.col(f"_a_{c}")).alias(c)
        for c in data_cols
    ]
    return (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(*keyed, *imaged, "_change_type")
    )


def _purge_dirs(live: str) -> tuple[str, str, str]:
    """(staged, live, parked) of :func:`purge_keys`' swap of ``live``."""
    return live + "_purging", live, live + "_purged_old"


def purge_keys(table: TimeTravelStateTable, keys: DataFrame) -> dict[str, int]:
    """Right-to-be-forgotten: scrub every row matching ``keys`` (on the
    table's key columns) from the CURRENT state, the base SNAPSHOT, and
    every retained LOG partition — after this, no ``read()``, ``as_of``
    or ``changes_between`` at any version can reproduce the keys.
    Unlike a tombstone merge (which deletes forward but leaves history
    replayable), purge rewrites history itself — the GDPR/erasure
    semantics a lake table needs out-of-band of normal CDC flow.

    Keys are a broadcast anti-join side (erasure requests are small by
    nature). Each directory is rewritten into a staged copy and swapped
    in with ``storage.fs.swap_dirs``, snapshot → log → current; a crash
    is rolled back per directory when the table is reopened, and
    re-invoking purge with the same keys completes the scrub (an anti
    join of already-purged data is a no-op rewrite). Returns rows
    dropped per store. At 100 TB: one bounded rewrite per store; the
    log rewrite preserves ``_batch_seq`` partitioning so as_of pruning
    is intact."""
    spark = table.spark
    fs = table.fs
    k = F.broadcast(keys.select(*table.key_cols).distinct())
    table._recover_purge()

    # Each store: write the purged copy to its staged dir (reads the
    # live dir, writes staged — disjoint paths), then swap it in.
    dropped: dict[str, int] = {}
    # snapshot (plain parquet)
    snap = spark.read.parquet(table._snap_dir)
    keep = snap.join(k, table.key_cols, "left_anti")
    dropped["snapshot"] = snap.count() - keep.count()
    dirs = _purge_dirs(table._snap_dir)
    keep.write.mode("overwrite").parquet(dirs[0])
    swap_dirs(fs, *dirs)
    # log (partitioned by _batch_seq) — may not exist yet
    if fs.isdir(table._log_dir):
        log = spark.read.parquet(table._log_dir)
        keep = log.join(k, table.key_cols, "left_anti")
        dropped["log"] = log.count() - keep.count()
        dirs = _purge_dirs(table._log_dir)
        keep.write.mode("overwrite").partitionBy("_batch_seq").parquet(dirs[0])
        swap_dirs(fs, *dirs)
    else:
        dropped["log"] = 0
    # current state — a side table on the staged dir rebuilds the
    # bucketed layout (bucket dirs + schema/meta sidecars)
    cur = table.current.read()
    keep = cur.join(k, table.key_cols, "left_anti")
    dropped["current"] = cur.count() - keep.count()
    dirs = _purge_dirs(table._cur_dir)
    ParquetStateTable(
        spark, dirs[0], table.key_cols, table.current.n_buckets, fs=fs
    ).init(keep)
    swap_dirs(fs, *dirs)
    return dropped
