"""Join-based MERGE (upsert/delete) on plain DataFrames — SURVEY §2.3 J5.

Reproduces the Delta merge of the reference
(`StreamingJobExecutor.scala:47-61`):

    MERGE INTO target t USING source s ON s.<key> = t.<key>
    WHEN MATCHED AND s.deleted THEN DELETE
    WHEN MATCHED THEN UPDATE SET * (data cols)
    WHEN NOT MATCHED [AND NOT s.deleted] THEN INSERT *

without requiring delta-spark: one full-outer join + ``coalesce``
projection. Catalyst plans it as a single shuffle on the key (AQE turns
it into a broadcast join when the change batch is small — the common
CDC case).

Scale notes (100 TB state):
- The expensive part is rewriting state. ``apply_changes`` is the pure
  dataframe→dataframe kernel; ``merge_into_parquet`` adds the storage
  strategy: state is hash-bucketed into ``n_buckets`` by key, only
  buckets actually containing changed keys are rewritten (computed by
  projecting bucket ids from the change batch), the rest are untouched
  files. That bounds each micro-batch's I/O to O(touched buckets), not
  O(state) — the same file-skipping idea Delta's merge gets from its
  log, on plain parquet.
- Reference defect §2.11-6 (unmatched DELETE inserts an empty row) is
  fixed: inserts are filtered to non-deleted rows.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_with_debezium_spark.storage.fs import (
    StateFS,
    fragmented_partitions,
    fs_for_path,
    recover_swap,
    swap_dirs,
)


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    data_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Apply a compacted change batch to a target state DataFrame.

    ``changes`` must hold at most one row per key (run
    :func:`compact_latest` first) with columns ``key_cols`` +
    ``data_cols`` + ``deleted``. Returns the new state with the
    target's schema.

    Semantics per key:
      matched & deleted      -> row dropped
      matched & not deleted  -> after-image replaces target row
      unmatched & not deleted-> after-image inserted
      unmatched & deleted    -> no-op (defect §2.11-6 fixed)
      target-only            -> kept as-is
    """
    key_cols = list(key_cols)
    if data_cols is None:
        data_cols = [c for c in target.columns if c not in key_cols]
    src = changes.select(
        *key_cols, *[c for c in data_cols], F.col("deleted").alias("_deleted")
    )

    t = target.alias("t")
    s = src.alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols]
    joined = t.join(s, cond, "full_outer")

    matched = F.col("s._deleted").isNotNull()  # source row exists for this key
    # Keep: target-only rows, and source rows that are not deletes.
    keep = (~matched) | (~F.col("s._deleted"))

    out_cols = [
        F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k) for k in key_cols
    ]
    for c in target.columns:
        if c in key_cols:
            continue
        if c in data_cols:
            # When the source row exists (non-delete), its image wins even
            # if the new value is NULL — hence when(), not coalesce().
            out_cols.append(
                F.when(matched & ~F.col("s._deleted"), F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
            )
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    return joined.filter(keep).select(*out_cols)


def bucket_of(df: DataFrame, key_cols: Sequence[str], n_buckets: int) -> DataFrame:
    """Add a deterministic ``_bucket`` column = hash(key) mod n_buckets."""
    h = F.xxhash64(*[F.col(k) for k in key_cols])
    return df.withColumn("_bucket", F.pmod(h, F.lit(n_buckets)).cast("int"))


class ParquetStateTable:
    """Keyed mutable state on plain parquet, hash-bucketed by key.

    The engine's stand-in for the reference's Delta table
    (`StreamingJobExecutor.scala:18`): ``merge`` rewrites only the
    buckets that contain changed keys (partition-overwrite), so
    per-batch I/O is proportional to touched buckets. At 100 TB with
    n_buckets=8192 and a typical CDC batch touching a few thousand
    keys, a merge rewrites well under 1% of the table.

    Storage: every file operation in the commit protocol goes through
    :class:`~spark_streaming_with_debezium_spark.storage.fs.StateFS`,
    selected by the path's URI scheme — a bare local path uses POSIX,
    while ``hdfs://``/``s3a://``/``file://`` paths use the Hadoop
    FileSystem client, so the same park/land/drop swap
    (:func:`~spark_streaming_with_debezium_spark.storage.fs.swap_dirs`)
    runs against the lake the reference targets
    (`StreamingJobExecutor.scala:18`), not just an ext4 mount.
    """

    #: (staged, parked) suffixes of the sibling dirs each swap uses;
    #: rebucket swaps the whole table dir, the others bucket dirs.
    _SWAPS = {
        "rebucket": ("_rebucket_new", "_rebucket_old"),
        "merge": ("_merge_tmp", "_merge_old"),
        "compact": ("_compact_tmp", "_compact_old"),
    }

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        n_buckets: int = 64,
        fs: StateFS | None = None,
    ):
        self.spark = spark
        self.path = path
        self.fs = fs if fs is not None else fs_for_path(spark, path)
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        for op in self._SWAPS:
            self._recover(op)
        # The STORED bucket count wins over the constructor arg: after a
        # rebucket, a reader opening with a stale n_buckets would prune
        # and write buckets under the WRONG modulus (silent key loss).
        stored_n = self._stored_n_buckets()
        if stored_n is not None:
            self.n_buckets = stored_n

    @property
    def _meta_file(self) -> str:
        return os.path.join(self.path, "_table_meta.json")

    def _stored_n_buckets(self) -> int | None:
        if self.fs.exists(self._meta_file):
            return int(json.loads(self.fs.read_text(self._meta_file))["n_buckets"])
        return None

    def _write_meta(self, target_dir: str, n_buckets: int) -> None:
        self.fs.write_text_atomic(
            os.path.join(target_dir, "_table_meta.json"),
            json.dumps({"n_buckets": n_buckets}),
        )

    def _recover(self, op: str) -> tuple[str, str]:
        """Undo the leftovers of an interrupted ``op`` swap and return
        its (staged, parked) dirs, clear for the next swap. Runs on
        open and before each swap, so a replay on the same object
        starts from the recovered state too."""
        staged, parked = (self.path + suffix for suffix in self._SWAPS[op])
        recover_swap(self.fs, staged, self.path, parked, by_name=op != "rebucket")
        return staged, parked

    def rebucket(self, new_n_buckets: int) -> None:
        """Online bucket-count migration: rewrite the WHOLE table into a
        ``new_n_buckets`` hash layout and swap it in atomically — the
        operational move when a table outgrows its bucket count (bucket
        files past a few hundred MB make the touched-bucket rewrite
        coarse) or shrinks far below it (tiny-file overhead). One full
        read + one partitioned write (the same cost as init), no
        merge downtime: call between micro-batches from the single
        writer, exactly like :meth:`compact_buckets`. The new count is
        persisted in the table's meta sidecar, so every later reader
        and writer — whatever n_buckets its constructor guessed — uses
        the stored modulus."""
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        new_dir, old_dir = self._recover("rebucket")
        df = self.read()
        schema = self._stored_schema()
        bucketed = bucket_of(df, self.key_cols, new_n_buckets)
        bucketed.repartition(new_n_buckets, F.col("_bucket")).write.mode(
            "overwrite"
        ).partitionBy("_bucket").parquet(new_dir)
        if schema is not None:
            self.fs.write_text_atomic(
                os.path.join(new_dir, "_table_schema.json"),
                json.dumps(schema.jsonValue()),
            )
        self._write_meta(new_dir, new_n_buckets)
        swap_dirs(self.fs, new_dir, self.path, old_dir)
        self.n_buckets = new_n_buckets

    def exists(self) -> bool:
        return self.fs.exists(self.path)

    @property
    def _schema_file(self) -> str:
        return os.path.join(self.path, "_table_schema.json")

    def _stored_schema(self) -> T.StructType | None:
        if self.fs.exists(self._schema_file):
            return T.StructType.fromJson(
                json.loads(self.fs.read_text(self._schema_file))
            )
        return None

    def _read_bucketed(self) -> DataFrame:
        # An empty state (fresh table, or all rows deleted) has no parquet
        # files to infer from — fall back to the schema sidecar.
        schema = self._stored_schema()
        has_data = any(e.startswith("_bucket=") for e in self.fs.listdir(self.path))
        if has_data:
            if schema is not None:
                # Explicit sidecar schema: after a type widening, bucket
                # files of BOTH widths coexist; schema inference would
                # pick one footer and fail on the other width, while the
                # declared (widened) schema upcasts narrow files on read.
                read_schema = T.StructType(
                    list(schema.fields) + [T.StructField("_bucket", T.IntegerType())]
                )
                df = self.spark.read.schema(read_schema).parquet(self.path)
            else:
                df = self.spark.read.parquet(self.path)
            if "_bucket" not in df.columns:  # pragma: no cover
                df = bucket_of(df, self.key_cols, self.n_buckets)
            # post-evolve: files written before a schema widening lack the
            # new columns; align to the sidecar schema (NULL-filled)
            return self._align_to_schema(df, schema)
        if schema is None:
            raise FileNotFoundError(
                f"state table {self.path} not initialized (no data, no schema)"
            )
        empty_schema = T.StructType(
            list(schema.fields) + [T.StructField("_bucket", T.IntegerType())]
        )
        return self.spark.createDataFrame([], empty_schema)

    def read(self) -> DataFrame:
        return self._read_bucketed().drop("_bucket")

    def init(self, snapshot: DataFrame) -> None:
        """Bootstrap from a snapshot (the reference's initial-load job,
        `StreamingJobInitialExecutor.scala:44-51`, minus its per-batch
        append quirks: one partitioned write)."""
        if snapshot.isEmpty():
            # Empty bootstrap (fresh incremental table): a distributed
            # write of zero rows produces exactly an empty dir + the
            # schema sidecar, but costs a full Spark job (~5 s of fixed
            # scheduling at 32 cores). Produce the same on-disk state
            # directly; `_read_bucketed` already serves schema-only
            # tables from the sidecar.
            self.fs.delete(self.path)
            self.fs.mkdirs(self.path)
            self.fs.write_text_atomic(
                self._schema_file, json.dumps(snapshot.schema.jsonValue())
            )
            # Both init paths rewrite the table dir, so both must re-land
            # the bucket-count sidecar: a re-init after rebucket() that
            # dropped it would let a later reader fall back to its
            # constructor's n_buckets guess and prune/write buckets under
            # the wrong modulus (silent key loss).
            self._write_meta(self.path, self.n_buckets)
            return
        bucketed = bucket_of(snapshot, self.key_cols, self.n_buckets)
        # Align tasks with buckets: each task then writes exactly one
        # bucket file instead of every task writing a sliver of every
        # bucket (n_tasks × n_buckets small files).
        bucketed.repartition(self.n_buckets, F.col("_bucket")).write.mode(
            "overwrite"
        ).partitionBy("_bucket").parquet(self.path)
        self.fs.write_text_atomic(
            self._schema_file, json.dumps(snapshot.schema.jsonValue())
        )
        self._write_meta(self.path, self.n_buckets)

    #: Lossless numeric widenings Debezium emits on source type changes
    #: (e.g. INT column altered to BIGINT). Anything else (narrowing,
    #: string↔numeric, renames) needs an explicit rebuild.
    _WIDENINGS: frozenset = frozenset(
        {  # keys are DataType.simpleString() names
            ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
            ("smallint", "int"), ("smallint", "bigint"),
            ("int", "bigint"),
            ("float", "double"),
        }
    )

    def evolve(self, new_columns: dict[str, str]) -> None:
        """Schema evolution: add nullable columns and widen existing
        numeric columns (int→long, float→double, …).

        Existing bucket files stay untouched — reads apply the sidecar
        schema (missing columns read as NULL, narrower on-disk numerics
        upcast); newly merged buckets are written with the widened
        schema. Covers both evolutions Debezium produces routinely: the
        source table gaining a column, and a column's type being
        widened (the dynamic-schema capability the reference left as a
        TODO, README.md:51). Non-widening type changes raise.
        """
        schema = self._stored_schema()
        if schema is None:
            raise FileNotFoundError(f"state table {self.path} not initialized")
        fields = list(schema.fields)
        by_name = {f.name: i for i, f in enumerate(fields)}
        for name, dtype in new_columns.items():
            new_dt = T._parse_datatype_string(dtype)
            if name not in by_name:
                fields.append(T.StructField(name, new_dt))
                by_name[name] = len(fields) - 1
                continue
            old_dt = fields[by_name[name]].dataType
            if old_dt == new_dt:
                continue
            pair = (old_dt.simpleString(), new_dt.simpleString())
            if pair not in self._WIDENINGS:
                raise ValueError(
                    f"evolve: column {name!r} {pair[0]}→{pair[1]} is not a "
                    "lossless widening; rebuild the table instead"
                )
            fields[by_name[name]] = T.StructField(name, new_dt)
        self.fs.write_text_atomic(
            self._schema_file, json.dumps(T.StructType(fields).jsonValue())
        )

    @staticmethod
    def _align_to_schema(df: DataFrame, schema: T.StructType | None) -> DataFrame:
        """Project df onto the stored schema: NULL-fill columns the
        on-disk files don't have yet, and upcast columns written before
        a type widening (post-evolve reads)."""
        if schema is None:
            return df
        on_disk = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for f in schema.fields:
            if f.name not in on_disk:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif on_disk[f.name] != f.dataType:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(f.name))
        if "_bucket" in df.columns:
            cols.append(F.col("_bucket"))
        return df.select(*cols)

    def compact_buckets(self, min_files: int = 4) -> int:
        """Maintenance: rewrite buckets fragmented into many small files
        (each merge leaves one file per touched bucket, but crash-
        recovered or externally-appended buckets can fragment). Returns
        the number of buckets compacted. The 100 TB version runs this
        on a schedule against per-bucket file counts from the lake
        listing — same logic, same swap as merge()."""
        if not self.exists():
            return 0
        staged, parked = self._recover("compact")
        fragmented = fragmented_partitions(self.fs, self.path, "_bucket", min_files)
        if not fragmented:
            return 0
        sub = self._read_bucketed().filter(F.col("_bucket").isin(fragmented))
        sub = sub.repartition(len(fragmented), F.col("_bucket"))
        sub.write.mode("overwrite").partitionBy("_bucket").parquet(staged)
        swap_dirs(
            self.fs, staged, self.path, parked, [f"_bucket={b}" for b in fragmented]
        )
        return len(fragmented)

    def lookup(self, keys: DataFrame) -> DataFrame:
        """Point-lookup: the state rows whose key appears in ``keys``
        (a DataFrame carrying the key columns). Reads ONLY the buckets
        the requested keys hash into — the same partition pruning the
        merge path uses — so the cost is O(touched buckets), not
        O(state). The serving-path counterpart of ``merge``: 'give me
        these customers' current rows' without a full table scan."""
        keyed = bucket_of(
            keys.select(*self.key_cols).distinct(), self.key_cols, self.n_buckets
        )
        touched = [r._bucket for r in keyed.select("_bucket").distinct().collect()]
        if not touched:
            return self.read().limit(0)
        state = self._read_bucketed().filter(F.col("_bucket").isin(touched))
        return state.drop("_bucket").join(
            F.broadcast(keys.select(*self.key_cols).distinct()),
            self.key_cols,
            "left_semi",
        )

    def merge(self, changes: DataFrame, data_cols: Sequence[str] | None = None) -> None:
        """Merge a compacted change batch, rewriting only touched buckets."""
        changes = bucket_of(changes, self.key_cols, self.n_buckets).cache()
        try:
            touched = [r._bucket for r in changes.select("_bucket").distinct().collect()]
            if not touched:
                return
            staged, parked = self._recover("merge")
            # Partition pruning: only touched buckets are scanned.
            state = self._read_bucketed().filter(F.col("_bucket").isin(touched))
            # No forced broadcast: small CDC batches get broadcast by AQE
            # anyway; forcing it makes BIG batches (backfills) build a
            # driver-side broadcast relation of the whole change set.
            merged = apply_changes(
                state.drop("_bucket"),
                changes.drop("_bucket"),
                self.key_cols,
                data_cols=data_cols,
            )
            merged = bucket_of(merged, self.key_cols, self.n_buckets).repartition(
                max(len(touched), 1), F.col("_bucket")
            )
            # Stage the touched buckets, then swap them in; a touched
            # bucket with no staged copy (every key tombstoned) is dropped.
            merged.write.mode("overwrite").partitionBy("_bucket").parquet(staged)
            swap_dirs(
                self.fs, staged, self.path, parked, [f"_bucket={b}" for b in touched]
            )
        finally:
            changes.unpersist()
