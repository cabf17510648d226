"""Traced-run wrappers around the engine's public calls.

Installed by ``run.py --trace 1`` and undone before it exits. Lazy
layers (envelope parse, LWW compaction) fuse into the merge's plan, so
each batch is also materialised stage by stage into Spark's ``noop``
sink beside the real ``batch_apply`` span ("probe" spans; they are
children of the foreachBatch span and not of ``pipeline.batch``).

Merge counts come from outside too: the job ids the merge added to the
stream's job group (``statusTracker``), and the bucket files it
replaced, found by listing the state directory before and after.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter

from spark_streaming_with_debezium_spark.cdc import pipeline, registry
from spark_streaming_with_debezium_spark.cdc.compact import compact_latest
from spark_streaming_with_debezium_spark.cdc.envelope import dead_letters, parse_envelope
from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable, bucket_of
from spark_streaming_with_debezium_spark.storage.fs import LocalFS

from tracer import Patches, Tracer

FS_OPS = ("exists", "isdir", "listdir", "mkdirs", "delete", "rename", "read_text", "write_text_atomic")


def bucket_files(path: str) -> dict[str, int]:
    """``_bucket=N/<file>.parquet`` → size in bytes, for every bucket file."""
    out = {}
    if not os.path.isdir(path):
        return out
    for d in os.listdir(path):
        if d.startswith("_bucket="):
            for f in os.listdir(os.path.join(path, d)):
                if f.endswith(".parquet"):
                    out[f"{d}/{f}"] = os.path.getsize(os.path.join(path, d, f))
    return out


def parquet_rows(path: str, files) -> int:
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows for f in files)


def _materialise(tracer: Tracer, name: str, df) -> int:
    """Run ``df`` into the noop sink inside a span; returns its row count."""
    obs = Observation()
    with tracer.span(name) as s:
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    s.attrs["rows"] = int(obs.get["n"])
    return s.attrs["rows"]


def probe_batch(tracer: Tracer, raw, spec, seq_cols) -> None:
    seq = tuple(c for c in seq_cols if c in raw.columns)
    with tracer.span("probe.rows_in") as s:
        s.attrs["rows"] = raw.count()
    with tracer.span("probe.dead_letters") as s:
        s.attrs["rows"] = dead_letters(raw, spec).count()
    parsed = parse_envelope(raw, spec, seq_cols=seq)
    _materialise(tracer, "probe.parse", parsed)
    _materialise(tracer, "probe.compact", compact_latest(parsed, spec.key_cols, order_cols=seq or ("ts_ms",)))


def lookup_counts(state: ParquetStateTable, keys) -> tuple[int, int]:
    """(buckets, bucket files) a lookup of ``keys`` has to read."""
    buckets = {
        r._bucket
        for r in bucket_of(keys.select(*state.key_cols).distinct(), state.key_cols, state.n_buckets)
        .select("_bucket")
        .distinct()
        .collect()
    }
    files = [f for f in bucket_files(state.path) if int(f.split("/")[0].split("=")[1]) in buckets]
    return len(buckets), len(files)


def install(tracer: Tracer, spark) -> Patches:
    patches = Patches()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def wrap_foreach_batch(original):
        def foreachBatch(self, func):
            def traced(df, batch_id):
                with tracer.span("route", batch=batch_id):
                    func(df, batch_id)

            return original(self, traced)

        return foreachBatch

    patches.wrap(DataStreamWriter, "foreachBatch", wrap_foreach_batch)

    def wrap_batch_apply(original):
        def batch_apply(raw_batch, spec, state, seq_cols=("partition", "offset")):
            probe_batch(tracer, raw_batch, spec, seq_cols)
            with tracer.span("pipeline.batch", table=spec.name):
                original(raw_batch, spec, state, seq_cols)

        return batch_apply

    # run_cdc_stream calls pipeline.batch_apply; the registry holds its own binding
    patches.wrap(pipeline, "batch_apply", wrap_batch_apply)
    patches.wrap(registry, "batch_apply", wrap_batch_apply)

    def wrap_merge(original):
        def merge(self, changes, data_cols=None):
            before = bucket_files(self.path)
            group = sc.getLocalProperty("spark.jobGroup.id")
            jobs_before = set(tracker.getJobIdsForGroup(group))
            with tracer.span("merge") as s:
                original(self, changes, data_cols)
            jobs = set(tracker.getJobIdsForGroup(group)) - jobs_before
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    stage = tracker.getStageInfo(st)
                    tasks += stage.numTasks if stage else 0
            after = bucket_files(self.path)
            new = [f for f in after if f not in before]
            gone = [f for f in before if f not in after]
            touched = {f.split("/")[0] for f in new + gone}
            s.attrs.update(
                touched=len(touched),
                n_buckets=self.n_buckets,
                rows_rewritten=parquet_rows(self.path, new),
                bytes_written=sum(after[f] for f in new),
                jobs=len(jobs),
                tasks=tasks,
            )

        return merge

    patches.wrap(ParquetStateTable, "merge", wrap_merge)

    def wrap_init(original):
        def init(self, snapshot):
            with tracer.span("init"):
                original(self, snapshot)

        return init

    patches.wrap(ParquetStateTable, "init", wrap_init)

    for op in FS_OPS:

        def wrap_fs(original, op=op):
            def fs_call(self, *args, **kwargs):
                with tracer.span(f"fs.{op}"):
                    return original(self, *args, **kwargs)

            return fs_call

        patches.wrap(LocalFS, op, wrap_fs)
    return patches
