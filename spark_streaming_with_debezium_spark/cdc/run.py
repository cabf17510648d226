"""Runnable CDC jobs — the application face of the engine.

The reference ships two mains: `StreamingJobInitialExecutor` (snapshot
bootstrap) and `StreamingJobExecutor` (continuous upsert). This module
is their spark-submit-able equivalent, generalized by the table
registry (schema from a DDL string instead of hardcoded columns):

    # snapshot bootstrap from a file/Kafka stream of envelopes
    python -m spark_streaming_with_debezium_spark.cdc.run \\
        --mode initial --source file --input /data/envelopes \\
        --table customers --keys id \\
        --schema "id long, first_name string, last_name string, email string" \\
        --state /lake/state --checkpoint /lake/ckpt

    # continuous upsert (add --kafka-servers + --topic for Kafka)
    python -m ... --mode stream --source kafka \\
        --kafka-servers broker:9092 --topic dbserver1.inventory.customers ...

File source expects JSON lines with key/value/partition/offset fields
(the Kafka projection shape); Kafka source requires the
spark-sql-kafka package on the classpath.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from spark_streaming_with_debezium_spark.cdc.envelope import TableSpec
from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable
from spark_streaming_with_debezium_spark.cdc.pipeline import (
    initial_load,
    kafka_reader,
    run_cdc_stream,
)
from spark_streaming_with_debezium_spark.session import get_spark

RAW_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
    ]
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="CDC ingest jobs")
    p.add_argument("--mode", choices=["initial", "stream"], required=True)
    p.add_argument("--source", choices=["file", "kafka"], default="file")
    p.add_argument("--input", help="file-source directory of envelope JSON lines")
    p.add_argument("--kafka-servers", default="localhost:9092")
    p.add_argument("--topic", default="")
    p.add_argument("--table", required=True)
    p.add_argument("--keys", required=True, help="comma-separated key columns")
    p.add_argument("--schema", required=True, help="DDL row schema")
    p.add_argument("--state", required=True, help="state table root path")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument(
        "--continuous",
        action="store_true",
        help="keep running (default drains available input and stops)",
    )
    return p


def run(args: argparse.Namespace, spark: SparkSession | None = None) -> None:
    spark = spark or get_spark(f"cdc-{args.mode}-{args.table}")
    spec = TableSpec(
        name=args.table,
        key_cols=tuple(k.strip() for k in args.keys.split(",")),
        value_schema=T.StructType.fromDDL(args.schema),
        topic=args.topic,
    )
    state = ParquetStateTable(
        spark, f"{args.state}/{args.table}", list(spec.key_cols), args.n_buckets
    )

    if args.mode == "initial":
        # bounded read of the snapshot events, one append materialization
        if args.source == "file":
            raw = spark.read.schema(RAW_SCHEMA).json(args.input)
        else:
            raise SystemExit("initial mode reads a bounded snapshot: use --source file")
        initial_load(raw, spec, state)
        return

    if not state.exists():
        state.init(spark.createDataFrame([], spec.value_schema))
    if args.source == "kafka":
        stream = kafka_reader(spark, args.kafka_servers, args.topic)
    else:
        stream = spark.readStream.schema(RAW_SCHEMA).json(args.input)
    q = run_cdc_stream(
        stream, spec, state, args.checkpoint, available_now=not args.continuous
    )
    q.awaitTermination()


def main() -> None:  # pragma: no cover - thin wrapper
    run(build_parser().parse_args())


if __name__ == "__main__":  # pragma: no cover
    main()
