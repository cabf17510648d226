"""Multi-table CDC registry + topic routing.

The reference hardcodes ONE table's schema and merge column maps
(`DebeziumDeltaFormatter.scala:59-65`, `StreamingJobExecutor.scala:57,59`)
and lists the dynamic version as future work (README.md:51). This is
that generalization: a registry of :class:`TableSpec` keyed by Kafka
topic; one stream carrying many tables' change events fans out to one
parse→compact→merge per table inside a single ``foreachBatch``.

Scale note: the per-table work partitions by each table's merge key, so
tables process independently (Spark schedules the per-table jobs from
one batch concurrently when cores allow). The topic filter is a
pushdown-friendly equality on the Kafka ``topic`` column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.envelope import TableSpec
from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable
from spark_streaming_with_debezium_spark.cdc.pipeline import (
    batch_apply,
    quarantine_batch,
)


class CdcRegistry:
    """Topic → (TableSpec, state table) routing."""

    def __init__(
        self,
        spark: SparkSession,
        state_root: str,
        n_buckets: int = 64,
        drift_policy: str | None = None,
        unknown_topic_dir: str | None = None,
    ):
        self.spark = spark
        self.state_root = state_root
        self.n_buckets = n_buckets
        #: 'evolve' | 'strict' | None — per-table in-band schema drift
        #: handling (cdc/drift.py); evolved specs replace the route's
        #: spec so later batches parse with the widened schema.
        self.drift_policy = drift_policy
        #: When set, events on topics with NO registered route land
        #: here (raw, partitioned by batch_id) instead of vanishing —
        #: the operational tell for a connector publishing a table
        #: nobody registered (new table, typo'd topic prefix). None
        #: keeps the old drop behavior.
        self.unknown_topic_dir = unknown_topic_dir
        self._routes: dict[str, tuple[TableSpec, ParquetStateTable]] = {}

    def register(self, spec: TableSpec) -> ParquetStateTable:
        if not spec.topic:
            raise ValueError(f"TableSpec {spec.name} needs a topic for routing")
        state = ParquetStateTable(
            self.spark,
            f"{self.state_root}/{spec.name}",
            key_cols=list(spec.key_cols),
            n_buckets=self.n_buckets,
        )
        self._routes[spec.topic] = (spec, state)
        return state

    def topics(self) -> Sequence[str]:
        return list(self._routes)

    def state_of(self, name: str) -> ParquetStateTable:
        for spec, state in self._routes.values():
            if spec.name == name:
                return state
        raise KeyError(name)

    def apply_batch(self, raw_batch: DataFrame, batch_id: int = 0) -> None:
        """foreachBatch body: route by topic, then per-table
        parse→compact→merge. Tables absent from the batch are skipped
        via the cheap topic filter (no parse cost)."""
        raw_batch = raw_batch.persist()
        try:
            present = {
                r.topic
                for r in raw_batch.select("topic").distinct().collect()
            }
            unknown = [t for t in present if t not in self._routes]
            if unknown and self.unknown_topic_dir:
                quarantine_batch(
                    raw_batch.filter(F.col("topic").isin(unknown)),
                    self.unknown_topic_dir, "batch_id", batch_id,
                )
            for topic in present:
                route = self._routes.get(topic)
                if route is None:
                    continue  # unregistered: captured above (or dropped)
                spec, state = route
                table_batch = raw_batch.filter(F.col("topic") == topic)
                if self.drift_policy is not None:
                    from spark_streaming_with_debezium_spark.cdc.drift import (
                        apply_drift,
                    )

                    spec = apply_drift(
                        table_batch, spec, state, policy=self.drift_policy
                    )
                    self._routes[topic] = (spec, state)
                batch_apply(table_batch, spec, state)
        finally:
            raw_batch.unpersist()

    def run_stream(self, raw_stream: DataFrame, checkpoint_dir: str,
                   available_now: bool = True):
        """One streaming query driving every registered table."""
        writer = (
            raw_stream.writeStream.foreachBatch(self.apply_batch)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
