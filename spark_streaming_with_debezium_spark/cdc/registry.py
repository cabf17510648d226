"""Multi-table CDC registry + topic routing.

The reference hardcodes ONE table's schema and merge column maps
(`DebeziumDeltaFormatter.scala:59-65`, `StreamingJobExecutor.scala:57,59`)
and lists the dynamic version as future work (README.md:51). This is
that generalization: one :class:`~.pipeline.TableStep` per registered
table, keyed by Kafka topic; one stream carrying many tables' change
events fans out, inside a single ``foreachBatch``, to the same per-table
step :func:`~.pipeline.run_cdc_stream` runs for one table.

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

# batch_apply stays importable from here: tracing wraps it by module.
from spark_streaming_with_debezium_spark.cdc.pipeline import (  # noqa: F401
    TableStep,
    batch_apply,
    quarantine_batch,
    start_foreach_batch,
)


class CdcRegistry:
    """Topic → :class:`TableStep` routing."""

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
        #: handling (cdc/drift.py); each table's step keeps its evolved
        #: spec for later batches.
        self.drift_policy = drift_policy
        #: When set, events on topics with NO registered route land
        #: here (raw, partitioned by batch_id) instead of vanishing —
        #: the operational tell for a connector publishing a table
        #: nobody registered (new table, typo'd topic prefix). None
        #: keeps the old drop behavior.
        self.unknown_topic_dir = unknown_topic_dir
        self._steps: dict[str, TableStep] = {}

    @property
    def _routes(self) -> dict[str, tuple[TableSpec, ParquetStateTable]]:
        """topic → (current spec, state table)."""
        return {t: (s.spec, s.state) for t, s in self._steps.items()}

    def register(self, spec: TableSpec) -> ParquetStateTable:
        if not spec.topic:
            raise ValueError(f"TableSpec {spec.name} needs a topic for routing")
        state = ParquetStateTable(
            self.spark,
            f"{self.state_root}/{spec.name}",
            key_cols=list(spec.key_cols),
            n_buckets=self.n_buckets,
        )
        self._steps[spec.topic] = TableStep(
            spec, state, drift_policy=self.drift_policy
        )
        return state

    def topics(self) -> Sequence[str]:
        return list(self._steps)

    def state_of(self, name: str) -> ParquetStateTable:
        for spec, state in self._routes.values():
            if spec.name == name:
                return state
        raise KeyError(name)

    def apply_batch(self, raw_batch: DataFrame, batch_id: int = 0) -> None:
        """foreachBatch body: route by topic, then run each present
        table's step. Tables absent from the batch are skipped via the
        cheap topic filter (no parse cost)."""
        raw_batch = raw_batch.persist()
        try:
            present = {
                r.topic
                for r in raw_batch.select("topic").distinct().collect()
            }
            unknown = [t for t in present if t not in self._steps]
            if unknown and self.unknown_topic_dir:
                quarantine_batch(
                    raw_batch.filter(F.col("topic").isin(unknown)),
                    self.unknown_topic_dir, "batch_id", batch_id,
                )
            for topic in present:
                step = self._steps.get(topic)
                if step is not None:  # unregistered: captured above (or dropped)
                    step(raw_batch.filter(F.col("topic") == topic), batch_id)
        finally:
            raw_batch.unpersist()

    def run_stream(self, raw_stream: DataFrame, checkpoint_dir: str,
                   available_now: bool = True):
        """One streaming query driving every registered table."""
        return start_foreach_batch(
            raw_stream, self.apply_batch, checkpoint_dir, available_now
        )
