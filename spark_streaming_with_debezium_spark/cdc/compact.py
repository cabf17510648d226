"""Last-write-wins compaction of a change batch (SURVEY §2.5 W1).

The reference gets in-batch ordering implicitly by replaying events one
at a time through the driver (`DebeziumDeltaFormatter.scala:14-26`); a
set-based merge instead errors on duplicate keys (Delta's
multiple-match error — reference defect §2.11-4). Compacting each batch
to the latest event per key BEFORE merging fixes that and is also the
scale win: the merge join then touches each key once, however many
events the batch carried.

Implementation: a single hash-partitioned window (shuffle on the merge
key — the same shuffle the merge join needs, so at scale Catalyst
reuses the partitioning) + ``row_number() == 1``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compact_latest(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("ts_ms",),
) -> DataFrame:
    """Keep only the latest change row per key (highest ``order_cols``).

    ``order_cols`` must be a total order within a key — for Kafka input
    use ``("partition", "offset")``; for synthesized batches a
    monotone sequence id. (Debezium guarantees per-key ordering within
    a topic partition, so (partition, offset) is a correct LWW order.)
    """
    ordering = [F.col(c).desc_nulls_last() for c in order_cols]
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*ordering)
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def compact_latest_agg(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("ts_ms",),
) -> DataFrame:
    """Skew-robust LWW compaction: ``max_by(struct(payload),
    struct(order))`` instead of a window.

    Same result as :func:`compact_latest` whenever ``order_cols`` is a
    total order within each key (the documented contract), but the
    aggregate formulation gets PARTIAL AGGREGATION: a pathological hot
    key (one key = half the batch — a re-imported row, a null-key
    default, query4's scenario at scale) is reduced map-side on every
    input partition before one row per key crosses the shuffle. The
    window formulation must instead ship every hot-key event into a
    single task's sort — the straggler this variant exists to avoid.
    Use it when batches can carry heavy key skew; the window form
    remains the default because its shuffle is the same hash
    partitioning the downstream merge join reuses.

    Latest wins, as in ``compact_latest``."""
    key_cols = list(key_cols)
    payload = [c for c in changes.columns if c not in key_cols]
    ord_struct = F.struct(*[F.col(c) for c in order_cols])
    picked = changes.groupBy(*key_cols).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), ord_struct).alias("_p")
    )
    return picked.select(
        *key_cols, *[F.col(f"_p.{c}").alias(c) for c in payload]
    )
