"""Workload and table definitions shared by the generator and the runner.

Why these three workloads (see README.md for the layer → metric map):

- ``backfill_bulk``: large uniform-key change batches; nearly every
  rewritten row is a real change, so parse and compact dominate and
  merge-side tricks barely move it.
- ``trickle_stream``: an open-loop, Zipf-skewed stream at 400 events/s,
  a rate the engine sustains with room to spare (near saturation the
  backlog, and with it freshness, swings with every change in speed);
  per-batch fixed cost and the touched-bucket rewrite dominate
  freshness, parse does little.
- ``mixed_serving``: a three-table stream shaped like the reference's
  inventory db, in a closed loop with point lookups and a rollup scan
  after every batch, so write-path gains that hurt reads show.
"""

from __future__ import annotations

import math

#: Kafka-style partitions per topic; a key always lands on ``id % PARTITIONS``.
PARTITIONS = 4
#: Hash buckets of every state table (the engine's default).
N_BUCKETS = 64
#: Keys per point lookup (about 17 of the 64 buckets hold one).
LOOKUP_KEYS = 20
#: Most read rounds after an open loop's write phase.
READ_ROUNDS_MAX = 8
#: Change events of the untimed warm-up merge.
WARMUP_EVENTS = 2000
#: Rollup scans per read round.
SCANS_PER_ROUND = 3
#: Share of looked-up keys drawn from outside the key space (must miss).
LOOKUP_ABSENT_SHARE = 0.1

#: Column layout per table; ``rollup`` is (group column, summed column)
#: of the full-state scan. ``id`` is the key of every table.
TABLES = {
    "customers": {
        "columns": [("id", "long"), ("name", "string"), ("city", "string"), ("balance", "long")],
        "rollup": ("city", "balance"),
    },
    "orders": {
        "columns": [("id", "long"), ("customer_id", "long"), ("status", "string"), ("amount", "long")],
        "rollup": ("status", "amount"),
    },
    "products": {
        "columns": [("id", "long"), ("name", "string"), ("category", "string"), ("price", "long")],
        "rollup": ("category", "price"),
    },
}


def topic_of(table: str) -> str:
    return f"dbserver1.inventory.{table}"


#: Per workload:
#: ``tables``       — snapshot rows per table;
#: ``entry``        — ``registry`` drains the stream with
#:                    ``CdcRegistry.run_stream``, ``stream`` with
#:                    ``run_cdc_stream``;
#: ``table_shares`` — share of change events per table;
#: ``key_space``    — change keys are drawn from [0, rows × key_space),
#:                    so keys above ``rows`` are inserts;
#: ``zipf``         — Zipf exponent of change keys (None = uniform);
#: ``shares``       — delete / tombstone / malformed shares of events;
#: ``rate``         — open-loop offered rate in events/s (0 = closed loop);
#: ``events_per_file`` — change events per file;
#: ``files(seconds)`` — change files a closed loop may release (it stops
#:                    at the end of the run and reads after each batch);
#: ``publish_share`` — share of the run an open loop publishes for,
#:                    before the stream drains and the read rounds run;
#: ``lookups_per_round`` — point lookups per read round; each round
#:                    ends with ``SCANS_PER_ROUND`` rollup scans.
WORKLOADS = {
    "backfill_bulk": {
        "tables": {"customers": 25_000},
        "entry": "registry",
        "table_shares": [1.0],
        "key_space": 1.05,
        "zipf": None,
        "shares": {"d": 0.10, "t": 0.002, "m": 0.0005},
        "rate": 0,
        "events_per_file": 50_000,
        "files": lambda s: max(3, math.ceil(s / 5)),
        "lookups_per_round": 2,
    },
    "trickle_stream": {
        "tables": {"customers": 25_000},
        "entry": "stream",
        "table_shares": [1.0],
        "key_space": 1.0,
        "zipf": 1.1,
        "shares": {"d": 0.10, "t": 0.005, "m": 0.001},
        "rate": 400,
        "events_per_file": 100,
        "publish_share": 0.6,
        "lookups_per_round": 2,
    },
    "mixed_serving": {
        "tables": {"customers": 50_000, "orders": 100_000, "products": 10_000},
        "entry": "registry",
        "table_shares": [0.3, 0.6, 0.1],
        "key_space": 1.02,
        "zipf": None,
        "shares": {"d": 0.10, "t": 0.002, "m": 0.001},
        "rate": 0,
        "events_per_file": 3000,
        "files": lambda s: max(3, math.ceil(s / 5)),
        "lookups_per_round": 2,
    },
}
