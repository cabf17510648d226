"""Seeded input generator for the CDC benchmark (numpy + pyarrow, no Spark).

Runs as its own process before any timing starts and writes, under
``--out``:

- ``snapshot/<table>.parquet``: op='r' envelopes for ``initial_load``;
- ``batches/bNNNNN.parquet``: change-envelope files, released to the
  system under test one by one (all tables of the workload mixed);
- ``warmup.parquet``: a small change file for an untimed warm-up merge
  on a throwaway state (not part of the truth);
- ``truth/<table>_snapshot.parquet`` and ``truth/<table>_events.parquet``:
  the same events as plain rows for the DuckDB oracle, with their Kafka
  (partition, offset), kind (``u`` upsert, ``d`` delete, ``t`` tombstone,
  ``m`` malformed), file index and scheduled creation time;
- ``manifest.json``: the workload shape (skew, delete / tombstone /
  malformed shares, sizes) and the release schedule of every file.

Envelope files carry the Kafka record columns the reference projects
(key, value, topic, partition, offset) with Debezium 1.x JSON in
``key``/``value``; a tombstone has ``value`` NULL. Keys map to one of
``PARTITIONS`` partitions by ``id % PARTITIONS``, and offsets grow per
partition, so (partition, offset) is a total last-write-wins order.

Usage: python3 perfbench/gen.py --workload NAME --seed N --seconds S --out DIR
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from config import (  # noqa: E402
    LOOKUP_ABSENT_SHARE,
    LOOKUP_KEYS,
    PARTITIONS,
    READ_ROUNDS_MAX,
    TABLES,
    WARMUP_EVENTS,
    WORKLOADS,
    topic_of,
)

ENVELOPE_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("value", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
    ]
)

_CATEGORIES = {
    "city": [f"city{i:02d}" for i in range(40)],
    "status": ["pending", "paid", "shipped", "delivered", "returned"],
    "category": [f"cat{i:02d}" for i in range(12)],
}


def column_values(rng: np.random.Generator, table: str, n: int, n_customers: int) -> dict[str, pa.Array]:
    """Random non-key column values for ``n`` rows of ``table``."""
    out: dict[str, pa.Array] = {}
    for name, typ in TABLES[table]["columns"]:
        if name == "id":
            continue
        if name in _CATEGORIES:
            vocab = np.array(_CATEGORIES[name])
            out[name] = pa.array(vocab[rng.integers(0, len(vocab), n)])
        elif typ == "string":
            out[name] = pc.binary_join_element_wise(
                "n", pc.cast(pa.array(rng.integers(0, 10**9, n)), pa.string()), ""
            )
        elif name == "customer_id":
            out[name] = pa.array(rng.integers(0, n_customers, n))
        else:
            out[name] = pa.array(rng.integers(0, 10**6, n))
    return out


def _json_field(name: str, typ: str, arr: pa.Array) -> list:
    text = pc.cast(arr, pa.string())
    if typ == "string":
        return [f'"{name}":"', text, '"']
    return [f'"{name}":', text]


def envelope_values(
    table: str, ids: pa.Array, cols: dict[str, pa.Array], kind: np.ndarray, ts_ms: pa.Array
) -> tuple[pa.Array, pa.Array]:
    """Debezium key/value JSON for every event, vectorized."""
    id_text = pc.cast(ids, pa.string())
    key = pc.binary_join_element_wise('{"payload":{"id":', id_text, "}}", "")
    parts: list = ['{"id":', id_text]
    for name, typ in TABLES[table]["columns"]:
        if name != "id":
            parts += [","] + _json_field(name, typ, cols[name])
    after = pc.binary_join_element_wise(*parts, "}", "")
    ts_text = pc.cast(ts_ms, pa.string())
    op = pa.array(np.where(kind == "r", "r", "u"))
    upsert = pc.binary_join_element_wise(
        '{"payload":{"before":null,"after":', after, ',"op":"', op, '","ts_ms":', ts_text, "}}", ""
    )
    delete = pc.binary_join_element_wise(
        '{"payload":{"before":{"id":', id_text, '},"after":null,"op":"d","ts_ms":', ts_text, "}}", ""
    )
    malformed = pc.binary_join_element_wise("corrupt-record-", id_text, "")
    kind_a = pa.array(kind)
    value = pc.if_else(
        pc.equal(kind_a, "d"),
        delete,
        pc.if_else(
            pc.equal(kind_a, "m"),
            malformed,
            pc.if_else(pc.equal(kind_a, "t"), pa.nulls(len(kind), pa.string()), upsert),
        ),
    )
    return key, value


class KeyDraw:
    """Change keys of one table: uniform over [0, key_space), or Zipf
    ranks mapped onto keys through one seeded permutation, so the same
    keys stay hot in every file and hot keys spread over buckets."""

    def __init__(self, rng: np.random.Generator, key_space: int, zipf: float | None):
        self.rng = rng
        self.key_space = key_space
        self.zipf = zipf
        self.perm = rng.permutation(key_space) if zipf is not None else None

    def __call__(self, n: int) -> np.ndarray:
        if self.zipf is None:
            return self.rng.integers(0, self.key_space, n)
        ranks = (self.rng.zipf(self.zipf, n) - 1) % self.key_space
        return self.perm[ranks]


def draw_kinds(rng: np.random.Generator, n: int, shares: dict[str, float]) -> np.ndarray:
    u = rng.random(n)
    kind = np.full(n, "u", dtype=object)
    lo = 0.0
    for k in ("d", "t", "m"):
        kind[(u >= lo) & (u < lo + shares[k])] = k
        lo += shares[k]
    return kind.astype(str)


class OffsetClock:
    """Per-partition Kafka offsets, continuing across files."""

    def __init__(self) -> None:
        self.next = np.zeros(PARTITIONS, dtype=np.int64)

    def assign(self, part: np.ndarray) -> np.ndarray:
        off = np.empty(len(part), dtype=np.int64)
        for p in range(PARTITIONS):
            m = part == p
            c = int(m.sum())
            off[m] = self.next[p] + np.arange(c)
            self.next[p] += c
        return off


def write_table(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def generate(workload: str, seed: int, seconds: float, out: str) -> dict:
    cfg = WORKLOADS[workload]
    rng = np.random.default_rng(seed)
    clocks = {t: OffsetClock() for t in cfg["tables"]}
    truth: dict[str, list[pa.Table]] = {t: [] for t in cfg["tables"]}
    base_ts = 1_700_000_000_000

    n_customers = cfg["tables"]["customers"]  # every workload has customers (the lookups read them)

    for t, n in cfg["tables"].items():
        ids = pa.array(np.arange(n, dtype=np.int64))
        cols = column_values(rng, t, n, n_customers)
        kind = np.full(n, "r")
        part = (np.arange(n) % PARTITIONS).astype(np.int32)
        offs = clocks[t].assign(part)
        ts = pa.array(np.full(n, base_ts, dtype=np.int64))
        key, value = envelope_values(t, ids, cols, kind, ts)
        write_table(
            f"{out}/snapshot/{t}.parquet",
            pa.table([key, value, pa.array([topic_of(t)] * n), pa.array(part), pa.array(offs)],
                     schema=ENVELOPE_SCHEMA),
        )
        write_table(f"{out}/truth/{t}_snapshot.parquet", pa.table({"id": ids, **cols}))

    keys = {t: KeyDraw(rng, int(n * cfg["key_space"]), cfg["zipf"]) for t, n in cfg["tables"].items()}

    def change_file(size: int, f: int, clocks: dict[str, OffsetClock], first_event: int):
        """One change file's envelopes plus, per table, its truth rows."""
        counts = rng.multinomial(size, cfg["table_shares"])  # split across tables by share
        pieces, rows = [], {}
        event_no = first_event
        for t, n in zip(cfg["tables"], counts.tolist()):
            if n == 0:
                continue
            ids_np = keys[t](n)
            kind = draw_kinds(rng, n, cfg["shares"])
            cols = column_values(rng, t, n, n_customers)
            part = (ids_np % PARTITIONS).astype(np.int32)
            offs = clocks[t].assign(part)
            seq = np.arange(event_no, event_no + n)
            event_no += n
            # scheduled creation, evenly spaced at the offered rate (open
            # loop); a closed loop stamps the release time at run time
            due = (seq + 1) / cfg["rate"] if cfg["rate"] else np.zeros(n)
            ids = pa.array(ids_np.astype(np.int64))
            key, value = envelope_values(t, ids, cols, kind, pa.array(base_ts + 1 + seq))
            pieces.append(
                pa.table([key, value, pa.array([topic_of(t)] * n), pa.array(part), pa.array(offs)],
                         schema=ENVELOPE_SCHEMA)
            )
            rows[t] = pa.table(
                {
                    "id": ids,
                    "partition": pa.array(part),
                    "offset": pa.array(offs),
                    "kind": pa.array(kind),
                    **cols,
                    "file": pa.array(np.full(n, f, dtype=np.int32)),
                    "due_s": pa.array(due),
                }
            )
        return pa.concat_tables(pieces), rows

    # untimed warm-up batch for a throwaway state: own offsets, no truth
    warm, _ = change_file(min(cfg["events_per_file"], WARMUP_EVENTS), -1,
                          {t: OffsetClock() for t in cfg["tables"]}, 0)
    write_table(f"{out}/warmup.parquet", warm)

    if cfg["rate"]:
        n_files = math.ceil(seconds * cfg["publish_share"] * cfg["rate"] / cfg["events_per_file"])
    else:
        n_files = cfg["files"](seconds)
    files = []
    event_no = 0
    for f in range(n_files):
        tbl, rows = change_file(cfg["events_per_file"], f, clocks, event_no)
        event_no += tbl.num_rows
        for t, r in rows.items():
            truth[t].append(r)
        name = f"b{f:05d}.parquet"
        write_table(f"{out}/batches/{name}", tbl)
        release = event_no / cfg["rate"] if cfg["rate"] else 0.0
        files.append({"name": name, "events": tbl.num_rows, "release_s": release})

    # point-lookup key sets on customers: present keys plus a share of
    # keys outside the key space, which must come back empty
    space = int(cfg["tables"]["customers"] * cfg["key_space"])
    n_sets = 1 + cfg["lookups_per_round"] * (len(files) + READ_ROUNDS_MAX)  # set 0 warms up
    lk = rng.integers(0, space, (n_sets, LOOKUP_KEYS))
    absent = rng.random((n_sets, LOOKUP_KEYS)) < LOOKUP_ABSENT_SHARE
    lk[absent] += 2 * space
    write_table(
        f"{out}/lookups.parquet",
        pa.table({"set": np.repeat(np.arange(n_sets), LOOKUP_KEYS), "id": lk.reshape(-1)}),
    )

    stats = {}
    for t in cfg["tables"]:
        ev = pa.concat_tables(truth[t])
        write_table(f"{out}/truth/{t}_events.parquet", ev)
        kinds = ev.column("kind").to_numpy(zero_copy_only=False)
        ids_np = ev.column("id").to_numpy()
        _, key_counts = np.unique(ids_np, return_counts=True)
        top = np.sort(key_counts)[::-1][: max(1, len(key_counts) // 100)]
        stats[t] = {
            "events": int(len(kinds)),
            "delete_share": float(np.mean(kinds == "d")),
            "tombstone_share": float(np.mean(kinds == "t")),
            "malformed_share": float(np.mean(kinds == "m")),
            "distinct_keys": int(len(key_counts)),
            "top1pct_key_share": float(top.sum() / len(ids_np)),
        }
    manifest = {
        "workload": workload,
        "seed": seed,
        "zipf": cfg["zipf"],
        "rate_events_per_s": cfg["rate"],
        "files": files,
        "tables": stats,
    }
    with open(f"{out}/manifest.json", "w") as fh:
        json.dump(manifest, fh)
    return manifest


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.workload, a.seed, a.seconds, a.out)


if __name__ == "__main__":
    main()
