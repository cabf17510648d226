"""Goldens for transaction-atomic multi-table CDC apply
(cdc/transactions.py): a source transaction spanning two tables and two
micro-batches must become visible all-at-once, never torn."""

import json

from pyspark.sql import types as T

from spark_streaming_with_debezium_spark.cdc.envelope import TableSpec
from spark_streaming_with_debezium_spark.cdc.registry import CdcRegistry
from spark_streaming_with_debezium_spark.cdc.transactions import (
    TxnBuffer,
    apply_batch_transactional,
)

RAW_COLS = "topic string, key string, value string, partition int, offset long"
TXN_TOPIC = "srv.transaction"


def _env(topic, op, key_id, off, fields, txn=None, part=0):
    payload = {
        "before": {"id": key_id} if op in ("d", "u") else None,
        "after": None if op == "d" else {"id": key_id, **fields},
        "source": {"ts_ms": 1},
        "op": op,
        "ts_ms": 1,
    }
    if txn is not None:
        payload["transaction"] = {"id": txn, "total_order": off}
    return (
        topic,
        json.dumps({"payload": {"id": key_id}}),
        json.dumps({"payload": payload}),
        part,
        off,
    )


def _end(txn, n, off):
    return (
        TXN_TOPIC,
        json.dumps({"payload": {"id": txn}}),
        json.dumps({"payload": {"status": "END", "id": txn, "event_count": n}}),
        0,
        off,
    )


def _setup(spark, tmp_path):
    reg = CdcRegistry(spark, str(tmp_path / "state"), n_buckets=4)
    orders = TableSpec(
        name="orders",
        key_cols=("id",),
        value_schema=T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("total", T.LongType()),
            ]
        ),
        topic="srv.db.orders",
    )
    customers = TableSpec(
        name="customers",
        key_cols=("id",),
        value_schema=T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("email", T.StringType()),
            ]
        ),
        topic="srv.db.customers",
    )
    so = reg.register(orders)
    sc = reg.register(customers)
    so.init(spark.createDataFrame([], "id long, total long"))
    sc.init(spark.createDataFrame([], "id long, email string"))
    buf = TxnBuffer(spark, str(tmp_path / "txnbuf"))
    return reg, buf, so, sc


def _state(t):
    return sorted(tuple(r) for r in t.read().collect())


def test_cross_table_cross_batch_atomicity(spark, tmp_path):
    reg, buf, so, sc = _setup(spark, tmp_path)

    # Batch 1: T1 touches orders (1 of its 2 events); T2 is a complete
    # single-event customers txn; plus one non-transactional event.
    b1 = spark.createDataFrame(
        [
            _env("srv.db.orders", "c", 1, 0, {"total": 10}, txn="T1"),
            _env("srv.db.customers", "c", 7, 1, {"email": "t2@x"}, txn="T2"),
            _end("T2", 1, 2),
            _env("srv.db.orders", "c", 99, 3, {"total": 5}),  # no txn
        ],
        RAW_COLS,
    )
    apply_batch_transactional(reg, buf, b1, TXN_TOPIC)
    # T1 must NOT be visible (incomplete); T2 and the bare event must.
    assert _state(so) == [(99, 5)]
    assert _state(sc) == [(7, "t2@x")]

    # Batch 2: T1's second event (customers) + its END(2) → both T1
    # events land atomically, across tables.
    b2 = spark.createDataFrame(
        [
            _env("srv.db.customers", "u", 7, 4, {"email": "t1@x"}, txn="T1"),
            _end("T1", 2, 5),
        ],
        RAW_COLS,
    )
    apply_batch_transactional(reg, buf, b2, TXN_TOPIC)
    assert _state(so) == [(1, 10), (99, 5)]
    assert _state(sc) == [(7, "t1@x")]

    # Crash-replay of batch 2: merge idempotence + offset dedup in the
    # buffer — state unchanged, buffer stays drained.
    apply_batch_transactional(reg, buf, b2, TXN_TOPIC)
    assert _state(so) == [(1, 10), (99, 5)]
    assert _state(sc) == [(7, "t1@x")]
    ev, ends, applied = buf.read()
    assert ev.count() == 0 and ends.count() == 0
    # the applied ledger remembers T1/T2 so late duplicates stay dropped
    assert sorted(r["txn_id"] for r in applied.collect()) == ["T1", "T2"]


def test_end_before_last_event_and_buffer_recovery(spark, tmp_path):
    reg, buf, so, sc = _setup(spark, tmp_path)

    # END arrives BEFORE the second event (cross-partition interleave).
    b1 = spark.createDataFrame(
        [
            _end("T9", 2, 0),
            _env("srv.db.orders", "c", 3, 1, {"total": 30}, txn="T9"),
        ],
        RAW_COLS,
    )
    apply_batch_transactional(reg, buf, b1, TXN_TOPIC)
    assert _state(so) == []

    # Reopen the buffer (process restart) — pending state must survive.
    buf2 = TxnBuffer(spark, buf.path)
    b2 = spark.createDataFrame(
        [_env("srv.db.customers", "c", 3, 2, {"email": "t9@x"}, txn="T9")],
        RAW_COLS,
    )
    apply_batch_transactional(reg, buf2, b2, TXN_TOPIC)
    assert _state(so) == [(3, 30)]
    assert _state(sc) == [(3, "t9@x")]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Each transaction k inserts key k into BOTH tables (unique keys, so no
# cross-transaction overwrites) — visibility of txn k is then exactly
# "key k present", checkable per table after every batch.
TXNS = st.integers(min_value=1, max_value=6)
CUTS = st.lists(st.integers(min_value=0, max_value=40), max_size=4)


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(n_txns=TXNS, cuts=CUTS)
def test_atomicity_any_batching(spark, tmp_path_factory, n_txns, cuts):
    """For ANY batching of the interleaved event stream: after every
    micro-batch each transaction is visible in BOTH tables or NEITHER,
    and after the final batch (all ENDs delivered) everything is
    visible. The event stream interleaves all transactions' events
    before any END, so mid-stream batches genuinely tear without the
    buffer."""
    tmp_path = tmp_path_factory.mktemp("txnprop")
    reg, buf, so, sc = _setup(spark, tmp_path)

    events = []
    off = 0
    for k in range(1, n_txns + 1):  # all data events first (interleaved)
        events.append(
            _env("srv.db.orders", "c", k, off, {"total": k * 10}, txn=f"T{k}")
        )
        off += 1
    for k in range(1, n_txns + 1):
        events.append(
            _env("srv.db.customers", "c", k, off, {"email": f"u{k}"}, txn=f"T{k}")
        )
        off += 1
    for k in range(1, n_txns + 1):  # then the END markers
        events.append(_end(f"T{k}", 2, off))
        off += 1

    bounds = sorted({min(c, len(events)) for c in cuts} | {len(events)})
    start = 0
    bid = 0
    for b in bounds:
        chunk = events[start:b]
        start = b
        bid += 1
        batch = spark.createDataFrame(chunk, RAW_COLS) if chunk else (
            spark.createDataFrame([], RAW_COLS)
        )
        apply_batch_transactional(reg, buf, batch, TXN_TOPIC, batch_id=bid)
        in_orders = {r["id"] for r in so.read().collect()}
        in_cust = {r["id"] for r in sc.read().collect()}
        assert in_orders == in_cust, (
            f"torn transaction(s): {in_orders ^ in_cust} after batch {bid}"
        )
    assert {r["id"] for r in so.read().collect()} == set(range(1, n_txns + 1))


def test_transactional_stream_with_checkpoint(spark, tmp_path):
    """The real writeStream path: incomplete transaction held back in
    batch 1, completed in batch 2 on the SAME checkpoint (only the new
    file processed), state visible only after completion."""
    from spark_streaming_with_debezium_spark.cdc.transactions import (
        run_transactional_stream,
    )

    reg, buf, so, sc = _setup(spark, tmp_path)
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    raw_schema = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
        ]
    )

    def _jl(row):
        return json.dumps(
            dict(zip(("topic", "key", "value", "partition", "offset"), row))
        )

    (src / "b1.json").write_text(
        _jl(_env("srv.db.orders", "c", 1, 0, {"total": 10}, txn="TX"))
    )
    run_transactional_stream(
        reg, buf, spark.readStream.schema(raw_schema).json(str(src)),
        ckpt, TXN_TOPIC,
    ).awaitTermination()
    assert _state(so) == []  # torn transaction never visible

    (src / "b2.json").write_text(
        "\n".join(
            [
                _jl(_env("srv.db.customers", "c", 1, 1, {"email": "x"}, txn="TX")),
                _jl(_end("TX", 2, 2)),
            ]
        )
    )
    run_transactional_stream(
        reg, buf, spark.readStream.schema(raw_schema).json(str(src)),
        ckpt, TXN_TOPIC,
    ).awaitTermination()
    assert _state(so) == [(1, 10)]
    assert _state(sc) == [(1, "x")]


def test_buffered_txn_event_does_not_overwrite_newer_bare_event(spark, tmp_path):
    """A transaction event buffered in batch 1 (offset 5) completes in
    batch 2, which also carries a bare event for the same key at offset
    9: both apply in one pass, so last-write-wins keeps offset 9."""
    reg, buf, so, sc = _setup(spark, tmp_path)
    b1 = spark.createDataFrame(
        [_env("srv.db.customers", "u", 7, 5, {"email": "old@x"}, txn="T5")],
        RAW_COLS,
    )
    apply_batch_transactional(reg, buf, b1, TXN_TOPIC, batch_id=0)
    assert _state(sc) == []  # T5 incomplete: buffered
    b2 = spark.createDataFrame(
        [
            _env("srv.db.customers", "u", 7, 9, {"email": "new@x"}),  # no txn
            _end("T5", 1, 10),
        ],
        RAW_COLS,
    )
    apply_batch_transactional(reg, buf, b2, TXN_TOPIC, batch_id=1)
    assert _state(sc) == [(7, "new@x")]
