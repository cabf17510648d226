"""StateFS abstraction: both backends behave identically, and the
ParquetStateTable commit protocol runs end-to-end through the Hadoop
FileSystem client (``file://`` scheme) — the proof that the state
layer's park/land/drop swaps are not bound to POSIX ``os.*`` calls and
would execute against hdfs:// / s3a:// paths unchanged."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_streaming_with_debezium_spark.cdc.merge import ParquetStateTable
from spark_streaming_with_debezium_spark.storage.fs import (
    HadoopFS,
    LocalFS,
    fs_for_path,
)


def _backends(spark, tmp_path):
    return [
        (LocalFS(), str(tmp_path / "local")),
        (HadoopFS(spark, "file://" + str(tmp_path)), "file://" + str(tmp_path / "hadoop")),
    ]


def test_fs_ops_equivalent(spark, tmp_path):
    for fs, root in _backends(spark, tmp_path):
        fs.mkdirs(root + "/sub")
        assert fs.exists(root) and fs.isdir(root + "/sub")
        assert not fs.exists(root + "/nope")
        assert fs.listdir(root + "/nope") == []

        fs.write_text_atomic(root + "/meta.json", '{"n": 16}')
        assert fs.read_text(root + "/meta.json") == '{"n": 16}'
        fs.write_text_atomic(root + "/meta.json", '{"n": 32}')  # replace
        assert fs.read_text(root + "/meta.json") == '{"n": 32}'
        # no tmp residue from the atomic write protocol
        assert sorted(fs.listdir(root)) == ["meta.json", "sub"]

        fs.rename(root + "/sub", root + "/sub2")
        assert fs.isdir(root + "/sub2") and not fs.exists(root + "/sub")
        # rename onto an existing target must fail on BOTH backends
        fs.mkdirs(root + "/sub3")
        with pytest.raises(Exception):
            fs.rename(root + "/sub2", root + "/sub3")

        fs.delete(root + "/sub2")
        assert not fs.exists(root + "/sub2")
        fs.delete(root + "/sub2")  # idempotent


def test_fs_for_path_scheme_routing(spark, tmp_path):
    assert isinstance(fs_for_path(spark, str(tmp_path)), LocalFS)
    assert isinstance(fs_for_path(spark, "file://" + str(tmp_path)), HadoopFS)


def test_state_table_lifecycle_on_hadoop_fs(spark, tmp_path):
    """The full ParquetStateTable protocol — init, merge
    (update/delete/insert with touched-bucket swap), evolve, rebucket
    with a stale reader, compact sweep, empty re-init — against a
    ``file://`` URI, i.e. entirely through the Hadoop FileSystem
    client."""
    path = "file://" + str(tmp_path / "state")
    st = ParquetStateTable(spark, path, ["id"], n_buckets=8)
    assert isinstance(st.fs, HadoopFS)

    st.init(
        spark.range(100).select("id", (F.col("id") * 2).alias("v"))
    )
    assert st.read().count() == 100

    st.merge(
        spark.createDataFrame(
            [(5, 999, False), (6, None, True), (200, 42, False)],
            "id long, v long, deleted boolean",
        )
    )
    got = {r["id"]: r["v"] for r in st.read().collect()}
    assert got[5] == 999 and 6 not in got and got[200] == 42
    assert len(got) == 100  # 100 - 1 delete + 1 insert
    # no scratch residue next to the table
    parent_entries = st.fs.listdir("file://" + str(tmp_path))
    assert not any("tmp" in e for e in parent_entries)

    st.evolve({"w": "long"})
    assert {r["id"]: r["w"] for r in st.read().collect()}[5] is None

    st.rebucket(16)
    stale = ParquetStateTable(spark, path, ["id"], n_buckets=8)
    assert stale.n_buckets == 16
    stale.merge(
        spark.createDataFrame(
            [(7, 777, 1, False)], "id long, v long, w long, deleted boolean"
        )
    )
    got = {r["id"]: (r["v"], r["w"]) for r in stale.read().collect()}
    assert got[7] == (777, 1) and len(got) == 100

    assert st.fs.exists(path + "/_table_meta.json")
    st.compact_buckets(min_files=1)  # exercises the listdir+swap path

    st.init(spark.createDataFrame([], "id long, v long, w long"))
    assert st.read().count() == 0
    reader = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    assert reader.n_buckets == 16  # meta survived the empty re-init


def test_crash_recovery_protocols_on_hadoop_fs(spark, tmp_path):
    """The two park/land/drop swap protocols recover from planted crash
    states when ALL file operations go through the Hadoop client — the
    recovery logic is protocol-level, not POSIX-level."""
    from pyspark.sql import functions as F

    from spark_streaming_with_debezium_spark.cdc.timetravel import (
        TimeTravelStateTable,
    )

    # --- rebucket crash: parked old layout, live dir missing → rollback
    path = "file://" + str(tmp_path / "st")
    st = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    st.init(spark.range(50).select("id", (F.col("id") * 2).alias("v")))
    st.rebucket(8)
    before = sorted(tuple(r) for r in st.read().collect())
    st.fs.rename(path, path + "_rebucket_old")  # simulate crash mid-swap
    re = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    assert re.n_buckets == 8
    assert sorted(tuple(r) for r in re.read().collect()) == before
    assert not re.fs.exists(path + "_rebucket_old")

    # --- compact_log crash BEFORE swap (tmp+marker+old snapshot) → rollback
    tpath = "file://" + str(tmp_path / "tt")
    t = TimeTravelStateTable(spark, tpath, ["id"], n_buckets=4)
    t.init(spark.createDataFrame([(1, "a")], "id long, v string"))
    chg = "id long, v string, deleted boolean"
    t.merge_logged(spark.createDataFrame([(2, "b", False)], chg))
    t.merge_logged(spark.createDataFrame([(3, "c", False)], chg))
    expect2 = sorted(tuple(r) for r in t.as_of(2).collect())
    tmp_dir = t._snap_dir + "_folding"
    pend = t._base_seq_path + ".pending"
    t.as_of(1).write.mode("overwrite").parquet(tmp_dir)
    t.fs.write_text_atomic(pend, "1")
    re1 = TimeTravelStateTable(spark, tpath, ["id"], n_buckets=4)
    assert not re1.fs.isdir(tmp_dir) and not re1.fs.exists(pend)
    assert re1._base_seq == 0
    assert sorted(tuple(r) for r in re1.as_of(2).collect()) == expect2

    # --- crash MID-swap (snapshot gone, tmp+marker present) → roll forward
    re1.as_of(1).write.mode("overwrite").parquet(tmp_dir)
    re1.fs.write_text_atomic(pend, "1")
    re1.fs.delete(re1._snap_dir)
    re2 = TimeTravelStateTable(spark, tpath, ["id"], n_buckets=4)
    assert re2._base_seq == 1
    assert re2.fs.isdir(re2._snap_dir) and not re2.fs.exists(pend)
    assert sorted(tuple(r) for r in re2.as_of(2).collect()) == expect2


def test_timetravel_and_txn_buffer_on_hadoop_fs(spark, tmp_path):
    """The versioned stores built on the same protocols — time-travel
    log fold and the transaction buffer's write-then-pointer commit —
    also run fully through the Hadoop client."""
    from spark_streaming_with_debezium_spark.cdc.timetravel import (
        TimeTravelStateTable,
    )
    from spark_streaming_with_debezium_spark.cdc.transactions import TxnBuffer

    tt = TimeTravelStateTable(
        spark, "file://" + str(tmp_path / "tt"), ["id"], n_buckets=4
    )
    assert isinstance(tt.fs, HadoopFS)
    tt.init(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    tt.merge_logged(
        spark.createDataFrame([(1, "a2", False)], "id long, v string, deleted boolean")
    )
    tt.merge_logged(
        spark.createDataFrame([(2, None, True)], "id long, v string, deleted boolean")
    )
    assert {r["id"]: r["v"] for r in tt.read().collect()} == {1: "a2"}
    assert {r["id"]: r["v"] for r in tt.as_of(1).collect()} == {1: "a2", 2: "b"}
    assert tt.compact_log(1) == 1
    assert {r["id"]: r["v"] for r in tt.as_of(1).collect()} == {1: "a2", 2: "b"}
    # reopen: sequence and base recovered through the Hadoop listing
    tt2 = TimeTravelStateTable(
        spark, "file://" + str(tmp_path / "tt"), ["id"], n_buckets=4
    )
    assert tt2._seq == 2 and tt2._base_seq == 1

    buf = TxnBuffer(spark, "file://" + str(tmp_path / "txn"))
    assert isinstance(buf.fs, HadoopFS)
    ev = spark.createDataFrame(
        [("t", "k", "v", 0, 1, "tx1")],
        "topic string, key string, value string, partition int, offset long, txn_id string",
    )
    ends = spark.createDataFrame([("tx1", 2)], "txn_id string, event_count long")
    applied = spark.createDataFrame([], "txn_id string, applied_batch long")
    buf.write(ev, ends, applied)
    e2, n2, a2 = buf.read()
    assert e2.count() == 1 and n2.count() == 1 and a2.count() == 0
    buf.write(e2.limit(0), n2.limit(0), applied)  # version 1 supersedes
    e3, n3, _ = buf.read()
    assert e3.count() == 0 and n3.count() == 0


# ---------------------------------------------------------------------------
# crash injection: every file operation of every swap
# ---------------------------------------------------------------------------


class _Crash(Exception):
    pass


def _crashing(base):
    """``base`` StateFS that raises :class:`_Crash` at its ``crash_at``-th
    mutating operation (``None``: never) and counts them in ``ops``."""

    class CrashFS(base):
        crash_at: int | None = None
        ops = 0

        def _step(self):
            self.ops += 1
            if self.ops == self.crash_at:
                raise _Crash(f"crash at file op {self.ops}")

        def mkdirs(self, path):
            self._step()
            return super().mkdirs(path)

        def delete(self, path):
            self._step()
            return super().delete(path)

        def rename(self, src, dst):
            self._step()
            return super().rename(src, dst)

        def write_text_atomic(self, path, text):
            self._step()
            return super().write_text_atomic(path, text)

    return CrashFS


_CHG = "id long, v long, deleted boolean"


def _setup_merge(spark, path):
    st = ParquetStateTable(spark, path, ["id"], n_buckets=4)
    st.init(spark.range(24).select("id", (F.col("id") * 2).alias("v")))


def _run_merge(spark, st):
    from spark_streaming_with_debezium_spark.cdc.merge import bucket_of

    # every key of bucket 0 deleted (the bucket empties out and must be
    # dropped), one update elsewhere, one insert
    b0 = [
        r.id
        for r in bucket_of(spark.range(24), ["id"], 4)
        .filter("_bucket = 0")
        .collect()
    ]
    other = next(i for i in range(24) if i not in b0)
    rows = [(i, None, True) for i in b0] + [(other, -1, False), (100, 7, False)]
    st.merge(spark.createDataFrame(rows, _CHG))


def _setup_compact(spark, path):
    from spark_streaming_with_debezium_spark.cdc.merge import bucket_of

    _setup_merge(spark, path)
    # three more appends: every bucket ends up with four files
    for lo in (100, 200, 300):
        bucket_of(
            spark.range(lo, lo + 24).select("id", (F.col("id") * 2).alias("v")),
            ["id"],
            4,
        ).repartition(4, "_bucket").write.mode("append").partitionBy(
            "_bucket"
        ).parquet(path)


_SWAP_CALLS = {
    "merge": (_setup_merge, _run_merge),
    "compact_buckets": (
        _setup_compact,
        lambda spark, st: st.compact_buckets(min_files=4),
    ),
    "rebucket": (_setup_merge, lambda spark, st: st.rebucket(8)),
}


@pytest.mark.parametrize("backend", ["local", "hadoop"])
@pytest.mark.parametrize("call", sorted(_SWAP_CALLS))
def test_swap_crash_at_every_file_op_then_replay(spark, tmp_path, backend, call):
    """Crash ``merge`` / ``compact_buckets`` / ``rebucket`` at each of
    its file operations in turn, reopen the table and replay the same
    call: the state must equal a run that never crashed, with no
    staged or parked directory left next to the table."""
    import shutil

    setup, run = _SWAP_CALLS[call]
    base_cls = LocalFS if backend == "local" else HadoopFS

    def uri(local_dir):
        return local_dir if backend == "local" else "file://" + local_dir

    def crash_fs(path, crash_at):
        fs = _crashing(base_cls)(*(() if backend == "local" else (spark, path)))
        fs.crash_at = crash_at
        return fs

    base = str(tmp_path / "base" / "t")
    setup(spark, base)

    def fresh(name):
        d = str(tmp_path / name)
        shutil.copytree(base, d + "/t")
        return d, uri(d + "/t")

    _, ref_path = fresh("ref")
    counter = crash_fs(ref_path, None)
    ref = ParquetStateTable(spark, ref_path, ["id"], n_buckets=4, fs=counter)
    counter.ops = 0
    run(spark, ref)
    n_ops = counter.ops
    want = sorted(tuple(r) for r in ref.read().collect())
    want_n = ref.n_buckets
    assert n_ops >= 5

    for k in range(1, n_ops + 1):
        d, path = fresh(f"crash{k}")
        fs = crash_fs(path, None)
        st = ParquetStateTable(spark, path, ["id"], n_buckets=4, fs=fs)
        fs.ops, fs.crash_at = 0, k
        with pytest.raises(_Crash):
            run(spark, st)
        reopened = ParquetStateTable(spark, path, ["id"], n_buckets=4)
        run(spark, reopened)
        got = sorted(tuple(r) for r in reopened.read().collect())
        assert got == want, f"{call} crashed at file op {k}/{n_ops}"
        assert reopened.n_buckets == want_n
        assert os.listdir(d) == ["t"], f"leftovers after crash at op {k}"


def _setup_signature_store(spark, path):
    from spark_streaming_with_debezium_spark.streaming.neardup import SignatureStore

    store = SignatureStore(spark, path)
    # three appends of rows spread over _bdir 0..3: every partition
    # ends up with three files
    for lo in (0, 100, 200):
        store.append(
            spark.range(lo, lo + 16).select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 2).cast("int").alias("band"),
                (F.col("id") % 4).alias("bucket"),
                F.array(F.col("id"), F.col("id") * 3).alias("sig"),
            )
        )


@pytest.mark.parametrize("backend", ["local", "hadoop"])
def test_signature_store_compact_crash_at_every_file_op_then_replay(
    spark, tmp_path, backend
):
    """Crash ``SignatureStore.compact`` at each of its file operations in
    turn, reopen the store and replay ``compact``: the store must hold
    the rows of a run that never crashed, with no ``_compact_tmp`` or
    ``_aside`` directory left next to it."""
    import shutil

    from spark_streaming_with_debezium_spark.streaming.neardup import SignatureStore

    base_cls = LocalFS if backend == "local" else HadoopFS

    def uri(local_dir):
        return local_dir if backend == "local" else "file://" + local_dir

    def crash_fs(path):
        return _crashing(base_cls)(*(() if backend == "local" else (spark, path)))

    def rows(path):
        return sorted(
            (r.doc_id, r.band, r.bucket, tuple(r.sig), r._bdir)
            for r in spark.read.parquet(path).collect()
        )

    base = str(tmp_path / "base" / "s")
    _setup_signature_store(spark, base)
    want = rows(base)

    def fresh(name):
        d = str(tmp_path / name)
        shutil.copytree(base, d + "/s")
        return d, uri(d + "/s")

    _, ref_path = fresh("ref")
    counter = crash_fs(ref_path)
    ref = SignatureStore(spark, ref_path, fs=counter)
    counter.ops = 0
    assert ref.compact(min_files=3) == 4
    n_ops = counter.ops
    assert rows(ref_path) == want
    assert n_ops >= 5

    for k in range(1, n_ops + 1):
        d, path = fresh(f"crash{k}")
        fs = crash_fs(path)
        st = SignatureStore(spark, path, fs=fs)
        fs.ops, fs.crash_at = 0, k
        with pytest.raises(_Crash):
            st.compact(min_files=3)
        reopened = SignatureStore(spark, path)
        reopened.compact(min_files=3)
        assert rows(path) == want, f"compact crashed at file op {k}/{n_ops}"
        assert os.listdir(d) == ["s"], f"leftovers after crash at op {k}"
