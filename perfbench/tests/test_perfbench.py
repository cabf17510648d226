"""Tests of the benchmark's own code (no Spark): the DuckDB oracle, the
freshness and backlog arithmetic, and span self time.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle import Oracle  # noqa: E402
from run import backlog_max, freshness, percentile  # noqa: E402
from tracer import Span, Tracer, covered, self_time  # noqa: E402

COLS = ["id", "city", "balance"]


def _write(path, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


@pytest.fixture()
def truth(tmp_path):
    """Snapshot ids 0..4; then: update 1, delete 2, tombstone 3,
    malformed 4 (both carry no change), update 5 then delete 5 (a later
    offset wins), and in the second file an update of 0."""
    d = tmp_path / "truth"
    _write(
        str(d / "customers_snapshot.parquet"),
        pa.table({"id": [0, 1, 2, 3, 4], "city": ["a", "b", "c", "d", "e"], "balance": [10, 11, 12, 13, 14]}),
    )
    _write(
        str(d / "customers_events.parquet"),
        pa.table(
            {
                "id": [1, 2, 3, 4, 5, 5, 0],
                "partition": pa.array([1, 2, 3, 0, 1, 1, 0], pa.int32()),
                "offset": [5, 6, 7, 8, 9, 10, 11],
                "kind": ["u", "d", "t", "m", "u", "d", "u"],
                "city": ["B", None, None, None, "x", None, "A"],
                "balance": [21, None, None, None, 99, None, 20],
                "file": pa.array([0, 0, 0, 0, 0, 0, 1], pa.int32()),
                "due_s": [0.0] * 7,
            }
        ),
    )
    return str(d)


def _state(tmp_path, rows: dict) -> str:
    path = tmp_path / "state"
    _write(str(path / "_bucket=0" / "part-0.parquet"), pa.table(rows))
    return str(path)


EXPECTED_AFTER_FILE0 = {"id": [0, 1, 3, 4], "city": ["a", "B", "d", "e"], "balance": [10, 21, 13, 14]}


def _oracle(truth) -> Oracle:
    o = Oracle(truth, {"customers": COLS})
    o.replay("customers", 1)
    return o


def test_oracle_accepts_correct_state(truth, tmp_path):
    o = _oracle(truth)
    assert o.state_mismatches("customers", _state(tmp_path, EXPECTED_AFTER_FILE0)) == 0


def test_oracle_replay_stops_at_file_count(truth, tmp_path):
    o = Oracle(truth, {"customers": COLS})
    o.replay("customers", 2)
    rows = dict(EXPECTED_AFTER_FILE0, city=["A", "B", "d", "e"], balance=[20, 21, 13, 14])
    assert o.state_mismatches("customers", _state(tmp_path, rows)) == 0


def test_oracle_catches_planted_wrong_row(truth, tmp_path):
    wrong = dict(EXPECTED_AFTER_FILE0, balance=[10, 11, 13, 14])  # update of id 1 lost
    assert _oracle(truth).state_mismatches("customers", _state(tmp_path, wrong)) == 2


def test_oracle_catches_planted_missed_delete(truth, tmp_path):
    missed = {
        "id": [0, 1, 2, 3, 4],
        "city": ["a", "B", "c", "d", "e"],
        "balance": [10, 21, 12, 13, 14],
    }
    assert _oracle(truth).state_mismatches("customers", _state(tmp_path, missed)) == 1


def test_oracle_catches_duplicate_row(truth, tmp_path):
    dup = {k: v + v[-1:] for k, v in EXPECTED_AFTER_FILE0.items()}
    assert _oracle(truth).state_mismatches("customers", _state(tmp_path, dup)) == 1


def test_oracle_checks_lookups(truth):
    o = _oracle(truth)
    good = pa.table({"id": [1, 3], "city": ["B", "d"], "balance": [21, 13]})
    assert o.lookup_mismatches("customers", [1, 2, 3, 99], good) == 0
    deleted_row_returned = pa.table({"id": [1, 2, 3], "city": ["B", "c", "d"], "balance": [21, 12, 13]})
    assert o.lookup_mismatches("customers", [1, 2, 3, 99], deleted_row_returned) == 1
    stale = pa.table({"id": [1, 3], "city": ["b", "d"], "balance": [11, 13]})
    assert o.lookup_mismatches("customers", [1, 3], stale) == 2


def test_oracle_checks_rollups(truth):
    o = _oracle(truth)
    good = pa.table({"city": ["a", "B", "d", "e"], "n": [1, 1, 1, 1], "s": [10, 21, 13, 14]})
    assert o.rollup_mismatches("customers", "city", "balance", good) == 0
    off = pa.table({"city": ["a", "B", "d", "e"], "n": [1, 1, 1, 2], "s": [10, 21, 13, 14]})
    assert o.rollup_mismatches("customers", "city", "balance", off) == 2


def test_freshness_charges_stalled_batch_to_later_events():
    # one event per second, one file per event; the batch holding files
    # 2..4 stalls and commits only at t=10, so events due long after the
    # stall began still wait for it
    due = [(float(i), i) for i in range(6)]
    commit = {0: 0.5, 1: 1.5, 2: 10.0, 3: 10.0, 4: 10.0, 5: 10.5}
    fresh = freshness(due, commit)
    assert fresh == [0.5, 0.5, 8.0, 7.0, 6.0, 5.5]
    assert percentile(fresh, 50) == pytest.approx(5.75)
    assert percentile(fresh, 95) > 7.0


def test_freshness_is_timed_from_due_not_release():
    # the generator released file 1 two seconds late; its event is still
    # charged from when it was due
    assert freshness([(5.0, 1)], {1: 7.5}) == [2.5]


def test_freshness_of_uncommitted_file_raises():
    with pytest.raises(KeyError):
        freshness([(0.0, 3)], {0: 1.0})


def test_backlog_max_counts_released_but_uncommitted():
    releases = [(0.0, 100), (1.0, 100), (2.0, 100), (3.0, 100)]
    commits = [(1.5, 200), (3.5, 200)]
    assert backlog_max(releases, commits) == 200


def test_percentile_matches_linear_interpolation():
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile([1, 2, 3, 4, 5], 95) == pytest.approx(4.8)
    assert percentile([7], 95) == 7


def test_self_time_on_hand_built_span_tree():
    # parent [0, 10]; children [1, 3] and [2, 5] overlap, [8, 12] runs
    # past the parent's end; the grandchild [1.5, 2] is covered by its
    # own parent and must not be subtracted from the root a second time
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "b", 2.0, 5.0, parent=0),
        Span(3, "c", 8.0, 12.0, parent=0),
        Span(4, "a.x", 1.5, 2.0, parent=1),
    ]
    assert self_time(spans[0], spans) == pytest.approx(10 - (4 + 2))
    assert self_time(spans[1], spans) == pytest.approx(2 - 0.5)
    assert self_time(spans[4], spans) == pytest.approx(0.5)


def test_covered_merges_and_clips():
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3)
    assert covered([(5, 6)], 0, 1) == 0
    assert covered([], 0, 1) == 0


def test_tracer_nests_and_inherits_batch():
    tr = Tracer()
    tr.phase = "write"
    with tr.span("route", batch=7) as route:
        with tr.span("merge") as merge:
            with tr.span("fs.rename"):
                pass
    assert merge.parent == route.id and merge.batch == 7
    assert [s.name for s in tr.descendants(route)] == ["merge", "fs.rename"]
    assert {s.phase for s in tr.spans} == {"write"}
    assert self_time(route, tr.spans) <= route.duration
