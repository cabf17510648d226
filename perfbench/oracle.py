"""DuckDB last-write-wins oracle for the CDC benchmark.

Replays the generator's truth files — the snapshot, then per key the
event with the highest (partition, offset) among upserts and deletes
(tombstones and malformed envelopes carry no change) — and compares the
replay with what the engine stored or returned. Each comparison returns
the number of mismatched rows (multiset symmetric difference), so a
wrong row counts twice (one missing, one extra) and a missed delete
once.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa


class Oracle:
    """Expected state of every table after the first ``n_files`` change files."""

    def __init__(self, truth_dir: str, columns: dict[str, list[str]]):
        self.truth_dir = truth_dir
        self.columns = columns
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def close(self) -> None:
        self.con.close()

    def _cols(self, table: str) -> str:
        return ", ".join(f'"{c}"' for c in self.columns[table])

    def replay(self, table: str, n_files: int) -> None:
        """(Re)build ``exp_<table>``: the expected state after ``n_files`` files."""
        cols = self._cols(table)
        self.con.execute(
            f"""
            CREATE OR REPLACE TABLE exp_{table} AS
            WITH ev AS (
                SELECT * FROM read_parquet('{self.truth_dir}/{table}_events.parquet')
                WHERE kind IN ('u', 'd') AND file < {int(n_files)}
            ), last AS (
                SELECT * FROM ev
                QUALIFY row_number() OVER (
                    PARTITION BY id ORDER BY "partition" DESC, "offset" DESC) = 1
            )
            SELECT {cols} FROM read_parquet('{self.truth_dir}/{table}_snapshot.parquet')
            WHERE id NOT IN (SELECT id FROM last)
            UNION ALL
            SELECT {cols} FROM last WHERE kind = 'u'
            """
        )

    def _diff(self, expected_sql: str, actual_sql: str) -> int:
        return int(
            self.con.execute(
                f"""
                SELECT (SELECT count(*) FROM (({expected_sql}) EXCEPT ALL ({actual_sql})))
                     + (SELECT count(*) FROM (({actual_sql}) EXCEPT ALL ({expected_sql})))
                """
            ).fetchone()[0]
        )

    def state_mismatches(self, table: str, state_dir: str) -> int:
        """Rows by which the stored state (every bucket file) differs from
        ``exp_<table>``; call :meth:`replay` first."""
        cols = self._cols(table)
        actual = (
            f"SELECT {cols} FROM read_parquet('{state_dir}/_bucket=*/*.parquet', "
            "hive_partitioning = false, union_by_name = true)"
        )
        return self._diff(f"SELECT {cols} FROM exp_{table}", actual)

    def lookup_mismatches(self, table: str, keys: list[int], rows: pa.Table) -> int:
        """Rows by which a lookup result differs from ``exp_<table>``
        restricted to ``keys``."""
        cols = self._cols(table)
        self.con.register("lookup_keys", pa.table({"id": pa.array(keys, pa.int64())}))
        self.con.register("lookup_rows", rows)
        try:
            return self._diff(
                f"SELECT {cols} FROM exp_{table} WHERE id IN (SELECT id FROM lookup_keys)",
                f"SELECT {cols} FROM lookup_rows",
            )
        finally:
            self.con.unregister("lookup_keys")
            self.con.unregister("lookup_rows")

    def rollup_mismatches(self, table: str, group: str, value: str, rows: pa.Table) -> int:
        """Groups by which a (group, count, sum) rollup result differs from
        the same rollup over ``exp_<table>``."""
        self.con.register("rollup_rows", rows)
        try:
            return self._diff(
                f'SELECT "{group}", count(*)::BIGINT, sum("{value}")::BIGINT '
                f"FROM exp_{table} GROUP BY ALL",
                "SELECT * FROM rollup_rows",
            )
        finally:
            self.con.unregister("rollup_rows")
