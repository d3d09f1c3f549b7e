"""DuckDB model of the logical table: the oracle every op is checked against.

The model holds the same rows the engine's table should hold. Write
ops are applied to it only after the engine acknowledged them, and
every read is answered by it with the same SQL semantics.
"""

from __future__ import annotations

import io
import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# exact integer checksum of the whole table — the same expressions run
# on the engine (Spark) and on the model (DuckDB)
CHECKSUM = (
    "COUNT(*)", "SUM(l_orderkey)", "SUM(l_partkey * l_linenumber)",
    "SUM(CAST(l_quantity AS BIGINT))",
    "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))",
    "SUM(CAST(ROUND(l_discount * 100) AS BIGINT))",
    "SUM(LENGTH(l_returnflag) + LENGTH(l_linestatus))")

RANGE_AGG = ("COUNT(*)", "SUM(l_quantity)",
             "SUM(l_extendedprice * (1 - l_discount))")


def parquet_bytes(t: pa.Table) -> int:
    """Size of ``t`` written once as Parquet with pyarrow defaults —
    the base that write and space amplification divide by."""
    if t.num_rows == 0:
        return 0
    buf = io.BytesIO()
    pq.write_table(t, buf)
    return buf.tell()


class Model:
    """In-memory DuckDB copy of the logical table plus the read-only
    side tables (held-back rows, MERGE sources) the ops select from."""

    def __init__(self, tables: dict[str, pa.Table]):
        self.db = duckdb.connect()
        self.db.execute("SET threads = 2")
        for name, t in tables.items():
            self.db.register("_arrow", t)
            self.db.execute(f"CREATE TABLE {name} AS SELECT * FROM _arrow")
            self.db.unregister("_arrow")

    def snapshot(self) -> None:
        self.db.execute("CREATE OR REPLACE TABLE _snapshot AS "
                        "SELECT * FROM lineitem")

    def restore(self) -> None:
        self.db.execute("CREATE OR REPLACE TABLE lineitem AS "
                        "SELECT * FROM _snapshot")

    def rows(self, sql: str) -> list[tuple]:
        return self.db.execute(sql).fetchall()

    def execute(self, sql: str) -> int:
        """Apply a DELETE / UPDATE / INSERT; returns rows affected."""
        return int(self.db.execute(sql).fetchone()[0])

    def merge(self, source: str, key: tuple) -> tuple[int, int, int]:
        """``MERGE … WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *``
        on the columns of ``key``; returns (updated, deleted, inserted)
        as the engine reports them."""
        on = " AND ".join(f"s.{c} = lineitem.{c}" for c in key)
        matched = self.execute(f"DELETE FROM lineitem WHERE EXISTS "
                               f"(SELECT 1 FROM {source} s WHERE {on})")
        total = self.execute(f"INSERT INTO lineitem SELECT * FROM {source}")
        return matched, 0, total - matched

    def arrow(self, sql: str) -> pa.Table:
        return self.db.execute(sql).arrow()

    def live_bytes(self) -> int:
        return parquet_bytes(self.arrow(
            "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber"))


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality of result rows; doubles compare to 1e-9
    relative (aggregates sum in a different order on each side)."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple((1, round(v, 3)) if isinstance(v, float)
                     else (0, v) if v is not None else (-1, 0)
                     for v in row)

    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(
                        a, b, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True
