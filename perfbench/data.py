"""Seeded inputs: a lineitem-shaped table and each workload's op sequence.

Everything here is a pure function of the seed, so two runs with the
same seed build the same table and replay the same operations.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# The shape of the sf0.1 lineitem file the repo's gates read (bench.py's
# default $SPARK_GRAFT_SF_DIR), measured column by column: 600 000 rows
# and 11 columns; every column is drawn independently and uniformly.
# - l_orderkey over 150 000 keys, so 4 rows per key on average (Poisson,
#   1.8% of keys have none), and (l_orderkey, l_linenumber) repeats;
# - l_partkey over 20 000 keys (11-53 rows each), l_suppkey over 1 000;
# - l_linenumber 1-7, l_quantity 1-50, l_extendedprice 900.00-104999.99,
#   l_discount 0-0.10 and l_tax 0-0.08 in steps of 0.01;
# - l_returnflag A/N/R and l_linestatus F/O;
# - l_shipdate on 2 499 whole days from 1995-01-02 (stored there as a
#   midnight timestamp, here as a date).
ROWS_PER_ORDERKEY = 4
PARTKEYS = 20_000
SUPPKEYS = 1_000

_COLUMNS = [
    ("l_orderkey", pa.int64(), "bigint"),
    ("l_partkey", pa.int64(), "bigint"),
    ("l_suppkey", pa.int64(), "bigint"),
    ("l_linenumber", pa.int32(), "int"),
    ("l_quantity", pa.float64(), "double"),
    ("l_extendedprice", pa.float64(), "double"),
    ("l_discount", pa.float64(), "double"),
    ("l_tax", pa.float64(), "double"),
    ("l_returnflag", pa.string(), "string"),
    ("l_linestatus", pa.string(), "string"),
    ("l_shipdate", pa.date32(), "date"),
]
SCHEMA = pa.schema([(name, t) for name, t, _ in _COLUMNS])
SCHEMA_DDL = ", ".join(f"{name} {sql}" for name, _, sql in _COLUMNS)

# a row's identity for MERGE: (l_orderkey, l_linenumber) alone repeats
MERGE_KEY = ("l_orderkey", "l_linenumber", "l_partkey")

_FIRST_SHIPDATE = (datetime.date(1995, 1, 2) - datetime.date(1970, 1, 1)).days


def lineitem(rng: np.random.Generator, first_order: int,
             n_orders: int) -> pa.Table:
    """``ROWS_PER_ORDERKEY * n_orders`` rows whose order keys are drawn
    from ``first_order`` .. ``first_order + n_orders - 1``, unsorted,
    every column drawn as in the sf0.1 file."""
    n = n_orders * ROWS_PER_ORDERKEY
    return pa.table({
        "l_orderkey": rng.integers(first_order, first_order + n_orders, n),
        "l_partkey": rng.integers(0, PARTKEYS, n),
        "l_suppkey": rng.integers(0, SUPPKEYS, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(rng.integers(0, 2499, n) + _FIRST_SHIPDATE,
                               pa.int32()).cast(pa.date32()),
    }, schema=SCHEMA)


def unique_rows(t: pa.Table) -> pa.Table:
    """The rows of ``t`` whose ``MERGE_KEY`` occurs once in ``t``."""
    key = np.stack([t[c].to_numpy().astype(np.int64) for c in MERGE_KEY])
    _, inverse, counts = np.unique(key, axis=1, return_inverse=True,
                                   return_counts=True)
    return t.filter(pa.array(counts[inverse.ravel()] == 1))


@dataclass(frozen=True)
class Op:
    """One client request: an op kind and its literal parameters — a
    key, a (first, last) order-key range, or an index into ``ROLLUPS``
    or the MERGE sources."""
    kind: str
    args: tuple = ()

    @property
    def sql(self) -> str:
        """The statement a rollup or write op sends to ``Engine.sql``."""
        a = self.args
        if self.kind == "rollup":
            return ROLLUPS[a[0]]
        if self.kind == "insert":
            return ("INSERT INTO lineitem SELECT * FROM lineitem_hold "
                    f"WHERE l_orderkey BETWEEN {a[0]} AND {a[1]}")
        if self.kind == "delete":
            return f"DELETE FROM lineitem WHERE {_between(a)}"
        if self.kind == "update":
            return ("UPDATE lineitem SET l_quantity = l_quantity + 1 "
                    f"WHERE {_between(a)}")
        if self.kind == "merge":
            on = " AND ".join(f"t.{c} = s.{c}" for c in MERGE_KEY)
            return (f"MERGE INTO lineitem t USING merge_src_{a[0]} s ON {on} "
                    "WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *")
        if self.kind == "refresh":
            return "REFRESH MATERIALIZED VIEW mv_flags ON TABLE lineitem"
        raise ValueError(f"op kind {self.kind!r} sends no SQL")


def _between(key_range: tuple) -> str:
    return "l_orderkey BETWEEN {} AND {}".format(*key_range)


READ_KINDS = ("point", "partkey", "range", "rollup")
WRITE_KINDS = ("insert", "delete", "update", "merge", "refresh")

ROLLUPS = (
    "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sq, COUNT(*) AS c "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "SELECT l_returnflag, SUM(l_quantity) AS sq, COUNT(*) AS c "
    "FROM lineitem GROUP BY l_returnflag",
    "SELECT l_linestatus, SUM(l_quantity) AS sq, COUNT(*) AS c "
    "FROM lineitem GROUP BY l_linestatus",
)
MV_SQL = "CREATE MATERIALIZED VIEW mv_flags AS " + ROLLUPS[0]


@dataclass(frozen=True)
class Workload:
    """A table layout plus the op kinds of one pass, in order.

    The seed picks each op's keys, never the order of kinds: whether
    the MV can answer a rollup depends on whether a write came before
    it in the pass, and that must not change from seed to seed."""
    base_orders: int          # order keys loaded at set-up
    segments: int             # INSERT loads the base is split into
    properties: str           # TBLPROPERTIES body
    pattern: tuple            # op kinds of one pass, in order
    insert_orders: int        # order keys per INSERT
    delete_orders: int        # order keys per DELETE
    update_orders: int = 0    # order keys per UPDATE
    merge_orders: int = 0     # matched order keys (and as many new) per MERGE
    range_orders: int = 20_000
    setup_deletes: int = 0    # single-key DELETEs run at set-up
    bloom: bool = False


WORKLOADS = {
    # Read-heavy: driver-side planning (manifest prune, bloom candidates,
    # MoR anti-join) does most of the work, the commit path little, and
    # the manifest parse cache mostly hits. The rollup before the pass's
    # first write is answered by the MV, the later one is not. Four
    # writes give the write percentiles two samples per kind.
    "lake_read": Workload(
        base_orders=150_000, segments=8,
        properties="'iud.mode'='mor'",
        pattern=("point", "partkey", "point", "range", "rollup", "point",
                 "insert", "delete", "partkey", "point", "range", "rollup",
                 "point", "insert", "point", "delete"),
        insert_orders=125, delete_orders=1, setup_deletes=2, bloom=True),
    # Commit-heavy: write jobs, stats harvest, manifest swaps, minor and
    # horizontal compaction, delta writes and MV refresh do most of the
    # work, pruning little, and the manifest cache misses on almost
    # every op. Two minor compactions (threshold 2) and one horizontal
    # compaction (a fifth delete delta) run in every pass. A point
    # lookup after every write gives the read percentiles 9 samples.
    "lake_write": Workload(
        base_orders=25_000, segments=3,
        properties="'iud.mode'='mor', 'auto_load_merge'='true', "
                   "'compaction_level_threshold'='2'",
        pattern=("insert", "point", "delete", "point", "update", "point",
                 "range", "insert", "point", "point", "merge", "point",
                 "refresh", "point", "point"),
        insert_orders=500, delete_orders=50, update_orders=25,
        merge_orders=125, range_orders=2_000, setup_deletes=2),
}


@dataclass
class Inputs:
    """Everything a run loads: base segments, held-back rows for the
    INSERTs and one source table per MERGE of a pass."""
    segments: list
    hold: pa.Table
    merge_sources: list
    setup_delete_keys: list


def segment_orders(w: Workload, i: int) -> tuple[int, int]:
    """First and last order key of base segment ``i``."""
    bounds = np.linspace(0, w.base_orders, w.segments + 1).astype(int)
    return int(bounds[i]) + 1, int(bounds[i + 1])


def _span_in(w: Workload, rng, seg: int, span: int) -> tuple[int, int]:
    """A run of ``span`` order keys inside segment ``seg`` — or inside
    ``seg`` and the next one when a segment is shorter than ``span``."""
    seg %= w.segments
    lo, hi = segment_orders(w, seg)
    if hi - lo + 1 < span:
        hi = segment_orders(w, min(seg + 1, w.segments - 1))[1]
    first = int(rng.integers(lo, hi - span + 2))
    return first, first + span - 1


def _key_in(segments: list, rng, seg: int) -> int:
    """An order key that has rows in base segment ``seg``."""
    keys = segments[seg % len(segments)]["l_orderkey"].to_numpy()
    return int(keys[rng.integers(len(keys))])


def make_inputs(w: Workload, seed: int) -> Inputs:
    """Base segments split by order key, then the held-back rows, the
    MERGE sources and the set-up DELETE keys (the k-th in segment k)."""
    rng = np.random.default_rng(seed)
    segments = []
    for i in range(w.segments):
        lo, hi = segment_orders(w, i)
        segments.append(lineitem(rng, lo, hi - lo + 1))
    n_ins = w.pattern.count("insert")
    hold_first = w.base_orders + 1
    hold = lineitem(rng, hold_first, n_ins * w.insert_orders)
    merge_sources = []
    n_merges = w.pattern.count("merge")
    if n_merges:
        # MERGE matches on MERGE_KEY, so a source row may match one
        # table row at most, and each table row one source row
        base = unique_rows(pa.concat_tables(segments))
        orderkey = base["l_orderkey"].to_numpy()
    new_first = hold_first + n_ins * w.insert_orders
    for i in range(n_merges):
        lo, hi = _span_in(w, rng, i, w.merge_orders)
        matched = base.filter(pa.array((orderkey >= lo) & (orderkey <= hi)))
        matched = matched.set_column(
            matched.schema.get_field_index("l_quantity"), "l_quantity",
            pa.array(rng.integers(51, 60, matched.num_rows)
                     .astype(np.float64)))
        fresh = unique_rows(lineitem(rng, new_first + i * w.merge_orders,
                                     w.merge_orders))
        merge_sources.append(pa.concat_tables([matched, fresh]))
    keys = [_key_in(segments, rng, k) for k in range(w.setup_deletes)]
    return Inputs(segments, hold, merge_sources, keys)


def pass_ops(w: Workload, inputs: Inputs, seed: int) -> list[Op]:
    """The op sequence every pass of a run replays.

    The seed picks keys only inside fixed segments, so each op touches
    the same segments under every seed: the i-th point lookup reads
    segment i, deletes land after the set-up deletes. Which files carry
    delete deltas — and so pay the merge-on-read anti-join — is then
    the same for every seed. Point lookups and single-key deletes pick
    keys that have rows; partkeys are drawn like the table's, so each
    matches rows in most segments. Inserts and MERGE sources each own
    a key range, so no op's result depends on an earlier op of the
    pass."""
    rng = np.random.default_rng([seed, 1])
    segs = inputs.segments
    hold_next = w.base_orders + 1
    seen = dict.fromkeys(w.pattern, 0)
    ops = []
    for kind in w.pattern:
        i = seen[kind]
        seen[kind] += 1
        if kind == "point":
            args = (_key_in(segs, rng, i),)
        elif kind == "partkey":
            args = (int(rng.integers(0, PARTKEYS)),)
        elif kind == "range":
            args = _span_in(w, rng, 2 + 2 * i, w.range_orders)
        elif kind == "rollup":
            args = (i % len(ROLLUPS),)
        elif kind == "insert":
            args = (hold_next, hold_next + w.insert_orders - 1)
            hold_next += w.insert_orders
        elif kind == "delete":
            seg = w.setup_deletes + i
            if w.delete_orders == 1:
                key = _key_in(segs, rng, seg)
                args = (key, key)
            else:
                args = _span_in(w, rng, seg, w.delete_orders)
        elif kind == "update":
            args = _span_in(w, rng, w.setup_deletes + 1 + i, w.update_orders)
        elif kind == "merge":
            args = (i,)
        elif kind == "refresh":
            args = ()
        else:
            raise ValueError(f"unknown op kind {kind!r}")
        ops.append(Op(kind, args))
    return ops
