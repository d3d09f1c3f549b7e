"""Table build, op execution and the pass loop of the lake workloads.

One client drives the engine in a closed loop through its public entry
points only: ``Engine.sql`` for DML, DDL and rollups, ``Table.read`` for
lookups. Each op is timed from outside; its result is then checked
against the DuckDB model outside the timed window.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cdh_integrate_carbondata2_3_spark.mv.manager import MVManager
from cdh_integrate_carbondata2_3_spark.sql import Engine

from . import data
from .model import CHECKSUM, RANGE_AGG, Model, parquet_bytes, same_rows

TABLE = "lineitem"


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (inode, size) of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_size)
    return out


def new_bytes(before: dict, after: dict) -> int:
    """Bytes of files present in ``after`` that ``before`` did not
    hold (a new path, or a path replaced by a new inode)."""
    return sum(size for p, (ino, size) in after.items()
               if before.get(p, (None,))[0] != ino)


@dataclass
class OpResult:
    kind: str
    seconds: float
    ok: bool
    rows_submitted: int = 0


@dataclass
class PassResult:
    seconds: float
    ops: list = field(default_factory=list)
    bytes_written: int = 0
    submitted_bytes: int = 0
    table_bytes: int = 0
    live_bytes: int = 0
    checksum_ok: bool = True
    rss_mb: float = 0.0


class Lake:
    """One workload's warehouse, its set-up snapshot and its model."""

    def __init__(self, workdir: str, workload: data.Workload, seed: int):
        """Make the inputs and the model; needs no Spark session, so it
        can run while Spark starts."""
        self.spark = None
        self.w = workload
        self.warehouse = os.path.join(workdir, "warehouse")
        self.snapshot_dir = os.path.join(workdir, "snapshot")
        self.input_dir = os.path.join(workdir, "input")
        self.inputs = data.make_inputs(workload, seed)
        self.ops = data.pass_ops(workload, self.inputs, seed)
        self._write_inputs()
        sides = {"lineitem_hold": self.inputs.hold}
        sides.update({f"merge_src_{i}": t
                      for i, t in enumerate(self.inputs.merge_sources)})
        self.model = Model({TABLE: pa.concat_tables(self.inputs.segments),
                            **sides})
        self.engine: Engine | None = None
        self.table = None
        self._live_bytes: int | None = None
        self.errors: list[str] = []

    # -------------------------------------------------------------- set-up

    def _write_inputs(self) -> None:
        os.makedirs(self.input_dir, exist_ok=True)
        named = [(f"seg{i:03d}", t)
                 for i, t in enumerate(self.inputs.segments)]
        named.append(("lineitem_hold", self.inputs.hold))
        named += [(f"merge_src_{i}", t)
                  for i, t in enumerate(self.inputs.merge_sources)]
        for name, t in named:
            pq.write_table(t, os.path.join(self.input_dir, f"{name}.parquet"))

    def _load(self, eng: Engine, name: str, files: list[str],
              properties: str = "") -> None:
        props = f" TBLPROPERTIES({properties})" if properties else ""
        eng.sql(f"CREATE TABLE {name} ({data.SCHEMA_DDL}){props}")
        t = eng.table(name)
        for f in files:
            t.insert(self.spark.read.parquet(
                os.path.join(self.input_dir, f"{f}.parquet")))

    def build(self, spark) -> float:
        """Build the warehouse from the inputs, snapshot it, and return
        the build's wall time. The model mirrors the build."""
        self.spark = spark
        shutil.rmtree(self.warehouse, ignore_errors=True)
        t0 = time.perf_counter()
        eng = Engine(self.spark, self.warehouse)
        self._load(eng, TABLE, [f"seg{i:03d}" for i in
                                range(len(self.inputs.segments))],
                   self.w.properties)
        self._load(eng, "lineitem_hold", ["lineitem_hold"])
        for i in range(len(self.inputs.merge_sources)):
            self._load(eng, f"merge_src_{i}", [f"merge_src_{i}"])
        if self.w.bloom:
            eng.sql(f"CREATE INDEX bf_partkey ON TABLE {TABLE} (l_partkey) "
                    "AS 'bloomfilter'")
        deletes = [f"DELETE FROM {TABLE} WHERE l_orderkey = {k}"
                   for k in self.inputs.setup_delete_keys]
        for sql in deletes:
            eng.sql(sql)
        eng.sql(data.MV_SQL)
        seconds = time.perf_counter() - t0
        shutil.rmtree(self.snapshot_dir, ignore_errors=True)
        shutil.copytree(self.warehouse, self.snapshot_dir)
        for sql in deletes:
            self.model.execute(sql)
        self.model.snapshot()
        return seconds

    def reset(self) -> None:
        """Untimed: restore the set-up snapshot, open a fresh Engine,
        reset the model, and collect garbage on both sides."""
        shutil.rmtree(self.warehouse)
        shutil.copytree(self.snapshot_dir, self.warehouse)
        self.model.restore()
        self.engine = Engine(self.spark, self.warehouse)
        self.table = self.engine.table(TABLE)
        gc.collect()
        # objects alive now (imports, inputs, model) are never garbage:
        # keep the driver's full collections from rescanning them mid-op
        gc.freeze()
        self.spark._jvm.System.gc()

    # ----------------------------------------------------------------- ops

    def run_engine(self, op: data.Op):
        """The timed part of an op: one call into the engine, with the
        result fully materialized."""
        if op.kind == "point":
            return _rows(self.table.read([("l_orderkey", "=", op.args[0])]))
        if op.kind == "partkey":
            return _rows(self.table.read([("l_partkey", "=", op.args[0])]))
        if op.kind == "range":
            df = self.table.read([("l_orderkey", "between", op.args)])
            return _rows(df.agg(*[F.expr(e) for e in RANGE_AGG]))
        return _rows(self.engine.sql(op.sql))

    def check(self, op: data.Op, got) -> tuple[bool, int]:
        """Compare an op's result with the model, applying writes to the
        model. Returns (correct, rows the op submitted)."""
        m = self.model
        if op.kind == "point":
            return same_rows(got, m.rows(
                f"SELECT * FROM {TABLE} WHERE l_orderkey = {op.args[0]}")), 0
        if op.kind == "partkey":
            return same_rows(got, m.rows(
                f"SELECT * FROM {TABLE} WHERE l_partkey = {op.args[0]}")), 0
        if op.kind == "range":
            lo, hi = op.args
            return same_rows(got, m.rows(
                f"SELECT {', '.join(RANGE_AGG)} FROM {TABLE} "
                f"WHERE l_orderkey BETWEEN {lo} AND {hi}")), 0
        if op.kind == "rollup":
            return same_rows(got, m.rows(op.sql)), 0
        if op.kind == "merge":
            counts = m.merge(f"merge_src_{op.args[0]}", data.MERGE_KEY)
            return got == [counts], counts[0] + counts[2]
        if op.kind == "refresh":
            return (got == [("refreshed mv_flags",)]
                    and self.mv_matches_model()), 0
        n = m.execute(op.sql)
        if op.kind == "insert":
            return len(got) == 1 and got[0][0].startswith("segment "), n
        # "deleted N" / "updated N"
        return got == [(f"{op.kind}d {n}",)], (n if op.kind == "update" else 0)

    def mv_matches_model(self) -> bool:
        """After a REFRESH: the MV is fresh, and the rollup it answers
        equals the same rollup on the model."""
        mvs = MVManager(self.table).show()
        if [(v["name"], v["stale"]) for v in mvs] != [("mv_flags", False)]:
            return False
        return same_rows(_rows(self.engine.sql(data.ROLLUPS[0])),
                         self.model.rows(data.ROLLUPS[0]))

    def submitted_table(self, op: data.Op):
        """Rows a write op handed to the engine, as the model now holds
        them (post-image) — the base of write amplification."""
        if op.kind in ("insert", "update"):
            source = "lineitem_hold" if op.kind == "insert" else TABLE
            lo, hi = op.args
            return self.model.arrow(f"SELECT * FROM {source} "
                                    f"WHERE l_orderkey BETWEEN {lo} AND {hi}")
        if op.kind == "merge":
            return self.model.arrow(f"SELECT * FROM merge_src_{op.args[0]}")
        return None

    def run_op(self, op: data.Op, on_done=None) -> OpResult:
        """Time one op, then check it. An op that raises or returns a
        wrong result is a failed op."""
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            got = self.run_engine(op)
        except Exception:
            seconds = time.perf_counter() - t0
            self._error(op, traceback.format_exc())
            return OpResult(op.kind, seconds, False)
        seconds = time.perf_counter() - t0
        if on_done is not None:
            on_done(op.kind, wall0, seconds, t0)
        try:
            ok, submitted = self.check(op, got)
        except Exception:
            self._error(op, traceback.format_exc())
            return OpResult(op.kind, seconds, False)
        if not ok:
            self._error(op, f"wrong result: {got!r:.300}")
        return OpResult(op.kind, seconds, ok, submitted)

    def _error(self, op: data.Op, msg: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(f"{op.kind} {op.args!r:.200}: {msg}")
            print(f"[perfbench] failed op {op.kind}: {msg}", file=sys.stderr)

    # ---------------------------------------------------------------- pass

    def run_pass(self, on_done=None, verify: bool = True) -> PassResult:
        """Replay the seeded op sequence once from the set-up snapshot.
        Only the ops themselves are timed; the pass time is their sum.
        Every op is checked; with ``verify`` the table is checked too,
        reopened at pass end."""
        self.reset()
        table_dir = os.path.join(self.warehouse, TABLE)
        res = PassResult(seconds=0.0)
        rss = []
        for op in self.ops:
            writes = op.kind in data.WRITE_KINDS
            before = dir_files(table_dir) if writes else None
            r = self.run_op(op, on_done)
            res.ops.append(r)
            res.seconds += r.seconds
            rss.append(rss_mb(self.spark))
            if before is not None:
                res.bytes_written += new_bytes(before, dir_files(table_dir))
                sub = self.submitted_table(op) if r.ok else None
                if sub is not None:
                    res.submitted_bytes += parquet_bytes(sub)
        # resident memory sampled after every op: the median rides out
        # the moment a JVM collection happens to land on
        res.rss_mb = statistics.median(rss)
        res.table_bytes = sum(s for _i, s in dir_files(table_dir).values())
        if self._live_bytes is None:
            self._live_bytes = self.model.live_bytes()
        res.live_bytes = self._live_bytes
        res.checksum_ok = not verify or self.verify_reopen()
        return res

    def verify_reopen(self) -> bool:
        """Reopen the table through a fresh Engine and compare its count
        and checksum with the model."""
        try:
            table = Engine(self.spark, self.warehouse).table(TABLE)
            got = _rows(table.read().agg(*[F.expr(e) for e in CHECKSUM]))
        except Exception:
            self.errors.append("checksum: " + traceback.format_exc())
            return False
        want = self.model.rows(f"SELECT {', '.join(CHECKSUM)} FROM {TABLE}")
        if got != [tuple(int(v) for v in want[0])]:
            self.errors.append(f"checksum: engine {got} model {want}")
            print(f"[perfbench] checksum mismatch {got} vs {want}",
                  file=sys.stderr)
            return False
        return True


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


def rss_mb(spark) -> float:
    """Driver Python RSS plus the Spark JVM's RSS."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_rss_kb("self") + _rss_kb(jvm_pid)) / 1024.0


def _p90(values: list[float]) -> float:
    """90th percentile, interpolated between the nearest samples."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def end_to_end(passes: list, setup_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics of the measured passes; read and write
    percentiles pool every op of every pass."""
    reads = [o.seconds * 1000 for p in passes for o in p.ops
             if o.kind in data.READ_KINDS]
    writes = [o.seconds * 1000 for p in passes for o in p.ops
              if o.kind in data.WRITE_KINDS]
    rows = sum(o.rows_submitted for p in passes for o in p.ops)
    write_busy = sum(writes) / 1000
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p.seconds for p in passes), "s"),
        "read_ms_p50": (statistics.median(reads), "ms"),
        "read_ms_p90": (_p90(reads), "ms"),
        "write_ms_p50": (statistics.median(writes), "ms"),
        "write_ms_p90": (_p90(writes), "ms"),
        "rows_written_per_s": (rows / write_busy, "1/s"),
        "write_amp": (statistics.median(
            p.bytes_written / p.submitted_bytes for p in passes), "ratio"),
        "space_amp": (statistics.median(
            p.table_bytes / p.live_bytes for p in passes), "ratio"),
        "rss_mb": (statistics.median(p.rss_mb for p in passes), "MB"),
    }
    samples = {"reads": len(reads), "writes": len(writes),
               "passes": len(passes), "op_ms": {
                   k: round(statistics.median(
                       o.seconds * 1000 for p in passes for o in p.ops
                       if o.kind == k))
                   for k in {o.kind for o in passes[0].ops}}}
    return metrics, samples
