"""Checks of the benchmark's own bookkeeping; no Spark session needed.

    python -m pytest perfbench -q
"""

import os
import time

import numpy as np
import pyarrow as pa

from perfbench import data, lake
from perfbench.model import Model, same_rows
from perfbench.tracing import _union_ms


def _lake(engine):
    """A Lake over a 3-order model whose engine call is ``engine``."""
    lk = object.__new__(lake.Lake)
    rows = data.lineitem(np.random.default_rng(0), 1, 3)
    lk.model = Model({"lineitem": rows})
    lk.errors = []
    lk.run_engine = engine
    return lk


def _want(lk, key):
    return lk.model.rows(f"SELECT * FROM lineitem WHERE l_orderkey = {key}")


def test_correct_read_is_ok():
    lk = _lake(lambda op: _want(lk, op.args[0]))
    r = lk.run_op(data.Op("point", (2,)))
    assert r.ok and r.seconds >= 0 and not lk.errors


def test_wrong_read_result_is_a_failed_op():
    lk = _lake(lambda op: _want(lk, op.args[0])[:-1])
    assert not lk.run_op(data.Op("point", (2,))).ok
    assert lk.errors


def test_raised_exception_is_a_failed_op():
    def boom(op):
        raise RuntimeError("engine failure")

    lk = _lake(boom)
    r = lk.run_op(data.Op("point", (2,)))
    assert not r.ok and r.seconds >= 0
    assert "engine failure" in lk.errors[0]


def test_write_with_wrong_row_count_is_a_failed_op():
    op = data.Op("delete", (1, 1))
    lk = _lake(None)
    n = len(_want(lk, 1))
    lk.run_engine = lambda op: [(f"deleted {n + 1}",)]
    assert not lk.run_op(op).ok
    lk = _lake(lambda op: [(f"deleted {n}",)])
    assert lk.run_op(op).ok
    assert lk.model.rows("SELECT COUNT(*) FROM lineitem") == [(12 - n,)]


def test_write_sql_is_built_from_the_key_range():
    assert data.Op("delete", (5, 9)).sql == (
        "DELETE FROM lineitem WHERE l_orderkey BETWEEN 5 AND 9")
    assert "merge_src_1" in data.Op("merge", (1,)).sql


def test_unique_rows_drops_every_copy_of_a_repeated_merge_key():
    t = data.lineitem(np.random.default_rng(0), 1, 2)
    doubled = pa.concat_tables([t, t.slice(0, 1)])
    kept = data.unique_rows(doubled)
    assert kept.num_rows == data.unique_rows(t).num_rows - 1


def test_same_rows_tolerates_summation_order_only():
    assert same_rows([("A", 0.1 + 0.2, 3)], [("A", 0.3, 3)])
    assert not same_rows([("A", 0.31, 3)], [("A", 0.3, 3)])
    assert not same_rows([("A", 0.3, 3)], [("A", 0.3, 3), ("B", 1.0, 1)])


def test_seed_fixes_keys_but_not_the_order_of_op_kinds():
    w = data.WORKLOADS["lake_read"]
    inputs = data.make_inputs(w, 5)
    ops = data.pass_ops(w, inputs, 5)
    assert ops == data.pass_ops(w, inputs, 5)
    other = data.pass_ops(w, data.make_inputs(w, 6), 6)
    assert ops != other
    assert [o.kind for o in ops] == [o.kind for o in other] == list(w.pattern)


def test_union_of_job_intervals():
    assert _union_ms([(0, 10), (5, 20), (30, 35)]) == 25
    assert _union_ms([]) == 0


class _Passes:
    """Stands in for a Lake: its n-th pass takes 10 + n seconds."""

    def __init__(self):
        self.n = 0

    def run_pass(self):
        self.n += 1
        return lake.PassResult(seconds=10.0 + self.n)


def _measure_with_steal(monkeypatch, shares):
    from perfbench import run
    shares = iter(shares)
    monkeypatch.setattr(run, "cpu_times", lambda: [])
    monkeypatch.setattr(run, "steal_share", lambda a, b: next(shares))
    passes, aside, steals = run._measure(_Passes(), 3)
    return [p.seconds for p in passes], [p.seconds for p in aside], steals


def test_contended_pass_is_set_aside_and_run_again(monkeypatch):
    assert _measure_with_steal(monkeypatch, [0.05, 0.002]) == (
        [12.0], [11.0], [0.05, 0.002])


def test_least_contended_try_is_kept_when_all_are_contended(monkeypatch):
    kept, aside, _ = _measure_with_steal(monkeypatch, [0.02, 0.05])
    assert kept == [11.0] and aside == [12.0]


def test_stop_all_ends_children_and_grandchildren():
    import subprocess

    from perfbench import procs
    child = subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60; wait"])
    deadline = time.monotonic() + 5
    while len(procs.descendants(os.getpid())) < 3:
        assert time.monotonic() < deadline
        time.sleep(0.05)
    tree = procs.descendants(os.getpid())
    procs.stop_all(grace=5)
    assert child.poll() is not None
    assert not [p for p in tree if procs.alive(p)]
