"""Per-layer tracing, installed from outside the package.

``Tracer`` wraps public functions of the engine's layers in spans (the
package is not edited: the wrappers are patched onto the classes and
onto every module that imported a wrapped function by name), and reads
each op's Spark jobs, stages and tasks from Spark's status store.

Jobs are assigned to an op by submission window: a job belongs to the
op whose timed window contains its submission time. Job groups are not
used, because threads from a plain ``ThreadPoolExecutor`` do not
inherit them.

Single client: spans nest on one stack, so only one thread may call
into the engine while tracing.
"""

from __future__ import annotations

import functools
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from cdh_integrate_carbondata2_3_spark.catalog import manifest as manifest_mod
from cdh_integrate_carbondata2_3_spark.catalog import stats as stats_mod
from cdh_integrate_carbondata2_3_spark.catalog.index import IndexManager
from cdh_integrate_carbondata2_3_spark.catalog.manifest import Manifest
from cdh_integrate_carbondata2_3_spark.catalog.table import Table
from cdh_integrate_carbondata2_3_spark.mv.manager import MVManager
from cdh_integrate_carbondata2_3_spark.operators import mor as mor_mod
from cdh_integrate_carbondata2_3_spark.operators.merge import MergeBuilder
from cdh_integrate_carbondata2_3_spark.sql import Engine

from .data import READ_KINDS, WRITE_KINDS

PACKAGE = "cdh_integrate_carbondata2_3_spark"
OP_KINDS = READ_KINDS + WRITE_KINDS

# (owner, attribute, span name); an owner that is a module is patched
# together with every package module holding the same function object
TRACED = [
    (Engine, "sql", "sql"),
    (Manifest, "load", "manifest.load"),
    (Manifest, "pruned_filestats", "manifest.prune"),
    (Manifest, "update", "manifest.update"),
    (IndexManager, "candidate_files", "index.candidate"),
    (Table, "read", "table.read"),
    (Table, "insert", "table.insert"),
    (Table, "compact", "table.compact"),
    (stats_mod, "harvest_file", "stats.harvest"),
    (mor_mod, "delete_rows_mor", "mor.delete"),
    (mor_mod, "update_rows_mor", "mor.update"),
    (mor_mod, "horizontal_compact", "mor.horizontal"),
    (mor_mod, "_write_delta", "mor.write_delta"),
    (MergeBuilder, "execute", "merge"),
    (MVManager, "refresh", "mv.refresh"),
    (MVManager, "answer", "mv.answer"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    child: float = 0.0          # time covered by direct child spans
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000

    @property
    def self_ms(self) -> float:
        return (self.end - self.start - self.child) * 1000


@dataclass
class OpTrace:
    kind: str
    ms: float
    spans: list
    jobs: int = 0
    tasks: int = 0
    exec_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    job_ms: float = 0.0         # op time covered by its jobs


def _attrs(name: str, args: tuple, kwargs: dict, result) -> dict:
    """Counts recorded at a span's boundary. ``args`` includes ``self``
    for methods."""
    if name == "index.candidate" and result is not None:
        queryable = sum(len(s.files) for s in
                        args[0].table.manifest.queryable_segments())
        return {"kept": len(result), "of": queryable}
    if name == "table.read":
        preds = args[1] if len(args) > 1 else kwargs.get("predicates")
        if preds:
            queryable = sum(len(s.files) for s in
                            args[0].manifest.queryable_segments())
            return {"df": result, "of": queryable}
    if name == "table.compact":
        return {"compacted": int(result is not None)}
    if name == "mor.write_delta":
        return {"rows": result[1] if result else 0}
    if name == "mv.answer":
        return {"hit": int(result[1] is not None)}
    return {}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sparkContext().statusStore()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()
        self._stack: list[Span] = []
        self._spans: list[Span] = []
        self._patches: list[tuple] = []
        self._watermark = -1
        self.ops: list[OpTrace] = []

    # ------------------------------------------------------------ patching

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = Span(name, time.perf_counter())
            # a current-version manifest load hits its parse cache when
            # it leaves the cache key it found in place
            track_hit = (name == "manifest.load" and len(args) == 1
                         and kwargs.get("_use_cache", True))
            cache_key = args[0]._cache_key if track_hit else None
            tracer._stack.append(span)
            try:
                result = fn(*args, **kwargs)
            except manifest_mod.ConcurrentModificationError:
                span.attrs["retry"] = 1
                raise
            finally:
                span.end = time.perf_counter()
                tracer._stack.pop()
                if tracer._stack:
                    tracer._stack[-1].child += span.end - span.start
                tracer._spans.append(span)
            if track_hit:
                span.attrs["hit"] = int(cache_key is not None and
                                        args[0]._cache_key == cache_key)
            span.attrs.update(_attrs(name, args, kwargs, result))
            return result

        return wrapper

    def __enter__(self) -> "Tracer":
        for owner, attr, name in TRACED:
            orig = getattr(owner, attr)
            wrapped = self._wrap(orig, name)
            targets = [owner]
            if isinstance(owner, type(sys)):
                # callers that imported the function by name hold their
                # own reference: patch those names too
                targets = [m for mn, m in list(sys.modules.items())
                           if mn.startswith(PACKAGE) and m is not None
                           and getattr(m, attr, None) is orig]
            for t in targets:
                self._patches.append((t, attr, t.__dict__[attr]))
                setattr(t, attr, wrapped)
        self._watermark = self._max_job_id()
        return self

    def __exit__(self, *exc) -> None:
        for t, attr, orig in reversed(self._patches):
            setattr(t, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------------- op records

    def _max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _new_jobs(self) -> list:
        """Jobs submitted since the watermark, once all have finished
        in the status store (its listener runs asynchronously)."""
        deadline = time.perf_counter() + 5.0
        while True:
            jobs = self.store.jobsList(None)
            new = []
            for i in range(jobs.size()):
                j = jobs.apply(i)
                if j.jobId() <= self._watermark:
                    break
                new.append(j)
            if all(j.completionTime().isDefined() for j in new) \
                    or time.perf_counter() > deadline:
                return new
            time.sleep(0.005)

    def on_op(self, kind: str, wall_start: float, seconds: float,
              perf_start: float) -> None:
        """Record one op: its spans and the Spark jobs submitted inside
        its timed window."""
        perf_end = perf_start + seconds
        spans = [s for s in self._spans
                 if s.start >= perf_start and s.end <= perf_end]
        self._spans = []
        rec = OpTrace(kind, seconds * 1000, spans)
        lo_ms = wall_start * 1000 - 1
        hi_ms = (wall_start + seconds) * 1000 + 1
        intervals = []
        jobs = self._new_jobs()
        for j in jobs:
            self._watermark = max(self._watermark, j.jobId())
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t_sub = sub.get().getTime()
            if not lo_ms <= t_sub <= hi_ms:
                continue
            done = j.completionTime()
            t_end = done.get().getTime() if done.isDefined() else hi_ms
            intervals.append((max(t_sub, lo_ms), min(t_end, hi_ms)))
            rec.jobs += 1
            sids = j.stageIds()
            for i in range(sids.size()):
                self._add_stage(rec, sids.apply(i))
        rec.job_ms = _union_ms(intervals)
        self.ops.append(rec)

    def _add_stage(self, rec: OpTrace, stage_id: int) -> None:
        try:
            st = self.store.stageAttempt(stage_id, 0, False, self._no_status,
                                         False, self._no_quantiles)._1()
        except Py4JJavaError:   # evicted or never submitted
            return
        if st.status().toString() == "SKIPPED":
            return
        rec.tasks += st.numTasks()
        rec.exec_ms += st.executorRunTime()
        rec.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
        rec.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()

    # ------------------------------------------------------------- metrics

    def metrics(self, passes: list, untraced: list) -> dict:
        """Per-layer metrics over the traced passes. Times and counts of
        a layer are totals per pass; Spark figures are means per op of
        each kind; ratios are pooled over the traced passes."""
        n_pass = max(1, len(passes))
        ops = self.ops
        spans = [s for o in ops for s in o.spans]
        by = defaultdict(list)
        for s in spans:
            by[s.name].append(s)

        def outer(name):
            # outermost spans of a name only, so recursion counts once
            return [s for s in by[name]
                    if not any(p is not s and p.name == name and
                               p.start <= s.start and s.end <= p.end
                               for p in by[name])]

        def ms_per_pass(name, self_time=False):
            return sum(s.self_ms if self_time else s.ms
                       for s in outer(name)) / n_pass

        def attr_sum(name, key):
            return sum(s.attrs.get(key, 0) for s in by[name])

        out = {}
        per_op = [("spark.jobs_per_op", lambda o: o.jobs, "count/op"),
                  ("spark.tasks_per_op", lambda o: o.tasks, "count/op"),
                  ("spark.exec_ms", lambda o: o.exec_ms, "ms/op"),
                  ("spark.shuffle_bytes", lambda o: o.shuffle_bytes, "B/op"),
                  ("spark.spill_bytes", lambda o: o.spill_bytes, "B/op"),
                  ("driver_ms", lambda o: o.ms - o.job_ms, "ms/op")]
        for kind in OP_KINDS:
            recs = [o for o in ops if o.kind == kind]
            for metric, get, unit in per_op:
                out[f"{metric}.{kind}"] = (
                    sum(map(get, recs)) / max(1, len(recs)), unit)

        for metric, span in [
                ("manifest.load_ms", "manifest.load"),
                ("manifest.prune_ms", "manifest.prune"),
                ("manifest.update_ms", "manifest.update"),
                ("index.candidate_ms", "index.candidate"),
                ("table.read_plan_ms", "table.read"),
                ("table.insert_ms", "table.insert"),
                ("table.compact_ms", "table.compact"),
                ("stats.harvest_ms", "stats.harvest"),
                ("mor.horizontal_ms", "mor.horizontal"),
                ("mor.delete_ms", "mor.delete"),
                ("mor.update_ms", "mor.update"),
                ("merge.ms", "merge"),
                ("mv.refresh_ms", "mv.refresh"),
                ("mv.answer_ms", "mv.answer")]:
            out[metric] = (ms_per_pass(span), "ms/pass")

        loads = [s for s in by["manifest.load"] if "hit" in s.attrs]
        cand = [s for s in by["index.candidate"] if "of" in s.attrs]
        reads = [s for s in by["table.read"] if "df" in s.attrs]
        scanned = sum(_segment_files(s.attrs["df"]) for s in reads)
        answers = by["mv.answer"]
        out.update({
            "sql.self_ms": (ms_per_pass("sql", self_time=True), "ms/pass"),
            "manifest.loads_per_op": (
                len(by["manifest.load"]) / max(1, len(ops)), "count/op"),
            "manifest.cache_hit_ratio": (
                attr_sum("manifest.load", "hit") / max(1, len(loads)),
                "ratio"),
            "manifest.retries": (
                attr_sum("manifest.update", "retry") / n_pass, "count/pass"),
            # no index consulted, or no predicate read: nothing was pruned
            "index.kept_ratio": (
                sum(s.attrs["kept"] for s in cand)
                / sum(s.attrs["of"] for s in cand) if cand else 1.0,
                "ratio"),
            "pruning.kept_ratio": (
                scanned / sum(s.attrs["of"] for s in reads)
                if reads else 1.0, "ratio"),
            "table.compactions": (
                attr_sum("table.compact", "compacted") / n_pass,
                "count/pass"),
            "stats.files_harvested": (
                len(by["stats.harvest"]) / n_pass, "count/pass"),
            "mor.delta_rows": (
                attr_sum("mor.write_delta", "rows") / n_pass, "count/pass"),
            "mv.rewrite_hit_ratio": (
                attr_sum("mv.answer", "hit") / len(answers)
                if answers else 0.0, "ratio"),
        })
        traced = statistics.median(p.seconds for p in passes)
        plain = statistics.median(p.seconds for p in untraced)
        out.update({
            "trace.pass_s_untraced": (plain, "s"),
            "trace.pass_s_traced": (traced, "s"),
            "trace.overhead_ratio": (traced / plain, "ratio"),
        })
        return out


def _segment_files(df) -> int:
    """Data files a planned scan reads (delete-delta sidecars excluded)."""
    return sum("/segment_" in f for f in df.inputFiles())


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
