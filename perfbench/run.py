"""Steady lake benchmark for the segment-managed table engine.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 3 --trace 0

Workloads: ``lake_read`` and ``lake_write`` (see ``data.WORKLOADS``).
Runs from the root of a source checkout (any working directory works;
the checkout is found from this file's location). One process, one
client, a closed loop over a seeded op sequence:

1. start Spark (``local[nproc]``, shuffle partitions = nproc) while the
   seeded inputs and the DuckDB model are made;
2. build the workload's table and snapshot it;
3. ``WARMUP_PASSES`` warm-up passes of the op sequence (inside
   ``setup_s``): the first pass after the build takes 35-50% longer
   than the next, while the JVM compiles the read and write paths;
4. ``MEASURED_PASSES`` measured passes. ``--seconds`` is a floor on
   their op time, far below the time they take on a 4-vCPU host:
   only an engine three times faster would measure more passes. A
   pass run while other guests took CPU time from the host is run
   again (see ``_measure``).

Before every pass, untimed, the warehouse is restored from the
snapshot, a fresh ``Engine`` is opened and both the driver and the JVM
collect garbage.

``pass_s`` is the sum of a pass's op times; ``setup_s`` runs from
process start to the first measured pass. With ``--trace 1`` as many
traced passes run, each between two untraced passes; their pass times
give the tracing overhead.

Every op is checked against a DuckDB model outside the timed window.
On every way out, the run stops the Spark JVM and its Python workers
and waits until they have ended (``procs.stop_all``), then removes its
warehouse. The last stdout line, printed only after that, is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Run diagnostics (versions, load average, calibration
probe, sample counts) go to stderr as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

_T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cdh_integrate_carbondata2_3_spark"
WARMUP_PASSES = 1
MEASURED_PASSES = 1
# a measured pass during which the hypervisor gave more than this share
# of the CPU to other guests is run again, at most MAX_REMEASURE times
STEAL_LIMIT = 0.01
MAX_REMEASURE = 1


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests."""
    spent = [b - a for a, b in zip(before, after)]
    return spent[7] / max(1, sum(spent))


def calibration_probe() -> float:
    """Fixed pure-Python work, timed — tells a contended host apart.
    Reported as a diagnostic; no metric is divided by it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    # Python UDF workers import the package too: export it, don't just
    # put it on this interpreter's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != here]
    sys.path.insert(0, ROOT)

    from perfbench import data, procs
    if args.workload not in data.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(data.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its processes and removes its
    # warehouse
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workdir = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        result = _run(args, data, workdir)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        procs.stop_all()
        shutil.rmtree(workdir, ignore_errors=True)
    # printed once every process has ended: nothing the JVM writes on
    # its way out can follow the result line
    print(json.dumps(result))
    return 0


def _run(args, data, workdir: str) -> dict:
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # Spark's scratch space, even where the environment names another
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark")
    cpu_start = cpu_times()
    diag = {"workload": args.workload, "seed": args.seed,
            "nproc": os.cpu_count(), "loadavg_start": os.getloadavg()[0],
            "calibration_s": calibration_probe()}

    import pyarrow
    import pyspark
    from cdh_integrate_carbondata2_3_spark.session import get_spark
    from perfbench import lake

    # inputs and the model are made while the JVM starts
    pool = ThreadPoolExecutor(1)
    prepared = pool.submit(lake.Lake, workdir, data.WORKLOADS[args.workload],
                           args.seed)
    pool.shutdown(wait=False)
    cpus = os.cpu_count() or 4
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus,
                      extra_conf={
                          "spark.driver.memory": "2g",
                          "spark.ui.showConsoleProgress": "false",
                          "spark.sql.warehouse.dir":
                              os.path.join(workdir, "spark-warehouse"),
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                              f"-Dderby.system.home={workdir}",
                      })
    diag.update(spark=pyspark.__version__, pyarrow=pyarrow.__version__)
    phases = diag["phases_s"] = {"spark_start": time.perf_counter() - _T0}
    bench = prepared.result()
    diag["build_s"] = bench.build(spark)
    phases["built"] = time.perf_counter() - _T0
    # warm-up ops are checked, the reopened table only after
    # measured passes: set-up stays short
    diag["warmup_pass_s"] = [bench.run_pass(verify=False).seconds
                             for _ in range(WARMUP_PASSES)]
    setup_s = time.perf_counter() - _T0
    tracer = None
    passes = []
    untraced = []
    if args.trace:
        from perfbench.tracing import Tracer
        # untraced passes bracket every traced one, so the ratio of
        # their pass times is the tracing overhead, not the JIT's
        # progress from one pass to the next
        tracer = Tracer(spark)
        untraced.append(bench.run_pass())
        while not _enough(passes, args.seconds):
            with tracer:
                passes.append(bench.run_pass(tracer.on_op))
            untraced.append(bench.run_pass())
        set_aside = []
    else:
        passes, set_aside, diag["pass_steal"] = _measure(
            bench, args.seconds)
    diag["pass_s"] = [p.seconds for p in passes]
    diag["set_aside_pass_s"] = [p.seconds for p in set_aside]
    measured = passes + untraced + set_aside
    ops = [o for p in measured for o in p.ops]
    failed = sum(not o.ok for o in ops)
    correct = failed == 0 and not bench.errors and all(
        p.checksum_ok for p in measured)
    if args.trace:
        metrics = tracer.metrics(passes, untraced)
    else:
        metrics, samples = lake.end_to_end(passes, setup_s)
        diag["samples"] = samples
    diag["loadavg_end"] = os.getloadavg()[0]
    diag["cpu_steal_share"] = steal_share(cpu_start, cpu_times())
    diag["wall_s"] = time.perf_counter() - _T0
    diag["error_rate"] = failed / max(1, len(ops))
    diag["errors"] = bench.errors[:5]
    print(json.dumps({"diagnostics": diag}), file=sys.stderr)
    return {"correct": correct, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def _enough(passes: list, seconds: float) -> bool:
    return (len(passes) >= MEASURED_PASSES
            and sum(p.seconds for p in passes) >= seconds)


def _measure(bench, seconds: float) -> tuple[list, list, list]:
    """``MEASURED_PASSES`` passes, more only if they ran under
    ``seconds`` of op time.

    A pass that ran while other guests took more than ``STEAL_LIMIT``
    of the host's CPU is set aside and run again, up to
    ``MAX_REMEASURE`` times; if every try was contended, the least
    contended one is kept. Set-aside passes are not measured, but
    their ops still count as attempted and are checked. Returns the
    kept passes, the set-aside ones and every try's steal share."""
    passes, set_aside, steals = [], [], []
    while not _enough(passes, seconds):
        tries = []
        for _ in range(1 + MAX_REMEASURE):
            before = cpu_times()
            p = bench.run_pass()
            tries.append((steal_share(before, cpu_times()), p))
            if tries[-1][0] <= STEAL_LIMIT:
                break
        kept = min(tries, key=lambda t: t[0])[1]
        passes.append(kept)
        set_aside += [p for _s, p in tries if p is not kept]
        steals += [s for s, _p in tries]
    return passes, set_aside, steals

if __name__ == "__main__":
    sys.exit(main())
