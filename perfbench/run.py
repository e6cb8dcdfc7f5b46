#!/usr/bin/env python3
"""Benchmark of the dedup engine, one workload per run.

Usage (from the repository root):
  python3 perfbench/run.py --workload append --seed 1 --seconds 5 --trace 0

A run starts the engine session as shipped (``session.get_spark`` on
``local[<nproc>]``), writes the workload's synthetic inputs for ``--seed``,
builds any base state, and runs one untimed warm-up operation; all of that
is ``setup_s``. The benchmark's own reference run, which the correctness
check compares against, follows the warm-up and is left out of ``setup_s``.
The run then runs operations back to back (a closed loop, one client) until
``--seconds`` have passed and checks every output against a canonical
clustering digest (see workloads.py).

``--trace 0`` reports the end-to-end metrics: ``wall_s`` and ``cpu_s``, the
median wall time and process-tree CPU time of one operation; ``state_mb``,
what one operation leaves on disk (its output table plus the stage store it
committed); and ``setup_s``. Failed operations are the result's ``failed``
out of ``attempted`` (the warm-up included). ``--trace 1`` alternates an
untraced operation with a traced recomposition of the same operation
(traced.py) and reports the per-layer metrics instead.

Before the result, stdout carries one JSON line per operation (wall, CPU and
host steal time, state size, digest), one with the set-up phases and one
with the run's peak resident memory, so a slow window of the shared host
can be told apart from a slower program. The last line of stdout is the
result object.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root, including Spark's local and temporary directories, and is
deleted at the end; the JVM and its Python workers are stopped and waited
for before the result is printed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "jira_duplicate_detection_turkcell__spark"


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["checkpointed", "append"])
    ap.add_argument("--seed", type=int, default=1,
                    help="input seed; seed 1 has pinned digests")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _isolate(work: Path) -> None:
    """Point every scratch location of Spark, the JVM and Python under
    ``work``. Must run before the JVM is launched. ``-XX:-UsePerfData``
    stops both JVMs (Spark's launcher and the one the session runs in) from
    writing their performance-counter file to ``/tmp/hsperfdata_<user>``,
    which does not follow ``java.io.tmpdir``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    for var, opts in (("SPARK_SUBMIT_OPTS", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                      ("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")):
        os.environ[var] = f"{os.environ.get(var, '')} {opts}".strip()


def _stop_tree(spark) -> None:
    """Stop Spark, end the JVM and wait until no process this one started
    is left."""
    from pyspark import SparkContext

    from proctree import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    me = os.getpid()
    while (left := [p for p in tree_pids(me) if p != me]):
        if time.monotonic() > deadline + 10:
            raise RuntimeError(f"processes {left} outlived SIGKILL")
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = _args(argv)
    t_main = time.perf_counter()
    if not PACKAGE.is_dir():
        print(f"perfbench: engine package {PACKAGE.name}/ not found next to "
              f"perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(work)
    sys.path.insert(0, str(ROOT))
    from proctree import PeakRss

    try:
        with PeakRss(os.getpid()) as rss:
            from jira_duplicate_detection_turkcell__spark import session

            cores = len(os.sched_getaffinity(0))
            t0 = time.perf_counter()
            spark = session.get_spark(cores=cores)
            session_wall = time.perf_counter() - t0
            try:
                spark.sparkContext.setLogLevel("ERROR")
                if args.trace:
                    # first Python job: the warm worker daemon has forked its
                    # workers. Untraced runs leave that cost to the input
                    # writes, which start Python workers anyway.
                    spark.range(cores, numPartitions=cores).mapInPandas(
                        lambda b: b, "id long").count()
                session_start = time.perf_counter() - t0
                result = _run(args, spark, work, t_main, session_wall, session_start)
            finally:
                _stop_tree(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no concurrent run still uses it
    peak_rss_mb = rss.peak / 2**20
    print(json.dumps({"peak_rss_mb": peak_rss_mb}), flush=True)
    if args.trace:
        result["metrics"]["host.peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
    print(json.dumps(result), flush=True)
    return 0


def _run(args, spark, work: Path, t_main: float, session_wall: float,
         session_start: float) -> dict:
    from proctree import steal_s, tree_cpu_s
    from workloads import WORKLOADS

    me = os.getpid()
    wl = WORKLOADS[args.workload](work, args.seed)
    t0 = time.perf_counter()
    wl.setup(spark)
    prepare_s = time.perf_counter() - t0
    attempted = failed = 0

    def run_one(i: int, traced: bool = False) -> dict:
        nonlocal attempted, failed
        op = wl.op(i)
        rec = {"op": i, "traced": traced}
        cpu0, steal0 = tree_cpu_s(me), steal_s()
        t = time.perf_counter()
        try:
            if traced:
                from traced import spark_counters, traced_op

                rec["tracer"] = traced_op(spark, wl, op, f"op{i}")
            else:
                op.run()
            rec["wall_s"] = time.perf_counter() - t
            rec["cpu_s"] = tree_cpu_s(me) - cpu0
            rec["steal_s"] = steal_s() - steal0
            if traced:
                rec["counters"] = spark_counters(spark, f"op{i}")
            rec["state_mb"] = op.state_bytes() / 2**20
            rec["digest"], rec["error"] = wl.check(spark, op)
            rec["clusters"] = (op.record or {}).get("clusters", 0)
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc()
            rec["error"] = "raised"
        finally:
            op.cleanup()
            spark.catalog.clearCache()
        attempted += 1
        failed += rec["error"] is not None
        print(json.dumps({k: v for k, v in rec.items() if k not in ("tracer", "counters")}),
              flush=True)
        return rec

    warm = run_one(0)
    if warm["error"] == "raised":
        raise RuntimeError("the warm-up operation raised; see the traceback above")
    setup_s = time.perf_counter() - t_main - wl.reference_s
    print(json.dumps({"setup_s": setup_s, "session_s": session_start,
                      "prepare_s": prepare_s, "warmup_s": warm["wall_s"],
                      "reference_s": wl.reference_s}), flush=True)

    kernels = None
    if args.trace:
        from traced import kernel_rates

        kernels = kernel_rates(wl.cfg, args.seed)
    recs: list[dict] = []
    deadline = time.perf_counter() + args.seconds
    i = 1
    while True:
        recs.append(run_one(i))
        if args.trace:
            i += 1
            recs.append(run_one(i, traced=True))
        i += 1
        if time.perf_counter() >= deadline:
            break

    ok = [r for r in recs if r["error"] != "raised"]
    plain = [r for r in ok if not r["traced"]]
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        result["metrics"] = {
            "wall_s": {"value": _median([r["wall_s"] for r in plain]), "unit": "s"},
            "cpu_s": {"value": _median([r["cpu_s"] for r in plain]), "unit": "s"},
            "state_mb": {"value": _median([r["state_mb"] for r in plain]), "unit": "MB"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    else:
        result["metrics"] = _per_layer(
            [r for r in ok if r["traced"]], plain, ok, kernels,
            session_wall, session_start,
        )
    return result


def _per_layer(traced, plain, ok, kernels, session_wall, session_start) -> dict:
    from traced import SPARK_LAYERS, metric_names, unit_of

    per_op = []
    for r in traced:
        tr, counters = r["tracer"], r["counters"]
        m = dict(tr.counts)
        for layer, wall in tr.self_times().items():
            m[f"{layer}.wall_s"] = wall
        for layer in SPARK_LAYERS:
            for name, v in counters[layer].items():
                m[f"{layer}.{name}"] = v
        m["components.clusters_out"] = r["clusters"]
        if tr.commit_walls:
            m["checkpoint.commit_s"] = statistics.median(tr.commit_walls)
        if m.get("buckets.candidate_pairs"):
            m["verify.yield"] = m.get("verify.edges_out", 0) / m["buckets.candidate_pairs"]
        per_op.append(m)
    values = {name: _median([m.get(name, 0.0) for m in per_op]) for name in metric_names()}
    ext_rate, sig_rate = kernels
    values["session.wall_s"] = session_wall
    values["session.start_s"] = session_start
    values["extract.kernel_docs_per_s"] = ext_rate
    values["signatures.kernel_docs_per_s"] = sig_rate
    values["signatures.boundary_s"] = (
        values["signatures.task_s"] - values["signatures.rows_out"] / sig_rate
    )
    values["trace.overhead_s"] = (
        _median([r["wall_s"] for r in traced]) - _median([r["wall_s"] for r in plain])
    )
    values["host.steal_s"] = _median([r["steal_s"] for r in ok])
    return {name: {"value": v, "unit": unit_of(name)} for name, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
