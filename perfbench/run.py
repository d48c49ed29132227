#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload daily_rollup --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds the seed's inputs under
``.perfbench/`` in a child process (``inputs.py``; reused by later runs
that read the same input set) before it imports or times anything, starts
one local Spark session with at most 4 cores, sets the workload up and
runs the workload's untimed warm-up rounds (``setup_s`` covers imports,
session start, set-up, input check and the warm-up rounds), then repeats
whole rounds of the workload's ops until ``--seconds`` have passed. Every
op's output is checked against exact answers after the timed loop.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the span
wrappers (driver and Python workers), prints the per-layer report and the
per-layer metrics instead. The last stdout line is always the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
TRACEHOOK = os.path.join(HERE, "tracehook")
CPUS = 4
TABLE_OF = {"daily_rollup": "daily", "table_maint": "deltas"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(TABLE_OF))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure(root: str, work: str, trace_dir: str | None) -> None:
    """Environment for the JVM and the Python workers it starts: the
    workers import ``zetasketch_spark`` from ``root`` (and the trace hook
    when tracing); all scratch files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + ([TRACEHOOK] if trace_dir else [])
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = ["spark.ui.showConsoleProgress=false",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "spark.sql.session.timeZone=UTC"]
    if trace_dir:
        os.environ["PERFBENCH_TRACE_DIR"] = trace_dir
        conf.append("spark.python.daemon.module=perfbench_daemon")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"


def start_session(cpus: int):
    from zetasketch_spark.session import get_spark

    spark = get_spark(app="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run_ops(wl, r: int, log: list, sc, trace, prefix: str) -> None:
    """One round: every op of the workload once, each under its own job
    group, timed, its output kept for the check."""
    from perfbench_spans import REC

    for kind, fn in wl.ops:
        op_id = f"{prefix}{len(log)}"
        sc.setJobGroup(op_id, kind)
        i0 = len(REC.spans)
        if trace:
            REC.active = True
            root = REC.open("op")
        t0 = time.perf_counter()
        try:
            turns, out, err = *fn(r), None
        except Exception:
            turns, out, err = 0, None, traceback.format_exc()
            print(f"op {op_id} ({kind}) raised:\n{err}", file=sys.stderr)
        t1 = time.perf_counter()
        if trace:
            REC.close(root)
            REC.active = False
        log.append({"id": op_id, "kind": kind, "round": r, "t0": t0, "t1": t1,
                    "wall": t1 - t0, "turns": turns, "out": out, "error": err,
                    "spans": (i0, len(REC.spans))})


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "zetasketch_spark", "__init__.py")):
        print("perfbench: run from the repository root "
              "(zetasketch_spark/ not found here)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, "runs", str(os.getpid()))
    trace_dir = os.path.join(run_dir, "trace") if args.trace else None
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(trace_dir or run_dir)
    sys.path[1:1] = [root, TRACEHOOK]
    configure(root, work, trace_dir)
    try:
        return measure(args, root, work, run_dir, trace_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, root, work, run_dir, trace_dir) -> int:
    subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"),
                    "--seed", str(args.seed), "--table", TABLE_OF[args.workload]],
                   check=True, timeout=600)

    t_imp = time.perf_counter()
    import inputs
    import procstat
    import pyspark.sql  # noqa: F401
    import perfbench_spans
    from workloads import WORKLOADS
    imports_s = time.perf_counter() - t_imp

    perfbench_spans.REC.active = False
    if args.trace:
        perfbench_spans.install_driver()
    cpus = min(CPUS, os.cpu_count() or 1)
    t0 = time.perf_counter()
    spark = start_session(cpus)
    session_s = time.perf_counter() - t0
    inp = inputs.table(work, args.seed, TABLE_OF[args.workload])
    wl = WORKLOADS[args.workload](spark, inp, run_dir)
    inp.check()
    warm: list = []
    for r in range(wl.warmup_rounds):
        run_ops(wl, r, warm, spark.sparkContext, trace=False, prefix="perfbench-warm-")
    if any(e["error"] for e in warm):
        raise RuntimeError("warm-up round failed")
    setup_s = imports_s + time.perf_counter() - t0

    sc = spark.sparkContext
    log: list = []
    rounds = 0
    counts = {}
    cpu0 = procstat.cpu_seconds()
    t_start = time.perf_counter()
    with procstat.PeakRss() as peak:
        while rounds == 0 or time.perf_counter() - t_start < args.seconds:
            n = len(log)
            run_ops(wl, wl.warmup_rounds + rounds, log, sc, trace=bool(args.trace),
                    prefix=perfbench_spans.OP_PREFIX)
            rounds += 1
            if args.trace:
                from report import spark_counts

                for e in log[n:]:
                    counts[e["id"]] = spark_counts(sc, e["id"])
    cpu_s = procstat.cpu_seconds() - cpu0
    sc.setJobGroup("perfbench-check", "check")

    ok = [e for e in log if e["error"] is None]
    try:
        wl.check(ok)
    except Exception:
        err = traceback.format_exc()
        print(f"check raised:\n{err}", file=sys.stderr)
        for e in ok:
            e["problems"] = e.get("problems") or ["check raised"]
    wrong = [e for e in ok if e["problems"]]
    for e in wrong:
        print(f"op {e['id']} ({e['kind']}) wrong: " + "; ".join(e["problems"][:5]),
              file=sys.stderr)
    failed = sum(1 for e in log if e["error"] is not None) + len(wrong)

    if args.trace:
        import report

        metrics, rows = report.per_layer(
            log, perfbench_spans.REC.spans, report.load_tasks(trace_dir), counts,
            rounds, session_s)
        for line in report.render(metrics, rows, rounds):
            print(line)
        walls = {k: [e["wall"] for e in log if e["kind"] == k] for k in ("query", "update")}
        print("traced medians: " + ", ".join(
            f"{k}_s {statistics.median(v):.4f}" for k, v in walls.items() if v))
        result = {m: {"value": v, "unit": _unit(m)} for m, v in metrics.items()}
    else:
        turns = sum(e["turns"] for e in log)
        wall = sum(e["wall"] for e in log)
        result = {
            "setup_s": (setup_s, "s"),
            "query_s": (statistics.median(e["wall"] for e in log if e["kind"] == "query"), "s"),
            "update_s": (statistics.median(e["wall"] for e in log if e["kind"] == "update"), "s"),
            "turns_per_s": (turns / wall, "1/s"),
            "cpu_s_per_mturn": (cpu_s / (turns / 1e6), "s"),
            "peak_rss_mb": (peak.peak / 2 ** 20, "MB"),
            "table_mb": (wl.table_bytes() / 2 ** 20, "MB"),
        }
        result = {k: {"value": v, "unit": u} for k, (v, u) in result.items()}
        print(f"{args.workload} seed {args.seed}: {rounds} rounds, {len(log)} ops, "
              f"session {session_s:.2f} s, warm-up {[round(e['wall'], 2) for e in warm]}")
    stop_session(spark)
    print(json.dumps({"correct": not wrong, "attempted": len(log),
                      "failed": failed, "metrics": result}))
    return 0


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
