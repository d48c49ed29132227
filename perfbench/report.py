"""Per-layer report of a traced run.

Inputs: the driver's spans (one ``op`` root span per timed op), the worker
task records written by ``perfbench_spans.flush_task``, and the Spark job,
stage and task counts of each op's job group.

Per op, the wall time is split into

* driver self time of program entry points (planning, SketchTable
  bookkeeping, ...) and of the benchmark's own glue,
* the wall-clock time inside Spark actions during which Python workers
  ran program code, split among the layers running at each instant (k
  layers running at once get 1/k of that instant each),
* ``spark.orchestration``: the rest of the actions' time, when no Python
  worker ran program code: job planning and scheduling, JVM-side scan,
  shuffle and write, the JVM<->Python crossing and pyspark's Arrow/pickle
  framing in the workers.

The parts are disjoint, so ``coverage`` (their sum over the wall time) is
1 up to worker spans that fall outside any Spark action of the op.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

from perfbench_spans import fold

# per-layer metrics: the name printed, and how a round's value is formed
WORKER_SELF = {
    "hashing.busy_s": "hashing",
    "sketches.update_s": "sketches.update",
    "sketches.merge_s": "sketches.merge",
    "sketches.serialize_s": "sketches.serialize",
    "sketches.deserialize_s": "sketches.deserialize",
    "sketches.result_s": "sketches.result",
    "grouping.busy_s": "grouping",
    "fastscan.decode_s": "fastscan.decode",
}
WORKER_COUNTS = {
    "hashing.bytes": "hashing.bytes",
    "sketches.state_bytes": "sketches.state_bytes",
    "grouping.groups": "grouping.groups",
    "agg.merge_groups": "agg.merge_groups",
    "sketch_udfs.calls": "sketch_udfs.calls",
}
DRIVER_INCL = {
    "incremental.fold_s": "incremental.fold",
    "incremental.replay_s": "incremental.replay",
    "incremental.bookkeeping_s": "incremental.bookkeeping",
    "incremental.read_s": "incremental.read",
}
# pyspark PythonEvalType of the task's function
EVAL_RDD, EVAL_MAP_ARROW, EVAL_GROUPED_MAP = 0, 207, 201
ACTIONS = ("spark.action", "spark.read")
PER_LAYER = (["session.start_s"] + list(WORKER_SELF) + list(WORKER_COUNTS)
             + ["fastscan.task_s", "fastscan.tasks", "agg.partial_s",
                "agg.merge_s", "agg.merge_tasks", "sketch_udfs.busy_s"]
             + list(DRIVER_INCL)
             + ["spark.jobs", "spark.stages", "spark.tasks",
                "spark.orchestration_s"])


def load_tasks(trace_dir: str) -> dict[str, list[dict]]:
    by_op: dict[str, list[dict]] = defaultdict(list)
    for path in glob.glob(os.path.join(trace_dir, "w-*.jsonl")):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                by_op[rec["op"]].append(rec)
    return by_op


def _intervals(spans: list[list], names) -> list[tuple[float, float]]:
    """Union of the intervals of spans named in ``names``, sorted."""
    out: list[list[float]] = []
    for n, s, e, _ in sorted((sp for sp in spans if sp[0] in names),
                             key=lambda sp: sp[1]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def attribute(segments: list[list], windows: list[tuple[float, float]]) -> dict:
    """Wall-clock seconds per layer: every instant inside ``windows`` at
    which k worker segments run is split equally among them."""
    events = []
    for name, s, e in segments:
        for ws, we in windows:
            a, b = max(s, ws), min(e, we)
            if b > a:
                events.append((a, 1, name))
                events.append((b, -1, name))
    events.sort(key=lambda ev: (ev[0], ev[1]))
    active: dict[str, int] = defaultdict(int)
    n_active = 0
    out: dict[str, float] = defaultdict(float)
    last = None
    for t, step, name in events:
        if n_active and last is not None and t > last:
            dt = (t - last) / n_active
            for layer, k in active.items():
                if k:
                    out[layer] += dt * k
        active[name] += step
        n_active += step
        last = t
    return dict(out)


def breakdown(op: dict, spans: list[list], tasks: list[dict]) -> dict:
    """Split one op's wall time into disjoint parts (module docstring)."""
    i0, i1 = op["spans"]
    local = [[n, s, e, p - i0 if p >= 0 else -1] for n, s, e, p in spans[i0:i1]]
    self_d, incl_d = fold(local)
    wall = op["t1"] - op["t0"]
    windows = _intervals(local, ACTIONS)
    layers = attribute([seg for t in tasks for seg in t["segments"]], windows)
    parts: dict[str, float] = defaultdict(float)
    for name, sec in self_d.items():
        if name not in ACTIONS:
            parts["driver." + name if name == "op" else name] += sec
    parts["spark.orchestration"] = (sum(self_d.get(a, 0.0) for a in ACTIONS)
                                    - sum(layers.values()))
    for name, sec in layers.items():
        parts[name] += sec
    return {"wall": wall, "parts": dict(parts), "incl": incl_d,
            "coverage": sum(parts.values()) / wall}


def per_layer(ops: list[dict], spans: list[list], tasks_by_op: dict,
              counts_by_op: dict, rounds: int, session_start_s: float):
    """(per-layer metrics per timed round, per-op breakdowns)."""
    total: dict[str, float] = defaultdict(float)
    rows = []
    for op in ops:
        tasks = tasks_by_op.get(op["id"], [])
        b = breakdown(op, spans, tasks)
        rows.append((op, b))
        total["spark.orchestration_s"] += b["parts"]["spark.orchestration"]
        for metric, name in DRIVER_INCL.items():
            total[metric] += b["incl"].get(name, 0.0)
        for t in tasks:
            for metric, name in WORKER_SELF.items():
                total[metric] += t["self"].get(name, 0.0)
            for metric, name in WORKER_COUNTS.items():
                total[metric] += t["counts"].get(name, 0)
            dur = t["t1"] - t["t0"]
            if t["eval"] == EVAL_RDD:
                total["fastscan.task_s"] += dur
                total["fastscan.tasks"] += 1
            elif t["eval"] == EVAL_MAP_ARROW:
                total["agg.partial_s"] += dur
            elif t["eval"] == EVAL_GROUPED_MAP:
                total["agg.merge_s"] += dur
                total["agg.merge_tasks"] += 1
            total["sketch_udfs.busy_s"] += t["incl"].get("sketch_udfs.udf", 0.0)
        for k, v in counts_by_op.get(op["id"], {}).items():
            total[k] += v
    metrics = {m: total.get(m, 0.0) / rounds for m in PER_LAYER}
    metrics["session.start_s"] = session_start_s
    return metrics, rows


def spark_counts(sc, group: str) -> dict:
    """Jobs, stages that ran and tasks that ran, for one job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
    return {"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks}


def render(metrics: dict, rows: list, rounds: int) -> list[str]:
    out = [f"traced run: {rounds} timed rounds; per-layer metrics per round"]
    for m in PER_LAYER:
        out.append(f"  {m:28s} {metrics[m]:.6g}")
    out.append("per op: wall, orchestration remainder, coverage, largest parts (s)")
    for op, b in rows:
        top = sorted(b["parts"].items(), key=lambda kv: -kv[1])[:5]
        parts = ", ".join(f"{n} {v:.3f}" for n, v in top)
        out.append(f"  {op['id']:18s} {op['kind']:6s} wall {b['wall']:.3f} "
                   f"orch {b['parts']['spark.orchestration']:.3f} "
                   f"cov {b['coverage']:.3f} | {parts}")
    covs = [b["coverage"] for _, b in rows]
    if covs:
        out.append(f"coverage median {statistics.median(covs):.3f} "
                   f"min {min(covs):.3f} max {max(covs):.3f}")
    return out
