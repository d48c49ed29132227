"""Span recorder and the wrappers that feed it, for the traced run.

Spans are recorded only by wrappers this module installs around calls into
the program's modules: nothing inside ``zetasketch_spark`` is edited. A
span is ``[name, start, end, parent]`` in ``time.perf_counter`` seconds
(CLOCK_MONOTONIC, shared by every process on the host). A call that
re-enters the layer it is already inside records no second span, so each
layer's calls never nest in themselves.

Two sides use it:

* the driver (``install_driver``): public entry points each op calls and
  the Spark actions that run jobs;
* Python workers (``install_worker``, run by ``perfbench_daemon`` before it
  forks workers): hashing, sketches, grouping, parquet reads and the
  DataFrame UDF bodies. Each task's spans are folded into per-layer self
  and inclusive seconds when the task ends and appended to one file per
  worker process as one JSON line (``flush_task``).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict

OP_PREFIX = "perfbench-op-"


class Recorder:
    """In-memory spans of one process, plus named counters."""

    def __init__(self):
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.active = True
        self.task: dict = {}

    def reset(self) -> None:
        self.spans = []
        self.stack = []
        self.counts = defaultdict(float)
        self.task = {}

    def open(self, name: str) -> int:
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), 0.0,
                           self.stack[-1] if self.stack else -1])
        self.stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.stack.pop()
        self.spans[idx][2] = time.perf_counter()

    def current(self) -> str | None:
        return self.spans[self.stack[-1]][0] if self.stack else None


REC = Recorder()


@contextlib.contextmanager
def span(name: str, rec: Recorder = REC):
    """A span around a block of the benchmark's own code; free when the
    recorder is inactive (the untraced run)."""
    if not rec.active:
        yield
        return
    idx = rec.open(name)
    try:
        yield
    finally:
        rec.close(idx)


def fold(spans: list[list]) -> tuple[dict, dict]:
    """Per-layer self and inclusive seconds of ``spans`` (a list of
    ``[name, start, end, parent]``)."""
    child = [0.0] * len(spans)
    for name, s, e, parent in spans:
        if parent >= 0:
            child[parent] += e - s
    self_s: dict[str, float] = defaultdict(float)
    incl: dict[str, float] = defaultdict(float)
    for i, (name, s, e, parent) in enumerate(spans):
        self_s[name] += (e - s) - child[i]
        incl[name] += e - s
    return dict(self_s), dict(incl)


def self_segments(spans: list[list]) -> list[list]:
    """``[name, start, end]`` pieces of each span not covered by its
    children (children of one span run one after another)."""
    kids: dict[int, list[int]] = defaultdict(list)
    for i, sp in enumerate(spans):
        if sp[3] >= 0:
            kids[sp[3]].append(i)
    out = []
    for i, (name, s, e, _) in enumerate(spans):
        cur = s
        for k in kids.get(i, ()):
            if spans[k][1] > cur:
                out.append([name, cur, spans[k][1]])
            cur = max(cur, spans[k][2])
        if e > cur:
            out.append([name, cur, e])
    return out


def wrap(fn, name: str, count=None, rec: Recorder = REC):
    """``fn`` timed as a span named ``name``; ``count(rec, args, result)``
    adds to counters after the call."""
    if getattr(fn, "_perfbench_wrapped", False):
        return fn

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not rec.active or rec.current() == name:
            return fn(*args, **kwargs)
        idx = rec.open(name)
        try:
            out = fn(*args, **kwargs)
        finally:
            rec.close(idx)
        if count is not None:
            count(rec, args, out)
        return out

    traced._perfbench_wrapped = True
    try:
        traced.__signature__ = inspect.signature(fn)
    except (TypeError, ValueError):
        pass
    return traced


def _rebind(original, wrapper, prefix: str = "zetasketch_spark") -> None:
    """Point every module-level reference to ``original`` in the loaded
    program modules at ``wrapper`` (covers ``from x import f`` copies)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefix):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)


def wrap_function(module, attr: str, name: str, count=None) -> None:
    original = getattr(module, attr)
    _rebind(original, wrap(original, name, count))


def wrap_method(cls, attr: str, name: str, count=None) -> None:
    """Wrap ``cls.attr`` where ``cls`` itself defines it (plain function,
    classmethod or staticmethod)."""
    raw = cls.__dict__.get(attr)
    if raw is None:
        return
    if isinstance(raw, classmethod):
        setattr(cls, attr, classmethod(wrap(raw.__func__, name, count)))
    elif isinstance(raw, staticmethod):
        setattr(cls, attr, staticmethod(wrap(raw.__func__, name, count)))
    else:
        setattr(cls, attr, wrap(raw, name, count))


# -- counters ---------------------------------------------------------------

def _count_arrow_bytes(rec, args, out):
    arr = args[0]
    rec.counts["hashing.bytes"] += getattr(arr, "nbytes", 0)


def _count_series_bytes(rec, args, out):
    s = args[0]
    try:
        rec.counts["hashing.bytes"] += int(s.str.len().sum())
    except (AttributeError, TypeError):
        rec.counts["hashing.bytes"] += getattr(s, "nbytes", 0)


def _count_numpy_bytes(rec, args, out):
    rec.counts["hashing.bytes"] += getattr(args[0], "nbytes", 0)


def _count_buffer_bytes(rec, args, out):
    rec.counts["hashing.bytes"] += int(getattr(args[0], "nbytes", 0))


def _count_state_bytes(rec, args, out):
    rec.counts["sketches.state_bytes"] += len(out)


def _count_groups(rec, args, out):
    rec.counts["grouping.groups"] += len(out)


_SKETCH_METHODS = {
    "sketches.update": ("add_hashes", "add_strings", "add_longs", "add_ints",
                        "add_doubles", "add_series", "add_array",
                        "add_weighted_series", "prepare_arrow",
                        "update_prepared", "update"),
    "sketches.merge": ("merge", "merge_serialized"),
    "sketches.serialize": ("serialize",),
    "sketches.deserialize": ("deserialize",),
    "sketches.result": ("estimate", "quantile", "quantiles", "rank",
                        "point_query_series", "heavy_hitters", "result"),
}


def install_program_layers() -> None:
    """hashing, sketches and grouping, in a Python worker."""
    import zetasketch_spark.hashing as hashing
    import zetasketch_spark.hll as hll
    import zetasketch_spark.operators.agg  # noqa: F401  (load before rebinding)
    import zetasketch_spark.operators.fastscan  # noqa: F401
    import zetasketch_spark.operators.grouping as grouping
    import zetasketch_spark.operators.multi  # noqa: F401
    import zetasketch_spark.functions.sketch_udfs  # noqa: F401
    from zetasketch_spark.sketches import base, countmin, ddsketch, kll

    wrap_function(hashing, "fingerprint_arrow_array", "hashing", _count_arrow_bytes)
    wrap_function(hashing, "fingerprint_str_series", "hashing", _count_series_bytes)
    wrap_function(hashing, "fingerprint_bytes_batch", "hashing", _count_buffer_bytes)
    for fn in ("fingerprint_long_array", "fingerprint_double_array",
               "fingerprint_float_array", "fingerprint_int_array"):
        wrap_function(hashing, fn, "hashing", _count_numpy_bytes)
    wrap_function(grouping, "arrow_group_indices", "grouping", _count_groups)

    classes = [hll.HllSketch, countmin.CountMinSketch, ddsketch.DDSketch,
               kll.KllSketch, base.SketchFamily, base.HllFamily,
               countmin.CountMinFamily, ddsketch.DDSketchFamily, kll.KllFamily]
    for cls in classes:
        for layer, methods in _SKETCH_METHODS.items():
            count = _count_state_bytes if layer == "sketches.serialize" else None
            for m in methods:
                wrap_method(cls, m, layer, count)


# -- worker side --------------------------------------------------------------

_UDF_LAYER = {
    "zetasketch_spark.operators.agg": "agg.udf",
    "zetasketch_spark.operators.multi": "agg.udf",
    "zetasketch_spark.functions.sketch_udfs": "sketch_udfs.udf",
}
# pyspark PythonEvalType codes whose function is called once per group or
# batch (iterator UDFs return generators, so their task span times them)
_PER_CALL_EVAL = {200, 201, 202}


def _udf_counter(layer: str, eval_type: int):
    def count(rec, args, out):
        if layer == "sketch_udfs.udf":
            rec.counts["sketch_udfs.calls"] += 1
        elif eval_type == 201:
            rec.counts["agg.merge_groups"] += 1
    return count


def _task_info(rec: Recorder) -> None:
    if rec.task:
        return
    from pyspark import TaskContext

    tc = TaskContext.get()
    if tc is None:
        return
    rec.task = {"op": tc.getLocalProperty("spark.jobGroup.id"),
                "stage": tc.stageId(), "part": tc.partitionId(),
                "attempt": tc.taskAttemptId(), "eval": 0,
                "pid": os.getpid()}


def install_worker(out_dir: str) -> None:
    """Hook a Python worker daemon before it forks workers."""
    import pyarrow.parquet as pq
    import pyspark.daemon as daemon
    import pyspark.worker as worker

    install_program_layers()
    pq.ParquetFile.read_row_groups = wrap(pq.ParquetFile.read_row_groups,
                                          "fastscan.decode")

    orig_read_udfs = worker.read_udfs
    orig_read_command = worker.read_command

    def read_udfs(pickle_ser, infile, eval_type):
        _task_info(REC)
        REC.task["eval"] = eval_type
        return orig_read_udfs(pickle_ser, infile, eval_type)

    def read_command(serializer, infile):
        out = orig_read_command(serializer, infile)
        _task_info(REC)
        eval_type = REC.task.get("eval", 0)
        if (isinstance(out, tuple) and len(out) == 2 and callable(out[0])
                and eval_type in _PER_CALL_EVAL):
            f, return_type = out
            layer = _UDF_LAYER.get(getattr(f, "__module__", ""))
            if layer is not None:
                if layer == "agg.udf" and eval_type == 200:
                    layer = "sketches.result"
                out = (wrap(f, layer, _udf_counter(layer, eval_type)),
                       return_type)
        return out

    worker.read_udfs = read_udfs
    worker.read_command = read_command
    orig_main = daemon.worker_main

    def traced_main(infile, outfile):
        REC.reset()
        t0 = time.perf_counter()
        try:
            return orig_main(infile, outfile)
        finally:
            t1 = time.perf_counter()
            flush_task(out_dir, t0, t1)

    daemon.worker_main = traced_main


def flush_task(out_dir: str, t0: float, t1: float) -> None:
    """Fold the finished task's spans and append them as one line."""
    info = REC.task
    op = info.get("op") or ""
    if not op.startswith(OP_PREFIX):
        return
    self_s, incl = fold(REC.spans)
    rec = dict(info, t0=t0, t1=t1, self=self_s, incl=incl,
               counts=dict(REC.counts), segments=self_segments(REC.spans))
    with open(os.path.join(out_dir, f"w-{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


# -- driver side --------------------------------------------------------------

def install_driver() -> None:
    """Wrap the public entry points each op calls and the Spark actions
    that submit jobs, in the driver process."""
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    import zetasketch_spark.operators.agg as agg
    import zetasketch_spark.operators.fastscan as fastscan
    import zetasketch_spark.operators.incremental as inc
    import zetasketch_spark.operators.multi as multi

    for attr in ("collect", "count", "localCheckpoint", "toPandas"):
        setattr(DataFrame, attr, wrap(getattr(DataFrame, attr), "spark.action"))
    DataFrameWriter.parquet = wrap(DataFrameWriter.parquet, "spark.action")
    DataFrameReader.parquet = wrap(DataFrameReader.parquet, "spark.read")

    for attr in ("multi_sketch_agg_rdd", "sketch_agg_rdd", "plan_splits"):
        wrap_function(fastscan, attr, "fastscan.plan")
    for attr in ("sketch_agg", "sketch_partial", "sketch_merge",
                 "sketch_result"):
        wrap_function(agg, attr, "agg.plan")
    wrap_function(multi, "multi_sketch_partial", "agg.plan")
    wrap_function(inc, "update_tables", "incremental.update_tables")
    wrap_method(inc.SketchTable, "update", "incremental.update")
    for attr in ("results", "rollup", "read"):
        wrap_method(inc.SketchTable, attr, "incremental.read")
    for attr in ("latest_version", "_next_version", "_log_records",
                 "_append_log_record", "applied_fingerprints",
                 "_chain_versions", "_check_value_domain"):
        wrap_method(inc.SketchTable, attr, "incremental.bookkeeping")
