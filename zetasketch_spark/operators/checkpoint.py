"""Checkpointed sketch aggregation: resumable partial state with
per-partition lineage + metrics (north_rule).

Stage-1 partial sketches are appended to a parquet checkpoint table keyed by
``(input_fingerprint, partition_id)``:

    keys..., sketch binary, rows_seen, partition_id,
    input_fingerprint string, n_partitions int, job string

Resume semantics: re-running the same job over the same input skips every
partition already checkpointed — only missing partitions are recomputed
(e.g. after an executor loss or a killed run). The final merge always reads
the checkpoint table, so the merge is also a pure function of checkpoint
state. The input fingerprint covers the file listing (name, size,
mtime) of the source, so a changed input never reuses stale partials.

This is the parquet stand-in for Iceberg snapshot-based resumability (the
TableIO seam in `zetasketch_spark.sources.tables` switches to Iceberg when
the runtime has the jar).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from zetasketch_spark.operators.agg import (
    PARTITION_COL,
    ROWS_COL,
    SKETCH_COL,
    sketch_merge,
    sketch_partial,
    sketch_result,
)
from zetasketch_spark.sketches.base import SketchFamily


def input_fingerprint(paths: list[str]) -> str:
    """Stable fingerprint of the input file set (name, size, mtime)."""
    entries = []
    for p in sorted(paths):
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()  # os.walk yields dirs in readdir order
                for fn in sorted(files):
                    fp = os.path.join(root, fn)
                    st = os.stat(fp)
                    entries.append((fp, st.st_size, int(st.st_mtime)))
        elif os.path.exists(p):
            st = os.stat(p)
            entries.append((p, st.st_size, int(st.st_mtime)))
    entries.sort()
    return hashlib.sha256(json.dumps(entries).encode()).hexdigest()[:20]


def query_signature(keys: list[str], col: str, family: SketchFamily,
                    tree_levels: int) -> str:
    """Identity of WHAT is being computed: two queries over the same input
    must never share checkpointed partials (a col/precision change with
    the same job name would otherwise silently resume stale state).
    Runtime caches are not parameters (``SketchFamily.params``): a family
    that has sketched a batch signs like a pristine one."""
    cfg = {k: repr(v) for k, v in sorted(family.params().items())}
    payload = json.dumps([type(family).__name__, cfg, list(keys), col,
                          tree_levels])
    return hashlib.sha256(payload.encode()).hexdigest()[:10]


def checkpointed_sketch_agg(
    spark: SparkSession,
    df: DataFrame,
    keys: list[str],
    col: str,
    family: SketchFamily,
    checkpoint_dir: str,
    input_paths: list[str],
    job: str = "sketch_agg",
    tree_levels: int = 1,
    input_fingerprint_override: str | None = None,
) -> tuple[DataFrame, dict]:
    """Run sketch_agg with stage-1 checkpointing. Returns (result df,
    metrics dict). Partitions already in the checkpoint for the same
    (job, query signature, input_fingerprint) are not recomputed: their
    tasks return immediately inside the partial stage (no hashing or
    sketch updates; the scan task is still scheduled, which is as far as
    a post-scan operator can skip)."""
    # Identity of WHAT was read: Iceberg callers pass the snapshot-based
    # fingerprint (TableIO.input_fingerprint) so resume follows the table
    # snapshot; the default is the file-listing fingerprint.
    fp = (input_fingerprint_override if input_fingerprint_override is not None
          else input_fingerprint(input_paths))
    qsig = query_signature(keys, col, family, tree_levels)
    job = f"{job}-{qsig}"
    ckpt_path = os.path.join(checkpoint_dir, "partials")
    os.makedirs(checkpoint_dir, exist_ok=True)
    manifest = os.path.join(checkpoint_dir, f"complete-{job}-{fp}")

    done: set[int] = set()
    if os.path.exists(ckpt_path):
        existing = spark.read.parquet(ckpt_path).filter(
            (F.col("input_fingerprint") == fp) & (F.col("job") == job))
        done = {r[PARTITION_COL] for r in
                existing.select(PARTITION_COL).distinct().collect()}

    t0 = time.time()
    computed = 0
    if not os.path.exists(manifest):
        # (Re)compute: skip partitions whose partials already landed in a
        # prior (interrupted) run over the same input — partition numbering
        # is stable for identical input files + session config, which is
        # the resume contract.
        partials = sketch_partial(df, keys, col, family,
                                  skip_partitions=frozenset(done))
        to_write = (
            partials
            .withColumn("input_fingerprint", F.lit(fp))
            .withColumn("job", F.lit(job))
        )
        to_write.write.mode("append").parquet(ckpt_path)
        new_done = {r[PARTITION_COL] for r in
                    spark.read.parquet(ckpt_path)
                    .filter((F.col("input_fingerprint") == fp) & (F.col("job") == job))
                    .select(PARTITION_COL).distinct().collect()}
        computed = len(new_done) - len(done)
        # the write action finished -> stage 1 is complete for this input
        with open(manifest, "w") as f:
            f.write(json.dumps({"partitions": sorted(int(p) for p in new_done)}))
        done_after = new_done
    else:
        done_after = done

    all_partials = spark.read.parquet(ckpt_path).filter(
        (F.col("input_fingerprint") == fp) & (F.col("job") == job))
    merged = sketch_merge(
        all_partials.select(*keys, SKETCH_COL, ROWS_COL, PARTITION_COL),
        keys, family, tree_levels=tree_levels)
    result = sketch_result(merged, family)
    metrics = {
        "job": job,
        "input_fingerprint": fp,
        "n_partitions": len(done_after),
        "partitions_resumed": len(done),
        "partitions_computed": computed,
        "stage1_seconds": round(time.time() - t0, 3),
    }
    # append metrics for observability (one row per run)
    metrics_path = os.path.join(checkpoint_dir, "runs.jsonl")
    os.makedirs(checkpoint_dir, exist_ok=True)
    with open(metrics_path, "a") as f:
        f.write(json.dumps({**metrics, "ts": time.time()}) + "\n")
    return result, metrics
