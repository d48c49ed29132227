"""Deterministic multi-turn conversation transcript table (FIXTURES.md F1).

Schema per ``BASELINE.json input_hint``:
``conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp`` — stable turn ordering under ``ORDER BY conv_id, turn_idx``.

Generation is numpy-vectorized and seeded, so the same (n_turns, seed)
always yields byte-identical parquet: sketch *states* over this data are
reproducible, which the state-equality tests rely on. Conversation sizes are
Zipf-skewed (hot conversations) to exercise the skew paths; ~10% of turns
are tool calls with Zipf-skewed tool names (the Count-Min heavy-hitter
oracle); timestamps are monotone within a conversation and spread over ~30
days of day buckets.

At cluster scale the table would live in Iceberg partitioned by
``days(ts)``; the sandbox fallback is parquet written partitioned by
``day`` via the same ``TableIO`` seam (`zetasketch_spark.sources.tables`).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])

_TOOLS = [
    "search", "bash", "read_file", "write_file", "edit", "browser", "python",
    "sql", "calculator", "calendar", "email", "fetch_url", "grep", "glob",
    "summarize", "translate", "ocr", "speech_to_text", "image_gen", "diff",
    "lint", "test_runner", "compiler", "debugger", "profiler", "git",
    "docker", "kubectl", "terraform", "aws_cli", "gcloud", "azure_cli",
    "slack", "jira", "github", "gitlab", "pagerduty", "datadog", "grafana",
    "prometheus", "redis_cli", "psql", "mongo", "kafka", "spark_submit",
    "airflow", "dbt", "notebook", "vector_db", "crawler",
]
_VOCAB_SIZE = 4096
_BASE_TS_US = 1767225600000000  # 2026-01-01T00:00:00Z in microseconds


def generate_transcripts(n_turns: int, seed: int = 42,
                         n_convs: int | None = None,
                         text_mode: str = "unique",
                         conv_offset: int = 0) -> pa.Table:
    """Build an Arrow table of ``n_turns`` transcript turns.

    ``text_mode``:
    * ``"unique"`` — every turn gets a fresh 5-200-word text (exact
      COUNT(DISTINCT text) is meaningful); per-row Python string slicing,
      fine up to ~10M turns.
    * ``"pool"`` — texts drawn from a 64Ki pool (dictionary-encodable, so
      parquet stays small and generation is fully vectorized); used for the
      very large throughput/scaling tables where the benched job never
      reads text. conv_id is a plain numeric string in this mode.
    """
    rng = np.random.default_rng(seed)
    if n_convs is None:
        n_convs = max(64, n_turns // 100)

    # Zipf(s=1.2) conversation popularity via inverse-CDF over 1/k^s weights
    s = 1.2
    weights = 1.0 / np.arange(1, n_convs + 1, dtype=np.float64) ** s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(n_turns), side="left")
    ranks = np.clip(ranks, 0, n_convs - 1)
    # permute ranks -> conv indexes so hot conversations aren't conv-0
    perm = rng.permutation(n_convs)
    conv_idx = perm[ranks]

    # contiguous turn_idx per conversation: sort by conv, cumcount
    order = np.argsort(conv_idx, kind="stable")
    conv_sorted = conv_idx[order]
    boundary = np.empty(n_turns, dtype=bool)
    boundary[0] = True
    boundary[1:] = conv_sorted[1:] != conv_sorted[:-1]
    group_start = np.maximum.accumulate(np.where(boundary, np.arange(n_turns), 0))
    turn_idx = (np.arange(n_turns) - group_start).astype(np.int32)

    if text_mode == "pool":
        import pyarrow.compute as pc

        conv_id_arr = pc.cast(pa.array(conv_sorted + conv_offset), pa.string())
    else:
        conv_id_arr = pa.array(
            np.char.add("conv-", np.char.zfill(
                (conv_sorted + conv_offset).astype("U10"), 10)),
            type=pa.string())

    # roles: user/assistant alternate; ~10% tool turns (deterministic slots)
    tool_turn = rng.random(n_turns) < 0.10
    role_codes = np.where(turn_idx % 2 == 0, 0, 1).astype(np.int8)
    role_codes[tool_turn] = 2

    # tool names: Zipf(s=1.5) over the 50 names, NULL on non-tool turns
    t_weights = 1.0 / np.arange(1, len(_TOOLS) + 1, dtype=np.float64) ** 1.5
    t_cdf = np.cumsum(t_weights)
    t_cdf /= t_cdf[-1]
    t_ranks = np.clip(np.searchsorted(t_cdf, rng.random(n_turns), side="left"),
                      0, len(_TOOLS) - 1).astype(np.int32)

    _ROLES = ["user", "assistant", "tool"]
    if text_mode == "pool":
        import pyarrow.compute as pc

        role_arr = pc.cast(pa.DictionaryArray.from_arrays(
            pa.array(role_codes.astype(np.int32)), pa.array(_ROLES)), pa.string())
        tool_arr = pc.cast(pa.DictionaryArray.from_arrays(
            pa.array(t_ranks, mask=~tool_turn), pa.array(_TOOLS)), pa.string())
    else:
        role = np.array(_ROLES, dtype=object)[role_codes]
        tools = np.array(_TOOLS, dtype=object)[t_ranks]
        tool = np.where(tool_turn, tools, None)
        role_arr = pa.array(role, type=pa.string())
        tool_arr = pa.array(tool, type=pa.string())

    if text_mode == "pool":
        pool_rng = np.random.default_rng(0x7E57)
        pool = []
        vocab = np.array([f"w{i:04x}" for i in range(_VOCAB_SIZE)], dtype=object)
        for _ in range(65536):
            k = int(pool_rng.integers(5, 31))
            pool.append(" ".join(vocab[pool_rng.integers(0, _VOCAB_SIZE, size=k)]))
        idx = rng.integers(0, len(pool), size=n_turns).astype(np.int32)
        text_arr = pa.DictionaryArray.from_arrays(
            pa.array(idx), pa.array(pool, type=pa.string()))
    else:
        # text: 5..200 vocab words per turn, vectorized via one big word draw
        words_per_turn = rng.integers(5, 201, size=n_turns)
        total_words = int(words_per_turn.sum())
        word_ids = rng.integers(0, _VOCAB_SIZE, size=total_words)
        vocab = np.array([f"w{i:04x}" for i in range(_VOCAB_SIZE)], dtype=object)
        flat_words = vocab[word_ids]
        ends = np.cumsum(words_per_turn)
        starts = ends - words_per_turn
        joined = np.empty(n_turns, dtype=object)
        big = " ".join(flat_words)  # single join, then slice by char offsets
        # char offsets: each word is 5 chars + 1 space
        char_starts = starts * 6
        char_ends = ends * 6 - 1
        for i in range(n_turns):  # slicing strings; cheap relative to parquet IO
            joined[i] = big[char_starts[i]:char_ends[i]]
        text_arr = pa.array(joined, type=pa.string())

    # timestamps: conv base offset over ~30 days + 1..90s per turn, monotone
    conv_base_us = ((conv_sorted + conv_offset) * 2654435761 % (30 * 86400)) * 1_000_000
    step_s = rng.integers(1, 91, size=n_turns)
    # cumulative within conversation: global cumsum minus value at group start
    cum = np.cumsum(step_s)
    cum_at_start = cum[group_start]
    within = cum - cum_at_start + step_s[group_start] * 0  # seconds since conv start
    ts = (_BASE_TS_US + conv_base_us + within * 1_000_000).astype("int64")

    cols = [
        conv_id_arr,
        pa.array(turn_idx, type=pa.int32()),
        role_arr,
        text_arr,
        tool_arr,
        pa.array(ts, type=pa.timestamp("us")),
    ]
    if text_mode == "pool":
        schema = pa.schema([
            SCHEMA.field(0), SCHEMA.field(1), SCHEMA.field(2),
            pa.field("text", pa.dictionary(pa.int32(), pa.string())),
            SCHEMA.field(4), SCHEMA.field(5),
        ])
        return pa.Table.from_arrays(cols, schema=schema)
    return pa.Table.from_arrays(cols, schema=SCHEMA)


# peak RSS of one part writer per generated turn (measured: 4.3 KB at
# 200k turns), which sizes the writer pool to the free memory
_PEAK_BYTES_PER_TURN = 4400


def write_transcripts_parquet(path: str, n_turns: int, seed: int = 42,
                              n_convs: int | None = None,
                              rows_per_file: int = 2_000_000,
                              row_group_size: int = 128 * 1024,
                              text_mode: str = "unique") -> str:
    """Write the transcripts table as one-or-more parquet files under
    ``path`` (idempotent: skips when a matching manifest exists)."""
    manifest = os.path.join(path, "_MANIFEST")
    stamp = (f"v2 n_turns={n_turns} seed={seed} n_convs={n_convs} "
             f"text_mode={text_mode} rows_per_file={rows_per_file}")
    if os.path.exists(manifest) and open(manifest).read() == stamp:
        return path
    os.makedirs(path, exist_ok=True)
    # a mismatched manifest means the table is being re-generated with new
    # parameters: stale parts must not survive (readers glob the directory)
    import glob as _g

    for old in _g.glob(os.path.join(path, "part-*.parquet")):
        os.remove(old)
    jobs = []
    written = 0
    part = 0
    while written < n_turns:
        chunk = min(rows_per_file, n_turns - written)
        # each part gets a disjoint conversation-id range so multi-part
        # tables never contain duplicate (conv_id, turn_idx) rows — the
        # per-turn text-equality invariant requires (conv_id, turn_idx)
        # to be a key
        n_convs_part = n_convs if n_convs is not None else max(64, chunk // 100)
        jobs.append((path, part, chunk, seed + part, n_convs_part, text_mode,
                     row_group_size, part * n_convs_part))
        written += chunk
        part += 1
    if len(jobs) > 1:
        # a writer the OOM killer takes must fail the build with
        # BrokenProcessPool, not hang it (multiprocessing.Pool.map waits
        # forever on a lost task)
        from concurrent.futures import ProcessPoolExecutor
        from multiprocessing import get_context

        free = os.sysconf("SC_AVPHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        workers = min(len(jobs), os.cpu_count() or 1,
                      free // (_PEAK_BYTES_PER_TURN * rows_per_file))
        with ProcessPoolExecutor(max(1, workers),
                                 mp_context=get_context("fork")) as pool:
            list(pool.map(_write_one_part, jobs))
    else:
        _write_one_part(jobs[0])
    with open(manifest, "w") as f:
        f.write(stamp)
    return path


def _write_one_part(args):
    path, part, chunk, seed, n_convs, text_mode, row_group_size, conv_offset = args
    tbl = generate_transcripts(chunk, seed=seed, n_convs=n_convs,
                               text_mode=text_mode, conv_offset=conv_offset)
    pq.write_table(tbl, os.path.join(path, f"part-{part:05d}.parquet"),
                   row_group_size=row_group_size, compression="snappy")


def load_transcripts(spark, path: str):
    df = spark.read.parquet(path)
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
