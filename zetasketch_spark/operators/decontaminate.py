"""Test-set decontamination: flag training documents that share word
k-gram shingles with a benchmark/eval set (the GPT-3/Pile-style n-gram
overlap check, run at corpus scale).

Shape for 100 TB:

1. **benchmark digest** — the benchmark's distinct shingle hashes fold
   into ONE Bloom filter via the shared sketch harness (partials +
   bit-OR merge; only ``m/8``-byte states shuffle). Eval sets are tiny
   next to the corpus, so the Bloom broadcasts.
2. **prefilter** — one vectorized pass over the corpus counts each
   document's shingles that hit the Bloom. Zero false negatives by
   construction, so every genuinely contaminated doc survives; false
   positives only add verification work (FPR-bounded).
3. **exact verify** — only flagged candidates explode their shingles and
   join the benchmark's distinct-shingle table; the reported
   ``n_shared_grams`` is an exact distinct-intersection count, so the
   output is an exact function of the data (DuckDB-oracle-able).

Same candidates-then-verify discipline as the MinHash pipeline: nothing
quadratic, nothing approximate in the OUTPUT.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

from zetasketch_spark.operators.materialize import materialize


def benchmark_shingle_bloom(benchmark: DataFrame, text_col: str = "text",
                            shingle_k: int = 5, m: int = 1 << 22,
                            k: int = 7) -> bytes:
    """Serialized Bloom filter of the benchmark's shingle hashes, built
    distributed (per-partition partial filters, bit-OR merge)."""
    return _bloom_from_shingles(
        _exploded_shingles(benchmark, text_col, shingle_k, id_col=None),
        m=m, k=k)


def _bloom_from_shingles(shingles: DataFrame, m: int, k: int) -> bytes:
    """Fold a ``shingle`` column into one serialized Bloom digest.

    Bloom insertion is idempotent (bit OR), so the bit array is identical
    whether ``shingles`` carries duplicates or is distinct (``n_added``,
    hence the serialized blob and ``expected_fpr``, counts the
    duplicates and differs) — membership is unchanged, which lets
    :func:`decontaminate` build the digest from the SAME
    distinct-shingle table its exact-verify join needs, instead of
    shingling the benchmark twice (r6: the duplicate pandas-UDF pass was
    ~40% of the digest cost at bench scale)."""
    from zetasketch_spark.operators.agg import sketch_merge, sketch_partial
    from zetasketch_spark.sketches.bloom import BloomFamily

    fam = BloomFamily(m=m, k=k)
    partials = sketch_partial(shingles, [], "shingle", fam)
    rows = sketch_merge(partials, [], fam).collect()  # ONE m/8-byte state
    if not rows:  # empty benchmark / all-empty texts: empty digest
        return fam.serialize(fam.make())
    return bytes(rows[0]["sketch"])


def _exploded_shingles(docs: DataFrame, text_col: str, shingle_k: int,
                       id_col: str | None) -> DataFrame:
    """(id?, shingle bigint) rows — batch-vectorized shingle hashes."""
    from zetasketch_spark.operators.dedup import shingle_sets

    if id_col is None:
        docs = docs.select(F.monotonically_increasing_id().alias("_rid"),
                           F.col(text_col))
        id_col = "_rid"
    sh = shingle_sets(docs, text_col, id_col, shingle_k)
    out = sh.select(F.col(id_col),
                    F.explode("shingles").alias("shingle"))
    return out if id_col != "_rid" else out.select("shingle")


_BLOOM_CACHE: dict[bytes, object] = {}  # keyed by the blob BYTES (exact)
_BC_CACHE: dict[bytes, object] = {}     # driver-side broadcast reuse


def _cached_bloom(blob: bytes):
    """Deserialize a Bloom digest once per executor process (the 512 KiB
    bit array would otherwise be copied once per Arrow batch)."""
    from zetasketch_spark.sketches.bloom import BloomFilter

    bf = _BLOOM_CACHE.get(blob)
    if bf is None:
        if len(_BLOOM_CACHE) > 8:
            _BLOOM_CACHE.clear()
        bf = BloomFilter.deserialize(blob)
        _BLOOM_CACHE[blob] = bf
    return bf


def _broadcast_blob(spark, blob: bytes):
    """One broadcast per distinct digest per driver: repeated
    decontaminate/filter calls with the same benchmark must not leak a
    new 512 KiB broadcast each time; evicted entries are destroyed."""
    bc = _BC_CACHE.get(blob)
    if bc is None:
        if len(_BC_CACHE) > 8:
            for old in _BC_CACHE.values():
                old.destroy()
            _BC_CACHE.clear()
        bc = spark.sparkContext.broadcast(blob)
        _BC_CACHE[blob] = bc
    return bc


def _bloom_hits_udf(spark, bloom_blob: bytes, shingle_k: int):
    """pandas UDF: per-document count of shingle hashes present in the
    Bloom digest. The blob travels as a real Spark BROADCAST (shipped once
    per executor, not once per pickled task) and deserializes once per
    executor process."""
    from zetasketch_spark.operators.dedup import _shingle_hashes

    bc = _broadcast_blob(spark, bloom_blob)

    @pandas_udf("long")
    def bloom_hits(texts: pd.Series) -> pd.Series:
        import numpy as np

        bf = _cached_bloom(bc.value)
        hsets = _shingle_hashes(texts, k=shingle_k)
        counts = [0] * len(hsets)
        lens = np.array([len(h) for h in hsets], dtype=np.int64)
        if lens.sum():
            flat = np.concatenate([h for h in hsets if len(h)])
            hits = bf.contains_series(
                pd.Series(flat.view(np.int64))).astype(np.int64)
            bounds = np.concatenate([[0], np.cumsum(lens[lens > 0])])
            j = 0
            for i, ln in enumerate(lens):
                if ln:
                    counts[i] = int(hits[bounds[j]:bounds[j + 1]].sum())
                    j += 1
        return pd.Series(counts)

    # non-deterministic marking (guide §4.4): callers FILTER on this
    # UDF's output, and the optimizer otherwise pushes the filter below
    # the projection and evaluates the UDF twice — measured at sf1 as a
    # second full-corpus probe pass (9.6 s, single-task) feeding the
    # filter, plus the kept copy above it. Output unchanged (the probe is
    # pure).
    return bloom_hits.asNondeterministic()


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  shingle_k: int = 5, min_shared: int = 1,
                  bloom_m: int = 1 << 22, bloom_k: int = 7,
                  checkpoint_dir: str | None = None) -> DataFrame:
    """Exact contamination report: ``(doc_id, n_shared_grams)`` for every
    training doc sharing at least ``min_shared`` distinct word-k-gram
    shingles with ANY benchmark document."""
    # r5 measured the ensure_parallelism spread LOSING here (3.6 s ->
    # 8.2 s warm at sf0.1) and skipped it — but that measurement was
    # poisoned by the filter-pushdown UDF duplication now fixed by
    # asNondeterministic (the "spread" run was paying a second,
    # single-task full-corpus probe). With one evaluation the probe
    # kernel is the dominant cost (9.6 s single-task at sf1) and the
    # spread wins; at cluster scale the scan is multi-split and the
    # row-group-aware ensure_parallelism is a no-op.
    from zetasketch_spark.operators.parallelize import ensure_parallelism

    # the exact-verify join needs the benchmark's DISTINCT shingle table
    # anyway — materialize it first and fold the Bloom digest from it
    # (digest bytes identical, see _bloom_from_shingles), so the
    # benchmark's shingle UDF runs ONCE instead of twice
    bench_sh = materialize(
        _exploded_shingles(benchmark, text_col, shingle_k, id_col=None)
        .distinct(),
        checkpoint_dir, "benchmark_shingles")
    blob = _bloom_from_shingles(bench_sh, m=bloom_m, k=bloom_k)
    bloom_hits = _bloom_hits_udf(docs.sparkSession, blob, shingle_k)
    flagged = (
        ensure_parallelism(docs.select(id_col, text_col))
        .withColumn("_hits", bloom_hits(F.col(text_col)))
        .filter(F.col("_hits") >= min_shared)
        .drop("_hits")
    )
    # exact verification: only candidates explode; distinct-intersection
    # count against the benchmark's distinct shingles
    cand_sh = _exploded_shingles(flagged, text_col, shingle_k, id_col)
    return (
        cand_sh.join(bench_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= min_shared)
    )


def contamination_filter(df: DataFrame, bloom_blob: bytes,
                         text_col: str = "text", shingle_k: int = 5,
                         max_shared: int = 0) -> DataFrame:
    """Stateless contamination FILTER: keep rows whose text shares at most
    ``max_shared`` shingles with the benchmark digest (a pre-built
    :func:`benchmark_shingle_bloom` blob).

    Works identically on batch and STREAMING DataFrames (no state, no
    shuffle — one vectorized map), which is the ingest-time shape: drop
    contaminated documents as they arrive instead of re-scanning the
    corpus. Bloom false positives can only over-drop (bounded by the FPR);
    contaminated docs are never let through (zero false negatives)."""
    return df.filter(
        _bloom_hits_udf(df.sparkSession, bloom_blob, shingle_k)(F.col(text_col))
        <= max_shared)


def intra_doc_repetition(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", ngram: int = 3) -> DataFrame:
    """Gopher-style repetition signal (Rae et al. 2021, MassiveText
    quality filters): per document, the fraction of duplicate word
    n-grams — ``(id, n_grams, n_distinct, rep_ratio)``. High rep_ratio
    flags boilerplate/looping text for removal before training.

    One vectorized pass: the batch's gram hashes come from the shared
    shingling kernel (two fingerprint passes total), per-doc totals via
    bincount and distinct counts via one lexsort — no per-document Python
    loop, no shuffle (a pure map; filter/aggregate downstream as
    needed)."""
    from zetasketch_spark.hashing import (
        kgram_window_hashes, unique_counts_per_doc)

    @pandas_udf("struct<n_grams:long, n_distinct:long>")
    def rep_udf(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        h, doc_of, n_docs = kgram_window_hashes(texts, ngram)
        if len(h):
            totals = np.bincount(doc_of, minlength=n_docs).astype(np.int64)
            distinct = unique_counts_per_doc(h, doc_of, n_docs)
        else:
            totals = distinct = np.zeros(n_docs, dtype=np.int64)
        return pd.DataFrame({"n_grams": totals, "n_distinct": distinct})

    out = docs.select(F.col(id_col), rep_udf(F.col(text_col)).alias("_r"))
    return out.select(
        id_col,
        F.col("_r.n_grams").alias("n_grams"),
        F.col("_r.n_distinct").alias("n_distinct"),
        F.when(F.col("_r.n_grams") > 0,
               F.round(1.0 - F.col("_r.n_distinct") / F.col("_r.n_grams"), 4))
        .otherwise(F.lit(0.0)).alias("rep_ratio"),
    )
