"""Pre-join key-overlap profiling: approximate join diagnostics in two
table scans with driver state bounded by ``fan_in`` partial sketches
(past 64 input partitions the salted executor-side tree folds them
first — see ``_global_sketch``).

Before running (or even planning) a 100 TB join, the questions that
matter are: how many distinct keys does each side have, how many are
shared, how many are union, and is the foreign-key side fully contained
in the primary side? Exact answers cost a full shuffle of both key
sets; two theta sketches (`sketches/theta.py`) answer all of them
within published envelopes from one scan per side. Execution shape:
`operators/agg.py::sketch_partial` builds a k-bounded partial state
per partition IN PLACE (no shuffle at all — raw keys never leave their
partition), and the driver merges the ≤ partitions · 8·k bytes of
serialized states.

Output (one row):

``distinct_a, distinct_b, union_distinct, overlap, a_not_b, b_not_a,
containment_a_in_b, containment_b_in_a, jaccard, rse``

* distinct_* / union: KMV estimates, relative error ~1/sqrt(k-1);
* overlap / differences: direct theta set ops (binomial-thinning sd);
* containment_a_in_b = |A∩B| / |A| — 1.0 means every a-key exists in b
  (FK integrity); estimated on the common sample so the thinning rate
  cancels, like Jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _global_theta(df: DataFrame, key: str, k: int):
    from zetasketch_spark.sketches.theta import ThetaFamily

    return _global_sketch(df, key, ThetaFamily(k=k))


def join_key_profile(df_a: DataFrame, key_a: str, df_b: DataFrame,
                     key_b: str, k: int = 4096) -> DataFrame:
    import pandas as pd

    from zetasketch_spark.sketches.theta import ThetaSketch

    spark = df_a.sparkSession
    # the two per-side digest jobs are independent — submit them from a
    # small thread pool so the second side's tasks back-fill executors
    # freed by the first side's tail (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(_global_theta, df_a, key_a, k)
        fb = pool.submit(_global_theta, df_b, key_b, k)
        a, b = fa.result(), fb.result()

    union = a.copy()
    union.merge(b)
    inter = a.intersect(b)

    return spark.createDataFrame(pd.DataFrame([[
        a.estimate(), b.estimate(), union.estimate(), inter.estimate(),
        a.a_not_b(b).estimate(), b.a_not_b(a).estimate(),
        float(a.containment(b)), float(b.containment(a)),
        float(a.jaccard(b)), float(a.rse()),
    ]], columns=["distinct_a", "distinct_b", "union_distinct", "overlap",
                 "a_not_b", "b_not_a", "containment_a_in_b",
                 "containment_b_in_a", "jaccard", "rse"]))


def _global_cm(df: DataFrame, key: str, width: int, depth: int):
    from zetasketch_spark.sketches.countmin import CountMinFamily

    return _global_sketch(
        df, key, CountMinFamily(width=width, depth=depth, max_candidates=8))


def _global_sketch(df: DataFrame, key: str, fam):
    """One shuffle-free scan -> per-partition partials -> global state
    (the join_key_profile execution shape, family-generic), folded by
    ``agg.collect_merged_states``: past its fan-in bound the salted
    executor-side tree folds the partials first, so the driver never
    holds O(partitions) states — at 10^5+ partitions a direct collect of
    ~100KB-per-partition counter blocks is gigabytes. Empty input gives
    ``fam.make()``."""
    from zetasketch_spark.operators.agg import (collect_merged_states,
                                                sketch_partial)

    states = collect_merged_states(sketch_partial(df, [], key, fam), [], fam)
    return states[()] if states else fam.make()


def cs_join_size_estimate(df_a: DataFrame, key_a: str, df_b: DataFrame,
                          key_b: str, width: int = 8192,
                          depth: int = 5) -> DataFrame:
    """UNBIASED |A ⋈ B| (join cardinality WITH multiplicity) via the
    CountSketch inner product — the signed-counter twin of
    ``join_size_estimate``. Where the Count-Min estimate is
    guaranteed-never-under but biased up by hash-collision mass, each
    CountSketch row's dot product is exactly unbiased
    (``E = Σ_x f_x·g_x``) with ``Var <= 2·F2(A)·F2(B)/width`` (Alon,
    Matias, Szegedy 1996 / Charikar et al. 2002), and the median over
    ``depth`` rows concentrates it. Same one-shuffle-free-scan-per-side
    execution shape; both sides share hash functions by construction
    (seed-0 CountSketch hashing is instance-independent).

    Returns one row: ``cs_est_join_size, n_a, n_b, f2_a_est, f2_b_est,
    std_bound`` where std_bound = ceil(sqrt(2·F2a·F2b/width)) — one
    standard deviation of a single row estimator, estimated from the
    sketches themselves.
    """
    import math

    import pandas as pd

    from zetasketch_spark.sketches.countsketch import CountSketchFamily

    spark = df_a.sparkSession
    fam = CountSketchFamily(width=width, depth=depth)
    a = _global_sketch(df_a, key_a, fam)
    b = _global_sketch(df_b, key_b, fam)
    f2a, f2b = a.f2_estimate(), b.f2_estimate()
    return spark.createDataFrame(pd.DataFrame([{
        "cs_est_join_size": int(round(a.inner_product(b))),
        "n_a": int(a.total),
        "n_b": int(b.total),
        "f2_a_est": float(f2a),
        "f2_b_est": float(f2b),
        "std_bound": int(math.ceil(math.sqrt(2.0 * f2a * f2b / width))),
    }]))


def join_size_estimate(df_a: DataFrame, key_a: str, df_b: DataFrame,
                       key_b: str, width: int = 8192,
                       depth: int = 5) -> DataFrame:
    """Approximate |A ⋈ B| — join cardinality WITH multiplicity — via the
    Count-Min inner product (Cormode & Muthukrishnan 2005, §4.2): both
    key columns are sketched with the SAME hash functions (fixed double
    hashing, instance-independent), the per-row estimate is the dot
    product of counter rows, and the final estimate is the row minimum.

    Published guarantee: ``true <= estimate`` always (counters only
    overcount), and ``estimate <= true + eps * n_a * n_b`` with
    probability >= 1 - delta, where ``eps = e/width`` and
    ``delta = e^-depth``. `join_key_profile` answers the DISTINCT-key
    overlap questions; this answers the row-blowup question a planner
    needs before a many-to-many join.

    Execution shape mirrors join_key_profile: one shuffle-free scan per
    side (per-partition CM partials; raw keys never leave their
    partition), driver merges O(partitions * width * depth) counters.

    Returns one row: ``est_join_size, n_a, n_b, eps_bound`` where
    eps_bound = est upper slack eps * n_a * n_b.
    """
    import math

    import numpy as np
    import pandas as pd

    spark = df_a.sparkSession
    a = _global_cm(df_a, key_a, width, depth)
    b = _global_cm(df_b, key_b, width, depth)
    dots = (a.counters.astype(np.float64) * b.counters.astype(np.float64)
            ).sum(axis=1)
    est = int(dots.min())
    eps = math.e / width
    return spark.createDataFrame(pd.DataFrame([{
        "est_join_size": est,
        "n_a": int(a.total),
        "n_b": int(b.total),
        "eps_bound": int(math.ceil(eps * a.total * b.total)),
    }]))
