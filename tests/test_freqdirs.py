"""Frequent Directions (Liberty KDD'13; Ghashami et al. SICOMP'16): the
matrix-sketch family. The pinned facts are the THEOREMS the gate query
asserts — PSD order (0 <= A^T A - B^T B), spectral error within the
state's own shrink certificate, certificate within the a-priori
|A|_F^2/ell bound — plus exact n/frobenius counters, merge-order
robustness, serde round-trips, and the Spark harness integration over a
real array<float> column."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from zetasketch_spark.sketches.freqdirs import (FreqDirsFamily,
                                                FrequentDirections,
                                                _stack_rows, gram_drift)


def _theorems_hold(a: np.ndarray, fd: FrequentDirections) -> None:
    frob2 = float((a * a).sum())
    tol = 1e-8 * max(frob2, 1.0)
    ev = np.linalg.eigvalsh(a.T @ a - fd.gram())
    assert ev.min() >= -tol, "PSD order violated"
    assert float(ev.max()) <= fd.error_certificate() + tol, \
        "spectral error exceeds the shrink certificate"
    assert fd.error_certificate() <= frob2 / fd.ell + tol, \
        "certificate exceeds the a-priori |A|_F^2/ell bound"
    assert fd.n == a.shape[0]
    assert abs(fd.frob2 - frob2) <= tol


@pytest.mark.parametrize("n,d,ell", [(500, 64, 16), (2000, 32, 8),
                                     (100, 8, 4), (50, 64, 32),
                                     (3, 16, 8)])
def test_bound_theorems_single_pass(n, d, ell):
    rng = np.random.default_rng(7 * n + d + ell)
    a = rng.normal(size=(n, d)) * np.linspace(3.0, 0.1, d)
    fd = FrequentDirections(ell=ell)
    # uneven batch splits exercise the buffer-wrap path
    for part in np.array_split(a, 7):
        fd.add_matrix(part)
    _theorems_hold(a, fd)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bound_theorems_any_merge_order(seed):
    """Split the input into unequal sketches and merge them in a shuffled
    order: the guarantee composes (the Frobenius-mass accounting is
    global), which is what makes the family distributable through the
    standard partial->merge harness."""
    rng = np.random.default_rng(seed)
    a = rng.normal(size=(1200, 48)) * np.linspace(5.0, 0.05, 48)
    pieces = np.array_split(a[rng.permutation(len(a))], 9)
    sketches = []
    for p in pieces:
        s = FrequentDirections(ell=12)
        s.add_matrix(p)
        sketches.append(s)
    rng.shuffle(sketches)
    acc = FrequentDirections(ell=12)
    for s in sketches:
        acc.merge(s)
    _theorems_hold(a, acc)


def test_rank_deficient_input_is_exact():
    """rank(A) < ell means no shrink is ever forced: the sketch's Gram
    matrix equals A^T A exactly and the certificate stays 0 — the
    low-rank-recovery anchor."""
    rng = np.random.default_rng(11)
    a = rng.normal(size=(300, 5)) @ rng.normal(size=(5, 64))
    fd = FrequentDirections(ell=16)
    fd.add_matrix(a)
    assert fd.error_certificate() <= 1e-12 * (a * a).sum()
    assert np.allclose(fd.gram(), a.T @ a, atol=1e-8 * (a * a).sum())


def test_top_directions_recover_planted_subspace():
    rng = np.random.default_rng(3)
    v = rng.normal(size=64)
    v /= np.linalg.norm(v)
    a = np.outer(rng.normal(size=2000) * 10, v) + \
        rng.normal(size=(2000, 64)) * 0.1
    fd = FrequentDirections(ell=8)
    fd.add_matrix(a)
    s2, vecs = fd.top_directions(1)
    assert s2.shape == (1,) and vecs.shape == (1, 64)
    assert abs(float(vecs[0] @ v)) > 0.99


def test_serde_round_trip_byte_exact():
    rng = np.random.default_rng(5)
    fd = FrequentDirections(ell=10)
    fd.add_matrix(rng.normal(size=(333, 24)))
    blob = fd.serialize()
    back = FrequentDirections.deserialize(blob)
    assert back.serialize() == blob
    assert back.n == fd.n and back.dim == fd.dim
    assert back.shrink_total == fd.shrink_total
    assert np.array_equal(back.sketch_matrix(), fd.sketch_matrix())
    # empty sketch round-trips too (dim unpinned)
    empty = FrequentDirections(ell=4)
    back2 = FrequentDirections.deserialize(empty.serialize())
    assert back2.n == 0 and back2.dim is None
    # wrong magic rejected loudly
    with pytest.raises(ValueError, match="FrequentDirections"):
        FrequentDirections.deserialize(b"XXX1" + blob[4:])


def test_guards():
    fd = FrequentDirections(ell=4)
    fd.add_matrix(np.ones((3, 8)))
    with pytest.raises(ValueError, match="dim"):
        fd.add_matrix(np.ones((2, 9)))  # ragged dims
    with pytest.raises(ValueError, match="non-finite"):
        fd.add_matrix(np.array([[np.nan] * 8]))
    other = FrequentDirections(ell=5)
    with pytest.raises(ValueError, match="ell=4"):
        fd.merge(other)
    with pytest.raises(ValueError, match="ell"):
        FrequentDirections(ell=0)
    # merging an empty sketch is a no-op; merging INTO an empty pins dim
    before = fd.serialize()
    fd.merge(FrequentDirections(ell=4))
    assert fd.serialize() == before
    tgt = FrequentDirections(ell=4)
    tgt.merge(fd)
    assert tgt.dim == 8 and tgt.n == fd.n


def test_stack_rows_drops_nulls_and_handles_lists():
    s = pd.Series([np.array([1.0, 2.0]), None, [3.0, 4.0]])
    out = _stack_rows(s)
    assert out.shape == (2, 2) and out.dtype == np.float64
    assert _stack_rows(pd.Series([None, None])).size == 0


def test_family_contract():
    fam = FreqDirsFamily(ell=6)
    st = fam.make()
    fam.update(st, pd.Series([np.arange(4, dtype=float) + i
                              for i in range(50)] + [None]))
    st2 = fam.make()
    fam.update(st2, pd.Series([np.arange(4, dtype=float) * 2 + i
                               for i in range(30)]))
    merged = fam.merge(fam.deserialize(fam.serialize(st)),
                       fam.deserialize(fam.serialize(st2)))
    n, dim, cert, bound = fam.result(merged)
    assert (n, dim) == (80, 4)
    assert 0.0 <= cert <= bound
    # registry round-trip (the lazy-import list includes freqdirs)
    from zetasketch_spark.sketches.base import get_family
    assert isinstance(get_family("freqdirs", ell=6), FreqDirsFamily)


def test_gram_drift_sound_interval():
    """The drift estimate must bracket the EXACT normalized-Gram spectral
    distance within the advertised bound, for both a genuinely drifted
    pair and an identically-distributed pair (where the estimate itself
    must stay inside the bound of zero ... small)."""
    rng = np.random.default_rng(17)
    d = 32
    a = rng.normal(size=(4000, d)) * np.linspace(3.0, 0.1, d)
    # drifted: one direction's variance tripled
    scale = np.linspace(3.0, 0.1, d).copy()
    scale[0] *= 3.0
    b = rng.normal(size=(3500, d)) * scale
    sa, sb = FrequentDirections(ell=16), FrequentDirections(ell=16)
    sa.add_matrix(a)
    sb.add_matrix(b)
    est, bound = gram_drift(sa, sb)
    exact = float(np.linalg.norm(a.T @ a / len(a) - b.T @ b / len(b), 2))
    assert abs(est - exact) <= bound + 1e-9
    assert est - bound > 0.0, "planted drift must be provable"
    # same distribution, disjoint samples: exact is small; interval sound
    c = rng.normal(size=(4000, d)) * np.linspace(3.0, 0.1, d)
    sc = FrequentDirections(ell=16)
    sc.add_matrix(c)
    est2, bound2 = gram_drift(sa, sc)
    exact2 = float(np.linalg.norm(a.T @ a / len(a) - c.T @ c / len(c), 2))
    assert abs(est2 - exact2) <= bound2 + 1e-9
    assert est2 < est, "null pair must score below the drifted pair"
    # guards
    with pytest.raises(ValueError, match="non-empty"):
        gram_drift(sa, FrequentDirections(ell=16))
    tiny = FrequentDirections(ell=4)
    tiny.add_matrix(np.ones((2, 5)))
    with pytest.raises(ValueError, match="dim"):
        gram_drift(sa, tiny)


def test_prepare_arrow_gather_matches_pandas_cells():
    """The mapInArrow flat-buffer gather must select exactly the same
    rows (nulls dropped, order preserved) as the pandas object-cell
    path, including sliced index subsets — this is what makes the two
    fabrics byte-equal."""
    import pyarrow as pa

    fam = FreqDirsFamily(ell=4)
    cells = [[1.0, 2.0, 3.0], None, [4.0, 5.0, 6.0], [7.0, 8.0, 9.0],
             None, [10.0, 11.0, 12.0]]
    arr = pa.array(cells, type=pa.list_(pa.float32()))
    prepared = fam.prepare_arrow(arr)
    got = prepared[np.array([0, 1, 2, 5])]
    assert np.array_equal(got, np.array([[1, 2, 3], [4, 5, 6],
                                         [10, 11, 12]], dtype=np.float64))
    assert prepared[np.array([1, 4])].shape == (0, 3)
    # ragged non-null rows are rejected loudly
    ragged = pa.array([[1.0, 2.0], [3.0]], type=pa.list_(pa.float64()))
    with pytest.raises(ValueError, match="ragged"):
        fam.prepare_arrow(ragged)
    # all-null batch prepares to an empty matrix
    empty = fam.prepare_arrow(pa.array([None, None],
                                       type=pa.list_(pa.float64())))
    assert empty[np.array([0, 1])].size == 0
    # large_list covered too
    ll = pa.array([[1.0, 2.0]], type=pa.large_list(pa.float64()))
    assert np.array_equal(fam.prepare_arrow(ll)[np.array([0])],
                          [[1.0, 2.0]])


def test_arrow_fabric_state_equals_pandas_fabric(spark):
    """sketch_partial's mapInArrow fabric must produce byte-identical
    merged states to a driver-side ``family.update`` fold over pandas
    Series — absorption order is preserved, so even this order-sensitive
    family agrees at the byte level. Each group sits in one partition, in
    a known row order, so the reference fold is one update per group."""
    import pyarrow as pa

    from zetasketch_spark.operators.agg import (SKETCH_COL, sketch_merge,
                                                sketch_partial)

    rng = np.random.default_rng(41)
    rows = [(int(i % 3),
             None if i % 17 == 0 else rng.normal(size=10).tolist())
            for i in range(600)]
    rows.sort(key=lambda r: r[0])  # stable: 3 contiguous groups of 200
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
                               "g int, emb array<float>")
    fam = FreqDirsFamily(ell=6)
    merged = sketch_merge(sketch_partial(df, ["g"], "emb", fam), ["g"], fam)
    got = {r["g"]: bytes(r[SKETCH_COL]) for r in merged.collect()}
    assert set(got) == {0, 1, 2}
    for g, blob in got.items():
        embs = [e for gg, e in rows if gg == g]
        ref = fam.make()
        fam.update(ref, pa.array(embs, type=pa.list_(pa.float32())).to_pandas())
        assert blob == fam.serialize(ref)
    st = FrequentDirections.deserialize(got[0])
    expect = [e for g, e in rows if g == 0 and e is not None]
    assert st.n == len(expect)
    _theorems_hold(np.array(expect), st)


def test_sketch_table_drift_monitoring(spark, tmp_path):
    """The monitoring pipeline end-to-end: a SketchTable keyed by day
    holds one FD state per day; each day's embeddings are folded in
    once (incremental, never rescanned), and drift between any two days
    is computed from the STORED states — interval-sound against the
    exact per-day Grams, with the idempotent-replay contract intact."""
    from zetasketch_spark.operators.agg import SKETCH_COL
    from zetasketch_spark.operators.incremental import SketchTable

    rng = np.random.default_rng(31)
    scale = np.linspace(2.0, 0.2, 12)
    drifted = scale.copy()
    drifted[0] *= 4.0
    days = {
        "d1": rng.normal(size=(600, 12)) * scale,
        "d2": rng.normal(size=(500, 12)) * scale,
        "d3": rng.normal(size=(550, 12)) * drifted,
    }
    fam = FreqDirsFamily(ell=8)
    table = SketchTable(str(tmp_path / "fd_by_day"), ["day"], "emb", fam)
    for day, mat in days.items():
        delta = spark.createDataFrame(
            [(day, row.tolist()) for row in mat],
            "day string, emb array<double>").repartition(4)
        m = table.update(spark, delta, fingerprint=f"batch-{day}")
        assert m["applied"]
    # replay of an applied delta is a committed no-op
    again = spark.createDataFrame(
        [("d1", r.tolist()) for r in days["d1"]],
        "day string, emb array<double>")
    assert not table.update(spark, again, fingerprint="batch-d1")["applied"]

    states = {r["day"]: FrequentDirections.deserialize(bytes(r[SKETCH_COL]))
              for r in table.read(spark).collect()}
    assert set(states) == set(days)
    for day, mat in days.items():
        _theorems_hold(mat, states[day])

    def exact_drift(a, b):
        return float(np.linalg.norm(a.T @ a / len(a) - b.T @ b / len(b), 2))

    est_null, bound_null = gram_drift(states["d1"], states["d2"])
    est_hit, bound_hit = gram_drift(states["d1"], states["d3"])
    assert abs(est_null - exact_drift(days["d1"], days["d2"])) <= \
        bound_null + 1e-9
    assert abs(est_hit - exact_drift(days["d1"], days["d3"])) <= \
        bound_hit + 1e-9
    assert est_hit - bound_hit > est_null + bound_null, \
        "the drifted day must separate provably from the null pair"
    # time travel: version 1 held only d1
    v1 = table.read(spark, version=1).collect()
    assert [r["day"] for r in v1] == ["d1"]


def test_sql_surface_init_merge_drift(spark):
    """The SQL triple: fd_init_agg over an array<double> column grouped
    by (day, shard), fd_merge_agg rollup to per-day states, then the
    pairwise fd_drift / fd_drift_bound scalars between the two days —
    the interval must bracket the exact normalized-Gram distance, and
    fd_error_certificate must match the deserialized state's."""
    from zetasketch_spark.functions.sketch_udfs import register_sql

    register_sql(spark)
    rng = np.random.default_rng(9)
    scale_b = np.linspace(2.0, 0.1, 12).copy()
    scale_b[0] *= 4.0
    rows = (
        [("d1", int(i % 4), (rng.normal(size=12)
                             * np.linspace(2.0, 0.1, 12)).tolist())
         for i in range(800)]
        + [("d2", int(i % 4), (rng.normal(size=12) * scale_b).tolist())
           for i in range(700)])
    spark.createDataFrame(rows, "day string, shard int, emb array<double>") \
         .createOrReplaceTempView("emb_days")
    out = spark.sql("""
        WITH part AS (
            SELECT day, shard, fd_init_agg(emb, 8) AS sk
            FROM emb_days GROUP BY day, shard
        ), per_day AS (
            SELECT day, fd_merge_agg(sk) AS sk FROM part GROUP BY day
        )
        SELECT a.sk AS sk_a, b.sk AS sk_b,
               fd_error_certificate(a.sk) AS cert_a,
               fd_drift(a.sk, b.sk) AS drift,
               fd_drift_bound(a.sk, b.sk) AS bound
        FROM per_day a JOIN per_day b ON a.day = 'd1' AND b.day = 'd2'
    """).collect()
    assert len(out) == 1
    r = out[0]
    sa = FrequentDirections.deserialize(bytes(r["sk_a"]))
    sb = FrequentDirections.deserialize(bytes(r["sk_b"]))
    assert sa.n == 800 and sb.n == 700
    assert r["cert_a"] == pytest.approx(sa.error_certificate())
    est, bound = gram_drift(sa, sb)
    assert r["drift"] == pytest.approx(est)
    assert r["bound"] == pytest.approx(bound)
    a = np.array([e for d, _, e in rows if d == "d1"])
    b = np.array([e for d, _, e in rows if d == "d2"])
    exact = float(np.linalg.norm(a.T @ a / len(a) - b.T @ b / len(b), 2))
    assert abs(r["drift"] - exact) <= r["bound"] + 1e-9
    assert r["drift"] - r["bound"] > 0.0, "planted drift must be provable"


def test_spark_harness_integration(spark):
    """The standard partial -> shuffle -> merge pipeline over a real
    array<double> column, grouped: exact counters per group and the
    theorems against each group's exactly computed Gram matrix."""
    from zetasketch_spark.operators.agg import (SKETCH_COL, sketch_merge,
                                                sketch_partial)

    rng = np.random.default_rng(21)
    rows = [(int(i % 3), rng.normal(size=16).tolist()) for i in range(900)]
    df = spark.createDataFrame(rows, "g int, emb array<double>") \
              .repartition(8, "g")
    fam = FreqDirsFamily(ell=8)
    merged = sketch_merge(sketch_partial(df, ["g"], "emb", fam),
                          ["g"], fam)
    states = {r["g"]: fam.deserialize(r[SKETCH_COL])
              for r in merged.collect()}
    assert set(states) == {0, 1, 2}
    by_g = {}
    for g, emb in rows:
        by_g.setdefault(g, []).append(emb)
    for g, embs in by_g.items():
        _theorems_hold(np.array(embs), states[g])
