"""Tests for training-data pipeline operators: dedup (exact, MinHash-LSH,
SimHash), similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

WORDS = [f"tok{i}" for i in range(500)]


def _doc(rng, n=60):
    return " ".join(rng.choice(WORDS, size=n))


@pytest.fixture(scope="module")
def docs(spark):
    """120 docs: 100 random + exact dup pair + near-dup pair + norm-dup pair."""
    rng = np.random.default_rng(77)
    rows = [(i, _doc(rng)) for i in range(100)]
    rows.append((100, rows[0][1]))                      # exact dup of 0
    near = rows[1][1].split()
    near[5] = "CHANGED"
    rows.append((101, " ".join(near)))                  # near dup of 1
    rows.append((102, rows[2][1].upper() + "!!!"))      # normalized dup of 2
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    df.cache().count()
    return df


def test_exact_dup_groups(spark, docs):
    from zetasketch_spark.operators.dedup import exact_dup_groups

    out = exact_dup_groups(docs).collect()
    assert len(out) == 1
    assert out[0]["dup_count"] == 2 and out[0]["keep_id"] == 0


def test_normalized_dup_groups(spark, docs):
    from zetasketch_spark.operators.dedup import normalized_dup_groups

    out = normalized_dup_groups(docs).collect()
    ids = sorted(r["keep_id"] for r in out)
    assert ids == [0, 2]  # exact pair + case/punct pair


def test_minhash_near_dups(spark, docs):
    from zetasketch_spark.operators.dedup import minhash_near_dups

    out = minhash_near_dups(docs, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 100) in pairs       # exact dup -> jaccard 1.0
    assert (1, 101) in pairs       # near dup
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert jac[(0, 100)] == 1.0
    assert 0.5 <= jac[(1, 101)] < 1.0
    # no spurious random pairs at this threshold
    assert all(a in (0, 1, 2) for a, _ in pairs)


def test_simhash_near_dups(spark, docs):
    from zetasketch_spark.operators.dedup import simhash_near_dups

    out = simhash_near_dups(docs, max_hamming=10).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert pairs.get((0, 100)) == 0  # identical text -> identical simhash


def test_dup_clusters_connected_components(spark):
    from zetasketch_spark.operators.dedup import dup_clusters

    # two components: {1,2,3,9} via chain, {5,6}
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 3, 5], "id_b": [2, 3, 9, 6]}))
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_brute_force_topk_self_similarity(spark):
    from zetasketch_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((50, 16))
    vecs[10] = vecs[3] * 2.0 + rng.standard_normal(16) * 0.01  # near-parallel
    pdf = pd.DataFrame({
        "vec_id": range(50),
        "embedding": [v.astype(np.float32).tolist() for v in vecs],
    })
    df = spark.createDataFrame(pdf)
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 3), k=1)
    [row] = out.collect()
    assert row["neighbor_id"] == 10
    assert row["cosine"] > 0.99


def test_ann_topk_recall(spark):
    from zetasketch_spark.operators.similarity import ann_topk, brute_force_topk

    # clustered embeddings (the realistic ANN regime: neighbors are angularly
    # close; iid gaussians have no neighborhood structure for LSH to find)
    rng = np.random.default_rng(6)
    centers = rng.standard_normal((20, 64)) * 3
    assign = rng.integers(0, 20, size=300)
    vecs = centers[assign] + rng.standard_normal((300, 64)) * 0.4
    pdf = pd.DataFrame({
        "vec_id": range(300),
        "embedding": [v.astype(np.float32).tolist() for v in vecs],
    })
    df = spark.createDataFrame(pdf).cache()
    queries = df.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(df, queries, k=5)
    approx = ann_topk(df, queries, k=5, dim=64, bits=8, tables=8)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact_sets[q] & approx_sets.get(q, set())) / 5 for q in exact_sets]
    assert np.mean(recalls) >= 0.5  # ANN on random gaussians is hard; sanity bar


def test_ivf_topk_recall(spark):
    from zetasketch_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.default_rng(9)
    centers = rng.standard_normal((12, 64)) * 3
    assign = rng.integers(0, 12, size=400)
    vecs = centers[assign] + rng.standard_normal((400, 64)) * 0.4
    pdf = pd.DataFrame({
        "vec_id": range(400),
        "embedding": [v.astype(np.float32).tolist() for v in vecs],
    })
    df = spark.createDataFrame(pdf).cache()
    queries = df.filter(F.col("vec_id") < 5)
    exact_sets, approx_sets = {}, {}
    for r in brute_force_topk(df, queries, k=5).collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ivf_topk(df, queries, k=5, n_centroids=12, nprobe=3).collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact_sets[q] & approx_sets.get(q, set())) / 5 for q in exact_sets]
    assert np.mean(recalls) >= 0.8  # clustered data, 3/12 cells probed


def test_text_functions(spark):
    from zetasketch_spark.functions.text import (
        lang_id, normalized_text, punct_count, quality_score, token_count)

    df = spark.createDataFrame(pd.DataFrame({
        "text": ["the cat and the dog, in a house. it is big!",
                 "der hund und die katze ist nicht ein tier auf",
                 "HELLO World!!!"],
    }))
    rows = df.select(
        token_count("text").alias("toks"),
        punct_count("text").alias("punct"),
        lang_id("text").alias("lang"),
        normalized_text("text").alias("norm"),
        quality_score("text").alias("q"),
    ).collect()
    assert rows[0]["lang"] == "en"
    assert rows[1]["lang"] == "de"
    assert rows[0]["punct"] == 3
    assert rows[2]["norm"] == "hello world"
    assert 0.0 <= rows[0]["q"] <= 1.0


def test_rolling_fingerprints():
    from zetasketch_spark.functions.fingerprint import winnow_fingerprints

    rng = np.random.default_rng(8)
    doc = " ".join(rng.choice(WORDS, size=200))
    fps1 = winnow_fingerprints(doc, k=5, window=4)
    # winnowing guarantee: a long shared substring yields shared fingerprints
    shifted = "prefix words here " + doc
    fps2 = winnow_fingerprints(shifted, k=5, window=4)
    assert len(set(fps1) & set(fps2)) / len(set(fps1)) > 0.8
    assert winnow_fingerprints("", k=5, window=4).size == 0


def test_multimodal_plumbing(spark):
    from zetasketch_spark.operators.multimodal import (
        decode_image, extract_features, resize_image, sample_frames,
        synthesize_media)

    media = synthesize_media(spark, n=48)
    feats = extract_features(media, deterministic_fake=True)
    rows = feats.collect()
    assert len(rows) == 48
    mimes = {r["media_id"]: r["mime"] for r in media.select("media_id", "mime").collect()}
    # opaque mp4 payloads (mime exactly video/mp4) take the deterministic-
    # fake 8x64 block; real AVI and JPEG-codec MP4 payloads decode for
    # real (frames * h * w * 3 pixels)
    assert all(r["feature_dim"] == 512 for r in rows
               if r["kind"] == "video" and mimes[r["media_id"]] == "video/mp4")
    assert any(r["feature_dim"] != 512 for r in rows
               if r["kind"] == "video" and mimes[r["media_id"]] == "video/x-msvideo")
    mp4_real = [r for r in rows if r["kind"] == "video"
                and mimes[r["media_id"]] == "video/mp4;codecs=jpeg"]
    assert mp4_real and all(r["feature_dim"] != 512 for r in mp4_real)
    assert all(r["feature_dim"] > 0 for r in rows)
    with pytest.raises(NotImplementedError):
        decode_image(b"xx", deterministic_fake=False)
    with pytest.raises(NotImplementedError):
        sample_frames(b"xx", 5000, deterministic_fake=False)
    block = decode_image(b"payload" * 32, deterministic_fake=True)
    small = resize_image(block, 4, 16)
    assert small.shape == (4, 16)
    frames = sample_frames(b"payload" * 64, 5000, deterministic_fake=True)
    assert len(frames) == 5 and frames[0].shape == (8, 64)


def test_checkpoint_resume(spark, transcripts_path, tmp_path):
    from zetasketch_spark.operators.checkpoint import checkpointed_sketch_agg
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sources.transcripts import load_transcripts

    df = load_transcripts(spark, transcripts_path)
    fam = HllFamily(precision=13)
    ckpt = str(tmp_path / "ckpt")
    res1, m1 = checkpointed_sketch_agg(
        spark, df, ["role"], "conv_id", fam, ckpt, [transcripts_path], job="t")
    r1 = {r["role"]: r["estimate"] for r in res1.collect()}
    assert m1["partitions_resumed"] == 0 and m1["partitions_computed"] > 0
    # resume: nothing recomputed, same answer
    res2, m2 = checkpointed_sketch_agg(
        spark, df, ["role"], "conv_id", fam, ckpt, [transcripts_path], job="t")
    r2 = {r["role"]: r["estimate"] for r in res2.collect()}
    assert m2["partitions_computed"] == 0
    assert m2["partitions_resumed"] == m1["n_partitions"]
    assert r1 == r2


def test_query_signature_ignores_runtime_caches():
    """A family that has sketched a batch (HllFamily.prepare_arrow
    memoizes _arrow_value_type) signs like a pristine one, so
    checkpointed_sketch_agg finds its own partials; a pristine family's
    signature is pinned so existing checkpoints keep resuming, and a
    parameter change still changes it."""
    import pyarrow as pa

    from zetasketch_spark.operators.checkpoint import query_signature
    from zetasketch_spark.sketches.base import HllFamily

    sig = query_signature(["role"], "conv_id", HllFamily(precision=13), 1)
    assert sig == "88a9524154"
    used = HllFamily(precision=13)
    used.prepare_arrow(pa.array([1, 2, 3], type=pa.int64()))
    assert query_signature(["role"], "conv_id", used, 1) == sig
    assert query_signature(["role"], "conv_id",
                           HllFamily(precision=14), 1) != sig


def test_embedding_near_dups_recall(spark):
    """Planted near-duplicate vectors (cosine ~0.99) must all be found,
    and nothing else at threshold 0.95 over background gaussians."""
    from zetasketch_spark.operators.similarity import embedding_near_dups

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((200, 64))
    planted = {(3, 200), (50, 201), (117, 202)}
    rows = list(vecs)
    for i, (src, _) in enumerate(sorted(planted)):
        rows.append(vecs[src] + rng.standard_normal(64) * 0.05)
    pdf = pd.DataFrame({
        "vec_id": range(len(rows)),
        "embedding": [np.asarray(v, dtype=np.float32).tolist() for v in rows],
    })
    df = spark.createDataFrame(pdf)
    got = {(r["id_a"], r["id_b"])
           for r in embedding_near_dups(df, threshold=0.95).collect()}
    assert got == planted


def test_planted_corpus_roundtrip(spark):
    """The deterministic planting used by the ANN gate queries: every
    planted vector is cosine >= 0.98 to its original and is its exact
    rank-1 neighbor."""
    import pyspark.sql.functions as F

    from zetasketch_spark.operators.similarity import brute_force_topk
    from zetasketch_spark.operators.verify import (
        PLANT_N, PLANT_OFFSET, planted_corpus)

    import os
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = planted_corpus(emb).cache()
    queries = corpus.filter(F.col("vec_id") < PLANT_N)
    top1 = brute_force_topk(corpus, queries, k=1)
    rows = top1.collect()
    assert len(rows) == PLANT_N
    for r in rows:
        assert r["neighbor_id"] == r["query_id"] + PLANT_OFFSET
        assert r["cosine"] >= 0.98


def test_multimodal_real_codecs(spark):
    """Pure-numpy BMP/PPM/WAV decode: exact round-trips and exact expected
    feature means over real encoded bytes."""
    from zetasketch_spark.operators.multimodal import (
        decode_audio, decode_image, encode_bmp, encode_ppm, encode_wav,
        extract_features)
    from zetasketch_spark.operators.multimodal import MEDIA_SCHEMA

    rng = np.random.default_rng(21)
    rgb = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_ppm(rgb)), rgb.astype(np.float64))
    assert np.array_equal(decode_image(encode_bmp(rgb)), rgb.astype(np.float64))

    samples = np.round(np.sin(np.arange(400) * 0.05) * 0.9, 4)
    wav = encode_wav(samples, rate=8000)
    dec, rate = decode_audio(wav)
    assert rate == 8000 and dec.shape == (400, 1)
    assert np.abs(dec[:, 0] - samples).max() <= 1.0 / 32767 + 1e-12

    exp_img_mean = round(float(rgb.astype(np.float64).mean()), 6)
    exp_aud_mean = round(float(np.abs(np.round(samples * 32767) / 32767).mean()), 6)
    media = spark.createDataFrame(
        [(0, "image", "image/x-portable-pixmap", 5, 7, 0, encode_ppm(rgb)),
         (1, "image", "image/bmp", 5, 7, 0, encode_bmp(rgb)),
         (2, "audio", "audio/wav", 0, 0, 50, wav)],
        MEDIA_SCHEMA)
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows[0]["mean_val"] == exp_img_mean
    assert rows[1]["mean_val"] == exp_img_mean
    assert rows[0]["feature_dim"] == rows[1]["feature_dim"] == 7 * 5 * 3
    assert abs(rows[2]["mean_val"] - exp_aud_mean) <= 1e-6
    assert rows[2]["feature_dim"] == 400


def test_minhash_signature_estimates_jaccard(spark):
    """MinHash property: the fraction of agreeing signature slots is an
    unbiased estimator of the exact shingle Jaccard (within sampling noise
    at num_perm=128)."""
    from zetasketch_spark.operators.dedup import (
        _shingle_hashes, minhash_signatures)

    rng = np.random.default_rng(13)
    base = list(rng.choice(WORDS, size=120))
    texts = [" ".join(base)]
    for frac in (0.1, 0.3, 0.6):
        mut = base.copy()
        for i in rng.choice(120, size=int(120 * frac), replace=False):
            mut[i] = f"sub{i}"
        texts.append(" ".join(mut))
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    sigs = {r["doc_id"]: np.array(r["signature"])
            for r in minhash_signatures(df, num_perm=128).collect()}
    sets = _shingle_hashes(pd.Series(texts))
    for j in range(1, len(texts)):
        inter = len(np.intersect1d(sets[0], sets[j], assume_unique=True))
        exact = inter / (len(sets[0]) + len(sets[j]) - inter)
        est = float((sigs[0] == sigs[j]).mean())
        assert abs(est - exact) <= 0.13, (j, exact, est)  # ~3σ at n=128


def test_minhash_empty_docs_no_collision_blowup(spark):
    """Empty/short docs must not form an all-pairs LSH bucket: NULL
    signatures keep them out of banding, and empty-empty pairs are not
    near-dups (jaccard 0, not 1)."""
    from zetasketch_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_near_dups, minhash_signatures)

    rows = [(i, "") for i in range(50)] + [(100 + i, "ok") for i in range(50)]
    rows += [(900, "a genuine doc with plenty of words to form shingles here"),
             (901, "a genuine doc with plenty of words to form shingles here")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sigs = minhash_signatures(df)
    cands = lsh_candidate_pairs(sigs)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    # the 50 empty docs would have produced 1225 pairs alone; only the
    # planted near-identical pair (and possibly 'ok'-doc pairs, which all
    # share the single shingle 'ok') may collide
    assert (900, 901) in pairs
    assert not any(a < 100 and b < 100 for a, b in pairs), "empty docs collided"
    out = {(r["id_a"], r["id_b"]) for r in
           minhash_near_dups(df, threshold=0.5).collect()}
    assert (900, 901) in out
    assert not any(a < 100 and b < 100 for a, b in out)


def test_lsh_hot_bucket_cap_bounds_boilerplate(spark):
    """A boilerplate-heavy corpus (2000 copies of one doc) must NOT go
    quadratic: hot LSH buckets are star-rerouted, so the pair list stays
    O(copies) and the duplicate CLUSTER is preserved exactly, while
    genuine near-dups in cold buckets are untouched."""
    from zetasketch_spark.operators.dedup import dup_clusters, minhash_near_dups

    rng = np.random.default_rng(5)
    boiler = " ".join(rng.choice(WORDS, size=40))
    rows = [(i, boiler) for i in range(2000)]            # one hot cluster
    rows += [(3000 + i, _doc(rng)) for i in range(30)]   # distinct docs
    near = rows[-1][1].split(); near[3] = "EDITED"
    rows.append((4000, " ".join(near)))                  # cold near-dup pair
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    out = minhash_near_dups(df, threshold=0.5, max_bucket=128).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # star reroute: 1999 rep-pairs, not 2000*1999/2 ≈ 2M cross pairs
    boiler_pairs = {p for p in pairs if p[0] < 3000 and p[1] < 3000}
    assert boiler_pairs == {(0, i) for i in range(1, 2000)}
    # cold-path near-dup still detected through the ordinary self-join
    assert (3029, 4000) in pairs
    # the thinned pair list still yields ONE cluster over all 2000 copies
    cl = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(
        spark.createDataFrame(pd.DataFrame(list(boiler_pairs),
                                           columns=["id_a", "id_b"]))).collect()}
    assert len(cl) == 2000 and set(cl.values()) == {0}


def test_embedding_hot_bucket_cap(spark):
    """1500 identical embeddings pile into the same signbit bucket in every
    table; the cap reroutes them to rep-star pairs and planted cold-bucket
    near-dups survive."""
    from zetasketch_spark.operators.similarity import embedding_near_dups

    rng = np.random.default_rng(9)
    base = rng.standard_normal(64)
    rows = [(i, (base / np.linalg.norm(base)).tolist()) for i in range(1500)]
    # two near-parallel vectors, far from `base`
    v = rng.standard_normal(64)
    w = v + 0.05 * rng.standard_normal(64)
    rows.append((9000, (v / np.linalg.norm(v)).tolist()))
    rows.append((9001, (w / np.linalg.norm(w)).tolist()))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))

    out = embedding_near_dups(df, threshold=0.95, max_bucket=100).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    hot = {p for p in pairs if p[1] < 9000}
    assert hot == {(0, i) for i in range(1, 1500)}   # star, not quadratic
    assert (9000, 9001) in pairs                     # cold pair intact


def test_ann_topk_bucket_cap_completes(spark):
    """ann_topk with a degenerate corpus bucket (600 identical vectors)
    stays bounded per query and still returns k ranked neighbors."""
    from zetasketch_spark.operators.similarity import ann_topk

    rng = np.random.default_rng(11)
    base = rng.standard_normal(64)
    corpus = [(i, (base / np.linalg.norm(base) + 1e-4 * i).tolist())
              for i in range(600)]
    corpus += [(1000 + i, rng.standard_normal(64).tolist()) for i in range(50)]
    cdf = spark.createDataFrame(pd.DataFrame(corpus, columns=["vec_id", "embedding"]))
    qdf = spark.createDataFrame(pd.DataFrame(corpus[:3], columns=["vec_id", "embedding"]))
    out = ann_topk(cdf, qdf, k=5, max_bucket=64).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    assert all(len(v) == 5 for v in by_q.values())
    assert all(r["cosine"] > 0.99 for r in out)  # neighbors from the clone cloud


def test_materialize_durable_seam_equivalence(spark, docs, tmp_path):
    """The durable parquet checkpoint seam must produce the IDENTICAL pair
    set and clusters as the localCheckpoint seam (flag-switched)."""
    from zetasketch_spark.operators.dedup import dup_clusters, minhash_near_dups

    fast = minhash_near_dups(docs, threshold=0.5)
    durable = minhash_near_dups(docs, threshold=0.5,
                                checkpoint_dir=str(tmp_path / "ckpt"))
    fp = {(r["id_a"], r["id_b"], r["jaccard"]) for r in fast.collect()}
    dp = {(r["id_a"], r["id_b"], r["jaccard"]) for r in durable.collect()}
    assert fp == dp and len(fp) > 0
    pairs_df = spark.createDataFrame(
        pd.DataFrame([(a, b) for a, b, _ in fp], columns=["id_a", "id_b"]))
    cl_fast = {(r["doc_id"], r["cluster_id"])
               for r in dup_clusters(pairs_df).collect()}
    cl_dur = {(r["doc_id"], r["cluster_id"]) for r in dup_clusters(
        pairs_df, checkpoint_dir=str(tmp_path / "ckpt2")).collect()}
    assert cl_fast == cl_dur
    # the durable seam actually wrote parquet
    import os
    assert any("minhash_bands" in d for d in os.listdir(tmp_path / "ckpt"))


def test_dup_clusters_long_chain(spark):
    """Diameter-100 path graph: min-label propagation would need 100
    rounds; alternating star rounds must converge well inside the cap."""
    from zetasketch_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(pd.DataFrame(
        {"id_a": list(range(100)), "id_b": list(range(1, 101))}))
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert len(out) == 101 and set(out.values()) == {0}


def test_dup_clusters_random_vs_union_find(spark):
    """Random sparse graph against an exact union-find oracle."""
    from zetasketch_spark.operators.dedup import dup_clusters

    rng = np.random.default_rng(123)
    n, m = 300, 200
    ea = rng.integers(0, n, size=m)
    eb = rng.integers(0, n, size=m)
    keep = ea != eb
    ea, eb = ea[keep], eb[keep]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(ea, eb):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = set(map(int, ea)) | set(map(int, eb))
    want = {v: find(v) for v in touched}
    # canonicalize to component-min (find() roots are already mins here
    # because we always attach the larger root, but recompute to be safe)
    comp_min = {}
    for v, r in want.items():
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[find(v)] for v in touched}

    pairs = spark.createDataFrame(pd.DataFrame(
        {"id_a": ea.tolist(), "id_b": eb.tolist()}))
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == want


def test_lsh_hot_bucket_variant_families_stay_linked(spark):
    """A hot bucket holding TWO near-identical variant families must still
    link the families: copies star to their variant's representative and
    the representatives pair with each other (refine-key sub-bucketing) —
    a plain star-to-bucket-min would drop the cross-variant pair whenever
    the second family fails verification against the first's rep."""
    from zetasketch_spark.operators.dedup import dup_clusters, minhash_near_dups

    rng = np.random.default_rng(21)
    x = [str(w) for w in rng.choice(WORDS, size=40)]
    y = list(x); y[7] = "VARIANT"          # J(x, y) ~ 0.85 — co-buckets
    rows = [(i, " ".join(x)) for i in range(800)]
    rows += [(1000 + i, " ".join(y)) for i in range(800)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    out = minhash_near_dups(df, threshold=0.5, max_bucket=128).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # copies star to their own variant rep, O(n) not O(n^2)
    assert {p for p in pairs if p[0] == 0 and p[1] < 1000} == \
        {(0, i) for i in range(1, 800)}
    assert {p for p in pairs if p[0] == 1000} >= \
        {(1000, 1000 + i) for i in range(1, 800)}
    # THE pair that a refine-less star would lose: rep_x <-> rep_y
    assert (0, 1000) in pairs
    # and the thinned pair list still collapses to ONE cluster
    cl = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(
        spark.createDataFrame(pd.DataFrame(sorted(pairs),
                                           columns=["id_a", "id_b"]))).collect()}
    assert len(cl) == 1600 and set(cl.values()) == {0}


def test_simhash_hot_bucket_cap(spark):
    """SimHash prefix-block join must also be bounded: 1500 identical docs
    share every block; they star to the rep (Hamming 0) instead of
    emitting ~1.1M cross pairs, and a distinct near-dup pair in cold
    blocks is unaffected."""
    from zetasketch_spark.operators.dedup import simhash_near_dups

    rng = np.random.default_rng(31)
    boiler = " ".join(rng.choice(WORDS, size=50))
    rows = [(i, boiler) for i in range(1500)]
    other = [str(w) for w in rng.choice(WORDS, size=50)]
    rows.append((9000, " ".join(other)))
    other2 = list(other); other2[3] = other2[4]  # tiny perturbation
    rows.append((9001, " ".join(other2)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    out = simhash_near_dups(df, max_hamming=10, max_bucket=128).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    hot = {p for p in pairs if p[1] < 9000}
    assert hot == {(0, i) for i in range(1, 1500)}
    assert all(pairs[p] == 0 for p in hot)
    assert (9000, 9001) in pairs  # cold near-pair intact


def test_bounded_bucket_pairs_equivalence_properties(spark):
    """Randomized pinning of the bounded join's contract: with the cap
    above every bucket width the pair set EQUALS the plain self-join; with
    a small cap the result is a subset that still covers every member of
    a hot bucket (via its variant rep) plus all cold pairs."""
    from zetasketch_spark.operators.dedup import bounded_bucket_pairs

    rng = np.random.default_rng(77)
    n = 400
    pdf = pd.DataFrame({
        "doc_id": range(n),
        "band": rng.integers(0, 3, size=n),
        "bucket": rng.integers(0, 5, size=n),
        "_sig": rng.integers(0, 4, size=n),
    })
    exploded = spark.createDataFrame(pdf)

    def plain_pairs():
        out = set()
        for (_, _), grp in pdf.groupby(["band", "bucket"]):
            ids = sorted(grp["doc_id"])
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    out.add((ids[i], ids[j]))
        return out

    want = plain_pairs()
    got = {(r["id_a"], r["id_b"]) for r in bounded_bucket_pairs(
        exploded, "doc_id", ["band", "bucket"], max_bucket=10_000,
        refine_col="_sig").collect()}
    assert got == want

    capped = {(r["id_a"], r["id_b"]) for r in bounded_bucket_pairs(
        exploded, "doc_id", ["band", "bucket"], max_bucket=20,
        refine_col="_sig").collect()}
    assert capped <= want and len(capped) < len(want)
    # every doc in a hot bucket still appears in >= 1 pair
    sizes = pdf.groupby(["band", "bucket"])["doc_id"].count()
    hot_keys = set(sizes[sizes > 20].index)
    hot_docs = set(pdf[pdf.apply(
        lambda r: (r["band"], r["bucket"]) in hot_keys, axis=1)]["doc_id"])
    paired = {d for p in capped for d in p}
    assert hot_docs <= paired


def test_dup_clusters_large_random_graph(spark):
    """5k-node random graph with mixed shapes (one giant component, many
    small ones, a long chain) against exact union-find — the star rounds
    must converge identically regardless of component structure."""
    from zetasketch_spark.operators.dedup import dup_clusters

    rng = np.random.default_rng(99)
    edges = []
    # giant sparse component over nodes 0..1999
    a = rng.integers(0, 2000, size=2500)
    b = rng.integers(0, 2000, size=2500)
    edges += [(int(x), int(y)) for x, y in zip(a, b) if x != y]
    # chain of length 300 over 3000..3300
    edges += [(i, i + 1) for i in range(3000, 3300)]
    # 200 isolated pairs over 4000..4399
    edges += [(4000 + 2 * i, 4000 + 2 * i + 1) for i in range(200)]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for x, y in edges:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    comp_min = {}
    for v in list(parent):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {v: comp_min[find(v)] for v in parent}

    pairs = spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"]))
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == want


def test_decontaminate_exact_overlap_counts(spark):
    """Bloom-prefiltered n-gram decontamination: exact shared-shingle
    counts, zero false negatives (every planted contamination found), no
    false positives in the OUTPUT (exact verify prunes Bloom FPs)."""
    from zetasketch_spark.operators.decontaminate import decontaminate

    rng = np.random.default_rng(41)
    bench_docs = [(i, _doc(rng, 30)) for i in range(5)]
    clean = [(100 + i, _doc(rng, 40)) for i in range(40)]
    # doc 200 embeds an 12-word benchmark passage -> 8 shared 5-grams
    passage = " ".join(bench_docs[2][1].split()[:12])
    contaminated = (200, _doc(rng, 20) + " " + passage + " " + _doc(rng, 20))
    full_copy = (201, bench_docs[0][1])  # verbatim benchmark doc
    corpus = spark.createDataFrame(
        pd.DataFrame(clean + [contaminated, full_copy],
                     columns=["doc_id", "text"]))
    bench = spark.createDataFrame(
        pd.DataFrame(bench_docs, columns=["doc_id", "text"]))

    out = {r["doc_id"]: r["n_shared_grams"] for r in
           decontaminate(corpus, bench, min_shared=3).collect()}
    assert out[200] == 8          # 12-word passage -> 12-5+1=8 shared grams
    assert out[201] == 26         # whole 30-word doc -> 26 distinct grams
    # clean docs can share the odd gram by chance but not >= 3
    assert all(d in (200, 201) for d in out)


def test_intra_doc_repetition_exact(spark):
    """Repetition signal: a looping doc scores high, unique text near 0,
    counts exact."""
    from zetasketch_spark.operators.decontaminate import intra_doc_repetition

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["spam ham eggs " * 10,          # 30 words, 3 distinct 3-grams
                 "a b c d e f g h i j",           # all distinct
                 ""],
    }))
    out = {r["doc_id"]: r for r in intra_doc_repetition(df, ngram=3).collect()}
    assert out[1]["n_grams"] == 28 and out[1]["n_distinct"] == 3
    assert abs(out[1]["rep_ratio"] - round(1 - 3 / 28, 4)) < 1e-9
    assert out[2]["n_grams"] == 8 and out[2]["n_distinct"] == 8
    assert out[2]["rep_ratio"] == 0.0
    assert out[3]["n_grams"] == 0 and out[3]["rep_ratio"] == 0.0


def test_pii_scrub(spark):
    """PII detect + redact: counts per pattern, no cross-pattern matches
    on adjacent-shaped numbers, and redaction leaves zero residual."""
    import pandas as pd

    from zetasketch_spark.functions.pii import pii_counts, pii_scrub

    rows = pd.DataFrame({
        "doc_id": range(6),
        "text": [
            "reach me at jane.doe+spam@mail.example.org today",
            "card 4111-1111-1111-1234 on file",
            "ssn 123-45-6789 phone 415-555-0199",
            "server at 10.0.0.1 and 192.168.255.254",
            "no pii here at all",
            "a@b.co 4111 1111 1111 9999 987-65-4321 212-555-0000 8.8.8.8",
        ],
    })
    out = {r["doc_id"]: r for r in
           pii_scrub(spark.createDataFrame(rows)).collect()}

    assert (out[0]["n_email"], out[0]["has_pii"]) == (1, True)
    assert out[1]["n_credit_card"] == 1
    # the card number must NOT also count as phone/ssn (\b guards)
    assert out[1]["n_phone"] == 0 and out[1]["n_ssn"] == 0
    assert (out[2]["n_ssn"], out[2]["n_phone"]) == (1, 1)
    assert out[3]["n_ipv4"] == 2
    assert out[4]["has_pii"] is False and out[4]["redacted"] == out[4]["text"]
    # space-separated card + every other family at once
    r5 = out[5]
    assert (r5["n_email"], r5["n_credit_card"], r5["n_ssn"],
            r5["n_phone"], r5["n_ipv4"]) == (1, 1, 1, 1, 1)
    assert r5["redacted"] == "<EMAIL> <CC> <SSN> <PHONE> <IP>"

    # redaction is total: zero residual matches in every redacted text
    red = pii_scrub(spark.createDataFrame(rows)).select(
        *pii_counts("redacted").values())
    assert all(v == 0 for row in red.collect() for v in row)


def test_pii_planting_matches_duckdb(spark):
    """plant_pii and the oracle's SQL CASE chain build byte-identical
    planted text (the cross-engine contract the gate rides on)."""
    import duckdb

    from zetasketch_spark.functions.pii import plant_pii

    SF_DIR = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {r["doc_id"]: r["text"]
           for r in plant_pii(docs).select("doc_id", "text").collect()}

    con = duckdb.connect()
    exp = con.execute(f"""
        SELECT doc_id, text
          || CASE WHEN doc_id % 7 = 0 THEN ' user' || CAST(doc_id AS VARCHAR)
                   || '@example.com' ELSE '' END
          || CASE WHEN doc_id % 11 = 3 THEN ' 415-555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
          || CASE WHEN doc_id % 13 = 5 THEN ' 10.' || CAST(doc_id % 200 AS VARCHAR)
                   || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
          || CASE WHEN doc_id % 17 = 2 THEN ' 123-45-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
          || CASE WHEN doc_id % 19 = 7 THEN ' 4111-1111-1111-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        FROM read_parquet('{SF_DIR}/documents.parquet')
    """).fetchall()
    assert {d: t for d, t in exp} == got


def test_png_codec_roundtrip_and_variants():
    """PNG: lossless round-trip through all five scanline filters (the
    encoder cycles filter = row % 5), plus hand-built gray/gray-alpha/RGBA
    payloads for the color types the encoder doesn't emit."""
    import struct
    import zlib

    from zetasketch_spark.operators.multimodal import (
        _PNG_SIG, _png_chunk, decode_image, encode_png)

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (5, 3), (23, 17), (64, 64)]:
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = decode_image(encode_png(rgb))
        assert out.shape == (h, w, 3) and (out == rgb).all()

    def make(ctype, nch, px):
        h, w = px.shape[:2]
        lines = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(lines))
                + _png_chunk(b"IEND", b""))

    gray = rng.integers(0, 256, size=(4, 6, 1), dtype=np.uint8)
    out = decode_image(make(0, 1, gray))
    assert (out == np.repeat(gray, 3, axis=2)).all()

    ga = rng.integers(0, 256, size=(4, 6, 2), dtype=np.uint8)
    out = decode_image(make(4, 2, ga))
    assert (out == np.repeat(ga[:, :, :1], 3, axis=2)).all()

    rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
    out = decode_image(make(6, 4, rgba))
    assert (out == rgba[:, :, :3]).all()

    # corrupt DEFLATE stream: loud failure, deterministic fake on request
    bad = encode_png(np.zeros((2, 2, 3), np.uint8))
    bad = bad[:40] + bytes([bad[40] ^ 0xFF]) + bad[41:]
    with pytest.raises((ValueError, NotImplementedError, Exception)):
        decode_image(bad)
    fake = decode_image(bad, deterministic_fake=True)
    assert fake.shape == (8, 64)  # the documented fake block shape


def test_avi_video_codec_and_frame_sampling():
    """Uncompressed AVI: exact frame round-trip, fps from the header, and
    real nearest-timestamp frame sampling."""
    from zetasketch_spark.operators.multimodal import (
        decode_video, encode_avi, sample_frames)

    rng = np.random.default_rng(31)
    frames = rng.integers(0, 256, size=(6, 9, 7, 3), dtype=np.uint8)
    payload = encode_avi(frames, fps=5)
    dec, fps = decode_video(payload)
    assert fps == 5.0 and dec.shape == (6, 9, 7, 3)
    assert (dec == frames).all()

    # 6 frames at 5 fps = 1200 ms; sampling every 400 ms -> frames 0, 2, 4
    got = sample_frames(payload, duration_ms=1200, every_ms=400)
    assert len(got) == 3
    for g, idx in zip(got, (0, 2, 4)):
        assert (g == frames[idx]).all()

    # compressed containers still refuse without the fake
    with pytest.raises(NotImplementedError):
        sample_frames(b"\x00\x00\x00\x18ftypmp42" + bytes(64), 1000)


def test_sessionize_equals_native_session_window(spark):
    """The gaps-and-islands construction and Spark's session_window
    aggregate produce identical sessions on real event data AND on
    crafted exact-gap ties (an event at exactly start+gap merges in
    both)."""
    import datetime as dt

    from zetasketch_spark.operators.sessionize import (
        sessionize, sessionize_native)

    e = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
         .withColumn("ts", F.col("ts").cast("timestamp")))
    cols = ["user", "session_start", "session_end", "n_events", "duration_s"]
    a = sorted(map(tuple, sessionize(e).select(*cols).collect()))
    b = sorted(map(tuple, sessionize_native(e).select(*cols).collect()))
    assert a == b and len(a) > 0

    base = dt.datetime(2024, 1, 1)
    rows = [(1, base), (1, base + dt.timedelta(seconds=1800)),
            (1, base + dt.timedelta(seconds=1800 + 1801)),
            (2, base), (2, base + dt.timedelta(seconds=1801))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    a = sorted(map(tuple, sessionize(df).select(*cols).collect()))
    b = sorted(map(tuple, sessionize_native(df).select(*cols).collect()))
    assert a == b
    # user 1: the exact-1800s tie merges, the 1801s gap splits -> 2 sessions
    assert sum(1 for r in a if r[0] == 1) == 2
    assert sum(1 for r in a if r[0] == 2) == 2


def test_jpeg_codec():
    """Baseline JPEG in pure numpy. The correctness ladder: exact DCT
    inverse, generated zigzag, prefix-free <=16-bit Huffman, entropy
    layer provably lossless (quality-100 quant tables are all-ones, so a
    random-noise round-trip bounds total loss at DCT rounding), then
    smooth-image round-trips at 4:4:4 and 4:2:0 within the quantization
    envelope."""
    from zetasketch_spark.operators.jpeg import (
        ZIGZAG, UNZIGZAG, _canonical_codes, _code_lengths, dct2,
        decode_jpeg, encode_jpeg, idct2)
    from zetasketch_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(3)
    b = rng.normal(size=(16, 8, 8))
    assert np.abs(idct2(dct2(b)) - b).max() < 1e-10
    assert (np.arange(64)[ZIGZAG][UNZIGZAG] == np.arange(64)).all()
    assert list(ZIGZAG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]

    # Huffman: canonical, prefix-free, length-limited
    tab, _bits, _vals = _canonical_codes(
        _code_lengths({i: (i + 1) ** 3 for i in range(40)}))
    codes = sorted(tab.values(), key=lambda cl: cl[1])
    assert max(ln for _c, ln in codes) <= 16
    for i, (c1, l1) in enumerate(codes):
        for c2, l2 in codes[i + 1:]:
            assert (c2 >> (l2 - l1)) != c1  # no prefix collisions

    # entropy exactness: q=100 -> all-ones tables -> loss == DCT rounding
    noise = rng.integers(0, 256, size=(33, 41), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(noise, quality=100))
    assert np.abs(out[:, :, 0] - noise).max() < 2.0

    # smooth-image round-trips, odd dims, both samplings, via dispatch
    x, y = np.meshgrid(np.arange(41), np.arange(33))
    rgb = np.stack([(x * 4) % 256, (x + y) % 256, (y * 5) % 256],
                   -1).astype(np.uint8)
    for sub, tol in (("444", 2.0), ("420", 4.0)):
        out = decode_image(encode_jpeg(rgb, quality=95, subsampling=sub))
        assert out.shape == (33, 41, 3)
        assert np.abs(out - rgb).mean() < tol, sub

    # progressive JPEG (SOF2) honestly refuses
    prog = bytearray(encode_jpeg(noise, quality=90))
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(prog))


def test_mp4_metadata_probe():
    """ISO-BMFF box-tree walk: duration from mvhd, dims from tkhd,
    64-bit largesize handled, truncated trees fail loudly."""
    import struct

    from zetasketch_spark.operators.multimodal import probe_mp4

    def box(tag, body):
        return struct.pack(">I", len(body) + 8) + tag + body

    mvhd = (b"\x00" + b"\x00" * 11          # version 0 + flags + times
            + struct.pack(">II", 1000, 272_500)  # timescale, duration
            + b"\x00" * 80)
    tkhd = (b"\x00" + b"\x00" * 75
            + struct.pack(">II", 640 << 16, 360 << 16))
    moov = box(b"moov", box(b"mvhd", mvhd)
               + box(b"trak", box(b"tkhd", tkhd)) + box(b"trak", b""))
    mp4 = box(b"ftyp", b"isom\x00\x00\x02\x00isommp41") + moov

    meta = probe_mp4(mp4)
    assert meta == {"brand": "isom", "duration_ms": 272_500,
                    "width": 640, "height": 360, "n_tracks": 2}

    with pytest.raises(ValueError):
        probe_mp4(b"\x00\x00\x00\x08free")      # no ftyp
    bad = bytearray(mp4)
    struct.pack_into(">I", bad, len(mp4) - len(moov), 1 << 30)  # moov size lies
    with pytest.raises(ValueError):
        probe_mp4(bytes(bad))


def test_image_decoders_reject_malformed_quickly():
    """Fuzz the raster decoders: random bytes behind each magic must fail
    loudly (never hang, never return garbage silently) — and the
    deterministic-fake fallback still serves the plumbing."""
    import struct

    from zetasketch_spark.operators.multimodal import _PNG_SIG, decode_image

    rng = np.random.default_rng(17)
    magics = [b"BM", b"P6", _PNG_SIG, b"\xff\xd8"]
    for magic in magics:
        for n in (0, 1, 7, 64, 513):
            payload = magic + rng.bytes(n)
            try:
                block = decode_image(payload)
            except (ValueError, NotImplementedError, struct.error,
                    IndexError, KeyError):
                pass
            else:
                # a parse that "succeeds" must at least be a sane block
                assert block.ndim == 3 and block.shape[2] == 3
                assert block.size > 0 and np.isfinite(block).all()
                assert block.min() >= 0 and block.max() <= 255
            fake = decode_image(payload, deterministic_fake=True)
            assert fake.shape[0] > 0


def test_codec_review_regressions():
    """Pins the code-review findings: fake fallback survives truncated
    JPEG magics, unexpected RSTn is a ValueError, AVI-with-audio decodes,
    PNG dimension lies are rejected, nearest-frame sampling rounds, and
    non-interleaved multi-scan JPEG refuses loudly."""
    import struct
    import zlib

    from zetasketch_spark.operators import multimodal as mm
    from zetasketch_spark.operators.jpeg import decode_jpeg, encode_jpeg

    # 1: deterministic_fake falls through for every crashy JPEG prefix
    for payload in (b"\xff\xd8\xff", b"\xff\xd8" + b"\x00" * 6):
        assert mm.decode_image(payload, deterministic_fake=True).shape[0] == 8

    # 2: injected RSTn inside entropy data -> ValueError (not a private type)
    good = encode_jpeg(np.full((16, 16), 128, np.uint8), quality=90)
    sos = good.find(b"\xff\xda")
    seglen, = struct.unpack(">H", good[sos + 2 : sos + 4])
    entropy = sos + 2 + seglen  # first entropy-coded byte
    corrupt = good[:entropy] + b"\xff\xd0" + good[entropy:]
    with pytest.raises(ValueError):
        decode_jpeg(corrupt)

    # 3: an AVI with an audio stream (WAVEFORMATEX strf) still decodes
    frames = np.zeros((2, 8, 8, 3), np.uint8)
    avi = bytearray(mm.encode_avi(frames, fps=10))
    wf = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    auds = mm._riff_list(
        b"strl",
        mm._riff_chunk(b"strh", struct.pack("<4s4s", b"auds", b"\0\0\0\0")
                       + b"\0" * 48)
        + mm._riff_chunk(b"strf", wf))
    # splice the audio strl right before the movi LIST
    movi_at = bytes(avi).index(b"movi") - 8
    avi2 = bytes(avi[:movi_at]) + auds + bytes(avi[movi_at:])
    avi2 = avi2[:4] + struct.pack("<I", len(avi2) - 8) + avi2[8:]
    dec, fps = mm.decode_video(avi2)
    assert fps == 10.0 and dec.shape == (2, 8, 8, 3)

    # 4: PNG with lying giant IHDR dims is rejected before allocation
    ihdr = struct.pack(">IIBBBBB", 50_000, 50_000, 8, 2, 0, 0, 0)
    bomb = (mm._PNG_SIG + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(b"\0" * 1024))
            + mm._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        mm._decode_png(bomb)

    # 5: nearest-frame sampling rounds (0.09s at 30fps -> frame 3, not 2)
    fr = np.arange(8 * 4 * 4 * 3, dtype=np.uint8).reshape(8, 4, 4, 3)
    payload = mm.encode_avi(fr, fps=30)
    got = mm.sample_frames(payload, duration_ms=180, every_ms=90)
    assert (got[1] == fr[3]).all()

    # 6: non-interleaved multi-scan baseline refuses instead of silently
    # returning luma-only gray
    rgb = np.zeros((8, 8, 3), np.uint8)
    data = bytearray(encode_jpeg(rgb, quality=90))
    sos = data.index(b"\xff\xda")
    # rewrite the SOS header to claim a single-component scan
    ns = data[sos + 4]
    assert ns == 3
    data[sos + 2 : sos + 4] = struct.pack(">H", 2 + 1 + 2 + 3)
    data[sos + 4] = 1
    del data[sos + 7 : sos + 11]  # drop components 2 and 3 selectors
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(data))


def test_unigram_logprob_exact(spark):
    """The unigram LM score is exact arithmetic: hand-check a tiny corpus
    (the rarer the tokens, the lower the score) against closed-form
    values."""
    import math

    from zetasketch_spark.operators.lmscore import unigram_logprob

    docs = spark.createDataFrame(
        [(0, "a a a a"), (1, "a a b b"), (2, "c d")],
        "doc_id long, text string")
    # corpus: a x6, b x2, c x1, d x1 -> total 10
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    lp = lambda tf: math.log(tf / 10.0)
    assert got[0]["n_tokens"] == 4
    assert abs(got[0]["avg_logprob"] - lp(6)) < 1e-12
    assert abs(got[1]["avg_logprob"] - (2 * lp(6) + 2 * lp(2)) / 4) < 1e-12
    assert abs(got[2]["avg_logprob"] - (lp(1) + lp(1)) / 2) < 1e-12
    # gibberish (rare tokens) scores strictly below fluent (common tokens)
    assert got[2]["avg_logprob"] < got[0]["avg_logprob"]

    # the order-free integer rendering (gate shape): per-token quantize,
    # integer sum, divide-then-round — closed-form check
    from zetasketch_spark.operators.lmscore import unigram_logprob_e4

    e4 = {r["doc_id"]: r for r in unigram_logprob_e4(docs).collect()}
    q = lambda tf: round(math.log(tf / 10.0) * 10000)
    assert e4[0]["alp_e4"] == round(4 * q(6) / 4) == q(6)
    assert e4[1]["alp_e4"] == round((2 * q(6) + 2 * q(2)) / 4)
    assert e4[2]["alp_e4"] == q(1)
    assert all(e4[i]["n_tokens"] == got[i]["n_tokens"] for i in e4)


def test_jpeg_marker_edge_cases():
    """Spec-conformance edges: fill bytes before markers (T.81 B.1.1.2)
    decode fine; 4-component (CMYK) files refuse instead of returning
    wrong colors."""
    import struct

    from zetasketch_spark.operators.jpeg import decode_jpeg, encode_jpeg

    img = np.tile(np.arange(16, dtype=np.uint8) * 16, (16, 1))
    good = encode_jpeg(img, quality=90)

    # insert a fill 0xFF before the APP0 marker
    app0 = good.index(b"\xff\xe0")
    filled = good[:app0] + b"\xff" + good[app0:]
    assert (decode_jpeg(filled) == decode_jpeg(good)).all()

    # rewrite SOF0 to claim 4 components -> NotImplementedError
    rgb = np.zeros((8, 8, 3), np.uint8)
    data = bytearray(encode_jpeg(rgb, quality=90))
    sof = data.index(b"\xff\xc0")
    data[sof + 9] = 4  # component count byte in SOF0
    with pytest.raises((NotImplementedError, ValueError)):
        decode_jpeg(bytes(data))


def test_ensure_parallelism(spark):
    """Repartitions an under-split frame up to defaultParallelism; never
    repartitions an already-parallel one downward (keeps the scan's own
    partitioning)."""
    from zetasketch_spark.operators.parallelize import ensure_parallelism

    target = spark.sparkContext.defaultParallelism
    small = spark.range(100).coalesce(1)
    assert ensure_parallelism(small).rdd.getNumPartitions() == target

    wide = spark.range(1000).repartition(target * 2)
    out = ensure_parallelism(wide)
    assert out is wide  # untouched, not shuffled down


def test_weighted_sample(spark):
    """Deterministic mixture sampling: kept fraction tracks the weight,
    reruns keep the SAME rows, and the 0/1 edge weights are exact."""
    from zetasketch_spark.operators.sampling import weighted_sample

    df = (spark.range(4000)
          .select(F.col("id").alias("doc_id"),
                  F.concat(F.lit("s"), (F.col("id") % 4).cast("string"))
                  .alias("source")))
    w = {"s0": 0.0, "s1": 0.25, "s2": 0.75, "s3": 1.0}
    kept = weighted_sample(df, w).groupBy("source").count()
    counts = {r["source"]: r["count"] for r in kept.collect()}
    assert "s0" not in counts          # weight 0: nothing kept
    assert counts["s3"] == 1000       # weight 1: everything kept
    assert abs(counts["s1"] / 1000 - 0.25) < 0.06
    assert abs(counts["s2"] / 1000 - 0.75) < 0.06

    ids1 = sorted(r["doc_id"] for r in
                  weighted_sample(df, w).select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in
                  weighted_sample(df, w).select("doc_id").collect())
    assert ids1 == ids2  # same rows every run


def test_bottomk_sample_exact_mergeable_no_sort(spark):
    """Exact-k bottom-k-by-hash sample: membership is invariant to the
    input partitioning (the merge property that makes it distributed),
    and the plan is TakeOrderedAndProject — per-partition top-k, never a
    global sort."""
    from zetasketch_spark.operators.sampling import bottomk_sample

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    base = [r["doc_id"] for r in bottomk_sample(df, 100).collect()]
    assert len(base) == 100 and len(set(base)) == 100
    for parts in (1, 7, 32):
        got = [r["doc_id"] for r in
               bottomk_sample(df.repartition(parts), 100).collect()]
        assert got == base  # same members, same (hash) order

    plan = bottomk_sample(df, 100)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort stage


def test_pack_sequences_exact(spark):
    """Hand-computed packing: 10-token budget over docs of 4/5/6/7 tokens
    -> cumulative spans 0-4, 4-9, 9-15, 15-22; doc 3 crosses the cut at
    10 (split), doc 4 crosses 20 (split); 3 chunks."""
    from zetasketch_spark.operators.packing import (
        pack_sequences, packing_stats)

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n), "s") for i, n in
         enumerate([4, 5, 6, 7])],
        "doc_id long, text string, source string")
    p = {r["id"]: r for r in pack_sequences(docs, budget=10).collect()}
    assert (p[0]["start_chunk"], p[0]["end_chunk"], p[0]["is_split"]) == (0, 0, False)
    assert (p[1]["start_chunk"], p[1]["end_chunk"], p[1]["is_split"]) == (0, 0, False)
    assert (p[2]["start_chunk"], p[2]["end_chunk"], p[2]["is_split"]) == (0, 1, True)
    assert (p[3]["start_chunk"], p[3]["end_chunk"], p[3]["is_split"]) == (1, 2, True)

    s = packing_stats(docs, budget=10).collect()[0]
    assert (s["n_docs"], s["n_tokens"], s["n_chunks"], s["n_split_docs"]) \
        == (4, 22, 3, 2)
    assert s["fill_ratio"] == round(22 / 30, 4)


def test_pack_sequences_zero_token_docs(spark):
    """Zero-token documents occupy no span: end==start, never split,
    empty shards need 0 chunks, and fill_ratio never divides by zero."""
    from zetasketch_spark.operators.packing import (
        pack_sequences, packing_stats)

    docs = spark.createDataFrame(
        [(0, "", "a"), (1, " ".join(["w"] * 5), "a"),
         (2, "   ", "b")],  # shard b: only whitespace
        "doc_id long, text string, source string")
    p = {r["id"]: r for r in pack_sequences(docs, budget=10).collect()}
    assert (p[0]["start_chunk"], p[0]["end_chunk"], p[0]["is_split"]) == (0, 0, False)
    assert p[2]["is_split"] is False

    s = {r["group"]: r for r in packing_stats(docs, budget=10).collect()}
    assert (s["a"]["n_chunks"], s["a"]["n_split_docs"]) == (1, 0)
    assert (s["b"]["n_chunks"], s["b"]["fill_ratio"]) == (0, 0.0)


def test_filter_report_counts_zero_token_docs(spark):
    """A whitespace-only doc must appear in the accounting (failing, not
    vanishing from the inner join)."""
    import __spark_entry__ as entry

    docs = spark.createDataFrame(
        [(0, " ".join(["word"] * 60), "en", "src0", 300),
         (1, "   ", "en", "src0", 3)],
        "doc_id long, text string, lang string, source string, n_chars long")
    path = f"file:///tmp/_filter_report_test_{id(docs)}"
    import tempfile, os
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = entry.q_docs_filter_report(spark, d).collect()
    row = {r["lang"]: r for r in out}["en"]
    assert row["n_docs"] == 2          # the empty doc is counted
    assert row["n_fail_gopher"] >= 1   # and fails the word-count rule
    assert row["n_fail_lm"] >= 1       # and the LM criterion


def test_stratified_bottomk_sample(spark):
    """Exact k per group, partitioning-invariant membership, undersized
    groups keep all their rows."""
    from zetasketch_spark.operators.sampling import stratified_bottomk_sample

    df = spark.createDataFrame(
        [(i, f"g{i % 3}" if i < 900 else "tiny") for i in range(905)],
        ["doc_id", "grp"])
    out = stratified_bottomk_sample(df, k=50, group_col="grp")
    counts = {r["grp"]: r["count"] for r in out.groupBy("grp").count().collect()}
    assert counts == {"g0": 50, "g1": 50, "g2": 50, "tiny": 5}

    base = sorted((r["grp"], r["doc_id"]) for r in out.collect())
    again = sorted((r["grp"], r["doc_id"]) for r in
                   stratified_bottomk_sample(df.repartition(17), 50, "grp").collect())
    assert base == again


def _priority_mirror(ids, weights, k):
    """Independent pure-Python mirror of priority sampling (hashlib md5 +
    IEEE double math — no Spark, no numpy): returns (members, est) for
    exact-equality comparison against the operator."""
    import hashlib

    rows = []
    for i, w in zip(ids, weights):
        if w is None or w <= 0:
            continue
        u = (int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
             + 0.5) / 4294967296.0
        rows.append((float(w) / u, i, float(w)))
    rows.sort(key=lambda r: (-r[0], r[1]))
    tau = rows[k][0] if len(rows) > k else 0.0
    return {i: max(w, tau) for _, i, w in rows[:k]}


def test_priority_sample_matches_independent_mirror(spark):
    """Priority sampling (Duffield-Lund-Thorup): the operator's members
    AND per-row subset-sum estimates equal an independent hashlib/pure-
    Python mirror bit-for-bit, on any input partitioning — the same
    determinism the DuckDB oracle arm of docs_sampling_report relies on."""
    from zetasketch_spark.operators.sampling import priority_sample

    ids = list(range(700))
    weights = [i % 53 + 1 for i in ids]
    expect = _priority_mirror(ids, weights, 80)
    df = spark.createDataFrame(list(zip(ids, weights)), ["doc_id", "w"])
    for parts in (1, 13):
        got = {r["doc_id"]: r["est_weight"] for r in
               priority_sample(df.repartition(parts), 80, "w").collect()}
        assert got == expect  # members and estimates, exact doubles

    # scale shape: the k+1 cut is per-partition top-k, never a global sort
    plan = (priority_sample(df, 80, "w")
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_priority_sample_edges_and_certain_heavy_rows(spark):
    """n <= k degenerates to the exact table (estimates == weights);
    non-positive/NULL weights are excluded; and the theorem's certainty
    clause holds: no unsampled row outweighs any sampled estimate
    (w > tau forces membership, est_weight >= tau always)."""
    from zetasketch_spark.operators.sampling import priority_sample

    df = spark.createDataFrame(
        [(0, 5.0), (1, 0.0), (2, None), (3, 2.5)],
        "doc_id long, w double")
    got = {r["doc_id"]: r["est_weight"] for r in
           priority_sample(df, 10, "w").collect()}
    assert got == {0: 5.0, 3: 2.5}  # zero/NULL weights carry no mass

    big = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 5, 10_000.0).otherwise(1.0).alias("w"))
    rows = priority_sample(big, 25, "w").collect()
    sampled = {r["doc_id"] for r in rows}
    assert set(range(5)) <= sampled  # heavy rows are sampled w.p. 1 ...
    ests = {r["doc_id"]: r["est_weight"] for r in rows}
    assert all(ests[i] == 10_000.0 for i in range(5))  # ... at exact weight
    min_est = min(ests.values())  # >= tau >= every unsampled weight
    assert all(r["w"] <= min_est for r in big.collect()
               if r["doc_id"] not in sampled)


def test_stratified_priority_sample(spark):
    """Per-group priority sampling: exact k per group with per-group
    thresholds — each group's members and estimates independently equal
    the single-group mirror; undersized groups keep all rows at exact
    weight; one fused exchange (both windows ride one hash shuffle)."""
    from zetasketch_spark.operators.sampling import (
        stratified_priority_sample)

    df = spark.createDataFrame(
        [(i, float(i % 53 + 1), f"g{i % 3}" if i < 897 else "tiny")
         for i in range(903)],
        "doc_id long, w double, grp string")
    out = stratified_priority_sample(df, 40, "w", "grp")
    rows = out.collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r["grp"], {})[r["doc_id"]] = r["est_weight"]
    for g in ("g0", "g1", "g2"):
        ids = [i for i in range(897) if i % 3 == int(g[1])]
        expect = _priority_mirror(ids, [i % 53 + 1 for i in ids], 40)
        assert by_grp[g] == expect  # same members, same exact estimates
    assert by_grp["tiny"] == {i: float(i % 53 + 1)
                              for i in range(897, 903)}  # whole group

    again = stratified_priority_sample(df.repartition(17), 40, "w", "grp")
    assert sorted((r["grp"], r["doc_id"], r["est_weight"])
                  for r in again.collect()) == \
        sorted((r["grp"], r["doc_id"], r["est_weight"]) for r in rows)

    # after collect() the AQE string repeats the plan (Final + Initial
    # sections) — count the fused exchange in the final section only
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Exchange hashpartitioning") == 1  # fused windows


def test_priority_sample_subset_sum_unbiased(spark):
    """Horvitz-Thompson unbiasedness, empirically: over 12 independent
    samples (salted ids -> independent uniforms), the mean estimated
    total and the mean estimated ODD-ID subset sum both land within a
    few percent of the exact values (single-draw spread is ~15%)."""
    from zetasketch_spark.operators.sampling import priority_sample

    df = (spark.range(600)
          .select(F.col("id").alias("doc_id"),
                  (F.col("id") % 37 + 1).cast("double").alias("w"))
          .cache())
    exact_total = 600 / 37 * sum(range(1, 38))
    exact_odd = sum(i % 37 + 1 for i in range(600) if i % 2 == 1)
    tot, odd = [], []
    for salt in range(12):
        s = df.withColumn("sid", F.concat_ws(":", "doc_id", F.lit(salt)))
        rows = priority_sample(s, 100, "w", id_col="sid").collect()
        tot.append(sum(r["est_weight"] for r in rows))
        odd.append(sum(r["est_weight"] for r in rows
                       if r["doc_id"] % 2 == 1))
    mean_tot = sum(tot) / len(tot)
    mean_odd = sum(odd) / len(odd)
    assert abs(mean_tot - exact_total) / exact_total < 0.06
    assert abs(mean_odd - exact_odd) / exact_odd < 0.08


def test_avi_mjpeg_roundtrip_and_decoder_registry():
    """MJPEG-in-AVI: real compressed-video frames through the in-repo
    JPEG codec; unknown fourccs route to the plugin seam."""
    import numpy as np
    import pytest

    from zetasketch_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)
    # smooth gradient frames so JPEG loss stays small
    base = np.linspace(0, 255, 16 * 16 * 3).reshape(16, 16, 3)
    frames = np.stack([np.clip(base + 10 * k, 0, 255) for k in range(3)]
                      ).astype(np.uint8)
    avi = mm.encode_avi(frames, fps=5, codec="mjpg", quality=95)
    assert b"MJPG" in avi and b"00dc" in avi
    dec, fps = mm.decode_video(avi)
    assert fps == 5.0 and dec.shape == (3, 16, 16, 3)
    # lossy but close: JPEG q95 on a smooth gradient
    assert float(np.abs(dec - frames.astype(np.float64)).mean()) < 6.0

    # sample_frames rides the same decode path
    got = mm.sample_frames(avi, duration_ms=600, every_ms=200,
                           deterministic_fake=False)
    assert len(got) >= 1 and got[0].shape == (16, 16, 3)

    # unknown codec -> honest NotImplementedError naming the seam ...
    bad = avi.replace(b"MJPG", b"H264")
    with pytest.raises(NotImplementedError, match="H264"):
        mm.decode_video(bad)

    # ... and a registered plugin decoder is picked up by fourcc
    calls = []

    def fake_h264(fb, w, h):
        calls.append(len(fb))
        return np.zeros((h, w, 3), dtype=np.float64)

    mm.register_video_decoder("H264", fake_h264)
    try:
        dec2, _ = mm.decode_video(bad)
        assert dec2.shape == (3, 16, 16, 3) and len(calls) == 3
    finally:
        del mm.VIDEO_FRAME_DECODERS["H264"]


def test_mp4_jpeg_roundtrip_and_sample_tables():
    """Real ISO-BMFF sample extraction: the JPEG-codec MP4 round-trips
    through the full stsd/stts/stsc/stsz/stco walk; probe_mp4 reads the
    same container's metadata; unknown codecs raise naming the seam."""
    import numpy as np
    import pytest

    from zetasketch_spark.operators import multimodal as mm

    base = np.linspace(0, 255, 16 * 16 * 3).reshape(16, 16, 3)
    frames = np.stack([np.clip(base + 12 * k, 0, 255) for k in range(4)]
                      ).astype(np.uint8)
    mp4 = mm.encode_mp4_mjpeg(frames, fps=8, quality=95)

    # container half: codec-agnostic sample extraction is exact
    codec, samples, fps, dims = mm.extract_mp4_samples(mp4)
    assert codec == "jpeg" and len(samples) == 4 and fps == 8.0
    assert dims == (16, 16)
    assert all(s[:2] == b"\xff\xd8" for s in samples)  # each a real JFIF

    # full decode through the in-repo JPEG codec (lossy but close)
    dec, fps2 = mm.decode_video(mp4)
    assert fps2 == 8.0 and dec.shape == (4, 16, 16, 3)
    assert float(np.abs(dec - frames.astype(np.float64)).mean()) < 6.0

    # the metadata probe reads the same container
    meta = mm.probe_mp4(mp4)
    assert meta["brand"] == "isom" and meta["n_tracks"] == 1
    assert (meta["width"], meta["height"]) == (16, 16)
    assert meta["duration_ms"] == 4 * 1000 // 8

    # frame sampling rides the same decode path
    got = mm.sample_frames(mp4, duration_ms=500, every_ms=125,
                           deterministic_fake=False)
    assert len(got) >= 2 and got[0].shape == (16, 16, 3)

    # fps not dividing 1000 must round-trip exactly (timescale = fps*1000)
    mp7 = mm.encode_mp4_mjpeg(frames[:2], fps=7)
    assert mm.extract_mp4_samples(mp7)[2] == 7.0

    # unknown codec (avc1) -> honest NotImplementedError naming the seam.
    # Mutate from the moov offset so the replace can never land inside
    # mdat JPEG entropy bytes.
    moov_at = mp4.index(b"moov")
    avc = mp4[:moov_at] + mp4[moov_at:].replace(b"jpeg", b"avc1", 1)
    with pytest.raises(NotImplementedError, match="avc1"):
        mm.decode_video(avc)

    # ... and the registry covers MP4 codecs exactly like AVI fourccs
    mm.register_video_decoder("avc1", lambda s, w, h: np.zeros(
        (h, w, 3), dtype=np.float64))
    try:
        dec3, _ = mm.decode_video(avc)
        assert dec3.shape == (4, 16, 16, 3)
    finally:
        del mm.VIDEO_FRAME_DECODERS["avc1"]

    # sample-table lies are rejected, not mis-decoded
    bad = bytearray(mp4)
    at = bytes(bad).index(b"stco", moov_at) + 8  # skip tag + ver/flags
    import struct
    struct.pack_into(">II", bad, at, 1, len(mp4) - 2)  # chunk offset at EOF
    with pytest.raises(ValueError, match="overruns"):
        mm.extract_mp4_samples(bytes(bad))

    # truncated sample tables raise ValueError (not struct.error), and a
    # 4-billion-sample stsz lie is rejected before allocation
    box = mm._mp4_box
    fullbox = mm._mp4_fullbox
    def track(stbl_kids):
        hdlr = fullbox(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00")
        mdia = box(b"mdia", hdlr + box(b"minf", box(b"stbl", stbl_kids)))
        return box(b"ftyp", b"isom") + box(b"moov", box(b"trak", mdia))
    lying_stsz = track(fullbox(b"stsz", struct.pack(">II", 0, 1000)))
    with pytest.raises(ValueError, match="claims|too short"):
        mm.extract_mp4_samples(lying_stsz)
    huge_stsz = track(fullbox(b"stsz", struct.pack(">II", 4, 0xFFFFFFFF)))
    with pytest.raises(ValueError, match="claims"):
        mm.extract_mp4_samples(huge_stsz)
    # ... and the fake path still refuses corrupt (vs unsupported) input
    with pytest.raises(ValueError):
        mm.sample_frames(lying_stsz, 1000, deterministic_fake=True)

    # an AVI with intact magic but a broken body is corruption, not an
    # unsupported codec: extract_features must fail loudly, not fake it
    with pytest.raises(ValueError):
        mm.decode_video(b"RIFF\x00\x00\x00\x20AVI " + b"\x00" * 24)


def test_simhash_candidates_sound_is_not_tautological(spark, docs, monkeypatch):
    """The candidates_sound certificate must flip false when the operator
    emits a pair that violates the signature-Hamming bound — i.e. it
    checks the operator, not itself (the first draft compared two
    computations of the same set and could never fail)."""
    import pyspark.sql.functions as F

    from zetasketch_spark.operators import dedup as D
    from zetasketch_spark.operators import verify as V

    healthy = V.simhash_verified(docs, max_hamming=3, gt_threshold=0.5)
    assert all(r["candidates_sound"] for r in healthy.collect())

    real = D.simhash_near_dups

    def leaky(df, **kw):
        # a blocking-join bug that leaks one far pair into the candidates
        bogus = df.sparkSession.createDataFrame(
            [(1, 50)], "id_a long, id_b long")
        return real(df, **kw).select("id_a", "id_b").unionByName(bogus)

    # simhash_verified resolves the symbol from the dedup module at call
    # time, so patch it there
    monkeypatch.setattr(D, "simhash_near_dups", leaky)
    broken = V.simhash_verified(docs, max_hamming=3, gt_threshold=0.5)
    assert not any(r["candidates_sound"] for r in broken.collect())


def test_join_size_estimate_inner_product_bound(spark):
    """CM inner-product join-size estimate (Cormode-Muthukrishnan §4.2)
    on planted multiplicities: never undercounts the true
    sum-of-products, lands within the eps*n_a*n_b slack, and a key
    present on only one side contributes nothing exact-side."""
    import pandas as pd

    from zetasketch_spark.operators.joinprofile import join_size_estimate

    # A: key i appears (i % 7 + 1) times over 500 keys; B: key i appears
    # (i % 5 + 1) times over keys 250..749 -> true join size is the dot
    # product over the 250-key overlap
    a_rows = [(f"k{i}",) for i in range(500) for _ in range(i % 7 + 1)]
    b_rows = [(f"k{i}",) for i in range(250, 750) for _ in range(i % 5 + 1)]
    true = sum((i % 7 + 1) * (i % 5 + 1) for i in range(250, 500))
    da = spark.createDataFrame(pd.DataFrame(a_rows, columns=["k"]))
    db = spark.createDataFrame(pd.DataFrame(b_rows, columns=["k"]))

    row = join_size_estimate(da, "k", db, "k", width=8192, depth=5).collect()[0]
    assert row["n_a"] == len(a_rows) and row["n_b"] == len(b_rows)
    assert row["est_join_size"] >= true          # CM never undercounts
    assert row["est_join_size"] <= true + row["eps_bound"]
    # expected collision overcount per row is ~n_a*n_b/width; the
    # min-of-depth estimate should sit well inside a few multiples of it
    assert row["est_join_size"] <= true + 3 * len(a_rows) * len(b_rows) / 8192

    # disjoint key sets -> inner product is pure collision noise, far
    # below any real overlap signal
    dc = spark.createDataFrame(
        pd.DataFrame([(f"x{i}",) for i in range(500)], columns=["k"]))
    row2 = join_size_estimate(da, "k", dc, "k", width=8192, depth=5).collect()[0]
    assert row2["est_join_size"] <= row2["eps_bound"]
