"""Similarity-search tests: exact top-k sanity, ANN validity + recall."""

import pytest
from pyspark.sql import functions as F

from garden_net_backend_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_exact_topk_self_is_rank1(emb, queries):
    got = cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert rows[0]["vec_id"] == q  # self-match
        assert abs(rows[0]["cosine"] - 1.0) < 1e-9
        # ranks are 1..5, cosine non-increasing
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        assert all(
            rows[i]["cosine"] >= rows[i + 1]["cosine"] for i in range(len(rows) - 1)
        )


def test_lsh_ann_valid_and_recall(emb, queries):
    exact = cosine_topk(emb, queries, k=5).collect()
    ann = lsh_cosine_topk(emb, queries, k=5).collect()
    exact_scores = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact}
    ann_map = {}
    for r in ann:
        ann_map.setdefault(r["query_id"], set()).add(r["vec_id"])
        # any (q, id) also in exact must carry the identical score
        if (r["query_id"], r["vec_id"]) in exact_scores:
            assert abs(r["cosine"] - exact_scores[(r["query_id"], r["vec_id"])]) < 1e-9
    # identical vector → identical buckets in every band → self always found
    for q, ids in ann_map.items():
        assert q in ids
    # measured recall@5 (random gaussian corpus → weak neighbors; we
    # require the ANN path to find a nontrivial fraction, not parity)
    hits = total = 0
    exact_ids = {}
    for r in exact:
        exact_ids.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q, ids in exact_ids.items():
        total += len(ids)
        hits += len(ids & ann_map.get(q, set()))
    assert hits / total >= 0.2, f"ANN recall@5 too low: {hits}/{total}"


def test_lsh_deterministic(emb, queries):
    a = sorted(map(tuple, lsh_cosine_topk(emb, queries, k=3).collect()))
    b = sorted(map(tuple, lsh_cosine_topk(emb, queries, k=3).collect()))
    assert a == b


def test_lsh_arrow_and_sql_paths_agree(emb):
    from garden_net_backend_spark.operators.similarity import lsh_assign_buckets

    arrow = {
        (r["id"], r["band"]): r["bucket"]
        for r in lsh_assign_buckets(emb, use_arrow=True).collect()
    }
    sql = {
        (r["id"], r["band"]): r["bucket"]
        for r in lsh_assign_buckets(emb, use_arrow=False).collect()
    }
    assert arrow == sql


def test_ivf_ann_valid_and_recall(emb, queries):
    from garden_net_backend_spark.operators.similarity import ivf_cosine_topk

    exact = cosine_topk(emb, queries, k=5).collect()
    ivf = ivf_cosine_topk(emb, queries, k=5, nprobe=4, n_centroids=16).collect()
    exact_scores = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact}
    ivf_ids = {}
    for r in ivf:
        ivf_ids.setdefault(r["query_id"], set()).add(r["vec_id"])
        if (r["query_id"], r["vec_id"]) in exact_scores:
            assert abs(r["cosine"] - exact_scores[(r["query_id"], r["vec_id"])]) < 1e-9
    # self vector lives in the probed cell containing itself → found
    for q, ids in ivf_ids.items():
        assert q in ids
    hits = total = 0
    exact_ids = {}
    for r in exact:
        exact_ids.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q, ids in exact_ids.items():
        total += len(ids)
        hits += len(ids & ivf_ids.get(q, set()))
    assert hits / total >= 0.2, f"IVF recall@5 too low: {hits}/{total}"
    # deterministic
    again = sorted(map(tuple, ivf_cosine_topk(emb, queries, k=5, nprobe=4, n_centroids=16).collect()))
    assert again == sorted(map(tuple, ivf))


def test_ivf_collected_queries_probe_identical(emb, queries):
    """The driver-side numpy probe path (collected_queries=, round 13)
    is row-identical to the Spark probe-window path — probes have set
    semantics and _np_probe_rows falls back to the window whenever the
    nprobe-boundary cosine gap is inside the numpy/decimal margin, so
    the probed set per query is the exact-decimal selection either
    way. A duplicated query id must also take the fallback (the numpy
    path would double the probe rows)."""
    from garden_net_backend_spark.operators.similarity import ivf_cosine_topk

    spark_path = sorted(
        map(
            tuple,
            ivf_cosine_topk(
                emb, queries, k=5, nprobe=4, n_centroids=16
            ).collect(),
        )
    )
    q_rows = queries.collect()
    np_path = sorted(
        map(
            tuple,
            ivf_cosine_topk(
                emb, queries, k=5, nprobe=4, n_centroids=16,
                collected_queries=q_rows,
            ).collect(),
        )
    )
    assert np_path == spark_path
    # duplicated query id → the numpy path declines (fallback to the
    # window) and the output still matches the plain path
    dup_rows = q_rows + q_rows[:1]
    dup_queries = queries.sparkSession.createDataFrame(
        dup_rows, queries.schema
    )
    dup_plain = sorted(
        map(
            tuple,
            ivf_cosine_topk(
                emb, dup_queries, k=5, nprobe=4, n_centroids=16
            ).collect(),
        )
    )
    dup_np = sorted(
        map(
            tuple,
            ivf_cosine_topk(
                emb, dup_queries, k=5, nprobe=4, n_centroids=16,
                collected_queries=dup_rows,
            ).collect(),
        )
    )
    assert dup_np == dup_plain


def test_ivf_probe_boundary_tie_takes_exact_window(emb, monkeypatch):
    """Two identical centroids straddling the nprobe boundary put a 0
    cosine gap inside the numpy/decimal margin, so the numpy probe
    declines and both ivf_cosine_topk(collected_queries=) and
    ivf_pq_topk fall back to the exact-decimal probe window. Both
    return the rows of the plain window path, and the tie goes to the
    lower centroid id."""
    import garden_net_backend_spark.operators.similarity as sim

    spark = emb.sparkSession
    q_rows = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).collect()
    queries = spark.createDataFrame(q_rows, "query_id long, query_vec array<float>")
    qvec = [float(x) for x in q_rows[0]["query_vec"]]
    base_cents, base_assign = sim.ivf_build_index(emb, n_centroids=8)
    cents = base_cents.unionByName(
        spark.createDataFrame(
            [(1000, qvec), (1001, qvec)],
            "centroid_id long, centroid_vec array<double>",
        )
    )
    # cell 1000 holds the query itself and every 3rd vector, cell 1001
    # the vectors one past those
    cell = (
        F.when(F.col("vec_id") % 3 == 0, F.lit(1000))
        .when(F.col("vec_id") % 3 == 1, F.lit(1001))
        .otherwise(F.col("centroid_id"))
    )
    assign = base_assign.select(
        "vec_id", cell.cast("long").alias("centroid_id")
    ).localCheckpoint(eager=True)
    probe_results = []
    real_probe = sim._np_probe_rows
    monkeypatch.setattr(
        sim,
        "_np_probe_rows",
        lambda *a: probe_results.append(real_probe(*a)) or probe_results[-1],
    )
    kw = dict(k=5, nprobe=1, index=(cents, assign))
    plain = sorted(map(tuple, sim.ivf_cosine_topk(emb, queries, **kw).collect()))
    assert probe_results == []
    got = sorted(
        map(
            tuple,
            sim.ivf_cosine_topk(
                emb, queries, collected_queries=q_rows, **kw
            ).collect(),
        )
    )
    assert probe_results == [None]
    assert got == plain
    assert len(plain) == 5
    assert all(vid % 3 == 0 for _q, vid, _c, _r in plain)  # cell 1000
    pq_idx = sim.pq_build_index(emb, m=8, n_codes=16, refine_iters=1)
    # a prefilter above the cell size keeps every probed member, so
    # the exact refine sees the same candidates as ivf_cosine_topk
    got_pq = sorted(
        map(
            tuple,
            sim.ivf_pq_topk(
                emb, queries, k=5, nprobe=1, prefilter=1000,
                ivf_index=(cents, assign), pq_index=pq_idx,
            ).collect(),
        )
    )
    assert probe_results == [None, None]
    assert got_pq == plain


# --- embedding-cosine near-dup (dedup face) --------------------------


def _np_pairs(rows, threshold):
    import numpy as np

    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = n @ n.T
    out = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if round(C[i][j], 9) >= threshold:
                out[(min(ids[i], ids[j]), max(ids[i], ids[j]))] = C[i][j]
    return out


def test_embedding_dup_pairs_matches_numpy(spark, emb):
    from garden_net_backend_spark.operators.similarity import embedding_dup_pairs

    sl = emb.filter(F.col("vec_id") < 60).select("vec_id", "embedding")
    got = embedding_dup_pairs(sl, threshold=0.25).collect()
    want = _np_pairs(sl.collect(), 0.25)
    got_map = {(r["id_a"], r["id_b"]): r["cosine"] for r in got}
    assert set(got_map) == set(want)
    for k, c in got_map.items():
        assert abs(c - want[k]) < 1e-8
    assert all(a < b for a, b in got_map)


def test_embedding_dup_pairs_prescreen_equals_nested_loop(spark):
    """The round-13 matmul prescreen (one Arrow scan vs the broadcast
    nested-loop pair materialization) must emit EXACTLY the pairs and
    scores of the one-phase form — stressed with exact duplicates
    (cosine 1.0), a pair sitting exactly ON the threshold after 9-dp
    rounding, a pair just under it, and a zero vector (guarded cosine
    := 0 on both paths)."""
    import math

    from garden_net_backend_spark.operators.similarity import (
        embedding_dup_pairs,
    )

    tau = 0.5
    ang = math.acos(tau)  # exactly-on-threshold pair
    rows = [
        ("a", [1.0, 0.0, 0.0]),
        ("b", [1.0, 0.0, 0.0]),  # exact dup of a
        ("c", [math.cos(ang), math.sin(ang), 0.0]),  # cos(a,c) == tau
        ("d", [math.cos(ang + 1e-4), math.sin(ang + 1e-4), 0.0]),  # just under
        ("e", [0.0, 0.0, 0.0]),  # zero vector
        ("f", [-1.0, 0.0, 0.0]),  # negative cosine
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    key = lambda r: (r["id_a"], r["id_b"], r["cosine"])
    one = sorted(
        key(r)
        for r in embedding_dup_pairs(df, threshold=tau, prescreen=False).collect()
    )
    two = sorted(
        key(r)
        for r in embedding_dup_pairs(df, threshold=tau, prescreen=True).collect()
    )
    assert one == two
    assert ("a", "b", 1.0) in one  # the exact-dup pair survives both paths
    assert any(p[:2] == ("a", "c") for p in one)  # on-threshold kept


def test_embedding_dup_lsh_planted_recall_and_precision(spark, emb):
    from garden_net_backend_spark.operators.similarity import (
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
    )

    base = emb.filter(F.col("vec_id") < 80).select("vec_id", "embedding")
    planted = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda v, i: F.when(i == 0, v * 1.1 + F.lit(0.01)).otherwise(v),
        )
        .cast("array<float>")
        .alias("embedding"),
    )
    corpus = base.unionByName(planted)
    got = embedding_dup_pairs_lsh(corpus, threshold=0.9).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    # every planted copy collides with its source in ≥1 band
    # (cosine ≈ 0.999 → near-certain per band; planes are fixed, so
    # this is deterministic, not flaky)
    assert {(v, v + 1000) for v in range(80)} <= pairs
    # precision 1.0: exact re-check means every emitted pair truly
    # clears the threshold — cross-check against the exact operator
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(corpus, threshold=0.9).collect()
    }
    assert pairs <= exact


def test_embedding_dup_lsh_scores_match_exact(spark, emb):
    from garden_net_backend_spark.operators.similarity import (
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
    )

    sl = emb.filter(F.col("vec_id") < 60).select("vec_id", "embedding")
    # permissive threshold: LSH recall is low here by design (wide-angle
    # pairs rarely collide) — but whatever it returns must be a subset
    # of the exact answer with bit-identical scores
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_dup_pairs(sl, threshold=0.25).collect()
    }
    lsh = embedding_dup_pairs_lsh(sl, threshold=0.25).collect()
    for r in lsh:
        assert exact[(r["id_a"], r["id_b"])] == r["cosine"]


def test_embedding_dup_lsh_bucket_cap(spark, emb):
    from garden_net_backend_spark.operators.similarity import (
        embedding_dup_pairs_lsh,
    )

    sl = emb.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    # cap of 1 leaves no bucket with ≥2 members → zero candidates
    got = embedding_dup_pairs_lsh(sl, threshold=0.0, max_bucket_size=1).count()
    assert got == 0


# --- IVF k-means refinement ------------------------------------------


def test_ivf_refinement_improves_quantization(spark, emb):
    from garden_net_backend_spark.operators.similarity import (
        cosine_similarity,
        ivf_build_index,
    )

    corpus = emb.select("vec_id", "embedding")

    def mean_cos_to_centroid(centroids, assignments):
        joined = (
            corpus.join(assignments, "vec_id")
            .join(centroids, "centroid_id")
            .select(
                cosine_similarity(
                    F.col("embedding"), F.col("centroid_vec")
                ).alias("c")
            )
        )
        return joined.agg(F.avg("c")).collect()[0][0]

    c0, a0 = ivf_build_index(corpus, n_centroids=8, refine_iters=0)
    c2, a2 = ivf_build_index(corpus, n_centroids=8, refine_iters=2)
    before = mean_cos_to_centroid(c0, a0)
    after = mean_cos_to_centroid(c2, a2)
    # Lloyd: the quantization objective never degrades (float-eps slack)
    assert after >= before - 1e-9
    # and on this corpus it strictly improves
    assert after > before


def test_ivf_refinement_deterministic(spark, emb):
    from garden_net_backend_spark.operators.similarity import ivf_build_index

    corpus = emb.select("vec_id", "embedding").repartition(7)
    c1, _ = ivf_build_index(corpus, n_centroids=8, refine_iters=1)
    c2, _ = ivf_build_index(
        corpus.repartition(3), n_centroids=8, refine_iters=1
    )
    r1 = {r["centroid_id"]: r["centroid_vec"] for r in c1.collect()}
    r2 = {r["centroid_id"]: r["centroid_vec"] for r in c2.collect()}
    assert r1.keys() == r2.keys()
    for k in r1:
        assert r1[k] == r2[k]  # exact-decimal means → bit-identical


def test_ivf_refined_topk_valid(spark, emb, queries):
    from garden_net_backend_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    exact = cosine_topk(emb, queries, k=5).collect()
    ann = ivf_cosine_topk(
        emb, queries, k=5, nprobe=3, n_centroids=8, refine_iters=1
    ).collect()
    exact_scores = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact}
    by_q = {}
    for r in ann:
        by_q.setdefault(r["query_id"], []).append(r)
        if (r["query_id"], r["vec_id"]) in exact_scores:
            assert r["cosine"] == exact_scores[(r["query_id"], r["vec_id"])]
    for q, rows in by_q.items():
        # self-vector lives in the probed cell containing itself →
        # must be found, at rank 1
        rows.sort(key=lambda r: r["rank"])
        assert rows[0]["vec_id"] == q


def test_quantize_embeddings_int8(spark):
    """int8 quantization: components in [-127,127], reconstruction
    error ≤ scale/2 per component, exact python replica."""
    from garden_net_backend_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = (
        quantize_embeddings_int8(emb)
        .join(emb, "vec_id")
        .select("vec_id", "qvec", "scale", "embedding")
        .collect()
    )
    assert len(rows) > 0
    for r in rows[:200]:
        assert all(-127 <= q <= 127 for q in r["qvec"])
        s = r["scale"]
        want_s = max(abs(float(x)) for x in r["embedding"]) / 127.0
        assert abs(s - max(want_s, 1e-30)) < 1e-12
        for q, v in zip(r["qvec"], r["embedding"]):
            assert abs(q * s - float(v)) <= s / 2 + 1e-9


def test_ivf_index_persistence_round_trip(spark, tmp_path):
    """Serving shape: build the IVF index once, persist centroids +
    assignments as parquet, reload, and query with index reuse —
    results identical to an inline rebuild (the build is
    deterministic, so the persisted index is reload-stable)."""
    from garden_net_backend_spark.operators.similarity import (
        ivf_build_index,
        ivf_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cent, assign = ivf_build_index(emb, n_centroids=8, refine_iters=1)
    cent.write.parquet(f"{tmp_path}/centroids")
    assign.write.parquet(f"{tmp_path}/assignments")
    reloaded = (
        spark.read.parquet(f"{tmp_path}/centroids"),
        spark.read.parquet(f"{tmp_path}/assignments"),
    )
    fresh = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in ivf_cosine_topk(
            emb, queries, k=5, nprobe=2, n_centroids=8, refine_iters=1
        ).collect()
    }
    reused = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in ivf_cosine_topk(
            emb, queries, k=5, nprobe=2, index=reloaded
        ).collect()
    }
    assert reused == fresh and len(fresh) == 25


def test_cosine_zero_vector_guard(spark):
    """A zero embedding (failed-inference row) must score 0.0, not
    abort the job under ANSI mode (caught by the adversarial regen
    simulation: one planted zero vector killed q37/q38/q54)."""
    from garden_net_backend_spark.operators.similarity import (
        cosine_topk,
        lsh_cosine_topk,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0] * 4),
            (1, [0.0] * 4),               # zero vector in the corpus
            (2, [1.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = cosine_topk(emb, queries, k=3).collect()
    scores = {(r["query_id"], r["vec_id"]): r["cosine"] for r in rows}
    assert scores[(0, 1)] == 0.0 and scores[(1, 0)] == 0.0
    assert scores[(1, 1)] == 0.0              # zero vs itself: still 0
    assert abs(scores[(0, 2)] - 0.707106781) < 1e-9
    # the ANN path survives too (numpy prescreen must not emit nan)
    ann = lsh_cosine_topk(emb, queries, k=3, dim=4)
    assert all(r["cosine"] is not None for r in ann.collect())


def test_lsh_geometry_sizing():
    """lsh_geometry (round-4 100x drill finding): bits grow log2 with
    corpus size so mean occupancy stays bounded; bands grow to hold the
    recall target at the threshold's S-curve point."""
    import math

    from garden_net_backend_spark.operators.similarity import lsh_geometry

    b1, k1 = lsh_geometry(2_000, 0.9)
    b2, k2 = lsh_geometry(200_000, 0.9)
    b3, k3 = lsh_geometry(20_000_000, 0.9)
    assert k1 < k2 < k3          # buckets scale with corpus
    assert b1 <= b2 <= b3        # bands recover the recall tighter buckets cost
    # mean occupancy bounded by design
    assert 200_000 / 2**k2 <= 64
    # recall at the threshold meets the target analytically
    for n, (bands, bits) in ((2_000, (b1, k1)), (200_000, (b2, k2))):
        p = 1 - math.acos(0.9) / math.pi
        recall = 1 - (1 - p**bits) ** bands
        assert recall >= 0.95 - 1e-9, (n, bands, bits, recall)
    with pytest.raises(ValueError):
        lsh_geometry(1000, 1.5)


def test_plane_vectors_uncorrelated():
    """Regression for the round-4 100x drill finding: the old LCG plane
    generator was affine in plane_id (consecutive planes = the same
    modular translation), so sign bits correlated across planes and
    mega-buckets formed that no cap/split could break. Avalanche-hashed
    planes must behave independently: on random vectors, consecutive
    planes' sign bits agree ~50% of the time, and no pair of the first
    28 planes of a band agrees much above chance."""
    import numpy as np

    from garden_net_backend_spark.operators.similarity import _plane_vector

    rng = np.random.default_rng(7)
    x = rng.standard_normal((4000, 64))
    planes = np.array([_plane_vector(12 * 64 + b, 64) for b in range(28)]).T
    signs = (x @ planes) > 0
    agree = np.abs((signs[:, :, None] == signs[:, None, :]).mean(axis=0) - 0.5)
    np.fill_diagonal(agree, 0)
    # chance agreement is 0.5. GENUINELY random 64-dim planes still
    # carry finite-dimension correlation (pairwise plane cosines reach
    # ~0.4 over 378 pairs → sign-agreement deviations ~0.14), so the
    # bound discriminates structure, not sampling: the affine LCG
    # measured max 0.496 (two planes ~always agreeing) / mean 0.136;
    # the avalanche hash measures max 0.137 / mean 0.032.
    assert agree.max() < 0.25, agree.max()
    assert agree.mean() < 0.06, agree.mean()
    # and the planes must still be deterministic / reproducible
    assert _plane_vector(5, 8) == _plane_vector(5, 8)


def test_lsh_split_mode_preserves_planted_pairs(spark):
    """hot_mode='split' (round-4): a crowd of moderate-similarity
    vectors sharing a bucket is shattered into ~cap-size children
    while a true near-dup pair inside the crowd survives (its extra
    sign bits agree). drop mode loses the pair with the bucket."""
    import numpy as np

    from garden_net_backend_spark.operators.similarity import (
        embedding_dup_pairs_lsh,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = []
    # a crowd of 240 vectors tightly around one direction (pairwise
    # cosine high enough to share buckets, below the 0.995 threshold)
    for i in range(240):
        v = base + rng.standard_normal(16) * 0.18
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    # one planted near-identical pair inside the crowd
    twin = np.array(rows[0][1]) + rng.standard_normal(16) * 1e-4
    rows.append((1000, (twin / np.linalg.norm(twin)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.995, bands=6, bits=4, dim=16, max_bucket_size=32)
    split_pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs_lsh(df, hot_mode="split", **kw).collect()
    }
    assert (0, 1000) in split_pairs
    # drop mode discards the hot buckets wholesale → pair lost
    drop_pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs_lsh(df, hot_mode="drop", **kw).collect()
    }
    assert (0, 1000) not in drop_pairs
    # split's survivors are a subset of the uncapped exact-LSH output
    all_pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs_lsh(
            df, threshold=0.995, bands=6, bits=4, dim=16
        ).collect()
    }
    assert split_pairs <= all_pairs


def test_lsh_topk_exact_fallback_guarantees_k(spark):
    """A query whose buckets hold < k collisions (here: an isolated
    direction in a tiny corpus) still gets exactly k rows, identical to
    the exact top-k (regen-drill find: sparse buckets returned 4/5 rows
    and tripped the q38 n_returned property)."""
    import numpy as np

    from garden_net_backend_spark.operators.similarity import (
        cosine_topk,
        lsh_cosine_topk,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, (v / np.linalg.norm(v)).tolist())
        for i, v in enumerate(rng.standard_normal((12, 16)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # high bits → nearly-empty buckets → every query deficient
    ann = lsh_cosine_topk(df, queries, k=5, bands=2, bits=12, dim=16).collect()
    per_q = {}
    for r in ann:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cosine"]))
    exact = cosine_topk(df, queries, k=5).collect()
    per_q_exact = {}
    for r in exact:
        per_q_exact.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cosine"]))
    assert set(per_q) == {0, 1, 2}
    for q in per_q:
        assert sorted(per_q[q]) == sorted(per_q_exact[q])
    # fallback off reproduces the sparse behavior
    bare = lsh_cosine_topk(
        df, queries, k=5, bands=2, bits=12, dim=16, exact_fallback=False
    ).count()
    assert bare < 15
    # round 13: handing in the precomputed exact frame (fallback_exact=)
    # must be row-identical to the self-built fallback — the q38 suite
    # relies on this to drop the fallback's corpus re-scan
    exact_frame = cosine_topk(df, queries, k=5)
    reused = lsh_cosine_topk(
        df, queries, k=5, bands=2, bits=12, dim=16,
        fallback_exact=exact_frame,
    ).collect()
    per_q_reused = {}
    for r in reused:
        per_q_reused.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"])
        )
    assert per_q_reused == per_q


def _tie_heavy_embeddings(spark):
    """A corpus built to stress exact top-k ranking:
    exact duplicate vectors (score ties broken by id), a zero vector
    (guarded cosine 0.0), scaled copies (cosine exactly 1 at different
    norms), and a dense cloud with many near-ties at the k-cut."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((30, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    # exact duplicates of vectors 0..4 under new ids
    for j in range(5):
        rows.append((100 + j, rows[j][1]))
    # scaled copies (same direction, different norm) of vectors 5..7
    for j in range(3):
        rows.append((200 + j, [x * 2.5 for x in rows[5 + j][1]]))
    rows.append((300, [0.0] * 16))  # zero vector
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_full_probe_equals_exact_topk_on_ties(spark):
    """ivf_cosine_topk and cosine_topk end in the same exact refine:
    probing every cell makes the IVF candidates the whole corpus, so
    the rows must equal cosine_topk's exactly — ties broken by id, the
    zero vector scored 0.0 against everything, scaled copies scored
    1.0."""
    from garden_net_backend_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    df = _tie_heavy_embeddings(spark)
    queries = df.filter(F.col("vec_id").isin(0, 5, 300)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"]) for r in rows
    )
    want = key(cosine_topk(df, queries, k=6).collect())
    got = key(
        ivf_cosine_topk(df, queries, k=6, nprobe=4, n_centroids=4).collect()
    )
    assert got == want
    assert len(want) == 3 * 6
    by_q = {}
    for q, rank, vid, cos in want:
        by_q.setdefault(q, []).append((vid, cos))
    assert by_q[300] == [(i, 0.0) for i in range(6)]
    assert by_q[0][:2] == [(0, 1.0), (100, 1.0)]  # duplicate, id order
    assert by_q[5][:2] == [(5, 1.0), (200, 1.0)]  # scaled copy


def test_assign_nearest_cell_norm_hoist_bit_identical(spark):
    """The round-13 norm-hoisted assign_nearest_cell must reproduce the
    inline-cosine argmax bit-exactly — assignments AND with_cosine
    scores — including zero-vector and duplicate-centroid ties."""
    from garden_net_backend_spark.operators.similarity import (
        assign_nearest_cell,
        cosine_similarity,
    )

    df = _tie_heavy_embeddings(spark)
    cells = df.filter(F.col("vec_id").isin(0, 5, 100, 300)).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    got = {
        r["vec_id"]: (r["cell_id"], r["cell_cosine"])
        for r in assign_nearest_cell(df, cells, with_cosine=True).collect()
    }
    # reference: the pre-round-13 inline expression, argmax via max_by
    ref_scored = df.select("vec_id", "embedding").crossJoin(
        F.broadcast(cells)
    ).select(
        "vec_id",
        "cell_id",
        cosine_similarity(F.col("embedding"), F.col("centroid")).alias("_cos"),
    )
    ref = {
        r["vec_id"]: (r["cell_id"], r["cell_cosine"])
        for r in ref_scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cell_id"), F.struct(F.col("_cos"), -F.col("cell_id"))
            ).alias("cell_id"),
            F.max(F.col("_cos")).alias("cell_cosine"),
        )
        .collect()
    }
    assert got == ref
    # duplicate-centroid tie (cells 0 and 100 are identical vectors)
    # breaks to the LOWEST cell id
    assert got[0][0] == 0 and got[100][0] == 0
    # zero vector ties all cells at 0.0 -> lowest cell id
    assert got[300] == (0, 0.0)


def test_lsh_assign_extra_bits_and_center_paths_agree(emb):
    """The Arrow and pure-SQL assignment paths must stay bit-identical
    for the round-4 extensions too (sub-key reserve bits for hot-bucket
    splitting; mean-centering)."""
    from garden_net_backend_spark.operators.similarity import (
        lsh_assign_buckets,
    )

    sl = emb.filter(F.col("vec_id") < 120)
    mu = [
        float(v)
        for v in sl.agg(
            *[F.avg(F.col("embedding")[i]).alias(str(i)) for i in range(64)]
        ).collect()[0]
    ]
    kw = dict(bands=3, bits=5, extra_bits=7, center_vec=mu)
    arrow = {
        (r["id"], r["band"]): (r["bucket"], r["sub"])
        for r in lsh_assign_buckets(sl, use_arrow=True, **kw).collect()
    }
    sql = {
        (r["id"], r["band"]): (r["bucket"], r["sub"])
        for r in lsh_assign_buckets(sl, use_arrow=False, **kw).collect()
    }
    assert arrow == sql
    assert len(arrow) == 120 * 3
    # sub-keys fit their bit budget
    assert all(0 <= s < 2**7 for _, s in arrow.values())


def test_ann_property_gate_shared_exact_equivalent(spark, emb, queries):
    # the q38 suite hands one materialized exact-baseline frame to both
    # gate arms; the verdict rows must be identical to each arm
    # recomputing the baseline itself
    from garden_net_backend_spark.queries import _ann_property_gate

    ann = lsh_cosine_topk(emb, queries, k=5)
    solo = _ann_property_gate(emb, queries, ann, k=5).collect()
    shared_exact = cosine_topk(emb, queries, k=5).localCheckpoint(eager=True)
    shared = _ann_property_gate(
        emb, queries, ann, k=5, exact=shared_exact
    ).collect()
    key = lambda r: r["query_id"]  # noqa: E731
    assert sorted(map(tuple, solo), key=lambda t: t[0]) == sorted(
        map(tuple, shared), key=lambda t: t[0]
    )
    assert len(solo) == queries.count()


def test_semantic_dedup_blocked_subset_and_cell_recall(spark, emb):
    # SemDeDup contract: exact precision (every emitted pair really has
    # cosine >= tau) and exact recall WITHIN cells (every true pair
    # whose endpoints share a cell is emitted)
    from garden_net_backend_spark.operators.similarity import (
        assign_nearest_cell,
        embedding_dup_pairs,
        semantic_dedup_pairs,
    )

    tau = 0.2
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_dedup_pairs(emb, threshold=tau, n_cells=4).collect()
    }
    truth = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_dup_pairs(emb, threshold=tau).collect()
    }
    assert set(got) <= set(truth)
    assert all(truth[p] == c for p, c in got.items())  # identical scores
    seeds = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid"))
    )
    cell = {
        r["vec_id"]: r["cell_id"]
        for r in assign_nearest_cell(emb, seeds).collect()
    }
    same_cell_truth = {p for p in truth if cell[p[0]] == cell[p[1]]}
    assert set(got) == same_cell_truth


def test_semantic_dedup_with_learned_ivf_centroids(spark, emb):
    # production shape: cells = ivf_build_index k-means centroids; the
    # same subset/precision contract must hold
    from garden_net_backend_spark.operators.similarity import (
        embedding_dup_pairs,
        ivf_build_index,
        semantic_dedup_pairs,
    )

    cents, _assign = ivf_build_index(emb, n_centroids=4, refine_iters=1)
    got = semantic_dedup_pairs(emb, threshold=0.2, cells=cents).collect()
    truth = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_dup_pairs(emb, threshold=0.2).collect()
    }
    assert len(got) > 0
    assert all((r["id_a"], r["id_b"]) in truth for r in got)
    # determinism across invocations
    again = semantic_dedup_pairs(emb, threshold=0.2, cells=cents).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_semantic_dedup_arrow_assignment_agrees(spark, emb):
    # production (numpy matmul) vs gate (exact-decimal) assignment:
    # identical pair sets on data without float64-level cell ties
    from garden_net_backend_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    exact = semantic_dedup_pairs(
        emb, threshold=0.2, n_cells=4, assign="exact"
    ).collect()
    arrow = semantic_dedup_pairs(
        emb, threshold=0.2, n_cells=4, assign="arrow"
    ).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, arrow))
    import pytest

    with pytest.raises(ValueError):
        semantic_dedup_pairs(emb, assign="nope").collect()


def test_semantic_dedup_hot_cell_split_bounds_and_connects(spark):
    """Round-9 guard (VERDICT r8 task 1): a planted mega-cluster — 30%
    of the corpus near-identical, exactly the corpus SemDeDup targets —
    must not send the within-cell pair join |cell|²-unbounded.
    split mode: candidate work bounded to ~2·sz·cap AND the duplicate
    mass stays one connected component (adjacent-chunk links chain).
    drop mode: the mega-cell is discarded wholesale."""
    import numpy as np

    from garden_net_backend_spark.operators.dedup import dedup_representatives
    from garden_net_backend_spark.operators.similarity import (
        embedding_dup_pairs,
        semantic_dedup_pairs,
    )

    rng = np.random.default_rng(11)
    hub = rng.standard_normal(16)
    rows = []
    # 280 background vectors at LOW ids — the default n_cells=8 seed
    # centroids come from here (diverse directions), so the whole
    # near-identical mass below lands in ONE Voronoi cell (hot)
    for i in range(280):
        v = rng.standard_normal(16)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    # 120 near-identical vectors (the duplicate mass) at high ids
    for i in range(1000, 1120):
        v = hub + rng.standard_normal(16) * 1e-3
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cap = 16
    guarded = semantic_dedup_pairs(
        df, threshold=0.999, n_cells=8, max_cell_size=cap, hot_mode="split"
    )
    pairs = guarded.collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # precision: subset of the exact all-pairs truth
    truth = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(df, threshold=0.999).collect()
    }
    assert got <= truth and len(got) > 0
    # bounded: the unguarded mega-cell would emit ≥ C(120,2)=7140
    # candidate pairs; chunked emission is ≤ ~2·sz·cap
    assert len(got) <= 2 * 120 * cap
    assert len(got) < len(truth)  # the guard really dropped far pairs
    # connectivity: CC over the guarded pairs recovers the FULL planted
    # cluster as one component (adjacent-chunk links chain through)
    reps = dedup_representatives(
        df.select(F.col("vec_id")), guarded, id_col="vec_id"
    ).collect()
    rep_of = {r["vec_id"]: r["representative"] for r in reps}
    planted_reps = {rep_of[i] for i in range(1000, 1120)}
    assert planted_reps == {1000}
    # drop mode: the hot cell is gone — no pair between planted members
    dropped = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            df, threshold=0.999, n_cells=8, max_cell_size=cap, hot_mode="drop"
        ).collect()
    }
    assert not any(a >= 1000 and b >= 1000 for a, b in dropped)
    with pytest.raises(ValueError):
        semantic_dedup_pairs(df, max_cell_size=cap, hot_mode="Split").collect()


def test_semantic_dedup_guard_noop_on_cool_cells(spark, emb):
    """A cap larger than every cell must reproduce the unguarded
    output exactly (both modes) — the guard is pure insurance."""
    from garden_net_backend_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    base = sorted(
        map(tuple, semantic_dedup_pairs(emb, threshold=0.2, n_cells=4).collect())
    )
    n = emb.count()
    for mode in ("split", "drop"):
        got = sorted(
            map(
                tuple,
                semantic_dedup_pairs(
                    emb,
                    threshold=0.2,
                    n_cells=4,
                    max_cell_size=int(n),
                    hot_mode=mode,
                ).collect(),
            )
        )
        assert got == base, mode


def test_semantic_dedup_cells_named_binding(spark, emb):
    """ADVICE r8: a cells frame with extra/reordered columns binds by
    NAME (centroid_id/centroid_vec or cell_id/centroid); unknown wide
    frames are rejected instead of silently mis-binding."""
    from garden_net_backend_spark.operators.similarity import (
        ivf_build_index,
        semantic_dedup_pairs,
    )

    cents, _ = ivf_build_index(emb, n_centroids=4, refine_iters=0)
    base = sorted(
        map(tuple, semantic_dedup_pairs(emb, threshold=0.2, cells=cents).collect())
    )
    # reorder + add a column: name binding must still find the pair
    shuffled = cents.select(
        F.lit("x").alias("junk"), "centroid_vec", "centroid_id"
    )
    got = sorted(
        map(
            tuple,
            semantic_dedup_pairs(emb, threshold=0.2, cells=shuffled).collect(),
        )
    )
    assert got == base
    with pytest.raises(ValueError):
        semantic_dedup_pairs(
            emb,
            threshold=0.2,
            cells=cents.select(
                F.col("centroid_id").alias("a"),
                F.col("centroid_vec").alias("b"),
                F.lit(1).alias("c"),
            ),
        )


def test_dedup_representatives_keep_policy_far_from_centroid(spark):
    """SemDeDup keep policy (Abbas 2023): keep the cluster member with
    the LOWEST cosine to its centroid — on a fixture where that member
    is NOT the min id, the two policies must differ as specified."""
    import numpy as np

    from garden_net_backend_spark.operators.dedup import dedup_representatives
    from garden_net_backend_spark.operators.similarity import (
        assign_nearest_cell,
        semantic_dedup_pairs,
    )

    rng = np.random.default_rng(5)
    hub = rng.standard_normal(8)
    hub /= np.linalg.norm(hub)
    rows = []
    # cluster of 4 near-dups; id 7 is deliberately pushed farthest
    # from the shared direction (largest perturbation)
    for i, eps in [(3, 1e-4), (5, 2e-4), (7, 4e-3), (9, 1e-4)]:
        v = hub + rng.standard_normal(8) * eps
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    # an isolated singleton
    w = rng.standard_normal(8)
    rows.append((11, (w / np.linalg.norm(w)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = df.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    pairs = semantic_dedup_pairs(df, threshold=0.99, cells=seeds)
    scores = assign_nearest_cell(df, seeds, with_cosine=True).select(
        "vec_id", "cell_cosine"
    )
    docs = df.select("vec_id")
    min_id = {
        r["vec_id"]: r["representative"]
        for r in dedup_representatives(docs, pairs, id_col="vec_id").collect()
    }
    far = {
        r["vec_id"]: r["representative"]
        for r in dedup_representatives(
            docs,
            pairs,
            id_col="vec_id",
            keep_policy="far_from_centroid",
            scores=scores,
        ).collect()
    }
    assert {min_id[i] for i in (3, 5, 7, 9)} == {3}
    assert {far[i] for i in (3, 5, 7, 9)} == {7}
    # singleton keeps itself under both policies
    assert min_id[11] == 11 and far[11] == 11
    import pytest as _pt

    with _pt.raises(ValueError):
        dedup_representatives(docs, pairs, id_col="vec_id", keep_policy="nope")
    with _pt.raises(ValueError):
        dedup_representatives(
            docs, pairs, id_col="vec_id", keep_policy="far_from_centroid"
        )
    # the documented API — the RAW 3-column assign_nearest_cell(...,
    # with_cosine=True) frame — must bind the cosine BY NAME (the old
    # positional columns[1] grabbed cell_id and silently ranked
    # survivors by cell id; advisor r9)
    raw3 = assign_nearest_cell(df, seeds, with_cosine=True)
    assert raw3.columns == ["vec_id", "cell_id", "cell_cosine"]
    far_raw = {
        r["vec_id"]: r["representative"]
        for r in dedup_representatives(
            docs,
            pairs,
            id_col="vec_id",
            keep_policy="far_from_centroid",
            scores=raw3,
        ).collect()
    }
    assert far_raw == far
    # ambiguous frame (3 columns, none named cell_cosine) must raise,
    # never guess positionally
    with _pt.raises(ValueError):
        dedup_representatives(
            docs,
            pairs,
            id_col="vec_id",
            keep_policy="far_from_centroid",
            scores=raw3.withColumnRenamed("cell_cosine", "mystery"),
        )
    # the 2-column fallback must also refuse id-like value columns:
    # assign_nearest_cell WITHOUT with_cosine emits exactly
    # (id, cell_id) — binding cell_id as the cosine is the same silent
    # wrong-survivor bug in 2-column shape (review r10 pass 2)
    with _pt.raises(ValueError):
        dedup_representatives(
            docs,
            pairs,
            id_col="vec_id",
            keep_policy="far_from_centroid",
            scores=assign_nearest_cell(df, seeds),
        )


def test_dedup_representatives_partial_scores_keep_all_docs(spark):
    """Docs missing from the scores frame must not vanish from the
    representatives output (the old inner join erased whole components
    with no scored member, silently excluding them from curated
    corpora; advisor r9). Unscored members never beat a scored one;
    an entirely-unscored component degrades to the min_id policy."""
    from garden_net_backend_spark.operators.dedup import dedup_representatives

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20)], "vec_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    # component {1,2,3}: only 2 and 3 scored → 3 wins (lowest cosine
    # among scored; unscored 1 gets +inf and cannot win)
    # component {10,11}: no member scored → min_id fallback (10)
    # singleton 20: unscored → keeps itself
    scores = spark.createDataFrame(
        [(2, 0.9), (3, 0.2)], "vec_id long, cell_cosine double"
    )
    rep = {
        r["vec_id"]: r["representative"]
        for r in dedup_representatives(
            docs,
            pairs,
            id_col="vec_id",
            keep_policy="far_from_centroid",
            scores=scores,
        ).collect()
    }
    assert set(rep) == {1, 2, 3, 10, 11, 20}
    assert rep[1] == rep[2] == rep[3] == 3
    assert rep[10] == rep[11] == 10
    assert rep[20] == 20


def test_semantic_dedup_incremental_matches_batch_restriction(spark, emb):
    """Incremental SemDeDup == batch over the union, restricted to
    pairs touching the shard; the stored-assignment path agrees; and
    stored-vs-stored pairs are never re-emitted."""
    from garden_net_backend_spark.operators.similarity import (
        ivf_build_index,
        semantic_dedup_incremental,
        semantic_dedup_pairs,
    )

    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    shard = emb.filter(F.col("vec_id") % 3 == 0)
    cents, _ = ivf_build_index(corpus, n_centroids=4, refine_iters=0)
    batch = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_dedup_pairs(
            emb, threshold=0.2, cells=cents, assign="exact"
        ).collect()
    }
    shard_ids = {r["vec_id"] for r in shard.select("vec_id").collect()}
    want = {
        p: c
        for p, c in batch.items()
        if p[0] in shard_ids or p[1] in shard_ids
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_dedup_incremental(
            shard, corpus, cents, threshold=0.2, assign="exact"
        ).collect()
    }
    assert got == want
    assert any(
        p[0] not in shard_ids or p[1] not in shard_ids for p in got
    ) or len(got) > 0
    # stored-assignment path: precomputed (id, cell) table → same pairs
    from garden_net_backend_spark.operators.similarity import (
        assign_nearest_cell,
    )

    stored = assign_nearest_cell(
        corpus,
        cents.select(
            F.col("centroid_id").alias("cell_id"),
            F.col("centroid_vec").alias("centroid"),
        ),
    )
    got2 = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_dedup_incremental(
            shard, corpus, cents, corpus_assign=stored,
            threshold=0.2, assign="exact",
        ).collect()
    }
    assert got2 == want


def test_semantic_dedup_incremental_guarded_flood(spark):
    """A flood shard (near-identical mass) landing in one stored cell:
    the guard bounds the join and a planted shard-vs-stored dup pair
    survives split mode."""
    import numpy as np

    from garden_net_backend_spark.operators.similarity import (
        semantic_dedup_incremental,
    )

    rng = np.random.default_rng(23)
    hub = rng.standard_normal(16)
    stored_rows = []
    for i in range(40):  # stored corpus: background + one hub member
        v = rng.standard_normal(16)
        stored_rows.append((i, (v / np.linalg.norm(v)).tolist()))
    anchor = hub + rng.standard_normal(16) * 1e-4
    stored_rows.append((99, (anchor / np.linalg.norm(anchor)).tolist()))
    shard_rows = []
    for i in range(1000, 1200):  # flood of near-identical vectors
        v = hub + rng.standard_normal(16) * 1e-3
        shard_rows.append((i, (v / np.linalg.norm(v)).tolist()))
    schema = "vec_id long, embedding array<float>"
    stored = spark.createDataFrame(stored_rows, schema)
    shard = spark.createDataFrame(shard_rows, schema)
    cells = stored.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    got = semantic_dedup_incremental(
        shard, stored, cells, threshold=0.999,
        max_cell_size=16, hot_mode="split",
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    # bounded: far below the unguarded flood volume C(200,2)+200
    assert 0 < len(pairs) <= 2 * 201 * 16
    # the planted stored-vs-shard dup link is present (99 vs some
    # flood member) or the flood is internally connected to 99's chunk
    assert any(a == 99 or b == 99 for a, b in pairs)
    # no stored-vs-stored pair is ever re-emitted
    assert not any(a < 1000 and b < 1000 for a, b in pairs)


def test_semantic_dedup_prebuilt_assignments_agree(spark, emb):
    """assignments= (the stored IVF table / serving shape) must give
    the identical pair set as in-operator assignment, and malformed
    frames are rejected."""
    from garden_net_backend_spark.operators.similarity import (
        ivf_build_index,
        semantic_dedup_pairs,
    )

    cents, assign = ivf_build_index(emb, n_centroids=4, refine_iters=0)
    inline = sorted(
        map(
            tuple,
            semantic_dedup_pairs(
                emb, threshold=0.2, cells=cents, assign="arrow"
            ).collect(),
        )
    )
    prebuilt = sorted(
        map(
            tuple,
            semantic_dedup_pairs(
                emb, threshold=0.2, cells=cents, assignments=assign
            ).collect(),
        )
    )
    assert prebuilt == inline
    with pytest.raises(ValueError):
        semantic_dedup_pairs(
            emb,
            threshold=0.2,
            cells=cents,
            assignments=assign.select(
                F.col("vec_id"), F.col("centroid_id").alias("x"), F.lit(1).alias("y")
            ),
        )


# --- product quantization (PQ) tier ------------------------------------


@pytest.fixture(scope="module")
def pq_clustered(spark):
    """Clustered corpus where ADC prefiltering has real signal: 8
    anchors × 40 jittered members, 64-dim, unit-normalized."""
    import numpy as np

    rng = np.random.default_rng(7)
    anchors = rng.standard_normal((8, 64))
    rows, i = [], 0
    for a in range(8):
        for _ in range(40):
            v = anchors[a] + rng.standard_normal(64) * 0.15
            v = v / np.linalg.norm(v)
            rows.append((i, v.tolist()))
            i += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_codebooks_shape_and_determinism(spark, pq_clustered):
    from garden_net_backend_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    cb1 = pq_train_codebooks(pq_clustered, m=8, n_codes=16, refine_iters=1)
    cb2 = pq_train_codebooks(
        pq_clustered.repartition(13), m=8, n_codes=16, refine_iters=1
    )
    r1 = {(r["subspace"], r["code"]): r["sub_vec"] for r in cb1.collect()}
    r2 = {(r["subspace"], r["code"]): r["sub_vec"] for r in cb2.collect()}
    assert len(r1) == 8 * 16 and r1 == r2  # exact-decimal means
    assert all(len(v) == 8 for v in r1.values())  # 64/8 dims per subspace
    codes1 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(pq_clustered, cb1).collect()}
    codes2 = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(pq_clustered.repartition(5), cb1).collect()
    }
    assert codes1 == codes2
    assert all(
        len(c) == 8 and all(0 <= x < 16 for x in c) for c in codes1.values()
    )


def test_pq_refinement_improves_quantization(spark, pq_clustered):
    """Lloyd on each subspace: mean squared sub-quantization error never
    degrades with refine iterations (and strictly improves here)."""
    import numpy as np

    from garden_net_backend_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in pq_clustered.collect()
    }

    def sq_err(cb_df):
        cb = {}
        for r in cb_df.collect():
            cb[(r["subspace"], r["code"])] = np.asarray(r["sub_vec"])
        codes = {
            r["vec_id"]: list(r["codes"])
            for r in pq_encode(pq_clustered, cb_df).collect()
        }
        tot = 0.0
        for vid, v in vecs.items():
            v = v / np.linalg.norm(v)
            rec = np.concatenate([cb[(j, codes[vid][j])] for j in range(8)])
            tot += float(((v - rec) ** 2).sum())
        return tot / len(vecs)

    e0 = sq_err(pq_train_codebooks(pq_clustered, m=8, n_codes=16, refine_iters=0))
    e2 = sq_err(pq_train_codebooks(pq_clustered, m=8, n_codes=16, refine_iters=2))
    assert e2 <= e0 + 1e-12
    assert e2 < e0


def test_pq_topk_valid_recall_and_self_hit(spark, pq_clustered):
    from garden_net_backend_spark.operators.similarity import (
        cosine_topk,
        pq_build_index,
        pq_topk,
    )

    queries = pq_clustered.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    nq = queries.count()
    exact = cosine_topk(pq_clustered, queries, k=5).collect()
    idx = pq_build_index(pq_clustered, m=8, n_codes=16)
    idx = (idx[0], idx[1].localCheckpoint(eager=True))
    got = pq_topk(pq_clustered, queries, k=5, index=idx).collect()
    assert len(got) == 5 * nq
    exact_scores = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact}
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        # self-retrieval hard-guaranteed (candidate union), exact scores
        assert rows[0]["vec_id"] == q and abs(rows[0]["cosine"] - 1.0) < 1e-9
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        assert all(
            rows[i]["cosine"] >= rows[i + 1]["cosine"]
            for i in range(len(rows) - 1)
        )
        # re-ranked scores equal the exact cosine wherever exact has
        # the same pair (subset re-rank can never inflate)
        for r in rows:
            key = (r["query_id"], r["vec_id"])
            if key in exact_scores:
                assert r["cosine"] == exact_scores[key]
    hits = sum(
        1 for r in got if (r["query_id"], r["vec_id"]) in exact_scores
    )
    recall = hits / len(exact)
    assert recall >= 0.4, recall  # clustered corpus: ADC has real signal
    # determinism under repartition (incl. the partial-top-R tie path)
    got2 = pq_topk(
        pq_clustered.repartition(13),
        queries,
        k=5,
        index=(idx[0], idx[1].repartition(11)),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_pq_dim_and_sparse_codebook_guards(spark, pq_clustered):
    from garden_net_backend_spark.operators.similarity import (
        _pq_codebook_rows,
        pq_train_codebooks,
    )

    with pytest.raises(ValueError, match="not divisible"):
        pq_train_codebooks(pq_clustered, m=7)
    cb = pq_train_codebooks(pq_clustered, m=4, n_codes=8, refine_iters=0)
    with pytest.raises(ValueError, match="sparse"):
        _pq_codebook_rows(cb.filter(~((F.col("subspace") == 0) & (F.col("code") == 3))))


def test_ivf_pq_topk_composition(spark, pq_clustered):
    """IVF-PQ: probed-cell members ADC-scored, exact re-rank — valid
    k rows, structural self-hit, exact returned scores, and recall no
    worse than chance on the clustered fixture."""
    from garden_net_backend_spark.operators.similarity import (
        cosine_topk,
        ivf_build_index,
        ivf_pq_topk,
        pq_build_index,
    )

    queries = pq_clustered.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    nq = queries.count()
    ivf_idx = ivf_build_index(pq_clustered, n_centroids=8, refine_iters=1)
    ivf_idx = (ivf_idx[0], ivf_idx[1].localCheckpoint(eager=True))
    pq_idx = pq_build_index(pq_clustered, m=8, n_codes=16, refine_iters=1)
    pq_idx = (pq_idx[0], pq_idx[1].localCheckpoint(eager=True))
    got = ivf_pq_topk(
        pq_clustered, queries, k=5, nprobe=3,
        ivf_index=ivf_idx, pq_index=pq_idx,
    ).collect()
    assert len(got) == 5 * nq
    exact = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in cosine_topk(pq_clustered, queries, k=5).collect()
    }
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert rows[0]["vec_id"] == q and abs(rows[0]["cosine"] - 1.0) < 1e-9
        for r in rows:
            key = (r["query_id"], r["vec_id"])
            if key in exact:
                assert r["cosine"] == exact[key]
    recall = sum(1 for r in got if (r["query_id"], r["vec_id"]) in exact) / len(exact)
    assert recall >= 0.4, recall
    # determinism under repartition of both stored tables
    got2 = ivf_pq_topk(
        pq_clustered.repartition(9), queries, k=5, nprobe=3,
        ivf_index=(ivf_idx[0], ivf_idx[1].repartition(5)),
        pq_index=(pq_idx[0], pq_idx[1].repartition(7)),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_pq_train_sample_cap(spark, pq_clustered):
    """train_sample: a cap at-or-above the corpus keeps codebooks
    bit-identical to the full-corpus build (order-independent means);
    a real subsample still yields a full, deterministic codebook grid
    (the faiss sample-training practice for at-scale builds)."""
    from garden_net_backend_spark.operators.similarity import (
        pq_train_codebooks,
    )

    def grid(df):
        return {
            (r["subspace"], r["code"]): tuple(r["sub_vec"])
            for r in df.collect()
        }

    full = grid(pq_train_codebooks(pq_clustered, m=8, n_codes=16, refine_iters=1))
    capped = grid(
        pq_train_codebooks(
            pq_clustered, m=8, n_codes=16, refine_iters=1,
            train_sample=10**6,
        )
    )
    assert full == capped
    sampled = grid(
        pq_train_codebooks(
            pq_clustered, m=8, n_codes=16, refine_iters=1, train_sample=100
        )
    )
    assert len(sampled) == 8 * 16 and sampled != full
    sampled2 = grid(
        pq_train_codebooks(
            pq_clustered.repartition(7), m=8, n_codes=16, refine_iters=1,
            train_sample=100,
        )
    )
    assert sampled == sampled2  # hash-ordered sample: partitioning-proof


def test_ivf_train_sample_cap(spark, pq_clustered):
    """ivf_build_index train_sample: a cap at-or-above the corpus is
    bit-identical to the full build; a real subsample still assigns
    the FULL corpus and stays deterministic under repartition (the
    sample is hash-ordered, so init centroids are the same global
    smallest hashes)."""
    from garden_net_backend_spark.operators.similarity import ivf_build_index

    def snap(pair):
        cents, assign = pair
        return (
            {r["centroid_id"]: tuple(r["centroid_vec"]) for r in cents.collect()},
            {r["vec_id"]: r["centroid_id"] for r in assign.collect()},
        )

    full = snap(ivf_build_index(pq_clustered, n_centroids=8, refine_iters=1))
    capped = snap(
        ivf_build_index(
            pq_clustered, n_centroids=8, refine_iters=1, train_sample=10**6
        )
    )
    assert full == capped
    c1, a1 = snap(
        ivf_build_index(
            pq_clustered, n_centroids=8, refine_iters=1, train_sample=100
        )
    )
    assert len(a1) == pq_clustered.count()  # assignments cover everything
    assert c1 != full[0]  # refinement really ran on the sample
    c2, a2 = snap(
        ivf_build_index(
            pq_clustered.repartition(9), n_centroids=8, refine_iters=1,
            train_sample=100,
        )
    )
    assert (c1, a1) == (c2, a2)


def test_pq_encode_dim_mismatch_guard(spark, pq_clustered):
    """ADVICE r10: encoding a corpus whose dim doesn't match the
    trained codebooks must raise a descriptive driver-side ValueError,
    not an opaque numpy broadcast error inside the executor."""
    import numpy as np

    from garden_net_backend_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    cb = pq_train_codebooks(pq_clustered, m=8, n_codes=8, refine_iters=0)
    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(32).tolist()) for i in range(4)]
    wrong_dim = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="codebook dim"):
        pq_encode(wrong_dim, cb)


def test_ann_query_batch_chunking_identical(spark, pq_clustered):
    """Judge r10 task 3: an oversized query batch chunks against the
    shared prebuilt index and the unioned result is row-identical to
    the unchunked run, for both pq_topk and ivf_pq_topk."""
    from garden_net_backend_spark.operators.similarity import (
        ivf_build_index,
        ivf_pq_topk,
        pq_build_index,
        pq_topk,
    )

    queries = pq_clustered.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )  # 25 queries → 4 chunks at batch size 7
    pq_idx = pq_build_index(pq_clustered, m=8, n_codes=16, refine_iters=1)
    pq_idx = (pq_idx[0], pq_idx[1].localCheckpoint(eager=True))
    one = pq_topk(pq_clustered, queries, k=5, index=pq_idx).collect()
    chunked = pq_topk(
        pq_clustered, queries, k=5, index=pq_idx, query_batch_size=7
    ).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, chunked))

    ivf_idx = ivf_build_index(pq_clustered, n_centroids=8, refine_iters=1)
    ivf_idx = (ivf_idx[0], ivf_idx[1].localCheckpoint(eager=True))
    one2 = ivf_pq_topk(
        pq_clustered, queries, k=5, nprobe=3,
        ivf_index=ivf_idx, pq_index=pq_idx,
    ).collect()
    chunked2 = ivf_pq_topk(
        pq_clustered, queries, k=5, nprobe=3,
        ivf_index=ivf_idx, pq_index=pq_idx, query_batch_size=7,
    ).collect()
    assert sorted(map(tuple, one2)) == sorted(map(tuple, chunked2))
    # a duplicated query id must not straddle a chunk boundary (review
    # r11: both chunks would emit its top-k — 2k rows instead of k);
    # dup_q repeats every id, batch size 3 forces odd boundaries
    dup_q = queries.limit(4).unionByName(queries.limit(4))
    base = pq_topk(pq_clustered, dup_q, k=5, index=pq_idx).collect()
    chunked3 = pq_topk(
        pq_clustered, dup_q, k=5, index=pq_idx, query_batch_size=3
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, chunked3))
    assert len(chunked3) == 4 * 5  # k rows per DISTINCT query id
    # INLINE-built index + chunking: exercises the pin-before-fan-out
    # branch (the q38 gate now always passes prebuilt — review r11);
    # the chunked run must equal the unchunked inline run
    inline_once = pq_topk(
        pq_clustered, queries, k=5, m=8, n_codes=16, refine_iters=0
    ).collect()
    inline_chunked = pq_topk(
        pq_clustered, queries, k=5, m=8, n_codes=16, refine_iters=0,
        query_batch_size=7,
    ).collect()
    assert sorted(map(tuple, inline_once)) == sorted(map(tuple, inline_chunked))
    iv_once = ivf_pq_topk(
        pq_clustered, queries, k=5, nprobe=3, n_centroids=8,
        m=8, n_codes=16, refine_iters=0,
    ).collect()
    iv_chunked = ivf_pq_topk(
        pq_clustered, queries, k=5, nprobe=3, n_centroids=8,
        m=8, n_codes=16, refine_iters=0, query_batch_size=7,
    ).collect()
    assert sorted(map(tuple, iv_once)) == sorted(map(tuple, iv_chunked))
    # guard: a nonsensical batch size fails loudly, not with a
    # misleading empty-frame error from a zero-row chunk
    with pytest.raises(ValueError, match="query_batch_size"):
        pq_topk(pq_clustered, queries, k=5, index=pq_idx, query_batch_size=0)
    with pytest.raises(ValueError, match="query_batch_size"):
        ivf_pq_topk(
            pq_clustered, queries, k=5,
            ivf_index=ivf_idx, pq_index=pq_idx, query_batch_size=-1,
        )


def test_pq_small_corpus_degrades_codebook(spark):
    """Review r10: a corpus smaller than n_codes must train one code
    per vector (the ivf limit() analogue), not IndexError in the
    refine rebuild."""
    import numpy as np

    from garden_net_backend_spark.operators.similarity import (
        pq_build_index,
        pq_topk,
    )

    rng = np.random.default_rng(3)
    rows = []
    for i in range(6):
        v = rng.standard_normal(16)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    tiny = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb, codes = pq_build_index(tiny, m=4, n_codes=16, refine_iters=2)
    per_sub = cb.groupBy("subspace").count().collect()
    assert all(r["count"] == 6 for r in per_sub)  # shrunk to corpus size
    queries = tiny.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = pq_topk(tiny, queries, k=3, index=(cb, codes)).collect()
    assert len(got) == 6  # 2 queries x k=3


def test_chunked_ann_single_rerank_and_bounded_plan(spark, pq_clustered):
    """Judge r11 task 2: a many-chunk query frame (batch_size=1, 25
    queries → 25 chunks) must (a) still be row-identical to the
    unchunked run, (b) run ONE exact re-rank corpus scan total — the
    re-rank is hoisted out of the chunk loop — and (c) fold per-chunk
    frames with a balanced tree union, not a linear chain whose plan
    depth grows with the chunk count."""
    import garden_net_backend_spark.operators.similarity as sim

    queries = pq_clustered.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )  # 25 queries
    pq_idx = sim.pq_build_index(pq_clustered, m=8, n_codes=16, refine_iters=1)
    pq_idx = (pq_idx[0], pq_idx[1].localCheckpoint(eager=True))
    ivf_idx = sim.ivf_build_index(pq_clustered, n_centroids=8, refine_iters=1)
    ivf_idx = (ivf_idx[0], ivf_idx[1].localCheckpoint(eager=True))

    calls = []
    real_rerank = sim._pq_exact_rerank
    try:
        sim._pq_exact_rerank = lambda *a, **k: (
            calls.append(1) or real_rerank(*a, **k)
        )
        base = sim.pq_topk(pq_clustered, queries, k=5, index=pq_idx).collect()
        assert len(calls) == 1
        calls.clear()
        many = sim.pq_topk(
            pq_clustered, queries, k=5, index=pq_idx, query_batch_size=1
        )
        assert len(calls) == 1  # 25 chunks, ONE re-rank
        assert sorted(map(tuple, many.collect())) == sorted(map(tuple, base))
        calls.clear()
        base2 = sim.ivf_pq_topk(
            pq_clustered, queries, k=5, nprobe=3,
            ivf_index=ivf_idx, pq_index=pq_idx,
        ).collect()
        assert len(calls) == 1
        calls.clear()
        many2 = sim.ivf_pq_topk(
            pq_clustered, queries, k=5, nprobe=3,
            ivf_index=ivf_idx, pq_index=pq_idx, query_batch_size=1,
        )
        assert len(calls) == 1
        assert sorted(map(tuple, many2.collect())) == sorted(map(tuple, base2))
    finally:
        sim._pq_exact_rerank = real_rerank
    # (c) _tree_union correctness pinned directly (its win is plan-
    # CONSTRUCTION cost: Spark eagerly re-flattens a linear union
    # chain at every call — O(n²) child-list copying at thousands of
    # chunks — while the balanced fold copies O(n log n) total)
    frames = [spark.range(i, i + 1) for i in range(32)]
    assert sim._tree_union(frames).count() == 32
    assert sorted(
        r["id"] for r in sim._tree_union(frames).collect()
    ) == list(range(32))
    assert sim._tree_union(frames[:1]).count() == 1
    with pytest.raises(ValueError, match="empty"):
        sim._tree_union([])


def test_ann_conflicting_duplicate_query_id_raises(spark, pq_clustered):
    """Advisor r11: a query id appearing with two DIFFERENT vectors is
    ambiguous (and ivf_pq_topk's LUT positions silently kept only the
    last one) — both operators must refuse it; exact duplicates are
    collapsed (k rows per distinct id, pinned by the chunking test)."""
    from garden_net_backend_spark.operators.similarity import (
        ivf_build_index,
        ivf_pq_topk,
        pq_build_index,
        pq_topk,
    )

    conflicted = spark.createDataFrame(
        [(1, [1.0] * 64), (1, [0.5] * 64)],
        "query_id long, query_vec array<float>",
    )
    pq_idx = pq_build_index(pq_clustered, m=8, n_codes=16, refine_iters=0)
    with pytest.raises(ValueError, match="two different"):
        pq_topk(pq_clustered, conflicted, k=3, index=pq_idx)
    ivf_idx = ivf_build_index(pq_clustered, n_centroids=8, refine_iters=0)
    with pytest.raises(ValueError, match="two different"):
        ivf_pq_topk(
            pq_clustered, conflicted, k=3,
            ivf_index=ivf_idx, pq_index=pq_idx,
        )


def test_ivfpq_nprobe_recall_monotone(spark, pq_clustered):
    """Judge r11 task 8 (optional): with the prefilter cut not binding
    (prefilter ≥ corpus), the candidate set at nprobe=n is a SUBSET of
    the one at nprobe=m>n (the probe window's top-n centroids nest),
    so recall@k vs the exact baseline is non-decreasing in nprobe —
    the knob's semantics, pinned the way k/tie semantics already are."""
    from garden_net_backend_spark.operators.similarity import (
        cosine_topk,
        ivf_build_index,
        ivf_pq_topk,
        pq_build_index,
    )

    queries = pq_clustered.filter(F.col("vec_id") % 41 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    pq_idx = pq_build_index(pq_clustered, m=8, n_codes=16, refine_iters=1)
    pq_idx = (pq_idx[0], pq_idx[1].localCheckpoint(eager=True))
    ivf_idx = ivf_build_index(pq_clustered, n_centroids=8, refine_iters=1)
    ivf_idx = (ivf_idx[0], ivf_idx[1].localCheckpoint(eager=True))
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(pq_clustered, queries, k=5).collect()
    }
    recalls = []
    for nprobe in (1, 2, 4, 8):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_pq_topk(
                pq_clustered, queries, k=5, nprobe=nprobe,
                prefilter=400, ivf_index=ivf_idx, pq_index=pq_idx,
            ).collect()
        }
        recalls.append(len(got & exact) / len(exact))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] >= recalls[0]
    # nprobe = n_centroids probes everything: with the prefilter cut
    # not binding the re-rank sees every vector — exact recall
    assert recalls[-1] == 1.0, recalls


def test_ivfpq_membership_from_codes_table(spark, pq_clustered):
    """Round 12: ``ivf_index=(centroids, None)`` derives cell
    membership from the codes frame's ``_cell`` column — the faiss
    inverted-list shape (codes stored IN the lists, no assignment
    table at serving time). Must be row-identical to the
    assignment-join path, with or without partition pruning, and must
    refuse a codes frame that has no ``_cell`` to derive from."""
    from garden_net_backend_spark.operators.similarity import (
        ivf_build_index,
        ivf_pq_topk,
        pq_build_index,
    )

    queries = pq_clustered.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cb, codes = pq_build_index(pq_clustered, m=8, n_codes=16, refine_iters=1)
    cents, assign = ivf_build_index(pq_clustered, n_centroids=8, refine_iters=1)
    assign = assign.localCheckpoint(eager=True)
    # the celled codes frame the ingest face maintains, built in-memory:
    # same codes, each row carrying its IVF cell
    celled = codes.join(
        assign.select("vec_id", F.col("centroid_id").alias("_cell")), "vec_id"
    ).localCheckpoint(eager=True)
    via_assign = ivf_pq_topk(
        pq_clustered, queries, k=5, nprobe=3,
        ivf_index=(cents, assign), pq_index=(cb, codes),
    ).collect()
    via_codes = ivf_pq_topk(
        pq_clustered, queries, k=5, nprobe=3,
        ivf_index=(cents, None), pq_index=(cb, celled),
    ).collect()
    assert sorted(map(tuple, via_codes)) == sorted(map(tuple, via_assign))
    # pruning off (stale-_cell escape hatch): membership still comes
    # from _cell, just without the isin partition filter — same rows
    unpruned = ivf_pq_topk(
        pq_clustered, queries, k=5, nprobe=3, prune_cells=False,
        ivf_index=(cents, None), pq_index=(cb, celled),
    ).collect()
    assert sorted(map(tuple, unpruned)) == sorted(map(tuple, via_assign))
    # chunked serving path: the per-chunk ADC passes each derive
    # membership from the same celled frame
    chunked = ivf_pq_topk(
        pq_clustered, queries, k=5, nprobe=3, query_batch_size=2,
        ivf_index=(cents, None), pq_index=(cb, celled),
    ).collect()
    assert sorted(map(tuple, chunked)) == sorted(map(tuple, via_assign))
    with pytest.raises(ValueError, match="_cell"):
        ivf_pq_topk(
            pq_clustered, queries, k=5, nprobe=3,
            ivf_index=(cents, None), pq_index=(cb, codes),
        )


def test_lsh_collected_queries_buckets_identical(emb, queries):
    """Round 14: the driver-side numpy query bucketing
    (collected_queries=) is row-identical to the Spark mapInPandas
    bucket scan — both call _np_bucket_cols on the same
    _np_bucket_planes constants, so this pins the wiring, not the
    math. Malformed rows (duplicate ids) must fall back to the Spark
    path and still match."""
    q_rows = queries.collect()
    plain = sorted(map(tuple, lsh_cosine_topk(emb, queries, k=5).collect()))
    fast = sorted(
        map(
            tuple,
            lsh_cosine_topk(
                emb, queries, k=5, collected_queries=q_rows
            ).collect(),
        )
    )
    assert fast == plain
    # duplicate id → _lsh_bucket_rows_local declines, Spark path runs
    from garden_net_backend_spark.operators.similarity import (
        _lsh_bucket_rows_local,
    )

    assert _lsh_bucket_rows_local(
        q_rows + q_rows[:1], "query_id", "query_vec", 8, 8, 64
    ) is None
    # ragged vector → declines (ADVICE r13: malformed input must fall
    # back, not crash)
    import pyspark.sql.types as T

    bad = [{"query_id": 1, "query_vec": [1.0] * 64},
           {"query_id": 2, "query_vec": [1.0] * 63}]
    assert _lsh_bucket_rows_local(bad, "query_id", "query_vec", 8, 8, 64) is None


def test_lsh_deferred_fallback_exact_identical(emb, queries):
    """Round 14: fallback_exact may be a zero-arg callable resolved at
    fallback-branch assembly (the q38 suite overlaps the exact collect
    with the arm's construction) — output row-identical to handing the
    frame directly, including on an all-deficient corpus."""
    spark = emb.sparkSession
    ex_df = cosine_topk(emb, queries, k=5)
    ex = spark.createDataFrame(ex_df.collect(), ex_df.schema)
    direct = sorted(
        map(
            tuple,
            lsh_cosine_topk(emb, queries, k=5, fallback_exact=ex).collect(),
        )
    )
    deferred = sorted(
        map(
            tuple,
            lsh_cosine_topk(
                emb, queries, k=5, fallback_exact=lambda: ex
            ).collect(),
        )
    )
    assert deferred == direct


def test_ivf_centroid_rows_path_identical(emb, queries):
    """Round 14: handing the ivf index's centroid side as an
    already-collected row list (the q38 suite collects it once for the
    ivf and ivfpq arms) is row-identical to handing the frame — for
    both the numpy probe path and the Spark-window fallback (forced
    via a duplicated query id)."""
    from garden_net_backend_spark.operators.similarity import (
        ivf_build_index,
        ivf_cosine_topk,
        ivf_pq_topk,
        pq_build_index,
    )

    spark = emb.sparkSession
    cents, assign = ivf_build_index(emb, n_centroids=16)
    assign = assign.localCheckpoint(eager=True)
    cent_rows = cents.collect()
    q_rows = queries.collect()
    want = sorted(
        map(
            tuple,
            ivf_cosine_topk(
                emb, queries, k=5, nprobe=4, n_centroids=16,
                index=(cents, assign), collected_queries=q_rows,
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            ivf_cosine_topk(
                emb, queries, k=5, nprobe=4, n_centroids=16,
                index=(cent_rows, assign), collected_queries=q_rows,
            ).collect(),
        )
    )
    assert got == want
    # duplicated query id → numpy probe declines → the rows path must
    # recreate the centroid frame for the Spark probe window
    dup = spark.createDataFrame(q_rows + q_rows[:1], queries.schema)
    want_dup = sorted(
        map(
            tuple,
            ivf_cosine_topk(
                emb, dup, k=5, nprobe=4, n_centroids=16,
                index=(cents, assign),
            ).collect(),
        )
    )
    got_dup = sorted(
        map(
            tuple,
            ivf_cosine_topk(
                emb, dup, k=5, nprobe=4, n_centroids=16,
                index=(cent_rows, assign),
                collected_queries=dup.collect(),
            ).collect(),
        )
    )
    assert got_dup == want_dup
    # ivf_pq_topk: centroid rows + collected queries vs frames
    cb, codes = pq_build_index(emb, m=8, n_codes=16, refine_iters=1)
    codes = codes.localCheckpoint(eager=True)
    cb_rows = cb.collect()
    want_pq = sorted(
        map(
            tuple,
            ivf_pq_topk(
                emb, queries, k=5, nprobe=4, n_centroids=16,
                ivf_index=(cents, assign), pq_index=(cb, codes),
            ).collect(),
        )
    )
    got_pq = sorted(
        map(
            tuple,
            ivf_pq_topk(
                emb, queries, k=5, nprobe=4, n_centroids=16,
                ivf_index=(cent_rows, assign), pq_index=(cb_rows, codes),
                collected_queries=q_rows,
            ).collect(),
        )
    )
    assert got_pq == want_pq


def test_pq_collected_queries_identical(emb, queries):
    """Round 14: pq_topk(collected_queries=) skips the per-call query
    collect job; output row-identical."""
    from garden_net_backend_spark.operators.similarity import (
        pq_build_index,
        pq_topk,
    )

    cb, codes = pq_build_index(emb, m=8, n_codes=16, refine_iters=1)
    codes = codes.localCheckpoint(eager=True)
    idx = (cb, codes)
    want = sorted(map(tuple, pq_topk(emb, queries, k=5, index=idx).collect()))
    got = sorted(
        map(
            tuple,
            pq_topk(
                emb, queries, k=5, index=idx,
                collected_queries=queries.collect(),
            ).collect(),
        )
    )
    assert got == want
