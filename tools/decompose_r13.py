"""Round-13 per-arm decomposition of the heavy suites (q38/q56/q29/q30/
q70/q32/q66): times each arm standalone with the noop sink so the
suite headline can be attributed stage by stage. Usage:

    python tools/decompose_r13.py q38 [q56 ...]
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from garden_net_backend_spark.queries import CATALOG, _t  # noqa: E402
from garden_net_backend_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(os.environ.get("R13_SAMPLES", "3"))


def _time(label, fn, n=N):
    samples = []
    for _ in range(n):
        t0 = time.time()
        out = fn()
        if out is not None:
            out.write.format("noop").mode("overwrite").save()
        samples.append(round(time.time() - t0, 3))
        gc.collect()
    print(f"  {label:34s} min={min(samples):7.3f} {samples}", flush=True)


def q38(spark):
    from garden_net_backend_spark.operators.similarity import (
        cosine_topk,
        ivf_build_index,
        ivf_cosine_topk,
        ivf_pq_topk,
        lsh_cosine_topk,
        pq_build_index,
        pq_topk,
    )

    emb = _t(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    t0 = time.time()
    _c, _a = ivf_build_index(emb, n_centroids=32, refine_iters=1)
    _a = _a.persist(); _a.count()
    print(f"  ivf_build {round(time.time()-t0,3)}")
    t0 = time.time()
    _cb, _codes = pq_build_index(emb, m=8, n_codes=16, refine_iters=1)
    _codes = _codes.persist(); _codes.count()
    print(f"  pq_build {round(time.time()-t0,3)}")
    ivf_index, pq_index = (_c, _a), (_cb, _codes)
    _time("exact_baseline(cosine_topk k=5)", lambda: cosine_topk(emb, queries, k=5))
    _time("arm:lsh", lambda: lsh_cosine_topk(emb, queries, k=5))
    _time("arm:ivf(prebuilt)", lambda: ivf_cosine_topk(
        emb, queries, k=5, nprobe=4, n_centroids=32, refine_iters=1, index=ivf_index))
    _time("arm:pq(prebuilt)", lambda: pq_topk(
        emb, queries, k=5, m=8, n_codes=16, refine_iters=1, index=pq_index))
    _time("arm:ivfpq(prebuilt)", lambda: ivf_pq_topk(
        emb, queries, k=5, nprobe=4, n_centroids=32, m=8, n_codes=16,
        refine_iters=1, ivf_index=ivf_index, pq_index=pq_index))
    from garden_net_backend_spark.queries import q38_suite_impl

    _time("full_suite(prebuilt)", lambda: q38_suite_impl(
        spark, SF_DIR, ivf_index=ivf_index, pq_index=pq_index))


def q56(spark):
    from garden_net_backend_spark.operators.similarity import (
        assign_nearest_cell,
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
        semantic_dedup_pairs,
    )

    emb = _t(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    _time("arm:exact(500)", lambda: embedding_dup_pairs(
        emb.filter(F.col("vec_id") < 500), threshold=0.3))
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda v, i: F.when(i == 0, v * 1.1 + F.lit(0.01)).otherwise(v),
        ).cast("array<float>").alias("embedding"),
    )
    _time("arm:lsh(full+planted)", lambda: embedding_dup_pairs_lsh(
        emb.unionByName(planted), threshold=0.9, bands=8, bits=8))
    base800 = emb.filter(F.col("vec_id") < 800)
    seeds = base800.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid"))
    _time("assign_nearest_cell(800x8)", lambda: assign_nearest_cell(base800, seeds))
    assign_all = assign_nearest_cell(base800, seeds).localCheckpoint(eager=True)
    _time("arm:semdedup(prebuilt assign)", lambda: semantic_dedup_pairs(
        base800, threshold=0.3, cells=seeds, assignments=assign_all))
    _time("arm:seminc(prebuilt assign)", lambda: semantic_dedup_pairs(
        base800.filter(F.col("vec_id") % 16 == 0), threshold=0.3, cells=seeds,
        assignments=assign_all, corpus_vecs=base800.filter(F.col("vec_id") % 16 != 0),
        corpus_assign=assign_all))


def q29(spark):
    from garden_net_backend_spark.operators.dedup import (
        dedup_representatives,
        duplicated_spans,
        duplicated_window_positions,
        exact_dedup,
        excise_duplicate_spans,
        line_dedup,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, SF_DIR, "documents")
    _time("exact_dedup", lambda: exact_dedup(docs))
    _time("dup_window_positions", lambda: duplicated_window_positions(docs, min_tokens=8))
    dpos = duplicated_window_positions(docs, min_tokens=8).localCheckpoint(eager=True)
    _time("spans(prebuilt dpos)", lambda: duplicated_spans(docs, min_tokens=8, positions=dpos))
    _time("excise(prebuilt dpos)", lambda: excise_duplicate_spans(docs, min_tokens=8, positions=dpos))
    _time("line_dedup", lambda: line_dedup(docs, sep=" line "))
    _time("ngram_jaccard_pairs", lambda: ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, shingle="word", hash_keys=True))
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, shingle="word", hash_keys=True
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    _time("dedup_representatives(pairs)", lambda: dedup_representatives(docs, pairs))


def q30(spark):
    from garden_net_backend_spark.functions.partitioning import ensure_min_partitions
    from garden_net_backend_spark.functions.text import with_shingles
    from garden_net_backend_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = _t(spark, SF_DIR, "documents")
    _time("shingle_checkpoint_build", lambda: with_shingles(
        ensure_min_partitions(docs), "text", "_grams", 3, "word").select("doc_id", "_grams"))
    grams = with_shingles(
        ensure_min_partitions(docs), "text", "_grams", 3, "word"
    ).select("doc_id", "_grams").localCheckpoint(eager=True)
    _time("arm:prefix_exact(grams)", lambda: ngram_jaccard_pairs_prefix(
        docs, n=3, threshold=0.5, shingle="word", grams=grams))
    _time("arm:minhash(grams)", lambda: minhash_dedup_pairs(
        docs, threshold=0.5, num_hashes=64, bands=16, ngram=3, shingle="word", grams=grams))


def q32(spark):
    from garden_net_backend_spark.operators.dedup import simhash, simhash_near_pairs

    docs = _t(spark, SF_DIR, "documents")
    _time("simhash(md5)", lambda: simhash(docs, hash_fn="md5"))
    fp = simhash(docs, hash_fn="md5").localCheckpoint(eager=True)
    _time("near_pairs(prebuilt fp)", lambda: simhash_near_pairs(fp))


def q66(spark):
    from garden_net_backend_spark.operators.chas import (
        chas,
        feature_abundance,
        feature_mean_degree,
    )
    from garden_net_backend_spark.operators.graph import degrees
    from garden_net_backend_spark.plans.feature_metrics import merge_features
    from garden_net_backend_spark.queries import _shared_network, warm_shared_network

    warm_shared_network(spark, SF_DIR)
    ent = _shared_network(spark, SF_DIR)
    nodes = ent["nodes"].select("fragment", "chr", "start", "end").localCheckpoint(eager=True)
    edges = ent["edges"]
    part = _t(spark, SF_DIR, "part")
    intervals = part.select(
        (F.col("p_partkey") % 5 + 1).cast("string").alias("chr"),
        ((F.col("p_partkey") % 990) * 100).alias("start"),
        ((F.col("p_partkey") % 990) * 100 + 250).alias("end"),
        F.concat(F.lit("F"), (F.col("p_partkey") % 3).cast("string")).alias("feature"),
        (F.col("p_partkey") % 7 + 1).cast("double").alias("value"),
    )
    _time("merge_features", lambda: merge_features(nodes, intervals, agg="mean"))
    dense = merge_features(nodes, intervals, agg="mean").localCheckpoint(eager=True)
    e = edges.select("src", "dst")
    _time("abundance(dense)", lambda: feature_abundance(dense))
    _time("chas(dense)", lambda: chas(e, dense, broadcast_features=True))
    _time("mean_degree(dense)", lambda: feature_mean_degree(dense, degrees(e)))


def q70(spark):
    from garden_net_backend_spark.queries import (
        _rand_graph,
        _rand_property_rows,
    )

    nodes, edges = _rand_graph(spark, SF_DIR)
    edges = edges.localCheckpoint(eager=True)
    _time("mode:dist", lambda: _rand_property_rows("dist", nodes, edges))
    _time("mode:free", lambda: _rand_property_rows("free", nodes, edges))


def main() -> None:
    spark = get_session("decompose_r13")
    CATALOG["q01_pricing_summary"].spark_fn(spark, SF_DIR).collect()
    spark.range(0, 1 << 15, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()
    for name in sys.argv[1:]:
        print(f"== {name} ==", flush=True)
        globals()[name](spark)


if __name__ == "__main__":
    main()
