"""S12 HTTP-result cache: key covers ALL result-shaping params
(fixing the reference's search|organism|cell_type key, SURVEY §4),
round-trip through serve_search, sentinel caching, eviction."""

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from garden_net_backend_spark.plans.network_build import (
    build_network,
    to_cytoscape_json,
)
from garden_net_backend_spark.plans.search import (
    build_token_index,
    search_subnetwork,
)
from garden_net_backend_spark.plans.serving import (
    ResultCache,
    cache_key,
    serve_search,
)


def _network(spark):
    rows = []
    for c in ["1", "2"]:
        for i in range(5):
            rows.append(
                (c, i * 1000, i * 1000 + 500, i, f"Gene{c}{i}",
                 c, (i + 1) * 1000, (i + 1) * 1000 + 500, i + 100, ".",
                 1000.0, 9.0)
            )
    inter = spark.createDataFrame(
        rows,
        "baitChr string, baitStart long, baitEnd long, baitID long,"
        "baitName string, oeChr string, oeStart long, oeEnd long,"
        "oeID long, oeName string, dist double, score double",
    )
    return build_network(inter, wt_threshold=5.0)


def test_cache_key_covers_nearest_and_expand():
    base = cache_key("6:52155590-52158317", "Mus_musculus", "ESC")
    # the reference bug: these three collide under search|organism|cell_type
    assert base != cache_key("6:52155590-52158317", "Mus_musculus", "ESC",
                             expand=20000)
    assert base != cache_key("6:52155590-52158317", "Mus_musculus", "ESC",
                             nearest=True)
    # and key is stable
    assert base == cache_key("6:52155590-52158317", "Mus_musculus", "ESC")


def test_result_cache_roundtrip_and_eviction(tmp_path):
    c = ResultCache(str(tmp_path / "cache"))
    k = cache_key("Hoxa6", "Mus_musculus", "ESC")
    assert c.get(k) is None
    c.put(k, '{"elements": []}')
    assert c.get(k) == '{"elements": []}'
    c.put(k, '{"elements": [1]}')  # overwrite wins
    assert c.get(k) == '{"elements": [1]}'
    c.evict(k)
    assert c.get(k) is None


def test_serve_search_memoizes(spark):
    nodes, edges = _network(spark)
    cache = ResultCache(tempfile.mkdtemp(prefix="rescache_"))
    idx = build_token_index(nodes)
    out1, hit1 = serve_search(cache, nodes, edges, "Gene12",
                              cell_type="ESC", token_index=idx)
    assert not hit1
    payload = json.loads(out1)
    assert any(
        el["data"].get("searched") == "true" for el in payload["elements"]
        if el["group"] == "nodes"
    )
    out2, hit2 = serve_search(cache, nodes, edges, "Gene12",
                              cell_type="ESC", token_index=idx)
    assert hit2 and out2 == out1
    # different expand → different key → miss (the reference bug fixed)
    _, hit3 = serve_search(cache, nodes, edges, "Gene12",
                           cell_type="ESC", expand=5000, token_index=idx)
    assert not hit3
    # the cache is queryable as a table
    rows = {r["key"] for r in cache.as_dataframe(spark).collect()}
    assert cache_key("Gene12", "", "ESC") in rows


@pytest.mark.parametrize(
    "search,nearest",
    [("Gene12", False), ("1:2100", True), ("1:1000-2600", False)],
    ids=["gene", "nearest", "range"],
)
def test_serve_search_miss_serializes_its_own_searched_flag(
    spark, search, nearest
):
    """A miss serializes search_subnetwork's own ``searched`` column.
    Its bytes equal the two-step form: drop the flag, left-join the
    seeds back as "true", default "false", flag last."""
    nodes, edges = _network(spark)
    idx = build_token_index(nodes)
    cache = ResultCache(tempfile.mkdtemp(prefix="rescache_"))
    out, hit = serve_search(
        cache, nodes, edges, search, nearest=nearest, token_index=idx
    )
    sub_nodes, sub_edges = search_subnetwork(
        nodes, edges, search, nearest=nearest, token_index=idx
    )
    seeds = sub_nodes.filter(F.col("searched") == "true").select(
        "fragment", F.lit("true").alias("searched")
    )
    rejoined = (
        sub_nodes.drop("searched")
        .join(seeds, "fragment", "left")
        .withColumn("searched", F.coalesce(F.col("searched"), F.lit("false")))
    )
    assert not hit
    assert '"searched":"true"' in out
    assert out == to_cytoscape_json(rejoined, sub_edges)


def test_empty_sentinel_cached(spark):
    nodes, edges = _network(spark)
    cache = ResultCache(tempfile.mkdtemp(prefix="rescache_"))
    out, hit = serve_search(cache, nodes, edges, "NoSuchGeneXYZ",
                            token_index=build_token_index(nodes))
    assert out == "{}" and not hit
    out2, hit2 = serve_search(cache, nodes, edges, "NoSuchGeneXYZ",
                              token_index=build_token_index(nodes))
    assert out2 == "{}" and hit2


def test_serving_drill_scale_network_axes(spark):
    """tools/serving_drill._scale_network underpins the SCALING.md
    serving ratios — pin its two axes: N disjoint fragment-key copies
    (nodes/edges ×N, no cross-copy edges), gene namespace shared
    (fanout axis) vs per-copy (fixed-output axis)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    try:
        from serving_drill import _scale_network
    finally:
        sys.path.pop(0)

    from pyspark.sql import functions as F

    nodes = spark.createDataFrame(
        [("1_10_20", "GENE1 GENE2"), ("1_30_40", "GENE2")],
        "fragment string, gene_names string",
    )
    edges = spark.createDataFrame(
        [("1_10_20", "1_30_40")], "src string, dst string"
    )

    n3, e3 = _scale_network(nodes, edges, 3, shared_genes=True)
    assert n3.count() == 6 and e3.count() == 3
    # copies are disjoint: every edge stays within its copy prefix
    cross = e3.filter(
        F.split("src", "_")[0] != F.split("dst", "_")[0]
    ).count()
    assert cross == 0
    # fanout axis: the SAME gene token appears in every copy
    assert (
        n3.filter(F.col("gene_names").contains("GENE2")).count() == 6
    )

    nf, _ef = _scale_network(nodes, edges, 3, shared_genes=False)
    # fixed-output axis: original tokens only in copy 0; copies c>0
    # carry K{c}-prefixed namespaces
    per_copy = {
        r["fragment"].split("_")[0]: r["gene_names"]
        for r in nf.filter(F.col("fragment").endswith("1_10_20")).collect()
    }
    assert per_copy["c0"] == "GENE1 GENE2"
    assert per_copy["c1"] == "K1GENE1 K1GENE2"
    assert per_copy["c2"] == "K2GENE1 K2GENE2"
