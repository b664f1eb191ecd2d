"""Serving-path 10x drill (judge r5 task 6 / r6 next-round task 4):
time the WARM interactive search path — bucketed node/token tables,
pinned edges — at bench scale (sf0.1) and at the ~10x synthetic
scale-up, plus the full memoized serve_search miss/hit path
(plans/serving.py). A miss is resolved on the driver from three small
collects (plans/search.py); the drill shows how its latency grows with
the corpus (fixed output) and with the answer (fanout).

Usage: python tools/serving_drill.py [sf_dir] [factor]
Defaults: /root/testdata/sf0.1 10
Writes SERVING_RAW.json at the repo root; paste the table into
SCALING.md's serving section.

The big corpus is a NETWORK-level scale-up (_scale_network): the
tools/make_scale_data.py table scale-up does not work here because the
synthetic PCHiC derivation is modulo-capped — 10x fact rows collapse
to the same 5k-node simplified network (verified: the first drill run
measured identical node/edge counts at both "scales").

Every timed sample is load-gated like tools/scaling_drill.py (waits
bounded for 1-min loadavg < DRILL_QUIET_LOAD, default 5.0) so sibling-
container bursts don't masquerade as scale regressions.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from garden_net_backend_spark.session import get_session

_QUIET_LOAD = float(os.environ.get("DRILL_QUIET_LOAD", "5.0"))
_MAX_WAIT_PER_SAMPLE_SEC = float(os.environ.get("DRILL_MAX_WAIT", "60"))
_TERMS = ["GENE12", "GENE7", "GENE23"]  # distinct → no cross-sample memo


def _wait_quiet() -> float:
    waited = 0.0
    while os.getloadavg()[0] >= _QUIET_LOAD and waited < _MAX_WAIT_PER_SAMPLE_SEC:
        time.sleep(5.0)
        waited += 5.0
    return waited


def _scale_network(nodes, edges, factor: int, shared_genes: bool = True):
    """N disjoint fragment-key copies of the network. Needed because
    the synthetic PCHiC derivation is modulo-capped: 10× fact rows
    collapse to the SAME 5k-node simplified network, so scaling the
    parquet inputs does not scale the serving corpus.

    ``shared_genes=True``: copies SHARE the gene namespace — the shape
    of a natively-N×-bigger organism network where a gene search
    matches N× seeds, so the ego fan-out AND the result size genuinely
    grow (the throughput axis). ``shared_genes=False``: each copy gets
    its own gene namespace ("K3GENE12"), so a GENE12 search returns
    the SAME subnetwork off an N× corpus — pure per-request latency at
    fixed output (the latency axis).

    Implemented as ONE crossJoin with a broadcast copy-id range, not an
    N-branch union — a 100-branch union plan took Catalyst minutes to
    even checkpoint at factor 100, while this shape is O(1) plan nodes
    at any factor (and is the idiom a real N× replication job would
    use)."""
    from pyspark.sql import functions as F

    spark = nodes.sparkSession
    copies = F.broadcast(
        spark.range(factor).select(F.col("id").cast("int").alias("_c"))
    )
    pref = F.concat(F.lit("c"), F.col("_c"), F.lit("_"))

    nodes_n = (
        nodes.crossJoin(copies)
        .withColumn("fragment", F.concat(pref, F.col("fragment")))
    )
    if not shared_genes:
        # copy 0 keeps the original namespace; copies c>0 get K{c}-
        # prefixed tokens
        tok_pref = F.concat(F.lit("K"), F.col("_c"))
        nodes_n = nodes_n.withColumn(
            "gene_names",
            F.when(F.col("_c") == 0, F.col("gene_names")).otherwise(
                F.array_join(
                    F.transform(
                        F.split(F.col("gene_names"), " "),
                        lambda t: F.concat(tok_pref, t),
                    ),
                    " ",
                )
            ),
        )
    nodes_n = nodes_n.drop("_c")
    edges_n = (
        edges.crossJoin(copies)
        .withColumn("src", F.concat(pref, F.col("src")))
        .withColumn("dst", F.concat(pref, F.col("dst")))
        .drop("_c")
    )
    return nodes_n, edges_n


def drill_scale(
    spark, sf_dir: str, tag: str, factor: int = 1, shared_genes: bool = True
) -> dict:
    from pyspark.sql import functions as F

    from garden_net_backend_spark.plans.materialize import (
        write_bucketed_search_tables,
    )
    from garden_net_backend_spark.plans.network_build import build_network
    from garden_net_backend_spark.plans.search import (
        build_token_index,
        pin_serving_adjacency,
        search_subnetwork,
    )
    from garden_net_backend_spark.plans.serving import ResultCache, serve_search
    from garden_net_backend_spark.queries import _synthetic_pchic

    rec: dict = {
        "sf_dir": sf_dir, "factor": factor, "shared_genes": shared_genes,
    }

    # ingest-side cost (billed separately, like bench extras): network
    # build + token index + bucketed table write
    t0 = time.time()
    nodes, edges = build_network(
        _synthetic_pchic(spark, sf_dir), wt_threshold=30.0, materialize=True,
        with_degree=False,
    )
    if factor > 1:
        nodes, edges = _scale_network(nodes, edges, factor, shared_genes)
        edges = edges.localCheckpoint(eager=True)
    tables = write_bucketed_search_tables(
        nodes, build_token_index(nodes), prefix=f"svd_{tag}"
    )
    bnodes = spark.table(tables["nodes"])
    btokens = spark.table(tables["token_index"])
    edges = edges.persist()
    rec["edges"] = edges.count()
    rec["nodes"] = bnodes.count()
    # serving adjacency index (sorted+cached symmetrized edges): built
    # once at ingest, buys batch-pruned literal seed probes per request
    sym = pin_serving_adjacency(edges)
    rec["build_sec"] = round(time.time() - t0, 2)

    # warm search path (bench q64_warm_serving analogue): bucketed
    # equi-joins + pinned edges, per-subnet degree recomputed
    warm, loads = [], []
    for term in _TERMS:
        _wait_quiet()
        loads.append(round(os.getloadavg()[0], 1))
        t0 = time.time()
        sub_nodes, _sub_edges = search_subnetwork(
            bnodes, edges, term, token_index=btokens, pinned_sym=sym
        )
        sub_nodes.select("fragment", "type", "searched", "degree").collect()
        warm.append(round(time.time() - t0, 3))
    rec["warm_search_sec"] = warm
    rec["warm_search_min_sec"] = min(warm)
    rec["warm_search_load"] = loads

    # full serve_search miss path (search + cytoscape JSON + cache put)
    cache = ResultCache(f"/tmp/serving_drill_cache_{tag}")
    cache.clear()
    miss = []
    for term in _TERMS:
        _wait_quiet()
        t0 = time.time()
        _result, was_hit = serve_search(
            cache, bnodes, edges, term, token_index=btokens, pinned_sym=sym
        )
        assert not was_hit
        miss.append(round(time.time() - t0, 3))
    rec["serve_miss_sec"] = miss
    rec["serve_miss_min_sec"] = min(miss)

    # memo hit: O(1) file read, must never launch a Spark job
    t0 = time.time()
    _result, was_hit = serve_search(
        cache, bnodes, edges, _TERMS[0], token_index=btokens, pinned_sym=sym
    )
    assert was_hit
    rec["serve_hit_sec"] = round(time.time() - t0, 4)

    edges.unpersist()
    sym.unpersist()
    return rec


def main() -> None:
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_session("serving_drill")
    # warm JVM + python worker pool once (not billed to any sample)
    spark.range(0, 1 << 15, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()

    axes = os.environ.get("DRILL_AXES", "small,fixed,fanout").split(",")
    out = {"factor": factor, "quiet_load_threshold": _QUIET_LOAD}
    if "small" in axes:
        out["small"] = drill_scale(spark, small, "s")
    if "fixed" in axes:
        # latency axis: Nx corpus, per-copy gene namespace -> a GENE
        # search returns the SAME subnetwork (fixed output)
        out["big_fixed_output"] = drill_scale(
            spark, small, "bf", factor=factor, shared_genes=False
        )
    if "fanout" in axes:
        # throughput axis: Nx corpus, shared namespace -> Nx seeds,
        # Nx result rows per request
        out["big_fanout"] = drill_scale(spark, small, "b", factor=factor)
    for big in ("big_fixed_output", "big_fanout"):
        if big in out and "small" in out:
            for k in ("warm_search_min_sec", "serve_miss_min_sec"):
                out[f"ratio_{big}_{k}"] = round(
                    out[big][k] / out["small"][k], 2
                )
    path = os.environ.get("DRILL_OUT") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SERVING_RAW.json",
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
