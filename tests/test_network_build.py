"""End-to-end PCHiC pipeline tests on a synthetic fixture, mirroring the
reference's golden-test strategy (reference tests/test_network_generator.R;
SURVEY.md §5): cardinality goldens per stage, row-content goldens, search
goldens, cytoscape output contracts."""

import gzip
import json
import os
import tempfile

import pytest

from garden_net_backend_spark.plans.network_build import (
    build_network,
    chromosome_list,
    cytoscape_elements,
    filter_threshold,
    suggestions,
    to_cytoscape_json,
)
from garden_net_backend_spark.plans.search import build_token_index, search_subnetwork
from garden_net_backend_spark.sources.readers import (
    load_interactions,
    load_pchic,
    sniff_format,
)

HEADER = "baitChr\tbaitStart\tbaitEnd\tbaitID\tbaitName\toeChr\toeStart\toeEnd\toeID\toeName\tdist\tmESC"
ROWS = [
    # bait 1_100_200 (Hoxa6) ↔ oe 1_300_400: above threshold, P-O
    "1\t100\t200\t1\tHoxa6-001\t1\t300\t400\t2\t.\t200\t7.5",
    # duplicate interaction (exercises simplify)
    "1\t100\t200\t1\tHoxa6-001\t1\t300\t400\t2\t.\t200\t9.0",
    # self-loop (dropped by simplify)
    "1\t100\t200\t1\tHoxa6-001\t1\t100\t200\t1\tHoxa6-001\t0\t8.0",
    # oe that is ALSO a bait elsewhere → P-P typing
    "1\t100\t200\t1\tHoxa6-001\t1\t500\t600\t3\t.\t400\t6.1",
    "1\t500\t600\t3\tSox2;Sox2-201\t1\t700\t800\t4\t.\t300\t6.5",
    # below threshold (filtered)
    "1\t100\t200\t1\tHoxa6-001\t1\t900\t950\t5\t.\t800\t4.9",
    # interchromosomal, touches chr 2
    "2\t1000\t1100\t6\tNanog\tX\t2000\t2100\t7\t.\t\t5.5",
    # chromosome X internal
    "X\t2000\t2100\t7\tXist\tX\t2500\t2600\t8\t.\t500\t11.0",
]


@pytest.fixture(scope="module")
def pchic_path():
    d = tempfile.mkdtemp(prefix="pchic_fix_")
    p = os.path.join(d, "mus.tsv")
    with open(p, "w") as fh:
        fh.write(HEADER + "\n" + "\n".join(ROWS) + "\n")
    return p


@pytest.fixture(scope="module")
def network(spark, pchic_path):
    inter = load_pchic(spark, pchic_path)
    return build_network(inter, wt_threshold=5.0)


def test_sniff_and_gzip(spark, pchic_path):
    assert sniff_format(pchic_path) == ("pchic", 12)
    gz = pchic_path + ".gz"
    with open(pchic_path, "rb") as src, gzip.open(gz, "wb") as dst:
        dst.write(src.read())
    df, hic_mode = load_interactions(spark, gz)
    assert not hic_mode
    assert df.count() == len(ROWS)  # gzip transparent (reference S4)


def test_threshold_golden(spark, pchic_path):
    inter = load_pchic(spark, pchic_path)
    assert filter_threshold(inter, 5.0).count() == 7  # strict >, 4.9 dropped
    assert filter_threshold(inter, 8.0).count() == 2  # strict >: 9.0, 11.0


def test_vertices_and_typing_goldens(network):
    nodes, edges = network
    nd = {r["fragment"]: r for r in nodes.collect()}
    # 7 distinct fragments survive the threshold
    assert len(nd) == 7
    # bait set: 1_100_200, 1_500_600, 2_1000_1100, X_2000_2100
    assert nd["1_100_200"]["type"] == "P"
    assert nd["1_500_600"]["type"] == "P"  # oe elsewhere but bait → P
    assert nd["1_300_400"]["type"] == "O"
    # transcript suffix stripped, dedup preserved
    assert nd["1_100_200"]["gene_names"] == "Hoxa6"
    assert nd["1_500_600"]["gene_names"] == "Sox2"
    # '.' normalized to ""
    assert nd["1_300_400"]["gene_names"] == ""
    # chr is a STRING, X survives
    assert nd["X_2000_2100"]["chr"] == "X"

    ed = {(r["src"], r["dst"]): r["type"] for r in edges.collect()}
    # self-loop dropped, duplicate collapsed → 5 edges
    assert len(ed) == 5
    assert ed[("1_100_200", "1_500_600")] == "P-P"  # oe ∈ baits
    assert ed[("1_100_200", "1_300_400")] == "P-O"
    # interchromosomal; its oe (X_2000_2100) is itself a bait → P-P
    assert ed[("2_1000_1100", "X_2000_2100")] == "P-P"
    assert ed[("X_2000_2100", "X_2500_2600")] == "P-O"


def test_degree_golden(network):
    nodes, _ = network
    deg = {r["fragment"]: r["degree"] for r in nodes.collect()}
    assert deg["1_100_200"] == 2  # dup collapsed, loop dropped
    assert deg["1_500_600"] == 2
    assert deg["1_900_950"] == 0 if "1_900_950" in deg else True


def test_chromosome_filter_golden(spark, pchic_path):
    inter = load_pchic(spark, pchic_path)
    nodes_x, edges_x = build_network(inter, wt_threshold=5.0, chromosome="X")
    # interactions touching X: the interchromosomal 2↔X and X↔X
    assert edges_x.count() == 2
    frag_chrs = {r["chr"] for r in nodes_x.collect()}
    assert frag_chrs == {"2", "X"}
    # PP pseudo-chromosome
    _, edges_pp = build_network(inter, wt_threshold=5.0, chromosome="PP")
    assert {r["type"] for r in edges_pp.collect()} == {"P-P"}


def test_suggestions_and_chromosomes(network):
    nodes, _ = network
    sug = [r["suggestion"] for r in suggestions(nodes).collect()]
    assert sug == sorted(sug)
    assert "Hoxa6" in sug and "Sox2" in sug and "Xist" in sug
    chroms = chromosome_list(nodes)
    assert chroms == ["1", "2", "X"]  # natural order, numeric first


def test_search_gene_ego(network):
    nodes, edges = network
    sub_nodes, sub_edges = search_subnetwork(nodes, edges, "Hoxa6")
    got = {r["fragment"]: r for r in sub_nodes.collect()}
    # ego of 1_100_200: itself + neighbors 1_300_400, 1_500_600
    assert set(got) == {"1_100_200", "1_300_400", "1_500_600"}
    assert got["1_100_200"]["searched"] == "true"  # string contract
    assert got["1_300_400"]["searched"] == "false"
    # per-subnet degree recomputed (Q7): induced edges only
    es = {(r["src"], r["dst"]) for r in sub_edges.collect()}
    assert es == {("1_100_200", "1_300_400"), ("1_100_200", "1_500_600")}
    assert got["1_500_600"]["degree"] == 1  # 1 in subnet (2 globally)


def test_search_hub_seed_shuffle_fallback(spark):
    """A hub seed (a super-enhancer fragment with 10^5+ contacts at 100x
    scale) is resolved like any other: its incident edges and its
    hood's edges are collected once each, and the answer is its ego
    graph — the star, plus the edges between two of its neighbours,
    never an edge leaving the hood — with per-subnetwork degrees."""
    edges = spark.createDataFrame(
        [("HUB", f"N_{i}", "P-O") for i in range(60)]
        + [("N_1", "N_2", "P-O"), ("N_58", "N_59", "P-O"), ("N_1", "FAR", "P-O")],
        "src string, dst string, type string",
    )
    frags = ["HUB", "FAR"] + [f"N_{i}" for i in range(60)]
    nodes = spark.createDataFrame(
        [(f, "Hub" if f == "HUB" else "", "1", i, i + 1) for i, f in enumerate(frags)],
        "fragment string, gene_names string, chr string, start long, end long",
    )
    sub_nodes, sub_edges = search_subnetwork(nodes, edges, "Hub")
    want = {("HUB", f"N_{i}") for i in range(60)} | {
        ("N_1", "N_2"),
        ("N_58", "N_59"),
    }
    got = [(r["src"], r["dst"]) for r in sub_edges.collect()]
    assert sorted(got) == sorted(want)
    deg = {r["fragment"]: (r["degree"], r["searched"]) for r in sub_nodes.collect()}
    assert set(deg) == set(frags) - {"FAR"}
    assert deg["HUB"] == (60, "true")
    assert deg["N_1"] == (2, "false") and deg["N_3"] == (1, "false")


def test_search_fragment_and_range_and_multi(network):
    nodes, edges = network
    sn, _ = search_subnetwork(nodes, edges, "x_2000_2100")  # case-insensitive Q2
    assert {r["fragment"] for r in sn.collect()} == {
        "X_2000_2100", "2_1000_1100", "X_2500_2600"
    }
    # Q1 range overlap
    sn, _ = search_subnetwork(nodes, edges, "1:150-350")
    assert "1_100_200" in {r["fragment"] for r in sn.collect()}
    # Q1 nearest fallback: empty overlap → closest fragment
    sn, _ = search_subnetwork(nodes, edges, "1:10-20")
    searched = {r["fragment"] for r in sn.collect() if r["searched"] == "true"}
    assert searched == {"1_100_200"}
    # Q5 multi-term
    sn, _ = search_subnetwork(nodes, edges, "Hoxa6, Xist")
    assert {r["fragment"] for r in sn.collect() if r["searched"] == "true"} == {
        "1_100_200", "X_2000_2100"
    }


def test_ensembl_search(network, spark):
    nodes, edges = network
    e2n = spark.createDataFrame(
        [("ENSMUSG00000038227", "Hoxa6")], "ensembl_id string, gene_name string"
    )
    sn, _ = search_subnetwork(nodes, edges, "ENSMUSG00000038227", ensembl2name=e2n)
    assert {r["fragment"] for r in sn.collect() if r["searched"] == "true"} == {
        "1_100_200"
    }


def test_token_index(network):
    nodes, _ = network
    idx = {(r["token"], r["fragment"]) for r in build_token_index(nodes).collect()}
    assert ("hoxa6", "1_100_200") in idx
    assert ("sox2", "1_500_600") in idx


def test_cytoscape_contracts(network):
    nodes, edges = network
    elems = [json.loads(r["element"]) for r in cytoscape_elements(nodes, edges).collect()]
    groups = [e["group"] for e in elems]
    assert groups == sorted(groups, key=lambda g: 0 if g == "nodes" else 1)
    node_el = next(e for e in elems if e["group"] == "nodes")
    # rename contracts: name→id, gene_names→names
    assert "id" in node_el["data"] and "names" in node_el["data"]
    # numbers are typed (no sed unquoting needed) and non-scientific
    assert isinstance(node_el["data"]["start"], int)
    assert "e+" not in json.dumps(elems) and "E+" not in json.dumps(elems)
    # searched is the string "true"/"false"
    assert node_el["data"]["searched"] in ("true", "false")
    edge_el = next(e for e in elems if e["group"] == "edges")
    assert edge_el["data"]["id"] == f"{edge_el['data']['source']}~{edge_el['data']['target']}"
    # empty-network sentinel
    empty_nodes = nodes.limit(0)
    empty_edges = edges.limit(0)
    assert to_cytoscape_json(empty_nodes, empty_edges) == "{}"


def test_grid_positions_checker_contract(network):
    """Replicates the reference's chromosomes_positions_checker.sh on
    emitted JSON: every node has a position block, node[0]'s position is
    not (0,0), and no number anywhere is scientific-notation; positions
    are deterministic across runs and follow the karyotype ribbon
    (y-row ordered by natural chromosome order)."""
    from garden_net_backend_spark.plans.network_build import assign_grid_positions

    nodes, edges = network
    pos_nodes = assign_grid_positions(nodes)
    elems = [
        json.loads(r["element"])
        for r in cytoscape_elements(pos_nodes, edges).collect()
    ]
    node_els = [e for e in elems if e["group"] == "nodes"]
    assert node_els and all("position" in e for e in node_els)
    p0 = node_els[0]["position"]
    assert isinstance(p0["x"], int) and isinstance(p0["y"], int)
    assert not (p0["x"] == 0 and p0["y"] == 0)
    blob = json.dumps(elems)
    assert "e+" not in blob and "E+" not in blob and "e-" not in blob
    # position must not leak into the data block
    assert "x" not in node_els[0]["data"] and "y" not in node_els[0]["data"]
    # deterministic across a second evaluation
    again = [
        json.loads(r["element"])
        for r in cytoscape_elements(assign_grid_positions(nodes), edges).collect()
    ]
    assert elems == again
    # karyotype rows follow natural chromosome order
    rows = {}
    for e in node_els:
        rows.setdefault(e["data"]["chr"], set()).add(e["position"]["y"] // 200)
    assert min(rows["1"]) < min(rows["X"])


def test_search_pinned_adjacency_equivalence(network, spark):
    """A miss that reads its seed adjacency from the pinned symmetrized
    edges (pin_serving_adjacency) must return EXACTLY what the one that
    symmetrizes ``edges`` returns — nodes, flags, degrees, and edges."""
    from garden_net_backend_spark.plans.search import (
        build_token_index,
        pin_serving_adjacency,
        search_subnetwork,
    )

    nodes, edges = network
    tok = build_token_index(nodes)
    sym = pin_serving_adjacency(edges)
    try:
        for term in ("Hoxa6", "Sox2,Xist", "1:150-350", "NOMATCH"):
            base_n, base_e = search_subnetwork(
                nodes, edges, term, token_index=tok, pinned_sym=sym,
                pin_policy="off",
            )
            fast_n, fast_e = search_subnetwork(
                nodes, edges, term, token_index=tok, pinned_sym=sym
            )
            key_cols = ["fragment", "searched", "degree"]
            assert sorted(
                tuple(r[c] for c in key_cols) for r in base_n.collect()
            ) == sorted(tuple(r[c] for c in key_cols) for r in fast_n.collect())
            assert sorted(
                (r["src"], r["dst"]) for r in base_e.collect()
            ) == sorted((r["src"], r["dst"]) for r in fast_e.collect())
        with pytest.raises(ValueError, match="pin_policy"):
            search_subnetwork(nodes, edges, "Hoxa6", pin_policy="bogus")
    finally:
        sym.unpersist()


#: sha256 of serve_search's output per dispatch arm on this module's
#: network, recorded from the shuffle-pipeline miss path that the
#: driver-resolved one replaced: the bytes a memo hit returns must not
#: change with the miss path
_SERVE_GOLDEN = {
    "gene": ("Hoxa6", {}, "7b85b240929cb49866fd9d4010951790b143b62d0c63e96a47ba379cb21f3eb9"),
    "multi": ("Hoxa6, Xist", {}, "c1a793979d8282a96da205c74d7837bc0ca27c6e333a92947e18bb2befe8d270"),
    "fragment": ("x_2000_2100", {}, "7d4232eb1dfe212ca865ffd1f322dfa8bc4514638436fa127c802e8d583a5fb2"),
    "range": ("1:150-350", {}, "a1c02103fdb7c08286648cc78fbe1ca347cc8742cbafe6d6e8972755bdd814fd"),
    "range_expand": ("1:150-350", {"expand": 300}, "a2d712207384e1198d3fda273673a5fdaafc4b6ffbc3f926323b0cbc6e8834de"),
    "range_fallback": ("1:10-20", {}, "7b85b240929cb49866fd9d4010951790b143b62d0c63e96a47ba379cb21f3eb9"),
    "nearest": ("1:650", {"nearest": True}, "526c6552423c88710871afb8cdcfa1f77fa9f9a0e3b8f216a1ee460bfead7936"),
    "ensembl": ("ENSMUSG00000038227", {}, "7b85b240929cb49866fd9d4010951790b143b62d0c63e96a47ba379cb21f3eb9"),
    "unknown": ("NOMATCH", {}, "44136fa355b3678a1146ad16f7e8649e94fb4fc21fe77e8310c060f61caaff8a"),
}


def _serve(spark, network, search, token_index=None, **kw):
    from garden_net_backend_spark.plans.serving import ResultCache, serve_search

    nodes, edges = network
    e2n = spark.createDataFrame(
        [("ENSMUSG00000038227", "Hoxa6")], "ensembl_id string, gene_name string"
    )
    cache = ResultCache(tempfile.mkdtemp(prefix="serve_golden_"))
    out, hit = serve_search(
        cache, nodes, edges, search, ensembl2name=e2n,
        token_index=token_index or build_token_index(nodes), **kw,
    )
    assert not hit
    return out


@pytest.mark.parametrize("arm", sorted(_SERVE_GOLDEN))
def test_serve_search_golden_bytes(network, spark, arm):
    import hashlib

    search, kw, digest = _SERVE_GOLDEN[arm]
    out = _serve(spark, network, search, **kw)
    assert hashlib.sha256(out.encode()).hexdigest() == digest, out


def test_serve_search_mixed_arms_keep_edge_orientation(network, spark):
    """A search with a name term and a range term returns every edge as
    the network stores it (src, dst): the union of what the two terms
    return alone. (The shuffle-pipeline path unioned the range arm's
    edges by position after a semi-join had moved ``dst`` first, and
    so served them reversed.)"""
    nodes, edges = network

    def edge_set(out):
        return {
            (e["data"]["source"], e["data"]["target"], e["data"]["type"])
            for e in json.loads(out)["elements"]
            if e["group"] == "edges"
        }

    stored = {(r["src"], r["dst"], r["type"]) for r in edges.collect()}
    mixed = edge_set(_serve(spark, network, "Xist, 1:150-350"))
    assert mixed <= stored
    assert mixed == edge_set(_serve(spark, network, "Xist")) | edge_set(
        _serve(spark, network, "1:150-350")
    )


@pytest.fixture(scope="module")
def served(network):
    """The module's network as a server holds it: nodes, edges and token
    index computed once (checkpointed), so a request's jobs are its own."""
    nodes, edges = network
    return tuple(
        df.localCheckpoint() for df in (nodes, edges, build_token_index(nodes))
    )


def _miss_jobs(spark, served, search):
    """(job id, job description) of every Spark job one serve_search
    miss runs, listed through the status tracker under a job group of
    the test's own."""
    sc = spark.sparkContext
    nodes, edges, tokens = served
    group = f"test_miss_{search}"
    sc.setJobGroup(group, "test")
    try:
        _serve(spark, (nodes, edges), search, token_index=tokens)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        desc = store.job(jid).description()
        out.append((jid, desc.get() if desc.isDefined() else None))
    return out


def test_search_miss_job_budget(served, spark):
    """A gene miss is three small collects plus the serialization: at
    most 10 Spark jobs (it runs 8; the shuffle pipeline it replaced ran
    13 here)."""
    jobs = _miss_jobs(spark, served, "Sox2")
    assert 0 < len(jobs) <= 10, jobs


def test_search_miss_jobs_carry_step_descriptions(served, spark):
    """Every job of a miss carries the description of the step that
    started it, and the caller's job group still counts them all."""
    steps = {"search/seeds", "search/adjacency", "search/hood_edges", "search/serialize"}
    jobs = _miss_jobs(spark, served, "Nanog")
    assert jobs and {d for _j, d in jobs} == steps, jobs
