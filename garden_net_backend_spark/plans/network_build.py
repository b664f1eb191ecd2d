"""The PCHiC network-build pipeline (reference network_generator.R;
SURVEY.md §3.1) as ONE declarative Spark plan.

Differences from the reference by design:

- The per-chromosome GNU-parallel fan-out (pipeline.sh:125) disappears:
  one job computes the full network; per-chromosome views are filters
  over it (partition-prunable when materialized with partitionBy(chr)).
- The "rebuild whole network when chromosome==1" hack
  (network_generator.R:193-236) disappears: global artifacts are
  computed once from the unfiltered DataFrame.
- R's implicit row-order "first" semantics are pinned with explicit
  sort keys (SURVEY §4 custom-work item 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.strings import (
    clean_gene_names,
    fragment_key,
    natural_chr_key,
    normalize_dot,
)
from ..operators.graph import degrees, simplify


def score_column(interactions: DataFrame) -> str:
    """The threshold column is positionally column 12 (reference
    network_generator_lib.R:304-308 — "threshold is always column 12")."""
    return interactions.columns[11]


def filter_threshold(interactions: DataFrame, wt_threshold: float = 5.0) -> DataFrame:
    """Strict > threshold on the first score column (reference
    network_generator_lib.R:306-308; default 5.0 at :8-12). Pushed into
    the parquet/CSV scan by Catalyst."""
    return interactions.filter(F.col(score_column(interactions)) > F.lit(wt_threshold))


def with_fragment_keys(interactions: DataFrame) -> DataFrame:
    """Canonical fragment ids for both endpoints (SURVEY §1.4)."""
    return interactions.withColumns(
        {
            "bait_fragment": fragment_key(
                F.col("baitChr"), F.col("baitStart"), F.col("baitEnd")
            ),
            "oe_fragment": fragment_key(
                F.col("oeChr"), F.col("oeStart"), F.col("oeEnd")
            ),
        }
    )


def type_edges(interactions: DataFrame, hic_mode: bool = False) -> DataFrame:
    """Edge typing: P-P iff the other end is itself a bait, else P-O;
    Hi-C mode → all O-O (reference network_generator_lib.R:465-473;
    network_generator.R:59). The bait set is a broadcast semi-join
    rendered as a left join + when()."""
    if hic_mode:
        return interactions.withColumn("type", F.lit("O-O"))
    baits = interactions.select(F.col("bait_fragment").alias("_bait_key")).distinct()
    return (
        interactions.join(
            F.broadcast(baits),
            interactions["oe_fragment"] == baits["_bait_key"],
            "left",
        )
        .withColumn(
            "type",
            F.when(F.col("_bait_key").isNotNull(), "P-P").otherwise("P-O"),
        )
        .drop("_bait_key")
    )


def filter_chromosome(interactions: DataFrame, chromosome: str | None) -> DataFrame:
    """Chromosome view: keep interactions touching the chromosome
    (interchromosomal edges included — reference
    network_generator_lib.R:315-317); pseudo-chromosome "PP" → P-P
    interactions only (network_generator.R:81-85)."""
    if chromosome is None:
        return interactions
    if chromosome == "PP":
        return interactions.filter(F.col("type") == "P-P")
    return interactions.filter(
        (F.col("baitChr") == chromosome) | (F.col("oeChr") == chromosome)
    )


def derive_vertices(interactions: DataFrame, hic_mode: bool = False) -> DataFrame:
    """Vertex table from the union of endpoints (reference
    generate_vertex, network_generator_lib.R:323-362; SURVEY U1+A1):
    fragment, cleaned gene_names, chr/start/end, type (P = appears as a
    bait; Hi-C mode → all O). Multi-row fragments collapse
    deterministically: type P wins, first non-empty name by name order.
    """
    baits = interactions.select(
        F.col("bait_fragment").alias("fragment"),
        normalize_dot(F.col("baitName")).alias("gene_names"),
        F.col("baitChr").alias("chr"),
        F.col("baitStart").alias("start"),
        F.col("baitEnd").alias("end"),
        F.lit("O" if hic_mode else "P").alias("type"),
    )
    oes = interactions.select(
        F.col("oe_fragment").alias("fragment"),
        normalize_dot(F.col("oeName") if "oeName" in interactions.columns else F.lit("")).alias(
            "gene_names"
        ),
        F.col("oeChr").alias("chr"),
        F.col("oeStart").alias("start"),
        F.col("oeEnd").alias("end"),
        F.lit("O").alias("type"),
    )
    verts = baits.unionByName(oes).withColumn(
        "gene_names", clean_gene_names(F.col("gene_names"))
    )
    # collapse per fragment: P beats O (an other-end that is also a bait
    # is a promoter); deterministic name pick
    return verts.groupBy("fragment", "chr", "start", "end").agg(
        F.max("type").alias("type"),  # 'P' > 'O' lexically → P wins
        F.max(F.when(F.col("gene_names") != "", F.col("gene_names"))).alias("_gn"),
    ).select(
        "fragment",
        F.coalesce(F.col("_gn"), F.lit("")).alias("gene_names"),
        "chr",
        "start",
        "end",
        "type",
    )


def derive_edges(interactions: DataFrame) -> DataFrame:
    """Edge table (src, dst, type) with igraph-simplify semantics:
    self-loops dropped, parallel edges collapsed keeping the first by
    (type, src, dst) order (reference network_generator.R:146-148,
    generate_edges network_generator_lib.R:386-391)."""
    e = interactions.select(
        F.col("bait_fragment").alias("src"),
        F.col("oe_fragment").alias("dst"),
        "type",
    )
    return simplify(e, order_by=["type"])


def build_network(
    interactions: DataFrame,
    wt_threshold: float = 5.0,
    chromosome: str | None = None,
    hic_mode: bool = False,
    materialize: bool = False,
    with_degree: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Full §3.1 steps 2-8: scan → threshold → typing → chromosome view
    → vertices + simplified edges with per-node degree. Returns
    (nodes, edges).

    ``materialize=True`` localCheckpoints the typed interaction set and
    the simplified edges — the nodes lineage EMBEDS the edges lineage
    (degree join), so a caller that checkpoints nodes and edges
    separately otherwise re-executes the scan→threshold→typing chain
    ~3×. With it, the chain runs once and every downstream consumer
    (vertex collapse, degree join, search, metrics) reads the
    materialized block — the in-session analogue of the S9 serving
    tables.

    ``with_degree=False`` skips the per-node degree aggregation + join
    — for consumers that never read ``nodes.degree`` (metadata bundles
    recomputing degrees from their own edge subset, annotation and
    search-seed paths) it removes one shuffle-join from the nodes
    lineage for free."""
    inter = filter_threshold(interactions, wt_threshold)
    inter = with_fragment_keys(inter)
    inter = type_edges(inter, hic_mode)
    inter = filter_chromosome(inter, chromosome)
    if materialize:
        inter = inter.localCheckpoint(eager=True)
    nodes = derive_vertices(inter, hic_mode)
    edges = derive_edges(inter)
    if materialize:
        edges = edges.localCheckpoint(eager=True)
    if with_degree:
        deg = degrees(edges.select("src", "dst"))
        nodes = (
            nodes.join(deg, nodes["fragment"] == deg["node"], "left")
            .drop("node")
            .withColumn("degree", F.coalesce(F.col("degree"), F.lit(0)))
        )
    return nodes, edges


# --- annotation joins (reference network_generator.R:98-134) -----------


def annotate_bait_names(nodes: DataFrame, bait_names: DataFrame) -> DataFrame:
    """J3: overwrite gene_names for promoters from the HindIII bait
    annotation (reference network_generator_lib.R:869-884)."""
    bn = bait_names.select(
        fragment_key(F.col("Chr"), F.col("Start"), F.col("End")).alias("fragment"),
        F.col("gene_id").alias("_bait_gene"),
    )
    return (
        nodes.join(F.broadcast(bn), "fragment", "left")
        .withColumn(
            "gene_names",
            F.when(
                (F.col("type") == "P") & F.col("_bait_gene").isNotNull(),
                F.regexp_replace(F.col("_bait_gene"), ",", " "),
            ).otherwise(F.col("gene_names")),
        )
        .drop("_bait_gene")
    )


def annotate_alias_overlap(
    nodes: DataFrame, alias_db: DataFrame, organism: str = "homo_sapiens"
) -> DataFrame:
    """J4+A2: interval-overlap join of other-end nodes against the gene
    span table; collapse multi-overlaps into space-joined strings sorted
    by gene name (reference network_generator_lib.R:645-665 homo /
    :752-770 mus — R keeps overlap order; we pin an explicit sort,
    SURVEY §4 item 5). Adds ensembl_id / gene_type (+ alias / hgnc_id
    for homo, mgi_id for mus, whichever exist in ``alias_db``) — ""
    when no overlap (reference NA-cleanup :728-733).

    Organism divergences mirrored from the reference (SURVEY §2.4 A2):
    homo collapses (ensembl, name, alias, hgnc, gene_type) and keeps
    other-end gene names as-is, then ASCII-scrubs aliases
    (network_generator.R:112-115 — homo branch ONLY); mus collapses
    (ensembl, name, gene_type, mgi) — no alias column — and UPPERCASES
    other-end gene_names (str_to_upper at :777)."""
    from ..functions.strings import na_to_empty
    from ..operators.interval import interval_overlap_join

    mus = organism.lower().startswith("mus")
    wanted = ["ensembl_id", "gene_type"] + (
        ["mgi_id"] if mus else ["alias", "hgnc_id"]
    )
    extra_cols = [c for c in wanted if c in alias_db.columns]
    oes = nodes.filter(F.col("type") == "O").select("fragment", "chr", "start", "end")
    al = alias_db.select(
        F.col("chr"),
        F.col("start").alias("_as"),
        F.col("end").alias("_ae"),
        "gene_name",
        *extra_cols,
    )
    hits = interval_overlap_join(
        oes,
        al,
        on="chr",
        left_range=("start", "end"),
        right_range=("_as", "_ae"),
        broadcast_right=True,
    )
    collapse_cols = ["gene_name"] + extra_cols
    collapsed = hits.groupBy("fragment").agg(
        *[
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("gene_name").alias("g"), F.col(c).alias("v"))
                        )
                    ),
                    lambda s: F.coalesce(s["v"], F.lit("NA")),
                ),
                " ",
            ).alias(c)
            for c in collapse_cols
        ]
    )
    out = nodes.join(F.broadcast(collapsed), "fragment", "left")
    for c in collapse_cols:
        out = out.withColumn(c, na_to_empty(F.col(c)))
    if mus and "mgi_id" in extra_cols:
        # the reference strips the ``MGI:`` prefix in the OVERLAP arm too
        # (str_remove_all(...$mgi, fixed("MGI:")) right after the
        # gene_names upper-casing, network_generator_lib.R:777), not only
        # in the promoter name-join
        out = out.withColumn("mgi_id", F.regexp_replace(F.col("mgi_id"), "MGI:", ""))
    if not mus and "alias" in extra_cols:
        # non-ASCII alias tokens (PKCβ etc.) break the reference's JSON
        # writer; scrubbed for output parity — the reference applies
        # this to the HOMO branch only (network_generator_lib.R:886-899,
        # applied network_generator.R:112-115)
        from ..functions.strings import ascii_scrub

        out = out.withColumn("alias", ascii_scrub(F.col("alias")))
    # other-end gene_names come from the overlapping genes; the mus
    # branch uppercases them (str_to_upper, network_generator_lib.R:777)
    oe_names = F.upper(F.col("gene_name")) if mus else F.col("gene_name")
    return out.withColumn(
        "gene_names",
        F.when(
            (F.col("type") == "O") & (F.col("gene_name") != ""), oe_names
        ).otherwise(F.col("gene_names")),
    ).drop("gene_name")


def annotate_promoter_names(
    nodes: DataFrame, alias_db: DataFrame, organism: str = "homo_sapiens"
) -> DataFrame:
    """J11: enrich PROMOTER gene names via the alias DB by name (not by
    range): unnest the space-separated gene_names, left-join the alias
    table on upper-cased gene name, re-collapse per fragment keeping
    the original token order (reference network_generator_lib.R:694-717
    homo / :801-829 mus). Adds promoter ensembl_id/alias columns
    (suffixed _p to coexist with the range-join annotation).

    Organism divergences (SURVEY §2.4 A2): homo collapses
    (ensembl, alias) — here ensembl_id_p/alias_p; mus collapses
    (ensembl, mgi) — mgi_id_p with the ``MGI:`` prefix stripped
    (str_remove_all at :830) — and REWRITES promoter gene_names to
    sentence case (str_to_sentence at :822: 'HOXA6' → 'Hoxa6').

    Both branches curate bait tokens before the alias join (reference
    network_generator_lib.R:679-689 homo / :786-796 mus): upper-case,
    strip ``-\\d+\\b`` transcript suffixes (str_remove_all + str_trim),
    and dedup tokens per fragment keeping first-occurrence order
    (unique(str_split(...))); the mus sentence-case rebuild runs over
    the CURATED tokens."""
    from ..functions.strings import na_to_empty

    mus = organism.lower().startswith("mus")
    toks = nodes.filter(F.col("type") == "P").select(
        "fragment",
        F.posexplode(F.split(F.col("gene_names"), " ")).alias("_pos", "_tok"),
    ).filter(F.col("_tok") != "")
    # bait-token curation: '-\d+\b' suffix strip on the upper-cased token,
    # then per-fragment dedup keeping the first occurrence (min _pos per
    # curated token). Promoter-only data → tiny group-by, no scale cost.
    toks = toks.withColumn(
        "_ctok", F.upper(F.regexp_replace(F.col("_tok"), r"-\d+\b", ""))
    )
    toks = (
        toks.groupBy("fragment", "_ctok")
        .agg(F.min("_pos").alias("_pos"))
        .select("fragment", "_pos", "_ctok")
    )
    if mus:
        second = ("mgi_id", "_id2", "mgi_id_p")
    else:
        second = ("alias", "_id2", "alias_p")
    if second[0] not in alias_db.columns:
        id2 = F.lit(None).cast("string")
    elif mus:
        id2 = F.regexp_replace(F.col(second[0]), "MGI:", "")
    else:
        id2 = F.col(second[0])
    # one row per upper-cased name, pick pinned by (ensembl, id2) sort —
    # a bare dropDuplicates picks whichever partition arrives first, a
    # nondeterminism if an alias DB ever carries duplicate gene names
    # with different payloads (real DBs don't; the guard costs one
    # combinable min aggregate)
    al = (
        alias_db.select(
            F.upper(F.col("gene_name")).alias("_uname"),
            F.struct(
                F.col("ensembl_id").alias("_ens"), id2.alias("_id2")
            ).alias("_payload"),
        )
        .groupBy("_uname")
        .agg(F.min("_payload").alias("_payload"))
        .select("_uname", F.col("_payload._ens").alias("_ens"), F.col("_payload._id2").alias("_id2"))
    )
    joined = toks.join(F.broadcast(al), F.col("_ctok") == F.col("_uname"), "left")
    agg_exprs = [
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col(c).alias("v")))
                ),
                lambda s: F.coalesce(s["v"], F.lit("NA")),
            ),
            " ",
        ).alias(out)
        for c, out in [("_ens", "ensembl_id_p"), ("_id2", second[2])]
    ]
    if mus:
        # mus rebuilds promoter gene_names sentence-cased over the
        # CURATED tokens. DELIBERATE DIVERGENCE, not reference parity:
        # generate_alias_mus COMPUTES str_to_sentence(all_bait_names)
        # in its collapsed tibble (network_generator_lib.R:819-822) but
        # then assigns only mgi/ensembl/gene_type back to the vertex
        # table (R:833-835) — the sentence-cased column is apparent
        # dead code there. We write it back on purpose so mus promoter
        # display names actually carry the curation (suffix-stripped,
        # deduped, sentence-cased) the reference computes and drops;
        # pinned as OUR contract by the organism goldens.
        agg_exprs.append(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("_pos"), F.col("_ctok").alias("v"))
                        )
                    ),
                    lambda s: F.initcap(F.lower(s["v"])),
                ),
                " ",
            ).alias("_gn_sentence")
        )
    collapsed = joined.groupBy("fragment").agg(*agg_exprs)
    out = nodes.join(F.broadcast(collapsed), "fragment", "left")
    for c in ["ensembl_id_p", second[2]]:
        out = out.withColumn(c, na_to_empty(F.col(c)))
    if mus:
        out = out.withColumn(
            "gene_names",
            F.when(
                (F.col("type") == "P") & F.col("_gn_sentence").isNotNull(),
                F.col("_gn_sentence"),
            ).otherwise(F.col("gene_names")),
        ).drop("_gn_sentence")
    return out


def annotate_intronic(nodes: DataFrame, intronic: DataFrame) -> DataFrame:
    """J5: boolean intronic_regions flag, true only for other-end nodes
    overlapping an intronic interval (reference
    network_generator_lib.R:853-862)."""
    from ..operators.interval import overlap_flag

    flagged = overlap_flag(nodes, intronic, flag_name="intronic_regions")
    return flagged.withColumn(
        "intronic_regions", F.col("intronic_regions") & (F.col("type") == "O")
    )


def annotate_features_on_nodes(nodes: DataFrame, features_long: DataFrame) -> DataFrame:
    """J1/J2: left-join a features_on_nodes table (long form
    (fragment, feature, value)) onto nodes as wide columns. Falls back
    to the degenerate ``chr_start`` key when full keys don't match
    (reference network_generator_lib.R:369-378)."""
    def _two_part(col):
        p = F.split(col, "_")
        return F.concat_ws("_", p.getItem(0), p.getItem(1))

    wide = features_long.groupBy("fragment").pivot("feature").agg(F.first("value"))
    feat_cols = [c for c in wide.columns if c != "fragment"]
    joined = nodes.join(wide, "fragment", "left")
    any_hit = not joined.filter(
        F.coalesce(*[F.col(c) for c in feat_cols]).isNotNull()
    ).limit(1).isEmpty() if feat_cols else False
    if feat_cols and not any_hit:
        # degenerate ``chr_start`` feature key (reference
        # network_generator_lib.R:372-378): derive the 2-part key on
        # both sides and re-join
        wide2 = (
            features_long.withColumn("_k2", _two_part(F.col("fragment")))
            .groupBy("_k2")
            .pivot("feature")
            .agg(F.first("value"))
        )
        joined = (
            nodes.withColumn("_k2", _two_part(F.col("fragment")))
            .join(wide2, "_k2", "left")
            .drop("_k2")
        )
    return joined


def annotate_nodes(
    nodes: DataFrame,
    alias_db: DataFrame | None = None,
    bait_names: DataFrame | None = None,
    intronic: DataFrame | None = None,
    features_long: DataFrame | None = None,
    organism: str = "homo_sapiens",
) -> DataFrame:
    """Composition of the annotation joins in reference order
    (network_generator.R:98-134). ``organism`` selects the homo/mus
    alias-annotation divergences (SURVEY §2.4 A2; the reference
    dispatches generate_alias_homo vs generate_alias_mus on the input
    filename prefix, network_generator.R:106-115)."""
    out = nodes
    if bait_names is not None:
        out = annotate_bait_names(out, bait_names)
    if alias_db is not None:
        out = annotate_alias_overlap(out, alias_db, organism=organism)
    if intronic is not None:
        out = annotate_intronic(out, intronic)
    if features_long is not None:
        out = annotate_features_on_nodes(out, features_long)
    return out


# --- artifacts ----------------------------------------------------------


def suggestions(nodes: DataFrame) -> DataFrame:
    """Sorted distinct gene-name tokens (reference
    network_generator_lib.R:397-405; SURVEY A9/W4)."""
    return (
        nodes.select(F.explode(F.split(F.col("gene_names"), " ")).alias("suggestion"))
        .filter(F.col("suggestion") != "")
        .distinct()
        .orderBy("suggestion")
    )


def chromosome_list(nodes: DataFrame) -> list[str]:
    """Natural-sorted chromosome list, MT excluded (reference
    network_generator.R:238-244; SURVEY W3/F4)."""
    rows = (
        nodes.filter(~F.col("chr").contains("MT"))
        .select("chr")
        .distinct()
        .orderBy(natural_chr_key(F.col("chr")))
        .collect()
    )
    return [r["chr"] for r in rows]


def network_metadata(nodes: DataFrame, edges: DataFrame) -> dict:
    """G14 bundle for the built network."""
    from ..operators.graph import graph_metadata

    return graph_metadata(nodes, edges)


def assign_grid_positions(nodes: DataFrame) -> DataFrame:
    """Deterministic, layout-free node coordinates → nodes + ``x``/``y``
    (closing the reference's layout-enrichment gap with zero external
    dependencies).

    The reference pipes the Cytoscape JSON through a headless Cytoscape
    running a RANDOMIZED cose force layout (layout_enricher/index.js,
    ``randomize: true``; pipeline.sh:118) — non-reproducible by design
    and served from a separate Node process. An engine artifact must be
    reproducible, so coordinates derive from the data instead:

      x = 30 + genomic midpoint on a 1,000-bp grid
      y = 30 + natural-chromosome row · 200
          + a stable per-fragment stagger (xxhash64 % 160)

    i.e. a karyotype-style ribbon per chromosome, positions stable
    across runs and partitionings. Integer columns only, so the emitted
    JSON can never contain scientific notation and node positions are
    never (0, 0) — the two contracts of the reference's
    chromosomes_positions_checker.sh:10-23. The chromosome→row map is
    bounded by the chromosome count (~25), same driver-sized-metadata
    discipline as ``chromosome_list``.
    """
    chrs = [
        r["chr"]
        for r in nodes.select("chr")
        .distinct()
        .orderBy(natural_chr_key(F.col("chr")))
        .collect()
    ]
    if chrs:
        row_map = F.create_map(
            *[F.lit(v) for c, i in ((c, i) for i, c in enumerate(chrs)) for v in (c, i)]
        )
        row_idx = F.coalesce(F.element_at(row_map, F.col("chr")), F.lit(0))
    else:
        row_idx = F.lit(0)
    mid = ((F.col("start") + F.col("end")) / 2).cast("long")
    return nodes.withColumn(
        "x", (F.lit(30) + (mid / 1000).cast("long")).cast("long")
    ).withColumn(
        "y",
        (
            F.lit(30)
            + row_idx.cast("long") * 200
            + F.pmod(F.xxhash64(F.col("fragment")), F.lit(160))
        ).cast("long"),
    )


def _element_rows(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """``(element, _ord, _key)`` rows, unordered: the element JSON, 0
    for a node and 1 for an edge, and the node or edge id."""
    n = nodes
    if "searched" not in n.columns:
        n = n.withColumn("searched", F.lit("false"))
    has_pos = "x" in n.columns and "y" in n.columns
    fixed = {"fragment", "gene_names", "chr", "start", "end", "x", "y", "searched"}
    extra = [c for c in n.columns if c not in fixed] + ["searched"]
    node_struct = F.struct(
        F.col("fragment").alias("id"),
        F.col("gene_names").alias("names"),
        F.col("chr"),
        F.col("start"),
        F.col("end"),
        *[F.col(c) for c in extra],
    )
    # position block (assign_grid_positions) rides beside data, exactly
    # where the reference's layout enricher writes it
    node_parts = [node_struct.alias("data"), F.lit("nodes").alias("group")]
    if has_pos:
        node_parts.append(F.struct(F.col("x"), F.col("y")).alias("position"))
    node_json = n.select(
        F.to_json(F.struct(*node_parts)).alias("element"),
        F.lit(0).alias("_ord"),
        F.col("fragment").alias("_key"),
    )
    edge_struct = F.struct(
        F.concat_ws("~", F.col("src"), F.col("dst")).alias("id"),
        F.col("src").alias("source"),
        F.col("dst").alias("target"),
        F.col("type"),
    )
    edge_json = edges.select(
        F.to_json(
            F.struct(edge_struct.alias("data"), F.lit("edges").alias("group"))
        ).alias("element"),
        F.lit(1).alias("_ord"),
        F.concat_ws("~", F.col("src"), F.col("dst")).alias("_key"),
    )
    return node_json.unionByName(edge_json)


def cytoscape_elements(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Cytoscape.js elements as one JSON string per row (reference
    generate_cytoscape_json, network_generator_lib.R:242-275; SURVEY S10),
    nodes before edges, each block in id order.

    Output contracts preserved: ``name→id``, ``gene_names→names``, edge
    id = ``src~dst``, ``searched`` is the STRING "true"/"false"
    (reference network_generator_lib.R:87-88), numbers typed (the
    reference needs a sed to unquote, backend.py:83-85 — we emit typed
    JSON directly), never scientific notation (LongType start/end).
    Distributed: ``df.write.text`` streams it; small graphs collect.

    ``searched`` is the nodes' own column when they carry one (a
    ``search_subnetwork`` result), else "false"; it is always the last
    data field.
    """
    return _element_rows(nodes, edges).orderBy("_ord", "_key").select("element")


def to_cytoscape_json(nodes: DataFrame, edges: DataFrame) -> str:
    """Collected form for interactive (small) subnetworks; "{}" when the
    network is empty (reference empty-result sentinel,
    network_generator.R:88-92; SURVEY S13). The elements are collected
    through Arrow and put in ``cytoscape_elements``' order on the
    driver, so the sort needs no shuffle: Arrow compares strings by
    their UTF-8 bytes, as Spark does, and puts a null id first."""
    t = _element_rows(nodes, edges).toArrow()
    if not t.num_rows:
        return "{}"
    elems = t.sort_by(
        [("_ord", "ascending"), ("_key", "ascending"), ("element", "ascending")],
        null_placement="at_start",
    ).column("element")
    return '{"elements": [' + ",".join(elems.to_pylist()) + "]}"
