"""Interactive search layer (reference search_subnetwork,
network_generator_lib.R:212-231; SURVEY.md §2.7 Q1-Q7).

Dispatch by regex on the search string, exactly as the reference:

  Q1  range      ``chr:start[-end]``      → overlap filter (±expand) or
                                            nearest fallback
  Q2  fragment   ``chr_start_end``        → exact vertex lookup
  Q3  gene name  anything else            → word-boundary match against
                                            gene_names + alias
  Q4  ensembl id ``ENS[MUS]G…``           → translate via ensembl2name,
                                            then Q3
  Q5  multi-term split on ``[, \\t]``     → union of Q3/Q4 results

Result shape follows the reference's union-of-graphs semantics
(search_vertex_by_names: make_ego_graph per matched vertex +
union_graphs_with_attributes, network_generator_lib.R:86-129): for
name-matched seeds the edge set is the UNION OF PER-SEED EGO GRAPHS —
an edge qualifies only when one seed's ego set contains both endpoints
— while range searches take the induced subgraph over the union of the
matched fragments' ego node sets (the reference's induced-on-union is
range-only). Matched nodes are flagged ``searched`` (serialized as the
string "true"/"false" — reference network_generator_lib.R:87-88) and
per-subnetwork degree is recomputed (Q7, reference :223-226).

A search miss is resolved on the driver. The subnetwork is small (a
few to a few thousand nodes) and the caller collects it anyway, so
``search_subnetwork`` runs three small collects instead of a pipeline
of shuffles whose fixed per-stage cost would set the latency:

  1. the seeds ``(fragment, kind)`` (``resolve_search_seeds``);
  2. the edges incident to the seeds, from which the driver builds
     each seed's ego set ``{s} ∪ N(s)`` and their union, the hood;
  3. the edges with both endpoints in the hood, to which the driver
     applies the two edge rules and from which it counts the degrees.

Each set of values goes back to the JVM as one Arrow-backed local
relation (``session.local_frame``), broadcast into a semi-join, and the
two edge collects come back through Arrow. The driver's answer is one
local relation over the hood: per node
its ``searched`` flag, its degree, the name seeds whose ego set holds
it and whether a range seed's does. ``sub_nodes`` is ``nodes`` joined
to it, ``sub_edges`` the edges whose two endpoints it admits under the
same two rules; all joins are broadcast, so neither frame needs an
Exchange. The driver holds at most the hood's edges: the ego edges the
answer carries plus the edges between neighbours of different seeds.

A gene query probes the inverted token index (``build_token_index``,
materialized bucketed by ``plans/materialize``) with an equi-join
instead of the reference's per-query regex scan of every vertex
(network_generator_lib.R:90-129); the full-table regex scan survives
only as the fallback for search terms that contain non-word characters
(un-tokenizable, rare). Tokens are split on non-word characters, so
token equality is exactly the reference's ``\\bterm\\b`` word-boundary
match for word-only terms.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.graph import symmetrize
from ..operators.interval import range_query
from ..session import job_description, local_frame

_RANGE_RE = re.compile(r"^(([12]?[0-9])|([XYxy])):(\d+)(-(\d+))?$")
_FRAGMENT_RE = re.compile(r"^(([12]?[0-9])|([XYxy]))_\d+_\d+$", re.IGNORECASE)
_ENSEMBL_RE = re.compile(r"^ens(mus)?g\d+", re.IGNORECASE)
# a term made only of word characters can be answered from the token
# index: token equality ≡ \bterm\b (word boundaries fall exactly at
# non-word characters, which are the token delimiters)
_WORD_TERM_RE = re.compile(r"^[a-z0-9_]+$")
_NONWORD_SPLIT = r"[^a-z0-9_]+"


def _name_blob(nodes: DataFrame, alias_col: str | None = "alias"):
    cols = [F.col("gene_names")]
    if alias_col and alias_col in nodes.columns:
        cols.append(F.col(alias_col))
    return F.lower(F.concat_ws(" ", *cols))


def build_token_index(nodes: DataFrame, alias_col: str | None = "alias") -> DataFrame:
    """Inverted index (token_lower → fragment) over gene_names + alias —
    the scalable replacement for the reference's per-query regex scan of
    every vertex (network_generator_lib.R:90-129): a gene query becomes
    an equi-join instead of a full scan. Tokens split on non-word
    characters so an index probe is exactly the reference's
    word-boundary regex for word-only terms."""
    return (
        nodes.select(
            F.col("fragment"),
            F.explode(F.split(_name_blob(nodes, alias_col), _NONWORD_SPLIT)).alias(
                "token"
            ),
        )
        .filter(F.col("token") != "")
        .distinct()
    )


def _gene_seeds(
    nodes: DataFrame,
    term: str,
    alias_col: str = "alias",
    token_index: DataFrame | None = None,
) -> DataFrame:
    """Q3: case-insensitive word-boundary match of the term against
    gene_names (+ alias when present) — reference regex(\\bterm\\b)
    at network_generator_lib.R:112. Probes the token index when one is
    supplied and the term is word-only (equi-join, no scan); otherwise
    falls back to the full regex scan the reference performs."""
    t = term.lower()
    if token_index is not None and _WORD_TERM_RE.match(t):
        return token_index.filter(F.col("token") == t).select("fragment")
    blob = _name_blob(nodes, alias_col)
    pat = r"\b" + re.escape(t) + r"\b"
    return nodes.filter(blob.rlike(pat)).select("fragment")


def _ensembl_seeds(
    nodes: DataFrame,
    term: str,
    ensembl2name: DataFrame,
    alias_col: str = "alias",
    token_index: DataFrame | None = None,
) -> DataFrame:
    """Q4: ensembl id → gene name(s) via ensembl2name, then Q3
    (reference network_generator_lib.R:95-99) — as ONE join plan
    (ensembl2name ⋈ token_index), no driver round-trip: the matching
    names are lowered and equi-joined against the token index. Gene
    symbols are single tokens, for which the probe is exactly the
    reference's \\bname\\b regex; a multi-token name (non-word chars
    inside) is confirmed by a space-normalized containment check on the
    index candidates only."""
    if token_index is None:
        token_index = build_token_index(nodes, alias_col)
    names = (
        ensembl2name.filter(F.lower(F.col("ensembl_id")) == term.lower())
        .select(
            F.trim(
                F.regexp_replace(F.lower(F.col("gene_name")), _NONWORD_SPLIT, " ")
            ).alias("name")
        )
        .filter(F.col("name") != "")
        .distinct()
    )
    ntok = names.select(
        "name", F.explode(F.split("name", " ")).alias("token")
    ).distinct()
    need = ntok.groupBy("name").agg(F.count("*").alias("need"))
    # candidates: fragments containing ALL tokens of a name
    cand = (
        token_index.join(F.broadcast(ntok), "token")
        .groupBy("fragment", "name")
        .agg(F.count("*").alias("got"))
        .join(F.broadcast(need), "name")
        .filter(F.col("got") == F.col("need"))
    )
    # adjacency confirm for multi-token names, on candidates only:
    # normalize the blob's delimiters to single spaces, then the
    # word-boundary match is plain containment of ' name '
    norm = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(_name_blob(nodes, alias_col), _NONWORD_SPLIT, " ")),
        F.lit(" "),
    )
    confirmed = (
        cand.join(nodes.select("fragment", norm.alias("nblob")), "fragment")
        .filter(
            F.instr(F.col("nblob"), F.concat(F.lit(" "), F.col("name"), F.lit(" ")))
            > 0
        )
        .select("fragment")
        .distinct()
    )
    return confirmed


def _range_seeds(
    nodes: DataFrame, term: str, expand: int, nearest: bool
) -> DataFrame:
    m = _RANGE_RE.match(term)
    chrom = m.group(1).upper()
    qstart = int(m.group(4))
    qend = int(m.group(6)) if m.group(6) else qstart
    hits = range_query(nodes, chrom, qstart, qend, expand=expand).select("fragment")
    # nearest/fallback candidate: single closest fragment (reference
    # network_generator_lib.R:177-193). ONE query point needs no as-of
    # machinery: a chromosome-pruned filter + one combinable
    # min(struct) aggregate — same winner and the same
    # (distance, start, end, id) tie-break as the generic
    # nearest_interval_join kernel (q20/J7), at a fraction of the
    # stages (the union-sort kernel cost ~2.8s of the q69 gate for a
    # 1-row query; this is one scan). This is also the serving shape:
    # an interactive query touches one chromosome partition, not a
    # global union-sort.
    qs2, qe2 = qstart - expand, qend + expand
    dist = F.greatest(
        F.col("start") - F.lit(qe2), F.lit(qs2) - F.col("end"), F.lit(0)
    )
    best = (
        nodes.filter(F.col("chr") == chrom)
        .agg(
            F.min(
                F.struct(
                    dist.alias("_d"),
                    F.col("start").alias("_s"),
                    F.col("end").alias("_e"),
                    F.col("fragment").alias("_f"),
                )
            ).alias("_b")
        )
        .filter(F.col("_b").isNotNull())
        .select(F.col("_b._f").alias("fragment"))
    )
    if nearest:
        return best
    # "hits if any, else nearest" folded into ONE lazy plan (the r6
    # verdict flagged the previous hits.limit(1).isEmpty() here — an
    # eager driver action PER RANGE TERM on the interactive path):
    # the fallback row is gated by an EMPTY-MARKER semi-join — a 1-row
    # "hits came up empty" aggregate broadcast against the fallback
    # side, with the union OUTSIDE the join. The earlier shape
    # (min-priority semi-join ABOVE a union of both branches) never
    # reached an optimizer fixpoint: semi-join-through-union pushdown
    # and filter inference ping-pong, so every range term hit the
    # maxIterations=100 wall and led the bench tail with a WARN
    # (review r10; same cosmetic class as r9's WindowExec finding).
    # Join keys are non-foldable empty strings (the q14/q45 constant
    # trick) so the equality cannot fold to TRUE and degrade the
    # BroadcastHashJoin into a BroadcastNestedLoopJoin. The fallback
    # aggregate still always runs — one chromosome-pruned combinable
    # min, cheaper than the driver-synchronized job it replaced.
    marker = (
        hits.agg(F.count("*").alias("_n"))
        .filter(F.col("_n") == 0)
        .select(F.substring(F.col("_n").cast("string"), 1, 0).alias("_j"))
    )
    fallback = (
        best.withColumn("_j", F.substring(F.col("fragment"), 1, 0))
        .join(F.broadcast(marker), "_j", "left_semi")
        .select("fragment")
    )
    return hits.unionByName(fallback)


def pin_serving_adjacency(
    edges: DataFrame, partitions: int | None = None
) -> DataFrame:
    """Serving-side adjacency index: the symmetrized ``(src, dst)`` edge
    list range-partitioned and sorted by src, persisted and materialized
    once at ingest (next to the bucketed node/token tables). Pass it to
    ``search_subnetwork`` as ``pinned_sym``: a miss then reads its seed
    adjacency from this one cached frame instead of scanning ``edges``
    twice to symmetrize it — the one pin rule left. The serving drill
    (``tools/serving_drill.py``: GENE12/7/23, min of three; 4 cores,
    15.7 GB) measured pinned vs ``pin_policy="off"``: warm search 1.38
    vs 1.70 s and serve miss 1.64 vs 1.49 s at 1× (233k edges); 1.67 vs
    1.68 s and 2.05 vs 2.39 s at 10× with a fixed answer; 7.45 vs 9.50 s
    and 9.96 vs 9.63 s at 10× with a 10× answer."""
    spark = edges.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    sym = (
        symmetrize(edges.select("src", "dst"))
        .repartitionByRange(partitions, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    sym.count()
    return sym


def _classify_terms(
    search: str, ensembl2name: DataFrame | None
) -> list[tuple[str, str]]:
    """Split the search string and classify every term into its dispatch
    arm ('range' | 'fragment' | 'ensembl' | 'gene') — the ONE place the
    reference's regex dispatch (network_generator_lib.R:78-231) is
    encoded. Both resolve_search_seeds (arm construction) and
    search_subnetwork (whether the edge set is a set or, for a
    range-only search, a multiset) derive from this list, so
    a future arm kind or regex change cannot make the two paths diverge
    (ADVICE r5)."""
    terms = [t for t in re.split(r"[,\s\t]+", search.strip()) if t]
    out: list[tuple[str, str]] = []
    for term in terms:
        if _RANGE_RE.match(term):
            out.append((term, "range"))
        elif _FRAGMENT_RE.match(term):
            out.append((term, "fragment"))
        elif _ENSEMBL_RE.match(term) and ensembl2name is not None:
            out.append((term, "ensembl"))
        else:
            out.append((term, "gene"))
    return out


def resolve_search_seeds(
    nodes: DataFrame,
    search: str,
    ensembl2name: DataFrame | None = None,
    expand: int = 0,
    nearest: bool = False,
    token_index: DataFrame | None = None,
) -> DataFrame:
    """The dispatch step alone: search string → tagged seed fragments
    ``(fragment, kind)`` with kind 'range' (Q1) or 'name' (Q2/Q3/Q4 —
    downstream they share the union-of-per-seed-ego semantics while
    range seeds take induced-on-union). Multi-term strings split on
    ``[, \\t]`` and union per term (Q5, reference
    network_generator_lib.R:218). This is the surface the q69 gate
    verifies arm-by-arm against a SQL replica of the reference's regex
    dispatch (network_generator_lib.R:78-231)."""
    return _seed_terms(
        nodes, search, ensembl2name, expand, nearest, token_index
    ).distinct()


def _seed_terms(
    nodes: DataFrame,
    search: str,
    ensembl2name: DataFrame | None,
    expand: int,
    nearest: bool,
    token_index: DataFrame | None,
) -> DataFrame:
    """``resolve_search_seeds`` before its distinct: the per-term seed
    frames unioned, a row per (term, seed)."""
    frames: list[DataFrame] = []
    for term, arm in _classify_terms(search, ensembl2name):
        if arm == "range":
            frames.append(
                _range_seeds(nodes, term, expand, nearest).withColumn(
                    "kind", F.lit("range")
                )
            )
        elif arm == "fragment":
            frames.append(
                nodes.filter(F.col("fragment") == term.upper())
                .select("fragment")
                .withColumn("kind", F.lit("name"))
            )
        elif arm == "ensembl":
            frames.append(
                _ensembl_seeds(
                    nodes, term, ensembl2name, token_index=token_index
                ).withColumn("kind", F.lit("name"))
            )
        else:
            frames.append(
                _gene_seeds(nodes, term, token_index=token_index).withColumn(
                    "kind", F.lit("name")
                )
            )
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    return out


def _semi(frame: DataFrame, col: str, values: set[str]) -> DataFrame:
    """Rows of ``frame`` whose string column ``col`` holds one of
    ``values``: a broadcast semi-join against one local frame
    (``isin(*values)`` would cost one py4j call per value)."""
    lit = local_frame(
        frame.sparkSession, [(v,) for v in sorted(values)], "v string"
    )
    return frame.join(F.broadcast(lit.toDF(col)), col, "left_semi").select(
        *frame.columns
    )


def _columns(df: DataFrame) -> list[list]:
    """``df`` collected through Arrow as one Python list per column: no
    Row object per row, which is most of a large collect's cost."""
    t = df.toArrow()
    return [t.column(c).to_pylist() for c in t.column_names]


#: the driver's per-hood-node answer: the node's flag and degree, the
#: indices of the name seeds whose ego set holds it, and whether a range
#: seed's ego set holds it
_HOOD_FIELDS = (
    "fragment string, searched string, degree bigint, owners array<int>, "
    "in_range boolean"
)


def search_subnetwork(
    nodes: DataFrame,
    edges: DataFrame,
    search: str,
    ensembl2name: DataFrame | None = None,
    expand: int = 0,
    nearest: bool = False,
    token_index: DataFrame | None = None,
    pinned_sym: DataFrame | None = None,
    pin_policy: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Dispatch → seeds → union of per-seed ego graphs (name terms) /
    induced-on-union (range terms) → per-subnet degree, resolved on the
    driver from three small collects (module docstring). Returns
    (sub_nodes with ``searched`` string flag and recomputed ``degree``,
    sub_edges). Empty seeds → empty frames (the "{}" sentinel belongs
    to the serialization layer). Pass ``token_index`` (materialized by
    plans/materialize) to answer gene queries with an index probe
    instead of a full-table regex scan, and ``pinned_sym``
    (``pin_serving_adjacency``) to read the seed adjacency from the
    cached symmetrized edges; ``pin_policy="off"`` ignores the pin.
    Both adjacency sources give the same rows."""
    if pin_policy not in ("auto", "off"):
        raise ValueError(f"unknown pin_policy: {pin_policy!r}")
    spark = nodes.sparkSession
    e = edges.select("src", "dst", "type")
    # resolve_search_seeds' rows, deduplicated here: one job, no shuffle
    with job_description(spark, "search/seeds"):
        rows = _seed_terms(
            nodes, search, ensembl2name, expand, nearest, token_index
        ).collect()
    tagged = list(dict.fromkeys((r["fragment"], r["kind"]) for r in rows))
    seeds = {fragment for fragment, _kind in tagged}
    # ego[s] = {s} ∪ N(s), from the seeds' incident edges
    ego = {s: {s} for s in seeds}
    if seeds:
        sym = symmetrize(e)
        if pinned_sym is not None and pin_policy == "auto":
            sym = pinned_sym
        with job_description(spark, "search/adjacency"):
            adj = _columns(_semi(sym.select("src", "dst"), "src", seeds))
        for s, x in zip(*adj):
            ego[s].add(x)
    hood = set().union(*ego.values())
    hood_edges: list[tuple] = []
    if hood:
        with job_description(spark, "search/hood_edges"):
            hood_edges = list(
                zip(*_columns(_semi(_semi(e, "src", hood), "dst", hood)))
            )
    # name seeds: an edge qualifies when ONE seed's ego set holds both
    # endpoints (owners[x] = the name seeds whose ego holds x); range
    # seeds: induced on the union of their ego sets
    owners: dict[str, set] = {}
    rhood: set = set()
    for i, (fragment, kind) in enumerate(tagged):
        if kind == "name":
            for x in ego[fragment]:
                owners.setdefault(x, set()).add(i)
        else:
            rhood |= ego[fragment]
    empty = frozenset()
    keep = [
        r
        for r in hood_edges
        if (r[0] in rhood and r[1] in rhood)
        or not owners.get(r[0], empty).isdisjoint(owners.get(r[1], empty))
    ]
    # the per-seed ego union is a set; the induced subgraph of a
    # range-only search keeps edge multiplicity
    arms = {arm for _t, arm in _classify_terms(search, ensembl2name)}
    distinct = arms != {"range"} and len(set(keep)) < len(keep)
    if distinct:
        keep = list(dict.fromkeys(keep))
    degree = Counter(x for r in keep for x in r[:2])
    hood_rel = local_frame(
        spark,
        [
            (
                x,
                "true" if x in seeds else "false",
                degree[x],
                sorted(owners.get(x, empty)),
                x in rhood,
            )
            for x in sorted(hood)
        ],
        _HOOD_FIELDS,
    )
    sub_nodes = nodes.drop("degree").join(
        F.broadcast(hood_rel.select("fragment", "searched", "degree")), "fragment"
    )
    # the kept edges, re-selected from ``edges`` by the same two rules
    # over the broadcast hood relation: no edge literal, no Exchange
    u, v = (
        F.broadcast(
            hood_rel.select(
                F.col("fragment").alias(c),
                F.col("owners").alias(f"_o_{c}"),
                F.col("in_range").alias(f"_r_{c}"),
            )
        )
        for c in ("src", "dst")
    )
    sub_edges = (
        e.join(u, "src")
        .join(v, "dst")
        .filter(
            (F.col("_r_src") & F.col("_r_dst"))
            | F.arrays_overlap("_o_src", "_o_dst")
        )
        .select(*e.columns)
    )
    if distinct:
        sub_edges = sub_edges.distinct()
    return sub_nodes, sub_edges
