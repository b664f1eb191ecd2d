"""ChAS — chromatin assortativity — and the distance-matched edge
randomization null model (SURVEY.md §2.6 G11/G12).

ChAS(feature) is the Pearson correlation of node feature values across
edge endpoints, over the **symmetrized** edge list (each undirected
edge contributes both (u,v) and (v,u) — that makes the correlation the
classic Newman assortativity of a node attribute; published definition:
Pancaldi et al., Genome Biology 2016, as implemented by the chaser
package; reference call sites network_generator_lib.R:535,541).

Implementation: two broadcast-or-shuffle joins of the edge list to the
long-form feature table + one groupBy with exact moment sums
(functions/exact.py), folded from one direction of each edge —
order-independent, oracle-checkable with a SQL corr(). The one kernel,
``_folded_chas``, groups by ``feature`` for :func:`chas` and by
``(run, feature)`` for the random-ChAs interval of the upload metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import _DEC, davg  # decimal-exact moment sums

#: log-distance buckets per decade of a distance stratum
_BINS_PER_DECADE = 4


def _folded_chas(
    edges: DataFrame, features: DataFrame, keys: list[str], broadcast: bool
) -> DataFrame:
    """``(*keys, chas)``: the ChAs of every ``keys`` group of ``edges``
    (``src``, ``dst`` and the group columns other than ``feature``),
    from ONE direction of each edge. ``broadcast`` broadcasts both
    feature lookups (see :func:`chas`)."""
    # Round 13 (guide §2.3 — halve the joined stream): the corr runs
    # over the SYMMETRIZED edge list, but every moment sum over sym is
    # exactly recoverable from ONE direction — for each edge (a, b),
    # sym holds (a, b) and (b, a), so Σ_sym x = Σ_E x + Σ_E y,
    # Σ_sym x² = Σ_E x² + Σ_E y², Σ_sym xy = 2·Σ_E xy, n_sym = 2·n_E,
    # and Σ_sym x = Σ_sym y. The sums are decimal(38,8) — EXACT
    # arithmetic, so the folded decimals equal the sym-stream decimals
    # bit for bit, and the final double combination below is the same
    # op sequence :func:`exact_corr` applies (sx and sy are equal
    # doubles, so sx·sy ≡ sx·sx). Null semantics match too: a moment
    # is null iff no row has both endpoints' values non-null — a
    # symmetric condition. Joins and aggregation now touch |E| rows
    # instead of 2|E|.
    f_src = features.select(
        F.col("fragment").alias("src"), "feature", F.col("value").alias("x")
    )
    f_dst = features.select(
        F.col("fragment").alias("dst"), "feature", F.col("value").alias("y")
    )
    if broadcast:
        f_src, f_dst = F.broadcast(f_src), F.broadcast(f_dst)
    x, y = F.col("x"), F.col("y")
    paired = edges.join(f_src, "src").join(f_dst, ["dst", "feature"])
    agg = paired.groupBy(*keys).agg(
        F.count(F.when(x.isNotNull() & y.isNotNull(), 1)).alias("_n"),
        F.sum(F.when(y.isNotNull(), x).cast(_DEC)).alias("_sx"),
        F.sum(F.when(x.isNotNull(), y).cast(_DEC)).alias("_sy"),
        F.sum(F.when(y.isNotNull(), x * x).cast(_DEC)).alias("_sxx"),
        F.sum(F.when(x.isNotNull(), y * y).cast(_DEC)).alias("_syy"),
        F.sum((x * y).cast(_DEC)).alias("_sxy"),
    )
    # the half-sums are added as decimal(30,8): (38,8)+(38,8) would
    # overflow precision 38 and Spark's allowPrecisionLoss then DROPS
    # the 8th decimal (scale 7) — measured as a 1e-12 corr divergence;
    # (30,8)+(30,8) → (31,8), exact, with the same ≪1e22 magnitude
    # contract the decimal sums already carry
    _half = "decimal(30,8)"

    def fold2(a, b):
        return (F.col(a).cast(_half) + F.col(b).cast(_half)).cast("double")

    n = (F.col("_n") * 2).cast("double")
    sx = fold2("_sx", "_sy")
    sxx = fold2("_sxx", "_syy")
    # decimal ADDITION (scale-preserving, exact) rather than ×2 — the
    # doubled sum equals the sym-stream decimal exactly
    sxy = fold2("_sxy", "_sxy")
    num = n * sxy - sx * sx
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * sxx - sx * sx)
    # a feature with no variance has den == 0: its ChAs is null (R's
    # cor gives NA), where ANSI division would fail the whole job
    return agg.select(*keys, F.try_divide(num, den).alias("chas"))


def chas(
    edges: DataFrame, features: DataFrame, broadcast_features: bool = False
) -> DataFrame:
    """Per-feature assortativity → (feature, chas).

    ``edges`` holds ``(src, dst)``; ``features`` is long-form
    ``(fragment, feature, value)`` — the dense output of
    ``overlap_aggregate`` plugs in directly.

    ``broadcast_features=True`` broadcasts BOTH feature lookups: the
    edge stream then never shuffles — two map-side hash joins + a
    partial-agg-per-feature, zero wide exchanges. Right whenever the
    feature grid is network-sized (the serving/metadata paths: ~10⁶
    nodes × ~10² features tops). The default leaves the strategy to
    Catalyst/AQE for pipeline-scale feature tables that outgrow a
    broadcast — there the shuffle-on-key SortMergeJoin IS the correct
    100 TB plan. (Without the hint, checkpointed inputs carry no stats
    and Spark has been observed broadcasting the EDGE side — 466k rows
    — then shuffling the edge×feature intermediate, ~3.5s of the q66
    gate; the hint turns that into <1s with no shuffle.)"""
    return _folded_chas(
        edges.select("src", "dst"), features, ["feature"], broadcast_features
    )


def feature_abundance(
    features: DataFrame, value_col: str = "value", decimals: int = 6
) -> DataFrame:
    """Mean feature value over all nodes (reference merge_features.R
    'Abundance'; SURVEY A5) → (feature, abundance)."""
    return features.groupBy("feature").agg(
        F.round(davg(F.col(value_col)), decimals).alias("abundance")
    )


def feature_mean_degree(
    features: DataFrame, degrees_df: DataFrame, decimals: int = 6
) -> DataFrame:
    """Mean degree of feature-positive (value != 0) nodes (reference
    merge_features.R mean-degree metric; network_generator_lib.R:559-566)
    → (feature, mean_degree). One pass over the long form."""
    pos = features.filter(F.col("value") != 0)
    joined = pos.join(
        degrees_df.select(F.col("node").alias("fragment"), "degree"), "fragment"
    )
    return joined.groupBy("feature").agg(
        F.round(davg(F.col("degree").cast("double")), decimals).alias("mean_degree")
    )


def edge_strata(
    edges: DataFrame, nodes: DataFrame, dist_match: bool = True
) -> DataFrame:
    """(src, dst, stratum): each edge's genomic-distance stratum —
    interchromosomal → -1, else the log-bucket of |src.start − dst.start|
    (``_BINS_PER_DECADE`` buckets per decade); ``dist_match=False``
    → one global stratum 0. Shared by the randomizer (permutation
    domain) and the q70 property gate (pre/post histogram comparison —
    same expression on both sides by construction)."""
    pos = nodes.select(
        F.col("fragment").alias("_nk"),
        F.col("chr").alias("_chr"),
        F.col("start").alias("_start"),
    )
    e = (
        edges.select("src", "dst")
        .join(pos.withColumnRenamed("_nk", "src"), "src")
        .withColumnRenamed("_chr", "_schr")
        .withColumnRenamed("_start", "_sstart")
        .join(pos.withColumnRenamed("_nk", "dst"), "dst")
        .withColumnRenamed("_chr", "_dchr")
        .withColumnRenamed("_start", "_dstart")
    )
    dist = F.abs(F.col("_sstart") - F.col("_dstart"))
    if dist_match:
        bucket = F.when(F.col("_schr") != F.col("_dchr"), F.lit(-1)).otherwise(
            F.floor(F.log10(F.greatest(dist, F.lit(1))) * _BINS_PER_DECADE)
        )
    else:
        bucket = F.lit(0).cast("long")
    return e.select("src", "dst", bucket.cast("long").alias("stratum"))


def randomize_edges_distance_matched(
    edges: DataFrame,
    nodes: DataFrame,
    n_random: int = 10,
    seed: int = 42,
    dist_match: bool = True,
    keep_stratum: bool = False,
    strata: DataFrame | None = None,
) -> DataFrame:
    """Distance-matched edge randomization (chaser ``randomize(...,
    dist.match=TRUE)``; reference network_generator_lib.R:533-556;
    SURVEY G12): generate ``n_random`` null edge lists preserving each
    edge's genomic-distance stratum, so random-ChAS intervals are
    comparable to the observed ChAS. ``dist_match=False`` is chaser's
    ``dist.match=FALSE`` (used by the reference for the po subnetwork,
    merge_features.R:103): one global stratum — dst endpoints permute
    freely across all edges.

    Method (distributed, seeded, reproducible):
      - compute each edge's genomic distance |src.start − dst.start|
        (interchromosomal → its own stratum), log-bucket it
        (``_BINS_PER_DECADE`` buckets per decade);
      - within each (run, bucket): permute the dst endpoints among the
        edges of that bucket — sort one side by a seeded deterministic
        hash ``xxhash64(src, dst, run, seed)`` and pair by
        ``row_number`` against the original key order on the other.
        Endpoint degree-in-bucket distribution and the distance
        histogram are preserved exactly.
      - n_random runs fan out as a crossJoin with a run-id range —
        cluster-parallel instead of the reference's serial loop.

    Returns (run, src, dst), plus the permutation ``stratum`` when
    ``keep_stratum=True`` (the q70 property gate checks the per-stratum
    histogram/endpoint-multiset invariants against it).

    Determinism: the permutation key is a pure hash of row content +
    run + seed — independent of partitioning and cluster layout, so
    results are bit-reproducible anywhere (stronger than ``F.rand``,
    whose output depends on partition assignment). Goldens should still
    treat random-ChAS as interval bounds (min/max), as the reference's
    tests do.

    ``strata`` short-circuits the internal :func:`edge_strata` call
    with a precomputed (and typically checkpointed) ``(src, dst,
    stratum)`` frame — callers that invoke the randomizer several
    times over the same edge set (the q70 gate's determinism/
    divergence probes) then pay the stratification joins once.
    """
    e = strata if strata is not None else edge_strata(edges, nodes, dist_match)
    runs = e.sparkSession.range(n_random).withColumnRenamed("id", "run")
    fan = e.crossJoin(F.broadcast(runs))

    # within (run, stratum): pair i-th src (by stable key order) with
    # i-th dst (by seeded random order). Round 13 (guide §2.4): one
    # groupBy collecting BOTH orderings as sorted arrays, zipped
    # elementwise — the old two-windows + row_number equi-join shape
    # paid four Exchanges + four sorts per invocation (two window
    # exchanges on (run, stratum), then the pairing join re-hashed
    # both sides on (run, stratum, _i)); this is ONE Exchange on the
    # group key. Row-multiset identical: array_sort(struct(src, dst))
    # is exactly the w_src order, array_sort(struct(_r, dst)) the
    # w_dst order (hash ties — 2⁻⁶⁴ per pair — broke
    # nondeterministically before, by dst now), and zip_with pairs the
    # same i-th elements the join matched on _i. Skew note: the
    # per-(run, stratum) array materializes the stratum in one
    # aggregation buffer — the SAME per-stratum single-task shape the
    # windows had (partitionBy can't split a key either, guide §2.5);
    # dist_match=False's one-global-stratum skew is inherent to the
    # free-permutation semantics, not to this form.
    paired = fan.groupBy("run", "stratum").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("src").alias("_s"), F.col("dst").alias("_d"))
            )
        ).alias("_sl"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.xxhash64(
                        F.col("src"), F.col("dst"), F.col("run"), F.lit(seed)
                    ).alias("_r"),
                    F.col("dst").alias("_d"),
                )
            )
        ).alias("_dl"),
    )
    return paired.select(
        "run",
        "stratum",
        F.explode(
            F.zip_with(
                F.col("_sl"),
                F.col("_dl"),
                lambda a, b: F.struct(
                    a["_s"].alias("_zs"), b["_d"].alias("_zd")
                ),
            )
        ).alias("_e"),
    ).select(
        "run",
        F.col("_e._zs").alias("src"),
        F.col("_e._zd").alias("dst"),
        *(["stratum"] if keep_stratum else []),
    )
