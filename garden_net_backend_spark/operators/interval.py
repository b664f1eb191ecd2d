"""Genomic-interval join kernels (SURVEY.md §2.3 J4-J7, §4 custom op #1).

The reference does interval overlap with Bioconductor GRanges
(``mergeByOverlaps`` / ``findOverlaps`` / ``nearest`` — reference
network_generator_lib.R:645-647, 853-862, 177-193). Spark has no native
interval join; a naive ``chr-equi AND range-theta`` join is planned as a
broadcast-nested-loop / per-chr cartesian, which dies at 100 TB.

Kernel here: **fixed-width genomic binning**.

  1. flatMap each interval to the bins it covers
     (``explode(sequence(start/B, end/B))`` — pure JVM, no UDF);
  2. shuffle-free dedupe: a pair sharing k bins would match k times, so
     keep only the match in the bin containing ``max(l.start, r.start)``
     — each overlapping pair survives in exactly one bin, no
     ``dropDuplicates`` shuffle needed;
  3. equi-join on ``(chr, bin)`` — hash-partitionable, AQE-skew-splittable
     (chr1 is ~10× chrY in real genomes; bins subdivide the hot key);
  4. re-check the exact closed-interval overlap predicate.

Intervals are closed ([start, end], GRanges convention): overlap iff
``l.start <= r.end AND r.start <= l.end``.

Bin width trades duplication (wide intervals → many bins) against join
fan-in (narrow bins → more rows). 1 Mb suits genomic data (fragments
are kb-scale, chromosomes ~250 Mb → ≤250 bins/chr).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

DEFAULT_BIN = 1_000_000


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "chr",
    left_range: tuple[str, str] = ("start", "end"),
    right_range: tuple[str, str] = ("start", "end"),
    bin_size: int = DEFAULT_BIN,
    broadcast_right: bool = False,
) -> DataFrame:
    """Inner many-to-many overlap join (GRanges ``mergeByOverlaps``,
    reference network_generator_lib.R:645-647).

    Returns every (left row, right row) pair on the same ``on`` key with
    overlapping closed ranges. Column-name collisions must be resolved
    by the caller (alias/prefix) beforehand, except the join key which
    is kept once.

    ``broadcast_right=True`` skips binning entirely and broadcasts the
    right side with the exact predicate — correct choice for dimension-
    sized annotation tables (alias DB ~50k rows): one scan, zero shuffle.
    """
    ls, le = left_range
    rs, re_ = right_range
    if broadcast_right:
        cond = (
            (left[on] == right[on])
            & (left[ls] <= right[re_])
            & (right[rs] <= left[le])
        )
        return left.join(F.broadcast(right), cond).drop(right[on])

    lb = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                (F.col(ls) / bin_size).cast("long"), (F.col(le) / bin_size).cast("long")
            )
        ),
    )
    rb = right.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                (F.col(rs) / bin_size).cast("long"),
                (F.col(re_) / bin_size).cast("long"),
            )
        ),
    )
    joined = lb.join(rb, (lb[on] == rb[on]) & (lb["_bin"] == rb["_bin"]))
    # exact overlap + first-shared-bin dedupe (no extra shuffle)
    out = joined.filter(
        (lb[ls] <= rb[re_])
        & (rb[rs] <= lb[le])
        & (lb["_bin"] == (F.greatest(lb[ls], rb[rs]) / bin_size).cast("long"))
    )
    return out.drop(rb[on]).drop(lb["_bin"]).drop(rb["_bin"])


def overlap_flag(
    nodes: DataFrame,
    regions: DataFrame,
    flag_name: str = "in_region",
    on: str = "chr",
    bin_size: int = DEFAULT_BIN,
) -> DataFrame:
    """Existence-only overlap → boolean flag (GRanges ``findOverlaps``
    used as a set-membership test; reference network_generator_lib.R:853-862
    intronic_regions). Left-semi shaped: nodes keep their full row, plus
    ``flag_name``. Both sides carry their range as ``(start, end)``.
    """
    # join back on the interval CONTENT (on, start, end) — a synthetic
    # monotonically_increasing_id here is a correctness trap: the id is
    # recomputed independently in the two plan branches and diverges
    # when upstream joins make partitioning nondeterministic (observed:
    # flags landing on wrong rows after annotation joins). Duplicate
    # (on,start,end) node rows get identical flags — semantically right.
    hits = (
        interval_overlap_join(
            nodes.select(on, "start", "end").distinct(),
            regions.select(on, F.col("start").alias("_rs"), F.col("end").alias("_re")),
            on=on,
            right_range=("_rs", "_re"),
            bin_size=bin_size,
        )
        .select(on, "start", "end")
        .distinct()
        .withColumn(flag_name, F.lit(True))
    )
    return nodes.join(hits, [on, "start", "end"], "left").withColumn(
        flag_name, F.coalesce(F.col(flag_name), F.lit(False))
    )


def range_query(
    nodes: DataFrame,
    chrom: str,
    qstart: int,
    qend: int,
    expand: int = 0,
    on: str = "chr",
) -> DataFrame:
    """Single-range overlap query (reference network_generator_lib.R:163-183,
    SURVEY J6/Q1). A literal predicate — Catalyst pushes it into the
    scan; no join materializes. ``expand`` widens the query ±N bp
    (reference network_generator_lib.R:171-175).
    """
    s, e = qstart - expand, qend + expand
    return nodes.filter(
        (F.col(on) == chrom) & (F.col("start") <= F.lit(e)) & (F.col("end") >= F.lit(s))
    )


def nearest_interval_join(
    queries: DataFrame,
    targets: DataFrame,
    on: str = "chr",
    query_range: tuple[str, str] = ("start", "end"),
    target_range: tuple[str, str] = ("start", "end"),
    target_id: str = "fragment",
) -> DataFrame:
    """Nearest-range (as-of) join: for each query interval, the single
    closest target interval on the same key and its ``distance``
    (GRanges ``nearest``, reference network_generator_lib.R:138-153,
    177-179; SURVEY J7).

    Distance = ``max(q.start − t.end, t.start − q.end, 0)`` (0 ⇒
    overlap). Ties broken deterministically by (target start, end, id) —
    the reference inherits GRanges' arbitrary tie choice; we pin it.

    Physical plan: the classic **union-sort as-of pattern** — no
    cartesian product. Queries and targets are unioned into one
    position-sorted stream per key; two window passes (last-target-
    before via running max over target end positions, first-target-after
    via the reverse) give each query its flanking candidates; overlap
    candidates come from the binned overlap kernel (distance 0 beats any
    flank). One shuffle on ``on``, O(n log n).
    """
    qs, qe = query_range
    ts, te = target_range

    # the synthetic query id is joined back on below — materialize so
    # the id is assigned exactly once (recomputation across plan
    # branches can diverge when upstream partitioning is nondeterministic)
    q = queries.withColumn("_qid", F.monotonically_increasing_id()).localCheckpoint(
        eager=True
    )
    t = targets.select(
        F.col(on).alias("_chr"),
        F.col(ts).cast("long").alias("_ts"),
        F.col(te).cast("long").alias("_te"),
        F.col(target_id).alias("_tid"),
    )

    # overlap candidates (distance 0): flank passes below only see
    # targets fully left/right of the query, so a straddling/containing
    # target must come from the overlap kernel.
    ov_pairs = interval_overlap_join(
        q.select("_qid", F.col(on), F.col(qs), F.col(qe)),
        t.withColumnRenamed("_chr", on),
        on=on,
        left_range=(qs, qe),
        right_range=("_ts", "_te"),
    )
    ov_best = ov_pairs.groupBy("_qid").agg(
        F.min(F.struct("_ts", "_te", "_tid")).alias("_ov")
    )

    # stream rows: queries contribute two probe points (start for the
    # backward pass, end for the forward pass); targets contribute their
    # interval. Sorting key = position; targets sort before queries at
    # equal positions so a touching target is seen by the window.
    q_pts = q.select(
        F.col(on).alias("_chr"),
        F.col("_qid"),
        F.col(qs).alias("_qpos_b"),
        F.col(qe).alias("_qpos_f"),
    )

    # backward pass: for each query, target with max end <= any position
    #   (we want max _te overall among targets with _te <= q.start is
    #   wrong — nearest-left is max _te regardless of its start) —
    #   running max of _te over stream ordered by _te/probe position.
    stream_b = (
        t.select(
            "_chr",
            F.col("_te").alias("_pos"),
            F.lit(0).alias("_is_q"),
            F.lit(None).cast("long").alias("_qid"),
            F.struct("_te", "_ts", "_tid").alias("_tval"),
        )
        .unionByName(
            q_pts.select(
                "_chr",
                F.col("_qpos_b").alias("_pos"),
                F.lit(1).alias("_is_q"),
                "_qid",
                F.lit(None)
                .cast("struct<_te:long,_ts:long,_tid:string>")
                .alias("_tval"),
            )
        )
    )
    wb = (
        W.partitionBy("_chr")
        .orderBy("_pos", "_is_q")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # running max of (te, ts, tid) struct by te — max_by semantics via
    # max(struct) since _te leads the struct
    left_cand = (
        stream_b.withColumn("_best_left", F.max("_tval").over(wb))
        .filter(F.col("_is_q") == 1)
        .select(
            "_qid",
            F.col("_best_left._te").alias("_lte"),
            F.col("_best_left._ts").alias("_lts"),
            F.col("_best_left._tid").alias("_ltid"),
        )
    )

    # forward pass: first target with start >= q.end → running min of
    # (_ts, _te, _tid) over the reversed stream
    stream_f = (
        t.select(
            "_chr",
            F.col("_ts").alias("_pos"),
            F.lit(0).alias("_is_q"),
            F.lit(None).cast("long").alias("_qid"),
            F.struct("_ts", "_te", "_tid").alias("_tval"),
        )
        .unionByName(
            q_pts.select(
                "_chr",
                F.col("_qpos_f").alias("_pos"),
                F.lit(1).alias("_is_q"),
                "_qid",
                F.lit(None)
                .cast("struct<_ts:long,_te:long,_tid:string>")
                .alias("_tval"),
            )
        )
    )
    wf = (
        W.partitionBy("_chr")
        .orderBy(F.col("_pos").desc(), F.col("_is_q"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    right_cand = (
        stream_f.withColumn("_best_right", F.min("_tval").over(wf))
        .filter(F.col("_is_q") == 1)
        .select(
            "_qid",
            F.col("_best_right._ts").alias("_rts"),
            F.col("_best_right._te").alias("_rte"),
            F.col("_best_right._tid").alias("_rtid"),
        )
    )

    cand = (
        q.join(left_cand, "_qid", "left")
        .join(right_cand, "_qid", "left")
        .join(ov_best, "_qid", "left")
    )
    ldist = F.when(
        F.col("_lte").isNotNull(), F.greatest(F.col(qs) - F.col("_lte"), F.lit(0))
    )
    rdist = F.when(
        F.col("_rts").isNotNull(), F.greatest(F.col("_rts") - F.col(qe), F.lit(0))
    )
    # choose flank: smaller distance; tie → smaller (start, end, id)
    pick_left = (
        F.col("_lte").isNotNull()
        & (
            F.col("_rts").isNull()
            | (ldist < rdist)
            | (
                (ldist == rdist)
                & (
                    F.struct(F.col("_lts"), F.col("_lte"), F.col("_ltid"))
                    <= F.struct(F.col("_rts"), F.col("_rte"), F.col("_rtid"))
                )
            )
        )
    )
    has_ov = F.col("_ov").isNotNull()
    flank_tid = F.when(pick_left, F.col("_ltid")).otherwise(F.col("_rtid"))
    flank_dist = F.when(pick_left, ldist).otherwise(rdist)
    out = cand.select(
        *[c for c in q.columns if c != "_qid"],
        F.when(has_ov, F.col("_ov._tid")).otherwise(flank_tid).alias(target_id),
        F.when(has_ov, F.lit(0)).otherwise(flank_dist).cast("long").alias("distance"),
    )
    return out.filter(F.col(target_id).isNotNull())


def overlap_aggregate(
    nodes: DataFrame,
    features: DataFrame,
    agg: str = "mean",
    on: str = "chr",
    node_key: str = "fragment",
    feature_cols: tuple[str, str, str, str, str] = ("chr", "start", "end", "feature", "value"),
    bin_size: int = DEFAULT_BIN,
) -> DataFrame:
    """Overlap aggregation: per (node, feature), fold the values of all
    feature intervals overlapping the node with ``agg`` ∈ {mean,min,max},
    missing → 0 (chaser::load_features semantics —
    reference merge_features.R:68, auxfun from backend.py:204, missingv=0;
    SURVEY A7/A8).

    Named dispatch only — the reference eval's the R function by name,
    which is an arbitrary-code smell we do not reproduce.

    Returns one row per (node × distinct feature): long form
    ``(node_key, feature, value)``, dense (missing filled), so ChAS and
    abundance aggregate over it directly.
    """
    from ..functions.exact import davg, dsum  # local import to avoid cycle

    fchr, fs, fe, fname, fval = feature_cols
    aggs = {
        "mean": davg,
        "min": F.min,
        "max": F.max,
        "sum": dsum,
        "count": lambda c: F.count(c).cast("double"),
    }
    if agg not in aggs:
        raise ValueError(f"unknown overlap aggregation: {agg!r} (allowed: {sorted(aggs)})")

    feats = features.select(
        F.col(fchr).alias(on),
        F.col(fs).alias("_fs"),
        F.col(fe).alias("_fe"),
        F.col(fname).alias("feature"),
        F.col(fval).alias("_fv"),
    )
    pairs = interval_overlap_join(
        nodes.select(node_key, on, "start", "end"),
        feats,
        on=on,
        right_range=("_fs", "_fe"),
        bin_size=bin_size,
    )
    agged = pairs.groupBy(node_key, "feature").agg(aggs[agg](F.col("_fv")).alias("value"))
    # dense fill: every node × every distinct feature
    grid = nodes.select(node_key).distinct().crossJoin(
        F.broadcast(feats.select("feature").distinct())
    )
    return grid.join(agged, [node_key, "feature"], "left").withColumn(
        "value", F.coalesce(F.col("value"), F.lit(0.0))
    )
