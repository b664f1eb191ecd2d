"""Feature-merge job: the reference's async upload pipeline
(merge_features.R via backend.py:217-331; SURVEY.md §3.3) as a
parameterized batch plan.

Input: the built network (nodes, edges) + a feature interval table in
any supported format (sources/readers.read_feature) + the aggregation
fn name. Output: the dense per-node feature matrix and the nested
metadata bundle the reference writes to features_metadata.json
(reference merge_features.R:78-136, network_generator.R:252-266):

    {net|pp|po: {Abundance, ChAs, "Random ChAs interval", "Mean degree"}}

Reference parity details (merge_features.R:74-104 +
generate_features_metadata, network_generator_lib.R:534-566):

- every metric is computed ON THE SUBSET NETWORK: chaser's
  subset_chromnet rebuilds the chromnet from the subset edge list, so
  the pp/po node sets are the endpoints of the subset edges, degrees
  are recomputed from the subset edges, and Abundance averages over
  subset nodes only;
- the random-ChAS interval is per subnetwork, nested inside each of
  net/pp/po — net and pp randomize with distance matching and
  ``randomizations = 1`` (merge_features.R:79,91), po with
  ``preserve.distances = F`` and the generate_features_metadata
  default of 50 randomizations (merge_features.R:103);
- rounding/encoding follows the reference: Abundance and mean degree
  round to 2 decimals, the random interval rounds to 3 and serializes
  as a ``"min,max"`` string (network_generator_lib.R:554,560,566).

Execution: the inputs are built once and the metadata is collected
once. The upload pins its dense grid (streaming/uploads.py); each
subnet pins one ``features ⋈ degrees(subset edges)`` frame, which every
metric of that subnet reads; and the metrics of every subnet are one
union, collected once. The whole multi-metric pipeline is planned as
one statement, the operator-fusion model of *Machine Learning Inference
Pipeline Execution Using Pure SQL Based on Operator Fusion* (ICDE 2025).

The Celery/Redis/FIFO plumbing around it is API-layer, not engine
(SURVEY §3.3): submit this plan on a scheduler pool and surface
progress via SparkListener stage counts.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.chas import (
    _folded_chas,
    chas,
    feature_abundance,
    randomize_edges_distance_matched,
)
from ..operators.graph import degrees, subset_edges_by_nodesets
from ..operators.interval import overlap_aggregate
from ..session import pin, release


def merge_features(
    nodes: DataFrame,
    feature_intervals: DataFrame,
    agg: str = "mean",
    binarize: bool = False,
) -> DataFrame:
    """Overlap-aggregate feature intervals onto network nodes → dense
    long-form (fragment, feature, value); a node no interval overlaps
    reads 0. ``agg`` dispatches by name (mean/min/max — reference
    auxfun, backend.py:204). ``binarize`` collapses values to presence
    0/1 (the reference's default feature binarization,
    --no-features-binarization flag at network_generator_lib.R:31-35;
    SURVEY A11)."""
    out = overlap_aggregate(
        nodes.select("fragment", "chr", "start", "end"),
        feature_intervals,
        agg=agg,
    )
    if binarize:
        out = out.withColumn(
            "value", F.when(F.col("value") != 0, 1.0).otherwise(0.0)
        )
    return out


def _random_chas_bounds(
    nodes: DataFrame,
    sub_edges: DataFrame,
    frame: DataFrame,
    n_random: int,
    seed: int,
    dist_match: bool,
) -> DataFrame:
    """(feature, lo, hi): the random-ChAs interval across ``n_random``
    randomizations of the SUBSET edge list (chaser randomize(subnet);
    SURVEY A6/G12) — all runs evaluated in one plan via the run-id
    fan-out, not the reference's serial loop. Each run's ChAs is the
    one ChAs kernel of ``operators/chas`` grouped by ``(run, feature)``.
    Bounds round to 3 decimals (network_generator_lib.R:554)."""
    rand_edges = randomize_edges_distance_matched(
        sub_edges, nodes, n_random=n_random, seed=seed, dist_match=dist_match
    )
    # network-sized feature grid → broadcast lookups, the n_random-
    # fanned edge stream stays shuffle-free (chas docstring)
    per_run = _folded_chas(rand_edges, frame, ["run", "feature"], broadcast=True)
    return per_run.groupBy("feature").agg(
        F.round(F.min("chas"), 3).alias("lo"), F.round(F.max("chas"), 3).alias("hi")
    )


def _subset_metrics(
    nodes: DataFrame,
    sub_edges: DataFrame,
    frame: DataFrame,
    n_random: int,
    seed: int,
    dist_match: bool,
) -> dict[str, DataFrame]:
    """One generate_features_metadata call (reference
    network_generator_lib.R:534-566) over a (sub)network, as
    ``{metric: (feature, lo, hi)}`` frames — ``hi`` is the random
    interval's upper bound and null for the other metrics.

    ``frame`` is the subnet's ``(fragment, feature, value, degree)``:
    the features of its nodes joined to its degrees, recomputed from
    its edges. Abundance and mean degree round to 2 decimals; the mean
    degree of a feature's positive nodes is their mean ``degree``, the
    same exact-decimal mean ``feature_abundance`` takes of ``value``."""
    no_hi = F.lit(None).cast("double").alias("hi")
    out = {
        "Abundance": feature_abundance(frame, decimals=2).select(
            "feature", F.col("abundance").alias("lo"), no_hi
        ),
        "ChAs": chas(sub_edges, frame, broadcast_features=True).select(
            "feature", F.col("chas").alias("lo"), no_hi
        ),
    }
    if n_random > 0:
        out["Random ChAs interval"] = _random_chas_bounds(
            nodes, sub_edges, frame, n_random, seed, dist_match
        )
    out["Mean degree"] = feature_abundance(
        frame.filter(F.col("value") != 0), value_col="degree", decimals=2
    ).select("feature", F.col("abundance").alias("lo"), no_hi)
    return out


def _encode(metric: str, lo, hi):
    """A metric value as features_metadata.json holds it: ChAs rounded
    to 6 decimals, the random interval as the reference's ``"lo,hi"``
    string (network_generator_lib.R:554), null when undefined."""
    if metric == "ChAs":
        return round(lo, 6) if lo is not None else None
    if metric == "Random ChAs interval":
        return f"{lo},{hi}" if lo is not None and hi is not None else None
    return lo


def feature_metadata(
    nodes: DataFrame,
    edges: DataFrame,
    features_long: DataFrame,
    n_random: int = 1,
    n_random_po: int = 50,
    seed: int = 42,
    skip_pp_po: bool = False,
) -> dict:
    """The {net, pp, po} metadata triple (reference
    network_generator.R:255-266; merge_features.R:74-108 — Hi-C cell
    types skip pp/po via ``skip_pp_po``, reference merge_features.R:88).

    Defaults mirror the reference call sites: net and pp randomize
    once with distance matching (merge_features.R:79,91); po uses
    ``preserve.distances = F`` and generate_features_metadata's
    default of 50 randomizations (merge_features.R:103).

    Each subnet's inputs are built once: one pinned
    ``features ⋈ degrees(subset edges)`` frame (its node set is the
    key set of its degree table) feeds every metric. Every metric of
    every subnet is then read by ONE collect of their union, and the
    pins are released after it.
    """
    e = edges.select("src", "dst")
    subsets = [("net", e, n_random, True)]
    if not skip_pp_po:
        baits = nodes.filter(F.col("type") == "P").select(
            F.col("fragment").alias("node")
        )
        oes = nodes.filter(F.col("type") == "O").select(
            F.col("fragment").alias("node")
        )
        subsets += [
            ("pp", subset_edges_by_nodesets(e, baits), n_random, True),
            ("po", subset_edges_by_nodesets(e, baits, oes), n_random_po, False),
        ]
    out: dict = {"net": None, "pp": None, "po": None}
    parts: list[DataFrame] = []
    pins: list[DataFrame] = []
    try:
        for name, sub_edges, n, dist_match in subsets:
            deg = degrees(sub_edges).withColumnRenamed("node", "fragment")
            pins.append(pin(features_long.join(deg, "fragment")))
            metrics = _subset_metrics(nodes, sub_edges, pins[-1], n, seed, dist_match)
            out[name] = {metric: {} for metric in metrics}
            parts += [
                df.select(
                    F.lit(name).alias("subset"), F.lit(metric).alias("metric"),
                    "feature", "lo", "hi",
                )
                for metric, df in metrics.items()
            ]
        rows = reduce(DataFrame.union, parts).collect()
    finally:
        for p in pins:
            release(p)
    for r in rows:
        out[r["subset"]][r["metric"]][r["feature"]] = _encode(
            r["metric"], r["lo"], r["hi"]
        )
    return out
