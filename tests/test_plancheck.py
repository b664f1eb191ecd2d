"""Plan guardrails: assert_scalable_plan catches cartesian products and
shuffle-budget blowouts, and the engine's own hot-path operators pass
their declared budgets."""

import pytest
from pyspark.sql import functions as F

from garden_net_backend_spark.functions.plancheck import (
    ScaleHazard,
    assert_scalable_plan,
)

SF = "/root/testdata/sf0.001"


def test_catches_cartesian_product(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    with pytest.raises(ScaleHazard, match="forbidden operator"):
        assert_scalable_plan(a.crossJoin(b))


def test_catches_shuffle_budget(spark):
    df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    with pytest.raises(ScaleHazard, match="shuffles"):
        assert_scalable_plan(df, max_exchanges=0)
    assert_scalable_plan(df, max_exchanges=1)


def test_interval_kernel_plan_is_scalable(spark):
    """The binned interval join must never degrade to a cartesian /
    nested-loop, whatever Catalyst does to the surrounding plan."""
    from garden_net_backend_spark.operators.interval import interval_overlap_join

    left = spark.read.parquet(f"{SF}/part.parquet").select(
        F.lit("1").alias("chr"),
        (F.col("p_partkey") * 100).alias("start"),
        (F.col("p_partkey") * 100 + 50).alias("end"),
    )
    right = left.withColumnsRenamed({"start": "rstart", "end": "rend"})
    out = interval_overlap_join(
        left, right, on="chr", left_range=("start", "end"),
        right_range=("rstart", "rend"),
    )
    assert_scalable_plan(out)


def test_mix_and_split_are_shuffle_free(spark):
    """The mix/split decisions are pure hash math over one scan — zero
    exchanges, the property that makes a 100 TB mix a single pass."""
    from garden_net_backend_spark.functions.text import hash_split
    from garden_net_backend_spark.plans.mixing import weighted_sample_by_source

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mixed = weighted_sample_by_source(docs, {"src0": 0.5}, default_rate=0.2)
    assert_scalable_plan(mixed, max_exchanges=0)
    split = docs.withColumn("split", hash_split(F.col("doc_id").cast("string")))
    assert_scalable_plan(split, max_exchanges=0)


def test_entire_catalog_is_cartesian_free(spark):
    """Every one of the 50 gate queries must plan without a
    CartesianProduct at build time — the strongest single scale
    guarantee the engine can make in CI. (BroadcastNestedLoopJoin is
    tolerated here: a handful of one-row-scalar compositions
    legitimately plan as a single-row BNLJ.)"""
    from garden_net_backend_spark.queries import CATALOG

    hazards = []
    for name, spec in CATALOG.items():
        try:
            assert_scalable_plan(
                spec.spark_fn(spark, SF), forbid_bnlj=False
            )
        except ScaleHazard as e:
            hazards.append(f"{name}: {e}")
    assert not hazards, "\n".join(hazards)


def test_plan_fingerprint_counts_line_leading_nodes(spark):
    """plan_fingerprint counts Exchange / BroadcastExchange / BNLJ /
    Window / Scan nodes by the operator name that begins a plan line:
    columns named after operators (Window_x, Exchange, Scan) are not
    nodes, and count_exchanges / assert_scalable_plan read the same."""
    from pyspark.sql import Window as W

    from garden_net_backend_spark.functions.plancheck import (
        count_exchanges,
        plan_fingerprint,
        plan_string,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").alias("Exchange"), F.lit(1).alias("Scan")
    )
    ranked = docs.select(
        "Exchange",
        "Scan",
        F.row_number()
        .over(W.partitionBy(F.col("Exchange") % 3).orderBy("Exchange"))
        .alias("Window_x"),
    )
    small = spark.range(4).withColumnRenamed("id", "CartesianProduct")
    df = ranked.join(
        F.broadcast(small), F.col("Window_x") > F.col("CartesianProduct")
    )
    assert plan_fingerprint(df) == {
        "Exchange": 1,
        "BroadcastExchange": 1,
        "BroadcastNestedLoopJoin": 1,
        "Window": 1,
        "Scan": 1,
    }
    plan = plan_string(df)
    assert "Window_x" in plan and count_exchanges(plan) == 1
    # the decoy column is no CartesianProduct node; the BNLJ is one
    assert_scalable_plan(df, forbid_bnlj=False)
    with pytest.raises(ScaleHazard, match="BroadcastNestedLoopJoin"):
        assert_scalable_plan(df)
