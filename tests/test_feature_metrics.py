"""Feature readers (all 5 formats) + the merge-features plan end-to-end
on the synthetic network fixture."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from garden_net_backend_spark.plans.feature_metrics import (
    feature_metadata,
    merge_features,
)
from garden_net_backend_spark.sources.readers import (
    read_feature,
    read_features_on_nodes,
)

FIXDIR = tempfile.mkdtemp(prefix="feat_fix_")


def _write(name, lines):
    p = os.path.join(FIXDIR, name)
    with open(p, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return p


@pytest.fixture(scope="module")
def network(spark):
    nodes = spark.createDataFrame(
        [
            ("1_100_200", "1", 100, 200, "P"),
            ("1_300_400", "1", 300, 400, "O"),
            ("1_500_600", "1", 500, 600, "P"),
            ("2_100_200", "2", 100, 200, "O"),
        ],
        "fragment string, chr string, start long, end long, type string",
    )
    edges = spark.createDataFrame(
        [
            ("1_100_200", "1_300_400", "P-O"),
            ("1_100_200", "1_500_600", "P-P"),
            ("1_500_600", "2_100_200", "P-O"),
        ],
        "src string, dst string, type string",
    )
    return nodes, edges


def test_bed3_reader_and_merge(spark, network):
    nodes, _ = network
    p = _write("h3k27.bed", ["chr1\t150\t350\t2.0", "chr1\t380\t550\t4.0", "chr9\t1\t2\t9.0"])
    feats = read_feature(spark, p, "bed3")
    assert feats.columns == ["chr", "start", "end", "feature", "value"]
    assert {r["chr"] for r in feats.collect()} == {"1", "9"}  # chr prefix stripped
    vals = {
        (r["fragment"], r["feature"]): r["value"]
        for r in merge_features(nodes, feats, agg="mean").collect()
    }
    assert vals[("1_100_200", "h3k27")] == 2.0
    assert vals[("1_300_400", "h3k27")] == 3.0  # overlaps both → mean
    assert vals[("2_100_200", "h3k27")] == 0.0  # missing fill


def test_all_formats_produce_canonical_schema(spark):
    cases = {
        "bed6": _write("a.bed6", ["chr1\t1\t10\tpeak1\t5.0\t+"]),
        "macs2": _write(
            "a.narrowPeak",
            ["chr1\t1\t10\tp1\t100\t.\t7.5\t3.1\t2.2\t5"],
        ),
        "chromhmm": _write("a.chromhmm", ["chr1\t1\t10\tE1", "chr1\t20\t30\tE2"]),
        "features_table": _write("a.bedgraph", ["chr1\t1\t10\t0.7"]),
    }
    for fmt, path in cases.items():
        df = read_feature(spark, path, fmt)
        assert df.columns == ["chr", "start", "end", "feature", "value"], fmt
        rows = df.collect()
        assert rows, fmt
    # chromhmm: one feature per state, value 1.0
    states = {r["feature"] for r in read_feature(spark, cases["chromhmm"], "chromhmm").collect()}
    assert states == {"E1", "E2"}
    # macs2 takes signalValue
    assert read_feature(spark, cases["macs2"], "macs2").collect()[0]["value"] == 7.5
    with pytest.raises(ValueError):
        read_feature(spark, cases["bed6"], "nonsense_format")


def test_features_on_nodes_reader(spark):
    p = _write(
        "fon.tsv",
        ["fragment\tEZH2\tH3K27me3", "chr1_100_200\t0.5\t1.0", "chr1_300_400\t0.0\t0.25"],
    )
    df = read_features_on_nodes(spark, p)
    got = {(r["fragment"], r["feature"]): r["value"] for r in df.collect()}
    assert got[("1_100_200", "EZH2")] == 0.5  # chr prefix stripped
    assert got[("1_300_400", "H3K27me3")] == 0.25


def test_feature_metadata_bundle(spark, network):
    nodes, edges = network
    feats_long = spark.createDataFrame(
        [
            ("1_100_200", "EZH2", 1.0),
            ("1_300_400", "EZH2", 2.0),
            ("1_500_600", "EZH2", 3.0),
            ("2_100_200", "EZH2", 0.0),
        ],
        "fragment string, feature string, value double",
    )
    meta = feature_metadata(
        nodes, edges, feats_long, n_random=3, n_random_po=3, seed=1
    )
    assert set(meta) == {"net", "pp", "po"}
    assert meta["net"]["Abundance"]["EZH2"] == 1.5  # mean(1,2,3,0)
    # mean degree of feature-positive nodes: degrees 2,1,2 → 5/3,
    # reference rounds to 2 decimals (network_generator_lib.R:560)
    assert meta["net"]["Mean degree"]["EZH2"] == round(5 / 3, 2)
    # ChAS is a valid correlation
    assert -1.0 <= meta["net"]["ChAs"]["EZH2"] <= 1.0
    # pp subset metrics are computed ON the subset network: the single
    # P-P edge spans 1_100_200 (1.0) and 1_500_600 (3.0) → abundance
    # mean(1,3)=2, both endpoints degree 1
    assert meta["pp"]["Abundance"]["EZH2"] == 2.0
    assert meta["pp"]["Mean degree"]["EZH2"] == 1.0
    # po subset: both P-O edges, endpoints = all 4 nodes
    assert meta["po"]["Abundance"]["EZH2"] == 1.5
    # per-subnetwork random-ChAS interval, reference 'min,max' string
    # encoding rounded to 3 (network_generator_lib.R:554)
    interval = meta["net"]["Random ChAs interval"]["EZH2"]
    lo, hi = (float(x) for x in interval.split(","))
    assert lo <= hi
    assert "Random ChAs interval" in meta["po"]
    # deterministic across invocations
    meta2 = feature_metadata(
        nodes, edges, feats_long, n_random=3, n_random_po=3, seed=1
    )
    assert meta == meta2


def test_feature_metadata_constant_feature_is_null(spark, network):
    """A feature with no variance (every node 0, which is what a plain
    three-column BED becomes after the missing fill) has no defined
    correlation: its ChAs and its random interval read null, as R's
    cor gives NA, instead of failing the job on a zero denominator."""
    nodes, edges = network
    flat = spark.createDataFrame(
        [(f, "FLAT", 0.0) for f in ("1_100_200", "1_300_400", "1_500_600", "2_100_200")],
        "fragment string, feature string, value double",
    )
    meta = feature_metadata(nodes, edges, flat, n_random=2, n_random_po=2, seed=1)
    assert meta["net"]["Abundance"]["FLAT"] == 0.0
    assert meta["net"]["ChAs"]["FLAT"] is None
    assert meta["net"]["Random ChAs interval"]["FLAT"] is None


def test_read_feature_skips_bed_header_lines(spark):
    """UCSC BED header lines (``track …``, ``browser …``, ``#…``) are
    dropped before the coordinate cast; the data lines read as usual."""
    p = _write(
        "hdr.bed",
        [
            'track name=hdr description="signal track"',
            "browser position chr1:100-600",
            "#chrom\tstart\tend\tsignal",
            "chr1\t150\t350\t2.0",
            "chr1\t380\t550\t4.0",
        ],
    )
    rows = sorted(
        (r["chr"], r["start"], r["end"], r["value"])
        for r in read_feature(spark, p, "bed3").collect()
    )
    assert rows == [("1", 150, 350, 2.0), ("1", 380, 550, 4.0)]


def test_read_feature_non_numeric_coordinate_fails(spark):
    """Any other line whose coordinate is not a number still fails the
    read: only the header lines are skipped."""
    p = _write(
        "badcoord.bed",
        ["track name=bad", "chr1\t150\t350\t2.0", "trackX\tabc\t10\t1.0"],
    )
    with pytest.raises(Exception):
        read_feature(spark, p, "bed3").collect()


def test_folded_chas_equals_symmetrized_exact_corr(spark):
    """The one ChAs kernel, grouped by ``(run, feature)`` over random
    runs of a small graph, equals ``exact_corr`` over each run's
    symmetrized edges bit for bit: for a varying feature, for a
    constant one (null ChAs) and for one with null values."""
    from garden_net_backend_spark.functions.exact import exact_corr
    from garden_net_backend_spark.operators.chas import (
        _folded_chas,
        randomize_edges_distance_matched,
    )

    frags = [(f"{c}_{i * 700}_{i * 700 + 300}", c, i * 700) for c in "12" for i in range(20)]
    nodes = spark.createDataFrame(
        [(f, c, s, s + 300) for f, c, s in frags],
        "fragment string, chr string, start long, end long",
    )
    edges = spark.createDataFrame(
        sorted({(frags[i][0], frags[(i * 11 + 7) % 40][0]) for i in range(40)}
               | {(frags[i][0], frags[(i + 3) % 40][0]) for i in range(40)}),
        "src string, dst string",
    )
    feats = spark.createDataFrame(
        [(f, "signal", ((k * 37) % 13) / 7) for k, (f, _, _) in enumerate(frags)]
        + [(f, "flat", 1.0) for f, _, _ in frags]
        + [(f, "gappy", None if k % 4 == 0 else float(k % 9)) for k, (f, _, _) in enumerate(frags)],
        "fragment string, feature string, value double",
    )
    runs = randomize_edges_distance_matched(edges, nodes, n_random=5, seed=7)
    folded = {
        (r["run"], r["feature"]): r["chas"]
        for r in _folded_chas(runs, feats, ["run", "feature"], broadcast=True).collect()
    }
    sym = runs.select("run", "src", "dst").union(
        runs.select("run", F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    f_src = feats.select(F.col("fragment").alias("src"), "feature", F.col("value").alias("x"))
    f_dst = feats.select(F.col("fragment").alias("dst"), "feature", F.col("value").alias("y"))
    want = {
        (r["run"], r["feature"]): r["chas"]
        for r in sym.join(f_src, "src").join(f_dst, ["dst", "feature"])
        .groupBy("run", "feature")
        .agg(exact_corr(F.col("x"), F.col("y")).alias("chas"))
        .collect()
    }
    assert len(want) == 15
    assert folded == want
    assert all(want[(run, "flat")] is None for run in range(5))
    assert all(want[(run, f)] is not None for run in range(5) for f in ("signal", "gappy"))
