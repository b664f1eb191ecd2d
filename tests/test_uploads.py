"""Upload-watcher pipeline: file-source stream + foreachBatch dispatch
of the batch merge-features plan, with the status-file progress
protocol and exactly-once-per-upload checkpointing."""

import json
import os
import shutil
import tempfile

import pytest

from garden_net_backend_spark.streaming.uploads import (
    infer_feature_format,
    process_upload,
    watch_feature_uploads,
)


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


def _mkfile(d, name, lines):
    p = os.path.join(d, name)
    with open(p, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return p


def test_format_inference(tmp_path):
    d = str(tmp_path)
    cases = [
        ("a.macs2.tsv", ["chr1\t1\t2\tx"], "macs2"),  # filename wins
        ("b.bed", ["chr1\t1\t2\t3.5"], "bed3"),  # 4 cols numeric 4th
        ("c.bed", ["chr1\t1\t2\tE9"], "chromhmm"),  # 4 cols state name
        ("d.bed", ["chr1\t1\t2\tp\t5\t+"], "bed6"),  # 6 cols
        ("e.narrowPeak", ["\t".join(["chr1", "1", "2", "p", "5", ".", "7", "3", "2", "5"])], "macs2"),
        ("f.tsv", ["chr1_10_20\t1.0\t2.0"], "features_on_nodes"),
    ]
    for name, lines, want in cases:
        assert infer_feature_format(_mkfile(d, name, lines)) == want, name


def test_process_upload_writes_results_and_status(spark, network, tmp_path):
    nodes, edges = network
    out = str(tmp_path / "out")
    p = _mkfile(str(tmp_path), "h3k27.bed", ["chr1\t150\t350\t2.0", "chr1\t380\t550\t4.0"])
    meta = process_upload(spark, p, nodes, edges, out, n_random=1, n_random_po=2)
    assert set(meta) == {"net", "pp", "po"}
    assert "Random ChAs interval" in meta["net"]
    vals = {
        (r["fragment"], r["feature"]): r["value"]
        for r in spark.read.parquet(os.path.join(out, "h3k27", "features.parquet")).collect()
    }
    assert vals[("1_300_400", "h3k27")] == 3.0  # overlap mean
    assert vals[("2_100_200", "h3k27")] == 0.0  # missing fill
    with open(os.path.join(out, "h3k27", "features_metadata.json")) as fh:
        on_disk = json.load(fh)
    assert on_disk["net"]["Abundance"]["h3k27"] == meta["net"]["Abundance"]["h3k27"]
    with open(os.path.join(out, "_status", "h3k27.status.json")) as fh:
        st = json.load(fh)
    assert (st["state"], st["percentage"]) == ("SUCCESS", 100)


def test_process_upload_plain_bed3_succeeds(spark, network, tmp_path):
    """A plain three-column BED has no signal column, so every node
    reads 0 after the missing fill. The upload still succeeds, with a
    null ChAs for the constant feature."""
    nodes, edges = network
    out = str(tmp_path / "out")
    p = _mkfile(str(tmp_path), "plain.bed", ["chr1\t150\t350", "chr1\t380\t550"])
    meta = process_upload(spark, p, nodes, edges, out, n_random=1, n_random_po=2)
    assert meta["net"]["ChAs"]["plain"] is None
    with open(os.path.join(out, "_status", "plain.status.json")) as fh:
        st = json.load(fh)
    assert (st["state"], st["percentage"]) == ("SUCCESS", 100)


def test_process_upload_failure_status(spark, network, tmp_path):
    nodes, edges = network
    out = str(tmp_path / "out")
    bad = _mkfile(str(tmp_path), "bad.bed", ["chr1\tnot_a_number\t2\tx\tmore\twat\textra"])
    with pytest.raises(Exception):
        process_upload(spark, bad, nodes, edges, out)
    with open(os.path.join(out, "_status", "bad.status.json")) as fh:
        st = json.load(fh)
    assert st["state"] == "FAILURE"


def test_watcher_end_to_end(spark, network, tmp_path):
    nodes, edges = network
    uploads = str(tmp_path / "uploads")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(uploads)
    _mkfile(uploads, "u1.bed", ["chr1\t150\t350\t2.0"])
    _mkfile(uploads, "u2.bedgraph.features_table", ["chr1\t380\t550\t0.5"])
    q = watch_feature_uploads(
        spark, uploads, nodes, edges, out, ckpt, available_now=True
    )
    # availableNow terminates when the backlog drains; the bound only
    # guards against a hang. Under a fully loaded suite JVM the two
    # merge-feature batches can exceed 120s, so assert drain, not luck.
    assert q.awaitTermination(420), "upload watcher did not drain"
    for u in ("u1", "u2"):
        assert os.path.exists(os.path.join(out, u, "features_metadata.json")), u
        with open(os.path.join(out, "_status", f"{u}.status.json")) as fh:
            assert json.load(fh)["state"] == "SUCCESS", u
    # exactly-once: restarting over the same checkpoint reprocesses nothing
    m1 = os.path.getmtime(os.path.join(out, "u1", "features_metadata.json"))
    q2 = watch_feature_uploads(
        spark, uploads, nodes, edges, out, ckpt, available_now=True
    )
    assert q2.awaitTermination(420), "upload watcher restart did not drain"
    assert os.path.getmtime(os.path.join(out, "u1", "features_metadata.json")) == m1


def _persisted_rdd_ids(spark) -> set:
    return {int(k) for k in spark._jsc.getPersistentRDDs().keySet().toArray()}


def test_process_upload_releases_its_pins(spark, network, tmp_path):
    """An upload pins its dense grid and one frame per subnet; a
    successful upload and a failing one both leave no persisted RDD
    behind. Compared by RDD id, as in
    test_ingest_face_releases_its_pins."""
    nodes, edges = network
    out = str(tmp_path / "out")
    ok = _mkfile(str(tmp_path), "pins.bed", ["chr1\t150\t350\t2.0", "chr1\t380\t550\t4.0"])
    bad = _mkfile(str(tmp_path), "pinsbad.bed6", ["chr1\tnot_a_number\t2\tx\t5\t+"])
    before = _persisted_rdd_ids(spark)
    process_upload(spark, ok, nodes, edges, out, n_random=1, n_random_po=2)
    left = _persisted_rdd_ids(spark) - before
    assert not left, f"successful upload: {len(left)} RDDs left persisted"
    before = _persisted_rdd_ids(spark)
    with pytest.raises(Exception):
        process_upload(spark, bad, nodes, edges, out)
    left = _persisted_rdd_ids(spark) - before
    assert not left, f"failing upload: {len(left)} RDDs left persisted"


def test_process_upload_reference_defaults_match_operators(spark, network, tmp_path):
    """With the reference defaults (pp and po computed), each subnet's
    Abundance, ChAs and mean degree equal what the public operators give
    on that subnet's endpoint-restricted features. The chromhmm upload
    has three states; E3 lies off the network, so it reads 0 on every
    node after the fill: Abundance 0, a null ChAs and no mean degree."""
    from pyspark.sql import functions as F

    from garden_net_backend_spark.operators.chas import (
        chas,
        feature_abundance,
        feature_mean_degree,
    )
    from garden_net_backend_spark.operators.graph import (
        degrees,
        subset_edges_by_nodesets,
    )

    nodes, edges = network
    out = str(tmp_path / "out")
    p = _mkfile(
        str(tmp_path),
        "states.chromhmm.bed",
        [
            "chr1\t100\t250\tE1",
            "chr1\t500\t600\tE1",
            "chr1\t300\t400\tE2",
            "chr2\t100\t200\tE2",
            "chr1\t550\t600\tE2",
            "chr9\t1\t100\tE3",
        ],
    )
    meta = process_upload(spark, p, nodes, edges, out, n_random=2, n_random_po=3)
    dense = spark.read.parquet(os.path.join(out, "states", "features.parquet"))
    e = edges.select("src", "dst")
    baits = nodes.filter(F.col("type") == "P").select(F.col("fragment").alias("node"))
    oes = nodes.filter(F.col("type") == "O").select(F.col("fragment").alias("node"))
    subsets = {
        "net": e,
        "pp": subset_edges_by_nodesets(e, baits),
        "po": subset_edges_by_nodesets(e, baits, oes),
    }
    for name, sub in subsets.items():
        ends = sub.select(F.col("src").alias("fragment")).union(
            sub.select(F.col("dst").alias("fragment"))
        ).distinct()
        feats = dense.join(ends, "fragment", "left_semi")
        want_ab = {r[0]: r[1] for r in feature_abundance(feats, decimals=2).collect()}
        want_ch = {
            r[0]: (round(r[1], 6) if r[1] is not None else None)
            for r in chas(sub, feats).collect()
        }
        want_md = {
            r[0]: r[1]
            for r in feature_mean_degree(feats, degrees(sub), decimals=2).collect()
        }
        got = meta[name]
        assert got["Abundance"] == want_ab, name
        assert got["ChAs"] == want_ch, name
        assert got["Mean degree"] == want_md, name
        assert set(got["Random ChAs interval"]) == set(want_ab), name
        assert got["Abundance"]["E3"] == 0.0, name
        assert got["ChAs"]["E3"] is None, name
        assert got["Random ChAs interval"]["E3"] is None, name
        assert "E3" not in got["Mean degree"], name
    assert set(meta["net"]["Abundance"]) == {"E1", "E2", "E3"}


def test_watcher_uploads_dir_with_space(spark, network, tmp_path):
    """The watcher processes uploads whose directory name holds a
    space: Spark reports the file as a percent-escaped URI, and the
    upload is read from its decoded path."""
    nodes, edges = network
    uploads = str(tmp_path / "my uploads")
    out = str(tmp_path / "out")
    os.makedirs(uploads)
    _mkfile(uploads, "sp1.bed", ["chr1\t150\t350\t2.0"])
    q = watch_feature_uploads(
        spark, uploads, nodes, edges, out, str(tmp_path / "ckpt"),
        available_now=True,
    )
    assert q.awaitTermination(420), "upload watcher did not drain"
    assert os.path.exists(os.path.join(out, "sp1", "features_metadata.json"))
    with open(os.path.join(out, "_status", "sp1.status.json")) as fh:
        assert json.load(fh)["state"] == "SUCCESS"


def test_format_inference_skips_bed_header_lines(tmp_path):
    """Format inference reads the first line that is not a UCSC BED
    header line (``track``, ``browser``, ``#``)."""
    d = str(tmp_path)
    header = ['track name=h3k27 description="H3K27ac"', "browser position chr1:1-1000",
              "#chrom\tstart\tend\tname\tscore\tstrand"]
    assert infer_feature_format(_mkfile(d, "h.bed", header + ["chr1\t1\t2\tp\t5\t+"])) == "bed6"
    assert infer_feature_format(_mkfile(d, "s.bed", header[:1] + ["chr1\t1\t2\tE9"])) == "chromhmm"


def _golden_network(spark):
    """A 24-node, two-chromosome network with P-P, P-O, O-O and
    interchromosomal edges at several genomic distances, so that every
    subnet has more than one distance stratum to permute in."""
    nodes = [
        (f"{c}_{i * 1000}_{i * 1000 + 500}", c, i * 1000, i * 1000 + 500,
         "P" if i % 3 == 0 else "O")
        for c in ("1", "2")
        for i in range(1, 13)
    ]
    frags = [n[0] for n in nodes]
    edges = sorted(
        {
            (frags[i], frags[j], "")
            for i in range(len(frags))
            for j in ((i * 7 + 3) % len(frags), (i * 5 + 11) % len(frags))
            if i != j
        }
    )
    return (
        spark.createDataFrame(
            nodes, "fragment string, chr string, start long, end long, type string"
        ),
        spark.createDataFrame(edges, "src string, dst string, type string"),
    )


def _golden_lines(fmt):
    lines = []
    for k in range(18):
        c, s = 1 + k % 2, 200 + (k * 2300) % 12_000
        if fmt == "bed3":
            lines.append(f"chr{c}\t{s}\t{s + 900}\t{(k * 37) % 11 / 4}")
        elif fmt == "bed6":
            lines.append(f"chr{c}\t{s}\t{s + 400}\tpeak{k}\t{(k * 53) % 17 / 3:.3f}\t+")
        else:
            lines.append(f"chr{c}\t{s}\t{s + 1500}\tE{1 + k % 3}")
    return lines


#: sha256 of ``features_metadata.json`` per (format, skip_pp_po), under
#: the reference defaults (``n_random=1``, ``n_random_po=50``, seed 42)
_METADATA_GOLDEN = {
    ("bed3", False): "9fef7d1e582bbaf8dc5ceffd996c7922c21e5f0ba188dbc375306cacfcb00b02",
    ("bed3", True): "954ec8dedefcea5dd87ea8fc4ae9b80adfb2b698932a7eab21894f260cebfe7f",
    ("bed6", False): "271cd03424499a0b4419d885d7e66bc1fd879e3db771dc33ae1903ef554f0eaf",
    ("bed6", True): "fbfee10c3023949ef9c6f3f839c2c6a657d13da94276f0dc452e7a565de3b6f2",
    ("chromhmm", False): "c140ccd603b4a858383937c8b39ca5841413b2c83f0404dc0fafc31435910fe6",
    ("chromhmm", True): "da7dab581175ac799d23278b8273c167355f265506d9689ea6856f0353f7cc72",
}


@pytest.fixture(scope="module")
def golden_network(spark):
    return _golden_network(spark)


@pytest.mark.parametrize("fmt,skip", sorted(_METADATA_GOLDEN))
def test_features_metadata_golden_bytes(spark, golden_network, tmp_path, fmt, skip):
    """The bytes of an upload's ``features_metadata.json``: every
    Abundance, ChAs, random-ChAs interval and mean degree of the net
    (and, unless skipped, pp and po) subnets, as written."""
    import hashlib

    nodes, edges = golden_network
    out = str(tmp_path / "out")
    p = _mkfile(str(tmp_path), f"gold.{fmt}.bed", _golden_lines(fmt))
    process_upload(spark, p, nodes, edges, out, skip_pp_po=skip)
    with open(os.path.join(out, "gold", "features_metadata.json"), "rb") as fh:
        body = fh.read()
    assert hashlib.sha256(body).hexdigest() == _METADATA_GOLDEN[(fmt, skip)], body
