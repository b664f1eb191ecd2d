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
