"""Self-tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import types

import pyarrow.parquet as pq
import pytest

import inputs
import run
from spans import Tracer
from stats import summary, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --- seeded inputs --------------------------------------------------------


def _all_inputs(seed: int, tmp_path) -> dict:
    cols = inputs.lineitem_columns(seed)
    bait_list = inputs.baits(cols)
    out = {
        "warm_lineitem": inputs.lineitem_columns(seed, inputs.WARM_LINEITEM, "warm"),
        "baits": bait_list,
        "traffic": [inputs.search_traffic(seed, p, bait_list) for p in range(3)],
        "docs": inputs.doc_batches(seed, 3),
    }
    for fmt in inputs.PASS_UPLOADS:
        out[fmt] = inputs.feature_lines(fmt, seed, "p0")
    d = tmp_path / f"sf{seed}-{len(os.listdir(tmp_path))}"
    d.mkdir()
    out["lineitem"] = pq.read_table(inputs.write_lineitem(str(d), cols)).to_pylist()
    return out


def test_same_seed_gives_identical_inputs(tmp_path):
    a, b = _all_inputs(7, tmp_path), _all_inputs(7, tmp_path)
    assert a == b


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = _all_inputs(7, tmp_path), _all_inputs(8, tmp_path)
    for key in a:
        assert a[key] != b[key], key


def test_sizes_do_not_depend_on_the_seed():
    for seed in (1, 2):
        assert len(inputs.lineitem_columns(seed)["l_orderkey"]) == inputs.N_LINEITEM
        warm = inputs.lineitem_columns(seed, inputs.WARM_LINEITEM, "warm")
        assert len(warm["l_orderkey"]) == inputs.WARM_LINEITEM
        batches = inputs.doc_batches(seed, 2)
        assert [len(b["docs"]) for b in batches] == [inputs.BATCH_DOCS] * 3


def test_every_pass_sends_the_same_mix():
    bait_list = inputs.baits(inputs.lineitem_columns(1))
    mixes = set()
    for p in range(4):
        traffic = inputs.search_traffic(1, p, bait_list)
        new = traffic[: len(inputs.PASS_KINDS)]
        assert [r["kind"] for r in new] == list(inputs.PASS_KINDS)
        counts = tuple(
            sum(r == req for r in traffic[len(new):]) for req in new
        )
        mixes.add(counts)
    assert mixes == {tuple(inputs.zipf_counts(len(inputs.PASS_KINDS), inputs.HITS_PER_PASS))}


def test_zipf_counts_sum_and_order():
    assert inputs.zipf_counts(2, 20) == [13, 7]
    for n, k in ((1, 5), (3, 20), (6, 7)):
        counts = inputs.zipf_counts(n, k)
        assert sum(counts) == k
        assert counts == sorted(counts, reverse=True)


def test_planted_duplicates_are_near_copies_of_the_backfill():
    batches = inputs.doc_batches(3, 2)
    texts = {i: t for b in batches for i, t in b["docs"]}

    def near(a, b):
        return sum(x != y for x, y in zip(texts[a].split(), texts[b].split())) == 1

    backfill = batches[0]
    for dup in backfill["dups"]:
        assert any(near(dup, o) for o in backfill["originals"] if o < dup), dup
    # a gated batch duplicates the stored backfill only
    for b in batches[1:]:
        for dup in b["dups"]:
            assert any(near(dup, o) for o in backfill["originals"]), dup


def test_gated_batches_do_not_depend_on_how_many_are_made():
    assert inputs.doc_batches(5, 3)[:2] == inputs.doc_batches(5, 1)


def test_search_terms_name_baits_of_the_network():
    bait_list = inputs.baits(inputs.lineitem_columns(4))
    genes = {g for _c, _s, g in bait_list}
    points = {(c, s + 50) for c, s, _g in bait_list}
    for p in range(5):
        for req in inputs.search_requests(4, p, bait_list):
            if req["kind"] == "gene":
                assert req["search"] in genes
            else:
                chrom, pos = req["search"].split(":")
                assert req["nearest"] and (chrom, int(pos)) in points


def test_plain_bed_has_three_columns():
    _name, lines = inputs.feature_lines("bed3", 1, "p0")
    assert {len(line.split("\t")) for line in lines} == {3}


# --- percentiles and sample counts ------------------------------------------


def test_fifty_samples_give_p80_with_ten_beyond():
    values = [float(v) for v in range(1, 51)]
    p, value = tail_percentile(values)
    assert p == 80
    assert value == 40.0
    assert sum(v > value for v in values) == 10


@pytest.mark.parametrize("n,want", [(19, None), (20, 50), (25, 60), (100, 90), (1000, 99)])
def test_tail_is_the_highest_percentile_with_ten_beyond(n, want):
    values = [float(v) for v in range(n)]
    got = tail_percentile(values)
    if want is None:
        assert got is None
        return
    p, value = got
    assert p == want
    assert sum(v > value for v in values) >= 10
    # one percentile higher would leave fewer than ten beyond
    rank_next = -(-(p + 1) * n // 100)
    assert n - rank_next < 10


def test_summary_carries_its_sample_count():
    s = summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail_p": None, "tail": None}
    assert summary([])["n"] == 0


# --- spans --------------------------------------------------------------------


def test_self_time_is_span_minus_children():
    tr = Tracer(True)
    with tr.span("op.x", op="x#0"):
        with tr.span("a.f"):
            with tr.span("b.g"):
                pass
        with tr.span("a.f"):
            pass
    spans = {s["id"]: s for s in tr.spans}
    dur = {i: s["end"] - s["start"] for i, s in spans.items()}
    own = tr.self_times()
    assert own["b.g"] == pytest.approx(dur[2])
    assert own["a.f"] == pytest.approx(dur[1] - dur[2] + dur[3])
    assert own["op.x"] == pytest.approx(dur[0] - dur[1] - dur[3])
    assert all(s["op"] == "x#0" for s in tr.spans)
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]


def test_untraced_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op.x", op="x#0"):
        pass
    assert tr.spans == []


def test_wrap_and_unwrap_restore_the_function():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = Tracer(True)
    tr.wrap(mod, "f", "m.f")
    assert mod.f(1) == 2 and [s["name"] for s in tr.spans] == ["m.f"]
    tr.unwrap()
    assert mod.f is orig


# --- metric names ---------------------------------------------------------------


def test_end_to_end_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END


def test_per_layer_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_every_workload_measures_every_end_to_end_metric():
    import workloads

    for name in workloads.WORKLOADS:
        ops = workloads.OP_METRICS[name]
        assert {"setup_s", "prepare_s", *ops} == set(run.END_TO_END), name


def test_end_to_end_times_only_ops_that_succeeded():
    import workloads

    r = workloads.Run("garden_net", 1, 1.0, False, "", "")
    r.setup_s, r.prepare_s = 2.0, 3.0
    r.ops = [
        {"kind": "search_miss", "s": 4.0, "ok": True},
        {"kind": "search_miss", "s": 0.5, "ok": False},
        {"kind": "gene_hit", "s": 0.002, "ok": True},
        {"kind": "nearest_hit", "s": 0.0001, "ok": True},
        {"kind": "upload", "s": 9.0, "ok": True},
        {"kind": "upload", "s": 8.0, "ok": True},
        {"kind": "upload", "s": 4.0, "ok": False},
    ]
    assert r.end_to_end() == {
        "setup_s": 2.0, "prepare_s": 3.0, "request_p50_s": 4.0,
        "write_p50_s": 8.5,
    }
    assert r.faces()["upload"]["failed_s"]["n"] == 1


def test_workload_names_match_benchmark_json():
    import workloads

    assert [w["name"] for w in _benchmark_json()["workloads"]] == list(workloads.WORKLOADS)


def test_layer_metrics_emit_every_per_layer_name():
    tr = Tracer(True)
    with tr.span("op.search_miss", op="search_miss#0"):
        with tr.span("serving.serve_search"):
            with tr.span("serving.cache_get"):
                pass
    fake = types.SimpleNamespace(tracer=tr, layer={"ingest.decide_s": [1.0, 3.0]})
    out = run.layer_metrics(fake)
    assert list(out) == list(run.PER_LAYER)
    assert out["ingest.decide_s"] == 2.0
    assert out["serving.serve_search_s"] > 0.0
    assert out["trace.spans"] == 3
