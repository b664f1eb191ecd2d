"""The benchmark's workloads: one closed-loop client, one op at a time.

A run sets the session up cold and warms the workload's code path up on
a small input (``setup_s``), prepares the stored state its ops read
(``prepare_s``), then repeats whole passes until ``--seconds`` have gone
by (at least one pass). Every pass sends the
same mix of ops with new seeded content, so a host fast enough for more
passes only adds samples. Outputs are checked after the passes,
outside every timed window. Each end-to-end op metric is the median
latency of one kind of op, over the ops of that kind that succeeded
and passed their check.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time

import inputs
from stats import median, summary
from spans import JobCounter, Tracer

INGEST_KW = dict(threshold=0.7, ngram=3, shingle="word", num_hashes=64, bands=16)
AUDIT_KW = {k: v for k, v in INGEST_KW.items() if k != "threshold"}

#: end-to-end op metric → the op kind it is the median of, per workload
OP_METRICS = {
    "garden_net": {
        "request_p50_s": "search_miss",
        "write_p50_s": "upload",
    },
    "ingest_stream": {
        "request_p50_s": "ingest_batch",
        "write_p50_s": "compact",
    },
}

#: engine functions timed in a traced run: (module, attribute, span name)
TRACED = (
    ("sources.readers", "read_feature", "readers.read_feature"),
    ("plans.network_build", "build_network", "network_build.build_network"),
    ("plans.network_build", "to_cytoscape_json", "network_build.to_cytoscape_json"),
    ("plans.search", "build_token_index", "search.build_token_index"),
    ("plans.search", "pin_serving_adjacency", "search.pin_serving_adjacency"),
    ("plans.search", "search_subnetwork", "search.search_subnetwork"),
    ("plans.materialize", "write_bucketed_search_tables",
     "materialize.write_bucketed_search_tables"),
    ("plans.serving", "serve_search", "serving.serve_search"),
    ("plans.feature_metrics", "merge_features", "feature_metrics.merge_features"),
    ("plans.feature_metrics", "feature_metadata", "feature_metrics.feature_metadata"),
    ("operators.chas", "chas", "chas.chas"),
    ("operators.interval", "overlap_aggregate", "interval.overlap_aggregate"),
    ("operators.interval", "range_query", "interval.range_query"),
    ("streaming.uploads", "process_upload", "uploads.process_upload"),
    ("streaming.ingest", "process_ingest_batch", "ingest.process_ingest_batch"),
    ("streaming.ingest", "compact_ingest_index", "ingest.compact_ingest_index"),
    ("streaming.ingest", "audit_ingest_index", "ingest.audit_ingest_index"),
)


def error_class(exc: BaseException, root: str) -> str:
    """``<ERROR_CLASS> at <file>:<line>`` for a Spark error raised from
    an engine DataFrame call site, else the exception's type name."""
    getter = getattr(exc, "getCondition", None) or getattr(exc, "getErrorClass", None)
    name = None
    if getter is not None:
        try:
            name = getter()
        except Exception:  # noqa: BLE001 — not every PySpark error has one
            name = None
    name = name or type(exc).__name__
    m = re.search(r"was called from\s*\n(\S+):(\d+)", str(exc))
    if m:
        return f"{name} at {os.path.relpath(m.group(1), root)}:{m.group(2)}"
    return name


class Run:
    """State of one benchmark run: session, tracer, op records."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 workdir: str, root: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workdir = workdir
        self.root = root
        self.tracer = Tracer(trace)
        self.ops: list[dict] = []
        self.passes: list[float] = []
        self.layer: dict[str, list[float]] = {}
        self.spark = None
        self.jobs: JobCounter | None = None
        self.setup_s = 0.0
        self.prepare_s = 0.0

    # -- bookkeeping -----------------------------------------------------

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def call(self, kind: str, fn):
        """Run one op under its own job group; returns (record, result).
        An exception is the op's failure, recorded with its error
        class; the run goes on."""
        op_id = f"{kind}#{sum(1 for o in self.ops if o['kind'] == kind)}"
        group = f"{self.workload}/{op_id}"
        self.spark.sparkContext.setJobGroup(group, kind)
        result, error = None, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", op=op_id):
                result = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is data
            error = error_class(exc, self.root)
        rec = {
            "op": op_id, "kind": kind, "s": time.perf_counter() - t0,
            "ok": error is None, "error": error,
        }
        if self.trace:
            rec.update(self.jobs.count(group))
        self.ops.append(rec)
        return rec, result

    def wrong(self, rec: dict, why: str) -> None:
        if rec["ok"]:
            rec["ok"] = False
            rec["error"] = f"WRONG_RESULT: {why}"

    # -- phases ----------------------------------------------------------

    def setup(self, warm_up) -> None:
        """The cold set-up a user waits for: JVM launch and session
        creation (``get_session``), then ``warm_up()``: the workload's
        preparation on a small input, which starts the Python workers
        and compiles the code path the measured ops take. Tracing starts
        after it."""
        from garden_net_backend_spark import session

        t0 = time.perf_counter()
        with self.tracer.span("op.setup", op="setup#0"):
            with self.tracer.span("session.get_session"):
                self.spark = session.get_session("perfbench")
            with self.tracer.span("session.worker_warm"):
                self.spark.sparkContext.setJobGroup(
                    f"{self.workload}/warm_up", "warm_up"
                )
                warm_up()
        self.setup_s = time.perf_counter() - t0
        self.jobs = JobCounter(self.spark)
        if self.trace:
            self.install_tracing()

    def install_tracing(self) -> None:
        import importlib

        from garden_net_backend_spark.plans.serving import ResultCache

        for mod, attr, name in TRACED:
            module = importlib.import_module(f"garden_net_backend_spark.{mod}")
            self.tracer.wrap(module, attr, name)
        self.tracer.wrap(ResultCache, "get", "serving.cache_get")
        self.tracer.wrap(ResultCache, "put", "serving.cache_put")

    def prepare(self, fn):
        """Time ``fn`` as the run's ``prepare_s``; a failed prepare ends
        the run."""
        rec, result = self.call("prepare", fn)
        self.prepare_s = rec["s"]
        if not rec["ok"]:
            raise RuntimeError(f"prepare failed: {rec['error']}")
        return result

    def loop(self, one_pass) -> None:
        deadline = time.perf_counter() + self.seconds
        p = 0
        while True:
            t0 = time.perf_counter()
            one_pass(p)
            self.passes.append(time.perf_counter() - t0)
            p += 1
            if time.perf_counter() >= deadline:
                break

    # -- results ---------------------------------------------------------

    def times(self, kind: str, ok: bool = True) -> list[float]:
        return [o["s"] for o in self.ops if o["kind"] == kind and o["ok"] == ok]

    def end_to_end(self) -> dict:
        out = {"setup_s": self.setup_s, "prepare_s": self.prepare_s}
        for metric, kind in OP_METRICS[self.workload].items():
            out[metric] = median(self.times(kind))
        return out

    def faces(self) -> dict:
        """Per op kind: latency summaries (with sample counts) of the ops
        that succeeded and, apart, of those that failed."""
        out = {}
        for kind in dict.fromkeys(o["kind"] for o in self.ops):
            out[kind] = {"ok_s": summary(self.times(kind))}
            failed = self.times(kind, ok=False)
            if failed:
                out[kind]["failed_s"] = summary(failed)
        return out


# -------------------------------------------------------------------------
# garden_net: PCHiC network build → web search traffic + feature uploads
# -------------------------------------------------------------------------


def garden_net(run: Run) -> dict:
    from garden_net_backend_spark import queries
    from garden_net_backend_spark.plans import (
        materialize,
        network_build,
        search,
        serving,
    )
    from garden_net_backend_spark.streaming import uploads

    d = run.workdir
    feature_dir = os.path.join(d, "features")
    os.makedirs(feature_dir)

    def lineitem(n_rows: int, tag: str) -> list:
        """Write a seeded ``lineitem`` to its own directory; returns the
        baits of the network it gives."""
        sf_dir = os.path.join(d, f"sf_{tag}")
        os.makedirs(sf_dir)
        cols = inputs.lineitem_columns(run.seed, n_rows, tag)
        inputs.write_lineitem(sf_dir, cols)
        return inputs.baits(cols)

    def build(tag: str):
        """The network of ``lineitem(..., tag)`` with its serving tables."""
        nodes, edges = network_build.build_network(
            queries._synthetic_pchic(run.spark, os.path.join(d, f"sf_{tag}")),
            wt_threshold=inputs.WT_THRESHOLD, materialize=True,
        )
        tables = materialize.write_bucketed_search_tables(
            nodes, search.build_token_index(nodes), prefix=f"perfbench_{tag}"
        )
        edges = edges.persist()
        edges.count()
        sym = search.pin_serving_adjacency(edges)
        return (run.spark.table(tables["nodes"]), edges,
                run.spark.table(tables["token_index"]), sym)

    def warm_up() -> None:
        # a build of a small network, not timed as an op
        lineitem(inputs.WARM_LINEITEM, "warm")
        _nodes, wedges, _tokens, wsym = build("warm")
        wedges.unpersist()
        wsym.unpersist()

    run.setup(warm_up)
    spark = run.spark
    bait_list = lineitem(inputs.N_LINEITEM, "net")
    bnodes, edges, btokens, sym = run.prepare(lambda: build("net"))
    cache = serving.ResultCache(os.path.join(d, "result_cache"))
    upload_dir = os.path.join(d, "uploads")
    checks: list[tuple[dict, str, object]] = []

    def request(req):
        return lambda: serving.serve_search(
            cache, bnodes, edges, req["search"], nearest=req["nearest"],
            expand=req["expand"], token_index=btokens, pinned_sym=sym,
            pin_policy="auto",
        )

    def upload(fmt: str, tag: str) -> None:
        name, lines = inputs.feature_lines(fmt, run.seed, tag)
        path = inputs.write_lines(feature_dir, name, lines)
        rec, meta = run.call("upload", lambda: uploads.process_upload(
            spark, path, bnodes, edges, upload_dir, skip_pp_po=True
        ))
        checks.append((rec, "upload", (name.split(".")[0], meta)))

    seen: set[tuple] = set()

    def search_op(req: dict) -> None:
        key = (req["search"], req["nearest"], req["expand"])
        hit = key in seen
        kind = f"{req['kind']}_hit" if hit else "search_miss"
        seen.add(key)
        rec, res = run.call(kind, request(req))
        if hit and res is not None:
            # a digest, not a copy, of each of the many memo hits
            res = (_digest(res[0]), res[1])
        checks.append((rec, kind, (req, res)))

    def one_pass(p: int) -> None:
        traffic = inputs.search_traffic(run.seed, p, bait_list)
        n_new = len(inputs.PASS_KINDS)
        for req in traffic[:n_new]:
            search_op(req)
        # the memo hits in even runs around the uploads, so that they
        # span the pass rather than a few hundred milliseconds of it
        hits = traffic[n_new:]
        n_runs = len(inputs.PASS_UPLOADS) + 1
        for i in range(n_runs):
            for req in hits[i * len(hits) // n_runs:(i + 1) * len(hits) // n_runs]:
                search_op(req)
            if i < len(inputs.PASS_UPLOADS):
                upload(inputs.PASS_UPLOADS[i], f"p{p}")

    try:
        run.loop(one_pass)
    finally:
        run.tracer.unwrap()

    # --- correctness, outside every timed window ---
    check_garden_net(run, checks, upload_dir)

    if run.trace:
        for o in run.ops:
            if o["kind"] == "search_miss":
                run.note("search.jobs_per_miss", o["jobs"])
                run.note("search.tasks_per_miss", o["tasks"])
            elif o["kind"] == "upload":
                run.note("uploads.jobs_per_upload", o["jobs"])
        for rec, kind, payload in checks:
            if kind == "search_miss" and payload[1] is not None:
                run.note("search.result_bytes_p50", len(payload[1][0]))

    edges.unpersist()
    sym.unpersist()
    return {"baits": len(bait_list)}


def _searched_ok(req: dict, result: str) -> str | None:
    """Why the search result is wrong, or None. Seeds must be flagged
    ``searched`` and be what the term names."""
    if result == "{}":
        return f"empty result for {req['search']!r}"
    nodes = [
        e["data"] for e in json.loads(result)["elements"] if e["group"] == "nodes"
    ]
    seeds = [n for n in nodes if n.get("searched") == "true"]
    if not seeds:
        return f"no node flagged searched for {req['search']!r}"
    if req["kind"] == "gene":
        for n in seeds:
            if req["search"].lower() not in (n.get("names") or "").lower().split():
                return f"seed {n['id']} does not carry {req['search']!r}"
    else:  # nearest: the bait holding the point
        chrom, pos = req["search"].split(":")
        start = int(pos) - 50
        if [n["id"] for n in seeds] != [f"{chrom}_{start}_{start + 99}"]:
            return f"nearest seed mismatch for {req['search']!r}"
    return None


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def check_garden_net(run: Run, checks, upload_dir: str) -> None:
    miss_digest: dict[tuple, str] = {}
    for rec, kind, payload in checks:
        if not rec["ok"]:
            continue
        if kind == "search_miss" or kind.endswith("_hit"):
            req, (result, was_hit) = payload
            key = (req["search"], req["nearest"], req["expand"])
            if was_hit != kind.endswith("_hit"):
                run.wrong(rec, f"memo {'hit' if was_hit else 'miss'} unexpected")
            elif kind == "search_miss":
                miss_digest[key] = _digest(result)
                why = _searched_ok(req, result)
                if why:
                    run.wrong(rec, why)
            elif result != miss_digest.get(key):
                run.wrong(rec, "memo hit differs from its miss")
        elif kind == "upload":
            name, meta = payload
            with open(os.path.join(upload_dir, "_status", f"{name}.status.json")) as fh:
                state = json.load(fh)["state"]
            if state != "SUCCESS":
                run.wrong(rec, f"upload status {state}")
            elif not {"net", "pp", "po"} <= set(meta) or not meta["net"]:
                run.wrong(rec, "upload metadata lacks net/pp/po")


# -------------------------------------------------------------------------
# ingest_stream: near-dup gated document batches against a stored index
# -------------------------------------------------------------------------


def _tree_state(*dirs: str) -> list[tuple]:
    """Names, sizes and mtimes of every file under ``dirs`` — a replay
    that is a true no-op leaves this unchanged."""
    out = []
    for top in dirs:
        for dirpath, _dirs, files in os.walk(top):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                out.append((os.path.join(dirpath, f), st.st_size, st.st_mtime_ns))
    return sorted(out)


def ingest_stream(run: Run) -> dict:
    from garden_net_backend_spark.streaming import ingest

    d = run.workdir
    backfill = inputs.doc_batches(run.seed, 0)[0]

    def frame(batch):
        return run.spark.createDataFrame(batch["docs"], "doc_id long, text string")

    def backfill_into(tag: str, batch) -> None:
        ingest.process_ingest_batch(
            batch, 0, os.path.join(d, tag, "accepted"),
            os.path.join(d, tag, "index"), metrics=False, **INGEST_KW
        )

    # warm-up: a backfill of the batch's first docs into a store of its own
    run.setup(lambda: backfill_into(
        "warm", frame({"docs": backfill["docs"][:inputs.WARM_DOCS]})
    ))
    spark = run.spark
    first = frame(backfill)
    run.prepare(lambda: backfill_into("base", first))
    base_acc = os.path.join(d, "base", "accepted")
    base_idx = os.path.join(d, "base", "index")
    stores: list[tuple[str, str, dict]] = []

    def one_pass(p: int) -> None:
        # every pass ingests a new batch into its own copy of the
        # backfilled store, so every pass does the same work
        acc = os.path.join(d, f"pass{p}", "accepted")
        idx = os.path.join(d, f"pass{p}", "index")
        shutil.copytree(base_acc, acc)
        shutil.copytree(base_idx, idx)
        batch = inputs.doc_batches(run.seed, p + 1)[p + 1]
        mb = frame(batch)
        run.call("ingest_batch", lambda: ingest.process_ingest_batch(
            mb, 1, acc, idx, **INGEST_KW
        ))
        stores.append((acc, idx, batch))
        if run.trace:
            after_batch(acc)

    def after_batch(acc: str) -> None:
        run.note("ingest.persisted_rdds_after_batch", run.jobs.persisted_rdds())
        run.note("ingest.jvm_heap_used_mb_after_batch", run.jobs.jvm_heap_used_mb())
        rows = spark.read.parquet(acc + "_metrics").select("decide_sec", "write_sec").collect()
        if rows:
            run.note("ingest.decide_s", rows[0]["decide_sec"])
            run.note("ingest.write_s", rows[0]["write_sec"])

    try:
        run.loop(one_pass)
        # end of the stream: compaction of the backfilled store and of the
        # last pass's store (one op each: the corpus, then the index); on
        # the latter a replay of the compacted batch, then the index audit
        acc, idx, last = stores[-1]

        for store in ((base_acc, base_idx), (acc, idx)):
            run.call("compact", lambda: [
                ingest.compact_ingest_index(spark, path) for path in store
            ])
        before = _tree_state(acc, idx)
        mb = frame(last)
        replay, _ = run.call("replay", lambda: ingest.process_ingest_batch(
            mb, 1, acc, idx, **INGEST_KW
        ))
        changed = _tree_state(acc, idx) != before
        audit_rec, audit = run.call(
            "audit", lambda: ingest.audit_ingest_index(spark, acc, idx, **AUDIT_KW)
        )
    finally:
        run.tracer.unwrap()

    # --- correctness, outside every timed window ---
    def check_store(rec: dict, acc_p: str, batches: list) -> None:
        got = {r[0] for r in spark.read.parquet(acc_p).select("doc_id").collect()}
        want = {i for b in batches for i in b["originals"]}
        planted = {i for b in batches for i in b["dups"]}
        bad, missing = sorted(got & planted), sorted(want - got)
        if bad or missing:
            run.wrong(rec, f"accepted dups {bad[:5]} / rejected originals {missing[:5]}")

    prepare_op = next(o for o in run.ops if o["kind"] == "prepare")
    check_store(prepare_op, base_acc, [backfill])
    batch_ops = [o for o in run.ops if o["kind"] == "ingest_batch"]
    for rec, (acc_p, _idx, batch) in zip(batch_ops, stores):
        check_store(rec, acc_p, [backfill, batch])
    if changed:
        run.wrong(replay, "replay of a compacted batch rewrote the store")
    if audit_rec["ok"] and not audit["ok"]:
        run.wrong(audit_rec, f"audit_ingest_index not clean: {audit}")

    if run.trace:
        for o in batch_ops:
            run.note("ingest.jobs_per_batch", o["jobs"])
        run.note("ingest.replay_s", replay["s"])

    busy = sum(o["s"] for o in batch_ops)
    return {
        "ingest_docs_per_s": len(batch_ops) * inputs.BATCH_DOCS / busy if busy else None,
        "audit_result": audit,
    }


WORKLOADS = {"garden_net": garden_net, "ingest_stream": ingest_stream}
