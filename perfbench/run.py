"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload garden_net --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics and
writes the run's spans. The line before it (``# perfbench ...``) holds
the per-face figures with their sample counts, error classes and the
host. Full records land in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metric → unit. The ``_p50`` metrics are medians of one
#: kind of op each (``workloads.OP_METRICS``).
END_TO_END = {
    "setup_s": "s",
    "prepare_s": "s",
    "request_p50_s": "s",
    "write_p50_s": "s",
}

#: per-layer metric → unit. ``_s`` metrics of engine functions are the
#: median span per call; ``self.<layer>_s`` is the layer's summed self
#: time. A layer the workload never calls reads 0.
PER_LAYER = {
    "session.get_session_s": "s",
    "session.worker_warm_s": "s",
    "readers.read_feature_s": "s",
    "network_build.build_network_s": "s",
    "network_build.to_cytoscape_json_s": "s",
    "search.build_token_index_s": "s",
    "search.pin_serving_adjacency_s": "s",
    "search.search_subnetwork_s": "s",
    "search.jobs_per_miss": "count",
    "search.tasks_per_miss": "count",
    "search.result_bytes_p50": "bytes",
    "materialize.write_bucketed_search_tables_s": "s",
    "serving.serve_search_s": "s",
    "serving.cache_get_ms": "ms",
    "serving.cache_put_ms": "ms",
    "feature_metrics.merge_features_s": "s",
    "feature_metrics.feature_metadata_s": "s",
    "chas.chas_s": "s",
    "interval.overlap_aggregate_s": "s",
    "interval.range_query_s": "s",
    "uploads.process_upload_s": "s",
    "uploads.jobs_per_upload": "count",
    "ingest.process_ingest_batch_s": "s",
    "ingest.decide_s": "s",
    "ingest.write_s": "s",
    "ingest.jobs_per_batch": "count",
    "ingest.compact_ingest_index_s": "s",
    "ingest.audit_ingest_index_s": "s",
    "ingest.replay_s": "s",
    "ingest.persisted_rdds_after_batch": "count",
    "ingest.jvm_heap_used_mb_after_batch": "MB",
    "self.session_s": "s",
    "self.readers_s": "s",
    "self.network_build_s": "s",
    "self.search_s": "s",
    "self.materialize_s": "s",
    "self.serving_s": "s",
    "self.feature_metrics_s": "s",
    "self.chas_s": "s",
    "self.interval_s": "s",
    "self.uploads_s": "s",
    "self.ingest_s": "s",
    "self.client_s": "s",
    "trace.spans": "count",
}

#: span names whose per-call median only counts calls made by one op
#: kind (the replay and the backfill are reported on their own; memo
#: hits have serving.cache_get_ms)
SPAN_OP = {
    "ingest.process_ingest_batch": "ingest_batch#",
    "serving.serve_search": "search_miss#",
}


def host_info(driver_mem: str) -> dict:
    info = {"cores": len(os.sched_getaffinity(0)), "driver_mem": driver_mem}
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                info["mem_total_mb"] = int(line.split()[1]) // 1024
    info["git_rev"] = git_rev()
    return info


def git_rev() -> str:
    """HEAD of the checkout when it is a git work tree, else "unknown"."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return "unknown"


def driver_memory() -> str:
    """A quarter of physical memory, at most 8 GiB: the host is shared,
    and the engine's 48g default does not fit a small one."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{max(1024, min(8192, kb // 4096))}m"


def isolate(workdir: str) -> str:
    """Point the engine and Spark at fresh directories under the run's
    work dir before the JVM starts; returns the driver memory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    mem = driver_memory()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # spark-warehouse/ and the result cache land in the work dir
    os.chdir(workdir)
    return mem


def layer_metrics(run) -> dict:
    from stats import median

    tracer = run.tracer
    out = {}
    for name in PER_LAYER:
        if name.startswith("self.") or name == "trace.spans":
            continue
        if name in run.layer:
            vals = run.layer[name]
        elif name.endswith("_ms"):
            vals = [v * 1000.0 for v in tracer.durations(name[:-3])]
        else:
            span = name[:-2]
            prefix = SPAN_OP.get(span)
            vals = [
                s["end"] - s["start"] for s in tracer.spans
                if s["name"] == span and (prefix is None or (s["op"] or "").startswith(prefix))
            ]
        out[name] = median(vals) if vals else 0.0
    own: dict[str, float] = {}
    for span, t in tracer.self_times().items():
        layer = "client" if span.startswith("op.") else span.split(".")[0]
        own[layer] = own.get(layer, 0.0) + t
    for name in PER_LAYER:
        if name.startswith("self."):
            out[name] = own.get(name[5:-2], 0.0)
    out["trace.spans"] = len(tracer.spans)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "garden_net_backend_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from spans import tree_peak_rss_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(out_dir, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(workdir)
    start_dir = os.getcwd()
    run = None
    try:
        mem = isolate(workdir)
        run = workloads.Run(
            args.workload, args.seed, args.seconds, bool(args.trace), workdir, ROOT
        )
        info = workloads.WORKLOADS[args.workload](run)
        e2e = run.end_to_end()
        if args.trace:
            metrics = layer_metrics(run)
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        attempted = len(run.ops)
        failed = sum(1 for o in run.ops if not o["ok"])
        wrong = [o for o in run.ops if (o["error"] or "").startswith("WRONG_RESULT")]
        errors: dict[str, int] = {}
        for o in run.ops:
            if o["error"]:
                errors[o["error"]] = errors.get(o["error"], 0) + 1
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "host": host_info(mem), "passes": len(run.passes),
            "failed_ratio": failed / attempted, "errors": errors,
            "peak_rss_mb": tree_peak_rss_mb(),
            "faces": {**run.faces(), **info}, "end_to_end": e2e, "ops": run.ops,
        }
        os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(out_dir, "results", f"{stem}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        if args.trace:
            run.tracer.write(os.path.join(out_dir, "results", f"{stem}.spans.jsonl"))
        short = {
            k: record[k]
            for k in ("host", "passes", "failed_ratio", "errors", "peak_rss_mb", "faces")
        }
        print("# perfbench " + json.dumps(short, default=str), flush=True)
        print(json.dumps({
            "correct": not wrong,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": metrics[k], "unit": units[k]} for k in units
            },
        }), flush=True)
        return 0
    finally:
        os.chdir(start_dir)
        if run is not None and run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(workdir, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a wedged JVM is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    raise SystemExit(main())
