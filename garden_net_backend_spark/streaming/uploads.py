"""Async feature-upload pipeline as a Structured Streaming file source
(reference lifecycle §3.3: backend.py:109-331 — Flask saves the upload,
Celery queues it, merge_features.R processes it, a FIFO carries
``msg: pct`` progress lines and a QUIT sentinel).

Spark-native mapping: the uploads directory IS the queue. A
``readStream`` text file-source discovers new feature files;
``foreachBatch`` dispatches the SAME batch merge-features plan
(plans/feature_metrics.py) once per discovered file; a per-upload JSON
status file carries the progress protocol (PENDING → PROGRESS(pct) →
SUCCESS | FAILURE — the states Celery exposes at backend.py:334-370).

Scale notes: the stream moves only file *names* into the driver (the
batch contents are re-read by the typed per-format readers — predicate
pushdown and declared schemas intact); the merge itself is the binned
interval join + groupBy, fully distributed. State is Spark's file-source
checkpoint; foreachBatch side effects are AT-LEAST-ONCE — a crash after
``process_upload`` succeeds but before the checkpoint commits replays
that upload on restart. Results converge because every write is an
idempotent overwrite (parquet mode=overwrite, atomic status-file
replace), and the dispatcher additionally skips uploads whose status
file already reads SUCCESS, so a replayed batch neither recomputes nor
regresses a finished upload's status.

Format dispatch mirrors backend.py:117-195 (user-declared format +
column count). Without an HTTP request to carry the format, it is
declared in the filename (``<name>.<fmt>.<ext>``) or inferred from the
column shape — ``infer_feature_format`` documents the rules.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_path, pin, release
from ..sources.readers import HEADER_LINE

_FORMATS = ("features_on_nodes", "features_table", "chromhmm", "macs2", "bed6", "bed3")

_FRAGMENT_KEY = re.compile(r"^chr[^\t]*_\d+(_\d+)?$")


def infer_feature_format(path: str) -> str:
    """Resolve the feature-file format for one upload.

    Priority (mirrors the (format_option, ncols) table at
    backend.py:181-195, with the filename standing in for the HTTP
    format option):

    1. explicit ``.<fmt>.`` token in the filename
       (``h3k27.macs2.tsv`` → macs2);
    2. first column matches the fragment-key shape → features_on_nodes;
    3. column count of the first line that is not a BED header line
       (``track``, ``browser``, ``#``): 6 → bed6, ≥9 → macs2 (narrowPeak),
       4 with non-numeric 4th column → chromhmm,
       4 with numeric 4th → bed3 (bedgraph callers should declare
       ``features_table`` explicitly — same ambiguity the reference
       resolves via the user's format option),
       3 → bed3.
    """
    base = os.path.basename(path).lower()
    for fmt in _FORMATS:
        if f".{fmt}." in base or base.endswith(f".{fmt}"):
            return fmt
    with open(path) as fh:
        first = next(
            (ln for ln in fh if not re.match(HEADER_LINE, ln)), ""
        ).rstrip("\n")
    cells = first.split("\t")
    if cells and _FRAGMENT_KEY.match(cells[0]):
        return "features_on_nodes"
    n = len(cells)
    if n == 6:
        return "bed6"
    if n >= 9:
        return "macs2"
    if n == 4:
        try:
            float(cells[3])
            return "bed3"
        except ValueError:
            return "chromhmm"
    return "bed3"


class _Status:
    """Per-upload progress file — the FIFO ``msg: pct`` protocol
    (merge_features.R:48-51, backend.py:265-331) as idempotent JSON."""

    def __init__(self, status_dir: str, upload: str) -> None:
        os.makedirs(status_dir, exist_ok=True)
        self.path = os.path.join(status_dir, f"{upload}.status.json")

    def write(self, state: str, pct: int, message: str) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"state": state, "percentage": pct, "message": message,
                 "ts": time.time()},
                fh,
            )
        os.replace(tmp, self.path)


def process_upload(
    spark: SparkSession,
    path: str,
    nodes: DataFrame,
    edges: DataFrame,
    out_dir: str,
    agg: str = "mean",
    n_random: int = 1,
    n_random_po: int = 50,
    skip_pp_po: bool = False,
) -> dict:
    """The per-upload batch job (one Celery task worth of work):
    read → merge onto nodes → {net, pp, po} metadata → results on disk.

    Returns the metadata dict. Writes, per upload ``<name>``:
    ``<out_dir>/<name>/features.parquet`` (the dense long-form node
    feature matrix — parquet, not JSON: at 100 TB this is a table, the
    reference's features.json at merge_features.R:110-135 is its
    driver-sized ancestor) and ``<out_dir>/<name>/features_metadata.json``.
    ``n_random=1`` matches the interactive-upload cost knob
    (merge_features.R:78; SURVEY §6)."""
    from ..plans.feature_metrics import feature_metadata, merge_features
    from ..sources.readers import read_feature, read_features_on_nodes

    upload = os.path.basename(path).split(".")[0]
    status = _Status(os.path.join(out_dir, "_status"), upload)
    status.write("PROGRESS", 10, "reading feature file")
    grid = None
    try:
        fmt = infer_feature_format(path)
        if fmt == "features_on_nodes":
            feats_long = read_features_on_nodes(spark, path).join(
                nodes.select("fragment"), "fragment", "left_semi"
            )
            # dense grid: nodes with no value → missing fill 0
            dense = (
                nodes.select("fragment")
                .crossJoin(feats_long.select("feature").distinct())
                .join(feats_long, ["fragment", "feature"], "left")
                .select(
                    "fragment",
                    "feature",
                    F.coalesce("value", F.lit(0.0)).alias("value"),
                )
            )
        else:
            intervals = read_feature(spark, path, fmt)
            status.write("PROGRESS", 40, f"merging as {fmt} ({agg})")
            dense = merge_features(nodes, intervals, agg=agg)
        # the metadata and the parquet write both read the grid: build
        # it once
        grid = pin(dense)
        status.write("PROGRESS", 70, "computing ChAS metadata")
        meta = feature_metadata(
            nodes, edges, grid, n_random=n_random,
            n_random_po=n_random_po, skip_pp_po=skip_pp_po,
        )
        dest = os.path.join(out_dir, upload)
        grid.write.mode("overwrite").parquet(
            os.path.join(dest, "features.parquet")
        )
        with open(os.path.join(dest, "features_metadata.json"), "w") as fh:
            json.dump(meta, fh, indent=1, sort_keys=True)
        status.write("SUCCESS", 100, "done")
        return meta
    except Exception as e:  # mirror Celery FAILURE state, then re-raise
        status.write("FAILURE", 100, f"{type(e).__name__}: {e}")
        raise
    finally:
        if grid is not None:
            release(grid)


def watch_feature_uploads(
    spark: SparkSession,
    uploads_dir: str,
    nodes: DataFrame,
    edges: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    agg: str = "mean",
    n_random: int = 1,
    available_now: bool = False,
):
    """Start the upload watcher → StreamingQuery.

    File-source stream over ``uploads_dir``; each micro-batch carries
    the new files' lines, but only ``input_file_name()`` is collected
    (driver-sized: one row per new upload) — ``process_upload`` then
    runs the typed batch plan per file. ``maxFilesPerTrigger=1`` keeps
    one upload per micro-batch so the checkpoint commits uploads
    individually, like one Celery task per request."""

    def _dispatch(batch_df: DataFrame, batch_id: int) -> None:
        files = [
            r["f"]
            for r in batch_df.select(
                F.input_file_name().alias("f")
            ).distinct().collect()
        ]
        for uri in sorted(files):
            local = local_path(uri)
            # at-least-once guard: a replayed batch (crash between
            # process_upload and the checkpoint commit) skips uploads
            # already finished, instead of briefly regressing their
            # status SUCCESS → PROGRESS
            upload = os.path.basename(local).split(".")[0]
            st_path = os.path.join(out_dir, "_status", f"{upload}.status.json")
            try:
                with open(st_path) as fh:
                    if json.load(fh).get("state") == "SUCCESS":
                        continue
            except (OSError, ValueError):
                pass
            process_upload(
                spark, local, nodes, edges, out_dir,
                agg=agg, n_random=n_random,
            )

    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1).text(uploads_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(_dispatch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
