"""Source readers — every scan format the reference supports (SURVEY.md §2.1).

All readers return DataFrames with declared schemas (schemas.py); no
inference. Gzip is transparent (Spark reads ``.gz`` natively — the
reference shells out to zcat, backend.py:124-126).

Format sniffing (reference network_generator.R:50-55 counts columns
with awk) is a driver-side peek at the first line — cheap and exact.
"""

from __future__ import annotations

import gzip
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas


def _first_line(path: str) -> str:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as fh:  # type: ignore[arg-type]
        return fh.readline().rstrip("\n")


def sniff_format(path: str, sep: str = "\t") -> tuple[str, int]:
    """Return ("hic"|"pchic", n_columns) by counting header columns.

    Mirrors the awk column-count dispatch (reference
    network_generator.R:50-55): 6 columns → plain Hi-C, else PCHiC.
    """
    ncols = len(_first_line(path).split(sep))
    return ("hic" if ncols == 6 else "pchic"), ncols


def load_pchic(spark: SparkSession, path: str) -> DataFrame:
    """PCHiC TSV scan (reference load_PCHiC, network_generator_lib.R:281-286).

    Header row present; chr columns are strings by schema, score columns
    (12+) are named from the header (per-cell-type CHiCAGO scores).
    """
    header = _first_line(path).split("\t")
    score_cols = header[11:]
    if not score_cols:
        raise ValueError(f"PCHiC file {path} has no score columns (got {len(header)} cols)")
    return (
        spark.read.option("sep", "\t")
        .option("header", True)
        .schema(schemas.pchic_schema(score_cols))
        .csv(path)
    )


def load_hic(spark: SparkSession, path: str) -> DataFrame:
    """Plain Hi-C scan (reference load_HiC, network_generator_lib.R:292-299).

    6 columns renamed to the bait/oe convention. The reference drops the
    first data row as a header hack; here the header option handles it.
    """
    return (
        spark.read.option("sep", "\t")
        .option("header", True)
        .schema(schemas.HIC_SCHEMA)
        .csv(path)
    )


def load_interactions(spark: SparkSession, path: str) -> tuple[DataFrame, bool]:
    """Sniff the format and load; returns (df, hic_mode)."""
    fmt, _ = sniff_format(path)
    if fmt == "hic":
        return load_hic(spark, path), True
    return load_pchic(spark, path), False


# --- feature files -------------------------------------------------------

_FEATURE_SCHEMAS = {
    "bed3": schemas.BED3_SCHEMA,
    "bed6": schemas.BED6_SCHEMA,
    "macs2": schemas.MACS2_SCHEMA,
    "chromhmm": schemas.CHROMHMM_SCHEMA,
    "features_table": schemas.BEDGRAPH_SCHEMA,
}


_COORDS = ("start", "end")


def _strip_chr_prefix(col):
    return F.regexp_replace(col, "^chr", "")


def read_feature(
    spark: SparkSession, path: str, fmt: str, feature_name: str | None = None
) -> DataFrame:
    """Read any feature-file format into the canonical long-form
    ``(chr, start, end, feature, value)`` interval table
    (FEATURE_INTERVAL_SCHEMA).

    Format semantics follow the reference's chaser::load_features call
    sites (merge_features.R:68, backend.py:181-195):

    - bed3            → one feature (file name), value = signal
    - bed6            → one feature, value = score
    - macs2           → one feature, value = signalValue
    - chromhmm        → one 0/1 feature **per state** (value = 1 rows;
                        absence = 0 handled by the overlap aggregation's
                        missing fill)
    - features_table  → bedgraph; one feature, value column
    - features_on_nodes → already keyed by fragment; handled by
      :func:`read_features_on_nodes` (it is not an interval table).

    Coordinates in these files carry a ``chr`` prefix (chr7); it is
    stripped to the engine's canonical bare chromosome names
    (reference network_generator.R:130).
    """
    default_name = os.path.basename(path).split(".")[0]
    feature_name = feature_name or default_name
    if fmt not in _FEATURE_SCHEMAS:
        raise ValueError(f"unknown feature format: {fmt}")
    # coordinates are read as text and cast under ANSI: a coordinate
    # that is not a number fails the read instead of becoming a null
    # interval that silently matches no node; a missing one stays null
    text_coords = T.StructType(
        [
            T.StructField(f.name, T.StringType()) if f.name in _COORDS else f
            for f in _FEATURE_SCHEMAS[fmt].fields
        ]
    )
    raw = (
        spark.read.option("sep", "\t")
        .option("header", False)
        .schema(text_coords)
        .csv(path)
        .withColumns({c: F.col(c).cast("long") for c in _COORDS})
    )
    chr_col = _strip_chr_prefix(F.col("chr")).alias("chr")
    if fmt == "bed3":
        out = raw.select(chr_col, "start", "end", F.lit(feature_name).alias("feature"), F.col("signal").alias("value"))
    elif fmt == "bed6":
        out = raw.select(chr_col, "start", "end", F.lit(feature_name).alias("feature"), F.col("score").alias("value"))
    elif fmt == "macs2":
        out = raw.select(chr_col, "start", "end", F.lit(feature_name).alias("feature"), F.col("signalValue").alias("value"))
    elif fmt == "chromhmm":
        out = raw.select(chr_col, "start", "end", F.col("state").alias("feature"), F.lit(1.0).alias("value"))
    else:  # features_table / bedgraph
        out = raw.select(chr_col, "start", "end", F.lit(feature_name).alias("feature"), F.col("value"))
    return out


def read_features_on_nodes(spark: SparkSession, path: str) -> DataFrame:
    """``features_on_nodes`` format: first column is a fragment key
    (``chr{c}_{s}_{e}`` — or the degenerate ``chr_{start}`` variant),
    remaining columns are one double per feature. Returns long form
    ``(fragment, feature, value)`` with the ``chr`` prefix stripped
    (reference network_generator.R:130, network_generator_lib.R:369-378).
    """
    header = _first_line(path).split("\t")
    frag_col, feat_cols = header[0], header[1:]
    df = spark.read.option("sep", "\t").option("header", True).csv(path)
    df = df.select(
        _strip_chr_prefix(F.col(frag_col)).alias("fragment"),
        *[F.col(c).cast("double").alias(c) for c in feat_cols],
    )
    # wide → long with a single stack() expression (no Python loop rows)
    stack_expr = ", ".join(f"'{c}', `{c}`" for c in feat_cols)
    return df.selectExpr(
        "fragment", f"stack({len(feat_cols)}, {stack_expr}) as (feature, value)"
    )


def read_alias_db(spark: SparkSession, path: str, organism: str) -> DataFrame:
    """Gene alias / annotation DB scan (reference network_generator.R:107)."""
    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .schema(schemas.alias_schema(organism))
        .csv(path)
    )
    id_col = "HGNC ID" if organism.lower().startswith("homo") else "MGI ID"
    return df.toDF("chr", "start", "end", "gene_type", "ensembl_id", "gene_name", "alias", id_col.split()[0].lower() + "_id")


def read_bait_names(spark: SparkSession, path: str) -> DataFrame:
    """HindIII bait annotation (reference network_generator_lib.R:869-877)."""
    return (
        spark.read.option("sep", "\t")
        .option("header", True)
        .schema(schemas.BAIT_NAMES_SCHEMA)
        .csv(path)
    )


def read_intronic_regions(spark: SparkSession, path: str) -> DataFrame:
    """Intronic interval list (reference network_generator_lib.R:853-855)."""
    return (
        spark.read.option("sep", "\t")
        .option("header", True)
        .schema(schemas.INTRONIC_SCHEMA)
        .csv(path)
    )
