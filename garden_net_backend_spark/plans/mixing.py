"""Training-mix planning (north-star extension): deterministic weighted
source sampling and sequence packing — the two operations between a
cleaned corpus and a token stream a trainer can consume.

Both are engine-portable by construction: sampling decisions come from
md5 (bit-identical in every engine, unlike xxhash64/murmur — the same
discipline as ``functions.text.hash_split``), and packing layout from a
per-source running token offset, so a re-run on different partitioning
— or a different engine — reproduces the exact same mix and the exact
same sequence boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.text import whitespace_tokens

# tokenization shared with chunk_tokens / the q45 oracle arms:
# whitespace split, empty tokens dropped
def _n_tokens(text_col: str):
    return F.size(whitespace_tokens(F.col(text_col)))


def weighted_sample_by_source(
    docs: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-source downsampling → input rows + ``kept``
    boolean (callers filter; keeping the column makes audits and
    oracle checks cover BOTH decisions).

    A doc is kept iff ``u < rate(source)`` where ``u`` is the first 8
    hex digits of ``md5(seed:doc_id)`` as a 32-bit integer — stable
    under reprocessing, partitioning, and engine choice, and
    independent per seed. Rates are compared against exact integer
    thresholds ``floor(rate · 2^32)`` (no float comparison drift).
    Pure column math over a map literal: zero shuffles, zero UDFs —
    the mix of a 100 TB corpus costs one scan.
    """
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0,1], got {r}")
    thresholds = {s: int(r * (1 << 32)) for s, r in rates.items()}
    if thresholds:
        thr_map = F.create_map(
            *[F.lit(v) for s, t in thresholds.items() for v in (s, t)]
        )
        thr = F.coalesce(
            F.element_at(thr_map, F.col(source_col)),
            F.lit(int(default_rate * (1 << 32))),
        )
    else:
        thr = F.lit(int(default_rate * (1 << 32)))
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return docs.withColumn("kept", u < thr)


def temperature_rates(
    source_weights: dict[str, float],
    temperature: float = 1.0,
    target_fraction: float | None = None,
) -> dict[str, float]:
    """Temperature-flattened sampling rates from per-source sizes →
    ``{source: rate}`` for :func:`weighted_sample_by_source`.

    The standard multilingual/source-balancing recipe (mT5 §3.1,
    XLM-R): sample source s with probability ∝ p_s^τ where p_s is the
    source's share of the corpus (by tokens or documents — pass either
    as weights). τ=1 keeps natural proportions; τ→0 approaches uniform
    over sources; intermediate τ up-weights the tail without drowning
    the head. Per-document KEEP rates are the ratio of the flattened
    share to the natural share, scaled so the largest rate is 1.0
    (sampling can only drop), or so the expected kept fraction equals
    ``target_fraction`` when given (rates clamp at 1.0 — the exact
    flattened mix may be unreachable for head sources; clamping is the
    standard compromise, bias toward the head, never oversampling).

    Driver-sized math over the source list (sources are thousands at
    most); the decisions it feeds stay zero-shuffle hash comparisons.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    total = float(sum(source_weights.values()))
    if total <= 0 or any(w < 0 for w in source_weights.values()):
        raise ValueError("source weights must be non-negative, sum > 0")
    shares = {s: w / total for s, w in source_weights.items()}
    flat = {s: p**temperature for s, p in shares.items() if p > 0}
    z = sum(flat.values())
    flat = {s: f / z for s, f in flat.items()}
    # keep-rate ∝ flattened/natural; normalize per the caller's goal
    ratio = {s: flat[s] / shares[s] for s in flat}
    if target_fraction is None:
        scale = 1.0 / max(ratio.values())
    else:
        if not 0.0 < target_fraction <= 1.0:
            raise ValueError("target_fraction must be in (0, 1]")
        # E[kept fraction] = Σ_s p_s · min(1, scale·ratio_s); solve for
        # scale by bisection (monotone in scale, clamping makes it
        # piecewise-linear)
        def kept(scale: float) -> float:
            return sum(p * min(1.0, scale * ratio[s]) for s, p in shares.items() if p > 0)

        lo, hi = 0.0, max(1.0 / min(ratio.values()), 1.0)
        for _ in range(80):
            mid = (lo + hi) / 2
            if kept(mid) < target_fraction:
                lo = mid
            else:
                hi = mid
        scale = hi
    return {s: min(1.0, scale * r) for s, r in ratio.items()}


def leakage_safe_split(
    docs: DataFrame,
    representatives: DataFrame,
    id_col: str = "doc_id",
    boundaries: tuple[tuple[str, int], ...] = (
        ("train", 204),
        ("val", 230),
        ("test", 256),
    ),
) -> DataFrame:
    """Near-dup-aware train/val/test assignment → input rows +
    ``split`` label.

    A per-document ``hash_split`` leaks: a train document's near-dup
    twin lands in test ~20% of the time, silently inflating eval. Split
    by the md5 bucket of the document's CLUSTER REPRESENTATIVE
    (``operators/dedup.dedup_representatives``) instead — every member
    of a near-dup cluster shares the representative, so the whole
    cluster moves to one side of the boundary. One broadcast-sized join
    (the rep map covers only docs, dup map is dup-count-sized at scale)
    on top of the zero-shuffle hash assignment.
    """
    from ..functions.text import hash_split

    rep = representatives.select(
        F.col(id_col), F.col("representative").cast("string").alias("_rep")
    )
    return (
        docs.join(rep, id_col, "left")
        .withColumn(
            "split",
            hash_split(F.coalesce(F.col("_rep"), F.col(id_col).cast("string")), boundaries),
        )
        .drop("_rep")
    )


def pack_sequences(
    docs: DataFrame,
    tokens_per_seq: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """GPT-style sequence packing plan: concatenate documents (in
    ``id_col`` order, per ``group_col`` shard) into fixed
    ``tokens_per_seq`` windows, documents spanning window boundaries →
    one row per (document × sequence) span:
    ``(group_col, id_col, seq_id, tok_begin, n_tokens_in_seq)`` where
    ``tok_begin`` is the span's offset inside the sequence.

    The running token offset is a window cumsum partitioned by
    ``group_col`` — training shards are per-source in practice, so no
    global window exists and the one shuffle is the per-source sort.
    (A mega-source still holds: the window is a sort within its
    partition, spill-backed; for truly single-source corpora shard by
    ``hash_split``-style buckets first and treat the bucket as the
    group.) Zero-token documents occupy no span and emit no row.

    ``n_tokens_col`` overrides the whitespace token count with a
    precomputed per-doc length — pass ``n_bpe_tokens`` from
    ``operators/bpe.bpe_encode`` to lay out sequences in REAL tokenizer
    units (what the trainer's context window actually holds).
    """
    n = F.col(n_tokens_col) if n_tokens_col else _n_tokens(text_col)
    w = W.partitionBy(group_col).orderBy(id_col)
    offs = docs.select(
        group_col,
        id_col,
        n.alias("_n"),
        (F.sum(n).over(w) - n).alias("_off"),
    ).filter(F.col("_n") > 0)
    s = tokens_per_seq
    first_seq = (F.col("_off") / s).cast("long")
    last_seq = ((F.col("_off") + F.col("_n") - 1) / s).cast("long")
    spans = offs.select(
        group_col,
        id_col,
        "_off",
        "_n",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    span_begin = F.greatest(F.col("_off"), F.col("seq_id") * s)
    span_end = F.least(F.col("_off") + F.col("_n"), (F.col("seq_id") + 1) * s)
    return spans.select(
        group_col,
        id_col,
        "seq_id",
        (span_begin - F.col("seq_id") * s).cast("long").alias("tok_begin"),
        (span_end - span_begin).cast("long").alias("n_tokens_in_seq"),
    )


def cluster_quota_sample(
    vectors: DataFrame,
    cells: DataFrame,
    quota: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
    method: str = "threshold",
    assign: str = "arrow",
    cell_counts: DataFrame | None = None,
) -> DataFrame:
    """Diversity sampling over an embedding column: assign every
    vector to its nearest FROZEN cell, then cap each cell at ``quota``
    survivors — the cluster-then-uniform curation step that keeps a
    training mix from being dominated by whatever content is most
    duplicated in embedding space (the SemDeDup-family companion:
    dedup removes near-identical points, this bounds per-REGION mass).
    Returns the input rows + ``_cell`` + ``kept`` boolean (callers
    filter; keeping both makes audits and oracles cover every
    decision, the ``weighted_sample_by_source`` convention).

    Selection is deterministic in the ``md5(seed:id)`` hash order —
    stable under reprocessing, partitioning, and engine choice (same
    discipline as every sampler in this module). Two methods, chosen
    by the 100 TB shape of the cell-size distribution:

    - ``method="threshold"`` (default, the at-scale path): keep iff
      ``u < quota / |cell|`` with cell sizes from ONE combinable
      groupBy broadcast back onto the scan — two scans total, zero
      per-cell sorts, so a pathological mega-cell costs the same as
      any other. Keeps ``quota`` per cell in EXPECTATION (binomial
      jitter ~ ±2√quota); cells at or under quota are kept whole,
      exactly.
    - ``method="exact"``: per-cell top-``quota`` under the hash order
      via one window — exact counts, at the cost of sorting each
      cell's rows in a single task (the classic skewed-window shape;
      fine while the largest cell fits a task comfortably).

    ``cells`` is any frame ``_alias_cells`` accepts ((cell_id,
    centroid) or (centroid_id, centroid_vec)); pass the SAME frozen
    frame the rest of the pipeline uses so regions mean the same thing
    everywhere. ``cell_counts`` (optional, (``_cell``, ``n``)) lets a
    caller reuse counts it already maintains; otherwise one aggregate
    derives them."""
    from ..operators.similarity import _alias_cells, _assign_cells

    if quota < 1:
        raise ValueError(f"quota must be >= 1 (got {quota})")
    if method not in ("threshold", "exact"):
        raise ValueError(
            f"method must be 'threshold' or 'exact' (got {method!r})"
        )
    assigned = vectors.join(
        _assign_cells(
            vectors.select(id_col, vec_col), _alias_cells(cells),
            id_col, vec_col, assign,
        ),
        id_col,
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(str(seed)), F.col(id_col).cast("string")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    if method == "exact":
        w = W.partitionBy("_cell").orderBy(u.asc(), F.col(id_col).asc())
        return assigned.withColumn(
            "kept", F.row_number().over(w) <= quota
        )
    counts = (
        cell_counts
        if cell_counts is not None
        else assigned.groupBy("_cell").agg(F.count("*").alias("n"))
    )
    # u is uniform on [0, 2^32); keep iff u < floor(quota·2^32 / n) —
    # INTEGER division (SQL div), so the per-cell threshold is exact
    # and engine-portable with no double-rounding drift; n <= quota
    # saturates the threshold at 2^32 and keeps the whole cell
    thr = F.least(
        F.lit(1 << 32).cast("long"),
        F.expr(f"CAST({int(quota) * (1 << 32)} AS BIGINT) div n"),
    )
    return (
        assigned.join(F.broadcast(counts.withColumn("_thr", thr)), "_cell")
        .withColumn("kept", u < F.col("_thr"))
        .drop("n", "_thr")
    )
