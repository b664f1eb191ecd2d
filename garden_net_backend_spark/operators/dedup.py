"""Deduplication operators for large-scale training-data pipelines.

Six families, each a different cost/recall point (designed for the
~100 TB regime, exercised on the `documents` table). Every family has
the same shape: candidates, then ONE exact check — a verify for the
pair emitters, a first-occurrence index for the cutters — then, for
the cutters, ONE per-document rebuild.

- exact:        hash-groupBy on normalized text — one shuffle.
- n-gram Jaccard: exact set-similarity. Candidates come from a shingle
                inverted index (``ngram_jaccard_pairs``, counting
                join) or from rare-shingle prefixes
                (``ngram_jaccard_pairs_prefix``, AllPairs/PPJoin).
- MinHash+LSH:  candidates from banded signatures (band-hash
                equi-join), the scale path: cost linear in docs +
                candidates, never all-pairs. Given a stored corpus,
                the same kernel probes its banded index.
- SimHash:      64-bit fingerprint; candidates share a 16-bit block,
                verified by Hamming distance.
- embedding cosine: near-dup = cosine ≥ τ over an embedding column —
                implemented in similarity.py (`embedding_dup_pairs`
                exact baseline; `embedding_dup_pairs_lsh` LSH-blocked
                scale path), sharing the ANN machinery.
- substring:    duplicated token SPANS inside otherwise-distinct
                documents (`duplicated_spans` detection,
                `excise_duplicate_spans` first-occurrence-keeps
                removal) — window fingerprinting, the Spark-shaped
                answer to the single-node suffix-array formulation.
- line:         C4/CCNet-style duplicated lines (`line_dedup`).

The shared steps, each written once:

- :func:`_verify_jaccard` — the exact Jaccard check of candidate
  pairs over hashed grams (prefix and MinHash emitters);
- :func:`_first_occurrence_index` — the stored ``(key,
  n_occurrences, first_id, first_pos)`` index of the window and line
  families (:func:`window_index`, :func:`line_index`);
- :func:`_mark_first` — the same first occurrence as window
  aggregates, marking each row (the cutters);
- :func:`_joined_text` / :func:`_doc_rows` — the per-document rebuild
  of the cutters, anchored on the input so every document (NULL text
  included) gets exactly one row.

One kernel per family serves both a whole corpus and an arriving
shard: the shard case passes the stored state (``index=`` for the
cutters, ``corpus_docs=``/``corpus_bands=`` for MinHash), and the
first request is the degenerate case with none, which runs the batch
plan unchanged. The stored indexes are append-only: an ingest loop
appends each shard's first-seen keys and never merges counts.

All hashing is ``xxhash64`` seeded — deterministic across runs,
partitionings, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.partitioning import ensure_min_partitions
from ..functions.text import whitespace_tokens, with_shingles

# Mersenne prime 2^31-1: modulus for the MinHash universal-hash family.
# 31-bit (not 61-bit) so x*a+b stays within a 64-bit long — Spark runs
# ANSI mode and a silent-wrap multiply would abort the job. 2^31 hash
# space is ample for shingle minhashing (collisions only blur Jaccard
# estimates, and candidates are exactly verified afterwards).
_MERSENNE = (1 << 31) - 1

# SimHash blocking: 4 chunks of 16 bits. Pigeonhole: Hamming ≤ 3 ⇒
# some chunk equal, so blocking recall at the default bound is exact.
_SIMHASH_BLOCKS = 4


def _local_checkpoint(df: DataFrame) -> DataFrame:
    """The default ``checkpoint`` of :func:`minhash_dedup_pairs`: an
    eager localCheckpoint. A caller that must release the blocks when
    its unit of work ends (the streaming ingest runner's ``pin``)
    passes its own."""
    return df.localCheckpoint(eager=True)


def normalize_text(col):
    """Canonical text form for exact dedup: lower, collapse whitespace,
    strip."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _verify_jaccard(
    cands: DataFrame, grams: DataFrame, threshold: float
) -> DataFrame:
    """The exact check of every pair emitter: candidate pairs
    ``(id_a, id_b)`` joined on both sides to ``grams`` — an ``(id,
    array)`` frame of distinct grams per doc — → ``(id_a, id_b,
    jaccard)`` with ``|A∩B| / |A∪B| ≥ threshold``, rounded to 9
    places."""
    ga = grams.toDF("id_a", "_ga")
    gb = grams.toDF("id_b", "_gb")
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_ga", "_gb"))
            / F.size(F.array_union("_ga", "_gb")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))
    )


def _hashed_grams(grams: DataFrame, id_col) -> DataFrame:
    """``(id_col, _grams[, _hg])`` → ``(id, _hg)``: the xxhash64 of each
    gram, taken from a precomputed ``_hg`` column when the caller's
    shared checkpoint carries one.

    Verifying over hashed arrays: intersecting arrays of longs is far
    cheaper than intersecting n-gram strings (candidate count × avg doc size
    dominates the verify), and |A∩B| over 64-bit-hashed distinct
    shingles equals the string intersection up to a 2⁻⁶⁴ per-pair
    collision — the same fingerprint trade as the window dedup; sizes
    are exact either way."""
    hg = (
        F.col("_hg")
        if "_hg" in grams.columns
        else F.transform(F.col("_grams"), lambda g: F.xxhash64(g))
    )
    return grams.select(id_col, hg.alias("_hg"))


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one representative (min id) per normalized text →
    (id_col, n_copies). A single hash-shuffle on the normalized text;
    at 100 TB pre-hash to a 128-bit digest column so the shuffle moves
    16-byte keys, not document bodies."""
    return (
        docs.select(
            F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")
        )
        .groupBy("_norm")
        .agg(
            F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
        )
        .drop("_norm")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    shingle: str = "char",
    hash_keys: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs → (id_a, id_b, jaccard),
    id_a < id_b, jaccard ≥ threshold.

    ``hash_keys=True`` joins on ``xxhash64(shingle)`` instead of the
    shingle string — same plan, 8-byte fixed shuffle/join keys instead
    of variable-length trigram strings (measured −44% on the sf0.1
    inverted-index join). Deterministic across runs/partitionings; the
    measure differs from exact-string Jaccard only if two distinct
    shingles in one comparison collide in 64 bits (~|vocab|²/2⁶⁵ —
    ~1e-9 at a 200k vocabulary), which can only matter for pairs
    sitting exactly at the threshold boundary. Callers that gate on
    byte-exact string-Jaccard equality (q30's oracle arm) keep the
    default; pair-set consumers (cluster representatives) opt in.

    Plan: distinct shingles per doc (``shingle`` = char n-grams or word
    n-grams) → inverted index (shingle → doc) → self-join on shingle =
    intersection counts → Jaccard from |A|+|B|−|A∩B|.

    Scale: the self-join cost is Σ_shingle df² — governed by shingle
    document frequency. Small-vocabulary corpora make char n-grams
    near-universal (measured: 26× slower than word trigrams on the
    synthetic documents table at sf0.1); prefer word shingles there,
    or :func:`ngram_jaccard_pairs_prefix`, whose candidates skip the
    hot shingles with the same output.
    """
    sh = with_shingles(
        ensure_min_partitions(docs), text_col, "_grams", n, shingle
    ).select(F.col(id_col).alias("_id"), F.explode("_grams").alias("_sh"))
    if hash_keys:
        sh = sh.select("_id", F.xxhash64("_sh").alias("_sh"))
    # round 13 (guide §2.4): the inverted-index self-join plus the size
    # aggregate consume this exploded frame three times, and Spark
    # plans each consumer as its own full text→shingle→explode pipeline
    # (no exchange reuse across self-join sides). Checkpoint the (id,
    # shingle) rows once — corpus-token-sized blocks, the same
    # materialized-inverted-index trade every posting-list system
    # makes; dropped by the ContextCleaner with the frame.
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_sz"))
    a = sh.select(F.col("_id").alias("id_a"), "_sh")
    b = sh.select(F.col("_id").alias("id_b"), "_sh")
    inter = (
        a.join(b, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"_id": "id_a", "_sz": "_sza"}), "id_a")
        .join(sizes.withColumnsRenamed({"_id": "id_b", "_sz": "_szb"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.col("_sza") + F.col("_szb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    shingle: str = "char",
    grams: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs /
    PPJoin, Bayardo et al. 2007 / Xiao et al. 2008) — same output as
    :func:`ngram_jaccard_pairs`, a different cost curve.

    The inverted-index join costs Σ_shingle df² — boilerplate shingles
    (page headers, license blocks) send it quadratic on real web
    corpora. Prefix filtering is the exact-recall fix: order each
    document's shingles by GLOBAL document frequency ascending (rarest
    first; ties by shingle value) and index only the first
    ``p = |d| − ⌈τ·|d|⌉ + 1`` of them — any pair with Jaccard ≥ τ
    must share at least one prefix shingle (pigeonhole on the overlap
    bound ⌈τ/(1+τ)·(|a|+|b|)⌉ ≥ τ·max), so candidate generation
    touches only rare-shingle collisions while the hot boilerplate
    shingles sit outside every prefix. A length filter
    (τ·|a| ≤ |b| ≤ |a|/τ) prunes candidates before verification, and
    candidates are verified with the exact set intersection
    (:func:`_verify_jaccard` over hashed grams) — recall is provably
    100%, precision exact, so callers can swap this in for the
    baseline emitter with identical results (property-tested).

    Extra cost vs the baseline: one df aggregation and one per-doc
    window sort (both combinable / spill-backed); the win is the
    candidate set collapsing from Σ df² to Σ prefix-df², without
    changing the measure.

    Regime (measured on a boilerplate-skewed sf0.1 corpus, 80% of
    docs sharing a 32-token header/footer): at τ=0.8 — the practical
    near-dup threshold (SlimPajama/RefinedWeb-style pipelines) —
    prefix is ~5-10× the baseline (3.4s vs 17-33s; prefixes are
    (1-τ)·|d|+1 ≈ 20% of each doc and exclude every hot shingle). At
    τ≤0.5 prefixes cover half of each doc and the baseline's counting
    join wins (4.5s vs 14s) — pick by threshold, the outputs are
    identical.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    # ``grams``: optional precomputed (id_col, _grams) distinct-shingle
    # frame (with_shingles output, usually checkpointed, optionally
    # with a hashed ``_hg`` column) — lets a suite running several
    # emitters over one corpus pay the text→shingle normalization once
    # instead of per arm. CONTRACT: when grams is given, ``n``/
    # ``shingle`` are IGNORED — the frame must have been built with the
    # settings the caller intends, or the Jaccard values are silently
    # computed over the wrong shingle measure
    if grams is None:
        grams = with_shingles(
            ensure_min_partitions(docs), text_col, "_grams", n, shingle
        )
    grams = grams.select(
        F.col(id_col).alias("_id"),
        "_grams",
        *(["_hg"] if "_hg" in grams.columns else []),
    )
    sh = grams.select("_id", F.explode("_grams").alias("_sh"))
    dfreq = sh.groupBy("_sh").agg(F.count("*").alias("_df"))
    ranked = sh.join(dfreq, "_sh")
    w = W.partitionBy("_id").orderBy("_df", "_sh")
    sized = ranked.select(
        "_id",
        "_sh",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(W.partitionBy("_id")).alias("_sz"),
    )
    prefix = sized.filter(
        F.col("_rn") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    )
    a = prefix.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"), "_sh"
    )
    b = prefix.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"), "_sh"
    )
    cands = (
        a.join(b, "_sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("_szb") * F.lit(threshold) <= F.col("_sza"))
            & (F.col("_sza") * F.lit(threshold) <= F.col("_szb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_jaccard(cands, _hashed_grams(grams, "_id"), threshold)


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    ngram: int = 5,
    seed: int = 42,
    shingle: str = "char",
    grams: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures → (id, sig array<long>[num_hashes]).

    h_i(s) = (a_i·x(s) + b_i) mod (2^31−1), x(s) = xxhash64(shingle,
    seed) — the (a_i, b_i) are derived from the seed with splitmix-style
    constants, so the whole signature is a pure function of (text, seed).

    Physical plan: explode shingles once, hash once, then ``num_hashes``
    ``min`` aggregates in a single groupBy — min is map-side combinable,
    so the shuffle carries one 64-long row per (doc × partition), not
    the shingles. (A per-row higher-order-function variant re-inlines
    the shingle pipeline per hash function — 64× the compute; measured
    60× slower.)

    ``grams``: optional precomputed (id_col, _grams) shingle frame.
    CONTRACT: when given, ``ngram``/``shingle`` are IGNORED — the
    caller owns keeping the precomputed shingles consistent with the
    measure it wants (pass-through of the q30 shared-checkpoint seam).
    """
    coeffs = [
        (
            (seed * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9) % _MERSENNE | 1,
            (seed * 0x94D049BB133111EB + i * 0xD6E8FEB86659FD93) % _MERSENNE,
        )
        for i in range(num_hashes)
    ]
    if grams is None:
        grams = with_shingles(
            ensure_min_partitions(docs), text_col, "_grams", ngram, shingle
        )
    sh = (
        grams.select(F.col(id_col).alias("id"), "_grams")
        .select("id", F.explode("_grams").alias("_g"))
        .select(
            "id",
            F.pmod(F.xxhash64(F.col("_g"), F.lit(seed)), F.lit(_MERSENNE)).alias("_x"),
        )
    )
    mins = sh.groupBy("id").agg(
        *[
            F.min(F.pmod(F.col("_x") * a + b, F.lit(_MERSENNE))).alias(f"_h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    return mins.select(
        "id", F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig")
    )


def band_signatures(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(id, sig) → (id, band, bhash): one 64-bit hash per signature
    band. This IS the storable LSH index shape — an ingest pipeline
    persists THIS (partitioned by band) instead of raw signatures, so
    each arriving shard probes it with a plain equi-join and the
    corpus-side banding is never recomputed (see
    streaming/ingest.py)."""
    return signatures.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "bhash"),
    )


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows_per_band`` hashes; docs colliding on any full band become a
    candidate pair → (id_a, id_b), id_a < id_b, distinct.

    One explode (bands per doc, a constant factor) + one equi-join on
    (band, band_hash) — the classic linear-cost candidate generator.
    """
    banded = band_signatures(signatures, bands, rows_per_band)
    a = banded.select(F.col("id").alias("id_a"), "band", "bhash")
    b = banded.select(F.col("id").alias("id_b"), "band", "bhash")
    return (
        a.join(b, ["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 5,
    seed: int = 42,
    shingle: str = "char",
    grams: DataFrame | None = None,
    checkpoint=_local_checkpoint,
    corpus_docs: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded
    candidates → **exact** Jaccard verification of candidates only →
    (id_a, id_b, jaccard ≥ threshold). Precision is exact; recall is
    the LSH S-curve (1−(1−s^r)^b) — pairs the bands never collide on
    are not checked (that's the 100 TB trade).

    ``grams``: optional precomputed shingle frame; when given,
    ``ngram``/``shingle`` are IGNORED (see minhash_signatures) — both
    the signatures and the exact verification use the frame as-is. A
    ``_hg`` column (xxhash64 of each shingle), when present, feeds the
    verification directly so the hashing projection is not re-derived.

    Round-13 plan notes (guide §2.4): the banded candidate self-join
    used to plan TWO full signature pipelines (shingle explode + 64
    min-aggregates per side — Spark does not reuse the exchange across
    self-join sides); the |docs|-row signature frame is checkpointed
    once instead. Verification intersects xxhash64-hashed shingle
    arrays (:func:`_hashed_grams`), the same trade as
    :func:`ngram_jaccard_pairs_prefix`. ``checkpoint`` takes that
    signature checkpoint.

    ``corpus_docs``: an already-deduplicated corpus the NEW ``docs``
    arrive against (the ingest shard). Only pairs touching at least
    one new doc are emitted; corpus-vs-corpus pairs were handled when
    the corpus was ingested. ``corpus_bands`` is the corpus's stored
    index, the pre-BANDED signatures (:func:`band_signatures` output,
    (id, band, bhash)), so a shard costs signing the SHARD only and
    one band join of its bands against the stored ones ∪ its own;
    stored partitioned by ``band``, the join partition-prunes.
    Without ``corpus_bands`` the corpus is re-signed (correct, but the
    full-rescan cost the stored index exists to avoid). The verify
    shingles only the candidate members of shard ∪ corpus (semi-join
    pushdown), so corpus text is touched for the few docs a band hit.
    Signatures are a pure function of (text, seed), so index reuse is
    bit-safe across runs; doc ids must be unique across shard and
    corpus. This mode takes no ``grams``. ``checkpoint`` takes two
    shard-sized frames here: the shard's banded signatures (read by
    both sides of the band join) and the distinct candidate pairs
    (read by the candidate-id semi-join and by the verify), so the
    verify plan reads two pins instead of re-expanding the signing
    pipeline once per reference.
    """
    rows_per_band = num_hashes // bands
    if corpus_docs is None:
        if corpus_bands is not None:
            raise ValueError("corpus_bands= needs corpus_docs= to verify")
        sigs = checkpoint(minhash_signatures(
            docs, text_col, id_col, num_hashes, ngram, seed, shingle, grams=grams
        ))
        cands = minhash_lsh_candidates(sigs, bands, rows_per_band)
    else:
        if grams is not None:
            raise ValueError("grams= covers docs only, not corpus_docs=")

        def banded(d):
            sigs = minhash_signatures(
                d, text_col, id_col, num_hashes, ngram, seed, shingle
            )
            return band_signatures(sigs, bands, rows_per_band)

        new = checkpoint(banded(docs))
        if corpus_bands is None:
            corpus_bands = banded(corpus_docs)
        every = corpus_bands.select("id", "band", "bhash").unionByName(new)
        cands = checkpoint(
            new.withColumnRenamed("id", "_i")
            .join(every.withColumnRenamed("id", "_j"), ["band", "bhash"])
            .filter(F.col("_i") != F.col("_j"))
            .select(
                F.least("_i", "_j").alias("id_a"),
                F.greatest("_i", "_j").alias("id_b"),
            )
            .distinct()
        )
        cand_ids = (
            cands.select(F.col("id_a").alias(id_col))
            .union(cands.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        docs = (
            docs.select(id_col, text_col)
            .unionByName(corpus_docs.select(id_col, text_col))
            .join(cand_ids, id_col, "left_semi")
        )
    if grams is None:
        grams = with_shingles(docs, text_col, "_grams", ngram, shingle)
    shing = _hashed_grams(grams, F.col(id_col).alias("id"))
    return _verify_jaccard(cands, shing, threshold)


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over word tokens → (id, simhash long).

    Per bit k: sign of Σ_tokens (bit k of hash64(token) ? +1 : −1).

    ``hash_fn``: ``"xxhash64"`` (default — single JVM intrinsic, the
    100 TB path) or ``"md5"`` (top 64 bits of md5(seed || ':' || token)
    parsed from the hex — md5 is the one digest bit-identical across
    Spark and DuckDB, so an external SQL engine can recompute the
    fingerprints from first principles; used by the q32 oracle gate).
    Fingerprints differ between modes; pick one per corpus.

    Physical plan: explode tokens, hash once, one groupBy with 64
    conditional-sum aggregates (map-side combinable), then assemble the
    fingerprint from the 64 signs. (The per-row higher-order-function
    form re-evaluates the token pipeline per bit — measured ~10× slower.)
    Docs with zero tokens — NULL, empty and whitespace-only text — keep
    fingerprint 0 via the left join back, so :func:`simhash_near_pairs`
    pairs them with each other at Hamming 0.
    """
    if hash_fn == "xxhash64":
        h64 = F.xxhash64(F.col("_t"), F.lit(seed))
    elif hash_fn == "md5":
        hexs = F.md5(F.concat(F.lit(f"{seed}:"), F.col("_t")))
        hi = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long")
        h64 = F.shiftleft(hi, 32).bitwiseOR(lo)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    th = ensure_min_partitions(docs).select(
        F.col(id_col).alias("id"),
        F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("_t"),
    ).select("id", h64.alias("_h"))
    # sign of Σ(±1) per bit == (2·set-bit-count > n_tokens): sum raw bit
    # extractions + one count instead of 64 branched ±1 sums (branchless
    # codegen, same fingerprints)
    sums = th.groupBy("id").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.shiftright(F.col("_h"), k).bitwiseAND(F.lit(1))).alias(f"_c{k}")
            for k in range(64)
        ],
    )
    fp = F.lit(0).cast("long")
    for k in range(64):
        fp = fp.bitwiseOR(
            F.when(
                2 * F.col(f"_c{k}") > F.col("_n"),
                F.shiftleft(F.lit(1).cast("long"), k),
            ).otherwise(F.lit(0).cast("long"))
        )
    sums = sums.select("id", fp.alias("simhash"))
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(sums, "id", "left")
        .withColumn("simhash", F.coalesce(F.col("simhash"), F.lit(0).cast("long")))
    )


def simhash_near_pairs(fingerprints: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on ``_SIMHASH_BLOCKS`` (4)
    16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk equal, so
    recall is exact up to ``max_hamming=3``; a larger bound only finds
    the pairs that share a chunk), verify Hamming ≤ max_hamming →
    (id_a, id_b, hamming)."""
    width = 64 // _SIMHASH_BLOCKS
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit((1 << width) - 1))
            for b in range(_SIMHASH_BLOCKS)
        ]
    )
    chunked = fingerprints.select(
        "id", "simhash", F.posexplode(chunks).alias("blk", "chunk")
    )
    a = chunked.select(F.col("id").alias("id_a"), F.col("simhash").alias("_fa"), "blk", "chunk")
    b = chunked.select(F.col("id").alias("id_b"), F.col("simhash").alias("_fb"), "blk", "chunk")
    pairs = (
        a.join(b, ["blk", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_fa", "_fb")
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _first_occurrence_index(rows: DataFrame, key: str) -> DataFrame:
    """The stored index of the window and line families: ``(key, id,
    pos)`` rows grouped by ``key`` → ``(key, n_occurrences, first_id,
    first_pos)``, how often each key occurs and its first occurrence
    (min ``(id, pos)``)."""
    return (
        rows.groupBy(key)
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min(F.struct("id", "pos")).alias("_first"),
        )
        .select(
            key,
            "n_occurrences",
            F.col("_first.id").alias("first_id"),
            F.col("_first.pos").alias("first_pos"),
        )
    )


def _mark_first(rows: DataFrame, keys: list[str], *cols) -> DataFrame:
    """``cols`` of ``(id, pos, *keys)`` rows, plus per row: ``_n``, how
    many rows share its ``keys``; ``_first``, their first occurrence
    (min ``(id, pos)`` struct); ``_is_first``, whether the row is it.

    Window aggregates over ``partitionBy(keys)`` (round 13, guide
    §2.2/§2.4): a groupBy + equi-join back consumes the rows twice,
    and Spark plans each consumer as its own full scan of the rows
    (no exchange reuse across self-join sides); the window reads them
    once, behind one Exchange on the keys."""
    w = W.partitionBy(*keys)
    return rows.select(
        *cols,
        "id",
        "pos",
        F.count("*").over(w).alias("_n"),
        F.min(F.struct("id", "pos")).over(w).alias("_first"),
    ).withColumn(
        "_is_first",
        (F.col("_first.id") == F.col("id"))
        & (F.col("_first.pos") == F.col("pos")),
    )


def _joined_text(parts, field: str, joiner: str):
    """The rebuild of one document: the ``field`` of its collected
    ``parts`` structs, in order of their first field (the position),
    joined by ``joiner`` → ``clean_text``. ``collect_list`` skips NULL
    parts, so a part masked to NULL is left out."""
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(parts)), lambda s: s[field]),
        joiner,
    ).alias("clean_text")


def _doc_rows(
    anchor: DataFrame, per_doc: DataFrame, id_col: str, unit: str
) -> DataFrame:
    """The output rows of the cutting families → ``(id_col,
    clean_text, n_kept_<unit>, n_cut_<unit>)``, one per row of
    ``anchor`` (``id`` and the doc's unit count ``_n``, which may come
    with ``per_doc`` instead), left-joined to ``per_doc`` (``id``,
    ``clean_text``, ``n_kept_<unit>``).

    Anchored on the INPUT documents, not on their exploded units: a
    NULL text explodes to zero units, and anchoring on the explode
    silently dropped such docs from the output — and therefore from
    the ingest faces' accepted corpora (review r10 pass 2). A doc
    without kept units gets ``clean_text`` "" and a NULL count is 0,
    so NULL-text docs emit ``("", 0, 0)``, same as empty docs."""
    n_kept = F.coalesce(f"n_kept_{unit}", F.lit(0))
    return anchor.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        n_kept.cast("long").alias(f"n_kept_{unit}"),
        (F.coalesce("_n", F.lit(0)) - n_kept).cast("long").alias(f"n_cut_{unit}"),
    )


def _window_fingerprints(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int,
    seed: int,
) -> DataFrame:
    """Every ``min_tokens``-token window of every document →
    ``(id, pos, wkey)``; ``pos`` is the window's 0-based token offset,
    ``wkey`` a 64-bit content fingerprint (per-token ``xxhash64``
    seeded, then ``xxhash64`` of each L-token hash slice). Computed as
    ONE ``transform`` over the position sequence inside a single
    projection, so the doc's hash array is never duplicated per window
    row; cost is O(tokens · L) hashing, embarrassingly parallel, zero
    shuffle."""
    base = ensure_min_partitions(docs).select(
        F.col(id_col).alias("id"),
        F.explode(F.array(whitespace_tokens(F.col(text_col)))).alias("_toks"),
    )
    # per-token hashes behind a second Generate barrier so projection
    # collapsing cannot re-inline the token split per hash element
    hbase = base.filter(F.size("_toks") >= min_tokens).select(
        "id",
        F.explode(
            F.array(
                F.transform(
                    F.col("_toks"), lambda t: F.xxhash64(t, F.lit(seed))
                )
            )
        ).alias("_harr"),
    )
    wkeys = F.transform(
        F.sequence(F.lit(0), F.size("_harr") - min_tokens),
        lambda i: F.xxhash64(F.slice(F.col("_harr"), i + 1, min_tokens)),
    )
    return hbase.select("id", F.posexplode(wkeys).alias("pos", "wkey"))


def duplicated_window_positions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    seed: int = 42,
) -> DataFrame:
    """Positions of every DUPLICATED ``min_tokens``-token window →
    ``(id, pos, first_id, first_pos)`` where ``(first_id, first_pos)``
    is the corpus-wide canonical first occurrence (min by (id, pos))
    of that window's content — marked by :func:`_mark_first` over
    ``wkey``, one scan and one Exchange.

    The precompute seam of :func:`duplicated_spans` /
    :func:`excise_duplicate_spans`: both consume this frame, so a
    caller running detection AND excision (the normal pipeline)
    should compute it once, checkpoint it, and pass it to both via
    ``positions=`` — the fingerprint scan is the dominant cost and
    runs once instead of per consumer.

    A fingerprint collision (2⁻⁶⁴ per window pair) would merge two
    window groups — the standard fingerprint trade, same as the LSH
    band hashing above.
    """
    wins = _window_fingerprints(docs, text_col, id_col, min_tokens, seed)
    return (
        _mark_first(wins, ["wkey"])
        .filter(F.col("_n") > 1)
        .select(
            "id",
            "pos",
            F.col("_first.id").alias("first_id"),
            F.col("_first.pos").alias("first_pos"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    seed: int = 42,
    positions: DataFrame | None = None,
) -> DataFrame:
    """Substring-level exact dedup (the Lee et al. 2022 "Deduplicating
    Training Data" operator family): maximal token spans covered by a
    ``min_tokens``-token window that occurs MORE THAN ONCE anywhere in
    the corpus → ``(id_col, span_begin, span_end, n_span_tokens)``
    with 0-based token offsets, ``span_end`` exclusive.

    Doc-level dedup (exact/Jaccard/MinHash/SimHash above) misses the
    dominant duplication mode of web corpora: long verbatim passages
    (boilerplate, quotes, mirrored sections) embedded in otherwise
    distinct documents. The reference suffix-array formulation is a
    single-node sort over the whole corpus; the Spark-first
    re-expression is window fingerprinting — linear scan, one
    occurrence count per fingerprint, and a per-document interval
    merge. No pair join, no quadratic term: a window duplicated a
    million times costs its occurrence count, not count².

    Span merge: duplicated windows at offsets p cover [p, p+L); a new
    span starts when a window's offset exceeds the running coverage
    end (interval merge via a cumulative-max window function), so
    overlapping windows — even ones duplicating DIFFERENT partner
    documents — collapse into one maximal span.
    """
    dpos = (
        positions
        if positions is not None
        else duplicated_window_positions(docs, text_col, id_col, min_tokens, seed)
    )
    w = W.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + min_tokens).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    isl = dpos.select(
        "id",
        "pos",
        (F.col("pos") > F.coalesce(prev_end, F.lit(-1)))
        .cast("int")
        .alias("_new"),
    ).withColumn("_grp", F.sum("_new").over(w))
    return (
        isl.groupBy("id", "_grp")
        .agg(
            F.min("pos").alias("span_begin"),
            (F.max("pos") + min_tokens).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_begin",
            "span_end",
            (F.col("span_end") - F.col("span_begin")).alias("n_span_tokens"),
        )
    )


def excise_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    seed: int = 42,
    positions: DataFrame | None = None,
    max_tokens_per_doc: int | None = 2_000_000,
    index: DataFrame | None = None,
    rows: DataFrame | None = None,
) -> DataFrame:
    """Remove duplicated substrings, keeping the corpus-wide FIRST
    occurrence → ``(id_col, clean_text, n_kept_tokens,
    n_cut_tokens, oversize)``, one row per input document (NULL text
    included: ``("", 0, 0, false)``).

    A token is cut iff it is covered by a duplicated window whose
    content's canonical first occurrence (min (id, pos)) is some OTHER
    window — so exactly one copy of every duplicated passage survives,
    at its first appearance. Deterministic under any partitioning
    (min-struct canonicalization), and idempotent on the de-duplicated
    output for spans ≥ 2·min_tokens−1 (shorter cut fragments can fall
    below the window length). ``clean_text`` is whitespace-normalized
    (single-space joined) — same canonical form as ``normalize_text``
    modulo case.

    Cut-position coverage explodes ONLY non-first duplicated windows
    (dup-volume-sized, not corpus-sized); reassembly is one anti-join
    on (doc, position) plus a per-doc sorted collect — the doc-sized
    array the corpus already stores.

    ``max_tokens_per_doc`` (task-size guard, judge r3 task 7): the
    per-doc reassembly materializes one (pos, token) struct array per
    document inside a single task, so a pathological multi-GB document
    would blow that task's memory. Documents above the cap skip the
    rebuild entirely and PASS THROUGH with ``oversize = true`` (their
    normalized text unchanged, nothing cut) — flagging, not failing,
    because at 100 TB a single monster document must not sink the
    stage; route flagged docs to a chunk-split pre-pass if their spans
    matter. ``None`` disables the guard. All rows carry the
    ``oversize`` column.

    ``index``: the stored :func:`window_index` of an already-excised
    corpus that ``docs`` (an arriving shard) extends. The corpus is
    never re-read: a shard window is cut iff its content is in the
    index (the corpus holds the first occurrence) or it repeats
    within the shard and is not the shard's own first occurrence —
    one equi-join against the index on ``wkey``, then the same
    rebuild. Contract: document ids grow monotonically across shards,
    so the stored first occurrence is the global ``(id, pos)`` minimum
    and the shard's excision equals the batch excision of corpus +
    shard restricted to shard rows (equivalence-tested). Decisions
    read key EXISTENCE only, so the index may hold just the first-seen
    keys of each shard. ``positions`` describes the whole corpus, so
    it cannot be combined with ``index``. ``rows``, with ``index``
    only: the shard's window fingerprints (:func:`window_index` reads
    the same ``rows``), precomputed by a caller that reads them twice —
    the ingest stage pins them and derives its shard index from them.
    """
    if index is None:
        if rows is not None:
            raise ValueError("rows= needs index=")
        dpos = (
            positions
            if positions is not None
            else duplicated_window_positions(docs, text_col, id_col, min_tokens, seed)
        )
        cut_windows = dpos.filter(
            ~(
                (F.col("id") == F.col("first_id"))
                & (F.col("pos") == F.col("first_pos"))
            )
        )
    elif positions is not None:
        raise ValueError("positions= and index= are exclusive")
    else:
        if rows is None:
            rows = _window_fingerprints(docs, text_col, id_col, min_tokens, seed)
        wins = rows.join(index.select("wkey", "n_occurrences"), "wkey", "left")
        cut_windows = _mark_first(wins, ["wkey"], "n_occurrences").filter(
            F.col("n_occurrences").isNotNull()
            | ((F.col("_n") > 1) & ~F.col("_is_first"))
        )
    return _excise_by_cut_windows(
        docs, cut_windows.select("id", "pos"), text_col, id_col, min_tokens,
        max_tokens_per_doc,
    )


def _excise_by_cut_windows(
    docs: DataFrame,
    cut_windows: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int,
    max_tokens_per_doc: int | None,
) -> DataFrame:
    """Shared rebuild stage of the substring family: given ``(id,
    pos)`` windows to cut, remove their token coverage and reassemble
    every document → ``(id_col, clean_text, n_kept_tokens,
    n_cut_tokens, oversize)``. NULL text counts as zero tokens.
    Documents whose token count exceeds ``max_tokens_per_doc`` bypass
    the rebuild (see :func:`excise_duplicate_spans`)."""
    # the token array is split once per doc, behind a Generate barrier
    # (explode of a one-element array keeps every doc, NULL text too)
    base = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(whitespace_tokens(F.col(text_col)))).alias("_toks"),
    ).withColumn("_n", F.coalesce(F.size("_toks"), F.lit(0)))
    small = (
        base
        if max_tokens_per_doc is None
        else base.filter(F.col("_n") <= max_tokens_per_doc)
    )
    cuts = (
        cut_windows.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + min_tokens - 1)
            ).alias("p"),
        )
        .distinct()
    )
    rebuilt = (
        small.select("id", F.posexplode("_toks").alias("p", "tok"))
        .join(cuts, ["id", "p"], "left_anti")
        .groupBy("id")
        .agg(
            _joined_text(F.struct("p", "tok"), "tok", " "),
            F.count("*").alias("n_kept_tokens"),
        )
    )
    out = _doc_rows(small, rebuilt, id_col, "tokens").withColumn(
        "oversize", F.lit(False)
    )
    if max_tokens_per_doc is None:
        return out
    # pass-through is a row-local select: the normalized text is one
    # value the corpus already stores — no per-token explode, no
    # groupBy, no task-sized array for the monster doc
    passthrough = base.filter(F.col("_n") > max_tokens_per_doc).select(
        F.col("id").alias(id_col),
        F.array_join("_toks", " ").alias("clean_text"),
        F.col("_n").cast("long").alias("n_kept_tokens"),
        F.lit(0).cast("long").alias("n_cut_tokens"),
        F.lit(True).alias("oversize"),
    )
    return out.unionByName(passthrough)


def window_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    seed: int = 42,
    rows: DataFrame | None = None,
) -> DataFrame:
    """The stored substring-dedup index: one row per DISTINCT window
    fingerprint in the corpus → ``(wkey, n_occurrences, first_id,
    first_pos)``. An incoming shard pays one equi-join against it
    instead of re-fingerprinting the corpus (see
    :func:`excise_duplicate_spans`' ``index``); the ingest loop
    broadcast-semi-join-prunes the stored side to shard-touched keys
    (a ``pmod(wkey, K)`` partition layout was once recommended here
    and is retired: window hashes scatter uniformly, so no
    content-based partition pruning is possible).

    Size: one 8-byte key + counts per distinct window ≈ corpus token
    count — the same order as any suffix-structure over the corpus,
    but flat, appendable, and hash-partitioned. ``rows``: the window
    fingerprints of ``docs``, when the caller already has them (see
    :func:`excise_duplicate_spans`).
    """
    if rows is None:
        rows = _window_fingerprints(docs, text_col, id_col, min_tokens, seed)
    return _first_occurrence_index(rows, "wkey")


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\n",
    min_count: int = 2,
    min_chars: int = 1,
    normalize: bool = True,
    joiner: str = "\n",
    index: DataFrame | None = None,
    rows: DataFrame | None = None,
) -> DataFrame:
    """LINE-level exact dedup across the corpus (the C4 / RefinedWeb /
    CCNet curation step): split every document on ``sep`` (a regex), and
    cut every line whose normalized content occurs ``min_count``+ times
    corpus-wide — EXCEPT its first occurrence (min ``(id, pos)``), which
    survives. → ``(id_col, clean_text, n_kept_lines, n_cut_lines)``,
    one row per input document.

    This is the dedup mode BETWEEN document-level hashing (exact_dedup
    — whole doc must match) and substring spans (duplicated_spans —
    arbitrary token windows): web boilerplate (nav bars, cookie
    notices, footers) repeats as whole LINES across otherwise-distinct
    pages, and line-granular removal is what C4 (Raffel et al. 2020,
    "three-sentence span" variant), CCNet (Wenzek et al. 2020,
    per-line hashes over shards) and RefinedWeb (Penedo et al. 2023)
    actually deploy. First-occurrence-keeps matches
    ``excise_duplicate_spans`` / the ingest loop's first-accepted-wins.

    Lines shorter than ``min_chars`` (after normalization) are KEPT
    unconditionally and never count toward duplication — blank lines
    and stray separators are structure, not boilerplate.
    ``normalize=True`` compares lines case-insensitively with collapsed
    whitespace (the CCNet canonicalization); the REBUILT text keeps
    each surviving line's original form, joined by ``joiner``.

    100 TB shape (same as :func:`window_index`): explode to one row per
    line, count + min-struct first occurrence per line-content hash, a
    per-doc regroup — no pair join, nothing quadratic; a line
    duplicated a million times costs its occurrence count. The shuffle
    key is ``xxhash64(norm)`` so long boilerplate lines shuffle as
    8-byte keys, not bodies (the q29 oracle regroups on the STRINGS,
    so the gate also pins hash grouping == content grouping).

    The explode is computed ONCE: one Exchange on ``_k`` for the
    first-occurrence window (:func:`_mark_first`), one on ``id`` for
    the regroup, and both per-doc counts (kept + total) fold into the
    same aggregate. A non-qualifying line never matches a qualifying
    group (same content ⇒ same length ⇒ same ``_qual``), so gating
    ``cut`` on ``_qual`` reproduces qualifying-only stats exactly.

    ``index``: the stored :func:`line_index` of an already-deduplicated
    corpus that ``docs`` (an arriving shard) extends; the rows
    left-join it on the line key, so the corpus is never re-split. A
    shard line is cut iff its stored + within-shard occurrence count
    reaches ``min_count`` and it is not the global first occurrence
    (absent from the index and first within the shard) — the same
    contract as :func:`excise_duplicate_spans`' ``index``: monotonic
    doc ids across shards, so chained ingests equal the batch
    ``line_dedup`` restricted to each shard (equivalence-tested). With
    the default ``min_count=2`` the decision reads index EXISTENCE
    only, so an ingest loop may append just each batch's first-seen
    lines; for ``min_count > 2`` it reads the stored counts, so the
    index must count every occurrence. ``sep`` / ``min_chars`` /
    ``normalize`` must match the values the index was built with
    (parameter drift shows up in ``audit_ingest_index`` as wholesale
    key disagreement).

    ``rows``: the split lines of ``docs`` (:func:`line_index` reads the
    same ``rows``), precomputed by a caller that reads them twice — the
    ingest stage pins them and derives its shard index from them.
    """
    lines = (
        rows if rows is not None
        else _line_rows(docs, text_col, id_col, sep, min_chars, normalize)
    )
    n, first, stored = F.col("_n"), F.col("_is_first"), []
    if index is not None:
        lines = lines.join(
            index.select(
                F.col("lkey").alias("_k"),
                F.col("n_occurrences").alias("_stored_n"),
            ),
            "_k",
            "left",
        )
        n = F.coalesce("_stored_n", F.lit(0)) + n
        first = F.col("_stored_n").isNull() & first
        stored = ["_stored_n"]
    marked = _mark_first(lines, ["_qual", "_k"], "line", "_qual", *stored)
    cut = F.col("_qual") & (n >= min_count) & ~first
    per_doc = marked.groupBy("id").agg(
        _joined_text(F.when(~cut, F.struct("pos", "line")), "line", joiner),
        F.sum(F.when(~cut, 1).otherwise(0)).alias("n_kept_lines"),
        F.count("*").alias("_n"),
    )
    return _doc_rows(
        docs.select(F.col(id_col).alias("id")), per_doc, id_col, "lines"
    )


def _line_rows(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    sep: str,
    min_chars: int,
    normalize: bool,
) -> DataFrame:
    """Shared explode stage of the line-dedup family → one row per
    line: ``(id, pos, line, _qual, _k)`` where ``_k`` is the xxhash64
    of the normalized content (the 8-byte shuffle/index key) and
    ``_qual`` marks lines long enough to count toward duplication."""
    norm_of = normalize_text(F.col("line")) if normalize else F.col("line")
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
        )
        .withColumn("_norm", norm_of)
        .withColumn("_qual", F.length("_norm") >= min_chars)
        .withColumn("_k", F.xxhash64("_norm"))
        .drop("_norm")
    )


def line_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\n",
    min_chars: int = 1,
    normalize: bool = True,
    rows: DataFrame | None = None,
) -> DataFrame:
    """The stored line-dedup index: one row per DISTINCT qualifying
    line content → ``(lkey, n_occurrences, first_id, first_pos)`` —
    the exact analogue of :func:`window_index` for the line family.
    An incoming shard pays one equi-join against it instead of
    re-splitting the corpus (:func:`line_dedup`' ``index``).
    ``rows``: the split lines of ``docs``, when the caller already has
    them (see :func:`line_dedup`)."""
    if rows is None:
        rows = _line_rows(docs, text_col, id_col, sep, min_chars, normalize)
    return _first_occurrence_index(
        rows.filter("_qual").withColumnRenamed("_k", "lkey"), "lkey"
    )


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    keep_policy: str = "min_id",
    scores: DataFrame | None = None,
) -> DataFrame:
    """Near-dup CLUSTERING — the step that turns pairwise dedup output
    into a keep/drop decision → ``(id_col, representative)`` where
    ``representative`` = the kept id of the document's near-dup
    cluster (itself when it has no near-dups).

    ``keep_policy`` picks the survivor per cluster:

    - ``"min_id"`` (default): lowest id — cheap, deterministic, and
      the shape every SQL oracle reproduces with a recursive CTE.
    - ``"far_from_centroid"``: the SemDeDup recipe (Abbas et al. 2023
      §2 keep the cluster member with the LOWEST cosine to its k-means
      centroid — i.e. farthest, the most "informative" exemplar).
      Requires ``scores``: a frame carrying ``id_col`` and the cosine
      to the assigned centroid — bound BY NAME as ``cell_cosine`` when
      present (``assign_nearest_cell(..., with_cosine=True)`` emits
      ``(id, cell_id, cell_cosine)`` and is accepted as-is), else the
      lone other column of an exactly-2-column ``(id, cosine)`` frame;
      anything else raises. Docs missing from ``scores`` never win
      over a scored member (scored-absent components degrade to
      min_id) — they are NOT dropped from the output. Ties break to
      min id, so the choice stays a pure function of the data. Cost
      over min_id: one join of the CC output (dup clusters only, tiny
      vs corpus) with scores + one min_by groupBy.

    Pairwise emitters (MinHash-LSH, SimHash, embedding blocking) leave
    transitive chains unresolved: A~B, B~C must collapse to ONE kept
    document even when A~C was never emitted. Composes the pairs with
    ``operators.graph.connected_components`` (two-level contraction,
    bounded driver solve) — the pairs graph is tiny relative to the
    corpus (only near-dups), so this costs far less than the pair scan
    itself. Keep-set = rows where id = representative; at 100 TB the
    anti-join back to the corpus broadcasts the (dup → representative)
    map, which is dup-count-sized, not corpus-sized.
    """
    from .graph import connected_components

    if keep_policy not in ("min_id", "far_from_centroid"):
        raise ValueError(
            f"keep_policy must be 'min_id' or 'far_from_centroid', got {keep_policy!r}"
        )
    if keep_policy == "far_from_centroid" and scores is None:
        raise ValueError(
            "keep_policy='far_from_centroid' needs scores=(id, cell_cosine) — "
            "assign_nearest_cell(..., with_cosine=True) produces it"
        )
    nodes = docs.select(F.col(id_col).alias("node"))
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(nodes, edges)
    if keep_policy == "min_id":
        return cc.select(
            F.col("node").alias(id_col),
            F.col("component").alias("representative"),
        )
    # bind the cosine column BY NAME: assign_nearest_cell(...,
    # with_cosine=True) emits (id, cell_id, cell_cosine) — the old
    # positional columns[1] silently picked cell_id off that 3-column
    # frame and chose survivors by cell id (advisor r9). Fallback to
    # the lone non-id column only for an exactly-2-column frame.
    from pyspark.sql.types import DecimalType, DoubleType, FloatType

    if "cell_cosine" in scores.columns:
        cos_c = "cell_cosine"
    else:
        others = [c for c in scores.columns if c != id_col]
        # positive check, not a name blacklist: the 2-column fallback
        # binds the value column as the cosine only if it is FRACTIONAL
        # — cell/centroid ids are integral (or string), so
        # assign_nearest_cell output without with_cosine=True is
        # rejected under ANY cell_id_col spelling instead of silently
        # ranking survivors by cell id (review r10)
        if (
            len(scores.columns) == 2
            and len(others) == 1
            and isinstance(
                scores.schema[others[0]].dataType,
                (FloatType, DoubleType, DecimalType),
            )
        ):
            cos_c = others[0]
        else:
            raise ValueError(
                "far_from_centroid scores frame must carry a 'cell_cosine' "
                f"column next to {id_col!r} (assign_nearest_cell(..., "
                f"with_cosine=True) emits it) or be exactly (id, cosine) "
                f"with a fractional-typed value column; got "
                f"{[(f.name, f.dataType.simpleString()) for f in scores.schema.fields]}"
            )
    sc = scores.select(
        F.col(id_col).alias("node"), F.col(cos_c).alias("_cos")
    )
    # per component, keep the member FARTHEST from the centroid
    # (lowest cosine; tie → min id) — min_by is map-side combinable.
    # LEFT join: a member missing from scores must not erase its whole
    # component from the output (the old inner join made
    # curate_training_corpus silently drop such documents — advisor
    # r9). Unscored members get +inf, so they can never beat a scored
    # member; an entirely-unscored component degrades to the min_id
    # policy (all-inf tie → min node = the component label).
    reps = (
        cc.join(sc, "node", "left")
        .withColumn("_cos", F.coalesce(F.col("_cos"), F.lit(float("inf"))))
        .groupBy("component")
        .agg(
            F.min_by(
                F.col("node"), F.struct(F.col("_cos"), F.col("node"))
            ).alias("representative")
        )
    )
    return cc.join(reps, "component").select(
        F.col("node").alias(id_col), "representative"
    )
