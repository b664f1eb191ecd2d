"""Text-analysis column functions for large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` compositions — per-row, JVM-side, no
shuffle, no Python UDFs — so they stay inside whole-stage codegen and
scale linearly with input size. Each has an exact ANSI-SQL equivalent
(used as the DuckDB oracle in __spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deterministic stopword lists for the language-ID heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "que"),
    "es": ("el", "la", "los", "y", "es", "una", "que"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count (size of split on ``\\s+`` of trimmed text;
    empty text → 0)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


# GPT-2-style pre-tokenizer pattern, minus the lookahead (RE2 — the
# DuckDB oracle's engine — has no lookahead; dropping `\s+(?!\S)` only
# changes how trailing whitespace groups, not how words/numbers/
# punctuation count). Both Java regex and RE2 use leftmost-first
# alternation, so match COUNTS agree.
BPE_TOKEN_PATTERN = r"'(?:s|d|m|t|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(text: Column) -> Column:
    """Approximate LLM token count: number of matches of a BPE-ish
    pre-tokenizer regex (contractions, letter runs, digit runs,
    punctuation runs, whitespace runs). Per-row ``regexp_count`` —
    JVM-side, no UDF; the real tokenizer's merge table only splits
    these groups further, so this lower-bounds BPE token counts."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))


def stopword_hits(text: Column, lang: str) -> Column:
    """Number of stopword occurrences for one language (word-boundary,
    case-insensitive — the same ``\\b`` trick the reference's gene search
    uses, network_generator_lib.R:112)."""
    pat = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat))


def lang_id(text: Column) -> Column:
    """N-gram/stopword language-ID heuristic: argmax of per-language
    stopword hits, deterministic tie-break by language code; 'und'
    (undetermined) when no stopwords hit at all.

    Implemented as a nested CASE chain over the per-language hit
    counts — the same shape the SQL oracle uses — rather than sorting
    a struct array with a comparator lambda: comparator HOFs are
    interpreted per element (never codegen), measured 1.4× slower at
    sf0.1; the CASE chain stays inside whole-stage codegen and the
    repeated hit-count subtrees are shared by codegen subexpression
    elimination. For non-NULL text the result is unchanged: the first
    language (alphabetical) whose hits are ≥ every later language's
    hits IS the (hits desc, lang asc) argmax. The NULL case changed:
    NULL text has NULL hit counts, every comparison is NULL, and the
    chain falls through to the last language, 'fr' — the sorted-array
    version returned 'de'. 'fr' is what the SQL oracle returns."""
    langs = sorted(LANG_STOPWORDS)
    hits = {lang: stopword_hits(text, lang) for lang in langs}
    expr = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            c = hits[langs[i]] >= hits[langs[j]]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(langs[i])).otherwise(expr)
    any_hit = None
    for lang in langs:
        any_hit = (
            hits[lang] if any_hit is None else F.greatest(any_hit, hits[lang])
        )
    return F.when(any_hit <= 0, F.lit("und")).otherwise(expr)


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]:

    0.25·len_ok + 0.25·(1 − punct_ratio) + 0.25·alpha_ratio + 0.25·mean_word_len_ok

    - len_ok: 1 if 50 ≤ n_chars ≤ 20000 else 0
    - punct_ratio: punctuation chars / n_chars
    - alpha_ratio: [A-Za-z ] chars / n_chars
    - word_ok: 1 if 3 ≤ mean word length ≤ 12 else 0
    Rounded to 6 decimals. NULL/empty text → 0.0.
    """
    n = F.length(text)
    # count matches of the char class instead of building a filtered
    # COPY of the string and measuring it (round 14, guide §1.2 step 2:
    # regexp_replace allocates a new string per row per class —
    # measured 2.2× slower than regexp_count at sf0.1, values
    # identical: both are "number of chars in the class")
    punct = F.regexp_count(text, F.lit(r"[.,;:!?'\"()\[\]{}]"))
    alpha = F.regexp_count(text, F.lit(r"[A-Za-z ]"))
    ntok = token_count(text)
    # chars minus separators per token; greatest(·,1) guards
    # whitespace-only text (ntok=0 but n>0 — ANSI divide-by-zero
    # otherwise; the SQL oracle uses the same guard)
    mean_wl = (n - ntok + 1) / F.greatest(ntok, F.lit(1))
    len_ok = F.when((n >= 50) & (n <= 20000), 1.0).otherwise(0.0)
    word_ok = F.when((mean_wl >= 3) & (mean_wl <= 12), 1.0).otherwise(0.0)
    score = (
        0.25 * len_ok
        + 0.25 * (1.0 - punct.cast("double") / n)
        + 0.25 * alpha.cast("double") / n
        + 0.25 * word_ok
    )
    return F.when(text.isNull() | (n == 0) | (ntok == 0), F.lit(0.0)).otherwise(
        F.round(score, 6)
    )


def gopher_rules(text: Column) -> Column:
    """Gopher-style repetition-free quality rules (Rae et al. 2021,
    table A1 subset that is computable without a word list) → struct
    ``(n_words, mean_word_len, symbol_ratio, alpha_word_frac, keep)``.

    - n_words: whitespace tokens (empty dropped)
    - mean_word_len: non-whitespace chars / n_words (3..10 to keep)
    - symbol_ratio: ('#' or '...') occurrences / n_words (<0.1 to keep)
    - alpha_word_frac: words containing ≥1 [A-Za-z] / n_words
      (>0.8 to keep)
    - keep: all rules pass AND 50 ≤ n_words ≤ 100000

    All JVM-side column math (split + regexp counts + HOF filter);
    ratios rounded to 9 decimals so the SQL oracle compares exactly.
    Zero-word documents fail ``keep`` with 0-valued ratios.
    """
    toks = F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")
    nw = F.size(toks)
    nw_safe = F.greatest(nw, F.lit(1))
    # length minus whitespace-count == length of the whitespace-stripped
    # copy, without building the copy (round 14 — same regexp_count
    # swap as quality_score)
    chars_no_ws = F.length(text) - F.regexp_count(text, F.lit(r"\s"))
    mean_wl = F.round(chars_no_ws / nw_safe.cast("double"), 9)
    symbols = F.regexp_count(text, F.lit(r"#|\.\.\."))
    sym_ratio = F.round(symbols / nw_safe.cast("double"), 9)
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = F.round(alpha_words / nw_safe.cast("double"), 9)
    keep = (
        (nw >= 50)
        & (nw <= 100000)
        & (mean_wl >= 3)
        & (mean_wl <= 10)
        & (sym_ratio < 0.1)
        & (alpha_frac > 0.8)
    )
    zero = text.isNull() | (nw == 0)
    return F.struct(
        F.coalesce(nw, F.lit(0)).alias("n_words"),
        F.when(zero, 0.0).otherwise(mean_wl).alias("mean_word_len"),
        F.when(zero, 0.0).otherwise(sym_ratio).alias("symbol_ratio"),
        F.when(zero, 0.0).otherwise(alpha_frac).alias("alpha_word_frac"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def doc_fingerprint(text: Column, mod: int = 2147483647) -> Column:
    """Deterministic position-weighted document fingerprint:

    ``sum(codepoint(c_i) * ((i mod 64) + 1)) mod 2^31-1`` over the
    ASCII-printable-filtered text (0-indexed i). Order-sensitive enough
    to distinguish permutations within 64-char windows, and expressible
    identically in any SQL engine (the DuckDB oracle uses
    generate_series + ascii(substr(...))).
    """
    clean = F.regexp_replace(text, r"[^\x20-\x7E]", "")
    terms = F.transform(
        F.split(clean, ""),
        lambda c, i: F.ascii(c).cast("long") * ((i % 64) + 1),
    )
    total = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (total % F.lit(mod)).alias("fingerprint")


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Array of lower-cased character n-gram shingles (distinct), for
    Jaccard / MinHash dedup. Whitespace is collapsed first so formatting
    differences don't change the shingle set.

    PERF HAZARD: as a single Column expression the normalization is
    re-inlined into every ``transform`` lambda element (HOF lambdas are
    interpreted and see no common-subexpression elimination — measured
    11× slower at sf0.1). Inside a DataFrame pipeline use
    ``with_shingles`` instead, which projects the expensive part once."""
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.length(norm) - n, F.lit(0))),
        lambda i: F.substring(norm, i + 1, n),
    )
    return F.array_distinct(F.filter(grams, lambda g: F.length(g) == n))


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Array of distinct word n-gram shingles."""
    toks = F.split(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")), " ")
    count = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(count - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.array_distinct(F.when(count >= n, grams).otherwise(F.array()))


def with_shingles(
    df,
    text_col: str = "text",
    out_col: str = "_grams",
    n: int = 3,
    shingle: str = "word",
):
    """Append a distinct-shingle array column — the fast physical form
    of ``char_ngrams``/``word_ngrams``.

    The expensive normalization (regex whitespace collapse + lower,
    plus the token split for word shingles) is materialized ONCE per
    row by routing it through ``explode(array(expr))`` — a Generate
    node, which projection collapsing cannot cross. A plain two-step
    projection is NOT enough: over a parquet scan Catalyst collapses
    the projects and re-inlines the normalization into every
    ``transform`` lambda element (HOF lambdas are interpreted, no
    common-subexpression elimination — measured 7.2s vs 0.5s for the
    sf0.1 shingle explode). The Generate adds no shuffle and pruning
    still reaches the scan.
    """
    tmp = f"__{out_col}_pre"
    keep = [F.col(c) for c in df.columns]
    if shingle == "char":
        norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
        pre = df.select(*keep, F.explode(F.array(norm)).alias(tmp))
        src = F.col(tmp)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.length(src) - n, F.lit(0))),
            lambda i: F.substring(src, i + 1, n),
        )
        out = F.array_distinct(F.filter(grams, lambda g: F.length(g) == n))
    elif shingle == "word":
        toks = F.split(
            F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
        )
        pre = df.select(*keep, F.explode(F.array(toks)).alias(tmp))
        src = F.col(tmp)
        count = F.size(src)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(count - n, F.lit(0))),
            lambda i: F.array_join(F.slice(src, i + 1, n), " "),
        )
        out = F.array_distinct(F.when(count >= n, grams).otherwise(F.array()))
    else:
        raise ValueError(
            f"unknown shingle type: {shingle!r} (allowed: char, word)"
        )
    return pre.withColumn(out_col, out).drop(tmp)


def chunk_tokens(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    overlap: int = 16,
):
    """Sliding-window token chunking → one row per (doc, chunk):
    ``(id_col, chunk_idx, chunk_text, n_chunk_tokens)``.

    The training-data-pipeline chunker: documents split on whitespace,
    windows of ``max_tokens`` tokens advancing by ``max_tokens −
    overlap`` (so consecutive chunks share ``overlap`` tokens of
    context), last window truncated at the tail; empty documents emit
    no chunks. Everything is per-row JVM column math — sequence +
    posexplode + slice + array_join, no shuffle, no Python — so the
    operator is a linear map at any corpus size; downstream per-chunk
    work (embedding, dedup) partitions freely since chunk rows carry
    no cross-row dependency.

    Deterministic and exactly SQL-replicable (the q45 'chunk' gate arm
    hash-checks content + boundaries against DuckDB).
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    # chunk starts: 0, stride, 2*stride, … while start < n_tokens.
    # Filter on the TOKEN count, not trim(text): F.trim strips only
    # spaces, so a "\t"-only doc would pass a text filter with zero
    # tokens and sequence(0, floor((0-1)/stride)) = sequence(0,-1)
    # would emit two spurious empty chunks.
    with_toks = df.select(
        F.col(id_col),
        F.explode(F.array(toks)).alias("_toks"),  # Generate barrier:
        # materialize the split once, not once per HOF element
    ).filter(F.size("_toks") > 0)
    idx = with_toks.select(
        id_col,
        "_toks",
        F.posexplode(
            F.sequence(F.lit(0), (F.floor((F.size("_toks") - 1) / stride)).cast("int"))
        ).alias("chunk_idx", "_i"),
    )
    chunk = F.slice(F.col("_toks"), F.col("_i") * stride + 1, max_tokens)
    return idx.select(
        id_col,
        "chunk_idx",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


def hash_split(
    key: Column,
    boundaries: tuple[tuple[str, int], ...] = (
        ("train", 204),
        ("val", 230),
        ("test", 256),
    ),
) -> Column:
    """Deterministic content-hash dataset split → label column.

    The train/val/test assignment every training pipeline needs: stable
    under reprocessing, partitioning, and engine choice. Bucket = first
    two hex digits of ``md5(key)`` compared as strings against
    ``n/256`` boundary prefixes — md5 is bit-identical in every engine
    (unlike xxhash64/murmur, which differ between Spark and DuckDB), so
    the split is exactly SQL-replicable. Boundary granularity is 1/256
    (defaults: 204/26/26 ≈ 79.7% / 10.2% / 10.2%); boundaries must be
    ascending with the last = 256.
    """
    if boundaries[-1][1] != 256:
        raise ValueError("last boundary must be 256")
    prefix = F.substring(F.md5(key.cast("string")), 1, 2)
    # build the CASE inside-out so boundaries evaluate in ascending order
    expr = F.lit(boundaries[-1][0])
    for label, bound in reversed(boundaries[:-1]):
        expr = F.when(prefix < F.lit(format(bound, "02x")), F.lit(label)).otherwise(
            expr
        )
    return expr


# PII patterns: lookahead-free so Java regex (Spark) and RE2 (DuckDB
# oracle) match identically. Order of application matters: emails
# first (their local part can contain digits), then IPv4 (dotted
# digits), then phone (dashed/dotted digits).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Scrub emails, IPv4 addresses, and NANP-style phone numbers to
    typed placeholder tokens — the pre-training privacy pass, as chained
    JVM ``regexp_replace`` (linear per-row map, no Python)."""
    out = text
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def repetition_topgram(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
):
    """Gopher-style repetition signal: the most frequent word ``n``-gram
    per document → ``(id_col, top_gram, top_count, top_frac)`` where
    ``top_frac`` = (count × gram char length) / doc char length — the
    share of the document the single dominant n-gram accounts for.
    High values flag boilerplate/templated text for quality filtering.

    Tie-break: among max-count grams, the lexicographically smallest
    (total order — deterministic on any engine/partitioning).

    Plan: split once (Generate barrier), explode n-grams, count by
    (doc, gram) — keys are document-scoped so the shuffle is uniform —
    then a map-side-combinable min(struct(-count, gram)) argmax per
    doc; no window sort. Documents with fewer than ``n`` tokens emit
    nothing.
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    base = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col),
        F.length(text_col).alias("_nchars"),
        F.explode(F.array(toks)).alias("_toks"),
    )
    grams = base.filter(F.size("_toks") >= n).select(
        id_col,
        "_nchars",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
                lambda i: F.array_join(F.slice(F.col("_toks"), i, n), " "),
            )
        ).alias("gram"),
    )
    counts = grams.groupBy(id_col, "_nchars", "gram").agg(
        F.count("*").alias("c")
    )
    top = counts.groupBy(id_col, "_nchars").agg(
        F.min(F.struct((-F.col("c")).alias("negc"), F.col("gram"))).alias("_t")
    )
    return top.select(
        id_col,
        F.col("_t.gram").alias("top_gram"),
        (-F.col("_t.negc")).alias("top_count"),
        F.round(
            (-F.col("_t.negc") * F.length("_t.gram")).cast("double")
            / F.col("_nchars"),
            9,
        ).alias("top_frac"),
    )
