"""Byte-pair-encoding tokenization (north-star extension): the step
between a curated corpus and the token stream a trainer consumes.
``functions/text.bpe_token_count`` approximates GPT-2 token counts with
the pre-tokenizer regex alone; this module is the real thing — learned
merges, applied greedily.

Scale shape (the standard industrial split):

- **Training is a driver-side job on a deterministic sample.** BPE
  merge learning is inherently sequential (every merge changes the
  pair statistics feeding the next), so it cannot be a distributed
  loop — and it does not need to be: merge quality saturates at
  ~10⁶ sample tokens, so every production tokenizer is trained on a
  sample. The sample here is content-hash ordered (xxhash64), making
  it reproducible under any partitioning or corpus ordering — the
  explicit, documented exception to the no-collect rule, bounded by
  ``sample_tokens``.
- **Application is embarrassingly parallel**: merges broadcast as a
  rank table inside an Arrow-batched ``mapInPandas``; each word is
  encoded by greedy lowest-rank merging (GPT-2's algorithm) with a
  per-batch word memo — natural-language batches repeat most words, so
  amortized cost per word is a dict hit. This is the legitimate
  Python-UDF case: an iterative per-token algorithm with no relational
  form.

Word pre-tokenization is whitespace + end-of-word marker (Sennrich et
al. 2016 formulation) — one marker token '</w>' closes each word so
detokenization is exact (property-tested round trip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import whitespace_tokens

_EOW = "</w>"


def _word_freqs_from_sample(rows: list[str]) -> dict[str, int]:
    freqs: dict[str, int] = {}
    for text in rows:
        for w in text.split():
            freqs[w] = freqs.get(w, 0) + 1
    return freqs


def train_bpe_merges(
    docs: DataFrame,
    num_merges: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_tokens: int = 1_000_000,
    seed: int = 42,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a deterministic corpus
    sample → ranked list of symbol pairs.

    Classic Sennrich training over word frequencies: each word starts
    as characters + ``</w>``; per round, the most frequent adjacent
    symbol pair merges (count desc, pair lexicographic asc tie-break —
    fully deterministic); stops early when no pair repeats. The sample
    is the first documents in xxhash64(id, seed) order up to a document
    budget of ``sample_tokens / mean_doc_tokens`` — stable across
    partitionings and corpus insertion order, unlike a ``limit`` over
    an unordered scan. ``orderBy + limit`` plans as a distributed
    TakeOrdered (per-partition top-k merged on the driver), NOT a
    global single-task window sort; the token budget is met in
    expectation, which is all merge learning needs.
    """
    sized = docs.select(
        F.col(text_col).alias("_text"),
        F.size(whitespace_tokens(F.col(text_col))).alias("_n"),
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"),
    ).filter(F.col("_n") > 0)
    mean_n = sized.agg(F.avg("_n")).collect()[0][0]
    if mean_n is None:
        return []
    n_docs = max(1, int(sample_tokens / max(float(mean_n), 1.0)))
    rows = [
        r["_text"]
        for r in sized.orderBy("_h").limit(n_docs).select("_text").collect()
    ]
    freqs = _word_freqs_from_sample(rows)
    words = {w: tuple(w) + (_EOW,) for w in freqs}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            f = freqs[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + f
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break  # nothing repeats — further merges are memorization
        a, b = best[0]
        merges.append((a, b))
        merged = a + b
        new_words = {}
        for w, syms in words.items():
            out = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[w] = tuple(out)
        words = new_words
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    syms = list(word) + [_EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i < 0:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned merges → ``(id_col, bpe_tokens array<string>,
    n_bpe_tokens)``, one row per document.

    Greedy lowest-rank merging per word (GPT-2's encoder loop) inside
    ``mapInPandas``: the merge table rides the closure (broadcast once
    per executor), a per-batch memo makes repeated words O(1), and the
    output is plain columns — downstream packing/counting stays
    relational. Detokenization contract: join tokens, drop ``</w>``
    markers → the whitespace-normalized original (tested).
    """
    ranks = {p: i for i, p in enumerate(merges)}
    # carry the caller's id type through (string/int corpora ids must
    # not be silently cast to long — ADVICE r3)
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, bpe_tokens array<string>, n_bpe_tokens long"
    )

    def encode(batches):
        import pandas as pd

        memo: dict[str, list[str]] = {}
        for pdf in batches:
            ids, toks, ns = [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                syms: list[str] = []
                for w in (text or "").split():
                    enc = memo.get(w)
                    if enc is None:
                        enc = _encode_word(w, ranks)
                        memo[w] = enc
                    syms.extend(enc)
                ids.append(i)
                toks.append(syms)
                ns.append(len(syms))
            yield pd.DataFrame(
                {id_col: ids, "bpe_tokens": toks, "n_bpe_tokens": ns}
            )

    return docs.select(id_col, text_col).mapInPandas(encode, out_schema)
