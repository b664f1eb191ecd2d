"""Model-based document quality scoring (north-star extension): the
CCNet recipe (Wenzek et al. 2020) — score every document by its
likelihood under a language model fit on a trusted reference corpus,
then filter/bucket on the score. The heuristic rules in
``functions/text.py`` (Gopher, quality_score) catch structural junk;
the LM score catches fluent-looking gibberish and off-distribution
text, and is the standard third leg of a web-corpus quality stack.

The Spark-shaped LM here is an add-k-smoothed UNIGRAM model: real
CCNet uses a 5-gram KenLM, but the *pipeline* shape — fit counts on a
reference corpus, broadcast/join them onto the target corpus, reduce
per-document mean negative log-likelihood — is identical, and unigram
counts are the distribution-friendly choice (one combinable groupBy;
a 5-gram table is the same plan over ``with_shingles`` output). The
scorer is deterministic and engine-portable in practice: counts are
integers, the smoothing constant 0.5 makes every log2 ARGUMENT an
exactly representable IEEE double, addends go through the
exact-decimal bridge (``functions/exact.dsum``), and the mean is
rounded to 6 digits — so an external SQL engine reproduces the score
(q45 gate arm). Honest caveat (ADVICE r3): log2 itself is not
bit-specified across engines (JVM Math.log vs libm), so a 1-ulp
addend difference landing exactly on the decimal bridge's rounding
boundary could in principle flip the last digit; both engines would
have to produce a log2 within 1 ulp of an exact 8-decimal midpoint
for that to happen — astronomically unlikely and never observed, but
"deterministic given each engine's ≤1-ulp log2", not a bit-level
guarantee.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import exact
from ..functions.text import whitespace_tokens


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    return docs.select(
        F.col(id_col).alias("_id"), F.explode(toks).alias("_t")
    )


def unigram_nll(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing_k: float = 0.5,
) -> DataFrame:
    """Per-document mean negative log₂-likelihood under an add-k
    unigram LM → ``(id_col, n_lm_tokens, nll)``; lower = more typical
    of the reference corpus. Every input document gets a row
    (token-less documents score 0.0).

    ``lm_docs`` is the reference corpus the model is fit on (CCNet
    uses Wikipedia); default is ``docs`` itself — self-scoring, which
    ranks documents by how typical they are of their own corpus (the
    outlier-detection mode). p(t) = (c_t + k) / (N + k·(V+1)), with
    one unseen-token bucket; NLL addend = log₂(N + k(V+1)) −
    log₂(c_t + k).

    Scale shape: fitting is ONE combinable count aggregation over the
    reference tokens; scoring is one equi-join on the token (AQE
    broadcasts it when the vocabulary is small; a web-scale vocabulary
    hash-joins — never a driver collect) plus one combinable per-doc
    aggregate. The (N, V) totals are a one-row broadcast composition.
    """
    lm = docs if lm_docs is None else lm_docs
    lm_toks = _tokens(lm, text_col, id_col)
    counts = lm_toks.groupBy("_t").agg(F.count("*").alias("_c"))
    totals = counts.agg(
        F.sum("_c").alias("_n"), F.count("*").alias("_v")
    )
    doc_toks = _tokens(docs, text_col, id_col)
    k = F.lit(float(smoothing_k))
    scored = (
        doc_toks.join(counts, "_t", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "_id",
            (
                F.log2(F.col("_n") + k * (F.col("_v") + 1))
                - F.log2(F.coalesce(F.col("_c"), F.lit(0)) + k)
            ).alias("_a"),
        )
    )
    per_doc = scored.groupBy("_id").agg(
        F.count("*").alias("n_lm_tokens"),
        F.round(exact.dsum(F.col("_a")) / F.count("*"), 6).alias("nll"),
    )
    return (
        docs.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lm_tokens", F.lit(0)).cast("long").alias(
                "n_lm_tokens"
            ),
            F.coalesce("nll", F.lit(0.0)).alias("nll"),
        )
    )
