"""Dedup operator tests: exactness of the baselines, recall/precision of
the probabilistic paths against the exact ones, determinism."""

import pytest
from pyspark.sql import functions as F

from garden_net_backend_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the rain falls softly outside the house"
)
DOCS = [
    (0, BASE),
    (1, BASE),  # exact dup of 0
    (2, BASE + " tonight"),  # near dup of 0
    (3, BASE.replace("quick", "slow")),  # near dup of 0
    (4, "completely different text about spark dataframes and shuffles"),
    (5, "another unrelated document mentioning genomes and chromatin"),
    (6, "  " + BASE + "  "),  # whitespace variant → exact dup after norm
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs_df):
    got = {r["doc_id"]: r["n_copies"] for r in exact_dedup(docs_df).collect()}
    assert got[0] == 3  # docs 0, 1, 6 normalize identically
    assert 1 not in got and 6 not in got
    assert got[2] == got[3] == got[4] == got[5] == 1


def test_ngram_jaccard_exact_pairs(docs_df):
    rows = ngram_jaccard_pairs(docs_df, n=5, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    # identical docs → jaccard 1.0
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 6)] == 1.0  # shingling normalizes whitespace
    # near dups clear the bar
    assert pairs[(0, 2)] > 0.9
    assert pairs[(0, 3)] > 0.7
    # unrelated docs absent
    assert (4, 5) not in pairs and (0, 4) not in pairs


def test_minhash_matches_exact_on_high_similarity(docs_df):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, n=5, threshold=0.5).collect()
    }
    mh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dedup_pairs(docs_df, threshold=0.5).collect()
    }
    # precision: every reported pair is exactly verified → values equal
    for k, v in mh.items():
        assert k in exact and abs(v - exact[k]) < 1e-9
    # recall: at s >= 0.7 the 16x4 S-curve is ~1; all such pairs found
    for k, v in exact.items():
        if v >= 0.7:
            assert k in mh, (k, v)


def test_minhash_deterministic(docs_df):
    a = sorted(map(tuple, minhash_dedup_pairs(docs_df, seed=7).collect()))
    b = sorted(map(tuple, minhash_dedup_pairs(docs_df, seed=7).collect()))
    assert a == b
    c = sorted(map(tuple, minhash_dedup_pairs(docs_df, seed=8).collect()))
    # same verified-pair set (verification is exact) even if candidates differ
    assert {t[:2] for t in a} >= {t[:2] for t in c} or {t[:2] for t in c} >= {t[:2] for t in a}


def test_simhash_near_pairs(docs_df):
    fps = simhash(docs_df)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_pairs(fps, max_hamming=10).collect()}
    assert got[(0, 1)] == 0  # identical token streams
    assert (0, 2) in got  # one extra token → few bits flip
    assert (0, 4) not in got and (4, 5) not in got


def test_minhash_on_real_documents(spark):
    """On the driver's documents table, MinHash-LSH recovers every exact
    Jaccard >= 0.8 pair (S-curve recall ~0.9998 there)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, n=5, threshold=0.8).collect()
    }
    mh = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(docs, threshold=0.8).collect()
    }
    assert exact, "fixture should contain near-duplicate documents"
    missed = exact - mh
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_dedup_representatives_transitive(spark):
    """A~B, B~C (A~C never emitted) must collapse to one cluster with
    min-id representative; isolated docs represent themselves."""
    from garden_net_backend_spark.operators.dedup import dedup_representatives

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["representative"]
        for r in dedup_representatives(docs, pairs).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_dedup_representatives_lsh_fed_end_to_end(spark):
    """Production shape: MinHash-LSH pairs feeding the cluster-
    representative step. A planted near-dup CHAIN (A~B, B~C with A and C
    more distant) must collapse into one min-id cluster even though LSH
    may never emit the A~C pair directly."""
    from garden_net_backend_spark.operators.dedup import (
        dedup_representatives,
        minhash_dedup_pairs,
    )

    # varied vocabulary → ~58 distinct trigrams; one changed word flips
    # only 3 of them (J ≈ 0.9, where the seeded 16×4 LSH S-curve is
    # effectively certain), so A~B and B~C are emitted but A~C may not
    # be — the chain must still collapse through CC
    base = " ".join(f"word{i:02d}" for i in range(60))
    rows = [
        (0, base),
        (1, base.replace("word10", "changedx")),
        (2, base.replace("word10", "changedx").replace("word40", "altered")),
        (3, "completely unrelated text about spark adaptive execution "
            "plans and shuffle partitioning strategies " * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_dedup_pairs(docs, threshold=0.8, shingle="word", ngram=3)
    got = {
        r["doc_id"]: r["representative"]
        for r in dedup_representatives(docs, pairs).collect()
    }
    assert got[0] == 0 and got[1] == 0 and got[2] == 0, got
    assert got[3] == 3


def test_minhash_dedup_incremental(spark):
    """New-shard ingest against a stored signature index: pairs touching
    the shard are found (shard-vs-corpus AND shard-vs-shard), already-
    handled corpus-vs-corpus pairs are NOT re-emitted."""

    base = " ".join(f"tok{i:02d}" for i in range(60))
    corpus = spark.createDataFrame(
        [
            (0, base),
            (1, base.replace("tok05", "mutant")),  # corpus-internal near-dup of 0
            (2, "entirely different corpus document about something else " * 3),
        ],
        "doc_id long, text string",
    )
    shard = spark.createDataFrame(
        [
            (10, base.replace("tok20", "edited")),   # near-dup of corpus 0/1
            (11, base.replace("tok20", "edited")),   # exact dup of 10
            (12, "fresh unrelated shard text with its own vocabulary " * 3),
        ],
        "doc_id long, text string",
    )
    kw = dict(threshold=0.7, shingle="word", ngram=3)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(shard, corpus_docs=corpus, **kw).collect()
    }
    assert (10, 11) in pairs                     # shard-vs-shard
    assert (0, 10) in pairs and (0, 11) in pairs  # shard-vs-corpus
    assert (0, 1) not in pairs                   # corpus-vs-corpus excluded
    assert not any(a == 12 or b == 12 for a, b in pairs)


# ---------------------------------------------------------------- spans


def _brute_spans(corpus, L):
    """Python reference for duplicated_spans/excise_duplicate_spans:
    O(all windows) dict-based, independent of the Spark plan."""
    toks = {i: t.split() for i, t in corpus}
    occ = {}
    for i, ts in toks.items():
        for p in range(len(ts) - L + 1):
            occ.setdefault(tuple(ts[p : p + L]), []).append((i, p))
    dup_pos = {}  # doc -> set of duplicated window starts
    cut_pos = {}  # doc -> set of cut token positions
    for w, places in occ.items():
        if len(places) < 2:
            continue
        first = min(places)
        for i, p in places:
            dup_pos.setdefault(i, set()).add(p)
            if (i, p) != first:
                cut_pos.setdefault(i, set()).update(range(p, p + L))
    spans = []
    for i, starts in dup_pos.items():
        cur = None
        for p in sorted(starts):
            if cur is not None and p <= cur[1]:
                cur = (cur[0], max(cur[1], p + L))
            else:
                if cur:
                    spans.append((i, cur[0], cur[1]))
                cur = (p, p + L)
        if cur:
            spans.append((i, cur[0], cur[1]))
    clean = {}
    for i, ts in toks.items():
        cut = cut_pos.get(i, set())
        kept = [t for p, t in enumerate(ts) if p not in cut]
        clean[i] = (" ".join(kept), len(kept), len(ts) - len(kept))
    return sorted(spans), clean


SPAN_L = 4
SPAN_DOCS = [
    (0, "a b c d e f g h"),                      # source passage
    (1, "x y a b c d e f q r"),                  # embeds 0's prefix run
    (2, "a b c d e f g h"),                      # exact dup of 0 → fully cut
    (3, "one two three four five six"),          # unique
    (4, "p q r s p q r s p q r s"),              # intra-doc repetition
    (5, "short doc"),                            # below window length
    (6, ""),                                     # empty
    (7, "m n o p Q a b c d e f m n o p Q"),      # two separate dup regions
]


@pytest.fixture(scope="module")
def span_docs(spark):
    return spark.createDataFrame(SPAN_DOCS, "doc_id long, text string")


def test_duplicated_spans_matches_bruteforce(span_docs):
    from garden_net_backend_spark.operators.dedup import duplicated_spans

    got = sorted(
        (r["doc_id"], r["span_begin"], r["span_end"])
        for r in duplicated_spans(span_docs, min_tokens=SPAN_L).collect()
    )
    want, _ = _brute_spans(SPAN_DOCS, SPAN_L)
    assert got == want
    # structure sanity on the fixture: doc 2 fully covered, doc 3 absent
    by_doc = {d: (b, e) for d, b, e in got}
    assert by_doc[2] == (0, 8)
    assert 3 not in by_doc and 5 not in by_doc and 6 not in by_doc


def test_excise_matches_bruteforce_and_keeps_first(span_docs):
    from garden_net_backend_spark.operators.dedup import (
        excise_duplicate_spans,
    )

    rows = excise_duplicate_spans(span_docs, min_tokens=SPAN_L).collect()
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept_tokens"], r["n_cut_tokens"])
        for r in rows
    }
    _, want = _brute_spans(SPAN_DOCS, SPAN_L)
    assert got == want
    # first occurrence survives verbatim; the exact copy is emptied
    assert got[0][0] == "a b c d e f g h"
    assert got[2] == ("", 0, 8)
    # every doc present, including empty/short ones
    assert set(got) == {d for d, _ in SPAN_DOCS}
    # intra-doc repetition keeps exactly the first period
    assert got[4][0] == "p q r s"


def test_excise_oversize_doc_guard(spark):
    """max_tokens_per_doc (judge r3 task 7): a document above the cap
    must bypass the per-doc rebuild and pass through flagged, with no
    tokens cut, while normal docs still excise exactly — and the
    default output carries oversize=false everywhere."""
    from garden_net_backend_spark.operators.dedup import (
        excise_duplicate_spans,
    )

    monster = " ".join(f"w{i}" for i in range(200)) + " a b c d e f g h"
    docs = spark.createDataFrame(
        SPAN_DOCS + [(8, monster)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in excise_duplicate_spans(
            docs, min_tokens=SPAN_L, max_tokens_per_doc=100
        ).collect()
    }
    # the monster passed through: flagged, nothing cut, text normalized
    assert rows[8]["oversize"] is True
    assert rows[8]["n_cut_tokens"] == 0
    assert rows[8]["n_kept_tokens"] == 208
    assert rows[8]["clean_text"] == monster
    # normal docs below the cap still excise: the exact dup is emptied
    # and flagged false
    assert rows[2]["clean_text"] == "" and rows[2]["oversize"] is False
    assert rows[0]["clean_text"] == "a b c d e f g h"
    # NOTE the semantic trade the guard makes: doc 8 embeds doc 0's
    # passage and its windows DO participate in fingerprinting (doc 2
    # is still cut, first occurrence still doc 0) — only the cut
    # APPLICATION to doc 8 is skipped, so the monster's own copy
    # survives, which is exactly what the flag reports.
    assert set(rows) == {d for d, _ in SPAN_DOCS} | {8}
    # guard disabled → no pass-through, flag false everywhere
    rows_off = {
        r["doc_id"]: r
        for r in excise_duplicate_spans(
            docs, min_tokens=SPAN_L, max_tokens_per_doc=None
        ).collect()
    }
    assert all(not r["oversize"] for r in rows_off.values())


def test_spans_deterministic_under_repartition(span_docs):
    from garden_net_backend_spark.operators.dedup import duplicated_spans

    a = sorted(map(tuple, duplicated_spans(span_docs, min_tokens=SPAN_L).collect()))
    b = sorted(
        map(
            tuple,
            duplicated_spans(
                span_docs.repartition(7), min_tokens=SPAN_L
            ).collect(),
        )
    )
    assert a == b


def test_spans_on_real_documents(spark):
    """Planted long shared passage across sf0.001 docs is found, and
    excision output re-run through detection is span-free (idempotence
    on spans ≥ 2L−1)."""
    from garden_net_backend_spark.operators.dedup import (
        duplicated_spans,
        excise_duplicate_spans,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    passage = " ".join(f"tok{i}" for i in range(12))
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat_ws(" ", F.col("text"), F.lit(passage)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    spans = duplicated_spans(planted, min_tokens=8)
    hosts = {r["doc_id"] for r in spans.collect()}
    planted_ids = {r["doc_id"] for r in planted.filter("doc_id % 3 = 0").collect()}
    assert planted_ids <= hosts  # every planted host has a span
    clean = excise_duplicate_spans(planted, min_tokens=8).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    again = duplicated_spans(clean, min_tokens=8)
    # the passage is gone: no surviving span covers tok0..tok11
    assert again.filter(F.col("n_span_tokens") >= 12).count() == 0


def test_prefix_filtered_jaccard_equals_baseline(docs_df, spark):
    """AllPairs prefix filtering is exact: identical pair set + scores
    vs the inverted-index baseline, on the fixture AND real documents,
    across thresholds."""
    from garden_net_backend_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    for tau in (0.3, 0.5, 0.8):
        base = sorted(
            map(tuple, ngram_jaccard_pairs(docs_df, n=5, threshold=tau).collect())
        )
        pf = sorted(
            map(
                tuple,
                ngram_jaccard_pairs_prefix(docs_df, n=5, threshold=tau).collect(),
            )
        )
        assert pf == base, f"tau={tau}"
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(real, n=3, threshold=0.5, shingle="word").collect(),
        )
    )
    pf = sorted(
        map(
            tuple,
            ngram_jaccard_pairs_prefix(
                real, n=3, threshold=0.5, shingle="word"
            ).collect(),
        )
    )
    assert pf == base and base, "real corpus must contain near-dups"


def test_incremental_span_excision_equals_batch(spark):
    """Ingest workflow: shard excised against the stored window index
    must equal batch excision of corpus+shard restricted to the shard,
    for every duplication mode (corpus↔shard, shard-internal, novel).
    Chained: the index over corpus+shard makes a SECOND shard exact
    too."""
    from garden_net_backend_spark.operators.dedup import (
        excise_duplicate_spans,
        window_index,
    )

    L = 4
    passage = "p1 p2 p3 p4 p5 p6"
    corpus = spark.createDataFrame(
        [
            (0, "c1 c2 c3 c4 " + passage),
            (1, "d1 d2 d3 d4 d5 d6 d7"),
        ],
        "doc_id long, text string",
    )
    shard = spark.createDataFrame(
        [
            (10, "s1 s2 " + passage + " s3"),        # dups corpus passage
            (11, "q1 q2 q3 q4 q1 q2 q3 q4"),         # shard-internal dup
            (12, "novel na nb nc nd ne nf"),         # untouched
            (13, "q1 q2 q3 q4 zz"),                  # dups shard 11's run
        ],
        "doc_id long, text string",
    )
    idx = window_index(corpus, min_tokens=L).persist()
    cleaned = excise_duplicate_spans(shard, min_tokens=L, index=idx)
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept_tokens"], r["n_cut_tokens"])
        for r in cleaned.collect()
    }
    both = corpus.unionByName(shard)
    want = {
        r["doc_id"]: (r["clean_text"], r["n_kept_tokens"], r["n_cut_tokens"])
        for r in excise_duplicate_spans(both, min_tokens=L).collect()
        if r["doc_id"] >= 10
    }
    assert got == want
    # the corpus passage is gone from the shard but intact in doc 0
    assert "p1" not in got[10][0] and got[12][0].startswith("novel")
    # chained ingest: a second shard against the index of corpus+shard
    shard2 = spark.createDataFrame(
        [(20, "w1 w2 " + passage), (21, "q1 q2 q3 q4 done")],
        "doc_id long, text string",
    )
    cleaned2 = excise_duplicate_spans(
        shard2, min_tokens=L, index=window_index(both, min_tokens=L)
    )
    got2 = {
        r["doc_id"]: (r["clean_text"], r["n_kept_tokens"], r["n_cut_tokens"])
        for r in cleaned2.collect()
    }
    all3 = both.unionByName(shard2)
    want2 = {
        r["doc_id"]: (r["clean_text"], r["n_kept_tokens"], r["n_cut_tokens"])
        for r in excise_duplicate_spans(all3, min_tokens=L).collect()
        if r["doc_id"] >= 20
    }
    assert got2 == want2


def test_stored_state_modes_refuse_conflicting_inputs(docs_df):
    """A kernel's stored-state input cannot be combined with an input
    that describes the shard alone or the whole corpus: substring
    ``positions`` with ``index``; MinHash ``grams`` with a corpus, and
    ``corpus_bands`` without the corpus docs to verify against."""
    from garden_net_backend_spark.operators.dedup import (
        band_signatures,
        duplicated_window_positions,
        excise_duplicate_spans,
        minhash_signatures,
        window_index,
    )
    from garden_net_backend_spark.functions.text import with_shingles

    with pytest.raises(ValueError, match="positions= and index="):
        excise_duplicate_spans(
            docs_df,
            min_tokens=4,
            positions=duplicated_window_positions(docs_df, min_tokens=4),
            index=window_index(docs_df, min_tokens=4),
        )
    with pytest.raises(ValueError, match="grams="):
        minhash_dedup_pairs(
            docs_df,
            grams=with_shingles(docs_df, "text", "_grams", 5, "char"),
            corpus_docs=docs_df,
        )
    with pytest.raises(ValueError, match="corpus_bands="):
        minhash_dedup_pairs(
            docs_df,
            corpus_bands=band_signatures(minhash_signatures(docs_df)),
        )


def test_minhash_incremental_banded_index_tier(spark, docs_df):
    """The two index tiers — none (re-sign corpus) and the round-9
    corpus_bands (stored band_signatures output) — must produce the
    identical pair set; bands are a pure function of sigs."""
    from garden_net_backend_spark.operators.dedup import (
        band_signatures,
        minhash_signatures,
    )

    corpus = docs_df.filter(F.col("doc_id") % 2 == 0)
    shard = docs_df.filter(F.col("doc_id") % 2 == 1)
    kw = dict(threshold=0.3, ngram=3, shingle="word", num_hashes=64, bands=16)
    base = sorted(
        map(
            tuple,
            minhash_dedup_pairs(shard, corpus_docs=corpus, **kw).collect(),
        )
    )
    sigs = minhash_signatures(corpus, ngram=3, shingle="word")
    via_bands = sorted(
        map(
            tuple,
            minhash_dedup_pairs(
                shard,
                corpus_docs=corpus,
                corpus_bands=band_signatures(sigs, 16, 4),
                **kw,
            ).collect(),
        )
    )
    assert base == via_bands
    assert len(base) > 0


def test_line_dedup_first_occurrence_keeps(spark):
    """line_dedup (C4/CCNet/RefinedWeb line-level step): a line whose
    normalized form repeats corpus-wide is cut everywhere EXCEPT its
    first (min (id, pos)) occurrence, which keeps its ORIGINAL form;
    short lines are exempt; every input doc emits exactly one row."""
    from garden_net_backend_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (0, "Nav  Bar\nunique zero\ncookie notice"),
            (1, "nav bar\nunique one\nCookie   Notice"),
            (2, "unique two\nNAV BAR\nx"),   # 'x' short → exempt
            (3, "x\n\nunique three"),        # blank + short → exempt
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in line_dedup(docs, min_chars=2).collect()
    }
    assert set(got) == {0, 1, 2, 3, 4}
    # first occurrences survive in original (un-normalized) form
    assert got[0]["clean_text"] == "Nav  Bar\nunique zero\ncookie notice"
    assert got[0]["n_cut_lines"] == 0
    # later occurrences of both repeated lines are cut
    assert got[1]["clean_text"] == "unique one"
    assert got[1]["n_cut_lines"] == 2
    assert got[2]["clean_text"] == "unique two\nx"
    assert got[2]["n_cut_lines"] == 1
    # exempt lines never count as duplicates of each other
    assert got[3]["clean_text"] == "x\n\nunique three"
    assert got[3]["n_cut_lines"] == 0
    assert got[4]["clean_text"] == "" and got[4]["n_kept_lines"] == 1
    # kept+cut = total lines per doc
    for r in got.values():
        total = len(r["clean_text"].split("\n")) if r["n_cut_lines"] == 0 else None
        if total is not None:
            assert r["n_kept_lines"] == total
    # determinism under repartition (first-occurrence is a global min,
    # not a partition accident)
    again = {
        r["doc_id"]: r["clean_text"]
        for r in line_dedup(docs.repartition(7), min_chars=2).collect()
    }
    assert again == {k: v["clean_text"] for k, v in got.items()}
    # custom separator face (the q29 gate shape): split on a token
    tok = spark.createDataFrame(
        [(0, "aa bb SEP cc dd"), (1, "aa  bb SEP ee")],
        "doc_id long, text string",
    )
    got2 = {
        r["doc_id"]: r
        for r in line_dedup(tok, sep=" SEP ", joiner=" SEP ").collect()
    }
    assert got2[0]["clean_text"] == "aa bb SEP cc dd"
    assert got2[1]["clean_text"] == "ee" and got2[1]["n_cut_lines"] == 1


def test_line_dedup_incremental_matches_batch(spark):
    """Chained per-shard line dedup against a stored line_index must
    equal the batch line_dedup over the whole corpus restricted to
    each shard (monotonic-id contract); each next index is built over
    the shards seen so far."""
    from garden_net_backend_spark.operators.dedup import (
        line_dedup,
        line_index,
    )

    shards = [
        [(0, "nav bar\nalpha only"), (1, "beta only\nnav bar")],
        [(10, "NAV  BAR\ngamma only\nfooter note"), (11, "footer note")],
        [(20, "footer  NOTE\nnav bar\ndelta only")],
    ]
    schema = "doc_id long, text string"
    all_docs = spark.createDataFrame(sum(shards, []), schema)
    truth = {
        r["doc_id"]: (r["clean_text"], r["n_cut_lines"])
        for r in line_dedup(all_docs).collect()
    }
    assert truth[0][0] == "nav bar\nalpha only"       # firsts survive
    assert truth[10] == ("gamma only\nfooter note", 1)
    assert truth[11] == ("", 1)
    assert truth[20] == ("delta only", 2)
    idx = None
    seen = []
    got = {}
    for rows in shards:
        shard = spark.createDataFrame(rows, schema)
        cleaned = line_dedup(shard, index=idx)
        seen += rows
        idx = line_index(spark.createDataFrame(seen, schema))
        idx = idx.localCheckpoint(eager=True)
        got.update(
            (r["doc_id"], (r["clean_text"], r["n_cut_lines"]))
            for r in cleaned.collect()
        )
    assert got == truth


def test_line_dedup_null_text_docs_survive(spark):
    """Review r10: a NULL text explodes to zero lines — the doc must
    still emit its output row ('', 0, 0), not vanish (the ingest face
    inner-joins on the output, so a dropped row is silent data loss)."""
    from garden_net_backend_spark.operators.dedup import (
        line_dedup,
        line_index,
    )

    docs = spark.createDataFrame(
        [(0, "nav bar\nalpha"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert set(got) == {0, 1, 2}
    assert got[1]["clean_text"] == "" and got[1]["n_kept_lines"] == 0
    assert got[1]["n_cut_lines"] == 0
    # incremental face: same contract
    idx = line_index(docs).localCheckpoint(eager=True)
    shard = spark.createDataFrame(
        [(10, None), (11, "nav  bar\nfresh")], "doc_id long, text string"
    )
    cleaned = line_dedup(shard, index=idx)
    got2 = {r["doc_id"]: r for r in cleaned.collect()}
    assert set(got2) == {10, 11}
    assert got2[10]["clean_text"] == "" and got2[10]["n_cut_lines"] == 0
    assert got2[11]["clean_text"] == "fresh" and got2[11]["n_cut_lines"] == 1


def test_q29_linedup_oracle_pins_null_text_contract(spark):
    """ADVICE r10: the q29 linedup oracle arm now anchors on the
    documents frame (LEFT JOIN to the split/rebuild CTEs), so a
    NULL-text document produces the SAME ('id#', 0) row on both sides
    — the driver corpus has no NULL text, so this pins the contract on
    an adversarial frame the gate itself never sees."""
    import duckdb

    from garden_net_backend_spark.operators.dedup import line_dedup
    from garden_net_backend_spark.queries import CATALOG

    rows = [
        (0, "alpha beta line nav bar line tail words"),
        (1, None),
        (2, "nav bar line fresh content"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    engine = {
        (r["k"], r["val"])
        for r in line_dedup(docs, sep=" line ")
        .select(
            F.concat_ws(
                "#", F.col("doc_id").cast("string"), F.col("clean_text")
            ).alias("k"),
            F.col("n_cut_lines").cast("double").alias("val"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL' if t is None else repr(t)})" for i, t in rows
        )
        + ") AS t(doc_id, text)"
    )
    oracle = {
        (k, v)
        for g, k, v in con.execute(
            CATALOG["q29_content_dedup"].oracle_sql
        ).fetchall()
        if g == "linedup"
    }
    assert engine == oracle
    assert ("1#", 0.0) in engine  # the NULL-text row exists on BOTH sides
    assert ("3#", 0.0) in engine


# ------------------------------------------------- NULL / empty text

EDGE_TEXT = "the quick brown fox jumps"
EDGE_DOCS = [(0, EDGE_TEXT), (1, EDGE_TEXT), (2, None), (3, ""), (4, "   ")]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def _edge_minhash_incremental(docs):
    return minhash_dedup_pairs(
        docs.filter("doc_id > 0"), corpus_docs=docs.filter("doc_id = 0"),
        ngram=2, shingle="word",
    )


def _edge_simhash_pairs(docs):
    return simhash_near_pairs(simhash(docs))


def _edge_excise_incremental(docs, guard=2_000_000):
    from garden_net_backend_spark.operators.dedup import (
        excise_duplicate_spans,
        window_index,
    )

    idx = window_index(docs.filter("doc_id = 0"), min_tokens=3)
    return excise_duplicate_spans(
        docs.filter("doc_id > 0"), min_tokens=3, max_tokens_per_doc=guard,
        index=idx,
    )


def _edge_line_incremental(docs):
    from garden_net_backend_spark.operators.dedup import line_dedup, line_index

    idx = line_index(docs.filter("doc_id = 0"))
    return line_dedup(docs.filter("doc_id > 0"), index=idx)


def _edge_case(name):
    from garden_net_backend_spark.operators import dedup

    return {
        "exact_dedup": lambda d: dedup.exact_dedup(d),
        "ngram_jaccard_pairs": lambda d: dedup.ngram_jaccard_pairs(
            d, n=2, shingle="word"
        ),
        "ngram_jaccard_pairs_prefix": lambda d: dedup.ngram_jaccard_pairs_prefix(
            d, n=2, shingle="word"
        ),
        "minhash_dedup_pairs": lambda d: dedup.minhash_dedup_pairs(
            d, ngram=2, shingle="word"
        ),
        "minhash_dedup_incremental": _edge_minhash_incremental,
        "simhash_near_pairs": _edge_simhash_pairs,
        "duplicated_spans": lambda d: dedup.duplicated_spans(d, min_tokens=3),
        "excise_duplicate_spans": lambda d: dedup.excise_duplicate_spans(
            d, min_tokens=3
        ),
        "excise_duplicate_spans_unguarded": lambda d: dedup.excise_duplicate_spans(
            d, min_tokens=3, max_tokens_per_doc=None
        ),
        "excise_duplicate_spans_incremental": _edge_excise_incremental,
        "excise_duplicate_spans_incremental_unguarded": lambda d: (
            _edge_excise_incremental(d, guard=None)
        ),
        "window_index": lambda d: dedup.window_index(d, min_tokens=3).drop("wkey"),
        "line_dedup": lambda d: dedup.line_dedup(d),
        "line_dedup_incremental": _edge_line_incremental,
    }[name]


EDGE_EXPECTED = {
    # NULL is its own group; "" and "   " normalize to the same text
    "exact_dedup": {(0, 2), (2, 1), (3, 2)},
    # token-less docs have no shingles, so they pair with nothing
    "ngram_jaccard_pairs": {(0, 1, 1.0)},
    "ngram_jaccard_pairs_prefix": {(0, 1, 1.0)},
    "minhash_dedup_pairs": {(0, 1, 1.0)},
    "minhash_dedup_incremental": {(0, 1, 1.0)},
    # token-less docs all get fingerprint 0 and pair at Hamming 0
    "simhash_near_pairs": {(0, 1, 0), (2, 3, 0), (2, 4, 0), (3, 4, 0)},
    "duplicated_spans": {(0, 0, 5, 5), (1, 0, 5, 5)},
    # every doc keeps its row; NULL text counts as zero tokens
    "excise_duplicate_spans": {
        (0, EDGE_TEXT, 5, 0, False),
        (1, "", 0, 5, False),
        (2, "", 0, 0, False),
        (3, "", 0, 0, False),
        (4, "", 0, 0, False),
    },
    "excise_duplicate_spans_unguarded": {
        (0, EDGE_TEXT, 5, 0, False),
        (1, "", 0, 5, False),
        (2, "", 0, 0, False),
        (3, "", 0, 0, False),
        (4, "", 0, 0, False),
    },
    "excise_duplicate_spans_incremental": {
        (1, "", 0, 5, False),
        (2, "", 0, 0, False),
        (3, "", 0, 0, False),
        (4, "", 0, 0, False),
    },
    "excise_duplicate_spans_incremental_unguarded": {
        (1, "", 0, 5, False),
        (2, "", 0, 0, False),
        (3, "", 0, 0, False),
        (4, "", 0, 0, False),
    },
    "window_index": {(2, 0, 0), (2, 0, 1), (2, 0, 2)},
    # "" and "   " are one short line each: kept, never counted
    "line_dedup": {
        (0, EDGE_TEXT, 1, 0),
        (1, "", 0, 1),
        (2, "", 0, 0),
        (3, "", 1, 0),
        (4, "   ", 1, 0),
    },
    "line_dedup_incremental": {
        (1, "", 0, 1),
        (2, "", 0, 0),
        (3, "", 1, 0),
        (4, "   ", 1, 0),
    },
}


@pytest.mark.parametrize("case", sorted(EDGE_EXPECTED))
def test_dedup_family_null_empty_whitespace_text(edge_docs, case):
    """Pinned output of every dedup kernel on two identical docs plus
    NULL, empty and whitespace-only text: no kernel fails on them,
    the per-document kernels emit one row per input doc (the
    excisions, batch and incremental, with the oversize guard on and
    off, count NULL text as zero tokens), and the pair kernels pair
    only the identical docs — except SimHash, which gives every
    token-less doc fingerprint 0."""
    got = {tuple(r) for r in _edge_case(case)(edge_docs).collect()}
    assert got == EDGE_EXPECTED[case]


def test_q29_excise_oracle_pins_null_text_contract(spark):
    """The q29 excise arm on an adversarial frame with NULL and empty
    text: the engine's rows equal the oracle's, and the NULL-text doc
    has its ('id#', 0) row on both sides (the oracle anchors on the
    documents table)."""
    import duckdb

    from garden_net_backend_spark.operators.dedup import excise_duplicate_spans
    from garden_net_backend_spark.queries import CATALOG

    passage = " ".join(f"p{j}" for j in range(9))
    rows = [
        (0, "alpha beta " + passage + " tail"),
        (1, None),
        (2, "fresh words " + passage),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    engine = {
        (r["k"], r["val"])
        for r in excise_duplicate_spans(docs, min_tokens=8)
        .select(
            F.concat_ws(
                "#", F.col("doc_id").cast("string"), F.col("clean_text")
            ).alias("k"),
            F.col("n_kept_tokens").cast("double").alias("val"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL' if t is None else repr(t)})" for i, t in rows
        )
        + ") AS t(doc_id, text)"
    )
    oracle = {
        (k, v)
        for g, k, v in con.execute(
            CATALOG["q29_content_dedup"].oracle_sql
        ).fetchall()
        if g == "excise"
    }
    assert engine == oracle
    assert ("1#", 0.0) in engine and ("3#", 0.0) in engine
    assert ("2#fresh words", 2.0) in engine
