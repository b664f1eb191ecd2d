"""Seeded inputs for the benchmark workloads.

Everything the engine receives is made here from the workload seed:
the same seed gives byte-identical inputs, another seed other inputs.
Sizes are fixed; the seed changes content only, so runs with different
seeds do the same amount of work.
"""

from __future__ import annotations

import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- garden_net: the catalog's lineitem table ----------------------------

#: rows of ``lineitem`` (the size of the catalog's sf0.01 table). The
#: network is the catalog's synthetic PCHiC network
#: (``queries._synthetic_pchic``), derived from this table: about 5,000
#: nodes and 24,000 edges after the threshold.
N_LINEITEM = 60_000
#: rows of the small ``lineitem`` whose network warms the code path up
#: during set-up
WARM_LINEITEM = 3_000
#: the synthetic-network family's threshold on the score (l_quantity)
WT_THRESHOLD = 30.0


def lineitem_columns(seed: int, n: int = N_LINEITEM, tag: str = "net") -> dict[str, list]:
    """``n`` rows of ``lineitem`` in the catalog's schema, with TPC-H's
    key ratios (four rows per order, 30 per part, 600 per supplier);
    ``tag`` names an independent stream of the seed."""
    rng = random.Random(f"lineitem:{tag}:{seed}")
    t0 = datetime.datetime(2024, 3, 1)
    cols: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for j in range(n):
        cols["l_orderkey"].append(rng.randrange(n // 4))
        cols["l_partkey"].append(rng.randrange(n // 30))
        cols["l_suppkey"].append(rng.randrange(n // 600))
        cols["l_linenumber"].append(j % 7 + 1)
        cols["l_quantity"].append(float(rng.randrange(1, 51)))
        cols["l_extendedprice"].append(round(rng.uniform(900, 100000), 2))
        cols["l_discount"].append(rng.choice([0.0, 0.01, 0.05, 0.1]))
        cols["l_tax"].append(rng.choice([0.0, 0.02, 0.08]))
        cols["l_returnflag"].append(rng.choice("RAN"))
        cols["l_linestatus"].append(rng.choice("OF"))
        cols["l_shipdate"].append(t0 + datetime.timedelta(minutes=rng.randrange(500000)))
    return cols


LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def write_lineitem(directory: str, cols: dict[str, list]) -> str:
    path = os.path.join(directory, "lineitem.parquet")
    pq.write_table(pa.table(cols, schema=LINEITEM_SCHEMA), path)
    return path


# --- garden_net: web traffic ---------------------------------------------

#: the request kinds of every pass, in order; each pass sends one new
#: request of each kind (a memo miss)
PASS_KINDS = ("gene", "nearest")
#: memo hits per pass. A hit takes 1-3 ms; hundreds of them span
#: enough time that their median does not hang on a short stall.
HITS_PER_PASS = 200


def baits(cols: dict[str, list]) -> list[tuple[str, int, str]]:
    """(chromosome, start, gene) of every bait that survives the
    threshold, sorted. The mapping is ``queries._synthetic_pchic``'s:
    chromosome ``l_orderkey % 5 + 1``, start ``(l_partkey % 1000) * 100``,
    gene ``GENE<l_partkey % 50>``; fragments are 100 bp long."""
    out = set()
    for ok, pk, q in zip(cols["l_orderkey"], cols["l_partkey"], cols["l_quantity"]):
        if q > WT_THRESHOLD:
            out.add((str(ok % 5 + 1), (pk % 1000) * 100, f"GENE{pk % 50}"))
    return sorted(out)


def search_requests(seed: int, pass_no: int, bait_list: list) -> list[dict]:
    """The new requests of pass ``pass_no``, one per ``PASS_KINDS``;
    every term names a bait of the seeded network."""
    rng = random.Random(f"search:{seed}:{pass_no}")
    out = []
    for kind in PASS_KINDS:
        chrom, start, gene = rng.choice(bait_list)
        req = {"kind": kind, "nearest": False, "expand": 0}
        if kind == "gene":
            req["search"] = gene
        elif kind == "nearest":  # a point inside the bait: it is the closest
            req["search"] = f"{chrom}:{start + 50}"
            req["nearest"] = True
        else:
            raise ValueError(kind)
        out.append(req)
    return out


def zipf_counts(n_items: int, k: int) -> list[int]:
    """``k`` repeats split over ``n_items`` ranks in proportion to
    Zipf(1) weights ``1 / (rank + 1)``, by largest remainder."""
    weights = [1.0 / (rank + 1) for rank in range(n_items)]
    raw = [k * w / sum(weights) for w in weights]
    counts = [int(x) for x in raw]
    by_rest = sorted(range(n_items), key=lambda r: counts[r] - raw[r])
    for r in by_rest[: k - sum(counts)]:
        counts[r] += 1
    return counts


def search_traffic(seed: int, pass_no: int, bait_list: list) -> list[dict]:
    """One pass of web traffic: the pass's new requests, then
    ``HITS_PER_PASS`` repeats of them (memo hits), Zipf(1)-distributed
    over the requests in ``PASS_KINDS`` order and shuffled. The repeat
    counts are the same in every pass, so every pass sends the same
    mix."""
    new = search_requests(seed, pass_no, bait_list)
    repeats = [
        dict(req)
        for req, n in zip(new, zipf_counts(len(new), HITS_PER_PASS))
        for _ in range(n)
    ]
    random.Random(f"traffic:{seed}:{pass_no}").shuffle(repeats)
    return new + repeats


# --- garden_net: feature uploads -----------------------------------------

N_FEATURE_ROWS = 300
#: uploads of every pass, in order: the plain three-column BED users
#: send without a signal column, then a six-column BED
PASS_UPLOADS = ("bed3", "bed6")


def feature_lines(fmt: str, seed: int, tag: str) -> tuple[str, list[str]]:
    """(file name, lines) of one upload in format ``fmt``; features
    fall on the network's chromosomes and coordinates."""
    rng = random.Random(f"feature:{fmt}:{seed}:{tag}")
    lines = []
    for _ in range(N_FEATURE_ROWS):
        c = rng.randrange(1, 6)
        s = rng.randrange(100_000)
        e = s + rng.randrange(50, 500)
        if fmt == "bed3":
            lines.append(f"chr{c}\t{s}\t{e}")
        elif fmt == "bed6":
            lines.append(f"chr{c}\t{s}\t{e}\tpeak\t{rng.uniform(0, 10):.3f}\t+")
        else:
            raise ValueError(fmt)
    return f"{fmt}_{tag}.bed", lines


def write_lines(directory: str, name: str, lines: list[str]) -> str:
    path = os.path.join(directory, name)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return path


# --- ingest_stream: document batches -------------------------------------

BATCH_DOCS = 100
#: docs of the backfill that warms the code path up during set-up
WARM_DOCS = 20
DOC_WORDS = 80
VOCAB = 3000
#: every DUP_EVERY-th doc is a planted near-duplicate (one word changed)
DUP_EVERY = 10


def _batch(rng: random.Random, vocab: list[str], first_id: int,
           texts: dict[int, str], stored: list[int]) -> dict:
    docs, dups, originals = [], [], []
    for i in range(first_id, first_id + BATCH_DOCS):
        if i % DUP_EVERY == DUP_EVERY - 1:
            words = texts[rng.choice(stored or originals)].split()
            words[rng.randrange(len(words))] = "zz"
            text = " ".join(words)
            dups.append(i)
        else:
            text = " ".join(rng.choice(vocab) for _ in range(DOC_WORDS))
            originals.append(i)
        texts[i] = text
        docs.append((i, text))
    return {"docs": docs, "dups": dups, "originals": originals}


def doc_batches(seed: int, n_gated: int) -> list[dict]:
    """The backfill batch, then ``n_gated`` gated batches, each of
    ``BATCH_DOCS`` docs with its own id range. Every ``DUP_EVERY``-th
    doc re-uses an original's text with one word changed: in the
    backfill an earlier doc of the backfill, in a gated batch a doc of
    the backfill (the stored corpus every gated batch is ingested
    against). Returns per batch ``docs`` (id, text), ``dups`` (planted
    near-duplicate ids) and ``originals`` (ids the gate must accept)."""
    rng = random.Random(f"docs:{seed}")
    vocab = [f"w{i}" for i in range(VOCAB)]
    texts: dict[int, str] = {}
    backfill = _batch(rng, vocab, 0, texts, [])
    out = [backfill]
    for b in range(1, n_gated + 1):
        out.append(_batch(rng, vocab, b * BATCH_DOCS, texts, backfill["originals"]))
    return out
