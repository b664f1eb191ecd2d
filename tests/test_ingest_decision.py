"""The ingest accept decision (streaming/ingest._ingest_decide), pinned
case by case through the MinHash face and the semantic face: a new doc
whose id collides with a stored one, NULL ids, a within-batch chain, a
chain through a rule-1 reject, zero-pair and empty batches. Each case
is a stored prefix (batch 0) and a decided batch (batch 1); the
accepted ids are asserted as the decision gives them. Then the same
rules on the decision's above-threshold path, and the Spark job budget
of one MinHash batch.

MinHash docs are word windows of one vocabulary per case: a window
shifted by 4 of 40 words is a near-dup (word-trigram Jaccard 34/42 ≈
0.81 ≥ 0.7), one shifted by 8 is not (30/46 ≈ 0.65). Semantic docs are
unit vectors in one plane per case: 20° apart is a near-dup (cos 0.94
≥ 0.9), 40° apart is not (cos 0.77); each plane has one centroid at the
middle of its vectors, so a case never straddles two cells."""

import math
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from garden_net_backend_spark.streaming import ingest

MH = dict(threshold=0.7, ngram=3, shingle="word", num_hashes=64, bands=16)
DIM = 12


def _words(case: int, shift: int) -> str:
    return " ".join(f"c{case}w{j:02d}" for j in range(shift, shift + 40))


def _vec(plane: int, deg: float) -> list:
    v = [0.0] * DIM
    v[2 * plane] = math.cos(math.radians(deg))
    v[2 * plane + 1] = math.sin(math.radians(deg))
    return v


class _Face:
    """One ingest face over a fresh store: ``run(rows, batch_id)`` takes
    ``(id, (case, shift))`` rows — a MinHash window of the 40 words of
    vocabulary ``case`` from word ``shift`` on, or a semantic vector in
    plane ``case`` at ``5 * shift`` degrees — and ``accepted()`` reads
    back the accepted ids (NULL included)."""

    def __init__(self, spark, face: str, work: str):
        self.spark, self.face = spark, face
        self.acc, self.idx = f"{work}/acc", f"{work}/idx"
        self.id_col = "doc_id" if face == "minhash" else "vec_id"
        if face == "semantic":
            self.cells = spark.createDataFrame(
                [(p, _vec(p, 15.0)) for p in range(DIM // 2)],
                "cell_id long, centroid array<float>",
            )

    def frame(self, rows):
        if self.face == "minhash":
            return self.spark.createDataFrame(
                [(i, _words(case, s)) for i, (case, s) in rows],
                "doc_id long, text string",
            )
        return self.spark.createDataFrame(
            [(i, _vec(case, 5.0 * s)) for i, (case, s) in rows],
            "vec_id long, embedding array<float>",
        )

    def run(self, rows, batch_id: int) -> None:
        df = self.frame(rows)
        if self.face == "minhash":
            ingest.process_ingest_batch(df, batch_id, self.acc, self.idx, **MH)
        else:
            ingest.process_ingest_batch_semantic(
                df, batch_id, self.acc, self.idx, self.cells, threshold=0.9
            )

    def accepted(self, batch_id: int) -> list:
        got = self.spark.read.parquet(self.acc).filter(
            F.col("ingest_batch") == batch_id
        )
        return sorted(
            (r[0] for r in got.select(self.id_col).collect()),
            key=lambda v: (v is None, v),
        )


@pytest.fixture(params=["minhash", "semantic"])
def face(request, spark):
    work = tempfile.mkdtemp(prefix=f"decide_{request.param}_")
    yield _Face(spark, request.param, work)
    shutil.rmtree(work, ignore_errors=True)


def test_cross_feed_id_collision(face):
    """Batch 1 reuses stored id 1 for a new doc in a plane of its own.
    That doc is kept (it never pairs with its stored namesake), so the
    corpus then holds id 1 twice; 2 and 4, near stored 0 and 1, are
    rejected; so is 3, near the new doc 1, because id 1 is a stored id
    too (rule 1 reads ids, not rows)."""
    face.run([(0, (0, 0)), (1, (1, 0))], 0)
    face.run([(1, (2, 0)), (2, (0, 4)), (3, (2, 4)), (4, (1, 4))], 1)
    assert face.accepted(0) == [0, 1]
    assert face.accepted(1) == [1]


def test_null_ids_are_never_accepted(face):
    """Rows with a NULL id never pair and are never accepted, on a
    first batch and against a stored prefix alike; the other rows of
    their batches are decided as usual."""
    face.run([(None, (0, 0)), (None, (0, 1)), (5, (1, 0))], 0)
    face.run([(None, (0, 8)), (None, (1, 4)), (6, (0, 16))], 1)
    assert face.accepted(0) == [5]
    assert face.accepted(1) == [6]


def test_within_batch_chain_collapses_to_min_id(face):
    """A~B and B~C with A≁C, all new: one cluster, the min id kept —
    on a first batch and against an unrelated stored prefix."""
    face.run([(12, (0, 0)), (10, (0, 4)), (11, (0, 8)), (13, (1, 0))], 0)
    face.run([(22, (1, 12)), (21, (1, 16)), (20, (1, 20))], 1)
    assert face.accepted(0) == [10, 13]
    assert face.accepted(1) == [20]


def test_chain_through_rule1_reject_does_not_propagate(face):
    """Stored X; batch: 1 ~ X (rejected by rule 1), 2 ~ 1 but ≁ X,
    3 ~ 2. The reject does not carry along the chain: 2 is kept, and 3
    collapses into 2 by rule 2."""
    face.run([(0, (0, 0))], 0)
    face.run([(1, (0, 4)), (2, (0, 8)), (3, (0, 12))], 1)
    assert face.accepted(1) == [2]


def test_zero_pair_and_empty_batches(face, spark):
    """An empty first batch writes no rows; batches with no verified
    pair accept every doc, first or against a stored prefix; an empty
    batch against a stored prefix changes nothing."""
    face.run([], 0)
    face.run([(0, (0, 0)), (1, (1, 0))], 1)
    face.run([(2, (0, 8)), (3, (1, 8))], 2)
    face.run([], 3)
    assert face.accepted(1) == [0, 1]
    assert face.accepted(2) == [2, 3]
    assert face.accepted(3) == []
    all_ids = spark.read.parquet(face.acc).select(face.id_col).collect()
    assert sorted(r[0] for r in all_ids) == [0, 1, 2, 3]


def test_above_threshold_path_decides_the_same(spark):
    """Every case above in one pair set, decided on the driver and, with
    ``collect_threshold=0``, as joins with rule 2 through the
    contraction path of connected_components: both keep 1 (the id
    collision), 10 (the chain's min id) and 21 (past the rule-1 reject
    20), and neither keeps a NULL id."""
    from garden_net_backend_spark.session import release

    new = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 12, 20, 21, 22, None)],
        "doc_id long",
    )
    stored = spark.createDataFrame([(0,), (1,), (5,)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 2), (1, 3), (1, 4), (10, 11), (11, 12), (5, 20), (20, 21),
         (21, 22)],
        "id_a long, id_b long",
    )
    for threshold in (100, 0):
        pins = []

        def pin(df):
            pins.append(ingest._pin(df))
            return pins[-1]

        try:
            keep = ingest._ingest_decide(
                pairs, new, stored, "doc_id", pin, collect_threshold=threshold
            )
            got = sorted(r[0] for r in keep.collect())
        finally:
            for df in pins:
                release(df)
        assert got == [1, 10, 21], threshold


def test_minhash_batch_job_budget(spark):
    """One MinHash batch against a stored prefix runs at most 40 Spark
    jobs and leaves no persisted RDD behind: the decision collects its
    near-dup pairs once and decides on the driver instead of re-planning
    the signing pipeline and a chain of joins per reference."""
    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="decide_budget_")
    face = _Face(spark, "minhash", work)
    try:
        # odd docs near-dup a stored doc, even ones are fresh
        face.run([(i, (i, 0)) for i in range(10)], 0)
        rows = [(10 + i, (i, 4) if i % 2 else (10 + i, 0)) for i in range(10)]
        before = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
        group = f"budget-{id(work)}"
        sc.setJobGroup(group, "one MinHash ingest batch")
        try:
            face.run(rows, 1)
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        left = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
        assert face.accepted(1) == [10, 12, 14, 16, 18]
        assert jobs <= 40, jobs
        assert not left - before
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_minhash_batch_jobs_carry_engine_descriptions(spark):
    """Every Spark job of one MinHash batch carries the description of
    the engine step that started it (``ingest.minhash/<step>``), not
    the caller's; the caller's job group still counts them all, and the
    caller's description is back once the batch ends."""
    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="decide_labels_")
    face = _Face(spark, "minhash", work)
    try:
        face.run([(i, (i, 0)) for i in range(6)], 0)
        rows = [(10 + i, (i, 4) if i % 2 else (10 + i, 0)) for i in range(6)]
        group = f"labels-{id(work)}"
        sc.setJobGroup(group, "the caller's label")
        try:
            face.run(rows, 1)
            assert sc.getLocalProperty("spark.job.description") == "the caller's label"
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)
        store = sc._jsc.sc().statusStore()
        labels = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            desc = store.job(jid).description()
            labels.append(desc.get() if desc.isDefined() else None)
        assert labels and all(
            d is not None and d.startswith("ingest.minhash/") for d in labels
        ), labels
        assert {
            "ingest.minhash/decide/pin:bands",
            "ingest.minhash/decide/pin:pairs",
            "ingest.minhash/decide/pin:accepted",
            "ingest.minhash/write/accepted",
            "ingest.minhash/write/index",
            "ingest.minhash/metrics",
        } <= set(labels), sorted(set(labels))
    finally:
        shutil.rmtree(work, ignore_errors=True)
