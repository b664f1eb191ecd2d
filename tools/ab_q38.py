"""Clean A/B anchor for the q38 suite: fresh session, prebuilt indexes
(bench discipline), then N suite samples with the bench's
persist+count+collect measurement. Mirrors bench.py's standalone
anchor so numbers are comparable with extras.q38_standalone_sec; like
it, reports the first sample beside the min."""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from garden_net_backend_spark.operators.similarity import (  # noqa: E402
    ivf_build_index,
    pq_build_index,
)
from garden_net_backend_spark.queries import CATALOG, q38_suite_impl  # noqa: E402
from garden_net_backend_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(os.environ.get("R13_SAMPLES", "5"))


def main() -> None:
    spark = get_session("ab_q38")
    CATALOG["q01_pricing_summary"].spark_fn(spark, SF_DIR).collect()
    spark.range(0, 1 << 15, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    _c, _a = ivf_build_index(emb, n_centroids=32, refine_iters=1)
    _a = _a.persist(); _a.count()
    _cb, _codes = pq_build_index(emb, m=8, n_codes=16, refine_iters=1)
    _codes = _codes.persist(); _codes.count()
    samples = []
    for _ in range(N):
        t0 = time.time()
        df = q38_suite_impl(spark, SF_DIR, ivf_index=(_c, _a), pq_index=(_cb, _codes))
        df.persist()
        try:
            df.count()
            df.collect()
        finally:
            df.unpersist()
        samples.append(round(time.time() - t0, 3))
        gc.collect()
    # the first sample is what a one-shot caller pays: the first q38
    # run of a fresh session is much slower than the min of the rest
    print(f"q38_suite: first={samples[0]} min={min(samples)} samples={samples}")


if __name__ == "__main__":
    main()
