"""Isolated per-query probe: times named bench queries under the bench's
session shape (``bench.bench_session``: AQE off at sf<=1, pinned derived
inputs; force_count action) without running the whole suite.

Usage: python tools/probe_query.py QUERY[,QUERY...] [reps]
Env: SPARK_GRAFT_SF_DIR (default sf0.1). Prints per-rep seconds + median.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em  # noqa: E402
from bench import bench_session, force_count, n_persistent, repin  # noqa: E402


def main():
    names = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, pinned = bench_session("probe", sf_dir)
    qs = em.queries()
    base_cached = n_persistent(spark)
    for name in names:
        fn = qs[name]
        samples = []
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"probe:{name}#{rep}")
            t0 = time.time()
            n = force_count(fn(spark, sf_dir))
            samples.append(time.time() - t0)
            if n_persistent(spark) > base_cached:
                repin(spark, pinned)
        med = sorted(samples)[len(samples) // 2]
        print(f"{name}: median {med:.3f}s  reps {[round(s, 3) for s in samples]}"
              f"  ({n} rows)")


if __name__ == "__main__":
    main()
