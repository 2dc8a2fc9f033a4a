"""Dump ``.explain("formatted")`` for declared queries to files.

Usage: python tools/dump_plans.py OUTDIR SUFFIX [sf_dir] [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each requested query (default: the
bench.BENCH_QUERIES list minus streaming rows, which have no single batch
plan). The optimization-round ritual commits plans/r09/<q>_before.txt and
<q>_after.txt so the judge can check plan claims without running Spark.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    args = sys.argv[1:]
    outdir, suffix = args[0], args[1]
    rest = args[2:]
    sf_dir = rest[0] if rest and os.path.isdir(rest[0]) else \
        "/root/testdata/sf0.01"
    wanted = [a for a in rest if not os.path.isdir(a)]

    from pyspark.sql import DataFrame

    import __spark_entry__ as em
    import bench

    # the bench's session shape (AQE off at sub-GB scale, pinned derived
    # inputs) so the committed plans are the plans the bench times
    spark, _ = bench.bench_session("dump-plans", sf_dir)

    qs = em.queries()
    names = wanted or [n for n in bench.BENCH_QUERIES
                       if not n.startswith("stream_")]
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            if not isinstance(df, DataFrame):
                print(f"[{name}] skipped (not a single batch plan)")
                continue
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001
            txt = f"ERROR: {e}\n"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"[{name}] {len(txt)} chars")


if __name__ == "__main__":
    main()
