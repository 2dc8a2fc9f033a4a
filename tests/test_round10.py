"""Round-10 optimization pins: jaccard counts-ride equivalence, the
hot-list anti-join plan shape, ride-cache lifecycle on the ranged islands
persist, carry_cache hand-off, and the streaming state-shuffle sizing
helper."""

import re

import pytest
from pyspark.sql import functions as F

import bioframe_spark as bf
from bioframe_spark.datapipe import dedup


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    rows = [(i, f"alpha beta gamma delta epsilon {i % 6} zeta eta {i % 4} "
                f"theta iota") for i in range(120)]
    # parquet-backed so the plan size is known (the cache auto-gate
    # resolves False for createDataFrame-backed frames)
    p = str(tmp_path_factory.mktemp("r10") / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p)
    return spark.read.parquet(p)


def test_jaccard_counts_ride_matches_aggregated_counts(spark, docs):
    # default path = the r10 counts-ride formulation; a never-firing
    # cutoff = the aggregated-counts formulation over the identical
    # shingle set (empty hot list, no anti-join)
    ride = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.3).collect()))
    agg = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.3, max_doc_freq=10**9).collect()))
    assert ride == agg and len(ride) > 0


def test_jaccard_hot_list_antijoin_plan(spark, docs):
    # a small non-empty hot list re-enters as a broadcast anti-join
    # against the collected local relation — never as a literal In/InSet
    # filter on the shingle hash
    kw = dict(n=3, threshold=0.3, max_doc_freq=60, cache=False)
    out = dedup.ngram_jaccard_pairs(docs, **kw)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join LeftAnti" in plan, plan
    assert re.search(r"LocalRelation \[__k", plan), plan
    assert not re.search(r"\bINSET\b|\bIN \(", plan), plan
    got = sorted(map(tuple, out.collect()))
    # the over-cap fallback: the lazy df-aggregate is the join side
    spark.conf.set("spark.bioframe.smallInputMaxRows", "0")
    try:
        lazy = dedup.ngram_jaccard_pairs(docs, **kw)
        lazy_plan = lazy._jdf.queryExecution().optimizedPlan().toString()
        want = sorted(map(tuple, lazy.collect()))
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")
    assert "LocalRelation" not in lazy_plan, lazy_plan
    assert got == want and len(got) > 0


def test_jaccard_ride_cache_lifecycle(spark, docs):
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3)
    out.count()
    handles = getattr(out, "_bioframe_cache", None)
    assert handles and handles[0].storageLevel.useMemory
    dedup.release_cache(out)
    assert not handles[0].storageLevel.useMemory


def test_ranged_islands_persist_rides_merge_result(spark):
    rows = [("chr1", 10 * i, 10 * i + 15) for i in range(500)]
    df = spark.createDataFrame(rows, "chrom string, start long, end long")
    out = bf.merge(df, min_dist=0, range_width=100)
    out.count()
    handles = getattr(out, "_bioframe_cache", None)
    assert handles, "ranged merge result should carry the islands persist"
    assert any(h.storageLevel.useMemory or h.storageLevel.useDisk
               for h in handles)
    dedup.release_cache(out)
    assert not any(h.storageLevel.useMemory for h in handles)


def test_carry_cache_moves_handles_and_finalizer(spark, docs):
    src = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3)
    assert getattr(src, "_bioframe_cache", None)
    derived = dedup.carry_cache(src.select("id1", "id2"), src)
    handles = derived._bioframe_cache
    # the source's finalizer was detached: dropping src must NOT
    # unpersist the handles while the derived frame is alive
    import gc

    del src
    gc.collect()
    derived.count()
    assert any(h.storageLevel.useMemory for h in handles)
    dedup.release_cache(derived)
    assert not any(h.storageLevel.useMemory for h in handles)
    # no-op on a frame without handles
    plain = spark.range(3)
    assert dedup.carry_cache(plain, spark.range(2)) is plain


def test_sized_state_shuffle_restores_conf(spark):
    from bioframe_spark.streaming.stream_ops import sized_state_shuffle

    old = spark.conf.get("spark.sql.shuffle.partitions")
    with sized_state_shuffle(spark, 8):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
    with pytest.raises(RuntimeError):
        with sized_state_shuffle(spark, 8):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
