"""Internal-persist lifecycle (``bioframe_spark.core.cache``): a nested
public call keeps its persists alive for the outer result, closest's
binned ladder is released with its result, and the lifecycle stays
behind one module."""
import ast
import gc
import pathlib

import pytest

import bioframe_spark as bf
from bioframe_spark.core import cache
from bioframe_spark.datapipe import dedup
from test_round7 import _conf
from test_round8 import _n_cached, _wait_cached

PKG = pathlib.Path(bf.__file__).parent


def _ivals(spark, n, step, width):
    rows = [(c, step * i, step * i + width)
            for c in ("chr1", "chr2") for i in range(n)]
    return spark.createDataFrame(rows, "chrom string, start long, end long")


def _premerge_coverage(spark):
    # strategy="plain" skips the broadcast kernel; the byte bars force
    # the inner merge onto its persisted premerge path (a ranged width
    # is what persists the fused frame; its row count then switches the
    # finish back to the classic border merge)
    with _conf(spark, spark__bioframe__smallInputBytes=1,
               spark__bioframe__premergeBytes=1,
               spark__bioframe__rangedWindowBytes=1):
        return bf.coverage(_ivals(spark, 40, 50, 30),
                           _ivals(spark, 200, 10, 15), strategy="plain")


def test_coverage_keeps_merge_persist_until_release(spark):
    """The inner merge's premerge persist must outlive coverage()'s
    return: dropping merge's own result inside coverage must not free
    it before the coverage plan runs."""
    spark.catalog.clearCache()
    base = _n_cached(spark)
    out = _premerge_coverage(spark)
    gc.collect()
    handles = out._bioframe_cache
    assert handles and all(h.storageLevel.useMemory for h in handles)
    want = {(r["chrom"], r["start"]): r["coverage"] for r in
            bf.coverage(_ivals(spark, 40, 50, 30),
                        _ivals(spark, 200, 10, 15)).collect()}
    got = {(r["chrom"], r["start"]): r["coverage"] for r in out.collect()}
    assert got == want
    assert all(h.storageLevel.useMemory for h in handles)
    dedup.release_cache(out)
    assert not any(h.storageLevel.useMemory for h in handles)
    assert _wait_cached(spark, base)


def test_coverage_merge_persist_released_on_gc(spark):
    spark.catalog.clearCache()
    base = _n_cached(spark)
    out = _premerge_coverage(spark)
    out.count()
    assert _n_cached(spark) > base
    del out
    gc.collect()
    assert _wait_cached(spark, base), \
        "GC of the coverage result must unpersist merge's persist"


def test_closest_binned_ladder_released_with_result(spark):
    df1 = _ivals(spark, 60, 100, 10)
    df2 = _ivals(spark, 30, 170, 5)
    spark.catalog.clearCache()
    base = _n_cached(spark)
    out = bf.closest(df1, df2, strategy="binned")
    assert out.count() == 120
    assert _n_cached(spark) > base, "the ladder should persist its rungs"
    del out
    gc.collect()
    assert _wait_cached(spark, base), \
        "GC of the closest result must unpersist the ladder's persists"

    out = bf.closest(df1, df2, strategy="binned")
    handles = out._bioframe_cache
    out.count()
    dedup.release_cache(out)
    assert not any(h.storageLevel.useMemory for h in handles)
    assert _wait_cached(spark, base)


def test_shared_needs_a_scope_and_failed_calls_release(spark):
    with pytest.raises(RuntimeError, match="scoped"):
        cache.shared(spark.range(3))

    kept = []

    @cache.scoped
    def failing(df):
        kept.append(cache.shared(df))
        raise ValueError("boom")

    with pytest.raises(ValueError):
        failing(spark.range(5))
    assert not kept[0].storageLevel.useMemory


def test_lifecycle_lives_in_one_module():
    """Only core/cache.py decides how internal persists are released,
    and the operators never reach into the data pipeline for it."""
    for p in PKG.rglob("*.py"):
        if p == PKG / "core" / "cache.py":
            continue
        src = p.read_text()
        assert "_bioframe_cache" not in src, p
        assert "weakref.finalize" not in src, p
    for p in (PKG / "operators").rglob("*.py"):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            elif isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            else:
                continue
            assert not any("datapipe" in m for m in mods), (p, node.lineno)
