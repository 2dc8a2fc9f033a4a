"""tools/scale_ladder.py: replication is exact where it holds by
construction, every registered case constructs and executes at k=1, and
the import contract perfbench relies on holds."""
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
if TOOLS not in sys.path:
    sys.path.insert(0, TOOLS)

import __spark_entry__ as em  # noqa: E402
import scale_ladder as sl  # noqa: E402
from bench import force_count  # noqa: E402
from bioframe_spark.datapipe import dedup, similarity  # noqa: E402

SF = os.path.join(os.path.dirname(em.SF_DEFAULT), "sf0.01")
needs_sf = pytest.mark.skipif(not os.path.isdir(SF), reason="no sf0.01 data")


@pytest.fixture(scope="module")
def ladder(spark):
    lad = sl.Ladder(spark, SF)
    yield lad
    lad.close()


def _copy(vec_id):
    return vec_id // 10_000_000


@needs_sf
def test_intervals_and_exact_jaccard_double_at_k2(ladder):
    a1, b1 = ladder.arg("a", 1), ladder.arg("b", 1)
    a2, b2 = ladder.arg("a", 2), ladder.arg("b", 2)
    import bioframe_spark as bf
    assert force_count(bf.count_overlaps(a2, b2)) == \
        2 * force_count(bf.count_overlaps(a1, b1))
    p1 = dedup.ngram_jaccard_pairs(ladder.arg("docs", 1), n=3, threshold=0.5)
    p2 = dedup.ngram_jaccard_pairs(ladder.arg("docs", 2), n=3, threshold=0.5)
    n1, n2 = force_count(p1), force_count(p2)
    assert n1 > 0 and n2 == 2 * n1


@needs_sf
def test_embedding_copies_keep_cosines_and_share_no_pairs(ladder):
    rows = ladder.arg("emb", 2).collect()
    by_copy = {}
    for r in sorted(rows, key=lambda r: r["vec_id"]):
        by_copy.setdefault(_copy(r["vec_id"]), []).append(r["embedding"])
    raw = ladder.spark.read.parquet(f"{SF}/embeddings.parquet") \
        .orderBy("vec_id").collect()

    def cosines(vecs):
        m = np.asarray(vecs, dtype=float)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return m @ m.T

    base = cosines([r["embedding"] for r in raw])
    assert sorted(by_copy) == [0, 1]
    for vecs in by_copy.values():
        np.testing.assert_allclose(cosines(vecs), base, rtol=0, atol=1e-9)
    pairs = similarity.embedding_dup_pairs(ladder.arg("emb", 2),
                                           threshold=0.9).collect()
    assert [p for p in pairs if _copy(p["id1"]) != _copy(p["id2"])] == []


@needs_sf
@pytest.mark.parametrize("name", list(sl.CASES))
def test_every_case_runs_at_k1(ladder, name):
    construct_s, execute_s, rows = ladder.measure(name, 1, 1)
    assert construct_s >= 0 and execute_s >= 0 and rows >= 0


def test_perfbench_import_contract():
    from check_oracle import canon  # noqa: F401
    from scale_ladder import SPAN, replicate  # noqa: F401
    assert SPAN == em.CLEN
    # importing the driver must not start Spark
    code = ("import sys; sys.path.insert(0, 'tools'); import scale_ladder; "
            "from pyspark import SparkContext; "
            "assert SparkContext._active_spark_context is None")
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)
