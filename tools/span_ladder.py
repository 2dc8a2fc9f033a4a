"""Round-7 scale rungs (r6 verdict #1/#2/#5/#6):

  pairs    — span_dup_pairs at 1/4/16/64x (the single-kernel rewrite)
  hash     — md5 vs xx64 winnow A/B on dup_spans / span_removal /
             span_dup_pairs at 16x and 64x
  semdedup — semantic_dedup at 1/4/16/64x in the CONSTANT-CLUSTER-SIZE
             regime (n_centroids = 16*k, the paper's operating point);
             replicas are per-copy SIGNED PERMUTATIONS of the embedding
             coordinates — an orthogonal transform, so within-copy
             cosines (and the duplicate-group structure) are preserved
             EXACTLY while cross-copy cosines scramble to ~0
  jaccard  — jaccard_cutoff re-rung after the hashed-df cutoff
             (df computed on xxhash64 keys, hot list collected and
             re-entered as a broadcast anti-join)

Text replication reuses the token-bijection scheme
(tools/datapipe_ladder64.rep_docs_any): char-gram structure within a
copy is preserved, no cross-copy grams exist, so span workloads scale
exactly k x by construction.

Run: python tools/span_ladder.py [section ...] [--reps N]
     (default: all sections, reps=3)
"""
from __future__ import annotations

import math
import os
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bioframe_spark.session import get_spark  # noqa: E402
from bench import force_count as _force_count  # noqa: E402
from bioframe_spark.datapipe import dedup, similarity  # noqa: E402
from tools.datapipe_ladder64 import rep_docs_any  # noqa: E402

RUNGS = (1, 4, 16, 64)


def rep_embeddings_orth(emb, k: int, dim: int = 64):
    """k replicas of the embeddings table, copy i transformed by a
    signed permutation of coordinates (roll by 7*i, flip signs by the
    bits of a per-copy LCG) — exactly orthogonal, so within-copy cosine
    structure is bit-preserved while cross-copy pairs decorrelate."""
    copies = []
    for i in range(k):
        r = (7 * i) % dim
        seed = (i * 2654435761 + 12345) & 0xFFFFFFFF
        signs = [1.0 if ((seed >> (j % 32)) ^ (seed >> ((j * 7 + i) % 31))) & 1
                 else -1.0 for j in range(dim)]
        rolled = F.concat(F.slice("embedding", r + 1, dim - r),
                          F.slice("embedding", 1, r))
        vec = F.zip_with(rolled,
                         F.array(*[F.lit(s) for s in signs]),
                         lambda x, s: x * s)
        copies.append(emb.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            vec.alias("embedding")))
    return reduce(lambda x, y: x.unionByName(y), copies)


def _measure(results, rows_out, name, k, thunk, reps):
    samples, n = [], 0
    for _ in range(reps):
        # construction INSIDE the timer: ops with eager driver-side
        # stages (semantic_dedup's Lloyd training + centroid collect)
        # do real Spark jobs before returning — timing only the final
        # materialization under-reports them (the r7 semdedup rung read
        # exp 1.22 from exactly this, vs 0.92 end-to-end)
        t0 = time.time()
        out = thunk()
        n = _force_count(out)
        samples.append(time.time() - t0)
        dedup.release_cache(out)
    med = sorted(samples)[len(samples) // 2]
    results.setdefault(name, {})[k] = med
    rows_out.setdefault(name, {})[k] = n
    print(f"k={k:2d} {name:24s} median {med:8.2f}s  ({n} rows)", flush=True)


def _report(results, rows_out):
    print("\n| op | " + " | ".join(f"t{k}" for k in RUNGS)
          + " | exp 16->64 | rows 1/64 |")
    for name, ts in results.items():
        e = (math.log(ts[64] / ts[16]) / math.log(4)
             if ts.get(16) and ts.get(64) else float("nan"))
        cells = " | ".join(f"{ts.get(k, 0):.2f}" for k in RUNGS)
        print(f"| {name} | {cells} | {e:.2f} "
              f"| {rows_out[name].get(1)}/{rows_out[name].get(64)} |")


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 3
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=")[1] if "=" in a else sys.argv[
                sys.argv.index(a) + 1])
    sections = set(args) or {"pairs", "hash", "semdedup", "jaccard"}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("span-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    docs0 = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb0 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    results: dict[str, dict[int, float]] = {}
    rows_out: dict[str, dict[int, int]] = {}

    if sections & {"pairs", "hash", "jaccard"}:
        for k in RUNGS:
            if k not in (16, 64) and not (sections & {"pairs", "jaccard"}):
                continue
            docs = rep_docs_any(docs0, k).cache()
            nb = docs.count()
            print(f"k={k}: {nb} docs per replica", flush=True)
            if "pairs" in sections:
                _measure(results, rows_out, "span_dup_pairs", k,
                         lambda: dedup.span_dup_pairs(docs), reps)
            if "hash" in sections and k in (16, 64):
                _measure(results, rows_out, "dup_spans[md5]", k,
                         lambda: dedup.duplicate_spans(docs), reps)
                _measure(results, rows_out, "dup_spans[xx64]", k,
                         lambda: dedup.duplicate_spans(docs, hash="xx64"),
                         reps)
                _measure(results, rows_out, "span_removal[md5]", k,
                         lambda: dedup.remove_duplicate_spans(docs), reps)
                _measure(results, rows_out, "span_removal[xx64]", k,
                         lambda: dedup.remove_duplicate_spans(
                             docs, hash="xx64"), reps)
                _measure(results, rows_out, "span_dup_pairs[xx64]", k,
                         lambda: dedup.span_dup_pairs(docs, hash="xx64"),
                         reps)
            if "jaccard" in sections and k in (16, 64):
                _measure(results, rows_out, "jaccard_cutoff", k,
                         lambda: dedup.ngram_jaccard_pairs(
                             docs, threshold=0.4, max_doc_freq=100), reps)
            docs.unpersist()

    if "scoring" in sections:
        # plain replicas: term/bigram statistics scale k x — the honest
        # worst case for the model-count aggregates and shuffle joins
        from tools.ranking_ladder import rep_docs_plain

        from bioframe_spark.datapipe import ranking
        W = {"merge": 1.5, "scan": -0.75, "value": 0.25, "fast": 2.0,
             "hash": -1.25, "table": 0.5}
        for k in RUNGS:
            docs = rep_docs_plain(docs0, k).cache()
            nb = docs.count()
            print(f"k={k}: {nb} docs per replica", flush=True)
            _measure(results, rows_out, "quality_score", k,
                     lambda: ranking.linear_text_score(docs, W, bias=0.25),
                     reps)
            _measure(results, rows_out, "lm_score", k,
                     lambda: ranking.bigram_lm_scores(docs), reps)
            _measure(results, rows_out, "token_pairs", k,
                     lambda: ranking.token_pair_counts(docs, n=100), reps)
            _measure(results, rows_out, "score_buckets", k,
                     lambda: ranking.score_buckets(
                         ranking.linear_text_score(docs, W, bias=0.25)),
                     reps)
            docs.unpersist()

    if "semdedup" in sections:
        for k in RUNGS:
            emb = rep_embeddings_orth(emb0, k).cache()
            nb = emb.count()
            nc = 16 * k  # constant ~125-vector clusters: the paper's regime
            print(f"k={k}: {nb} vectors, n_centroids={nc}", flush=True)
            _measure(results, rows_out, "semdedup", k,
                     lambda: similarity.semantic_dedup(
                         emb, threshold=0.95, n_centroids=nc,
                         train_iters=1), reps)
            emb.unpersist()

    _report(results, rows_out)
    spark.stop()


if __name__ == "__main__":
    main()
