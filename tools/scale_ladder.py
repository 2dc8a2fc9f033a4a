"""The k-ladder: how do the engine's plans scale with input size?

Every case in ``CASES`` runs at each k of ``--k`` on inputs replicated
k times, one replication scheme per input kind:

- intervals (``a``, ``b``): ``replicate`` shifts copy i by i genome
  spans, so per-chromosome density, join selectivity and
  output-per-input stay constant and every interval output grows exactly
  k x. ``b1`` is the fixed 1x ``b`` (a small annotation track against a
  growing ``a``: the broadcast kernels' 100 TB shape).
- documents (``docs``): copy i suffixes every whitespace token with
  ``x<i>`` and re-suffixes the doc id. That is a bijection on tokens and
  no token is shared across copies, so word-shingle structure is kept
  per copy and exact outputs (exact duplicates, exact Jaccard pairs)
  grow exactly k x. Hashed miners (simhash, span fingerprints, minhash)
  see different token hashes in every copy, so their outputs do not:
  at sf0.01, k=1->2, ``span_dup_pairs`` went 793->1,718 and
  ``simhash_dup_pairs`` 2,104->3,065. ``docs1`` is the fixed 1x
  ``docs`` (= copy 0 of every ``docs``).
- ``docs_plain``: exact copies with re-suffixed ids, only for the
  term-statistics cases (bm25, vocab_topk, the scoring family): their
  statistics scale k x, the honest worst case for the tf shuffles.
- embeddings (``emb``): copy i is a signed permutation of the
  coordinates. It is orthogonal, so within-copy cosines are preserved
  while cross-copy pairs decorrelate.

A case is a function whose parameter names say what it reads: a fixture
name, ``k`` or ``spark``. Fixtures (``FIXTURES``, same convention, plus
``sf_dir`` and ``tmp``) are built on first use per k, cached, and
dropped after the last selected case at that k that reads them; their
build time prints once (for ``prebin`` and ``mh_index`` it is the
one-off write, reported as setup). A fixture that does not read ``k``,
directly or through another fixture, is built once per run.

Every rep times construction (the call) and execution
(``bench.force_count``) separately; the rep with the median sum is
reported, and its result is released (``release_cache``). A persist that
still leaks past a rep triggers the bench's reset (``bench.repin``),
so no rep times a cache replay. AQE stays on (get_spark's default, the
production shape). The report gives, per case and k, the median and row
count, and for each consecutive pair of ks the exponent
log(t_b/t_a)/log(b/a): ~1 is linear, <1 fixed-cost amortization, >>1 a
plan that would not survive 100 TB.

Run (SPARK_GRAFT_SF_DIR defaults to sf0.1; SPARK_GRAFT_CPUS sizes the
session, so a core-scaling point is one run per core count at one k):

    python tools/scale_ladder.py --k 1,4,16 --reps 3 --only merge,closest
    SPARK_GRAFT_CPUS=8 python tools/scale_ladder.py --k 4 --only merge

For an old-package A/B, check out the old ``bioframe_spark``
(``git checkout <rev> -- bioframe_spark``), run the same command, and
restore it.
"""
from __future__ import annotations

import argparse
import inspect
import math
import os
import shutil
import sys
import tempfile
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bioframe_spark.session import get_spark  # noqa: E402
import bioframe_spark as bf  # noqa: E402
import __spark_entry__ as em  # noqa: E402
from bench import force_count as _force_count, n_persistent, repin  # noqa: E402
from bioframe_spark.core.cache import release_cache  # noqa: E402
from bioframe_spark.datapipe import (  # noqa: E402
    classifier, dedup, packing, ranking, similarity, text, tokenize)
from bioframe_spark.sources.fileops import write_prebinned  # noqa: E402

SPAN = 500300  # CLEN from the entry module — one genome span per copy


def replicate(df, k: int):
    if k == 1:
        return df
    copies = [
        df.withColumn("start", F.col("start") + F.lit(i * SPAN))
          .withColumn("end", F.col("end") + F.lit(i * SPAN))
        for i in range(k)
    ]
    return reduce(lambda x, y: x.unionByName(y), copies)


def _union(copies):
    return reduce(lambda x, y: x.unionByName(y), copies)


def _copy_id(i):
    return F.concat(F.col("doc_id").cast("string"), F.lit(f"#c{i}")) \
        .alias("doc_id")


def rep_docs(docs, k: int):
    """The token-suffix bijection (see the module docstring)."""
    return _union([
        docs.select(_copy_id(i), F.regexp_replace(
            F.col("text"), r"(\S+)", rf"$1x{i:02d}").alias("text"))
        for i in range(k)])


def rep_docs_plain(docs, k: int):
    return _union([docs.select(_copy_id(i), "text") for i in range(k)])


def rep_emb(emb, k: int, dim: int = 64):
    """Copy i: roll the coordinates by 7*i and flip signs by the bits of
    a per-copy LCG — an exact signed permutation."""
    copies = []
    for i in range(k):
        r = (7 * i) % dim
        seed = (i * 2654435761 + 12345) & 0xFFFFFFFF
        signs = [1.0 if ((seed >> (j % 32)) ^ (seed >> ((j * 7 + i) % 31))) & 1
                 else -1.0 for j in range(dim)]
        rolled = F.concat(F.slice("embedding", r + 1, dim - r),
                          F.slice("embedding", 1, r))
        vec = F.zip_with(rolled, F.array(*[F.lit(s) for s in signs]),
                         lambda x, s: x * s)
        copies.append(emb.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            vec.alias("embedding")))
    return _union(copies)


def _read(spark, sf_dir, table):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _ivals(spark, sf_dir, which):
    return getattr(em, f"ivals_{which}")(spark, sf_dir).select(
        "chrom", "start", "end")


def _docs(spark, sf_dir):
    return _read(spark, sf_dir, "documents").select("doc_id", "text")


def _prebin(spark, a, b, tmp, k):
    # external-table paths: managed tables collide on their
    # spark-warehouse location across ladder re-runs
    write_prebinned(a, f"ladder_prebin_a_{k}", path=f"{tmp}/prebin_a_{k}")
    write_prebinned(b, f"ladder_prebin_b_{k}", path=f"{tmp}/prebin_b_{k}")
    return (spark.table(f"ladder_prebin_a_{k}"),
            spark.table(f"ladder_prebin_b_{k}"))


def _mh_index(docs, tmp, k):
    loc = f"{tmp}/mh_index_{k}"
    dedup.build_minhash_index(docs, loc, num_hashes=32, bands=8)
    return loc


FIXTURES = {
    "a": lambda spark, sf_dir, k: replicate(_ivals(spark, sf_dir, "a"), k),
    "b": lambda spark, sf_dir, k: replicate(_ivals(spark, sf_dir, "b"), k),
    "b1": lambda spark, sf_dir: _ivals(spark, sf_dir, "b"),
    "prebin": _prebin,
    "docs": lambda spark, sf_dir, k: rep_docs(_docs(spark, sf_dir), k),
    "docs1": lambda spark, sf_dir: rep_docs(_docs(spark, sf_dir), 1),
    "mh_index": _mh_index,
    "merges": lambda docs1: tokenize.bpe_train(
        docs1, n_merges=40, min_freq=2, max_words=50_000),
    "docs_plain": lambda spark, sf_dir, k: rep_docs_plain(
        _docs(spark, sf_dir), k),
    "emb": lambda spark, sf_dir, k: rep_emb(
        _read(spark, sf_dir, "embeddings"), k),
}


def _shared_header(docs):
    # one hot line in every document: its keeper aggregate must stay
    # map-side combinable as k grows
    return docs.withColumn(
        "text", F.concat(F.lit("SHARED-HEADER\n"), F.col("text")))


def _every_50th(docs1):
    # the eval set held constant while the corpus grows (the realistic
    # decontamination shape); copy 0 of ``docs`` contains it verbatim
    return docs1.filter(
        F.split("doc_id", "#").getItem(0).cast("long") % 50 == 0)


def _clf_epoch(spark, docs):
    # one training epoch over a k x labeled set: feature pass, margin
    # aggregate and slot-gradient shuffle all run inside construction
    classifier.train_quality_classifier(
        docs.withColumn("label", (F.abs(F.xxhash64("doc_id")) % 2)
                        .cast("int")),
        dim=1 << 16, epochs=1, lr=1.0)
    return spark.range(1)


def _remine(docs, docs1):
    # what a user without the persisted index pays per increment:
    # re-mine (index ∪ batch) with the self-join miner
    union = docs.unionByName(docs1.select(
        F.concat(F.col("doc_id"), F.lit("#new")).alias("doc_id"), "text"))
    return dedup.minhash_lsh_pairs(
        union, num_hashes=32, bands=8, threshold=0.5)


_W = {"merge": 1.5, "scan": -0.75, "value": 0.25, "fast": 2.0,
      "hash": -1.25, "table": 0.5}
_RANGED = dict(min_dist=0, range_width=50_000)

CASES = {
    # interval join, aggregation and window families
    "overlap_inner": lambda a, b: bf.overlap(a, b, how="inner"),
    "overlap_left": lambda a, b: bf.overlap(a, b, how="left"),
    "count_overlaps": lambda a, b: bf.count_overlaps(a, b),
    "coverage": lambda a, b: bf.coverage(a, b),
    "count_overlaps_fixb": lambda a, b1: bf.count_overlaps(a, b1),
    "coverage_fixb": lambda a, b1: bf.coverage(a, b1),
    "subtract": lambda a, b: bf.subtract(a, b),
    "closest": lambda a, b: bf.closest(b, a),
    "overlap_prebinned": lambda prebin: bf.overlap_prebinned(
        *prebin, suffixes=("", "_")),
    "merge": lambda a: bf.merge(a),
    "merge_ranged": lambda a: bf.merge(a, **_RANGED),
    "merge_classic": lambda a: bf.merge(a, premerge=False, range_width=None),
    "merge_premerge_classic": lambda a: bf.merge(
        a, premerge=True, range_width=None),
    "merge_ranged_only": lambda a: bf.merge(
        a, premerge=False, range_width=50_000),
    "merge_premerge_ranged": lambda a: bf.merge(
        a, premerge=True, range_width=50_000),
    "cluster": lambda a: bf.cluster(a),
    "cluster_ranged": lambda a: bf.cluster(a, **_RANGED, premerge=False),
    "complement": lambda a, k: bf.complement(
        a, view_df={f"chr{i}": k * SPAN for i in range(em.N_CHROMS)}),
    "pileup": lambda a: bf.pileup(a),
    "pileup_ranged": lambda a: bf.pileup(a, range_width=50_000),
    # the view replicates with the rows (copy i's arms shift by i*SPAN):
    # constant match density, and the kernel pays its arm-sweep growth
    "assign_view": lambda a, k: bf.assign_view(a, [
        (c, s + i * SPAN, e + i * SPAN, f"c{i}_{n}")
        for i in range(k) for (c, s, e, n) in em.arms_view()]),
    # document dedup and near-dup miners
    "exact_dedup": lambda docs: dedup.exact_duplicates(docs),
    "jaccard_pairs": lambda docs: dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.5),
    # max_doc_freq stays FIXED: the per-copy document-frequency
    # distribution is constant under the token bijection, so scaling the
    # cutoff with k re-admits ever-hotter shingles and measures the
    # loosened blocking, not the operator (SCALING §12-r06b)
    "jaccard_cutoff": lambda docs: dedup.ngram_jaccard_pairs(
        docs, threshold=0.4, max_doc_freq=100),
    "dedup_components": lambda docs: dedup.connected_components(
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)).select(
            F.col("id").alias("doc_id"), "component"),
    "minhash_lsh": lambda docs: dedup.minhash_lsh_pairs(docs),
    "minhash_components": lambda docs: dedup.connected_components(
        dedup.minhash_lsh_pairs(docs), strategy="loop"),
    "simhash_pairs": lambda docs: dedup.simhash_dup_pairs(docs),
    "span_dup_pairs": lambda docs: dedup.span_dup_pairs(docs),
    "span_dup_pairs_xx64": lambda docs: dedup.span_dup_pairs(
        docs, hash="xx64"),
    "dup_spans": lambda docs: dedup.duplicate_spans(docs),
    "dup_spans_xx64": lambda docs: dedup.duplicate_spans(
        docs, hash="xx64"),
    "span_removal": lambda docs: dedup.remove_duplicate_spans(docs),
    "span_removal_xx64": lambda docs: dedup.remove_duplicate_spans(
        docs, hash="xx64"),
    "contamination": lambda docs, docs1: dedup.ngram_contamination(
        docs, _every_50th(docs1), n=5),
    # the persisted MinHash index grows k x while the probe batch stays
    # the 1x corpus (the incremental-crawl regime); remine is the
    # alternative without the index
    "mh_probe": lambda docs1, mh_index: dedup.minhash_lsh_probe(
        docs1, mh_index, threshold=0.5),
    "mh_remine": _remine,
    # per-document text transforms and filters
    "quality_feats": lambda docs: text.quality_features(docs),
    "redact": lambda docs: text.redact_pii(docs),
    "repetition": lambda docs: text.repetition_signals(docs),
    "gopher_filter": lambda docs: text.gopher_quality_filter(docs),
    "dedup_lines": lambda docs: text.dedup_lines(
        _shared_header(docs)),
    "boilerplate": lambda docs: text.remove_boilerplate_lines(
        _shared_header(docs)),
    "chunk_docs": lambda docs: packing.chunk_documents(docs, 20, 5),
    # pack_sequences shards on id % num_shards (numeric id contract)
    "pack_seqs": lambda docs: packing.pack_sequences(
        docs.withColumn("doc_id", F.xxhash64("doc_id")), 80),
    # tokenizer family: the vocabulary scales k x under the bijection,
    # the worst case for the distinct-word shuffle and the encoder memo
    "word_freqs": lambda docs: tokenize.word_frequencies(
        docs, min_freq=2, max_words=100),
    "corpus_stats": lambda docs: tokenize.corpus_stats(docs),
    "corpus_stats_hll": lambda docs: tokenize.corpus_stats(
        docs, approx=True),
    "bpe_train": lambda docs: tokenize.bpe_train(
        docs, n_merges=40, min_freq=2, max_words=50_000),
    "bpe_encode": lambda docs, merges: tokenize.bpe_encode(
        docs, merges).select("doc_id", "n_tokens"),
    "clf_epoch": _clf_epoch,
    # term statistics on plain copies
    "bm25": lambda docs_plain: ranking.bm25_scores(
        docs_plain, "merge scan fast value"),
    "vocab_topk": lambda docs_plain: ranking.vocab_topk(
        docs_plain, n=100),
    "quality_score": lambda docs_plain: ranking.linear_text_score(
        docs_plain, _W, bias=0.25),
    "lm_score": lambda docs_plain: ranking.bigram_lm_scores(
        docs_plain),
    "token_pairs": lambda docs_plain: ranking.token_pair_counts(
        docs_plain, n=100),
    "score_buckets": lambda docs_plain: ranking.score_buckets(
        ranking.linear_text_score(docs_plain, _W, bias=0.25)),
    # embeddings: semantic dedup in the constant-cluster-size regime
    # (n_centroids = 16*k), decomposed into its training and assignment
    # stages (threshold > 1: zero pairs, so no components work)
    "semdedup": lambda emb, k: similarity.semantic_dedup(
        emb, threshold=0.95, n_centroids=16 * k, train_iters=1),
    "semdedup_train": lambda emb, k: similarity.kmeans_centroids(
        emb, n_centroids=16 * k, n_iter=1),
    "semdedup_assign": lambda emb, k: similarity.semantic_dedup(
        emb, threshold=1.01, n_centroids=16 * k, train_iters=0),
    # exact all-pairs block self-join: quadratic candidate work by
    # construction, next to the bucketed approximate path
    "embedding_dups": lambda emb: similarity.embedding_dup_pairs(
        emb, threshold=0.98),
    "ann_lsh": lambda emb: similarity.lsh_bucketed_topk(
        emb.limit(50), emb, k=5),
}


def _params(fn):
    return list(inspect.signature(fn).parameters)


def _needs(fn) -> set[str]:
    """Fixtures ``fn`` reads, directly or through other fixtures."""
    out = set()
    for p in _params(fn):
        if p in FIXTURES:
            out |= {p} | _needs(FIXTURES[p])
    return out


def _per_k(name) -> bool:
    fn = FIXTURES[name]
    return "k" in _params(fn) or any(_per_k(p) for p in _needs(fn))


class Ladder:
    """One session's fixtures and measurements."""

    def __init__(self, spark, sf_dir):
        self.spark, self.sf_dir = spark, sf_dir
        self.tmp = tempfile.mkdtemp(prefix="scale_ladder_")
        self.built: dict[tuple[str, int], object] = {}
        self.setup: dict[str, dict[int, tuple]] = {}

    def arg(self, name, k):
        if name == "k":
            return k
        if name not in FIXTURES:
            return getattr(self, name)
        key = (name, k if _per_k(name) else 0)
        if key not in self.built:
            fn = FIXTURES[name]
            t0 = time.perf_counter()
            val = fn(*[self.arg(p, k) for p in _params(fn)])
            n = val.cache().count() if isinstance(val, DataFrame) else None
            dt = time.perf_counter() - t0
            self.built[key] = val
            self.setup.setdefault(f"[setup] {name}", {})[k] = (dt, 0.0, n)
            print(f"k={k:<3d} {'[setup] ' + name:30s} {dt:8.2f}s"
                  f"{'' if n is None else f'  ({n} rows)'}", flush=True)
        return self.built[key]

    def pinned(self):
        return [v for v in self.built.values() if isinstance(v, DataFrame)]

    def drop(self, names=None, k=None):
        """Unpersist fixtures: ``names`` at ``k``, or every one."""
        for key in list(self.built):
            if names is None or (key[0] in names and key[1] == k):
                val = self.built.pop(key)
                if isinstance(val, DataFrame):
                    val.unpersist()

    def close(self):
        self.drop()
        shutil.rmtree(self.tmp, ignore_errors=True)

    def measure(self, name, k, reps):
        """(construct_s, execute_s, rows) of the median rep."""
        fn = CASES[name]
        args = [self.arg(p, k) for p in _params(fn)]
        self.spark.sparkContext.setJobDescription(f"ladder:{name}@{k}x")
        samples = []
        for _ in range(reps):
            # per-rep baseline: localCheckpoint blocks (which clearCache
            # does not remove) are GC'd later, so a sticky baseline would
            # go stale and let a following leak slip under it
            before = n_persistent(self.spark)
            t0 = time.perf_counter()
            out = fn(*args)
            t1 = time.perf_counter()
            n = _force_count(out)
            samples.append((t1 - t0, time.perf_counter() - t1, n))
            release_cache(out)
            if n_persistent(self.spark) > before:
                repin(self.spark, self.pinned())
        c, e, n = sorted(samples, key=lambda s: s[0] + s[1])[reps // 2]
        print(f"k={k:<3d} {name:30s} {c + e:8.2f}s  construct {c:7.2f}  "
              f"execute {e:7.2f}  ({n} rows)", flush=True)
        return c, e, n


def run(spark, sf_dir, ks, reps, names):
    """{row name: {k: (construct_s, execute_s, rows)}} for every case in
    ``names`` at every k, plus the ``[setup]`` fixture builds."""
    ladder = Ladder(spark, sf_dir)
    results: dict[str, dict[int, tuple]] = {}
    last = {f: i for i, n in enumerate(names) for f in _needs(CASES[n])}
    try:
        for k in ks:
            for i, name in enumerate(names):
                results.setdefault(name, {})[k] = ladder.measure(name, k, reps)
                ladder.drop({f for f, j in last.items() if j == i}, k)
            ladder.drop([f for f in FIXTURES if _per_k(f)], k)
    finally:
        ladder.close()
    return {**results, **ladder.setup}


def report(results, ks):
    pairs = list(zip(ks, ks[1:]))
    print("\n| case | " + " | ".join(f"{k}x s (rows)" for k in ks) + " | "
          + " | ".join(f"exp {a}->{b}" for a, b in pairs) + " |")
    print("|---" * (1 + len(ks) + len(pairs)) + "|")
    for name, by_k in results.items():
        t = {k: c + e for k, (c, e, _) in by_k.items()}
        cells = [f"{t[k]:.2f}" + ("" if by_k[k][2] is None else
                                  f" ({by_k[k][2]})") if k in by_k else "-"
                 for k in ks]
        exps = [f"{math.log(t[b] / t[a]) / math.log(b / a):.2f}"
                if t.get(a) and t.get(b) else "-" for a, b in pairs]
        print(f"| {name} | " + " | ".join(cells + exps) + " |")


def main():
    p = argparse.ArgumentParser(description="k-ladder over CASES")
    p.add_argument("--k", default="1,4,16", help="replication factors")
    p.add_argument("--reps", type=int, default=3, help="reps per case")
    p.add_argument("--only", default="", help="comma-separated cases")
    args = p.parse_args()
    names = args.only.split(",") if args.only else list(CASES)
    unknown = sorted(set(names) - set(CASES))
    if unknown:
        p.error(f"unknown cases {unknown}; known: {', '.join(CASES)}")
    ks = [int(x) for x in args.k.split(",")]
    if min(ks) < 1:
        p.error("every k must be >= 1")
    spark = get_spark("scale-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(
        os.path.dirname(em.SF_DEFAULT), "sf0.1"))
    report(run(spark, sf_dir, ks, args.reps, names), ks)


if __name__ == "__main__":
    main()
