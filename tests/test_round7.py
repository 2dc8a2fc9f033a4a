"""Round-7 regressions: the four ADVICE defects (ANSI-off null
semantics in BM25 avgdl and the winnow expression reference, silent
query drop in bm25_scores_many, unconditional index cast in
select_mask_positional) and the new winnow ``hash="xx64"`` production
knob (decision-consistency with the md5 oracle path).
"""

import pytest
from pyspark.sql import functions as F

import bioframe_spark as bf
from bioframe_spark.datapipe import dedup, ranking


class _ansi_off:
    """Temporarily flip spark.sql.ansi.enabled=false — the legacy
    sizeOfNull config under which size(NULL) = -1 instead of NULL."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.ansi.enabled")
        self.spark.conf.set("spark.sql.ansi.enabled", "false")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.ansi.enabled", self.prev)


def _bm25_docs(spark):
    return spark.createDataFrame(
        [(1, "merge sorted runs fast"),
         (2, "hash join build side"),
         (3, "merge hash value"),
         (4, None)],
        "doc_id long, text string")


def test_bm25_avgdl_ignores_null_text_any_ansi(spark):
    """ADVICE (medium): avgdl counted null-text docs as length -1 under
    ansi=false, skewing every score. The guard must make scores
    identical in both configs — and equal to the hand value."""
    docs = _bm25_docs(spark)
    on = {r["doc_id"]: r["score"]
          for r in ranking.bm25_scores(docs, "merge value").collect()}
    with _ansi_off(spark):
        off = {r["doc_id"]: r["score"]
               for r in ranking.bm25_scores(docs, "merge value").collect()}
    assert on == off
    # hand value: N=4 docs, avgdl over the 3 non-null docs = 11/3
    # (4+4+3 tokens), df(merge)=2, df(value)=1; doc3 dl=3 matches both
    # terms with tf=1
    import math
    k1, b = 1.2, 0.75
    avgdl = 11 / 3
    idf_m = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    idf_v = math.log(1 + (4 - 1 + 0.5) / (1 + 0.5))
    per = (k1 + 1) / (1 + k1 * (1 - b + b * 3 / avgdl))
    expect = round(idf_m * per + idf_v * per, 6)
    assert on[3] == pytest.approx(expect, abs=1e-6)


def test_bm25_many_avgdl_ignores_null_text_any_ansi(spark):
    docs = _bm25_docs(spark)
    qs = {"q1": "merge value", "q2": "hash build"}
    on = {(r["query_id"], r["doc_id"]): r["score"]
          for r in ranking.bm25_scores_many(docs, qs).collect()}
    with _ansi_off(spark):
        off = {(r["query_id"], r["doc_id"]): r["score"]
               for r in ranking.bm25_scores_many(docs, qs).collect()}
    assert on == off
    # the multi-query row must equal the single-query score
    single = {r["doc_id"]: r["score"]
              for r in ranking.bm25_scores(docs, "merge value").collect()}
    assert on[("q1", 3)] == single[3]


def test_bm25_many_rejects_partially_empty_queries(spark):
    """ADVICE (low): a query tokenizing to no terms silently vanished
    from the output; now it raises (all-empty still returns the typed
    empty frame)."""
    docs = _bm25_docs(spark)
    with pytest.raises(ValueError, match="no searchable terms.*q_empty"):
        ranking.bm25_scores_many(docs, {"q1": "merge", "q_empty": "!!!"})
    out = ranking.bm25_scores_many(docs, {"qa": "", "qb": "???"})
    assert out.count() == 0
    assert out.columns == ["query_id", "doc_id", "score"]


def test_winnow_expr_null_text_any_ansi(spark):
    """ADVICE (low): the expression REFERENCE for the winnow kernel
    turned null text into [null] under ansi=false (size(NULL) = -1
    falls into the <w branch). Both configs must yield NULL."""
    from bioframe_spark.datapipe.dedup import _winnow_fingerprints_expr

    docs = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrstuvwxyz0123456789"), (2, None), (3, "ab")],
        "doc_id long, text string")

    def fps(d):
        return {r["doc_id"]: r["fingerprints"]
                for r in _winnow_fingerprints_expr(d, k=5, w=4).collect()}

    on = fps(docs)
    with _ansi_off(spark):
        off = fps(docs)
    assert on == off
    assert on[2] is None
    assert on[3] == []
    assert len(on[1]) > 0


def test_select_mask_positional_non_numeric_index_col(spark):
    """ADVICE (low): a caller-supplied non-numeric stable id column was
    cast to long unconditionally — all-null indexes under non-ANSI (or
    a runtime error under ANSI). It must come back uncast."""
    df = spark.createDataFrame(
        [("r1", "chr1", 10, 20), ("r2", "chr1", 100, 200),
         ("r3", "chr2", 10, 20)],
        "rowkey string, chrom string, start long, end long")
    out = bf.select_mask_positional(df, "chr1:15-120", index_col="rowkey")
    got = {r["index"]: r["mask"] for r in out.collect()}
    assert got == {"r1": True, "r2": True, "r3": False}
    assert dict(out.dtypes)["index"] == "string"
    # integral id columns still cast to long (the documented contract)
    df2 = df.withColumn("rid", F.monotonically_increasing_id().cast("int"))
    out2 = bf.select_mask_positional(df2, "chr1:15-120", index_col="rid")
    assert dict(out2.dtypes)["index"] == "bigint"


# --------------------------------------------------------------------------
# winnow hash="xx64" production knob
# --------------------------------------------------------------------------

_COMMON = ("a long shared passage that recurs verbatim across many "
           "documents in this corpus exactly once per doc")


def _span_docs(spark):
    rows = ([(i, f"unique preamble {i} :: " + _COMMON + f" :: suffix {i*7}")
             for i in range(12)]
            + [(50 + i, f"totally different text on topic {i} with no "
                        f"shared span nearby at all padding {i}")
               for i in range(6)]
            + [(98, "short"), (99, None)])
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_winnow_xx64_decisions_match_md5(spark):
    """Different hash -> different selected minima, but the dup/removal
    DECISIONS (which docs are flagged / cut / paired / dropped) must
    agree: fingerprint equality is all that matters downstream and the
    winnowing guarantee holds for any deterministic gram hash."""
    docs = _span_docs(spark)

    def flagged(h):
        return sorted(r["doc_id"] for r in dedup.duplicate_spans(
            docs, k=25, w=8, hash=h)
            .filter(F.col("n_dup_spans") > 0).collect())

    def cut(h):
        return sorted(r["doc_id"] for r in dedup.remove_duplicate_spans(
            docs, k=25, w=8, hash=h)
            .filter(F.col("n_cut_spans") > 0).collect())

    def pairs(h):
        return sorted((r["id1"], r["id2"]) for r in dedup.span_dup_pairs(
            docs, k=25, w=8, hash=h).collect())

    assert flagged("md5") == flagged("xx64")
    assert cut("md5") == cut("xx64")
    assert pairs("md5") == pairs("xx64")
    # drop decisions: exact dup_frac values ARE hash-dependent near a
    # threshold (different minima selections -> slightly different span
    # counts, documented), so the drop test uses a bimodal corpus —
    # verbatim copies (dup_frac exactly 1.0 under ANY hash) vs docs
    # with clearly sub-threshold duplication
    copies = spark.createDataFrame(
        [(200 + i, _COMMON) for i in range(3)]
        + [(300 + i, f"entirely singular document body number {i} "
                     f"sharing nothing with anything else at all {i*13}")
           for i in range(3)],
        "doc_id long, text string")

    def kept(h):
        return sorted(r["doc_id"] for r in dedup.drop_duplicate_spans_docs(
            copies, max_dup_frac=0.99, k=25, w=8, hash=h).collect())

    # all three verbatim copies exceed the threshold (no keeper concept
    # in the drop wrapper — that's remove_duplicate_spans'); the unique
    # docs survive, identically under both hashes
    km, kx = kept("md5"), kept("xx64")
    assert km == kx == [300, 301, 302]


def test_winnow_xx64_schema_and_nulls(spark):
    docs = _span_docs(spark)
    wf = dedup.winnow_fingerprints(docs, k=25, w=8, hash="xx64")
    assert dict(wf.dtypes)["fingerprints"] == "array<bigint>"
    got = {r["doc_id"]: r["fingerprints"] for r in wf.collect()}
    assert got[99] is None           # null text -> NULL
    assert got[98] == []             # shorter than k -> empty
    assert all(isinstance(v, int) for v in got[0])


def test_winnow_xx64_guarantee_misaligned(spark):
    """The winnowing guarantee under xx64: any substring of length >=
    k + w - 1 shared verbatim by two documents (at DIFFERENT offsets)
    shares at least one fingerprint."""
    k, w = 10, 5
    shared = "0123456789abcdefghijklmnopqrstuvwxyz"  # len 36 >= k+w-1
    docs = spark.createDataFrame(
        [(1, "XX" + shared + "YYYYYYY"), (2, "qqqqqqqqqqqqq" + shared)],
        "doc_id long, text string")
    got = {r["doc_id"]: set(r["fingerprints"]) for r in
           dedup.winnow_fingerprints(docs, k=k, w=w, hash="xx64").collect()}
    assert got[1] & got[2]


def test_winnow_xx64_kernel_matches_naive_reference():
    """Differential fuzz of the vectorized uint64 winnow kernel against
    a from-scratch reference: per-character polynomial hash with Python
    int arithmetic + the deque sliding-minimum (rightmost-tie rule),
    compared on UNSIGNED hash order (the kernel's minima convention).
    Pure numpy — no Spark session needed."""
    import random
    from collections import deque

    from bioframe_spark.datapipe.dedup import _make_winnow_doc_xx64

    def naive_hash(g: str) -> int:
        B, M = 0x100000001B3, (1 << 64) - 1
        h = 0
        for ch in g:
            h = (h * B + ord(ch)) & M
        h ^= h >> 30
        h = (h * 0xBF58476D1CE4E5B9) & M
        h ^= h >> 27
        h = (h * 0x94D049BB133111EB) & M
        return h ^ (h >> 31)

    def tos(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    def ref_winnow(H, w, with_pos):
        if len(H) < w:
            m = min(H)
            p = len(H) - 1 - H[::-1].index(m)
            return [(p, tos(m))] if with_pos else [tos(m)]
        sel, dq = set(), deque()
        for i, h in enumerate(H):
            while dq and H[dq[-1]] >= h:
                dq.pop()
            dq.append(i)
            if dq[0] <= i - w:
                dq.popleft()
            if i >= w - 1:
                sel.add((dq[0], tos(H[dq[0]])) if with_pos
                        else tos(H[dq[0]]))
        return sorted(sel)

    rng = random.Random(7)
    for _ in range(250):
        k = rng.randint(2, 6)
        w = rng.randint(2, 9)
        L = rng.randint(k, k + 60)
        txt = "".join(rng.choice("abÆ☃xy") for _ in range(L))
        H = [naive_hash(txt[p:p + k]) for p in range(L - k + 1)]
        assert _make_winnow_doc_xx64(k, w)(txt) == ref_winnow(H, w, False)
        assert _make_winnow_doc_xx64(k, w, True)(txt) == \
            ref_winnow(H, w, True)


def test_winnow_xx64_rejects_unknown_hash(spark):
    docs = _span_docs(spark)
    with pytest.raises(ValueError, match="hash must be"):
        dedup.duplicate_spans(docs, hash="sha1").collect()


def test_linear_text_score(spark):
    """fastText-style linear classifier inference: exact sums over a
    broadcast weight table, bias-only for unmatched docs, null text ->
    null score, average divides the token sum (not the bias)."""
    docs = spark.createDataFrame(
        [(1, "good clean data data"), (2, "bad spam junk"), (3, ""),
         (4, None), (5, "neutral words only")],
        "doc_id long, text string")
    w = {"good": 1.0, "clean": 0.5, "data": 0.25, "bad": -1.0,
         "spam": -2.0}
    out = {r["doc_id"]: r["score"]
           for r in ranking.linear_text_score(docs, w, bias=0.1).collect()}
    assert out == {1: 2.1, 2: -2.9, 3: 0.1, 4: None, 5: 0.1}
    avg = {r["doc_id"]: r["score"] for r in ranking.linear_text_score(
        docs, w, bias=0.1, average=True).collect()}
    assert avg[1] == 0.6 and avg[2] == -0.9 and avg[3] == 0.1
    sg = {r["doc_id"]: r["prob"] for r in ranking.linear_text_score(
        docs, w, sigmoid=True).collect()}
    assert sg[3] == 0.5 and sg[4] is None and sg[1] > 0.8
    with pytest.raises(ValueError, match="empty weights"):
        ranking.linear_text_score(docs, {})
    # the weight side must enter as a broadcast, never a shuffle
    plan = ranking.linear_text_score(docs, w) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_score_buckets(spark):
    """CCNet head/middle/tail: exact interpolated thresholds, map-only
    assignment (no Window/Sort over the corpus in the plan), null
    scores -> null bucket."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(9)] + [(99, None)],
        "doc_id long, score double")
    out = ranking.score_buckets(df)
    got = {r["doc_id"]: r["bucket"] for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1,
                   6: 2, 7: 2, 8: 2, 99: None}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort" not in plan
    with pytest.raises(ValueError, match="fractions"):
        ranking.score_buckets(df, fractions=(0.5, 0.2))
    # all-null corpus: typed null buckets, no crash
    nn = spark.createDataFrame([(1, None)], "doc_id long, score double")
    assert ranking.score_buckets(nn).collect()[0]["bucket"] is None


def test_bigram_lm_scores(spark):
    """CCNet-style fluency scoring: add-k bigram model, hand-checked
    log-probability, null/short-doc conventions, reference-corpus mode."""
    import math

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat"),
         (3, "zz qq xx"), (4, "solo"), (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["score"], r["n_bigrams"])
           for r in ranking.bigram_lm_scores(docs).collect()}
    # V=9 distinct tokens; doc2 bigrams: (the,cat) c=2/c(the)=3,
    # (cat,sat) c=2/c(cat)=2, k=0.5
    e = (math.log(2.5 / (3 + 4.5)) + math.log(2.5 / (2 + 4.5))) / 2
    assert out[2] == (round(e, 6), 2)
    assert out[4] == (None, 0)        # 1 token: no evidence
    assert out[5] == (None, None)     # null text: null convention
    assert out[1][0] > out[3][0]      # fluent beats gibberish
    # reference-corpus mode: unseen bigrams/unigrams hit the smoothing
    # floor ln(k / (0 + k*V)) = ln(1/V)
    ref = docs.filter("doc_id = 1")   # V=5: the cat sat on mat
    got = {r["doc_id"]: r["score"]
           for r in ranking.bigram_lm_scores(docs, ref=ref).collect()}
    assert got[3] == round(math.log(1 / 5), 6)
    with pytest.raises(ValueError, match="add_k"):
        ranking.bigram_lm_scores(docs, add_k=0.0)


def test_stream_span_contamination_xx64(spark):
    """The streaming decontamination op takes the same hash knob as the
    batch span family: hit COUNTS differ (different winnow selections)
    but the contaminated/clean decision is hash-consistent."""
    from bioframe_spark.streaming.stream_ops import stream_span_contamination

    ev = spark.createDataFrame(
        [(1, "the secret benchmark answer key is exactly this sentence "
             "right here")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(10, "prefix text then the secret benchmark answer key is "
              "exactly this sentence right here and more"),
         (11, "completely unrelated content with nothing shared at all "
              "in any span here"),
         (12, None)],
        "doc_id long, text string")
    for h in ("md5", "xx64"):
        got = {r["doc_id"]: r["n_contaminated"]
               for r in stream_span_contamination(
                   docs, ev, k=25, w=8, hash=h).collect()}
        assert got[10] > 0 and got[11] == 0 and got[12] is None, (h, got)


def test_token_pair_counts(spark):
    """BPE merge-candidate counts: adjacent pairs only, deterministic
    tie-break, null/short docs contribute nothing."""
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b!x"), (3, "solo"), (4, None)],
        "doc_id long, text string")
    got = [(r["pair"], r["cnt"])
           for r in ranking.token_pair_counts(docs, n=10).collect()]
    # doc1 pairs: a b, b a, a b, b c; doc2: a b, b x (the ! splits)
    assert got == [("a b", 3), ("b a", 1), ("b c", 1), ("b x", 1)]
    top1 = ranking.token_pair_counts(docs, n=1).collect()
    assert [(r["pair"], r["cnt"]) for r in top1] == [("a b", 3)]
    plan = ranking.token_pair_counts(docs, n=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_scoring_family_differential_random(spark):
    """Seeded random corpora, pure-Python references: token pair
    counts, linear scores, and bucket assignment must match a
    from-scratch computation exactly (the ops are integer/dyadic-exact
    by construction)."""
    import random
    import re as _re
    from collections import Counter

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "x1", "y2"]
    rows = []
    for i in range(60):
        n = rng.randint(0, 12)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    rows.append((100, None))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def toks(t):
        return [x for x in _re.split("[^a-z0-9]+", t.lower()) if x]

    # token_pair_counts vs Counter
    ref = Counter()
    for _, t in rows:
        if t is None:
            continue
        tk = toks(t)
        ref.update(f"{a} {b}" for a, b in zip(tk, tk[1:]))
    want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["pair"], r["cnt"])
           for r in ranking.token_pair_counts(docs, n=10).collect()]
    assert got == want

    # linear_text_score vs direct sum (dyadic weights -> exact)
    W = {"alpha": 0.5, "beta": -0.25, "gamma": 1.25, "x1": -2.0}
    got_s = {r["doc_id"]: r["score"]
             for r in ranking.linear_text_score(docs, W).collect()}
    for i, t in rows:
        if t is None:
            assert got_s[i] is None
        else:
            assert got_s[i] == sum(W.get(x, 0.0) for x in toks(t)), i

    # score_buckets vs manual threshold comparison
    scored = ranking.linear_text_score(docs, W)
    out = {r["doc_id"]: r["bucket"]
           for r in ranking.score_buckets(scored).collect()}
    import numpy as np
    vals = np.sort(np.array([v for v in got_s.values() if v is not None]))
    t1, t2 = np.quantile(vals, [1 / 3, 2 / 3], method="linear")
    for i, sc in got_s.items():
        if sc is None:
            assert out[i] is None
        else:
            assert out[i] == (0 if sc <= t1 else 1 if sc <= t2 else 2), i


def test_registry_consistency():
    """Static contract of the driver registry: every queries() entry
    has a DuckDB oracle, the gate (first 50) holds no streaming rows (a
    stream hang must not stall the gate harness), and the r7 rotation
    is in effect."""
    import __spark_entry__ as em

    qs = list(em.queries())
    osql = em.oracle_sql()
    # every oracle maps to a registered query; every query has a full
    # oracle EXCEPT the documented rows-only set (iterative algorithms
    # — BPE training and classifier GD — and their dependents, exactly
    # the non-SQL-expressible case the driver contract carves out)
    assert set(osql) <= set(qs)
    rows_only = {"bpe_merges", "bpe_tokens", "train_classifier"}
    assert set(qs) - set(osql) == rows_only
    gate = qs[:50]
    assert not any(k.startswith("stream_") for k in gate)
    assert not any(k in rows_only for k in gate)
    for k in ("dup_spans_join", "minhash_lsh", "span_dup_pairs",
              "semdedup", "minhash_probe", "word_freqs",
              # r9 rotation: the two newest composed paths in-gate
              "hashed_score", "incremental_dedup"):
        assert k in gate, k
    for k in ("select_indices", "select_labels", "token_pairs",
              "quality_score", "lm_score", "pileup_weighted",
              "overlap_right", "closest_perchrom", "complement_ranged"):
        assert k in qs[50:], k


class _conf:
    """Temporarily set session confs, restoring on exit."""

    def __init__(self, spark, **kv):
        self.spark = spark
        self.kv = kv

    def __enter__(self):
        self.prev = {}
        for k, v in self.kv.items():
            key = k.replace("__", ".")
            try:
                self.prev[key] = self.spark.conf.get(key)
            except Exception:
                self.prev[key] = None
            self.spark.conf.set(key, str(v))

    def __exit__(self, *exc):
        for key, v in self.prev.items():
            if v is None:
                self.spark.conf.unset(key)
            else:
                self.spark.conf.set(key, v)


def _clustered_embeddings(spark, n_cent=40, per=6, dim=32, seed=11):
    """Vectors exactly AT their (seeded random unit) centroid plus tiny
    same-direction scalings — cluster identity is unambiguous."""
    import numpy as np

    rng = np.random.RandomState(seed)
    cents = rng.randn(n_cent, dim)
    cents /= np.sqrt((cents * cents).sum(axis=1))[:, None]
    # vec_ids 0..n_cent-1 are ONE vector per cluster: train_iters=0
    # initializes centroids from the smallest ids, so the trained
    # centroids ARE the cluster directions and separation is real
    rows = [(c, cents[c].tolist()) for c in range(n_cent)]
    vid = n_cent
    for c in range(n_cent):
        for j in range(1, per):
            rows.append((vid, (cents[c] * (1.0 + 0.001 * j)).tolist()))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_coarse_assign_matches_exact_on_separated_clusters(spark):
    """Two-level assignment (the constant-cluster-size scale escape):
    on well-separated clusters it must agree with exact assignment
    100% — a vector on a centroid always probes that centroid's group
    (the quantizer's final reassignment pins this)."""
    from bioframe_spark.datapipe import similarity

    emb = _clustered_embeddings(spark)

    def keep_map(**conf):
        with _conf(spark, **conf):
            out = similarity.semantic_dedup(
                emb, threshold=0.999, n_centroids=40, train_iters=0)
            return {r["vec_id"]: (r["cent_id"], r["keep"])
                    for r in out.collect()}

    exact = keep_map(spark__bioframe__coarseAssignMinCentroids=10_000)
    coarse = keep_map(spark__bioframe__coarseAssignMinCentroids=8)
    assert exact == coarse
    # sanity: the dedup actually grouped (one keeper per 6-copy cluster)
    assert sum(1 for _, k in exact.values() if k) == 40


def test_coarse_assign_kernel_choice(spark):
    """The coarse kernel fires only at top==1 AND n_centroids past the
    threshold; every oracle-checked configuration (n_centroids=16)
    stays on the exact kernel under the default config."""
    import numpy as np

    from bioframe_spark.datapipe import similarity
    from bioframe_spark.datapipe.similarity import _coarse_quantizer

    # quantizer invariants: every centroid grouped, group vecs unit
    rng = np.random.RandomState(3)
    C = (rng.randn(300, 16) * 1000).astype(np.int64)
    grp, G = _coarse_quantizer(C, 18)
    assert grp.shape == (300,) and set(grp) <= set(range(18))
    norms = np.sqrt((G * G).sum(axis=1))
    nonzero = norms > 0
    assert np.allclose(norms[nonzero], 1.0)
    # final membership is argmax against the FINAL group vectors (the
    # probe-coverage invariant the coarse kernel relies on)
    Cn = C.astype(np.float64)
    Cn /= np.sqrt((Cn * Cn).sum(axis=1))[:, None]
    assert (grp == (Cn @ G.T).argmax(axis=1)).all()
