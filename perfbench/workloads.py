"""The benchmark's three workloads: session shape, set-up and steps.

Each step is one public call of the package. ``construct`` returns the
DataFrame the call built (running whatever eager jobs the operator runs
on the way); the runner then times ``bench.force_count`` on it as the
step's execute phase. A workload's ``prepare`` is its set-up: it builds
the inputs every step reads and is timed as ``setup_s``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCALE_4X = 4


@dataclass
class Step:
    name: str
    construct: Callable[["State"], DataFrame]
    # a step that must run right after another one (it reads what that
    # step wrote): the seed permutes units, never splits them
    after: str | None = None


@dataclass
class State:
    """What ``prepare`` built: the session, the input locations and the
    frames pinned in memory (the runner re-pins them after a cache
    reset)."""
    spark: SparkSession
    data_dir: str
    work_dir: str
    pinned: list = field(default_factory=list)
    scale: int = 1  # rows of every output / rows of the same call at 1x
    scaled_dir: str = ""  # the replicated inputs of a scaled workload

    def repin(self) -> None:
        for df in self.pinned:
            df.cache().count()


@dataclass
class Workload:
    name: str
    layer: str  # the module family its steps call: operators / datapipe
    aqe: bool
    prepare: Callable[[SparkSession, str, str], State]
    steps: list[Step]


# --------------------------------------------------------------------------
# intervals_1x: bench.py's session shape (AQE off, derived tables pinned)
# --------------------------------------------------------------------------

# the entry module's own derivations, kept before _prepare_1x rebinds them
_DERIVE: dict = {}


def _derive(name: str):
    import __spark_entry__ as em
    return _DERIVE.setdefault(name, getattr(em, name))


def _prepare_1x(spark, data_dir, work_dir) -> State:
    import __spark_entry__ as em

    st = State(spark, data_dir, work_dir)
    for name in ("ivals_a", "ivals_b", "ivals_s", "ivals_p"):
        df = _derive(name)(spark, data_dir).cache()
        df.count()
        st.pinned.append(df)
        # the entry module's queries call em.ivals_*(spark, sf_dir):
        # point them at the pinned frame, as bench.py does
        setattr(em, name, lambda spark, sf_dir, _df=df: _df)
    # the streaming source is session-memoized by the entry module;
    # build it here so no pass pays the one-time write
    em._STREAM_SRC.clear()
    em._stream_source(spark, data_dir)
    return st


def _query(name: str) -> Callable[[State], DataFrame]:
    def construct(st: State) -> DataFrame:
        import __spark_entry__ as em
        return em.queries()[name](st.spark, st.data_dir)
    return construct


INTERVALS_1X = Workload(
    name="intervals_1x", layer="operators", aqe=False, prepare=_prepare_1x,
    steps=[Step(n, _query(n)) for n in (
        "count_overlaps", "coverage", "merge", "closest", "closest_binned",
        "stream_merge")],
)


# --------------------------------------------------------------------------
# intervals_4x: the derived a/b replicated 4x, re-read from parquet every
# pass, AQE on (get_spark's production default), auto strategies
# --------------------------------------------------------------------------

def _replicate(df: DataFrame, k: int) -> DataFrame:
    # tools/scale_ladder.replicate: each copy shifted one genome span
    # right, so density and selectivity stay constant and every output
    # grows exactly k x
    import sys
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from scale_ladder import replicate
    return replicate(df, k)


def _scaled_inputs(spark, data_dir, k: int) -> str:
    """The k x replicated a/b and the 1x b as parquet beside the
    generated inputs. Like the inputs, they are written once (the first
    run in a checkout pays it) and every pass re-reads them."""
    loc = os.path.join(data_dir, f"scaled_{k}x")
    done = os.path.join(loc, "COMPLETE")
    if os.path.exists(done):
        return loc
    shutil.rmtree(loc, ignore_errors=True)
    a1 = _derive("ivals_a")(spark, data_dir)
    b1 = _derive("ivals_b")(spark, data_dir)
    _replicate(a1, k).write.parquet(f"{loc}/a")
    _replicate(b1, k).write.parquet(f"{loc}/b")
    b1.select("chrom", "start", "end").write.parquet(f"{loc}/b1")
    open(done, "w").close()
    return loc


def prepare_scaled(spark, data_dir, work_dir, k: int) -> State:
    """Nothing is pinned: set-up is the session plus a look at the
    inputs' footers."""
    st = State(spark, data_dir, work_dir, scale=k,
               scaled_dir=_scaled_inputs(spark, data_dir, k))
    for name in ("a", "b", "b1"):
        _read(st, name).count()
    return st


def _read(st: State, name: str) -> DataFrame:
    return st.spark.read.parquet(f"{st.scaled_dir}/{name}")


def _write_prebinned(st: State) -> DataFrame:
    from bioframe_spark.sources.fileops import write_prebinned
    out = os.path.join(st.work_dir, "prebinned")
    write_prebinned(_read(st, "a"), "pb_scaled_a", path=f"{out}/a")
    write_prebinned(_read(st, "b"), "pb_scaled_b", path=f"{out}/b")
    # one row per interval (its first bin), so the count is exactly k x
    # the 1x count: copies are shifted by a span that is not a multiple
    # of the bin size, so the exploded row count is not
    return st.spark.table("pb_scaled_a").filter(
        F.col("bin") == F.col("first_bin"))


def _scaled_steps() -> list[Step]:
    import bioframe_spark as bf

    def cols(df):
        return df.select("chrom", "start", "end")

    return [
        Step("overlap_inner", lambda st: bf.overlap(
            _read(st, "a"), _read(st, "b"), how="inner",
            suffixes=("", "_b"))),
        Step("coverage", lambda st: bf.coverage(
            _read(st, "a"), _read(st, "b1"))),
        Step("merge", lambda st: bf.merge(cols(_read(st, "a")), min_dist=0)),
        Step("write_prebinned", _write_prebinned),
        Step("overlap_prebinned", lambda st: bf.overlap_prebinned(
            st.spark.table("pb_scaled_a"), st.spark.table("pb_scaled_b"),
            suffixes=("", "_b")), after="write_prebinned"),
    ]


INTERVALS_4X = Workload(
    name="intervals_4x", layer="operators", aqe=True,
    prepare=lambda spark, d, w: prepare_scaled(spark, d, w, SCALE_4X),
    steps=_scaled_steps(),
)


# --------------------------------------------------------------------------
# datapipe_docs: the documents corpus through the curation operators
# --------------------------------------------------------------------------

def _prepare_docs(spark, data_dir, work_dir) -> State:
    # nothing is pinned: every query reads documents.parquet itself;
    # set-up warms the scan and the Python workers the UDF steps use
    st = State(spark, data_dir, work_dir)
    docs = spark.read.parquet(f"{data_dir}/documents.parquet")
    docs.select(F.max(F.length("text"))).collect()
    docs.rdd.map(lambda r: r.doc_id).sum()
    return st


DATAPIPE_DOCS = Workload(
    name="datapipe_docs", layer="datapipe", aqe=False,
    prepare=_prepare_docs,
    steps=[Step(n, _query(n)) for n in (
        "curate", "dedup_components", "jaccard_pairs", "minhash_lsh",
        "gopher", "bpe_tokens", "span_dup_pairs")],
)

WORKLOADS = {w.name: w for w in (INTERVALS_1X, INTERVALS_4X, DATAPIPE_DOCS)}
