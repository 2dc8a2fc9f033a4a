"""One lifecycle for the internal persists an operator's returned plan
still reads.

Bioframe's operators are eager NumPy kernels, so a shared intermediate
never outlives the call. Here operators return lazy plans, and a subtree
that two consumers read is persisted; that persist must live exactly as
long as the plan that reads it.

- :func:`shared` persists a frame at ``MEMORY_AND_DISK`` (a big frame
  spills instead of evicting) and registers the handle in the current
  call scope.
- :func:`scoped` wraps every public operator that persists. Only the
  OUTERMOST scoped call attaches the collected handles to its returned
  frame, so a nested public call (coverage → merge, cluster → ranged
  islands, curate_corpus → ngram_jaccard_pairs) keeps its persists alive
  for the outer result by construction.
- The handles live until :func:`release_cache` (deterministic, once the
  result is materialized) or until the result is garbage-collected.
  DataFrame persists register in the JVM CacheManager, which — unlike
  raw RDD caches — the ContextCleaner never evicts on GC; the
  ``weakref.finalize`` backstop is the Python-side substitute.
- A result that is chained (``out.select(...)``) and then dropped loses
  its persists early: its finalizer fires before the derived plan runs
  (correct, but the shared subtree re-executes). :func:`carry_cache`
  moves them onto the derived frame.

Persists whose consumers all run before the operator returns (eager
loops: the classifier, connected components, the closest ladder's
intermediate ``remaining`` sets) keep a local persist/unpersist and
never come here.
"""

from __future__ import annotations

import functools
import weakref
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# handles persisted under the outermost open scoped call; None = no call
_SCOPE: ContextVar[list | None] = ContextVar("bioframe_cache_scope",
                                             default=None)


def shared(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the returned plan's lifetime (see module doc).
    Only valid inside a :func:`scoped` operator call."""
    handles = _SCOPE.get()
    if handles is None:
        raise RuntimeError("shared() outside a scoped operator call would "
                           "leak its persist")
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    handles.append(df)
    return df


def scoped(op):
    """Open the cache scope for a public operator; the outermost call
    attaches every handle persisted beneath it to its result. A raising
    call unpersists what it had persisted."""
    @functools.wraps(op)
    def call(*args, **kwargs):
        if _SCOPE.get() is not None:
            return op(*args, **kwargs)
        handles = []
        token = _SCOPE.set(handles)
        try:
            out = op(*args, **kwargs)
        except BaseException:
            _unpersist([h._jdf for h in handles])
            raise
        finally:
            _SCOPE.reset(token)
        return _attach(out, handles) if handles else out
    return call


def _unpersist(jdfs) -> None:
    for j in jdfs:
        try:
            j.unpersist(False)
        except Exception:
            pass  # session already stopped — nothing left to free


def _attach(out: DataFrame, handles: list) -> DataFrame:
    out._bioframe_cache = handles
    # the finalizer captures the JVM handles, NOT the Python frames:
    # finalize args are strong references, and a handle list containing
    # ``out`` itself (the persisted frame IS the result) would pin it
    # and the finalizer would never fire
    out._bioframe_finalizer = weakref.finalize(
        out, _unpersist, [h._jdf for h in handles])
    return out


def release_cache(df: DataFrame) -> None:
    """Unpersist the internal frames an operator persisted for its result
    (the handles ride on the result DataFrame). Call once the result has
    been materialized — a deterministic lifecycle, unlike
    ``spark.catalog.clearCache()`` which evicts every cached frame in the
    session."""
    _unpersist([h._jdf for h in getattr(df, "_bioframe_cache", [])])


def carry_cache(derived: DataFrame, source: DataFrame) -> DataFrame:
    """Move ``source``'s cache handles onto a frame DERIVED from it
    (``source.select(...)`` etc.), detaching ``source``'s finalizer so
    dropping ``source`` no longer frees them. No-op when ``source``
    carries no handles."""
    handles = getattr(source, "_bioframe_cache", None)
    if not handles:
        return derived
    source._bioframe_finalizer.detach()
    return _attach(derived, handles)
