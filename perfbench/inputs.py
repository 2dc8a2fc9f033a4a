"""Deterministic synthetic inputs for the benchmark.

Writes the tables the entry module's derivations read (``lineitem``,
``orders``, ``supplier``, ``part``, ``documents``) in the
shape of the repo's sf0.1 test data (key ranges, single-row-group
parquet layout, a document corpus with the same 30-word vocabulary,
10-100 word lengths and 5% near-duplicates: a copy of another document
plus a trailing ``dup``) at half its row counts for ``lineitem``,
``orders`` and ``documents``. Half size keeps one run of every workload
inside the benchmark's time budget: at full sf0.1 a warm
``intervals_1x`` pass takes ~18 s on 4 cores. The generator seed is a
constant: the benchmark's ``--seed`` only permutes step order, so every
run of every seed reads byte-identical inputs and the recorded
expectations in ``expected.json`` stay valid.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_LINEITEM = 300_000
N_ORDERS = 75_000
N_SUPPLIERS = 1_000
N_PARTS = 20_000
N_DOCS = 2_500

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

TABLES = ("lineitem", "orders", "supplier", "part", "documents")
# bump when the generator changes: a cached copy from an older
# generator is rebuilt instead of silently reused
GENERATOR_VERSION = 2


def _documents(rng: np.random.Generator) -> pa.Table:
    lengths = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lengths]
    # 5% near-duplicates: another document's text plus one word
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        j = int(rng.integers(0, N_DOCS))
        if j != i:
            texts[i] = texts[j] + " dup"
    # a few exact duplicate pairs
    for _ in range(8):
        i, j = rng.integers(0, N_DOCS, 2)
        texts[int(i)] = texts[int(j)]
    lang = rng.choice(LANGS, N_DOCS, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    li = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM)),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINEITEM)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINEITEM)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": pa.array(
            rng.integers(1, 51, N_LINEITEM).astype(np.float64)),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS)),
        "o_custkey": pa.array(rng.integers(0, 15_000, N_ORDERS)),
    })
    supplier = pa.table({"s_suppkey": pa.array(np.arange(N_SUPPLIERS))})
    part = pa.table({
        "p_partkey": pa.array(np.arange(N_PARTS)),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
    })
    return {"lineitem": li, "orders": orders, "supplier": supplier,
            "part": part, "documents": _documents(rng)}


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def ensure(data_dir: str) -> str:
    """Write the input tables under ``data_dir`` unless an intact copy
    from this generator version is already there. Returns ``data_dir``
    (laid out as ``<table>.parquet``, the layout the entry module's
    derivations read)."""
    manifest = os.path.join(data_dir, "MANIFEST.json")
    try:
        with open(manifest) as f:
            recorded = json.load(f)
        if recorded.get("version") == GENERATOR_VERSION and all(
                _digest(os.path.join(data_dir, f"{t}.parquet"))
                == recorded["sha256"][t] for t in TABLES):
            return data_dir
    except (OSError, ValueError, KeyError):
        pass
    # anything derived from an older copy goes with it
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    digests = {}
    for name, table in build_tables().items():
        path = os.path.join(data_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        digests[name] = _digest(path)
    with open(manifest, "w") as f:
        json.dump({"version": GENERATOR_VERSION, "sha256": digests}, f)
    return data_dir
