"""Seeded input generator for the benchmark.

Every input is a pure function of ``(GEN_VERSION, seed, scale)``: numpy's
PCG64 drives all draws and pyarrow writes the parquet, so the same seed
gives byte-identical tables and no JVM is needed to make them. Outputs
land under ``<root>/<kind>-v<GEN_VERSION>-s<seed>-<scale>/`` with a
``_COMPLETE`` marker written last, so an interrupted build is rebuilt
instead of reused.

Three inputs, for the two workloads:

* ``corpus``: ``documents`` and ``embeddings`` at base scale, replicated
  ``k`` times with the 10x probe rule of the repository's ``bench.py``
  (5% token drop plus a replica tag per non-zero replica, an index-keyed
  vector jitter), with the seed folded into the drop hash and the jitter.
* ``summary``: a Summary_2011-shaped CSV
  (``CustomerID,T1,recency1,FREQUENCY,profit``).
* ``changes``: an orders change stream; every order appears in ``k``
  versions under fresh keys (``key * k + r``), each version a seeded
  1-3 days after the one before.
"""

from __future__ import annotations

import os
import shutil
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
N_FILES = 4  # multi-file tables, so scans split across local[4]

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_DAY_US = 86_400 * 1_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, table) so adding a table never
    shifts the draws of another."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _us(day: str) -> int:
    """Microseconds since the epoch at UTC midnight of ``day``."""
    return int(np.datetime64(day, "us").astype(np.int64))


def _write(table: pa.Table, path: str, files: int = N_FILES) -> None:
    """Write ``table`` as a directory of ``files`` parquet parts."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // files))
    for i, start in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(start, step), f"{path}/part-{i:05d}.parquet")


def _orders(seed: int, sf: float) -> pa.Table:
    """The TPC-H-shaped ``orders`` table at scale ``sf``; order dates span
    1995-01-01 to 2001-08-01 like the repository's test data."""
    n_cust = max(150, int(150_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    r = _rng(seed, "orders")
    lo, hi = _us("1995-01-01") // _DAY_US, _us("2001-08-01") // _DAY_US
    return pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1_000, 500_000, n_ord), 2),
            "o_orderdate": _ts(r.integers(lo, hi, n_ord) * _DAY_US),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[r.integers(0, 5, n_ord)],
        }
    )


def _corpus_base(seed: int, sf: float) -> dict[str, pa.Table]:
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    r = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        u = r.random()
        if i > 10 and u < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:  # exact duplicate
            texts.append(texts[int(r.integers(0, i))])
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))]))
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": LANGS[r.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    r = _rng(seed, "embeddings")
    x = r.standard_normal((n_vec, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(x.astype(np.float32).ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": r.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return {"documents": docs, "embeddings": emb}


def _mix(*xs: np.ndarray) -> np.ndarray:
    """A 64-bit integer hash (splitmix64 finaliser over a running sum)."""
    h = np.zeros(np.broadcast(*xs).shape, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for x in xs:
            h = (h ^ np.asarray(x, dtype=np.uint64)) + np.uint64(0x9E3779B97F4A7C15)
            h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            h ^= h >> np.uint64(31)
    return h


def corpus(seed: int, sf: float, k: int) -> dict[str, pa.Table]:
    base = _corpus_base(seed, sf)
    if k == 1:
        return base
    docs, emb = base["documents"], base["embeddings"]
    ids = docs.column("doc_id").to_numpy()
    words = [t.split(" ") for t in docs.column("text").to_pylist()]
    d_ids, d_text, d_rest = [], [], []
    for rep in range(k):
        for doc_id, toks in zip(ids, words):
            if rep:
                keep = _mix(seed, doc_id, rep, np.arange(len(toks))) % np.uint64(20) != 0
                toks = [t for t, kp in zip(toks, keep) if kp] + [f"rep{rep}"]
            d_text.append(" ".join(toks))
        d_ids.append(ids * k + rep)
        d_rest.append(docs.select(["lang", "source"]))
    rest = pa.concat_tables(d_rest)
    docs_k = pa.table(
        {
            "doc_id": np.concatenate(d_ids),
            "text": d_text,
            "lang": rest.column("lang"),
            "source": rest.column("source"),
            "n_chars": np.array([len(t) for t in d_text], dtype=np.int64),
        }
    )
    x = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    idx = (np.arange(x.shape[1]) + seed) % 7 - 3
    v_ids = emb.column("vec_id").to_numpy()
    vecs = [(x + np.float32(0.003) * rep * idx.astype(np.float32)).astype(np.float32) for rep in range(k)]
    emb_k = pa.table(
        {
            "vec_id": np.concatenate([v_ids * k + rep for rep in range(k)]),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(np.concatenate(vecs).ravel()), x.shape[1]
            ).cast(pa.list_(pa.float32())),
            "label": pa.concat_arrays([emb.column("label").combine_chunks()] * k),
        }
    )
    return {"documents": docs_k, "embeddings": emb_k}


def summary_csv(seed: int, n: int, path: str) -> None:
    """Summary_2011-shaped RFM summary: T1 in [2, 51], recency1 in [1, T1-1],
    FREQUENCY in [1, 50] skewed to low counts, profit log-normal."""
    r = _rng(seed, "summary")
    t1 = r.integers(2, 52, n)
    recency = np.minimum(r.integers(1, 51, n), t1 - 1).clip(min=1)
    freq = np.minimum(1 + r.geometric(0.25, n), 50)
    profit = np.round(np.exp(r.normal(5.5, 1.2, n)).clip(0.54, 21_058.88), 2)
    ids = 10_000 + r.permutation(n * 3)[:n]
    with open(path, "w") as f:
        f.write("CustomerID,T1,recency1,FREQUENCY,profit\n")
        for row in zip(ids, t1, recency, freq, profit):
            f.write("%d,%d,%d,%d,%.2f\n" % row)


def changes(seed: int, sf: float, k: int) -> dict[str, pa.Table]:
    orders = _orders(seed, sf)
    r = _rng(seed, "changes")
    shift = np.concatenate([[0], np.cumsum(r.integers(1, 4, k - 1))]) * _DAY_US
    keys = orders.column("o_orderkey").to_numpy()
    dates = orders.column("o_orderdate").cast(pa.int64()).to_numpy()
    versions = [
        orders.set_column(0, "o_orderkey", pa.array(keys * k + v))
        .set_column(4, "o_orderdate", _ts(dates + shift[v]))
        for v in range(k)
    ]
    return {"orders": pa.concat_tables(versions)}


def build(root: str, kind: str, seed: int, sf: float, k: int, n_customers: int = 0) -> str:
    """Materialise one input (idempotent) and return its directory."""
    out = os.path.join(root, f"{kind}-v{GEN_VERSION}-s{seed}-sf{sf}-k{k}-n{n_customers}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if kind == "summary":
        summary_csv(seed, n_customers, os.path.join(out, "summary_2011.csv"))
    else:
        tables = {"corpus": corpus, "changes": changes}[kind](seed, sf, k)
        for name, table in tables.items():
            _write(table, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "_COMPLETE"), "w") as f:
        f.write("ok\n")
    return out
