"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``region`` … ``embeddings``,
one parquet file each) with the same column names, physical types and value
domains as the repository's star-schema fixtures (FIXTURES.md): a TPC-H-like
star, a time-ordered ``events`` stream, a word-salad ``documents`` corpus
with planted near-duplicates, and unit-norm 64-d ``embeddings``.

Row counts follow TPC-H scaling (``lineitem`` = 6M × scale). The generator
is pure numpy/pyarrow, so the engine under test never produces its own
inputs, and the same (scale, seed) always yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
#: One document in this many is a planted near-duplicate: an earlier
#: document's text with " dup" appended.
DUP_EVERY = 20
EMBED_DIM = 64
QUERY_VECTORS = 10  # q58 probes with vec_id < 10

_DAY_US = 86_400_000_000


def sizes(scale: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "users": int(15_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def n_planted_dups(scale: float) -> int:
    return sizes(scale)["documents"] // DUP_EVERY


def _days_us(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n).astype("int64") * _DAY_US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _keyed_names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _keyed_names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    npart = n["part"]
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})

    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", nl))})

    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    out["documents"] = _documents(rng, n["documents"])

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def _documents(rng, nd: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
             for _ in range(nd)]
    # Near-duplicates: the copy sits in the upper half, its source below it.
    dup_at = rng.choice(np.arange(nd // 2, nd), nd // DUP_EVERY, replace=False)
    dup_src = rng.choice(nd // 2, len(dup_at), replace=False)
    for i, src in zip(dup_at, dup_src):
        texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def ensure(root: str, scale: float, seed: int) -> str:
    """Generate the tables under ``root`` once and return their directory.

    The directory name carries scale, seed and a digest of this file, so an
    edited generator never reuses stale tables. Written to a temporary
    sibling first and renamed, so an interrupted run leaves nothing half
    written behind."""
    import hashlib

    with open(__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:10]
    out = os.path.join(root, f"sf{scale:g}-seed{seed}-{digest}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, table in tables(scale, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    import sys

    print(ensure(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
