"""Deterministic TPC-H-ish fixture for the benchmark.

The benchmark runs in a bare checkout, so it cannot rely on any dataset
outside it: this module synthesizes the nine parquet tables that
``dgraph_spark.sources.load_tpch_graph`` reads (same column names and
types as the driver's testdata tables) with numpy + pyarrow, no Spark.

The fixture is fixed (``FIXTURE_SEED`` never changes) and sized like the
driver's sf0.1 tables; the per-run ``--seed`` only picks request
parameters. A
dataset is written into a temporary directory, its row counts are
recorded in ``manifest.json`` and the directory is renamed into place
only when complete, so a killed build never leaves a partial dataset
that a later run could time on. ``ensure`` re-checks every table's row
count against the manifest before it hands a directory out.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["bolt", "gear", "nut", "plate", "ring", "screw", "spring"]
# document vocabulary: the registry's bm25 query terms ("spark merge join
# scan") are in it, so ranked search always has hits
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "zh", "de", "fr", "es"]
N_DOCS = 5000
N_VECS = 2000
EMB_DIM = 64

# cardinalities of the driver's sf0.1 tables
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000}
EPOCH_1995 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _version() -> str:
    """Hash of this file: a changed generator invalidates old fixtures."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH_1995 + days).astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def _documents(rng) -> pa.Table:
    """Word-bag documents with the structure the corpus operators look
    for: a length spread that straddles Gopher's 16-token floor,
    degenerate repeated-token documents, exact duplicates and one-word
    near-duplicates (MinHash/LSH candidates)."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(N_DOCS):
        kind = rng.random()
        if i > 50 and kind < 0.02:
            texts.append(texts[int(rng.integers(0, i))])  # exact dup
        elif i > 50 and kind < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # near dup
        elif kind < 0.08:
            w = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join([w] * int(rng.integers(20, 60))))
        else:
            n = int(rng.integers(8, 110))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = (centers[labels] + rng.normal(0, 0.3, (N_VECS, EMB_DIM))).astype(
        np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })


def build_tables() -> dict[str, pa.Table]:
    """All nine tables of the fixture."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_c, n_s, n_p, n_o = (ROWS[t] for t in
                          ("customer", "supplier", "part", "orders"))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    nk = np.arange(N_NATIONS, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": _names("Customer", n_c),
        "c_nationkey": rng.integers(0, N_NATIONS, n_c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": _names("Supplier", n_s),
        "s_nationkey": rng.integers(0, N_NATIONS, n_s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    pk = np.arange(n_p, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_p)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_p)]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", (rng.integers(1, 26, n_p)).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_p)],
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    odays = rng.integers(0, ORDER_DAYS, n_o)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)],
    })
    # 1..7 lines per order (mean 4): linenumbers are unique per order, so
    # the engine's (orderkey, linenumber, occurrence) uid never collides
    per = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o, dtype=np.int64), per)
    n_l = len(okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": (np.arange(n_l) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _ts(np.repeat(odays, per) + rng.integers(1, 122, n_l)),
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _verified(path: str) -> dict | None:
    """The manifest if ``path`` is a complete fixture of this generator
    version whose every table has the recorded row count, else None."""
    try:
        with open(os.path.join(path, "manifest.json")) as f:
            man = json.load(f)
    except (OSError, ValueError):
        return None
    if man.get("version") != _version():
        return None
    for name in TABLES:
        try:
            n = pq.ParquetFile(os.path.join(path, f"{name}.parquet")).metadata.num_rows
        except OSError:
            return None
        if n != man["rows"].get(name):
            return None
    return man


def ensure(root: str) -> str:
    """Return the directory of the fixture under ``root``, building it
    first if it is missing, stale or incomplete."""
    path = os.path.join(root, "tpch")
    if _verified(path) is not None:
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = {}
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy", row_group_size=262_144)
        rows[name] = table.num_rows
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"version": _version(), "rows": rows}, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    if _verified(path) is None:
        raise RuntimeError(f"fixture at {path} failed its row-count check")
    return path
