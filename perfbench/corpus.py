"""The fixed read-only corpus the query mix runs over, and its oracle cache.

The tables mirror the shapes of the engine's TPC-H-ish test tables
(FIXTURES.md §4) at about scale factor 0.01: the same columns, types and
value ranges, drawn from one fixed seed.  ``events`` has 50 users, not
150, so q40's hourly resampling returns about 36,000 rows instead of
105,000 and collecting it for the oracle check stays short.  They are generated inside the
checkout on first use (numpy + pyarrow, a few seconds) and reused by every
later run, so the corpus is identical across runs and across commits.

The DuckDB side of each query's oracle check is cached next to the corpus,
keyed by the oracle SQL text and the corpus directory, because some oracles
replay iterative algorithms and cost far more than the Spark side.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101
CORPUS_VERSION = "v2"

# the 30-word vocabulary and language/source mix of the engine's documents
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20

SIZES = {
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

EVENT_USERS = 50

_TS = pa.timestamp("us")


def doc_texts(rng: np.random.Generator, n: int, near_dup_share: float = 0.05) -> list[str]:
    """``n`` documents of 10-100 vocabulary words; a share of them are
    near-duplicates (an earlier document plus the token ``dup``)."""
    out: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < near_dup_share:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            out.append(" ".join(words))
    return out


def _day_range(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, size=n)
    return (lo_d + days).astype("datetime64[us]")


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = SIZES["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], nc
        ),
    })
    no = SIZES["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(_day_range(rng, "1995-01-01", "2001-08-01", no), _TS),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = SIZES["lineitem"]
    partkey = rng.integers(0, 2000, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 1000) / 10.0), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": pa.array(_day_range(rng, "1995-01-02", "2001-11-04", nl), _TS),
    })
    ne = SIZES["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), _TS),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, ne), pa.int64()),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], ne),
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = SIZES["documents"]
    texts = doc_texts(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = SIZES["embeddings"]
    vecs = rng.normal(size=(nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def ensure_corpus(work_root: str) -> str:
    """Return the corpus directory, generating it on first use.  The
    tables are written to a temporary directory and renamed into place, so
    an interrupted run never leaves a half-written corpus behind."""
    final = os.path.join(work_root, f"corpus-{CORPUS_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        for name, table in _tables(np.random.default_rng(CORPUS_SEED)).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# ------------------------------------------------------------ oracle side


def canonical(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive value hash, the same canonical form as the
    repository's oracle checker: columns sorted by name, values rendered
    to stable strings (floats to 6 places), rows sorted, md5."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def render(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    lines = sorted("|".join(render(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def oracle_results(work_root: str, corpus_dir: str, oracles: dict[str, str]) -> dict:
    """``{query: {"rows", "cols", "hash"}}`` of every oracle, from the cache
    when its key (oracle text + corpus directory) matches, else computed
    with DuckDB and stored."""
    cache_path = os.path.join(work_root, "oracle-cache.json")
    cache: dict = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    out, dirty = {}, False
    con = None
    for name, sql in oracles.items():
        key = hashlib.sha256(f"{os.path.realpath(corpus_dir)}\n{sql}".encode()).hexdigest()
        hit = cache.get(name)
        if hit is None or hit.get("key") != key:
            if con is None:
                import duckdb

                con = duckdb.connect()
                for fn in sorted(os.listdir(corpus_dir)):
                    if fn.endswith(".parquet"):
                        view = fn[: -len(".parquet")]
                        con.execute(
                            f"CREATE VIEW {view} AS SELECT * FROM "
                            f"'{os.path.join(corpus_dir, fn)}'"
                        )
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            hit = {"key": key, "rows": len(rows), "cols": sorted(cols),
                   "hash": canonical(rows, cols)}
            cache[name] = hit
            dirty = True
        out[name] = hit
    if con is not None:
        con.close()
    if dirty:
        tmp = f"{cache_path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, sort_keys=True)
        os.replace(tmp, cache_path)
    return out
