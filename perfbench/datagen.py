"""Seeded input generators for the benchmark.

Everything the program reads is written here, from ``--seed`` alone, into
the run's own data directory; the program sees only the written files.

- ``write_tables`` writes the ten parquet tables that ``tables.t`` reads,
  in the shape of the repository's synthetic test data (a TPC-H-like star
  schema plus ``events``, ``documents`` and ``embeddings``).
- ``write_manifest`` writes a JSON-lines URL manifest for the pipeline,
  with a fixed share of null URLs, duplicates and fetch failures.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit of scale factor, as in the repository's test data.
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DUP_SHARE = 0.05  # documents that copy another document's text plus " dup"
_EMBED_DIM = 64


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    day = 86_400_000_000
    days = rng.integers(0, (_us(hi) - _us(lo)) // day + 1, n)
    return pa.array(_us(lo) + days * day, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables at scale factor ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in _ROWS_PER_SF.items()}
    n["documents"] = max(500, int(50_000 * sf))
    n["embeddings"] = max(500, int(20_000 * sf))
    n_users = max(1, int(15_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    keys = np.arange(n["part"])
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": np.char.add(np.char.add(rng.choice(_ADJ, n["part"]), " "),
                              rng.choice(_NOUN, n["part"])),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
        "p_type": rng.choice(_PTYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
        "o_orderdate": _dates(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"])})
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _dates(rng, nl, "1995-01-02", "2001-11-04")})
    ne = n["events"]
    span = _us("2024-01-31") - _us("2024-01-01")
    _write(out_dir, "events", {
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(_us("2024-01-01") + np.sort(rng.integers(0, span, ne)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, ne), i64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, k)) for k in rng.integers(10, 101, nd)]
    for i in np.flatnonzero(rng.random(nd) < _DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(nd), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], i64)})
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})
    return {**n, "region": 5, "nation": 25}


# The manifest for etl_ingest. Failing and null URLs sit at a fixed
# stride with a seeded phase, so any DEAD_STRIDE consecutive rows hold at
# most one failing URL: run_pipeline's canary fetches 10 contiguous rows
# and fails the run from 2 errors up (20%), and with failures placed
# uniformly at random about 11% of seeds would trip it although the true
# error rate is 1/17.

# Rows: small enough that a run with a warm-up and three timed passes
# stays near a minute on a 4-vCPU box; at 20k rows a run took ~70 s,
# over the ~60 s a run may average within the benchmark's time budget.
ROWS = 10_000
# Catalogue exports carry rows without a URL; the pipeline's not-null
# filter must drop them before indexing. One row in 50.
NULL_STRIDE = 50
# Re-exported catalogues repeat URLs; the pipeline fetches every row, so
# duplicates are real work and each must land once.
DUP_SHARE = 0.05
# fake_transport fails ids divisible by 17: one row in 17 takes both
# fetch attempts and lands in the dead-letter output.
DEAD_STRIDE = 17


def write_manifest(path: str, seed: int) -> list[str | None]:
    """Write ``ROWS`` JSON lines of MorphoSource-style media URLs and
    return the URL column as written (None for a null URL)."""
    rng = np.random.default_rng(seed)
    n, top = ROWS, 10**9 // DEAD_STRIDE
    ids = rng.integers(0, top, n) * DEAD_STRIDE + rng.integers(1, DEAD_STRIDE, n)  # fetchable
    dup = rng.random(n) < DUP_SHARE
    ids[dup] = ids[rng.integers(0, n, int(dup.sum()))]
    dead = np.arange(rng.integers(0, DEAD_STRIDE), n, DEAD_STRIDE)
    ids[dead] = rng.integers(1, top, len(dead)) * DEAD_STRIDE
    urls: list[str | None] = [
        f"https://www.morphosource.org/concern/media/{i:09d}?locale=en" for i in ids
    ]
    for i in range(int(rng.integers(0, NULL_STRIDE)), n, NULL_STRIDE):
        urls[i] = None
    with open(path, "w") as fh:
        for u in urls:
            fh.write(json.dumps({"url": u}) + "\n")
    return urls


def manifest_record() -> dict:
    """The manifest's shape, for the report."""
    return {"manifest_rows": ROWS, "null_share": 1 / NULL_STRIDE, "duplicate_share": DUP_SHARE,
            "dead_share": 1 / DEAD_STRIDE}
