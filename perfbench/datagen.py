"""Seeded synthetic star-schema fixtures for the benchmark.

Writes the ten tables the registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schema and value domains of the verification driver's fixtures: the same
column names and parquet types, the same categorical domains, and the same
per-scale row counts. Values are drawn from one ``numpy`` generator seeded
by ``DATA_SEED``, so a scale's files are identical on every host.

sf1 is not drawn: it is replicated from sf0.1 by the repository's own
``scripts/make_sf1.py`` (see ``ensure_sf1``), exactly as the scaling study
does.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import pathlib
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64

_ORDER_START = dt.date(1995, 1, 1)
_ORDER_DAYS = (dt.date(2001, 8, 1) - _ORDER_START).days + 1
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Per-table row counts of the driver's fixtures at scale ``sf``."""
    n = lambda base: max(1, round(base * sf))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, size: int) -> pa.Array:
    base = np.datetime64(start, "us")
    us = base + rng.integers(0, span, size).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def make_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Draw every fixture table at scale ``sf`` from one seeded generator."""
    rng = np.random.default_rng(seed)
    c = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )

    nc = c["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )

    ns = c["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )

    npart = c["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": names[rng.integers(0, len(names), npart)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, npart)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )

    no = c["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000, 500_000, no),
            "o_orderdate": _days(rng, _ORDER_START, _ORDER_DAYS, no),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )

    nl = c["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), _ORDER_DAYS + 95, nl),
        }
    )

    ne = c["events"]
    ts = np.sort(rng.integers(0, _EVENT_SPAN_US, ne)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, round(150_000 * sf)), ne), i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    nd = c["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, nd)]
    for i in range(1, nd, 500):  # a few exact duplicates, as the fixtures carry
        texts[i] = texts[i - 1]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    nv = c["embeddings"]
    emb = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return out


def _fingerprint(paths: list[pathlib.Path]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def ensure_scale(cache: pathlib.Path, sf: float) -> pathlib.Path:
    """Write scale ``sf`` under ``cache`` unless this generator already did."""
    key = _fingerprint([pathlib.Path(__file__)])
    out = cache / f"sf{sf:g}"
    stamp = out / ".stamp"
    if stamp.exists() and stamp.read_text() == key:
        return out
    out.mkdir(parents=True, exist_ok=True)
    for name, tbl in make_tables(sf).items():
        pq.write_table(tbl, out / f"{name}.parquet", compression="zstd")
    stamp.write_text(key)
    return out


def ensure_sf1(cache: pathlib.Path, repo: pathlib.Path) -> pathlib.Path:
    """Replicate sf0.1 ten-fold with ``scripts/make_sf1.py``, cached on the
    content of the sf0.1 files and of the script, and check its row counts."""
    src = ensure_scale(cache, 0.1)
    script = repo / "scripts" / "make_sf1.py"
    key = _fingerprint([script, *sorted(src.glob("*.parquet"))])
    out = cache / "sf1"
    stamp = out / ".stamp"
    if stamp.exists() and stamp.read_text() == key:
        return out
    out.mkdir(parents=True, exist_ok=True)
    subprocess.run(
        [sys.executable, str(script), str(src), str(out)],
        check=True,
        stdout=subprocess.DEVNULL,
        timeout=600,
    )
    want = {"lineitem": 6_000_000, "orders": 1_500_000}
    got = {t: pq.read_metadata(out / f"{t}.parquet").num_rows for t in want}
    if got != want:
        raise RuntimeError(f"sf1 row counts {got}, expected {want}")
    stamp.write_text(key)
    return out
