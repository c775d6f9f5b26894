"""Seeded input generation for the benchmark.

Everything the program under test sees is made here from the seed:

- a base fixture with the ten tables of ``TESTDATA.md`` (TPC-H-shaped star schema,
  ``events``, ``documents``, ``embeddings``), written by NumPy/pyarrow;
- the measured fixture, derived from the base by the repository's own
  ``tools/make_scaled_fixture.py`` (replication with per-copy key offsets);
- the lakehouse micro-batches, with a seeded share of exact and near
  copies of earlier batches.

(The ANN query vectors are drawn in ``workloads.Curation.prepare``.)

Generation is deterministic for a given seed and library version; the
SHA-256 of every generated file is recorded so that this is checked, not
assumed.
"""

from __future__ import annotations

import hashlib
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM = 64

# Row counts at sf1, in the proportions of the fixtures in TESTDATA.md.
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}


def _ts(start: str, end: str, n: int, rng: np.random.Generator, unit: str) -> pa.Array:
    """Uniform timestamps in [start, end) at ``unit`` ("D" or "us")
    resolution, stored as microseconds."""
    lo = np.datetime64(start, unit).astype(np.int64)
    hi = np.datetime64(end, unit).astype(np.int64)
    raw = rng.integers(lo, hi, n).astype(f"datetime64[{unit}]").astype("datetime64[us]")
    return pa.array(raw, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def near_copy(rng: np.random.Generator, text: str, share: float = 0.1) -> str:
    """Replace about ``share`` of the words: a near duplicate."""
    words = text.split()
    for i in np.flatnonzero(rng.random(len(words)) < share):
        words[i] = WORDS[rng.integers(0, len(WORDS))]
    return " ".join(words)


def make_documents(rng: np.random.Generator, n: int, first_id: int = 0,
                   earlier: list[str] | None = None, copy_share: float = 0.2) -> pa.Table:
    """Documents of 10-100 words; ``copy_share`` of them copy an earlier
    text exactly (half) or nearly (half), from ``earlier`` or this batch."""
    pool = list(earlier or [])
    texts = []
    for _ in range(n):
        if pool and rng.random() < copy_share:
            src = pool[rng.integers(0, len(pool))]
            texts.append(src if rng.random() < 0.5 else near_copy(rng, src))
        else:
            texts.append(make_text(rng, int(rng.integers(10, 101))))
        pool.append(texts[-1])
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables of TESTDATA.md at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(r * sf)) for t, r in ROWS_AT_SF1.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)], pa.string()),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(
            [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, npart)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 2), pa.float64()),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, no)], pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, no), pa.float64()),
        "o_orderdate": _ts("1995-01-01", "2001-08-01", no, rng, "D"),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, no)], pa.string()),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100, pa.float64()),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nl)], pa.string()),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nl)], pa.string()),
        "l_shipdate": _ts("1995-01-02", "2001-11-04", nl, rng, "D"),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", "2024-01-31", ne, rng, "us"),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), ne), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, ne)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50, ne), 2), pa.float64()),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)], pa.string()),
    })
    t["documents"] = make_documents(rng, n["documents"])
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0, 1.2, (nv, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")


def scaled_fixture(repo: Path, base: Path, out: Path, factor: int) -> None:
    """Replicate ``base`` ``factor`` times with the repository's tool."""
    subprocess.run(
        [sys.executable, str(repo / "tools" / "make_scaled_fixture.py"),
         str(base), str(out), str(factor)],
        check=True, stdout=subprocess.DEVNULL,
    )


def lake_batches(seed: int, n_batches: int, batch_docs: int,
                 copy_share: float = 0.25) -> list[pa.Table]:
    """Document micro-batches; each copies ``copy_share`` of its docs
    (half exact, half near) from earlier batches or itself."""
    rng = np.random.default_rng(seed + 7919)
    batches: list[pa.Table] = []
    texts: list[str] = []
    for b in range(n_batches):
        batch = make_documents(rng, batch_docs, first_id=b * batch_docs,
                               earlier=texts, copy_share=copy_share)
        texts.extend(batch.column("text").to_pylist())
        batches.append(batch)
    return batches


def file_hashes(root: Path) -> dict[str, str]:
    """SHA-256 of every file under ``root``, keyed by relative path."""
    out = {}
    for p in sorted(root.rglob("*")):
        if p.is_file():
            out[str(p.relative_to(root))] = hashlib.sha256(p.read_bytes()).hexdigest()
    return out
