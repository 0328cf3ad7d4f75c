"""Input generators for the benchmark.

``write_tables`` writes the ten fixture tables the query keys read
(``region nation customer supplier part orders lineitem events
documents embeddings``) with the schemas, value domains and duplicate
structure described in FIXTURES.md, so every key and its DuckDB oracle
run on them unchanged. The tables depend only on the scale factor: the
query workloads vary the key order with the seed, not the data.

``make_tree`` builds the ``hh_cli`` file tree from the seed and returns
its manifest (every directory and file with its size), which the
benchmark checks CLI output against.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: generator seed of the tables
TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_MS = 86_400_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "ms")
_SHIP_EPOCH = np.datetime64("1995-01-02", "ms")
_EVENT_EPOCH = np.datetime64("2024-01-01", "ns")


def table_sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (FIXTURES.md)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    """Word-sequence texts; 5% are an earlier text plus ``" dup"``, so
    near-duplicate keys find pairs and exact-dedup keys find none."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit 64-d vectors around ten weak cluster centres (``label``)."""
    centres = rng.normal(0.0, 0.6, (10, 64))
    label = rng.integers(0, 10, n)
    vec = centres[label] + rng.normal(0.0, 1.0, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def build_tables(sf: float, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """Every fixture table at ``sf``, fully determined by ``seed``."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    nc, ns, np_, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"]
    )
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), i64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _choice(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), i64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(np_), i64),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
                "p_type": _choice(rng, PART_TYPES, np_),
                "p_size": pa.array(rng.integers(1, 51, np_), i32),
                "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), i64),
                "o_custkey": pa.array(rng.integers(0, nc, no), i64),
                "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": pa.array(
                    _ORDER_EPOCH + rng.integers(0, 2404, no) * _DAY_MS,
                    pa.timestamp("ms"),
                ),
                "o_orderpriority": _choice(rng, PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
                "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
                "l_linestatus": _choice(rng, ["F", "O"], nl),
                "l_shipdate": pa.array(
                    _SHIP_EPOCH + rng.integers(0, 2498, nl) * _DAY_MS,
                    pa.timestamp("ms"),
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(ne), i64),
                "ts": pa.array(
                    _EVENT_EPOCH
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) * 1000,
                    pa.timestamp("ns"),
                ),
                "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), i64),
                "event_type": _choice(rng, EVENT_TYPES, ne),
                "value": np.round(rng.exponential(50.0, ne), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
            }
        ),
    }
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def version() -> str:
    """Digest of this generator's source: a cached table directory is
    named after it, so editing the generator never reuses stale tables."""
    with open(__file__, "rb") as fh:
        return hashlib.sha1(fh.read()).hexdigest()[:10]


def write_tables(dest: str, sf: float) -> None:
    """Write every table as ``dest/<name>.parquet``; ``dest`` is created
    under a temporary name and renamed into place, so a directory that
    exists is complete."""
    tmp = f"{dest}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, dest)
    except OSError:
        if not os.path.isdir(dest):
            raise
        shutil.rmtree(tmp)  # another run wrote the same tables first


def make_tree(root: str, seed: int, dirs_per_level: tuple[int, ...], files_per_dir: int):
    """Create the ``hh_cli`` tree under ``root`` and return its manifest.

    The shape is fixed (``dirs_per_level`` fan-out per level and
    ``files_per_dir`` files in every directory); the seed draws the
    names and file sizes. Returns ``{"dirs": [...], "files": {path:
    size}}`` with absolute paths, ``root`` included in ``dirs``.
    """
    rnd = random.Random(seed)
    dirs, files = [root], {}
    level = [root]
    for fan in dirs_per_level:
        nxt = []
        for parent in level:
            names = rnd.sample(range(1000), fan)
            for nm in names:
                d = os.path.join(parent, f"d{nm:03d}")
                nxt.append(d)
        dirs.extend(nxt)
        level = nxt
    for d in dirs:
        os.makedirs(d, exist_ok=True)
        for nm in rnd.sample(range(10000), files_per_dir):
            ext = rnd.choice(("log", "csv", "json", "bin"))
            path = os.path.join(d, f"f{nm:04d}.{ext}")
            size = rnd.randrange(0, 4096)
            with open(path, "wb") as fh:
                fh.write(rnd.randbytes(size))
            files[path] = size
    return {"dirs": dirs, "files": files}
