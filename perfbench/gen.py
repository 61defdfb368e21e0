"""Seeded input generators: object buckets, per-tick drift with its ledger,
and the star-schema table set the registry workload queries.

Everything here is a pure function of the seed: the same seed writes the
same bytes, names, mtimes and tables. Nothing imports Spark.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

KIB = 1024
MIB = 1024 * KIB

# Fixed mtime origin, so an object's etag (size-mtime) never depends on the
# wall clock at generation time.
EPOCH_S = 1_700_000_000


def _payload(seed: int, name: str, version: int, size: int) -> bytes:
    """Deterministic incompressible bytes for one object version."""
    digest = hashlib.sha256(f"{seed}/{name}/{version}".encode()).digest()
    return random.Random(digest).randbytes(size)


@dataclass
class Bucket:
    """A generated bucket on local disk: object name -> (size, version).

    ``next_id`` names the next new object; ``mtime`` is bumped on every
    write so each rewrite carries a distinct etag."""

    root: str
    seed: int
    objects: dict[str, tuple[int, int]] = field(default_factory=dict)
    next_id: int = 0
    n_prefixes: int = 64
    mtime: int = EPOCH_S

    def write(self, name: str, size: int, version: int) -> None:
        path = os.path.join(self.root, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(_payload(self.seed, name, version, size))
        self.mtime += 1
        os.utime(path, (self.mtime, self.mtime))
        self.objects[name] = (size, version)

    def name_of(self, i: int) -> str:
        return f"p{i % self.n_prefixes:02d}/obj-{i:06d}.bin"

    def new_name(self) -> str:
        self.next_id += 1
        return self.name_of(self.next_id - 1)

    @property
    def total_bytes(self) -> int:
        return sum(size for size, _ in self.objects.values())


def object_sizes(rng: random.Random, n: int, large_share: float, small: int, large: int) -> list[int]:
    """``n`` sizes: exactly ``round(n * large_share)`` large ones, shuffled."""
    n_large = round(n * large_share)
    sizes = [large] * n_large + [small] * (n - n_large)
    rng.shuffle(sizes)
    return sizes


def make_bucket(
    root: str,
    seed: int,
    n_objects: int,
    large_share: float,
    small: int = 16 * KIB,
    large: int = 4 * MIB,
    n_prefixes: int = 64,
) -> Bucket:
    rng = random.Random(f"bucket/{seed}")
    bucket = Bucket(root=root, seed=seed, n_prefixes=n_prefixes)
    os.makedirs(root, exist_ok=True)
    for size in object_sizes(rng, n_objects, large_share, small, large):
        bucket.write(bucket.new_name(), size, 0)
    return bucket


@dataclass(frozen=True)
class Drift:
    """One tick's seeded changes to a synced bucket, and the report counts
    ``sync_buckets`` must return for it."""

    modified: tuple[str, ...]
    new: tuple[str, ...]
    deleted: tuple[str, ...]
    unchanged: int

    @property
    def expected_counts(self) -> dict[str, int]:
        counts = {
            "copy_success": len(self.modified) + len(self.new),
            "delete_success": len(self.deleted),
            "skip": self.unchanged,
        }
        return {k: v for k, v in counts.items() if v}


MODIFIED_SHARE, NEW_SHARE, DELETED_SHARE = 0.01, 0.005, 0.005


def plan_drift(bucket: Bucket, seed: int, tick: int) -> Drift:
    """Choose which objects change on ``tick``, at least one of each kind;
    touches no file."""
    rng = random.Random(f"drift/{seed}/{tick}")
    names = sorted(bucket.objects)
    n = len(names)
    n_mod = max(1, round(n * MODIFIED_SHARE))
    n_del = max(1, round(n * DELETED_SHARE))
    n_new = max(1, round(n * NEW_SHARE))
    picked = rng.sample(names, n_mod + n_del)
    modified, deleted = sorted(picked[:n_mod]), sorted(picked[n_mod:])
    new = [bucket.name_of(i) for i in range(bucket.next_id, bucket.next_id + n_new)]
    return Drift(tuple(modified), tuple(new), tuple(deleted), n - n_mod - n_del)


def apply_drift(bucket: Bucket, drift: Drift, small: int = 16 * KIB) -> None:
    for name in drift.modified:
        size, version = bucket.objects[name]
        bucket.write(name, size, version + 1)
    for name in drift.new:
        if bucket.new_name() != name:
            raise ValueError(f"drift {name!r} was not planned on this bucket's state")
        bucket.write(name, small, 0)
    for name in drift.deleted:
        os.remove(os.path.join(bucket.root, name))
        del bucket.objects[name]


def tree_digest(root: str) -> dict[str, tuple[int, str]]:
    """name -> (size, md5) for every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for fname in files:
            path = os.path.join(dirpath, fname)
            with open(path, "rb") as f:
                digest = hashlib.file_digest(f, "md5").hexdigest()
            out[os.path.relpath(path, root)] = (os.path.getsize(path), digest)
    return out


def count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


# ---------------------------------------------------------------------------
# Registry tables: the ten-table star schema (TPC-H-like dims and facts plus
# events, documents and embeddings) with the column names, types and value
# domains the registered queries read.

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big customer query filter "
    "stream group vector"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def make_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write ``<name>.parquet`` for every registry table; returns row counts.

    ``scale`` follows the sf convention of the repository's test tables
    (TESTDATA.md): lineitem has about 6,000,000 * scale rows."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    n_vecs = n_docs

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        return (pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, n_days, n), unit="D")).astype(
            "datetime64[us]"
        )

    tables = {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype="int32"),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PTYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
                "o_totalprice": money(1000, 500_000, n_ord),
                "o_orderdate": days("1995-01-01", 2400, n_ord),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            }
        ),
    }
    lines_per_order = rng.integers(1, 8, n_ord)
    n_line = int(lines_per_order.sum())
    qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": np.repeat(np.arange(n_ord, dtype="int64"), lines_per_order),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines_per_order]).astype(
                "int32"
            ),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("F", "O"), n_line),
            "l_shipdate": days("1995-01-02", 2500, n_line),
        }
    )
    gaps = rng.exponential(30 * 86400 / n_events, n_events)
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s")).astype(
                "datetime64[us]"
            ),
            "user_id": rng.integers(0, max(15, n_events // 66), n_events),
            "event_type": rng.choice(_EVENTS, n_events),
            "value": np.round(rng.exponential(50, n_events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = []
    for i in range(n_docs):
        if i % 10 == 9:  # near-duplicate of an earlier document
            words = texts[i - 9].split()
            words[rng.integers(0, len(words))] = _WORDS[rng.integers(0, len(_WORDS))]
        else:
            words = list(rng.choice(_WORDS, rng.integers(20, 80)))
        texts.append(" ".join(words))
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    labels = rng.integers(0, 10, n_vecs).astype("int32")
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.05, (n_vecs, 64))).astype("float32")
    tables["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(n_vecs, dtype="int64"), "embedding": list(vecs), "label": labels}
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}
