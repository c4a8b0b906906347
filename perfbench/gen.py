"""Seeded input generators. Pure Python and pyarrow: no Spark here.

The same seed always gives byte-identical inputs. The program under test
only ever sees the rows these functions return (or the Parquet tables
they write); the seed itself never reaches it.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_PATH = "/docs/*.json"
UPDATE_FILES = 8


def key_name(i: int) -> str:
    return f"k{i:05d}"


def file_row(origin: str, idx: int, version: int, key: str, value: int) -> dict:
    return {
        "origin": origin,
        "pathname": f"/docs/{idx:06d}.json",
        "version": version,
        "content": json.dumps({"k": key, "v": value}),
    }


def content_bytes(rows: "list[dict]") -> int:
    return sum(len(r["content"].encode()) for r in rows)


class Zipf:
    """Draws ranks 0..n-1 with P(r) proportional to 1/(r+1)**s."""

    def __init__(self, n: int, s: float, rng: random.Random):
        w = [1.0 / (r + 1) ** s for r in range(n)]
        total = sum(w)
        acc, self.cdf = 0.0, []
        for x in w:
            acc += x
            self.cdf.append(acc / total)
        self.rng = rng

    def draw(self) -> int:
        return min(bisect.bisect_left(self.cdf, self.rng.random()), len(self.cdf) - 1)


@dataclass
class ViewModel:
    """Expected contents of the drip views, kept beside the engine:
    file url -> (key, value), and key -> urls holding it."""

    files: "dict[str, tuple[str, int]]" = field(default_factory=dict)
    by_key: "dict[str, set[str]]" = field(default_factory=dict)

    def put(self, url: str, key: str, value: int) -> None:
        old = self.files.get(url)
        if old is not None:
            urls = self.by_key[old[0]]
            urls.discard(url)
            if not urls:
                del self.by_key[old[0]]
        self.files[url] = (key, value)
        self.by_key.setdefault(key, set()).add(url)

    def count(self, key: str) -> "int | None":
        urls = self.by_key.get(key)
        return len(urls) if urls else None

    def min(self, key: str) -> "int | None":
        urls = self.by_key.get(key)
        return min(self.files[u][1] for u in urls) if urls else None

    def min_holder(self, key: str) -> str:
        return min(self.by_key[key], key=lambda u: (self.files[u][1], u))

    def mapped(self, key: str) -> "list[int] | None":
        urls = self.by_key.get(key)
        return [self.files[u][1] for u in sorted(urls)] if urls else None

    def count_range(self, gte: str, limit: int) -> "list[tuple[str, int]]":
        keys = sorted(k for k in self.by_key if k >= gte)[:limit]
        return [(k, len(self.by_key[k])) for k in keys]


class DripGenerator:
    """One hot origin: a backfill, then 8-file updates that re-key files.
    Half of each update's files hold their key's current minimum, so
    every update forces min retraction."""

    origin = "dat://hot"

    def __init__(self, seed: int, n_files: int, n_keys: int):
        self.rng = random.Random(seed)
        self.n_files, self.n_keys = n_files, n_keys
        self.version = 1
        self.model = ViewModel()
        self.zipf = Zipf(n_keys, 1.1, random.Random(seed + 1))
        self.fresh = 0
        self.last_fresh = ""

    def url(self, idx: int) -> str:
        return f"{self.origin}/docs/{idx:06d}.json"

    def backfill(self) -> "list[dict]":
        rows = []
        for i in range(self.n_files):
            key = key_name(self.rng.randrange(self.n_keys))
            value = self.rng.randrange(1_000_000)
            rows.append(file_row(self.origin, i, 1, key, value))
            self.model.put(self.url(i), key, value)
        return rows

    def update(self) -> "list[dict]":
        """Next update; the model reflects it as soon as it is made."""
        self.version += 1
        picked: "list[int]" = []
        while len(picked) < UPDATE_FILES // 2:
            key = key_name(self.zipf.draw())
            if key in self.model.by_key:
                idx = int(self.model.min_holder(key).rsplit("/", 1)[1][:6])
                if idx not in picked:
                    picked.append(idx)
        while len(picked) < UPDATE_FILES:
            idx = self.rng.randrange(self.n_files)
            if idx not in picked:
                picked.append(idx)
        rows = []
        for j, idx in enumerate(picked):
            if j % 2:
                self.fresh += 1
                key = self.last_fresh = f"n{self.fresh:05d}"
            else:
                key = key_name(self.rng.randrange(self.n_keys))
            value = self.rng.randrange(1_000_000)
            rows.append(file_row(self.origin, idx, self.version, key, value))
            self.model.put(self.url(idx), key, value)
        return rows

    def read_key(self) -> str:
        return key_name(self.zipf.draw())


def bulk_rows(seed: int, n_origins: int, files_per_origin: int, n_keys: int):
    """Many small JSON files over a few origins, and their model."""
    rng = random.Random(seed)
    model = ViewModel()
    rows = []
    for o in range(n_origins):
        origin = f"dat://bulk{o}"
        for i in range(files_per_origin):
            key = key_name(rng.randrange(n_keys))
            value = rng.randrange(1_000_000)
            rows.append(file_row(origin, i, 1, key, value))
            model.put(f"{origin}/docs/{i:06d}.json", key, value)
    return rows, model


def fanout_rows(seed: int, n_origins: int, files_per_origin: int):
    """Many origins with a couple of files each; keys are origin-local."""
    rng = random.Random(seed)
    model = ViewModel()
    rows = []
    for o in range(n_origins):
        origin = f"dat://org{o:05d}"
        for i in range(files_per_origin):
            key = f"o{o:05d}-{i}"
            value = rng.randrange(1_000_000)
            rows.append(file_row(origin, i, 1, key, value))
            model.put(f"{origin}/docs/{i:06d}.json", key, value)
    return rows, model


# -- analytics tables ---------------------------------------------------

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def analytics_tables(seed: int) -> "dict[str, pa.Table]":
    """lineitem, events, documents and embeddings in the shapes and
    sizes of the registry's sf0.001 tables."""
    rng = np.random.default_rng(seed)
    n_li, n_ev, n_doc, n_emb = 6000, 1000, 500, 500

    day = np.timedelta64(1, "D")
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2498, n_li) * day
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, 1500, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 200, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 10, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )

    gaps = rng.integers(1_000_000, 5_000_000_000, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.uniform(0.01, 330.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )

    texts = []
    for i in range(n_doc):
        if i >= 20 and i % 10 == 0:
            # near-duplicate of an earlier document: one word swapped
            toks = texts[i - 20].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
        else:
            toks = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return {
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(tables: "dict[str, pa.Table]", sf_dir: str) -> int:
    """One Parquet file per table; returns the bytes written."""
    import os

    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = f"{sf_dir}/{name}.parquet"
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
