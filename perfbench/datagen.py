"""Seeded inputs: the star-schema tables the queries read and the
documents the ETL clients upload.

Everything here is a pure function of its seed, so two runs with the
same ``--seed`` feed the engine byte-identical inputs. The table shapes
follow the engine's fixture schemas (region … lineitem, events,
documents, embeddings); the documents follow the reference's captured
uploads: flat JSON records, nested heterogeneous users, mixed-block
text and CSV exports.
"""

from __future__ import annotations

import csv
import io
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table: the engine's sf0.01 fixture shape (lineitem follows
# orders at 1-7 lines each)
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "small", "large"]
NOUNS = ["anvil", "bolt", "gear", "nut", "ring", "widget", "spring",
         "valve", "pipe", "plate", "screw", "washer", "hinge"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream filter group vector").split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``."""
    rng = np.random.default_rng([seed, 1])
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })

    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })

    n = ROWS["part"]
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": rng.choice(names, n),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
    })

    n = ROWS["orders"]
    order_day = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })

    lines = rng.integers(1, 8, n)
    m = int(lines.sum())
    okey = np.repeat(np.arange(n, dtype=np.int64), lines)
    linenumber = np.arange(m) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, m)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, ROWS["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, ROWS["supplier"], m).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _ts(_EPOCH_1995 + ship_day * _DAY_US),
    })

    n = ROWS["events"]
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n))
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + offsets),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


# -- ETL uploads -------------------------------------------------------------


@dataclass(frozen=True)
class Document:
    """One upload: its file name, bytes, and the output rows and columns
    the pipeline must produce for it."""

    kind: str
    filename: str
    body: bytes
    records: int  # generated records in the document
    expect_rows: int  # rows the pipeline's output table must hold


def _flat_json(rng: np.random.Generator, n: int) -> Document:
    """F1: a strict JSON array of ``{id, name, score}`` records. The
    pipeline keeps the strict parse and the embedded-object re-scan as
    distinct rows (``_source_type`` null vs ``json``): 2 rows a record."""
    recs = [{"id": i, "name": f"user{i}_{int(rng.integers(0, 10**6))}",
             "score": int(rng.integers(0, 101))} for i in range(n)]
    return Document("flat_json", "records.json", json.dumps(recs).encode(), n, 2 * n)


def _nested_users(rng: np.random.Generator, n: int) -> Document:
    """F2: ``{users: [...], metadata: {...}}`` with heterogeneous users.
    The document is one strict-JSON record, and the embedded re-scan's
    minimal ``{...}`` blocks parse only for the flat trailing ``metadata``
    object (every user holds a nested object): 2 rows."""
    users = []
    for i in range(n):
        if i % 3 == 0:
            users.append({"id": i, "name": f"u{i}", "age": int(rng.integers(18, 90)),
                          "preferences": {"theme": "dark", "languages": ["English", "Spanish"]}})
        elif i % 3 == 1:
            users.append({"user_id": f"x{i}", "full_name": f"User {i}",
                          "contact": {"email": f"a{i}@example.com", "phone": "+1234567890"},
                          "points": int(rng.integers(0, 5000))})
        else:
            users.append({"id": i, "username": f"gamer{i}",
                          "stats": {"gamesPlayed": int(rng.integers(0, 500))}, "active": True})
    doc = {"users": users, "metadata": {"count": n, "source": "export"}}
    return Document("nested_users", "users.json", json.dumps(doc).encode(), n, 2)


def _csv_export(rng: np.random.Generator, n: int) -> Document:
    """A CSV export with a header row: one output row a record."""
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["id", "name", "score", "city"])
    for i in range(n):
        w.writerow([i, f"name{i}", int(rng.integers(0, 1000)),
                    rng.choice(["Pune", "Delhi", "Austin", "Lyon"])])
    return Document("csv", "export.csv", buf.getvalue().encode(), n, n)


def _log_text(rng: np.random.Generator, n: int) -> Document:
    """F3-style text: ``[date time] message`` log lines, one row each."""
    lines = []
    for i in range(n):
        day = int(rng.integers(1, 29))
        sec = int(rng.integers(0, 86400))
        lines.append(f"[2025-01-{day:02d} {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}] "
                     f"worker {int(rng.integers(0, 64))} handled request {i} status ok")
    return Document("log_text", "server.txt", ("\n".join(lines) + "\n").encode(), n, n)


UPLOAD_KINDS = [_nested_users, _flat_json, _csv_export, _log_text]


def upload_schedule(seed: int, clients: int, per_client: int,
                    lo: int = 10, hi: int = 500) -> list[list[Document]]:
    """Per-client upload sequences with ``lo``..``hi`` records each. Each
    client cycles through every document kind, client ``c`` starting at
    kind ``2c``, so each run sends the same mix whatever the seed; the
    seed picks the sizes and contents."""
    rng = np.random.default_rng([seed, 2])
    kinds = len(UPLOAD_KINDS)
    return [[UPLOAD_KINDS[(2 * c + i) % kinds](rng, int(rng.integers(lo, hi + 1)))
             for i in range(per_client)] for c in range(clients)]


def bulk_schedule(seed: int, count: int, lo: int = 5000, hi: int = 50000) -> list[Document]:
    """Large CSV exports and multi-line logs, ``lo``..``hi`` lines each."""
    rng = np.random.default_rng([seed, 3])
    kinds = [_csv_export, _log_text]
    return [kinds[i % 2](rng, int(rng.integers(lo, hi + 1))) for i in range(count)]
