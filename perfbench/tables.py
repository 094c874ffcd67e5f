"""Seeded fixture tables for the ``query`` workload.

The same ten tables, column names and physical types as the engine's
query fixtures (TPC-H-ish star schema plus ``events``, ``documents``
and ``embeddings``; FIXTURES.md F3-F12), one parquet file and one row
group each, with value domains that give every headline query real
work: repeated and near-duplicate documents, JSON ``props``,
sub-hour event spacing, skew-free join keys.  Sizes follow the TPC-H
scale factor ``sf`` for the relational and event tables; the corpus
tables have fixed sizes, as in the fixtures.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
#: Corpus vocabulary: domain words plus the stop words the language
#: scorer counts, so every language class and the "und" class occur.
VOCAB = (
    "spark table query scan join agg filter sort hash key value row column "
    "batch stream window merge group order part line data vector fast slow "
    "big small customer the a and of to in is el la de y le et der die und"
).split()

N_DOCUMENTS = 2000
N_EMBEDDINGS = 2000
EMBEDDING_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n, start: dt.datetime, end: dt.datetime):
    """Midnight timestamps (microseconds) uniform in [start, end]."""
    span = (end - start).days
    return _micros(start) + rng.integers(0, span + 1, n) * 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="int64"), pa.timestamp("us"))


def _documents(rng) -> dict:
    n = N_DOCUMENTS
    lens = rng.integers(5, 100, n)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in lens]
    # exact duplicates: a few documents repeat an earlier text verbatim
    for i in rng.choice(np.arange(1, n), size=n // 500, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i}" for i in np.arange(n) % 20], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng) -> dict:
    n = N_EMBEDDINGS
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMBEDDING_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.7, (n, EMBEDDING_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten fixture tables for ``(seed, sf)`` under ``out_dir``."""
    rng = np.random.default_rng([seed, 0x7AB1E])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))

    def path(name):
        return os.path.join(out_dir, f"{name}.parquet")

    _write(path("region"), {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(path("nation"), {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    _write(path("customer"), {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)], pa.string()),
    })
    _write(path("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    ptype = rng.integers(0, len(PART_TYPES), n_part)
    _write(path("part"), {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([f"{PART_TYPES[t].lower()} part{i % 97}" for i, t in enumerate(ptype)], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array([PART_TYPES[t] for t in ptype], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(_money(rng, n_part, 900.0, 2100.0)),
    })
    _write(path("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array([("O", "P", "F")[i] for i in rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _ts(_days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)], pa.string()),
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(path("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, n_line, 900.0, 2100.0), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)], pa.string()),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)], pa.string()),
        "l_shipdate": _ts(_days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))),
    })
    start = _micros(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(path("events"), {
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)], pa.string()),
        "value": pa.array(_money(rng, n_ev, 0.0, 560.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    _write(path("documents"), _documents(rng))
    _write(path("embeddings"), _embeddings(rng))
