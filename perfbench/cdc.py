"""Seeded ``DatabaseChanges`` stream for the ingest workloads.

Two tables, both reachable through the engine's public catalog API:

* ``block_meta`` — the reference's ``devel/schema.sql`` table.  Every
  block CREATEs ``block:<num>`` and CREATEs (first block of a day) or
  UPDATEs (every later block of that day) the per-day row
  ``day:<YYYY-MM-DD>``, so a 1000-block window folds ~1000 updates of
  one key.
* ``accounts`` — a new-key CREATE and four Zipf-skewed UPDATEs of live
  keys every block, and a DELETE every 20 blocks.  Field values exercise
  the reference's coercion branches: bigint, int, Unix-seconds string
  into a timestamp, bool.

The stream never produces a merge error in any flush window: new keys
are always fresh, and a deleted key is never touched again.  The same
seed yields byte-identical payloads.

Basis of the traffic mix: ``block_meta`` follows the reference's own
``devel/schema.sql`` (one row per block).  The ``accounts`` mix — the
per-block counts, the delete rate, the Zipf exponent of the update keys
and the share of updates that touch ``frozen`` — is an unverified
assumption: no captured ``DatabaseChanges`` stream is in the repository
to check it against, and no public source was used to set it.  The
volume, 7.05 changes a block, is a run-time compromise: the benchmark
was first planned at ~20 changes a block, but 1000-block epochs of ~19k
changes took 11-13 s each on a 4-core host, too long for a run.  Do not tune the mix further until a captured stream is committed
and the counts can be taken from it.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import numpy as np

from pyspark.sql import types as T

#: First block of every stream; block timestamps advance 12 s a block.
FIRST_BLOCK = 17_000_000
GENESIS_TS = 1_700_000_000
BLOCK_SECONDS = 12

#: Per-block accounts traffic: new keys and updates every block, one
#: delete every DELETE_EVERY blocks.  Counts are fixed so every block
#: and every file carries the same work; keys and values are random.
#: All four values, and FROZEN_SHARE, are unverified assumptions (see
#: the module docstring), sized so a block carries 7.05 changes.
NEW_PER_BLOCK = 1
UPDATES_PER_BLOCK = 4
DELETE_EVERY = 20
#: Zipf exponent of the update keys: same-key repeats inside a flush
#: window give the fold work to do.
ZIPF_A = 1.3
#: Share of updates that also set ``frozen`` (a bool coercion).
FROZEN_SHARE = 0.1

BLOCK_META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("at", T.StringType(), True),
        T.StructField("number", T.IntegerType(), True),
        T.StructField("hash", T.StringType(), True),
        T.StructField("parent_hash", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
    ]
)

ACCOUNTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("owner", T.StringType(), True),
        T.StructField("balance", T.LongType(), True),
        T.StructField("nonce", T.IntegerType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("frozen", T.BooleanType(), True),
    ]
)

SCHEMAS = {"block_meta": BLOCK_META_SCHEMA, "accounts": ACCOUNTS_SCHEMA}


def catalog():
    """The engine catalog for the two generated tables."""
    from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo

    cat = Catalog()
    for name, schema in SCHEMAS.items():
        cat.register(TableInfo(name, schema, primary_key="id"))
    return cat


def _block_hash(seed: int, num: int) -> str:
    return hashlib.sha256(f"{seed}:{num}".encode()).hexdigest()


class ChangeStream:
    """Sequential block generator; ``next_block()`` returns
    ``(block_num, block_id, changes)`` where ``changes`` is a list of
    ``{table, pk, ordinal, op, fields}`` dicts in ordinal order."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng([seed, 0xCDC])
        self.num = FIRST_BLOCK
        self.live: list[str] = []
        self.n_accounts = 0
        self.days: set[str] = set()

    def _pick_live(self) -> str:
        n = len(self.live)
        r = int(self.rng.zipf(ZIPF_A))
        idx = r - 1 if r <= n else int(self.rng.integers(n))
        return self.live[idx]

    def next_block(self) -> tuple[int, str, list[dict]]:
        num = self.num
        self.num += 1
        ts = GENESIS_TS + (num - FIRST_BLOCK) * BLOCK_SECONDS
        at = dt.datetime.fromtimestamp(ts, dt.timezone.utc)
        block_id = _block_hash(self.seed, num)
        changes: list[dict] = []

        def add(table: str, pk: str, op: str, fields: dict[str, str]) -> None:
            changes.append(
                {"table": table, "pk": pk, "ordinal": len(changes) + 1,
                 "op": op, "fields": fields}
            )

        meta = {
            "at": at.strftime("%Y-%m-%d %H:%M:%S"),
            "number": str(num),
            "hash": block_id,
            "parent_hash": _block_hash(self.seed, num - 1),
            "timestamp": str(ts),
        }
        add("block_meta", f"block:{num}", "CREATE", dict(meta))
        day = f"day:{at.date().isoformat()}"
        if day in self.days:
            add("block_meta", day, "UPDATE",
                {k: meta[k] for k in ("number", "hash", "timestamp")})
        else:
            self.days.add(day)
            add("block_meta", day, "CREATE", dict(meta))

        for _ in range(NEW_PER_BLOCK):
            pk = f"acct:{self.n_accounts:08d}"
            self.n_accounts += 1
            self.live.append(pk)
            add("accounts", pk, "CREATE", {
                "owner": f"owner:{int(self.rng.integers(1000)):04d}",
                "balance": str(int(self.rng.integers(0, 10**12))),
                "nonce": "0",
                "updated_at": str(ts),
                "frozen": "false",
            })
        for _ in range(UPDATES_PER_BLOCK):
            fields = {
                "balance": str(int(self.rng.integers(0, 10**12))),
                "nonce": str(num - FIRST_BLOCK),
                "updated_at": str(ts),
            }
            if self.rng.random() < FROZEN_SHARE:
                fields["frozen"] = "true" if self.rng.random() < 0.5 else "false"
            add("accounts", self._pick_live(), "UPDATE", fields)
        if num % DELETE_EVERY == 0:
            victim = self.live.pop(int(self.rng.integers(len(self.live))))
            add("accounts", victim, "DELETE", {})
        return num, block_id, changes

    def blocks(self, n: int) -> list[tuple[int, str, list[dict]]]:
        return [self.next_block() for _ in range(n)]


def encode_blocks(blocks) -> dict:
    """Blocks -> the spool's column layout ``(block_num, block_id,
    value binary)``, ``value`` a serialized ``DatabaseChanges``."""
    from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
        encode_database_changes,
    )

    return {
        "block_num": [b[0] for b in blocks],
        "block_id": [b[1] for b in blocks],
        "value": [encode_database_changes(b[2]) for b in blocks],
    }


def write_spool_file(path: str, blocks) -> None:
    """One spool file, written the way ``sources.substreams_grpc``
    spools: a temp name, then an atomic rename."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = encode_blocks(blocks)
    table = pa.table(
        {
            "block_num": pa.array(cols["block_num"], pa.int64()),
            "block_id": pa.array(cols["block_id"], pa.string()),
            "value": pa.array(cols["value"], pa.binary()),
        }
    )
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)
