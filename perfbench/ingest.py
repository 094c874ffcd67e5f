"""The ``live`` workload: a seeded ``DatabaseChanges`` stream driven
through the engine's public ingest API — a backfill catch-up through
the streaming file source, then head-of-chain blocks — checked against
the independent reference sink."""

from __future__ import annotations

import os
import statistics
import time

from perfbench import cdc
from perfbench.harness import SETUP_REPS, dir_bytes
from perfbench.reference import ReferenceSink

#: Reference historical flush size (sinker/sinker.go:19-22): one spool
#: file, and so one catch-up epoch, per 1000 blocks.
BLOCKS_PER_FILE = 1000
#: Spool files the catch-up reads before the live loop, one epoch each.
#: The first epoch is the process's first, cold one and counts as
#: set-up; the later, warm ones are timed as the catch-up rate.
CATCHUP_FILES = 2
#: Upper bound on live blocks generated for one run.
LIVE_MAX_BLOCKS = 400
#: Live blocks a run measures at the least, whatever the run time: the
#: first block after the catch-up is the slowest, and with two blocks
#: the median would average it in.
LIVE_MIN_BLOCKS = 3

RAW_SCHEMA = "block_num long, block_id string, value binary"


def open_engine(spark, root: str):
    """An Engine + pipeline over the warehouse and checkpoints at ``root``."""
    from substreams_sink_clickhouse_spark.config import EngineConfig
    from substreams_sink_clickhouse_spark.engine import Engine

    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=os.path.join(root, "warehouse"),
            checkpoint_dir=os.path.join(root, "checkpoints"),
        ),
    )
    return eng, eng.pipeline(cdc.catalog())


def state_rows(eng, table: str) -> set[tuple]:
    """Visible rows of a sunk table, typed like the reference's."""
    schema = cdc.SCHEMAS[table]
    cols = [
        f"CAST(`{f.name}` AS LONG)" if f.dataType.simpleString() == "timestamp" else f"`{f.name}`"
        for f in schema.fields
    ]
    arrow = eng.table(table).selectExpr(*cols).toArrow()
    return set(zip(*[c.to_pylist() for c in arrow.columns])) if arrow.num_rows else set()


def check_state(eng, ref: ReferenceSink) -> list[str]:
    """Mismatches between the engine's committed state and cursor and
    the reference sink (empty when they agree)."""
    problems = []
    for table in cdc.SCHEMAS:
        got, want = state_rows(eng, table), ref.rows(table)
        if got != want:
            problems.append(
                f"{table}: {len(got - want)} unexpected rows, {len(want - got)} missing"
            )
    cursor = eng.cursor("default")
    if cursor is None or cursor.block_num != ref.cursor_block:
        problems.append(
            f"cursor block {getattr(cursor, 'block_num', None)} != {ref.cursor_block}"
        )
    return problems


def lookup_key(ref: ReferenceSink, changes) -> str | None:
    """An ``accounts`` key the block wrote that is still live."""
    live = ref.state["accounts"]
    for c in reversed(changes):
        if c["table"] == "accounts" and c["pk"] in live:
            return c["pk"]
    return None


def user_bytes(ref: ReferenceSink) -> int:
    """Serialized size of the final visible rows: the bytes a user
    stored, counted as the UTF-8 text of every non-null value."""
    return sum(
        len(str(v).encode()) for t in ref.state for row in ref.state[t].values()
        for v in row if v is not None
    )


class Live:
    """First a catch-up from a spool of 1000-block files, one epoch per
    file, tailed by ``ChangesIngestPipeline.start_protobuf`` with
    ``max_files_per_trigger=1``: the first epoch is the process's cold
    one and counts as set-up, the later ones are timed.  Then the head
    of chain: one block per epoch, decoded with
    ``decode_database_changes_protobuf_pure`` and committed with
    ``process_batch`` — the body ``start_protobuf`` runs, without the
    trigger's polling wait.  After every commit the views are
    re-registered from ``Engine.table`` and two ClickHouse-dialect reads
    run: a point lookup of a key the block wrote and a scan aggregate;
    both are checked against the reference."""

    LOOKUP = "SELECT owner, balance, nonce, toUnixTimestamp(updated_at) AS ts, frozen FROM accounts WHERE id = '{pk}'"
    SCAN = "SELECT count() AS n, sum(balance) AS total FROM accounts"

    def __init__(self, spark, seed: int, run_dir: str, tracer):
        self.spark, self.run_dir, self.tracer = spark, run_dir, tracer
        stream = cdc.ChangeStream(seed)
        self.files = [stream.blocks(BLOCKS_PER_FILE) for _ in range(CATCHUP_FILES)]
        self.blocks = stream.blocks(LIVE_MAX_BLOCKS)
        self.payloads = cdc.encode_blocks(self.blocks)["value"]
        self.ref = ReferenceSink(cdc.SCHEMAS)
        for blocks in self.files:
            self.ref.flush(blocks)
        self.root = os.path.join(run_dir, "live")
        self.spool = os.path.join(run_dir, "spool")
        os.makedirs(self.spool)
        for i, blocks in enumerate(self.files):
            cdc.write_spool_file(os.path.join(self.spool, f"spool-{i:08d}.parquet"), blocks)
        self.catchup_epochs: list[float] = []
        self.catchup_changes = [sum(len(b[2]) for b in f) for f in self.files]
        self.next = 0
        self.cycles: list[float] = []
        self.commits: list[float] = []
        self.lookups: list[float] = []
        self.scans: list[float] = []
        self.refresh: list[float] = []
        self.changes = 0
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.eng = self.pipe = None
        self.storage_ratio = 0.0
        self.traced_changes = self.traced_rows_returned = 0
        self.final_store = None

    def prepare(self) -> tuple[float, list[float]]:
        """Program-side preparation: the catch-up through the stream
        (once; its warm epochs are timed apart and left out of the
        returned once-time), then an Engine and pipeline opened over the
        warehouse (repeated); the last one serves the live loop."""
        t0 = time.perf_counter()
        _eng, pipe = open_engine(self.spark, self.root)
        marks: list[float] = []
        pipe.on_batch = lambda _epoch, _n: marks.append(time.perf_counter())
        with self.tracer.span("op.catchup"):
            query = pipe.start_protobuf(self.spool, max_files_per_trigger=1)
            query.awaitTermination()
        self.catchup_epochs = [b - a for a, b in zip([t0] + marks, marks)]
        once = time.perf_counter() - t0 - sum(self.catchup_epochs[1:])
        self.attempted += len(self.files)
        if query.exception() is not None or len(marks) != len(self.files):
            raise RuntimeError(
                f"catch-up committed {len(marks)} of {len(self.files)} epochs: {query.exception()}"
            )
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.eng, self.pipe = open_engine(self.spark, self.root)
            self.pipe.state.read_manifest()
            reps.append(time.perf_counter() - t0)
        problems = check_state(self.eng, self.ref)
        if problems:
            raise RuntimeError(f"catch-up state differs from the reference: {problems}")
        return once, reps

    def _check_reads(self, num: int, pk, got, scan) -> None:
        """The lookup returns the row just committed; the scan's count
        and sum match the reference."""
        self.attempted += 1 if pk is None else 2
        bad = []
        if pk is not None:
            row = self.ref.state["accounts"][pk]
            want = [(row[1], row[2], row[3], row[4], row[5])]
            if [tuple(r) for r in got] != want:
                bad.append(f"block {num}: lookup {pk} returned {got}, want {want}")
        rows = self.ref.state["accounts"].values()
        want_scan = (len(rows), sum(r[2] for r in rows if r[2] is not None))
        if tuple(scan[0]) != want_scan:
            bad.append(f"block {num}: scan returned {tuple(scan[0])}, want {want_scan}")
        self.problems += bad
        self.failed += len(bad)

    def _block(self) -> None:
        from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
            decode_database_changes_protobuf_pure,
        )

        i = self.next
        self.next += 1
        num, bid, changes = self.blocks[i]
        raw = self.spark.createDataFrame([(num, bid, self.payloads[i])], RAW_SCHEMA)
        self.ref.flush([self.blocks[i]])
        pk = lookup_key(self.ref, changes)
        eng, tr = self.eng, self.tracer
        t0 = time.perf_counter()
        with tr.span("op.live_block"):
            with tr.span("live.commit"):
                self.pipe.process_batch(
                    decode_database_changes_protobuf_pure(raw), len(self.files) + i
                )
            t1 = time.perf_counter()
            with tr.span("engine.view_refresh"):
                for name in cdc.SCHEMAS:
                    eng.table(name).createOrReplaceTempView(name)
            t2 = time.perf_counter()
            with tr.span("live.lookup"):
                got = eng.sql(self.LOOKUP.format(pk=pk), dialect="clickhouse").collect() if pk else None
            t3 = time.perf_counter()
            with tr.span("live.scan"):
                scan = eng.sql(self.SCAN, dialect="clickhouse").collect()
            t4 = time.perf_counter()
        self.attempted += 1
        self.cycles.append(t4 - t0)
        self.commits.append(t1 - t0)
        self.refresh.append(t2 - t1)
        self.lookups.append(t3 - t1)
        self.scans.append(t4 - t3)
        self.changes += len(changes)
        if self.tracer.active:
            self.traced_changes += len(changes)
            self.traced_rows_returned += len(scan) + (len(got) if pk else 0)
        self._check_reads(num, pk, got, scan)

    def measure(self, deadline: float) -> None:
        """Closed loop, one block at a time, until ``deadline`` and at
        least ``LIVE_MIN_BLOCKS`` blocks."""
        start = len(self.cycles)
        while self.next < len(self.blocks):
            self._block()
            if (time.perf_counter() >= deadline
                    and len(self.cycles) - start >= LIVE_MIN_BLOCKS):
                return

    def finish(self) -> None:
        """Full-state and cursor check after the last block (untimed)."""
        self.attempted += 1
        problems = check_state(self.eng, self.ref)
        if problems:
            self.failed += 1
            self.problems += problems
        # on-disk warehouse: data, deletion vectors, history, cursors, manifest
        self.storage_ratio = (
            dir_bytes(os.path.join(self.root, "warehouse")) / user_bytes(self.ref)
        )
        self.final_store = self.pipe.state

    def results(self) -> dict:
        from perfbench.harness import summary

        c, lk, sc = summary(self.commits), summary(self.lookups), summary(self.scans)
        warm_changes = sum(self.catchup_changes[1:])
        warm_s = sum(self.catchup_epochs[1:])
        return {
            "ops": self.cycles,
            "trace_ops": self.cycles,
            # the warm catch-up epochs: streaming source, wire decode,
            # 1000-block fold and bucket writes, which the live loop
            # barely exercises
            "rate": warm_changes / warm_s,
            "detail": {
                "catchup_cold_epoch_s": (self.catchup_epochs[0], "s"),
                "catchup_warm_epoch_s": (statistics.median(self.catchup_epochs[1:]), "s"),
                "catchup_changes_per_s": (warm_changes / warm_s, "changes/s"),
                "live_changes_per_s": (self.changes / sum(self.cycles), "changes/s"),
                "commit_p50_s": (c["p50"], "s"),
                "commit_tail_s": (c["tail"], "s"),
                "commit_tail_pct": (c["tail_pct"], "percentile"),
                "lookup_p50_s": (lk["p50"], "s"),
                "lookup_tail_s": (lk["tail"], "s"),
                "scan_p50_s": (sc["p50"], "s"),
                "scan_tail_s": (sc["tail"], "s"),
                "view_refresh_p50_s": (summary(self.refresh)["p50"], "s"),
                "blocks": (len(self.cycles), "count"),
                "storage_bytes_per_user_byte": (self.storage_ratio, "ratio"),
            },
        }
