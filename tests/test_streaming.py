"""End-to-end streaming ingest tests (SURVEY §5 items 3 and 5):
synthetic DatabaseChanges stream → pipeline → final table state vs
golden, plus restart/recovery with no loss and no duplicate
application."""

import json
import os

import pytest
from pyspark.sql import types as T

from substreams_sink_clickhouse_spark.catalog import BLOCK_META_SCHEMA, Catalog, TableInfo
from substreams_sink_clickhouse_spark.streaming.cursors import (
    Cursor,
    CursorStore,
    ModuleHashMismatch,
)
from substreams_sink_clickhouse_spark.streaming.pipeline import (
    ChangesIngestPipeline,
    TableStateStore,
)


def _msg(block_num, changes):
    return json.dumps(
        {
            "block_num": block_num,
            "block_id": f"0x{block_num:04x}",
            "table_changes": [
                {
                    "table": t,
                    "pk": pk,
                    "ordinal": ordinal,
                    "operation": op,
                    "fields": [
                        {"name": n, "new_value": v, "old_value": None}
                        for n, v in (fields or {}).items()
                    ],
                }
                for (t, pk, ordinal, op, fields) in changes
            ],
        }
    )


@pytest.fixture()
def block_meta_catalog():
    cat = Catalog()
    cat.register(TableInfo("block_meta", BLOCK_META_SCHEMA, "id"))
    return cat


def _pipeline(spark, catalog, tmp_path, name="p"):
    return ChangesIngestPipeline(
        spark,
        catalog,
        warehouse_dir=str(tmp_path / f"{name}_warehouse"),
        checkpoint_dir=str(tmp_path / f"{name}_ckpt"),
        module_hash="mod-hash-1",
    )


def test_end_to_end_block_meta(spark, tmp_path, block_meta_catalog):
    """F1-style replay into the reference's example table
    (/root/reference/devel/schema.sql:1-12)."""
    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    (stream_dir / "b1.jsonl").write_text(
        "\n".join(
            [
                _msg(1, [("block_meta", "day:20240101", 1, "CREATE",
                          {"at": "2024-01-01", "number": "100", "hash": "0xaa",
                           "parent_hash": "0x99", "timestamp": "1704067200"})]),
                _msg(2, [("block_meta", "day:20240101", 1, "UPDATE",
                          {"number": "101", "hash": "0xbb"}),
                         ("block_meta", "day:20240102", 2, "CREATE",
                          {"at": "2024-01-02", "number": "200", "hash": "0xcc",
                           "parent_hash": "0xaa", "timestamp": "1704153600"})]),
            ]
        )
    )
    pipe = _pipeline(spark, block_meta_catalog, tmp_path)
    pipe.run_to_completion(str(stream_dir))

    rows = {r["id"]: r for r in pipe.table("block_meta").collect()}
    assert set(rows) == {"day:20240101", "day:20240102"}
    r1 = rows["day:20240101"]
    # UPDATE merged onto CREATE: number/hash overwritten, rest kept
    assert (r1["number"], r1["hash"], r1["parent_hash"]) == (101, "0xbb", "0x99")
    # unix-seconds coercion into TimestampType (db/operations.go:167-180)
    assert r1["timestamp"].year == 2024

    cursor = pipe.cursors.get_cursor("mod-hash-1")
    assert cursor is not None and cursor.block_num == 2


def test_restart_recovery_no_duplicates(spark, tmp_path, block_meta_catalog):
    """Kill between flushes → resume from checkpoint: second run only
    processes new files; re-running with no new data is a no-op
    (semantics of db/flush.go:52-58 + sinker.go:55-68)."""
    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    (stream_dir / "b1.jsonl").write_text(
        _msg(1, [("block_meta", "k1", 1, "CREATE", {"number": "1"})])
    )
    pipe = _pipeline(spark, block_meta_catalog, tmp_path)
    pipe.run_to_completion(str(stream_dir))
    assert pipe.table("block_meta").count() == 1
    flushes_after_first = pipe.stats["flush_count"]

    # new data arrives; a NEW pipeline instance resumes from checkpoint
    (stream_dir / "b2.jsonl").write_text(
        _msg(2, [("block_meta", "k2", 1, "CREATE", {"number": "2"}),
                 ("block_meta", "k1", 2, "UPDATE", {"number": "11"})])
    )
    pipe2 = _pipeline(spark, block_meta_catalog, tmp_path)
    pipe2.run_to_completion(str(stream_dir))
    rows = {r["id"]: r["number"] for r in pipe2.table("block_meta").collect()}
    assert rows == {"k1": 11, "k2": 2}

    # replay with nothing new: state unchanged
    pipe3 = _pipeline(spark, block_meta_catalog, tmp_path)
    pipe3.run_to_completion(str(stream_dir))
    rows3 = {r["id"]: r["number"] for r in pipe3.table("block_meta").collect()}
    assert rows3 == rows
    assert flushes_after_first == 1


def test_epoch_replay_is_idempotent(spark, tmp_path, block_meta_catalog, changes_df):
    """Direct foreachBatch replay of an already-committed epoch is a
    no-op (the manifest is the commit point)."""
    pipe = _pipeline(spark, block_meta_catalog, tmp_path)
    batch = changes_df([(1, "0x1", 1, "block_meta", "k1", "CREATE", {"number": "5"})])
    pipe.process_batch(batch, epoch_id=0)
    assert pipe.table("block_meta").count() == 1
    pipe.process_batch(batch, epoch_id=0)  # replay
    assert pipe.table("block_meta").count() == 1
    assert pipe.stats["flush_count"] == 1


def test_cursor_store_roundtrip_and_mismatch(spark, tmp_path):
    store = CursorStore(TableStateStore(spark, str(tmp_path / "wh"), Catalog()))
    assert store.get_cursor("h1") is None
    store.write_cursor(Cursor("h1", "c1", 10, "0xa"))
    store.write_cursor(Cursor("h2", "c2", 20, "0xb"))
    store.write_cursor(Cursor("h1", "c1b", 15, "0xc"))  # upsert
    assert store.get_cursor("h1").block_num == 15
    # mismatch policies (db/cursor.go:48-101)
    with pytest.raises(ModuleHashMismatch):
        store.get_cursor("h3", on_mismatch="error")
    assert store.get_cursor("h3", on_mismatch="ignore") is None
    assert store.get_cursor("h3", on_mismatch="warn").id == "h2"  # highest block
    store.delete_cursor("h2")
    assert store.get_cursor("h2", on_mismatch="ignore") is None


def test_delete_cursor_forgets_the_module_epoch(spark, tmp_path):
    """Deleting a cursor restarts its module from scratch: the epoch it
    had committed goes too, so a fresh checkpoint's epoch 0 applies,
    and another module's cursor and epoch are untouched."""
    state = TableStateStore(spark, str(tmp_path / "wh"), Catalog())
    state.commit_epoch(3, {}, Cursor.for_epoch("h1", 3, 10, "0xa"))
    state.commit_epoch(0, {}, Cursor.for_epoch("h2", 0, 12, "0xb"))
    store = CursorStore(state)
    assert state.epoch_applied("h1", 0) and state.epoch_applied("h1", 3)
    store.delete_cursor("h1")
    assert not state.epoch_applied("h1", 0)
    assert state.epoch_applied("h2", 0) and list(store.all_cursors()) == ["h2"]
    store.delete_all()
    assert not state.epoch_applied("h2", 0) and store.all_cursors() == {}


def test_crash_at_manifest_swap_commits_nothing(
    spark, tmp_path, block_meta_catalog, changes_df, monkeypatch
):
    """The manifest replace is an epoch's only durable metadata write:
    a crash there leaves the tables, the cursor and its epoch
    unchanged, and replaying the epoch matches a run with no crash."""
    epochs = [
        [(1, "0x1", 1, "block_meta", "k1", "CREATE", {"number": "1"}),
         (1, "0x1", 2, "block_meta", "k2", "CREATE", {"number": "2"})],
        [(2, "0x2", 1, "block_meta", "k1", "UPDATE", {"number": "11"}),
         (2, "0x2", 2, "block_meta", "k2", "DELETE", {})],
    ]

    def committed(pipe):
        return (
            sorted((r["id"], r["number"]) for r in pipe.table("block_meta").collect()),
            pipe.state.read_manifest()["cursors"]["mod-hash-1"]["epoch"],
            pipe.cursors.get_cursor("mod-hash-1"),
        )

    clean = _pipeline(spark, block_meta_catalog, tmp_path, name="clean")
    for epoch_id, rows in enumerate(epochs):
        clean.process_batch(changes_df(rows), epoch_id=epoch_id)

    pipe = _pipeline(spark, block_meta_catalog, tmp_path, name="crash")
    pipe.process_batch(changes_df(epochs[0]), epoch_id=0)
    before = committed(pipe)
    real_write = TableStateStore._write_manifest
    writes = []

    def crash_once(self, manifest):
        writes.append(manifest)
        if len(writes) == 1:
            raise OSError("crash at the manifest swap")
        real_write(self, manifest)

    monkeypatch.setattr(TableStateStore, "_write_manifest", crash_once)
    with pytest.raises(OSError, match="crash at the manifest swap"):
        pipe.process_batch(changes_df(epochs[1]), epoch_id=1)
    assert committed(pipe) == before
    pipe.process_batch(changes_df(epochs[1]), epoch_id=1)  # replay
    assert len(writes) == 2  # one metadata write per commit attempt
    assert committed(pipe) == committed(clean)
    assert committed(pipe)[2].block_num == 2
    assert not os.path.exists(os.path.join(pipe.state.warehouse_dir, "cursors"))


def test_unknown_table_fails_stream_batch(spark, tmp_path, block_meta_catalog, changes_df):
    from substreams_sink_clickhouse_spark.errors import UnknownTableError

    pipe = _pipeline(spark, block_meta_catalog, tmp_path)
    batch = changes_df([(1, "0x1", 1, "mystery", "k", "CREATE", {"a": "1"})])
    with pytest.raises(UnknownTableError):
        pipe.process_batch(batch, epoch_id=0)


def test_merge_violation_fails_stream_batch(spark, tmp_path, block_meta_catalog, changes_df):
    """A semantically invalid window (duplicate CREATE per pk) must fail
    the batch — the inline guard raises from inside the commit write,
    BEFORE the manifest swap, so no state is committed."""
    pipe = _pipeline(spark, block_meta_catalog, tmp_path)
    batch = changes_df(
        [
            (1, "0x1", 1, "block_meta", "k1", "CREATE", {"number": "1"}),
            (1, "0x1", 2, "block_meta", "k1", "CREATE", {"number": "2"}),
        ]
    )
    with pytest.raises(Exception, match="invalid change sequence"):
        pipe.process_batch(batch, epoch_id=0)
    assert not pipe.state.epoch_applied("mod-hash-1", 0)
    assert pipe.table("block_meta").count() == 0


def test_multi_epoch_single_run(spark, tmp_path, block_meta_catalog):
    """maxFilesPerTrigger=1 forces one micro-batch per file within a
    single availableNow run: epochs sequence, later epochs fold onto
    earlier state, and the cursor lands on the last block."""
    import os
    import time as _time

    stream = tmp_path / "stream"
    stream.mkdir()
    files = [
        ("a.jsonl", _msg(1, [("block_meta", "k1", 1, "CREATE", {"number": "1"})])),
        ("b.jsonl", _msg(2, [("block_meta", "k1", 1, "UPDATE", {"number": "11"}),
                              ("block_meta", "k2", 2, "CREATE", {"number": "2"})])),
        ("c.jsonl", _msg(3, [("block_meta", "k2", 1, "DELETE", None)])),
    ]
    for i, (fname, text) in enumerate(files):
        p = stream / fname
        p.write_text(text)
        # FileStreamSource orders by modification time — pin it
        ts = 1_700_000_000 + i
        os.utime(p, (ts, ts))
        _time.sleep(0.01)
    pipe = _pipeline(spark, block_meta_catalog, tmp_path, name="multi")
    query = pipe.start(str(stream), max_files_per_trigger=1)
    query.awaitTermination(300)
    rows = {r["id"]: r["number"] for r in pipe.table("block_meta").collect()}
    assert rows == {"k1": 11}
    assert pipe.cursors.get_cursor("mod-hash-1").block_num == 3
    assert pipe.stats["flush_count"] == 3


# -- malformed payloads: fail / drop / dead-letter --------------------

def test_malformed_payload_fails_stream(spark, tmp_path, block_meta_catalog):
    """Reference decode contract: a payload that does not parse stops
    the sink (sinker.go:102-113)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    (stream_dir / "b1.jsonl").write_text(
        "\n".join(
            [
                _msg(1, [("block_meta", "k1", 1, "CREATE", {"number": "1"})]),
                "this is not a DatabaseChanges message",
            ]
        )
    )
    pipe = _pipeline(spark, block_meta_catalog, tmp_path, name="badfail")
    with pytest.raises(StreamingQueryException, match="malformed DatabaseChanges"):
        query = pipe.start(str(stream_dir))
        query.awaitTermination(120)
        query.processAllAvailable()


def test_malformed_payload_dead_letter(spark, tmp_path, block_meta_catalog):
    """With a dead-letter directory the stream continues, good rows
    commit, and the poison payload is preserved verbatim."""
    import os

    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    (stream_dir / "b1.jsonl").write_text(
        "\n".join(
            [
                _msg(1, [("block_meta", "k1", 1, "CREATE", {"number": "1"})]),
                '{"bad json',
                _msg(2, [("block_meta", "k2", 1, "CREATE", {"number": "2"})]),
            ]
        )
    )
    dlq = tmp_path / "dlq"
    pipe = ChangesIngestPipeline(
        spark,
        block_meta_catalog,
        warehouse_dir=str(tmp_path / "dl_warehouse"),
        checkpoint_dir=str(tmp_path / "dl_ckpt"),
        module_hash="mod-hash-1",
        dead_letter_dir=str(dlq),
    )
    pipe.run_to_completion(str(stream_dir))
    rows = {r["id"]: r["number"] for r in pipe.table("block_meta").collect()}
    assert rows == {"k1": 1, "k2": 2}
    epochs = [d for d in os.listdir(dlq) if d.startswith("epoch=")]
    assert epochs
    letters = spark.read.text(str(dlq / epochs[0])).collect()
    assert [r["value"] for r in letters] == ['{"bad json']


def test_malformed_payload_drop_mode(spark, tmp_path, block_meta_catalog):
    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    (stream_dir / "b1.jsonl").write_text(
        "\n".join(
            [
                _msg(1, [("block_meta", "k1", 1, "CREATE", {"number": "1"})]),
                "garbage",
            ]
        )
    )
    pipe = ChangesIngestPipeline(
        spark,
        block_meta_catalog,
        warehouse_dir=str(tmp_path / "drop_warehouse"),
        checkpoint_dir=str(tmp_path / "drop_ckpt"),
        module_hash="mod-hash-1",
        on_decode_error="drop",
    )
    pipe.run_to_completion(str(stream_dir))
    assert {r["id"] for r in pipe.table("block_meta").collect()} == {"k1"}


def test_end_to_end_protobuf_wire(spark, tmp_path, block_meta_catalog):
    """Same replay as test_end_to_end_block_meta but over the
    reference's BINARY wire format (serialized DatabaseChanges inside
    a BlockScopedData-shaped envelope), decoded by the pure-Python
    wire codec — the final table state must be identical."""
    from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
        encode_database_changes,
    )

    blocks = [
        (1, "0xb1", [
            {"table": "block_meta", "pk": "day:20240101", "ordinal": 1,
             "op": "CREATE",
             "fields": {"at": "2024-01-01", "number": "100", "hash": "0xaa",
                        "parent_hash": "0x99", "timestamp": "1704067200"}},
        ]),
        (2, "0xb2", [
            {"table": "block_meta", "pk": "day:20240101", "ordinal": 1,
             "op": "UPDATE", "fields": {"number": "101", "hash": "0xbb"}},
            {"table": "block_meta", "pk": "day:20240102", "ordinal": 2,
             "op": "CREATE",
             "fields": {"at": "2024-01-02", "number": "200", "hash": "0xcc",
                        "parent_hash": "0xaa", "timestamp": "1704153600"}},
        ]),
    ]
    wire_dir = tmp_path / "wire"
    spark.createDataFrame(
        [(bn, bid, bytearray(encode_database_changes(tcs))) for bn, bid, tcs in blocks],
        "block_num long, block_id string, value binary",
    ).write.parquet(str(wire_dir))

    pipe = _pipeline(spark, block_meta_catalog, tmp_path)
    pipe.run_protobuf_to_completion(str(wire_dir))

    rows = {r["id"]: r for r in pipe.table("block_meta").collect()}
    assert set(rows) == {"day:20240101", "day:20240102"}
    r1 = rows["day:20240101"]
    assert (r1["number"], r1["hash"], r1["parent_hash"]) == (101, "0xbb", "0x99")
    assert r1["timestamp"].year == 2024
    cursor = pipe.cursors.get_cursor("mod-hash-1")
    assert cursor is not None and cursor.block_num == 2


def test_run_with_retries_injected_failure_no_loss_no_dup(
    spark, tmp_path, block_meta_catalog
):
    """O1 liveness policy (the part the reference delegates to its
    substreams-sink lib, run.go:92-98): inject a failure AFTER the
    first epoch commits, let the supervisor restart with backoff, and
    prove the final state equals an uninterrupted run — no loss (all
    files applied), no duplication (idempotent epoch replay), cursor
    at the highest block."""
    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    (stream_dir / "b1.jsonl").write_text(
        _msg(1, [("block_meta", "k1", 1, "CREATE", {"number": "1"})])
    )
    (stream_dir / "b2.jsonl").write_text(
        _msg(2, [("block_meta", "k2", 1, "CREATE", {"number": "2"}),
                 ("block_meta", "k1", 2, "UPDATE", {"number": "11"})])
    )

    boom = {"armed": True}

    def explode_once(epoch_id, n_entries):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected post-commit failure")

    pipe = ChangesIngestPipeline(
        spark,
        block_meta_catalog,
        warehouse_dir=str(tmp_path / "rw_warehouse"),
        checkpoint_dir=str(tmp_path / "rw_ckpt"),
        module_hash="mod-hash-1",
        on_batch=explode_once,
    )
    restart_log = []
    restarts = pipe.run_with_retries(
        str(stream_dir),
        backoff_s=0.05,
        max_files_per_trigger=1,  # one epoch per file: failure lands mid-stream
        on_restart=lambda n, exc: restart_log.append(str(exc)),
    )

    assert restarts == 1
    assert "injected post-commit failure" in restart_log[0]
    rows = {r["id"]: r["number"] for r in pipe.table("block_meta").collect()}
    assert rows == {"k1": 11, "k2": 2}
    cursor = pipe.cursors.get_cursor("mod-hash-1")
    assert cursor is not None and cursor.block_num == 2


def test_run_with_retries_exhausts_and_raises(spark, tmp_path, block_meta_catalog):
    """A permanently failing stream (poison message under the
    reference's fail-on-decode contract) surfaces the error after
    max_restarts instead of looping forever."""
    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    (stream_dir / "b1.jsonl").write_text("this is not json\n")

    pipe = ChangesIngestPipeline(
        spark,
        block_meta_catalog,
        warehouse_dir=str(tmp_path / "rf_warehouse"),
        checkpoint_dir=str(tmp_path / "rf_ckpt"),
        module_hash="mod-hash-1",
        on_decode_error="fail",
    )
    restart_log = []
    with pytest.raises(Exception):
        pipe.run_with_retries(
            str(stream_dir),
            max_restarts=2,
            backoff_s=0.05,
            on_restart=lambda n, exc: restart_log.append(n),
        )
    assert restart_log == [1, 2]


def test_second_module_on_one_warehouse(spark, tmp_path, block_meta_catalog, changes_df):
    """A redeployed module (new hash) on the same warehouse keeps its
    own epoch progress: module B's epoch 0 commits after module A's
    epochs 0 and 1 — updating a key A wrote, as a deletion-vector
    sidecar, and creating a new key — and both cursors are right."""
    wh = str(tmp_path / "shared_wh")

    def pipe(mh):
        return ChangesIngestPipeline(
            spark, block_meta_catalog, warehouse_dir=wh,
            checkpoint_dir=str(tmp_path / f"{mh}_ckpt"), module_hash=mh,
        )

    a, b = pipe("mod-a"), pipe("mod-b")
    a.process_batch(changes_df([
        (1, "0x1", 1, "block_meta", "k1", "CREATE", {"number": "1"}),
        (1, "0x1", 2, "block_meta", "k2", "CREATE", {"number": "2"}),
    ]), epoch_id=0)
    a.process_batch(changes_df([
        (2, "0x2", 1, "block_meta", "k1", "UPDATE", {"number": "11"}),
    ]), epoch_id=1)
    b.process_batch(changes_df([
        (3, "0x3", 1, "block_meta", "k2", "UPDATE", {"number": "22"}),
        (3, "0x3", 2, "block_meta", "k3", "CREATE", {"number": "3"}),
    ]), epoch_id=0)

    def rows():
        return {r["id"]: r["number"] for r in b.table("block_meta").collect()}

    assert rows() == {"k1": 11, "k2": 22, "k3": 3}
    manifest = b.state.read_manifest()
    assert manifest["version"] == 3
    layers = [
        layer["version"]
        for v in manifest["tables"]["block_meta"]["buckets"].values()
        if isinstance(v, dict)
        for layer in v["files"]
    ]
    assert 2 in layers  # B's commit read version 2 and wrote a sidecar layer
    cursors = {mh: (c["epoch"], c["block_num"], c["block_id"])
               for mh, c in manifest["cursors"].items()}
    assert cursors == {"mod-a": (1, 2, "0x2"), "mod-b": (0, 3, "0x3")}
    assert b.state.epoch_applied("mod-b", 0) and not b.state.epoch_applied("mod-b", 1)
    b.state.vacuum(keep_epochs=0)
    assert rows() == {"k1": 11, "k2": 22, "k3": 3}


def _shape(x):
    """``x`` with every scalar replaced by None: equal shapes mean equal
    container sizes and keys all the way down."""
    if isinstance(x, dict):
        return {k: _shape(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_shape(v) for v in x]
    return None


def test_manifest_size_does_not_grow_with_epochs(
    spark, tmp_path, block_meta_catalog, changes_df
):
    """Per-epoch metadata is O(1) over an unbounded stream: after N
    epochs and ``vacuum(keep_epochs=1)`` the manifest has the same shape
    for N=2 and N=6 — no per-epoch list or map survives."""

    def manifest_after(n):
        pipe = ChangesIngestPipeline(
            spark, block_meta_catalog,
            warehouse_dir=str(tmp_path / f"n{n}_wh"),
            checkpoint_dir=str(tmp_path / f"n{n}_ckpt"),
            module_hash="mod-hash-1", write_mode="rewrite",
        )
        for epoch in range(n):
            op = "CREATE" if epoch == 0 else "UPDATE"
            pipe.process_batch(changes_df([
                (epoch + 1, f"0x{epoch + 1}", 1, "block_meta", "k1", op, {"number": str(epoch)}),
            ]), epoch_id=epoch)
        pipe.state.vacuum(keep_epochs=1)
        return pipe.state.read_manifest()

    short, long = manifest_after(2), manifest_after(6)
    assert _shape(long) == _shape(short)
    assert long["cursors"]["mod-hash-1"]["epoch"] == 5
