"""Engine facade + undo/rollback tests."""

import json

from substreams_sink_clickhouse_spark.catalog import BLOCK_META_SCHEMA, Catalog, TableInfo
from substreams_sink_clickhouse_spark.config import EngineConfig
from substreams_sink_clickhouse_spark.engine import Engine


def _msg(block_num, changes):
    return json.dumps(
        {
            "block_num": block_num,
            "block_id": f"0x{block_num:04x}",
            "table_changes": [
                {
                    "table": t,
                    "pk": pk,
                    "ordinal": o,
                    "operation": op,
                    "fields": [
                        {"name": n, "new_value": v, "old_value": None}
                        for n, v in (fields or {}).items()
                    ],
                }
                for (t, pk, o, op, fields) in changes
            ],
        }
    )


def _catalog():
    cat = Catalog()
    cat.register(TableInfo("block_meta", BLOCK_META_SCHEMA, "id"))
    return cat


def test_engine_ingest_then_sql(spark, tmp_path):
    stream = tmp_path / "changes"
    stream.mkdir()
    (stream / "b1.jsonl").write_text(
        "\n".join(
            _msg(i, [("block_meta", f"blk{i}", 1, "CREATE", {"number": str(i * 10)})])
            for i in (1, 2, 3)
        )
    )
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    eng.ingest(str(stream), _catalog())
    rows = eng.sql(
        "SELECT id, number FROM block_meta ORDER BY number DESC LIMIT 2"
    ).collect()
    assert [(r["id"], r["number"]) for r in rows] == [("blk3", 30), ("blk2", 20)]
    cursor = eng.cursor()
    assert cursor.block_num == 3


def test_engine_ingest_with_clickhouse_schema(spark, tmp_path):
    """The reference user's migration path end-to-end: their existing
    ClickHouse schema.sql builds the catalog, the same change stream
    ingests, Spark SQL answers the query."""
    ddl = """
    CREATE TABLE block_meta
    (
        id          String,
        PRIMARY KEY (id),
        at          String,
        number      Int32,
        hash        String,
        parent_hash String,
        timestamp   String
    )
    ENGINE = MergeTree()
    ORDER BY id
    """
    stream = tmp_path / "changes"
    stream.mkdir()
    (stream / "b1.jsonl").write_text(
        "\n".join(
            _msg(i, [("block_meta", f"blk{i}", 1, "CREATE", {"number": str(i * 10)})])
            for i in (1, 2)
        )
    )
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    catalog = eng.catalog_from_clickhouse_schema(ddl=ddl)
    eng.ingest(str(stream), catalog)
    rows = eng.sql("SELECT id, number FROM block_meta ORDER BY number").collect()
    assert [(r["id"], r["number"]) for r in rows] == [("blk1", 10), ("blk2", 20)]


def test_undo_rolls_back_to_fork_point(spark, tmp_path):
    """Versioned state makes reorg rollback a manifest edit — stronger
    than the reference's error-out stub (sinker.go:176-178)."""
    stream = tmp_path / "changes"
    stream.mkdir()
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    cat = _catalog()
    # epoch 0: blocks 1-2
    (stream / "b1.jsonl").write_text(
        "\n".join(
            [
                _msg(1, [("block_meta", "k1", 1, "CREATE", {"number": "1"})]),
                _msg(2, [("block_meta", "k2", 1, "CREATE", {"number": "2"})]),
            ]
        )
    )
    pipe = eng.ingest(str(stream), cat)
    # epoch 1: block 3 (will be orphaned by the reorg)
    (stream / "b2.jsonl").write_text(
        _msg(3, [("block_meta", "k3", 1, "CREATE", {"number": "3"}),
                 ("block_meta", "k1", 2, "UPDATE", {"number": "111"})])
    )
    eng.ingest(str(stream), cat)
    assert {r["id"]: r["number"] for r in pipe.table("block_meta").collect()} == {
        "k1": 111, "k2": 2, "k3": 3,
    }

    pipe.handle_block_undo_signal(last_valid_block=2)
    assert {r["id"]: r["number"] for r in pipe.table("block_meta").collect()} == {
        "k1": 1, "k2": 2,
    }
    # the cursor rewinds with the tables, so a restart resumes at the fork
    assert eng.cursor().block_num == 2
    # only snapshots at or below the fork block survive; the stream's
    # epoch stays, so a replay of the orphaned epoch 1 stays a no-op
    manifest = pipe.state.read_manifest()
    entry = manifest["tables"]["block_meta"]
    assert [h["block_num"] for h in entry["history"]] + [entry["block_num"]] == [2]
    assert manifest["cursors"]["default"]["epoch"] == 1


def test_undo_below_history_errors(spark, tmp_path):
    import pytest

    stream = tmp_path / "changes"
    stream.mkdir()
    (stream / "b1.jsonl").write_text(
        _msg(5, [("block_meta", "k1", 1, "CREATE", {"number": "1"})])
    )
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    pipe = eng.ingest(str(stream), _catalog())
    with pytest.raises(RuntimeError, match="re-sync"):
        pipe.handle_block_undo_signal(last_valid_block=1)


def test_vacuum_bounds_history(spark, tmp_path):
    """vacuum keeps the bucket dirs referenced by the live map +
    keep_epochs history snapshots and deletes older versions of
    rewritten buckets; the table stays readable."""
    import os

    stream = tmp_path / "changes"
    stream.mkdir()
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    cat = _catalog()
    # same pk every epoch -> every epoch rewrites the SAME bucket, so
    # superseded bucket versions accumulate deterministically
    (stream / "b1.jsonl").write_text(
        _msg(1, [("block_meta", "k1", 1, "CREATE", {"number": "1"})])
    )
    pipe = eng.ingest(str(stream), cat)
    for i in (2, 3, 4):
        (stream / f"b{i}.jsonl").write_text(
            _msg(i, [("block_meta", "k1", 1, "UPDATE", {"number": str(i)})])
        )
        pipe = eng.ingest(str(stream), cat)
    manifest = pipe.state.read_manifest()
    assert len(manifest["tables"]["block_meta"]["history"]) == 3
    deleted = pipe.state.vacuum(keep_epochs=1)
    # with deletion-vector commits the UPDATE epochs append sidecar
    # layers (live state still references every data layer), so vacuum
    # reclaims only the superseded deletion-vector version here —
    # bulk reclaim happens after compaction below
    assert len(deleted) == 1
    assert all(not os.path.isdir(p) for p in deleted)
    manifest = pipe.state.read_manifest()
    assert len(manifest["tables"]["block_meta"]["history"]) == 1
    rows = pipe.table("block_meta").collect()
    assert [(r["id"], r["number"]) for r in rows] == [("k1", 4)]
    # OPTIMIZE compacts the sidecar layers to one file; a follow-up
    # vacuum then reclaims every superseded data layer + dv
    pipe.state.optimize("block_meta")
    deleted = pipe.state.vacuum(keep_epochs=0)
    assert len(deleted) >= 3
    entry = pipe.state.read_manifest()["tables"]["block_meta"]
    assert all(v is None or isinstance(v, str) for v in entry["buckets"].values())
    rows = pipe.table("block_meta").collect()
    assert [(r["id"], r["number"]) for r in rows] == [("k1", 4)]


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    """The bounded merge-on-write contract: an epoch must carry
    untouched pk-buckets forward BY REFERENCE (same path), rewriting
    only the buckets its window touched."""
    stream = tmp_path / "changes"
    stream.mkdir()
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    cat = _catalog()
    # epoch 0: many keys spread over several buckets
    (stream / "b1.jsonl").write_text(
        "\n".join(
            _msg(i, [("block_meta", f"k{i}", 1, "CREATE", {"number": str(i)})])
            for i in range(1, 9)
        )
    )
    pipe = eng.ingest(str(stream), cat)
    before = dict(pipe.state.read_manifest()["tables"]["block_meta"]["buckets"])
    touched = int(
        spark.range(1)
        .select(pipe.state.bucket_expr("id").alias("b"))
        .selectExpr("pmod(xxhash64(cast('k1' as string)), 16) as b")
        .collect()[0]["b"]
    )
    # epoch 1: update ONLY k1 -> only k1's bucket may change
    (stream / "b2.jsonl").write_text(
        _msg(9, [("block_meta", "k1", 1, "UPDATE", {"number": "999"})])
    )
    pipe = eng.ingest(str(stream), cat)
    after = dict(pipe.state.read_manifest()["tables"]["block_meta"]["buckets"])
    assert after[str(touched)] != before.get(str(touched))
    unchanged = {b: p for b, p in before.items() if b != str(touched)}
    for b, p in unchanged.items():
        assert after[b] == p, f"bucket {b} was rewritten without being touched"
    # data is intact
    rows = {r["id"]: r["number"] for r in pipe.table("block_meta").collect()}
    assert rows["k1"] == 999 and len(rows) == 8


def test_time_travel_read(spark, tmp_path):
    """table_state_as_of reads a prior epoch's state off the snapshot
    history — free time travel within vacuum retention."""
    import pytest

    stream = tmp_path / "changes"
    stream.mkdir()
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    cat = _catalog()
    (stream / "b1.jsonl").write_text(
        _msg(1, [("block_meta", "k1", 1, "CREATE", {"number": "1"})])
    )
    pipe = eng.ingest(str(stream), cat)
    (stream / "b2.jsonl").write_text(
        _msg(2, [("block_meta", "k1", 1, "UPDATE", {"number": "2"})])
    )
    pipe = eng.ingest(str(stream), cat)
    now = {r["id"]: r["number"] for r in pipe.state.table_state("block_meta").collect()}
    old = {r["id"]: r["number"] for r in pipe.state.table_state_as_of("block_meta", 0).collect()}
    assert now == {"k1": 2}
    assert old == {"k1": 1}
    pipe.state.vacuum(keep_epochs=0)
    with pytest.raises(ValueError, match="vacuumed"):
        pipe.state.table_state_as_of("block_meta", 0)


def test_query_cache_invalidates_on_external_table_change(spark, tmp_path):
    """use_query_cache must not serve stale results after an external
    (register_external) table's file changes — round-2 advisory: the
    epoch fingerprint now folds in external paths' mtimes."""
    import os
    import time

    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    pq = str(tmp_path / "ext.parquet")
    spark.range(5).write.mode("overwrite").parquet(pq)
    eng.register_external("ext_t", pq)
    q = "SELECT count(*) AS n FROM ext_t"
    assert eng.sql(q, use_query_cache=True).collect()[0]["n"] == 5
    # second call is a cache hit (same fingerprint, same DF object)
    df2 = eng.sql(q, use_query_cache=True)
    assert df2.collect()[0]["n"] == 5
    # rewrite the external data; mtime bump must invalidate
    time.sleep(0.05)
    spark.range(9).write.mode("overwrite").parquet(pq)
    os.utime(pq)
    eng.register_external("ext_t", pq)  # re-register the new snapshot
    assert eng.sql(q, use_query_cache=True).collect()[0]["n"] == 9


def test_asof_sql_and_block_resolution(spark, tmp_path):
    """Engine.sql FOR SYSTEM_TIME AS OF: block-number resolution via
    cursor provenance (default unit), VERSION unit, table_as_of arg
    validation, and the pre-history error."""
    import pytest

    stream = tmp_path / "changes"
    stream.mkdir()
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    cat = _catalog()
    (stream / "b1.jsonl").write_text(
        _msg(5, [("block_meta", "k1", 1, "CREATE", {"number": "1"})])
    )
    pipe = eng.ingest(str(stream), cat)
    (stream / "b2.jsonl").write_text(
        _msg(9, [("block_meta", "k1", 1, "UPDATE", {"number": "2"})])
    )
    pipe = eng.ingest(str(stream), cat)

    def vals(df):
        return {r["id"]: r["number"] for r in df.collect()}

    # block 5 (exact cursor) and block 7 (inside the gap) both resolve
    # to the first epoch; block 9 sees the update
    for blk, want in ((5, 1), (7, 1), (9, 2)):
        got = vals(eng.sql(
            f"SELECT id, number FROM block_meta FOR SYSTEM_TIME AS OF {blk}"
        ))
        assert got == {"k1": want}, (blk, got)
    # explicit units
    assert vals(eng.sql(
        "SELECT id, number FROM block_meta FOR SYSTEM_TIME AS OF VERSION 0"
    )) == {"k1": 1}
    assert vals(eng.sql(
        "SELECT id, number FROM block_meta FOR SYSTEM_TIME AS OF BLOCK 9"
    )) == {"k1": 2}
    # API argument contract
    assert vals(eng.table_as_of("block_meta", block=5)) == {"k1": 1}
    with pytest.raises(ValueError, match="exactly one"):
        eng.table_as_of("block_meta")
    with pytest.raises(ValueError, match="exactly one"):
        eng.table_as_of("block_meta", version=0, block=5)
    with pytest.raises(ValueError, match="unknown sunk table"):
        eng.table_as_of("nope", block=5)
    # a block before the first commit has no snapshot to serve
    with pytest.raises(ValueError, match="no committed epoch"):
        eng.sql("SELECT * FROM block_meta FOR SYSTEM_TIME AS OF 4")
    # SYSTEM_TIME-shaped TEXT inside a string literal is opaque: no
    # rewrite, no raise for the unknown table named in prose, and no
    # spurious __asof_* temp view registered as a side effect
    row = eng.sql(
        "SELECT 'nope FOR SYSTEM_TIME AS OF 4' AS s, id "
        "FROM block_meta FOR SYSTEM_TIME AS OF 9"
    ).collect()[0]
    assert row["s"] == "nope FOR SYSTEM_TIME AS OF 4" and row["id"] == "k1"
    assert not any(
        "asof_nope" in t.name for t in spark.catalog.listTables()
    )


def test_explain_statement_parity(spark, tmp_path):
    """ClickHouse EXPLAIN routes: SYNTAX returns the translated Spark
    SQL, default/PLAN returns Spark's formatted physical plan, AST
    raises with guidance, and non-EXPLAIN queries are untouched."""
    import pytest

    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string") \
        .createOrReplaceTempView("exp_t")
    syn = eng.sql(
        "EXPLAIN SYNTAX SELECT toInt64(id) AS v FROM exp_t", dialect="clickhouse"
    )
    text = "\n".join(r["explain"] for r in syn.collect())
    assert "CAST(id AS BIGINT)" in text, text
    plan = eng.sql(
        "EXPLAIN SELECT count() AS n FROM exp_t", dialect="clickhouse"
    ).collect()
    joined = "\n".join(r[0] for r in plan)
    assert "HashAggregate" in joined or "Aggregate" in joined, joined[:500]
    with pytest.raises(ValueError, match="EXPLAIN AST"):
        eng.sql("EXPLAIN AST SELECT 1 FROM exp_t", dialect="clickhouse")
    # a column literally named explain must not trigger the route
    n = eng.sql("SELECT count() AS explain FROM exp_t", dialect="clickhouse")
    assert n.collect()[0][0] == 2
    # EXPLAIN SYNTAX shows which ASOF translation shape a query took:
    # plain-column ON -> the bounded union+window (__asof_w), general
    # expressions -> the fan-out fallback (__asof_rn)
    spark.createDataFrame([(1, 2)], "k int, t int") \
        .createOrReplaceTempView("exp_b")
    syn = eng.sql(
        "EXPLAIN SYNTAX SELECT a.id AS id, b.t AS bt FROM exp_t a "
        "ASOF JOIN exp_b b ON a.id = b.k AND a.id >= b.t",
        dialect="clickhouse",
    )
    text = "\n".join(r["explain"] for r in syn.collect())
    assert "__asof_w" in text and "__asof_rn" not in text, text
    syn = eng.sql(
        "EXPLAIN SYNTAX SELECT a.id AS id, b.t AS bt FROM exp_t a "
        "ASOF JOIN exp_b b ON a.id = b.k AND a.id >= b.t + 0",
        dialect="clickhouse",
    )
    text = "\n".join(r["explain"] for r in syn.collect())
    assert "__asof_rn" in text and "__asof_w" not in text, text


def test_undo_cursor_carries_fork_block_id(spark, tmp_path):
    """A reorg rollback rewinds the cursor to the surviving snapshot's
    block number AND id, both recorded with the snapshot."""
    stream = tmp_path / "changes"
    stream.mkdir()
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    cat = _catalog()
    for block in (4, 7):
        (stream / f"b{block}.jsonl").write_text(
            _msg(block, [("block_meta", "k1", 1, "CREATE" if block == 4 else "UPDATE",
                          {"number": str(block)})])
        )
        pipe = eng.ingest(str(stream), cat)
    assert (eng.cursor().block_num, eng.cursor().block_id) == (7, "0x0007")
    pipe.handle_block_undo_signal(last_valid_block=5)
    assert (eng.cursor().block_num, eng.cursor().block_id) == (4, "0x0004")
    assert eng.table_as_of("block_meta", block=5).collect()[0]["number"] == 4


def test_asof_block_ignores_maintenance_on_another_table(spark, tmp_path):
    """A maintenance commit keeps its table's block, so a block read of
    another table still resolves to that table's own snapshot at the
    block, and a version read after the maintenance commit sees the
    state at that version."""
    stream = tmp_path / "changes"
    stream.mkdir()
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    cat = _catalog()
    cat.register(TableInfo("block_meta_x", BLOCK_META_SCHEMA, "id"))
    (stream / "b1.jsonl").write_text(_msg(1, [
        ("block_meta", "k1", 1, "CREATE", {"number": "1"}),
        ("block_meta_x", "x1", 2, "CREATE", {"number": "1"}),
    ]))
    eng.ingest(str(stream), cat)
    (stream / "b5.jsonl").write_text(
        _msg(5, [("block_meta", "k1", 1, "UPDATE", {"number": "5"})])
    )
    pipe = eng.ingest(str(stream), cat)
    eng.optimize("block_meta_x")

    def vals(df):
        return {r["id"]: r["number"] for r in df.collect()}

    assert vals(eng.table_as_of("block_meta", block=3)) == {"k1": 1}
    assert vals(eng.sql(
        "SELECT id, number FROM block_meta FOR SYSTEM_TIME AS OF BLOCK 3"
    )) == {"k1": 1}
    assert vals(eng.table_as_of("block_meta", block=5)) == {"k1": 5}
    assert vals(eng.table_as_of("block_meta_x", block=3)) == {"x1": 1}
    opt_version = pipe.state.read_manifest()["tables"]["block_meta_x"]["version"]
    assert opt_version == 2
    assert vals(eng.sql(
        f"SELECT id, number FROM block_meta FOR SYSTEM_TIME AS OF VERSION {opt_version}"
    )) == {"k1": 5}
    assert vals(eng.table_as_of("block_meta", version=0)) == {"k1": 1}


def test_sql_reads_epochs_committed_after_ingest(spark, tmp_path):

    """Engine.sql re-registers the sunk-table views once the manifest
    version moves, so an epoch committed after ``ingest`` returned (or
    a maintenance commit) is visible to SQL, not only to ``table``."""
    stream = tmp_path / "changes"
    stream.mkdir()
    eng = Engine(
        spark,
        EngineConfig(
            warehouse_dir=str(tmp_path / "wh"), checkpoint_dir=str(tmp_path / "ckpt")
        ),
    )
    cat = _catalog()
    (stream / "b1.jsonl").write_text(
        _msg(1, [("block_meta", "k1", 1, "CREATE", {"number": "1"})])
    )
    pipe = eng.ingest(str(stream), cat)
    (stream / "b2.jsonl").write_text(
        _msg(2, [("block_meta", "k2", 1, "CREATE", {"number": "2"})])
    )
    pipe.run_to_completion(str(stream))
    assert sorted(r["id"] for r in pipe.table("block_meta").collect()) == ["k1", "k2"]
    q = "SELECT id FROM block_meta ORDER BY id"
    assert [r["id"] for r in eng.sql(q).collect()] == ["k1", "k2"]
    pipe.state.apply_ttl("block_meta", "id = 'k1'")
    assert [r["id"] for r in eng.sql(q).collect()] == ["k2"]
