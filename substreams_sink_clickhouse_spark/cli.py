"""Command-line interface — parity with the reference's CLI surface.

The reference is a Go CLI (`/root/reference/cmd/substreams-sink-clickhouse/
main.go:19-58`) whose `run` command wires `<clickhouse_dsn> <endpoint>
<manifest> <module> [<start>:<stop>]` into the sink loop
(`run.go:21-40`).  The Spark engine's equivalents:

* the gRPC endpoint + manifest + module → a *changes source path*
  (JSONL files of serialized ``DatabaseChanges``) plus a schema that
  declares the target tables, and a ``--module-hash`` identifying the
  stream for cursor keying;
* the ClickHouse DSN → optional: when given, every committed epoch is
  ALSO emitted to ClickHouse as the reference's wire statements
  (`sinks/clickhouse.py`); table state itself lives in the parquet
  warehouse;
* flags kept name-for-name where they exist in the reference:
  ``--flush-interval`` (`run.go:28`) and ``--on-module-hash-mismatch``
  (`run.go:29-37`; the reference spells the flag "mistmatch" — we use
  the corrected spelling).

Subcommands::

    run <changes_path> --schema ddl.sql [--dsn clickhouse://...]
    setup --schema ddl.sql | --clickhouse-schema schema.sql
    cursors list|delete|delete-all [--module-hash H]
    sql "SELECT ..."   (over the warehouse's ingested tables)
    maintain optimize|ttl|parts|rebucket|vacuum <table>
             (OPTIMIZE TABLE FINAL / TTL mutation / system.parts /
              bucket-fanout rescaling / snapshot GC)

Usage: ``python -m substreams_sink_clickhouse_spark <subcommand> ...``.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time

from substreams_sink_clickhouse_spark.config import EngineConfig


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="substreams-sink-clickhouse-spark",
        description="PySpark-native substreams sink + analytics engine",
    )
    p.add_argument("--master", default=None, help="Spark master (default: $SPARK_GRAFT_MASTER or local[*])")
    # Reference operator flags (cmd/.../main.go:27-29).  pprof has no
    # Python/Spark analog (use the Spark UI); accepted and ignored so
    # reference deployment manifests work unchanged.
    p.add_argument(
        "--delay-before-start",
        type=float,
        default=0.0,
        help="[Operator] seconds to wait before starting (main.go:27)",
    )
    p.add_argument(
        "--metrics-listen-addr",
        default=None,
        help="[Operator] host:port serving the reference's Prometheus series (main.go:28)",
    )
    p.add_argument(
        "--pprof-listen-addr",
        default=None,
        help="[Operator] accepted for manifest parity; profiling is served by the Spark UI instead (main.go:29)",
    )
    sub = p.add_subparsers(dest="command", required=True)

    def add_warehouse_flags(sp):
        sp.add_argument("--warehouse", default="/tmp/sscs_warehouse", help="parquet table-state directory")
        sp.add_argument("--checkpoint", default="/tmp/sscs_checkpoints", help="streaming checkpoint directory")
        sp.add_argument("--module-hash", default="default", help="output-module hash keying the cursor row")
        sp.add_argument("--n-buckets", type=int, default=16, help="pk hash-buckets per table")
        sp.add_argument(
            "--write-mode",
            choices=["auto", "rewrite"],
            default="auto",
            help="epoch write strategy: auto = deletion-vector sidecars "
            "when eligible (O(changed rows) written), rewrite = always "
            "full bucket rewrite",
        )

    def add_schema_flags(sp):
        g = sp.add_mutually_exclusive_group(required=True)
        g.add_argument("--schema", help="Spark-SQL DDL file declaring target tables")
        g.add_argument(
            "--clickhouse-schema",
            help="reference-style ClickHouse schema.sql (MergeTree DDL) translated into the catalog",
        )

    run = sub.add_parser("run", help="run the sink loop over a changes source (reference `run`, run.go:21-40)")
    run.add_argument("changes_path", help="directory of DatabaseChanges JSONL files (the stream source)")
    add_schema_flags(run)
    add_warehouse_flags(run)
    run.add_argument("--dsn", default=None, help="clickhouse:// DSN for wire-statement emission (optional)")
    run.add_argument("--flush-interval", type=int, default=1000, help="catch-up blocks per flush (run.go:28)")
    run.add_argument(
        "--on-module-hash-mismatch",
        # the reference spells the flag "--on-module-hash-mistmatch"
        # (run.go:29) — accept that spelling too so reference invocations
        # work verbatim
        "--on-module-hash-mistmatch",
        choices=["error", "warn", "ignore"],
        default="error",
        help="cursor policy when the stored module hash differs (run.go:29-37)",
    )
    run.add_argument("--live", action="store_true", help="keep the stream running (processingTime trigger)")
    run.add_argument("--timeout-s", type=int, default=600, help="backfill completion timeout")
    run.add_argument(
        "--max-restarts",
        type=int,
        default=5,
        help="supervised restarts on stream failure with capped backoff, "
        "resuming from checkpoint + cursor (the liveness policy the "
        "reference inherits from its sink library, run.go:92-98); "
        "0 disables supervision",
    )
    run.add_argument(
        "--range",
        default=None,
        metavar="START:STOP",
        help="block range, stop exclusive (the reference's positional [<start>:<stop>], run.go:22)",
    )
    run.add_argument(
        "--undo-buffer-size",
        type=int,
        default=0,
        help="accepted for parity: the file/Kafka transports deliver final blocks only "
        "(the reference forwards this to its gRPC client; reorgs here arrive as explicit "
        "undo signals handled by handle_block_undo_signal)",
    )
    run.add_argument(
        "--final-blocks-only",
        action="store_true",
        help="accepted for parity: always true for the file/Kafka transports",
    )

    setup = sub.add_parser("setup", help="execute schema DDL (reference Loader.Setup, db/db.go:212-249)")
    add_schema_flags(setup)
    add_warehouse_flags(setup)

    cursors = sub.add_parser("cursors", help="inspect/delete stream cursors (db/cursor.go:26-143)")
    cursors.add_argument("action", choices=["list", "delete", "delete-all"])
    add_warehouse_flags(cursors)

    sql = sub.add_parser("sql", help="query the warehouse's ingested tables with Spark SQL")
    sql.add_argument("query")
    add_schema_flags(sql)
    add_warehouse_flags(sql)
    sql.add_argument("--limit", type=int, default=100, help="max rows printed")
    sql.add_argument(
        "--dialect",
        choices=["spark", "clickhouse"],
        default="spark",
        help="SQL dialect; 'clickhouse' translates the documented "
        "ClickHouse subset (functions/dialect.py) before execution",
    )
    sql.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of rows (ClickHouse EXPLAIN parity)",
    )
    sql.add_argument(
        "--format",
        choices=["jsonl", "csv", "tsv"],
        default="jsonl",
        help="output format (ClickHouse FORMAT JSONEachRow / CSVWithNames parity)",
    )

    maintain = sub.add_parser(
        "maintain",
        help="storage maintenance on a sunk table (OPTIMIZE FINAL / TTL / parts / rebucket)",
    )
    maintain.add_argument("action", choices=["optimize", "ttl", "parts", "rebucket", "vacuum"])
    maintain.add_argument("table", nargs="?", help="target table (not needed for vacuum)")
    add_schema_flags(maintain)
    add_warehouse_flags(maintain)
    maintain.add_argument("--predicate", help="TTL expiry predicate (SQL), e.g. \"ts < TIMESTAMP '2024-02-01'\"")
    maintain.add_argument("--new-n-buckets", type=int, help="target bucket fan-out for rebucket")
    maintain.add_argument("--keep-epochs", type=int, default=2, help="history snapshots kept by vacuum")
    maintain.add_argument(
        "--zorder",
        help="comma-separated columns for OPTIMIZE ZORDER BY clustering "
        "(multi-column data skipping) instead of pk clustering",
    )
    maintain.add_argument(
        "--only-fragmented",
        action="store_true",
        help="OPTIMIZE only the buckets carrying deletion-vector "
        "sidecar layers (incremental compaction; cost scales with "
        "fragmentation, not table size)",
    )

    return p


def _catalog(spark, args):
    """Build the ingest catalog from whichever schema flag was given."""
    from substreams_sink_clickhouse_spark.catalog import Catalog, setup as catalog_setup
    from substreams_sink_clickhouse_spark.sources.clickhouse_ddl import (
        catalog_from_clickhouse_ddl,
    )

    if getattr(args, "clickhouse_schema", None):
        with open(args.clickhouse_schema, encoding="utf-8") as fh:
            return catalog_from_clickhouse_ddl(fh.read())
    catalog_setup(spark, ddl_path=args.schema)
    return Catalog.from_spark_catalog(spark)


def _pipeline(spark, catalog, args):
    from substreams_sink_clickhouse_spark.engine import Engine

    start_block = stop_block = None
    if getattr(args, "range", None):
        start_s, _, stop_s = args.range.partition(":")
        start_block = int(start_s) if start_s else None
        stop_block = int(stop_s) if stop_s else None
    config = EngineConfig(
        warehouse_dir=args.warehouse,
        checkpoint_dir=args.checkpoint,
        flush_interval=getattr(args, "flush_interval", 1000),
        on_module_hash_mismatch=getattr(args, "on_module_hash_mismatch", "error"),
        n_buckets=getattr(args, "n_buckets", 16),
        clickhouse_dsn=getattr(args, "dsn", None),
        start_block=start_block,
        stop_block=stop_block,
        write_mode=getattr(args, "write_mode", "auto"),
    )
    return Engine(spark, config).pipeline(catalog, module_hash=args.module_hash)


def cmd_run(spark, args) -> int:
    catalog = _catalog(spark, args)
    pipe = _pipeline(spark, catalog, args)
    args._metrics_pipe = pipe  # live Prometheus scrapes (see main())
    max_restarts = getattr(args, "max_restarts", 5)
    if args.live:
        query = pipe.start(args.changes_path, live=True)
        print("stream started (live mode); Ctrl-C to stop", file=sys.stderr)
        query.awaitTermination()
    elif max_restarts > 0:
        pipe.run_with_retries(
            args.changes_path,
            max_restarts=max_restarts,
            timeout_s=args.timeout_s,
            on_restart=lambda n, exc: print(
                f"stream failed (restart {n}/{max_restarts}): {exc}", file=sys.stderr
            ),
        )
    else:
        pipe.run_to_completion(args.changes_path, timeout_s=args.timeout_s)
    cursor = pipe.cursors.get_cursor(args.module_hash, args.on_module_hash_mismatch)
    summary = {
        "tables": {name: pipe.table(name).count() for name in catalog.tables},
        "cursor": None
        if cursor is None
        else {"block_num": cursor.block_num, "block_id": cursor.block_id},
        "stats": pipe.stats,
    }
    print(json.dumps(summary))
    return 0


def cmd_setup(spark, args) -> int:
    catalog = _catalog(spark, args)
    print(json.dumps({"tables": sorted(catalog.tables)}))
    return 0


def cmd_cursors(spark, args) -> int:
    from substreams_sink_clickhouse_spark.catalog import Catalog
    from substreams_sink_clickhouse_spark.streaming.cursors import CursorStore
    from substreams_sink_clickhouse_spark.streaming.pipeline import TableStateStore

    store = CursorStore(TableStateStore(spark, args.warehouse, Catalog()))
    if args.action == "list":
        rows = [
            {
                "id": c.id,
                "cursor": c.cursor,
                "block_num": c.block_num,
                "block_id": c.block_id,
            }
            for c in store.all_cursors().values()
        ]
        print(json.dumps(rows))
    elif args.action == "delete":
        store.delete_cursor(args.module_hash)
        print(json.dumps({"deleted": args.module_hash}))
    else:
        store.delete_all()
        print(json.dumps({"deleted": "all"}))
    return 0


def cmd_sql(spark, args) -> int:
    import os

    from substreams_sink_clickhouse_spark.streaming.pipeline import TableStateStore

    from substreams_sink_clickhouse_spark.sources.clickhouse_ddl import (
        register_system_views,
    )

    catalog = _catalog(spark, args)
    state = TableStateStore(spark, args.warehouse, catalog, n_buckets=args.n_buckets)
    for name in catalog.tables:
        state.table_state(name).createOrReplaceTempView(name)
    register_system_views(spark, catalog)
    query = args.query
    m_show = re.match(r"\s*SHOW\s+CREATE\s+TABLE\s+(\w+)\s*;?\s*$", query, re.IGNORECASE)
    if m_show:
        from substreams_sink_clickhouse_spark.sources.clickhouse_ddl import (
            render_clickhouse_ddl,
        )

        name = m_show.group(1)
        if name not in catalog.tables:
            print(f"error: unknown table {name!r}", file=sys.stderr)
            return 2
        print(render_clickhouse_ddl(catalog.get(name)))
        return 0
    if getattr(args, "dialect", "spark") == "clickhouse":
        from substreams_sink_clickhouse_spark.functions.dialect import (
            clickhouse_to_spark_sql,
        )

        query = clickhouse_to_spark_sql(query)
    df = spark.sql(query)
    if args.explain:
        # ClickHouse `EXPLAIN` parity: print the physical plan instead
        # of the rows
        print(df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        ))
        return 0
    rows = df.limit(args.limit).collect()
    fmt = getattr(args, "format", "jsonl")
    if fmt in ("csv", "tsv"):
        import csv as _csv
        import io

        buf = io.StringIO()
        writer = _csv.writer(buf, delimiter="\t" if fmt == "tsv" else ",")
        writer.writerow(df.columns)  # CSVWithNames / TSVWithNames
        for row in rows:
            writer.writerow(["" if v is None else v for v in row])
        sys.stdout.write(buf.getvalue())
    else:
        for row in rows:
            print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_maintain(spark, args) -> int:
    from substreams_sink_clickhouse_spark.streaming.pipeline import TableStateStore

    catalog = _catalog(spark, args)
    state = TableStateStore(spark, args.warehouse, catalog, n_buckets=args.n_buckets)
    if args.action == "vacuum":
        deleted = state.vacuum(keep_epochs=args.keep_epochs)
        print(json.dumps({"deleted_paths": len(deleted)}))
        return 0
    if not args.table:
        print("error: table argument required", file=sys.stderr)
        return 2
    if args.action == "optimize":
        zcols = (
            [c.strip() for c in args.zorder.split(",") if c.strip()]
            if getattr(args, "zorder", None)
            else None
        )
        print(
            json.dumps(
                state.optimize(
                    args.table,
                    zorder=zcols,
                    only_fragmented=getattr(args, "only_fragmented", False),
                )
            )
        )
    elif args.action == "ttl":
        if not args.predicate:
            print("error: --predicate required for ttl", file=sys.stderr)
            return 2
        print(json.dumps({"expired_rows": state.apply_ttl(args.table, args.predicate)}))
    elif args.action == "parts":
        print(json.dumps(state.parts(args.table)))
    else:  # rebucket
        if not args.new_n_buckets:
            print("error: --new-n-buckets required for rebucket", file=sys.stderr)
            return 2
        print(json.dumps(state.rebucket(args.table, args.new_n_buckets)))
    return 0


_COMMANDS = {
    "run": cmd_run,
    "setup": cmd_setup,
    "cursors": cmd_cursors,
    "sql": cmd_sql,
    "maintain": cmd_maintain,
}


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from substreams_sink_clickhouse_spark.session import get_spark

    if args.delay_before_start > 0:
        time.sleep(args.delay_before_start)
    spark = get_spark("sscs-cli", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    metrics_server = None
    if args.metrics_listen_addr:
        from substreams_sink_clickhouse_spark.streaming.metrics import (
            SinkStats,
            serve_metrics,
        )

        def _live_stats() -> SinkStats:
            # cmd_run parks its pipeline on args so live scrapes see the
            # current flush counters (reference sinker/sinker.go:119-131).
            pipe = getattr(args, "_metrics_pipe", None)
            s = SinkStats()
            if pipe is not None:
                s.flush_count = int(pipe.stats.get("flush_count", 0))
                s.flushed_entries = int(pipe.stats.get("flushed_entries", 0))
                s.flush_duration_s = float(pipe.stats.get("flush_seconds", 0.0))
            return s

        metrics_server = serve_metrics(_live_stats, args.metrics_listen_addr)
    try:
        return _COMMANDS[args.command](spark, args)
    finally:
        if metrics_server is not None:
            metrics_server.shutdown()


if __name__ == "__main__":
    raise SystemExit(main())
