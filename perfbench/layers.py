"""Per-layer metrics from a traced run, named by engine module.

Every workload reports every metric; a layer the workload does not
touch reports 0.  Values are per operation: the streaming-source and
decode metrics per catch-up epoch of ``live``, the other
ingest metrics per live block, the query metrics per query, and the
Spark metrics per measured operation (live block or query).
"""

from __future__ import annotations

import statistics

from perfbench.harness import NPROC

#: name -> unit, in report order.
UNITS = {
    "stream.epoch_gap_s": "s",
    "stream.overhead_s": "s",
    "decode.build_s": "s",
    "decode.changes_out": "count",
    "pipeline.summary_s": "s",
    "pipeline.plan_s": "s",
    "pipeline.commit_s": "s",
    "merge.build_s": "s",
    "state.commit_epoch_s": "s",
    "state.bytes_written": "bytes",
    "state.files_written": "count",
    "state.rows_written_per_change": "ratio",
    "state.sidecar_share": "ratio",
    "state.manifest_reads": "count",
    "state.manifest_read_s": "s",
    "state.manifest_bytes": "bytes",
    "state.manifest_growth_bytes": "bytes",
    "state.layers_per_bucket": "count",
    "state.dv_rows": "count",
    "read.rows_scanned_per_row_returned": "ratio",
    "cursor.write_s": "s",
    "cursor.spark_jobs": "count",
    "engine.sql_s": "s",
    "engine.view_refresh_s": "s",
    "query.build_s": "s",
    "query.collect_s": "s",
    "query.result_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.busy_share": "ratio",
    "trace.overhead_share": "ratio",
    "trace.spans_per_op": "count",
}

CATCHUP, BLOCK, QUERY = "op.catchup", "op.live_block", "op.query"


def layer_metrics(tr, workload: str, wl, untraced_ops, traced_ops) -> dict:
    op = BLOCK if workload == "live" else QUERY
    n_ops = max(1, sum(1 for s in tr.spans if s["name"] == op and s.get("duration")))
    m = {k: 0.0 for k in UNITS}
    c = tr.counters

    def total(root, *span_names):
        agg = tr.by_name(root)
        return sum(agg.get(n, {}).get("total_s", 0.0) for n in span_names)

    catchup = [s for s in tr.spans if s["name"] == CATCHUP and s.get("duration")]
    if catchup:
        n_ep = max(1, len(wl.catchup_epochs))
        m["stream.epoch_gap_s"] = statistics.mean(wl.catchup_epochs)
        m["stream.overhead_s"] = (
            m["stream.epoch_gap_s"] - total(CATCHUP, "pipeline.process_batch") / n_ep
        )
        m["decode.build_s"] = total(CATCHUP, "decode.build") / n_ep
        m["decode.changes_out"] = sum(wl.catchup_changes) / n_ep

    if workload == "live":
        blk = tr.by_name(BLOCK)
        m["pipeline.summary_s"] = c[f"{BLOCK}/phase.window_summary"] / n_ops
        m["pipeline.plan_s"] = c[f"{BLOCK}/phase.plan"] / n_ops
        m["pipeline.commit_s"] = c[f"{BLOCK}/phase.commit"] / n_ops
        m["merge.build_s"] = total(
            BLOCK, "merge.reduce_changes", "merge.apply_table_ops",
            "merge.apply_table_ops_delta") / n_ops
        m["state.commit_epoch_s"] = total(BLOCK, "state.commit_epoch") / n_ops
        m["state.bytes_written"] = c[f"{BLOCK}/state.bytes_written"] / n_ops
        m["state.files_written"] = c[f"{BLOCK}/state.files_written"] / n_ops
        if wl.traced_changes:
            m["state.rows_written_per_change"] = c[f"{BLOCK}/flushed_entries"] / wl.traced_changes
        if c[f"{BLOCK}/state.table_commits"]:
            m["state.sidecar_share"] = (
                c[f"{BLOCK}/state.sidecar_commits"] / c[f"{BLOCK}/state.table_commits"]
            )
        m["state.manifest_reads"] = blk.get("state.read_manifest", {}).get("calls", 0) / n_ops
        m["state.manifest_read_s"] = total(BLOCK, "state.read_manifest") / n_ops
        sizes = tr.manifest_sizes.get(BLOCK, [])
        if sizes:
            m["state.manifest_bytes"] = sizes[-1]
            m["state.manifest_growth_bytes"] = (sizes[-1] - sizes[0]) / max(1, len(sizes) - 1)
        store = wl.final_store
        parts = [p for t in store.catalog.tables for p in store.parts(t)]
        if parts:
            m["state.layers_per_bucket"] = statistics.mean(p["n_layers"] for p in parts)
            m["state.dv_rows"] = sum(p["dv_rows"] for p in parts)
        if wl.traced_rows_returned:
            reads = tr.subtree_spark({"live.lookup", "live.scan"}, BLOCK)
            m["read.rows_scanned_per_row_returned"] = (
                reads["input_records"] / wl.traced_rows_returned
            )
        m["cursor.write_s"] = total(BLOCK, "cursor.write_cursor") / n_ops
        m["cursor.spark_jobs"] = tr.subtree_spark({"cursor.write_cursor"}, BLOCK)["jobs"] / n_ops
        m["engine.sql_s"] = total(BLOCK, "engine.sql") / n_ops
        m["engine.view_refresh_s"] = total(BLOCK, "engine.view_refresh") / n_ops
    else:
        m["query.build_s"] = total(QUERY, "query.build") / n_ops
        m["query.collect_s"] = total(QUERY, "query.collect") / n_ops
        m["query.result_bytes"] = wl.traced_result_bytes / n_ops

    sp = tr.subtree_spark({op})
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes"):
        m["spark." + k] = sp[k] / n_ops
    op_wall = total(op, op)
    if op_wall:
        m["spark.busy_share"] = sp["executor_run_s"] / (op_wall * NPROC)
    # the workload's ops (live blocks, warm query rounds), traced and untraced
    if untraced_ops and traced_ops:
        m["trace.overhead_share"] = (
            statistics.median(traced_ops) / statistics.median(untraced_ops) - 1.0
        )
    m["trace.spans_per_op"] = sum(1 for s in tr.spans if s["root"] == op) / n_ops
    return {k: {"value": float(v), "unit": UNITS[k]} for k, v in m.items()}
