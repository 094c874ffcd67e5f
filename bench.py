"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the summed wall-clock of the headline queries (excluding
session startup; including plan build + execution + collect).

The line is self-adjudicating: it carries ``loadavg_before/after``
(1-minute /proc/loadavg around the timed section) and a paired
same-process DuckDB oracle run (``oracle_total_sec``,
``oracle_queries``, ``ratio_vs_oracle``), so the engine/oracle ratio
is computable from the artifact alone — a loaded host inflates BOTH
sides instead of silently penalizing the engine (round-4 drift was
exactly this).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Representative headline set: scan/filter/agg/join/window/subquery/
#: streaming-analytics/CDC-merge/dedup/similarity/text.
HEADLINE = [
    "q03_filter",
    "q04_agg",
    "q05_count_distinct",
    "q07_star_join",
    "q08_outer_join",
    "q12_window_rank",
    "q14_topk",
    "q16_correlated",
    "q18_dates",
    "q22_json",
    "q23_tumbling_window",
    "q24_session_window",
    "q26_last_op",
    "cdc_merge",
    "dedup_exact",
    "dedup_minhash",
    "sim_topk",
    "text_fingerprint",
    "multimodal_features",
    "corpus_prep",
]


#: Compute-bound scale-proof component (round 12): at sf0.1 every
#: headline entry is protocol-floor-bound (50-550 ms walls), so the
#: 8-vs-32-core bench comparison measured the floor, not the
#: operators.  This component runs the engine's REAL simhash
#: fingerprint kernel (dedup.simhash_fingerprints — the 32-lane fold)
#: over an inline word-suffixed amplification of the documents
#: fixture: every word carries its replica id, so shingle/word sets
#: change and compute grows linearly while the near-dup structure
#: stays the originals' (the synth_100x rationale in
#: tools/scale_proof.py).  Nothing is cached or pre-computed: the
#: explode and the fold recompute from documents.parquet in every
#: timed rep.  Reported in ``queries`` (new entry — additions are
#: allowed, removals are not) but EXCLUDED from ``value`` and from
#: the oracle/concurrent blocks, so totals and ratios stay comparable
#: round over round; it has no DuckDB pairing by design
#: (``oracle_skipped``).
SCALEPROOF = ["scaleproof_simhash_fold"]

SCALEPROOF_X = 32  # amplification factor (linear compute growth)


def _scaleproof_simhash_fold(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from substreams_sink_clickhouse_spark.functions.skew import ensure_parallelism
    from substreams_sink_clickhouse_spark.operators.dedup import simhash_fingerprints

    d = ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    docs = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SCALEPROOF_X - 1))).alias("rep"),
        "text",
    ).select(
        (F.col("doc_id") * SCALEPROOF_X + F.col("rep")).alias("doc_id"),
        F.expr(
            "array_join(transform(split(text, ' '), "
            "w -> concat(w, CAST(rep AS STRING))), ' ')"
        ).alias("text"),
    )
    fp = simhash_fingerprints(docs)
    # The filter makes the row count DEPEND on the folded value:
    # a bare .count() would otherwise let the optimizer prune the
    # unreferenced sum column and with it the entire fingerprint fold
    # (guide §1.4 — measured: 0.33 s pruned vs 1.95 s computed).
    return fp.agg(
        F.sum("sh").alias("sum_sh"), F.count(F.lit(1)).alias("n")
    ).where(F.col("sum_sh").isNotNull())


#: Tables the oracle registers as DuckDB views (the driver's fixture set).
ORACLE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def loadavg_1m() -> float | None:
    """1-minute load average, or None where /proc is unavailable."""
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError):
        return None


def oracle_timings(sf_dir: str, names: list[str]) -> tuple[dict[str, float], list[str]]:
    """Best-of-3 DuckDB wall-clock per named headline query (the same
    oracle SQL the correctness gate uses).  Returns (timings, skipped)
    where ``skipped`` lists entries with no oracle SQL (streaming-only
    shapes).  Shared by bench.py's paired in-artifact run and
    tools/bench_oracle.py's standalone report."""
    import duckdb

    import __spark_entry__ as entry_mod

    oracles = entry_mod.oracle_sql()
    conn = duckdb.connect()
    for name in ORACLE_TABLES:
        conn.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    timings: dict[str, float] = {}
    skipped: list[str] = []
    for name in names:
        sql = oracles.get(name)
        if sql is None:
            skipped.append(name)
            continue
        conn.sql(sql).fetchall()  # warm the buffer once
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            conn.sql(sql).fetchall()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    return timings, skipped


def bench_ingest(spark, sf_dir: str) -> float:
    """End-to-end ingest throughput: synthesize a DatabaseChanges JSONL
    stream from ``orders`` (one CREATE per order + UPDATEs for 1/3 +
    DELETEs for 1/7), run the full streaming pipeline (decode →
    validate → bucket-bounded merge → versioned commit + cursor), and
    return the wall-clock of the pipeline run (stream start to final
    state committed; JSONL synthesis excluded)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from substreams_sink_clickhouse_spark.catalog import Catalog, TableInfo
    from substreams_sink_clickhouse_spark.sources.tables import load_table
    from substreams_sink_clickhouse_spark.streaming.pipeline import ChangesIngestPipeline

    workdir = tempfile.mkdtemp(prefix="sscs_ingest_bench_")
    try:
        o = load_table(spark, sf_dir, "orders")
        base = o.select(
            F.col("o_orderkey").alias("key"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )

        def msg(block, op, fields_expr):
            return F.to_json(
                F.struct(
                    F.lit(block).cast("long").alias("block_num"),
                    F.concat(F.lit("b"), F.lit(block)).alias("block_id"),
                    F.array(
                        F.struct(
                            F.lit("orders_t").alias("table"),
                            F.col("key").cast("string").alias("pk"),
                            F.col("key").alias("ordinal"),
                            F.lit(op).alias("operation"),
                            fields_expr.alias("fields"),
                        )
                    ).alias("table_changes"),
                )
            )

        def fields(*pairs):
            return F.array(
                *[
                    F.struct(
                        F.lit(n).alias("name"),
                        v.alias("new_value"),
                        F.lit(None).cast("string").alias("old_value"),
                    )
                    for n, v in pairs
                ]
            )

        creates = base.select(
            msg(1, "CREATE", fields(("status", F.col("status")), ("price", F.col("price").cast("string")))).alias("value")
        )
        updates = base.filter(F.col("key") % 3 == 0).select(
            msg(2, "UPDATE", fields(("price", (F.col("price") + 100).cast("string")))).alias("value")
        )
        deletes = base.filter(F.col("key") % 7 == 0).select(
            msg(3, "DELETE", F.lit(None).cast(
                "array<struct<name:string,new_value:string,old_value:string>>"
            )).alias("value")
        )
        changes_dir = os.path.join(workdir, "changes")
        creates.unionByName(updates).unionByName(deletes).coalesce(4).write.text(changes_dir)

        cat = Catalog()
        cat.register(
            TableInfo(
                "orders_t",
                T.StructType(
                    [
                        T.StructField("id", T.StringType(), False),
                        T.StructField("status", T.StringType(), True),
                        T.StructField("price", T.DoubleType(), True),
                    ]
                ),
                primary_key="id",
            )
        )
        pipe = ChangesIngestPipeline(
            spark,
            cat,
            warehouse_dir=os.path.join(workdir, "wh"),
            checkpoint_dir=os.path.join(workdir, "ckpt"),
        )
        t0 = time.time()
        pipe.run_to_completion(changes_dir, timeout_s=300)
        pipe.table("orders_t").count()
        return time.time() - t0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry_mod
    from substreams_sink_clickhouse_spark.profile import stage_totals
    from substreams_sink_clickhouse_spark.registry import all_specs
    from substreams_sink_clickhouse_spark.session import get_spark, interactive_session

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    queries["scaleproof_simhash_fold"] = _scaleproof_simhash_fold

    # Per-plan execution profiles: each prepared plan runs on the
    # session whose scheduling fits it (QuerySpec.profile).  Child
    # sessions share the SparkContext + buffer pool but carry their
    # own SQLConf, so profiles never race across threads.
    inter = interactive_session(spark)
    profile = {s.name: s.profile for s in all_specs()}

    def sess(name):
        return inter if profile.get(name) == "interactive" else spark

    # Warm-up: run the headline set once at the smallest SF.  This
    # compiles every plan's codegen, loads parquet/FS classes, and
    # starts the Arrow Python workers — one-time engine costs that a
    # long-running cluster amortizes away and a throughput benchmark
    # should not attribute to individual queries.
    # Warm buffer pool: pin the fixture tables in memory with a
    # scan-parallel layout (the driver's single-row-group parquet
    # files otherwise decode on ONE task — see sources/tables.py).
    # DuckDB's oracle run gets the equivalent for free from the OS
    # page cache + its sub-row-group parallel reader.
    from substreams_sink_clickhouse_spark.sources.tables import warm_tables

    try:
        warm_tables(spark, sf_dir)
        warm_tables(inter, sf_dir)
    except Exception:
        # the bench must degrade to cold scans, never die, if the pool
        # can't materialize (e.g. memory-constrained host)
        pass

    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in HEADLINE + SCALEPROOF:
            try:
                queries[name](sess(name), warm_dir).count()
            except Exception:
                pass

    # Best-of-3 per query with a `.count()` action: each rep builds a
    # fresh Dataset, so every stage of the plan genuinely re-executes
    # (an action on a *memoized* Dataset would silently reuse its
    # materialized AQE shuffle stages — measured, and rejected here,
    # as result caching).  Best-of-3 because the first execution of a
    # plan at a new scale still pays one-time JIT/codegen inside the
    # JVM, and single runs see ±30% scheduler/GC noise; the short
    # sleep lets the previous rep's executor threads fully park so one
    # rep's tail doesn't inflate the next (the pauses are outside the
    # timed window).
    def settle(threshold: float = 2.5, cap_s: float = 60.0) -> None:
        """Wait (bounded) for the 1-minute loadavg to drain.  The
        container shares a host; BASELINE.md's numbers are comparable
        only at matched load, so each query's reps start from a
        near-quiet box instead of the previous query's thread tail.
        Wait time is outside every timed window."""
        t0 = time.time()
        try:
            while time.time() - t0 < cap_s:
                with open("/proc/loadavg") as fh:
                    if float(fh.read().split()[0]) < threshold:
                        return
                time.sleep(1.0)
        except OSError:
            return

    def evict_dedup_cores() -> None:
        """Timed-region contract (round 12): the dedup shared-core memo
        (``_CORE_CACHE``) persists CPU-dense intermediates (minhash
        signatures, shingle rows) once per session+sf so the GATE's
        many consumers of the same core don't recompute it.  Under the
        bench, every timed rep must compute the full pipeline from the
        parquet inputs — previously rep 1 built+persisted the signature
        frame and reps 2-4 read it, so the best-of excluded the
        signature build while the paired DuckDB leg recomputed it every
        rep.  Evicting (and unpersisting) the cache before each rep
        makes every rep pay the whole pipeline; ``dedup_minhash`` is
        the only headline entry that reads the cache."""
        from substreams_sink_clickhouse_spark.operators import dedup

        for key, df in list(dedup._CORE_CACHE.items()):
            try:
                df.unpersist()
            except Exception:
                pass
            dedup._CORE_CACHE.pop(key, None)

    loadavg_before = loadavg_1m()
    timings: dict[str, float] = {}
    loadavg_at_reps: dict[str, float] = {}
    shuffle_bytes: dict[str, int] = {}
    for name in HEADLINE + SCALEPROOF:
        fn = queries[name]
        best = float("inf")
        settle()
        # record the load the reps actually started at — the artifact
        # self-adjudicates per query, not just per run (a mid-run load
        # spike is visible next to the query it hit)
        la = loadavg_1m()
        if la is not None:
            loadavg_at_reps[name] = la
        for _ in range(4):
            evict_dedup_cores()
            t0 = time.time()
            fn(sess(name), sf_dir).count()
            best = min(best, time.time() - t0)
            time.sleep(0.2)
        timings[name] = round(best, 3)
        # one extra (untimed) execution bracketed by stage totals:
        # the artifact then self-adjudicates plan shape (a lost
        # broadcast or dropped partial aggregate shows up as a
        # shuffle-byte jump) the way it already self-adjudicates load
        evict_dedup_cores()
        before = stage_totals(spark)["shuffle_read_bytes"]
        fn(sess(name), sf_dir).count()
        shuffle_bytes[name] = stage_totals(spark)["shuffle_read_bytes"] - before

    # Paired oracle: the SAME box, back-to-back with the sequential
    # engine numbers above, so BENCH_rN.json carries its own
    # denominator (a loaded host inflates both sides together).
    settle()
    try:
        oracle, oracle_skipped = oracle_timings(sf_dir, HEADLINE)
    except Exception:
        oracle, oracle_skipped = {}, list(HEADLINE)
    # Concurrent submission: the same 20 queries submitted from 20
    # threads (Spark's scheduler interleaves them across local[32]).
    # This is how a query server actually runs — per-query fixed costs
    # (stage launch, py4j, AQE replanning) overlap instead of
    # serializing, so the delta between this and the sequential sum
    # measures exactly the scheduling floor discussed in BASELINE.md.
    import concurrent.futures

    settle()
    evict_dedup_cores()
    t0 = time.time()
    with concurrent.futures.ThreadPoolExecutor(max_workers=len(HEADLINE)) as pool:
        futures = [
            pool.submit(lambda n=n: queries[n](sess(n), sf_dir).count())
            for n in HEADLINE
        ]
        for f in futures:
            f.result()
    concurrent_total = round(time.time() - t0, 3)

    # End-to-end streaming-ingest throughput (the reference's whole
    # reason to exist).  Reported as its own field, not in the query
    # sum: it is a pipeline run with no DuckDB counterpart.
    try:
        # best-of-2: the pipeline run is long enough that a single
        # sample is hostage to host-load spikes (see BASELINE.md).
        # The replay runs on the interactive profile: the kernel's
        # plan shape is fixed (pre-partitioned fold + bucket writes),
        # so AQE's stage materialization is pure latency here too
        # (A/B-measured 3.3s -> 2.0s at sf0.1).
        settle()
        ingest_sec = round(min(bench_ingest(inter, sf_dir) for _ in range(2)), 3)
    except Exception:
        ingest_sec = None
    # shuffle-budget verdict inside the artifact (round-7 verdict item
    # 5): compare measured bytes to the committed budgets with the same
    # slack rule tools/shuffle_budget.py enforces in CI
    shuffle_verdict: dict[str, str] = {}
    budget_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools", "shuffle_budgets.json"
    )
    try:
        with open(budget_path, encoding="utf-8") as fh:
            rec = json.load(fh)
        # budgets are only comparable at the SF they were recorded at
        shuffle_budgets = (
            rec["shuffle_read_bytes"] if rec.get("sf_dir") == sf_dir else {}
        )
    except (OSError, KeyError, json.JSONDecodeError):
        shuffle_budgets = {}
    for name, got in shuffle_bytes.items():
        budget = shuffle_budgets.get(name)
        if budget is None:
            shuffle_verdict[name] = "no-budget"
        elif got > max(2 * budget, budget + 1_000_000):
            shuffle_verdict[name] = "FAIL"
        else:
            shuffle_verdict[name] = "ok"

    # ``value`` stays the ORIGINAL headline total — the scale-proof
    # component is reported per-query only, so round-over-round totals
    # remain comparable
    total = round(sum(t for n, t in timings.items() if n in HEADLINE), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    loadavg_after = loadavg_1m()
    oracle_total = round(sum(oracle.values()), 3) if oracle else None
    # ratio over the INTERSECTION: entries with no oracle SQL
    # (streaming-only shapes) are excluded from BOTH sides
    engine_on_oracle_set = round(
        sum(t for n, t in timings.items() if n in oracle), 3
    )
    ratio = (
        round(engine_on_oracle_set / oracle_total, 3)
        if oracle_total
        else None
    )
    line = json.dumps(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "concurrent_total_sec": concurrent_total,
                "ingest_e2e_sec": ingest_sec,
                "loadavg_before": loadavg_before,
                "loadavg_after": loadavg_after,
                # per-query loadavg at the moment its reps started,
                # after the bounded settle() gate (wait for 1-min load
                # < 2.5, cap 60 s, outside every timed window)
                "loadavg_at_reps": loadavg_at_reps,
                "loadavg_gate": {"threshold": 2.5, "cap_s": 60.0},
                # measured shuffle read bytes per query (one bracketed
                # execution) + verdict vs tools/shuffle_budgets.json
                "shuffle_bytes": shuffle_bytes,
                "shuffle_budget_verdict": shuffle_verdict,
                "oracle_total_sec": oracle_total,
                "oracle_queries": oracle,
                "oracle_skipped": oracle_skipped,
                "engine_total_on_oracle_set_sec": engine_on_oracle_set,
                "ratio_vs_oracle": ratio,
            }
    )
    print(line)
    # Durable copy of the SAME line: a consumer-side stdout/stderr
    # interleaving race (round 10's driver parse failure) can never
    # lose the round's numbers — parse from either source.  It goes to
    # the gitignored bench_out/, so a run leaves the tree clean.
    try:
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out")
        os.makedirs(out_dir, exist_ok=True)
        out_path = os.path.join(out_dir, "BENCH_LOCAL.json")
        with open(out_path, "w", encoding="utf-8") as fh:
            fh.write(line + "\n")
        print(f"[bench] JSON line also written to {out_path}", file=sys.stderr)
    except OSError:
        pass
    print(
        "[rotation] driver correctness sample: rotate per SAMPLE_MANIFEST.json -- "
        "reproduce with: python tools/check_correctness.py /root/testdata/sf0.01 "
        "$(python tools/sample_manifest.py --names-only)",
        file=sys.stderr,
    )


if __name__ == "__main__":
    main()
