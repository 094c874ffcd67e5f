"""Scale proof for the dedup/ANN paths: run ``dedup_minhash`` and
``sim_lsh`` at sf0.1 and at a synthesized 10x corpus (sf1-equivalent;
the driver ships no sf1 fixtures), recording wall time and shuffle
read/write bytes from the in-process stage metrics.  Results land in
SCALE.md.

The 10x corpus is deterministic: each sf0.1 document/embedding row is
expanded into 10 variants (distinct suffix token / perturbed tail
component), preserving the near-dup structure the operators exercise.

Usage: python tools/scale_proof.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from substreams_sink_clickhouse_spark.profile import stage_totals

SCRATCH = "/tmp/sscs_scale"


def synth_10x(spark, src_dir: str, out_dir: str) -> None:
    """Expand the big tables 10x, distributed (no driver rows); small
    dimensions are copied as-is so joins keep their shape."""
    import shutil

    from pyspark.sql import functions as F  # noqa: F811

    os.makedirs(out_dir, exist_ok=True)
    for small in ("region", "nation", "customer", "supplier", "part"):
        shutil.copyfile(
            f"{src_dir}/{small}.parquet", f"{out_dir}/{small}.parquet"
        )
    reps = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep")

    # lineitem + orders expand together: l_orderkey/o_orderkey scale as
    # key*10+rep, so the fact-fact join keeps exactly 10x its matches.
    o = spark.read.parquet(f"{src_dir}/orders.parquet")
    o10 = o.select("*", reps).select(
        (F.col("o_orderkey") * 10 + F.col("rep")).alias("o_orderkey"),
        *[c for c in o.columns if c != "o_orderkey"],
    ).drop("rep")
    o10.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    l = spark.read.parquet(f"{src_dir}/lineitem.parquet")
    l10 = l.select("*", reps).select(
        (F.col("l_orderkey") * 10 + F.col("rep")).alias("l_orderkey"),
        *[c for c in l.columns if c != "l_orderkey"],
    ).drop("rep")
    l10.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    e = spark.read.parquet(f"{src_dir}/events.parquet")
    e10 = e.select("*", reps).select(
        (F.col("event_id") * 10 + F.col("rep")).alias("event_id"),
        *[c for c in e.columns if c != "event_id"],
    ).drop("rep")
    e10.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    _synth_corpus_10x(spark, src_dir, out_dir)


def _synth_corpus_10x(spark, src_dir: str, out_dir: str) -> None:
    d = spark.read.parquet(f"{src_dir}/documents.parquet")
    reps = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep")
    docs10 = (
        d.select("*", reps)
        .select(
            (F.col("doc_id") * 10 + F.col("rep")).alias("doc_id"),
            # rep 0 keeps the original text; others append a distinct
            # token, so every original near-dup relation survives and
            # each family gains in-family near-dups: realistic growth.
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.concat("text", F.lit(" variant"), F.col("rep")))
            .alias("text"),
            *[c for c in d.columns if c not in ("doc_id", "text")],
        )
    )
    docs10.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    e = spark.read.parquet(f"{src_dir}/embeddings.parquet")
    emb10 = (
        e.select("*", reps)
        .select(
            (F.col("vec_id") * 10 + F.col("rep")).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> CAST(x + (CASE WHEN i = size(embedding) - 1 "
                "THEN rep * 0.001 ELSE 0.0 END) AS FLOAT))"
            ).alias("embedding"),
            *[c for c in e.columns if c not in ("vec_id", "embedding")],
        )
    )
    emb10.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def synth_100x(spark, src_dir: str, out_dir: str) -> None:
    """100x corpus for the throughput-scaling proof: documents and
    orders only (the three 100x targets are dedup_minhash,
    dedup_ngram_stats, and the ingest pipeline).

    Unlike the 10x corpus (whose variants are deliberate near-dups, so
    candidate-pair OUTPUT grows quadratically in family size and
    drowns the operator signal), the 100x variants suffix every word
    with the replica id — all shingles change, so the near-dup
    structure stays exactly the rep-0 originals' and the measurement
    isolates how signature + banding THROUGHPUT scales with corpus
    size.  Orders replicate with rescaled keys (100x distinct pks)."""
    os.makedirs(out_dir, exist_ok=True)
    reps = F.explode(F.sequence(F.lit(0), F.lit(99))).alias("rep")
    d = spark.read.parquet(f"{src_dir}/documents.parquet")
    docs = (
        d.select("*", reps)
        .select(
            # x3+1 keeps every id out of _aug_docs' +100000 copy-offset
            # range (3k+1 = 3j+1+100000 has no integer solution), so
            # synthesized variants never collide with the operator's
            # own near-dup copies at this density
            ((F.col("doc_id") * 100 + F.col("rep")) * 3 + 1).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(
                F.array_join(
                    F.expr(
                        "transform(split(text, ' '), w -> concat(w, CAST(rep AS STRING)))"
                    ),
                    " ",
                )
            )
            .alias("text"),
            *[c for c in d.columns if c not in ("doc_id", "text")],
        )
    )
    docs.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    o = spark.read.parquet(f"{src_dir}/orders.parquet")
    o100 = o.select("*", reps).select(
        (F.col("o_orderkey") * 100 + F.col("rep")).alias("o_orderkey"),
        *[c for c in o.columns if c != "o_orderkey"],
    ).drop("rep")
    o100.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")


def main_100x() -> None:
    """100x throughput proof: dedup_minhash / dedup_ngram_stats /
    ingest at sf0.1 vs a 100x synthesized corpus (see synth_100x)."""
    from substreams_sink_clickhouse_spark.operators.dedup import (
        _dedup_minhash,
        _dedup_ngram_stats,
    )
    from substreams_sink_clickhouse_spark.session import get_spark

    spark = get_spark("scale-proof-100x")
    spark.sparkContext.setLogLevel("ERROR")
    sf01 = "/root/testdata/sf0.1"
    sf10 = SCRATCH + "/sf10"
    synth_100x(spark, sf01, sf10)
    results = {}
    for name, builder in (
        ("dedup_minhash", _dedup_minhash),
        ("dedup_ngram_stats", _dedup_ngram_stats),
    ):
        for label, d in (("sf0.1", sf01), ("sf10(100x)", sf10)):
            builder(spark, d).count()  # warm codegen
            before = stage_totals(spark)
            t0 = time.time()
            n = builder(spark, d).count()
            wall = time.time() - t0
            after = stage_totals(spark)
            results[f"{name}@{label}"] = {
                "rows": n,
                "wall_s": round(wall, 3),
                "shuffle_read_mb": round(
                    (after["shuffle_read_bytes"] - before["shuffle_read_bytes"]) / 1e6, 2
                ),
                "shuffle_write_mb": round(
                    (after["shuffle_write_bytes"] - before["shuffle_write_bytes"]) / 1e6, 2
                ),
            }
            print(f"{name}@{label}: {results[f'{name}@{label}']}", flush=True)
    from bench import bench_ingest

    for label, d in (("sf0.1", sf01), ("sf10(100x)", sf10)):
        before = stage_totals(spark)
        wall = bench_ingest(spark, d)
        after = stage_totals(spark)
        results[f"ingest_e2e@{label}"] = {
            "wall_s": round(wall, 3),
            "shuffle_read_mb": round(
                (after["shuffle_read_bytes"] - before["shuffle_read_bytes"]) / 1e6, 2
            ),
            "shuffle_write_mb": round(
                (after["shuffle_write_bytes"] - before["shuffle_write_bytes"]) / 1e6, 2
            ),
        }
        print(f"ingest_e2e@{label}: {results[f'ingest_e2e@{label}']}", flush=True)
    print(json.dumps(results))


def main() -> None:
    from substreams_sink_clickhouse_spark.operators.dedup import (
        _dedup_minhash,
        _dedup_ngram_stats,
    )
    from substreams_sink_clickhouse_spark.operators.relational import (
        _q04,
        _q07,
        _q12,
        _q22,
    )
    from substreams_sink_clickhouse_spark.operators.relational import (
        _q133_range_join,
    )
    from substreams_sink_clickhouse_spark.operators.similarity import (
        _sim_hybrid_search,
        _sim_lsh,
    )
    from substreams_sink_clickhouse_spark.operators.streaming_q import _q24
    from substreams_sink_clickhouse_spark.operators.text import _corpus_prep
    from substreams_sink_clickhouse_spark.session import get_spark

    spark = get_spark("scale-proof")
    spark.sparkContext.setLogLevel("ERROR")

    sf01 = "/root/testdata/sf0.1"
    sf1 = SCRATCH + "/sf1"
    synth_10x(spark, sf01, sf1)

    names_arg = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--names=")), None
    )
    if names_arg:
        # targeted proof for specific registry entries
        import __spark_entry__ as entry_mod

        queries = entry_mod.queries()
        cases = [(n, queries[n]) for n in names_arg.split(",")]
    elif "--all" in sys.argv[1:]:
        # fleet-wide proof: EVERY bench.py headline entry at 1x and 10x
        import __spark_entry__ as entry_mod

        from bench import HEADLINE

        queries = entry_mod.queries()
        cases = [(n, queries[n]) for n in HEADLINE]
    else:
        cases = [
            ("dedup_minhash", _dedup_minhash),
            ("dedup_ngram_stats", _dedup_ngram_stats),
            ("sim_lsh", _sim_lsh),
            ("q04_agg", _q04),
            ("q07_star_join", _q07),
            ("q12_window_rank", _q12),
            ("q22_json", _q22),
            ("q24_session_window", _q24),
            ("corpus_prep", _corpus_prep),
            ("q133_range_join", _q133_range_join),
            ("sim_hybrid_search", _sim_hybrid_search),
        ]

    results = {}
    for name, builder in cases:
        for label, d in (("sf0.1", sf01), ("sf1(10x)", sf1)):
            builder(spark, d).count()  # warm codegen
            before = stage_totals(spark)
            t0 = time.time()
            n = builder(spark, d).count()
            wall = time.time() - t0
            after = stage_totals(spark)
            results[f"{name}@{label}"] = {
                "rows": n,
                "wall_s": round(wall, 3),
                "shuffle_read_mb": round(
                    (after["shuffle_read_bytes"] - before["shuffle_read_bytes"]) / 1e6, 2
                ),
                "shuffle_write_mb": round(
                    (after["shuffle_write_bytes"] - before["shuffle_write_bytes"]) / 1e6, 2
                ),
            }
            print(f"{name}@{label}: {results[f'{name}@{label}']}")
    # ingest e2e (decode -> validate -> merge -> versioned commit +
    # cursor) at both scales: the full streaming pipeline on the
    # synthesized orders change stream (skipped for targeted --names runs)
    from bench import bench_ingest

    for label, d in () if names_arg else (("sf0.1", sf01), ("sf1(10x)", sf1)):
        before = stage_totals(spark)
        wall = bench_ingest(spark, d)
        after = stage_totals(spark)
        results[f"ingest_e2e@{label}"] = {
            "wall_s": round(wall, 3),
            "shuffle_read_mb": round(
                (after["shuffle_read_bytes"] - before["shuffle_read_bytes"]) / 1e6, 2
            ),
            "shuffle_write_mb": round(
                (after["shuffle_write_bytes"] - before["shuffle_write_bytes"]) / 1e6, 2
            ),
        }
        print(f"ingest_e2e@{label}: {results[f'ingest_e2e@{label}']}")
    print(json.dumps(results))


def main_bpe100x() -> None:
    """BPE-trainer scale proof: 100x corpus with a FIXED vocabulary
    (pure replication — texts unchanged, frequencies x100).  This
    isolates the trainer's core claim: merge iterations run at
    vocabulary cardinality, so only the single corpus-collapse scan
    grows with data; per-iteration cost is corpus-size-independent."""
    import time as _t

    from substreams_sink_clickhouse_spark.operators.text import bpe_train
    from substreams_sink_clickhouse_spark.session import get_spark

    spark = get_spark("scale-proof-bpe100x")
    spark.sparkContext.setLogLevel("ERROR")
    src = "/root/testdata/sf0.1/documents.parquet"
    base = spark.read.parquet(src)
    rep = base.select(
        F.explode(F.sequence(F.lit(0), F.lit(99))).alias("rep"), "doc_id", "text"
    ).select((F.col("doc_id") * 100 + F.col("rep")).alias("doc_id"), "text")
    out = SCRATCH + "/bpe100x"
    rep.repartition(32).write.mode("overwrite").parquet(out)
    results = {}
    for name, df in (("1x", base), ("100x", spark.read.parquet(out))):
        t0 = _t.time()
        rows = bpe_train(df, n_merges=8, post_top_k=10).collect()
        results[name] = {"wall_s": round(_t.time() - t0, 3), "rows": len(rows)}
        print(f"bpe_train@{name}:", results[name])
    # fixed vocabulary -> identical learned merges at both scales
    m1 = [
        (r.step, r.pair)
        for r in bpe_train(base, n_merges=8, post_top_k=1).collect()
        if r.step <= 8
    ]
    m100 = [
        (r.step, r.pair)
        for r in bpe_train(spark.read.parquet(out), n_merges=8, post_top_k=1).collect()
        if r.step <= 8
    ]
    assert m1 == m100, "merge sequence must be scale-invariant under replication"
    print(json.dumps(results))


if __name__ == "__main__":
    if "100x" in sys.argv[1:]:
        main_100x()
    elif "bpe100x" in sys.argv[1:]:
        main_bpe100x()
    else:
        main()
