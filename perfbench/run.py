"""Benchmark entry point.

    python3 perfbench/run.py --workload {live,query} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Generates the workload's inputs from the
seed, drives them through the engine's public API on ``local[nproc]``,
checks every output against an independent reference, and prints one
JSON line as the last line of stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  Exits non-zero when an
output check fails or the engine is not present.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("live", "query")


def end_to_end_names() -> list[str]:
    """The end-to-end metrics BENCHMARK.json declares (``--trace 0``)."""
    with open(os.path.join(harness.REPO_ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return [m["name"] for m in json.load(fh)["end_to_end"]]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_present() -> bool:
    return os.path.isfile(
        os.path.join(harness.REPO_ROOT, "substreams_sink_clickhouse_spark", "engine.py")
    )


def build_workload(name, spark, seed, run_dir, tracer):
    if name == "live":
        from perfbench.ingest import Live

        return Live(spark, seed, run_dir, tracer)
    from perfbench.query import Query

    return Query(spark, seed, run_dir, tracer)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print("perfbench: the engine package substreams_sink_clickhouse_spark "
              "is not in this checkout", file=sys.stderr)
        return 2
    run_dir = harness.make_run_dir(args.workload, args.seed)
    harness.configure_environment(run_dir)
    from perfbench.trace import NullTracer, Tracer

    spark = None
    try:
        spark = harness.start_spark(run_dir)
        session_s = time.perf_counter() - harness.PROCESS_START
        tracer = Tracer(spark) if args.trace else NullTracer()
        t_in = time.perf_counter()
        wl = build_workload(args.workload, spark, args.seed, run_dir, tracer)
        inputs_s = time.perf_counter() - t_in
        tracer.install()  # set-up is traced in a traced run
        once_s, reps = wl.prepare()
        tracer.uninstall()
        setup_s = session_s + once_s + statistics.median(reps)
        t0 = time.perf_counter()
        if args.trace:
            # three phases of ``seconds / 2``: untraced (settles the
            # first, colder ops), untraced again, then traced; the last
            # two give the tracing overhead
            wl.measure(t0 + args.seconds / 2)
            mark = len(wl.results()["trace_ops"])
            wl.measure(time.perf_counter() + args.seconds / 2)
            untraced = wl.results()["trace_ops"][mark:]
            mark += len(untraced)
            tracer.install()
            wl.measure(time.perf_counter() + args.seconds / 2)
            tracer.uninstall()
        else:
            wl.measure(t0 + args.seconds)
        measure_s = time.perf_counter() - t0
        t_fin = time.perf_counter()
        wl.finish()
        finish_s = time.perf_counter() - t_fin
        res = wl.results()
        ops = res["ops"]
        if not ops:
            raise RuntimeError("no operation completed")
        s = harness.summary(ops)
        detail = {
            "setup_s": (setup_s, "s"),
            "session_start_s": (session_s, "s"),
            "op_p50_s": (s["p50"], "s"),
            "op_tail_s": (s["tail"], "s"),
            "op_tail_pct": (s["tail_pct"], "percentile"),
            "op_samples": (s["n"], "count"),
            "warm_rate_per_s": (res["rate"], "1/s"),
            "peak_rss_mb": (harness.peak_rss_mb(spark), "MB"),
            "failed_share": (wl.failed / max(1, wl.attempted), "ratio"),
            "inputs_s": (inputs_s, "s"),
            "measure_s": (measure_s, "s"),
            "finish_s": (finish_s, "s"),
            **res["detail"],
        }
        if args.trace:
            from perfbench.layers import layer_metrics

            tracer.finish()
            metrics = layer_metrics(
                tracer, args.workload, wl, untraced, res["trace_ops"][mark:])
            tracer.write(os.path.join(harness.OUT_DIR, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                name: {"value": harness.finite(float(detail[name][0])), "unit": detail[name][1]}
                for name in end_to_end_names()
            }
        print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": {
            k: {"value": v, "unit": u} for k, (v, u) in detail.items()}}))
        for p in wl.problems[:20]:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        correct = not wl.problems and wl.failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": int(wl.attempted),
            "failed": int(wl.failed),
            "metrics": metrics,
        }))
        return 0 if correct else 1
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
