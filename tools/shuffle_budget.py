"""Shuffle-byte regression gate for the headline queries.

Plan-shape regressions that add or widen exchanges are easy to miss
locally (wall-clock noise swallows them) but fatal at 100 TB.  This
tool executes every bench.py headline entry at sf0.1 and compares the
measured shuffle read bytes (in-process stage totals, attributed
per-entry) against the recorded budgets:

    python tools/shuffle_budget.py --record   # (re)write tools/shuffle_budgets.json
    python tools/shuffle_budget.py            # check: fail if any entry exceeds
                                              # max(2x budget, budget + 1 MB)

The slack absorbs AQE partition-count jitter; genuine regressions —
a lost broadcast, a new exchange, a dropped partial aggregate —
multiply shuffle volume well past it.  `bash tools/ci.sh` runs the
check after the oracle gate.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BUDGET_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "shuffle_budgets.json")


def main() -> int:
    record = "--record" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry_mod
    from bench import HEADLINE
    from substreams_sink_clickhouse_spark.profile import stage_totals
    from substreams_sink_clickhouse_spark.session import get_spark
    from substreams_sink_clickhouse_spark.sources.tables import warm_tables

    spark = get_spark("shuffle-budget")
    spark.sparkContext.setLogLevel("ERROR")
    warm_tables(spark, sf_dir)
    queries = entry_mod.queries()

    measured: dict[str, int] = {}
    for name in HEADLINE:
        queries[name](spark, sf_dir).count()  # warm (codegen + caches)
        before = stage_totals(spark)["shuffle_read_bytes"]
        queries[name](spark, sf_dir).count()
        measured[name] = stage_totals(spark)["shuffle_read_bytes"] - before

    if record:
        with open(BUDGET_PATH, "w", encoding="utf-8") as fh:
            json.dump({"sf_dir": sf_dir, "shuffle_read_bytes": measured}, fh, indent=1)
        print(f"recorded {len(measured)} budgets -> {BUDGET_PATH}")
        return 0

    if not os.path.exists(BUDGET_PATH):
        print(f"no budgets at {BUDGET_PATH}; run with --record first", file=sys.stderr)
        return 2
    with open(BUDGET_PATH, encoding="utf-8") as fh:
        budgets = json.load(fh)["shuffle_read_bytes"]
    failures = []
    for name, got in measured.items():
        budget = budgets.get(name)
        if budget is None:
            print(f"NEW  {name}: {got} bytes (no budget; re-record)")
            continue
        limit = max(2 * budget, budget + 1_000_000)
        status = "FAIL" if got > limit else "ok"
        print(f"{status:<4} {name}: {got} vs budget {budget} (limit {limit})")
        if got > limit:
            failures.append(name)
    if failures:
        print(f"\nshuffle regressions: {failures}", file=sys.stderr)
        return 1
    print(f"\nall {len(measured)} entries within shuffle budget")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
