"""The ``query`` workload: an analyst with no ingest running.

One closed-loop client runs the 20 headline registry entries
(``bench.HEADLINE``) in rounds, each round in a seeded shuffled order,
over seeded parquet fixtures with no warm pool, in a fresh process.
A run measures a cold round, each plan's first execution, and then
two warm rounds of the same calls.  Every call builds its plan afresh
from its registry spec on the session of the spec's execution profile
and fully materialises the result (``toArrow()``).  Before each timed call
the program memos that would skip work are cleared: the dedup
shared-core cache, the table plan cache, the DV replay cache and the
empty-frame cache.

In the cold round, right after each engine call, DuckDB runs the same
query's ``QuerySpec.oracle`` SQL, timed the same way and fully
materialised with ``.arrow()``: the paired baseline of
``query_vs_duckdb_ratio``.  After the loop each query's first engine
result is compared with DuckDB's through
``tools/check_correctness.value_hash``; every later result must equal
the first.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

import duckdb
import numpy as np

from perfbench import tables
from perfbench.harness import NPROC, REPO_ROOT, SETUP_REPS

#: TPC-H scale factor of the fixtures.
SF = 0.02
#: Warm rounds per measurement: one warm round (~6-13 s on a 4-core
#: host) spread 0.18 over ten seeds; the warm rate needs more work.
WARM_ROUNDS = 2

FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _value_hash():
    """``value_hash`` from the repository's correctness checker."""
    path = os.path.join(REPO_ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def clear_memos() -> None:
    """Drop every program memo that would let a call skip work."""
    from substreams_sink_clickhouse_spark.functions import localdata
    from substreams_sink_clickhouse_spark.operators import dedup, streaming_q
    from substreams_sink_clickhouse_spark.sources import tables as src_tables

    for df in list(dedup._CORE_CACHE.values()):
        df.unpersist()
    dedup._CORE_CACHE.clear()
    src_tables._PLAN_CACHE.clear()
    for df in list(src_tables._HOT_CACHE.values()):
        df.unpersist()
    src_tables._HOT_CACHE.clear()
    streaming_q._DV_REPLAY_CACHE.clear()
    localdata._EMPTY_CACHE.clear()


def _canonical(tbl):
    """Arrow result with rows in a fixed order (results are unordered)."""
    if tbl.num_rows == 0 or not tbl.column_names:
        return tbl
    sortable = [c for c in tbl.column_names
                if not str(tbl.schema.field(c).type).startswith(("list", "struct", "map"))]
    return tbl.sort_by([(c, "ascending") for c in sortable]) if sortable else tbl


class Query:
    """The headline queries in rounds, then the DuckDB pairing."""

    def __init__(self, spark, seed: int, run_dir: str, tracer):
        import bench
        from substreams_sink_clickhouse_spark.registry import all_specs
        from substreams_sink_clickhouse_spark.session import interactive_session

        self.spark, self.tracer = spark, tracer
        self.rng = np.random.default_rng([seed, 0x9E7])
        self.data = os.path.join(run_dir, "data")
        tables.write_tables(self.data, seed, SF)
        specs = {s.name: s for s in all_specs()}
        self.names = list(bench.HEADLINE)
        unpaired = [n for n in self.names if specs[n].oracle is None]
        if unpaired:
            raise RuntimeError(f"headline entries without oracle SQL: {unpaired}")
        self.specs = {n: specs[n] for n in self.names}
        inter = interactive_session(spark)
        self.session = {
            n: inter if s.profile == "interactive" else spark for n, s in self.specs.items()
        }
        self.value_hash = _value_hash()
        self.latencies: list[list[float]] = []  # per round, per query
        self.rounds: list[float] = []
        self.first: dict = {}
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.traced_result_bytes = 0
        self.duck_latencies: list[float] = []
        self.duck = duckdb.connect()
        self.duck.execute(f"SET threads TO {NPROC}")
        self.duck.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
        for table in FIXTURE_TABLES:
            self.duck.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{self.data}/{table}.parquet'"
            )

    def _run(self, name: str):
        clear_memos()
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("op.query"):
            with tr.span("query.build"):
                df = self.specs[name].builder(self.session[name], self.data)
            with tr.span("query.collect"):
                tbl = df.toArrow()
        return time.perf_counter() - t0, tbl

    def prepare(self) -> tuple[float, list[float]]:
        """Program-side preparation, repeated: the query registry and
        the interactive child session."""
        from substreams_sink_clickhouse_spark.registry import all_specs
        from substreams_sink_clickhouse_spark.session import interactive_session

        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            all_specs()
            interactive_session(self.spark)
            reps.append(time.perf_counter() - t0)
        return 0.0, reps

    def _round(self) -> None:
        """Every query once, in a seeded order; in the first round,
        after each engine call DuckDB runs the same query's oracle SQL,
        timed the same way."""
        total, lat = 0.0, []
        for name in self.rng.permutation(self.names):
            name = str(name)
            self.attempted += 1
            try:
                dt_s, tbl = self._run(name)
            except Exception as exc:  # a failed query counts, the run goes on
                self.failed += 1
                self.problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            total += dt_s
            lat.append(dt_s)
            if self.tracer.active:
                self.traced_result_bytes += tbl.nbytes
            canon = _canonical(tbl)
            if not self.rounds:
                t0 = time.perf_counter()
                want = self.duck.sql(self.specs[name].oracle).arrow()
                self.duck_latencies.append(time.perf_counter() - t0)
                self.first[name] = (canon, want)
            elif name in self.first and not canon.equals(self.first[name][0]):
                self.failed += 1
                self.problems.append(f"{name}: result differs from the first round")
        self.rounds.append(total)
        self.latencies.append(lat)

    def measure(self, deadline: float) -> None:
        """The cold round on the first call, then ``WARM_ROUNDS`` warm
        rounds per call, whatever the deadline: the cold round alone
        outlasts the run time."""
        if not self.rounds:
            self._round()
        for _ in range(WARM_ROUNDS):
            self._round()

    def finish(self) -> None:
        """Each query's first engine result against DuckDB's: row count,
        column names and order-insensitive value hash."""
        def rows(t):
            return list(zip(*[c.to_pylist() for c in t.columns])) if t.num_rows else []

        for name, (got, want) in self.first.items():
            g, w = rows(got), rows(want)
            same = (
                len(g) == len(w)
                and sorted(got.column_names) == sorted(want.column_names)
                and self.value_hash(got.column_names, g) == self.value_hash(want.column_names, w)
            )
            if not same:
                self.failed += 1
                self.problems.append(f"{name}: result differs from DuckDB")
        self.duck.close()

    def results(self) -> dict:
        from perfbench.harness import summary

        cold, warm = self.latencies[0], [x for r in self.latencies[1:] for x in r]
        q = summary(cold)
        return {
            # the op is the cold round: the 20 queries' latencies differ
            # by tens of times, so their median moves with which query
            # lands in the middle; the round total does not
            "ops": self.rounds[:1],
            "trace_ops": self.rounds[1:],
            # warm rounds: the same calls once the JVM and code generation
            # are warm, which the cold round hides
            "rate": len(warm) / sum(warm),
            "detail": {
                "query_p50_s": (q["p50"], "s"),
                "query_tail_s": (q["tail"], "s"),
                "query_tail_pct": (q["tail_pct"], "percentile"),
                "query_round_s": (self.rounds[0], "s"),
                "query_warm_round_s": (statistics.median(self.rounds[1:]), "s"),
                "duckdb_round_s": (sum(self.duck_latencies), "s"),
                "query_vs_duckdb_ratio": (sum(cold) / sum(self.duck_latencies), "ratio"),
                "rounds": (len(self.rounds), "count"),
            },
        }
