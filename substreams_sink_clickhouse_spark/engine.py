"""Engine facade: the single object a reference user switches to.

The reference's user experience is "run the sink, then query the
tables with ClickHouse SQL" (/root/reference/README.md:29-68).  The
Spark equivalent:

    from substreams_sink_clickhouse_spark.engine import Engine

    eng = Engine.local()                      # or Engine(spark, config)
    eng.setup(ddl_path="schema.sql")          # reference Loader.Setup
    eng.ingest("/data/changes/", catalog)     # reference `run` loop
    eng.sql("SELECT * FROM block_meta ORDER BY number LIMIT 10")
    eng.table("block_meta")                   # DataFrame
    eng.cursor("module-hash")                 # stream position
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from substreams_sink_clickhouse_spark.catalog import Catalog, setup as catalog_setup
from substreams_sink_clickhouse_spark.config import EngineConfig
from substreams_sink_clickhouse_spark.session import get_spark, tune_session
from substreams_sink_clickhouse_spark.streaming.pipeline import ChangesIngestPipeline


class Engine:
    def __init__(self, spark: SparkSession, config: EngineConfig | None = None):
        self.spark = tune_session(spark)
        self.config = config or EngineConfig()
        self._pipelines: dict[str, ChangesIngestPipeline] = {}
        #: query-result cache (ClickHouse ``use_query_cache`` parity):
        #: translated-query text -> (state fingerprint, persisted DF).
        self._query_cache: dict[str, tuple[tuple, DataFrame]] = {}
        #: bounded in-memory query history (system.query_log parity);
        #: surfaced as the ``system_query_log`` view on demand.
        self._query_log: list[tuple] = []
        #: external tables registered via register_external: name ->
        #: path, folded into the cache fingerprint by file mtime so
        #: use_query_cache invalidates when external data changes too.
        self._externals: dict[str, str] = {}
        #: module hash -> manifest version its sunk-table views read
        #: (see _sync_views).
        self._view_versions: dict[str, int] = {}

    @classmethod
    def local(cls, config: EngineConfig | None = None, **spark_kwargs) -> "Engine":
        return cls(get_spark(**spark_kwargs), config)

    def warm(self, sf_dir: str, names: list[str] | None = None) -> "Engine":
        """Pin hot tables in the in-memory buffer pool with a
        scan-parallel layout (sources/tables.warm_tables) — what a
        long-running query server does at startup.  Idempotent."""
        from substreams_sink_clickhouse_spark.sources.tables import warm_tables

        warm_tables(self.spark, sf_dir, names)
        return self

    def interactive(self, shuffle_partitions: int = 8) -> SparkSession:
        """A child session tuned for sub-second prepared plans (shares
        the context + buffer pool, own SQLConf; see
        session.interactive_session)."""
        from substreams_sink_clickhouse_spark.session import interactive_session

        return interactive_session(self.spark, shuffle_partitions)

    # -- schema bootstrap (reference Loader.Setup, db/db.go:212-249) --

    def setup(self, ddl_statements: list[str] | None = None, ddl_path: str | None = None) -> None:
        catalog_setup(self.spark, ddl_statements, ddl_path)

    def catalog_from_clickhouse_schema(
        self, ddl: str | None = None, ddl_path: str | None = None
    ) -> Catalog:
        """Build the ingest catalog from a ClickHouse schema file — the
        schema a reference deployment already has (its Loader.Setup
        input, /root/reference/db/db.go:212-229).  Pass the returned
        catalog to :meth:`ingest`."""
        from substreams_sink_clickhouse_spark.sources.clickhouse_ddl import (
            catalog_from_clickhouse_ddl,
        )

        if ddl is None:
            if ddl_path is None:
                raise ValueError("provide ddl or ddl_path")
            with open(ddl_path, encoding="utf-8") as fh:
                ddl = fh.read()
        return catalog_from_clickhouse_ddl(ddl)

    # -- ingest (reference `run` command, SURVEY §3.1) ----------------

    def _make_sink(self, catalog: Catalog):
        if not self.config.clickhouse_dsn:
            return None
        from substreams_sink_clickhouse_spark.sinks.clickhouse import ClickHouseHTTPSink

        return ClickHouseHTTPSink(self.config.clickhouse_dsn, catalog)

    def pipeline(self, catalog: Catalog, module_hash: str = "default") -> ChangesIngestPipeline:
        if module_hash not in self._pipelines:
            self._pipelines[module_hash] = ChangesIngestPipeline(
                self.spark,
                catalog,
                warehouse_dir=self.config.warehouse_dir,
                checkpoint_dir=os.path.join(self.config.checkpoint_dir, module_hash),
                module_hash=module_hash,
                n_buckets=self.config.n_buckets,
                clickhouse_sink=self._make_sink(catalog),
                on_decode_error=self.config.on_decode_error,
                dead_letter_dir=self.config.dead_letter_dir,
                start_block=self.config.start_block,
                stop_block=self.config.stop_block,
                write_mode=self.config.write_mode,
            )
        return self._pipelines[module_hash]

    def ingest(
        self,
        changes_path: str,
        catalog: Catalog,
        module_hash: str = "default",
        live: bool = False,
        timeout_s: int = 600,
    ) -> ChangesIngestPipeline:
        pipe = self.pipeline(catalog, module_hash)
        if live:
            pipe.start(changes_path, live=True)
        else:
            pipe.run_to_completion(changes_path, timeout_s=timeout_s)
        # expose ingested tables to SQL, plus ClickHouse-style system
        # catalog views (the reference introspects via system.tables /
        # system.columns, db/operations.go:211-277; dots aren't legal
        # in Spark view names, so: system_tables / system_columns)
        self._sync_views(pipe)
        from substreams_sink_clickhouse_spark.sources.clickhouse_ddl import (
            register_system_views,
        )

        register_system_views(self.spark, catalog)
        return pipe

    # -- query surface ------------------------------------------------

    def _sync_views(self, pipe: ChangesIngestPipeline) -> None:
        """Register ``pipe``'s sunk tables as SQL views and remember the
        manifest version they read.  A view is a plan fixed at
        registration, so :meth:`sql` calls this before every query and
        it re-registers only when the version has moved."""
        version = pipe.state.read_manifest()["version"]
        if self._view_versions.get(pipe.module_hash) != version:
            self._view_versions[pipe.module_hash] = version
            for name in pipe.catalog.tables:
                pipe.table(name).createOrReplaceTempView(name)

    def _state_fingerprint(self) -> tuple:
        """The live pipelines' manifest versions (every commit, epoch or
        maintenance, moves one) plus the external tables' mtimes —
        changes exactly when cached results go stale.  A pipeline with
        views counts at the version :meth:`sql` just synced them to."""
        fp = [
            (mh, self._view_versions[mh] if mh in self._view_versions
             else pipe.state.read_manifest()["version"])
            for mh, pipe in sorted(self._pipelines.items())
        ]
        # external tables: newest mtime under the registered path —
        # RECURSIVE, because the standard Spark layout nests files in
        # partition subdirectories (path/part=1/file.parquet) whose
        # rewrites bump neither the root's mtime nor any direct child
        # file's.  Driver-side metadata walk; acceptable for a cache
        # probe (it touches inodes, not data).
        for name, path in sorted(self._externals.items()):
            try:
                mtime = os.path.getmtime(path)
                if os.path.isdir(path):
                    for root, _dirs, files in os.walk(path):
                        mtime = max(
                            [mtime, os.path.getmtime(root)]
                            + [
                                os.path.getmtime(os.path.join(root, f))
                                for f in files
                            ]
                        )
            except OSError:
                mtime = None
            fp.append(("__external", name, path, mtime))
        return tuple(fp)

    _QUERY_CACHE_MAX = 32
    _QUERY_LOG_MAX = 1000

    def _log_query(self, query: str, dialect, cached: bool) -> None:
        import time as _time

        self._query_log.append(
            (len(self._query_log) + 1, query, dialect or "spark", cached,
             float(_time.time()))
        )
        if len(self._query_log) > self._QUERY_LOG_MAX:
            del self._query_log[0 : len(self._query_log) - self._QUERY_LOG_MAX]

    def query_log(self) -> DataFrame:
        """ClickHouse ``system.query_log`` parity (bounded, in-memory):
        one row per ``Engine.sql`` call — id, translated query text,
        dialect, cache flag, wall-clock timestamp.  Also registered as
        the ``system_query_log`` view for SQL access."""
        df = self.spark.createDataFrame(
            self._query_log or [(0, "", "spark", False, 0.0)],
            "query_id long, query string, dialect string, used_cache boolean, ts double",
        )
        if not self._query_log:
            df = df.limit(0)
        df.createOrReplaceTempView("system_query_log")
        return df

    def sql(
        self,
        query: str,
        dialect: str | None = None,
        use_query_cache: bool = False,
    ) -> DataFrame:
        """Run SQL.  ``dialect="clickhouse"`` first translates the
        documented ClickHouse-SQL subset (functions/dialect.py) so the
        reference's user-facing queries run unchanged.

        ``use_query_cache=True`` is ClickHouse query-cache parity: the
        result DataFrame is persisted and returned for repeats of the
        same (translated) query text, invalidated automatically when
        any ingest epoch or storage mutation advances.  Opt-in, like
        ClickHouse's setting — correctness-sensitive callers skip it."""
        for mh in self._view_versions:
            self._sync_views(self._pipelines[mh])
        fill_spec = None
        if "SYSTEM_TIME" in query.upper():
            query = self._rewrite_system_time(query)
        if dialect == "clickhouse":
            routed = self._route_explain(query)
            if routed is not None:
                return routed
            from substreams_sink_clickhouse_spark.functions.dialect import (
                clickhouse_to_spark_sql,
                rewrite_final_tables,
            )

            # Maintenance STATEMENTS (not queries): route to the
            # storage APIs so a reference deployment's operational SQL
            # runs unchanged.  Returned as single-row status frames to
            # keep the signature.
            routed = self._route_maintenance_statement(query)
            if routed is not None:
                return routed
            from substreams_sink_clickhouse_spark.functions.fill import (
                strip_with_fill,
            )

            # ``ORDER BY ... WITH FILL`` needs the result schema (the
            # generated rows carry per-column type defaults), so it is
            # stripped here and applied structurally after planning —
            # the one clause the text-to-text translator can't do.
            # Its FROM/TO/STEP bound expressions are still ClickHouse
            # dialect (e.g. ``FROM toDate('2020-01-01')``) and are
            # later evaluated via F.expr, so they go through the same
            # expression translation as the query body.
            query, fill_spec = strip_with_fill(query)
            if fill_spec is not None and any(
                (fill_spec.from_, fill_spec.to, fill_spec.step)
            ):
                from dataclasses import replace as _dc_replace

                fill_spec = _dc_replace(
                    fill_spec,
                    from_=clickhouse_to_spark_sql(fill_spec.from_)
                    if fill_spec.from_ else None,
                    to=clickhouse_to_spark_sql(fill_spec.to)
                    if fill_spec.to else None,
                    step=clickhouse_to_spark_sql(fill_spec.step)
                    if fill_spec.step else None,
                )

            # ``FROM t FINAL`` on a table this engine ingested resolves
            # to a version-collapsed view (ReplacingMergeTree latest-
            # version / SummingMergeTree summed reads — exactly
            # Engine.table(name, final=True)); unknown tables fall
            # through to the translator's FINAL guard, which raises
            # with the Engine.table pointer.
            query = rewrite_final_tables(query, self._final_view)
            query = clickhouse_to_spark_sql(
                query, column_types=self._catalog_column_types() or None
            )
        elif dialect not in (None, "spark"):
            raise ValueError(f"unknown SQL dialect: {dialect!r}")
        self._log_query(query, dialect, bool(use_query_cache))

        def _build() -> DataFrame:
            df = self.spark.sql(query)
            if fill_spec is not None:
                from substreams_sink_clickhouse_spark.functions.fill import (
                    apply_with_fill,
                )

                df = apply_with_fill(df, fill_spec)
            return df

        if not use_query_cache:
            return _build()
        # same stripped text + different fill bounds must not collide
        cache_key = (
            query
            if fill_spec is None
            else query + "\n-- " + fill_spec.cache_token()
        )
        fp = self._state_fingerprint()
        hit = self._query_cache.get(cache_key)
        if hit is not None and hit[0] == fp:
            return hit[1]
        if hit is not None:
            hit[1].unpersist()
        df = _build().persist()
        if len(self._query_cache) >= self._QUERY_CACHE_MAX:
            # drop the oldest entry (insertion order = LRU-enough for a
            # bounded interactive cache)
            old_key, (_, old_df) = next(iter(self._query_cache.items()))
            old_df.unpersist()
            del self._query_cache[old_key]
        self._query_cache[cache_key] = (fp, df)
        return df

    def _catalog_column_types(self) -> dict[str, str]:
        """Column -> Spark DDL type over every ingested table's catalog
        schema — the lookup that lets the dialect's 2-arg
        ``arrayResize``/``arrayShift*`` forms infer their type-default
        pad element.  A name cataloged with two different types across
        tables is dropped (ambiguous; the user passes the fill)."""
        types: dict[str, str] = {}
        ambiguous: set[str] = set()
        for pipe in self._pipelines.values():
            for tname in pipe.catalog.tables:
                for fld in pipe.catalog.get(tname).schema.fields:
                    ddl = fld.dataType.simpleString()
                    if types.get(fld.name, ddl) != ddl:
                        ambiguous.add(fld.name)
                    types[fld.name] = ddl
        for name in ambiguous:
            del types[name]
        return types

    def _final_view(self, name: str) -> str | None:
        """Register (idempotently) a FINAL-semantics view of an
        ingested table for the dialect's ``FROM t FINAL`` rewrite."""
        for mh, pipe in self._pipelines.items():
            if name in pipe.catalog.tables:
                view = f"__final_{name}"
                self.table(name, module_hash=mh, final=True).createOrReplaceTempView(
                    view
                )
                return view
        return None

    def show_create(self, name: str, module_hash: str = "default") -> str:
        """ClickHouse ``SHOW CREATE TABLE`` parity: the table's DDL
        rendered from the engine catalog (round-trips through
        ``catalog_from_clickhouse_ddl``)."""
        from substreams_sink_clickhouse_spark.sources.clickhouse_ddl import (
            render_clickhouse_ddl,
        )

        pipe = self._pipelines.get(module_hash) or next(
            iter(self._pipelines.values()), None
        )
        if pipe is None or name not in pipe.catalog.tables:
            raise ValueError(f"unknown table: {name!r}")
        return render_clickhouse_ddl(pipe.catalog.get(name))

    def register_external(
        self, name: str, path: str, fmt: str = "parquet", schema=None,
        row_tag: str = "row",
    ) -> DataFrame:
        """ClickHouse ``file()`` table-function parity at the engine
        level: expose a file-based table (parquet/ORC/CSV/TSV/JSONL/XML
        — see ``sources/formats.py``) as a queryable view for
        ``engine.sql``.  Text formats require an explicit schema; XML
        additionally takes the row element name (``row_tag``)."""
        from substreams_sink_clickhouse_spark.sources.formats import read_table

        df = read_table(self.spark, path, fmt, schema=schema, row_tag=row_tag)
        df.createOrReplaceTempView(name)
        self._externals[name] = path
        return df

    def table(
        self, name: str, module_hash: str = "default", final: bool = False
    ) -> DataFrame:
        """Read a sunk table.  ``final=True`` gives ReplacingMergeTree
        ``SELECT ... FINAL`` semantics: for a table declared with
        ``ENGINE = ReplacingMergeTree(version)`` only the highest
        version per primary key is returned (no-op for other engines
        or when no version column is declared)."""
        pipe = self._pipelines.get(module_hash)
        if pipe is not None and name in pipe.catalog.tables:
            df = pipe.table(name)
            info = pipe.catalog.get(name)
        else:
            df = self.spark.table(name)
            info = None
        if final and info is not None:
            from substreams_sink_clickhouse_spark.operators.merge import (
                collapse_summing,
                collapse_versions,
            )

            if info.version_column is not None:
                df = collapse_versions(df, info.primary_key, info.version_column)
            elif info.engine.upper() == "SUMMINGMERGETREE":
                df = collapse_summing(df, info.primary_key, info.sum_columns)
        return df

    def table_as_of(
        self,
        name: str,
        version: int | None = None,
        block: int | None = None,
        module_hash: str | None = None,
    ) -> DataFrame:
        """Time travel on a sunk table: its committed state as of a
        manifest ``version`` or as of a stream ``block`` number
        (resolved through the block each of the table's snapshots
        records, reference analog db/cursor.go:120-125).  Snapshot
        history is free with the versioned-bucket layout (subject to
        vacuum retention).  Exactly one of ``version`` / ``block`` must
        be given."""
        if (version is None) == (block is None):
            raise ValueError("pass exactly one of version= / block=")
        for mh, pipe in sorted(self._pipelines.items()):
            if module_hash not in (None, mh):
                continue
            if name in pipe.catalog.tables:
                return pipe.state.table_state_as_of(name, version, block)
        raise ValueError(f"unknown sunk table: {name!r}")

    def _rewrite_system_time(self, query: str) -> str:
        """SQL:2011 temporal-query surface over the DV snapshot layers:
        ``FROM t FOR SYSTEM_TIME AS OF [BLOCK|VERSION] <n>`` resolves the
        table to its historical state (BLOCK is the default unit — the
        reference's provenance domain) by registering an as-of temp
        view and substituting its name.  Runs before dialect
        translation so ClickHouse-dialect queries can use it too.
        String literals are masked first (the same segment scan as the
        translator) so SYSTEM_TIME-shaped TEXT inside a quoted string
        is never rewritten — no spurious ``__asof_*`` views, no raise
        for an unknown table named in prose."""
        import re as _re

        from substreams_sink_clickhouse_spark.functions.dialect import (
            _segments,
        )

        def _sub(m: "_re.Match[str]") -> str:
            name, kind, n = (
                m.group(1),
                (m.group(2) or "BLOCK").upper(),
                int(m.group(3)),
            )
            df = self.table_as_of(
                name,
                version=n if kind == "VERSION" else None,
                block=n if kind == "BLOCK" else None,
            )
            view = f"__asof_{name}_{kind.lower()}{n}"
            df.createOrReplaceTempView(view)
            return view

        pat = _re.compile(
            r"\b(\w+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+"
            r"(?:(VERSION|BLOCK)\s+)?(\d+)",
            flags=_re.IGNORECASE,
        )
        return "".join(
            pat.sub(_sub, text) if is_code else text
            for is_code, text in _segments(query)
        )

    def cursor(self, module_hash: str = "default", on_mismatch: str = "error"):
        pipe = self._pipelines.get(module_hash) or next(iter(self._pipelines.values()), None)
        if pipe is None:
            return None
        return pipe.cursors.get_cursor(module_hash, on_mismatch)

    def add_column(
        self, table: str, column: str, dtype, module_hash: str = "default"
    ):
        """``ALTER TABLE ... ADD COLUMN`` on a sunk table: metadata-only
        (existing state reads the new column as NULL; subsequent flushes
        coerce it from incoming change fields).  Applies to the active
        pipeline's catalog so a running ingest picks it up at its next
        micro-batch."""
        pipe = self._pipelines.get(module_hash) or next(iter(self._pipelines.values()), None)
        if pipe is None:
            raise ValueError("no ingest pipeline active; call ingest()/pipeline() first")
        info = pipe.catalog.add_column(table, column, dtype)
        # re-register whatever the version: the views' schema changed
        self._view_versions.pop(pipe.module_hash, None)
        self._sync_views(pipe)
        return info

    def _route_explain(self, query: str):
        """ClickHouse ``EXPLAIN [kind] <query>`` parity: a reference
        user's plan-inspection statements run unchanged.

        * ``EXPLAIN SYNTAX q`` — ClickHouse returns the rewritten
          query; here that is the TRANSLATED Spark SQL text (the most
          useful shim-debugging surface), one row per line.
        * ``EXPLAIN [PLAN] q`` / ``EXPLAIN PIPELINE q`` — the Spark
          formatted physical plan (``EXPLAIN FORMATTED``) of the
          translated query, as Spark's own one-column plan frame.
        * ``EXPLAIN ESTIMATE q`` — ``EXPLAIN COST`` (Spark's stats
          estimates are the engine analogue of ClickHouse's
          rows/marks estimate).
        * ``EXPLAIN AST`` — raises: the ClickHouse AST has no Spark
          equivalent; use SYNTAX for the rewritten query.

        Returns ``None`` when ``query`` is not an EXPLAIN statement.
        ``ORDER BY ... WITH FILL`` inside an explained query is
        stripped (the fill is a structural post-step applied outside
        the SQL plan; the explained plan covers everything below it)."""
        import re as _re

        m = _re.match(
            r"\s*EXPLAIN(?:\s+(AST|SYNTAX|PLAN|PIPELINE|ESTIMATE))?\s+"
            r"(?=SELECT\b|WITH\b)(.+)$",
            query,
            flags=_re.IGNORECASE | _re.DOTALL,
        )
        if m is None:
            return None
        kind = (m.group(1) or "PLAN").upper()
        if kind == "AST":
            raise ValueError(
                "EXPLAIN AST has no Spark equivalent - use EXPLAIN "
                "SYNTAX for the translated query text or EXPLAIN for "
                "the physical plan"
            )
        from substreams_sink_clickhouse_spark.functions.dialect import (
            clickhouse_to_spark_sql,
            rewrite_final_tables,
        )
        from substreams_sink_clickhouse_spark.functions.fill import strip_with_fill

        inner, _fill = strip_with_fill(m.group(2))
        inner = rewrite_final_tables(inner, self._final_view)
        translated = clickhouse_to_spark_sql(
            inner, column_types=self._catalog_column_types() or None
        )
        if kind == "SYNTAX":
            from pyspark.sql import types as T

            from substreams_sink_clickhouse_spark.functions.localdata import local_df

            return local_df(
                self.spark,
                [(line,) for line in translated.splitlines() if line.strip()]
                or [(translated.strip(),)],
                T.StructType([T.StructField("explain", T.StringType())]),
            )
        mode = "COST" if kind == "ESTIMATE" else "FORMATTED"
        return self.spark.sql(f"EXPLAIN {mode} {translated}")

    def _route_maintenance_statement(self, query: str):
        """Recognize the ClickHouse maintenance statements a reference
        deployment runs operationally and route them to the storage
        APIs: ``OPTIMIZE TABLE t [FINAL]`` → :meth:`optimize`;
        ``ALTER TABLE t DELETE WHERE pred`` (the mutation shape the
        reference itself emits, db/operations.go:93-111) →
        :meth:`apply_ttl` with the translated predicate.  Returns a
        single-row status DataFrame, or ``None`` when ``query`` is not
        a maintenance statement (the normal SELECT path proceeds)."""
        import re as _re

        from pyspark.sql import types as T

        from substreams_sink_clickhouse_spark.functions.localdata import local_df

        m = _re.fullmatch(
            r"\s*OPTIMIZE\s+TABLE\s+(`?)(\w+)\1(\s+FINAL)?\s*;?\s*",
            query,
            flags=_re.IGNORECASE,
        )
        if m:
            stats = self.optimize(m.group(2)) or {}
            return local_df(
                self.spark,
                [(m.group(2), int(stats.get("files_before", 0)),
                  int(stats.get("files_after", 0)))],
                T.StructType([
                    T.StructField("table", T.StringType()),
                    T.StructField("files_before", T.LongType()),
                    T.StructField("files_after", T.LongType()),
                ]),
            )
        m = _re.fullmatch(
            r"\s*ALTER\s+TABLE\s+(`?)(\w+)\1\s+DELETE\s+WHERE\s+(.+?)\s*;?\s*",
            query,
            flags=_re.IGNORECASE | _re.DOTALL,
        )
        if m:
            from substreams_sink_clickhouse_spark.functions.dialect import (
                clickhouse_to_spark_sql,
            )

            n = self.apply_ttl(m.group(2), clickhouse_to_spark_sql(m.group(3)))
            return local_df(
                self.spark,
                [(m.group(2), int(n))],
                T.StructType([
                    T.StructField("table", T.StringType()),
                    T.StructField("n_deleted", T.LongType()),
                ]),
            )
        m = _re.fullmatch(
            r"\s*TRUNCATE\s+TABLE\s+(?:IF\s+EXISTS\s+)?(`?)(\w+)\1\s*;?\s*",
            query,
            flags=_re.IGNORECASE,
        )
        if m:
            n = self.apply_ttl(m.group(2), "true")
            return local_df(
                self.spark,
                [(m.group(2), int(n))],
                T.StructType([
                    T.StructField("table", T.StringType()),
                    T.StructField("n_deleted", T.LongType()),
                ]),
            )
        m = _re.fullmatch(
            r"\s*ALTER\s+TABLE\s+(`?)(\w+)\1\s+UPDATE\s+(.+?)\s*;?\s*",
            query,
            flags=_re.IGNORECASE | _re.DOTALL,
        )
        if m:
            from substreams_sink_clickhouse_spark.functions.dialect import (
                _blank_parens,
                _segments,
                clickhouse_to_spark_sql,
            )

            # Split assignments from the predicate at the WHERE that
            # sits at paren depth 0 AND outside string literals —
            # ``SET note = 'see WHERE docs'`` or an assignment subquery
            # ``(SELECT ... WHERE ...)`` must not capture the split
            # (round-6 advisory).  Literals/backquotes are masked to
            # spaces (length-preserving, so indices map back), then
            # paren content is blanked the same way.
            rest = m.group(3)
            masked = "".join(
                text if is_code else " " * len(text)
                for is_code, text in _segments(rest)
            )
            masked = _blank_parens(masked)
            wm = _re.search(r"\bWHERE\b", masked, flags=_re.IGNORECASE)
            if not wm:
                raise ValueError(
                    "ALTER TABLE ... UPDATE requires a WHERE clause "
                    "(ClickHouse mutations are always predicated)"
                )
            assigns_sql = rest[: wm.start()]
            pred_sql = rest[wm.end() :]

            # comma-split the assignment list on the masked copy so
            # commas inside literals / nested calls don't split
            parts: list[str] = []
            depth = start = 0
            amasked = masked[: wm.start()]
            for k, ch in enumerate(amasked):
                if ch in "([":
                    depth += 1
                elif ch in ")]":
                    depth -= 1
                elif ch == "," and depth == 0:
                    parts.append(assigns_sql[start:k])
                    start = k + 1
            parts.append(assigns_sql[start:])

            assignments: dict[str, str] = {}
            for part in (p.strip() for p in parts):
                col, eq, expr = part.partition("=")
                if not eq or not col.strip().replace("`", "").isidentifier():
                    raise ValueError(
                        f"cannot parse UPDATE assignment {part!r} "
                        "(expected col = expr, comma-separated)"
                    )
                assignments[col.strip().strip("`")] = clickhouse_to_spark_sql(
                    expr.strip()
                )
            n = self.apply_update(
                m.group(2), assignments, clickhouse_to_spark_sql(pred_sql.strip())
            )
            return local_df(
                self.spark,
                [(m.group(2), int(n))],
                T.StructType([
                    T.StructField("table", T.StringType()),
                    T.StructField("n_updated", T.LongType()),
                ]),
            )
        return None

    # -- storage maintenance (OPTIMIZE FINAL / TTL / system.parts) ----

    def _state(self, module_hash: str = "default"):
        pipe = self._pipelines.get(module_hash) or next(iter(self._pipelines.values()), None)
        if pipe is None:
            raise ValueError("no ingest pipeline active; call ingest()/pipeline() first")
        return pipe.state

    def optimize(
        self,
        name: str,
        module_hash: str = "default",
        zorder: list[str] | None = None,
    ) -> dict | None:
        """``OPTIMIZE TABLE <name> FINAL``: compact each pk-bucket of
        the sunk table to one pk-sorted file.  ``zorder=[c1, c2]``
        clusters by the Morton key instead (OPTIMIZE ZORDER parity)."""
        return self._state(module_hash).optimize(name, zorder=zorder)

    def apply_ttl(self, name: str, expire_predicate: str, module_hash: str = "default") -> int:
        """ClickHouse TTL mutation: delete rows matching the expiry
        predicate; only buckets holding expired rows are rewritten."""
        return self._state(module_hash).apply_ttl(name, expire_predicate)

    def apply_update(
        self,
        name: str,
        assignments: dict[str, str],
        predicate: str,
        module_hash: str = "default",
    ) -> int:
        """``ALTER TABLE ... UPDATE col = expr WHERE pred`` mutation:
        rewrite matching rows in the affected buckets only."""
        return self._state(module_hash).apply_update(name, assignments, predicate)

    def rebucket(self, name: str, new_n_buckets: int, module_hash: str = "default") -> dict | None:
        """Rescale a table's pk-bucket fan-out online (the epoch
        rewrite unit must grow with the table)."""
        return self._state(module_hash).rebucket(name, new_n_buckets)

    def parts(self, name: str, module_hash: str = "default") -> DataFrame:
        """``system.parts``: per-bucket storage metadata (files, bytes,
        rows) of the live table state, as a DataFrame."""
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from substreams_sink_clickhouse_spark.functions.localdata import (
            empty_df,
            local_df,
        )

        schema = StructType(
            [
                StructField("table", StringType()),
                StructField("bucket", IntegerType()),
                StructField("path", StringType()),
                StructField("n_files", IntegerType()),
                StructField("bytes", LongType()),
                StructField("rows", LongType()),
            ]
        )
        rows = [
            (p["table"], p["bucket"], p["path"], p["n_files"], p["bytes"], p["rows"])
            for p in self._state(module_hash).parts(name)
        ]
        if not rows:
            return empty_df(self.spark, schema)
        return local_df(self.spark, rows, schema)
