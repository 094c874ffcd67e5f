"""Streaming CDC ingest pipeline (reference run-loop, SURVEY §3.1).

``readStream`` (JSONL/parquet DatabaseChanges) → decode → validate →
distributed merge (operators/merge.py) → per-epoch versioned parquet
table state + cursor.  The reference's single DB transaction per
flush (/root/reference/db/flush.go:12-69) has no parquet analog, so
effectively-once is achieved the way Spark sinks do it:

* a tiny JSON manifest counts its replaces in ``version``, the only
  name a commit has: a commit that reads version N writes each
  affected table's NEW state to fresh ``<table>/v<N>`` (and ``dv<N>``)
  directories;
* the manifest is then swapped atomically (``os.replace``) to point
  readers at them, record the block each table reflects and move the
  module's cursor to this epoch — the ONE commit point of an epoch;
* on restart/replay of an epoch the module's cursor shows it already
  applied and the batch becomes a no-op (idempotent replay over the
  at-least-once file source, keyed by the query's own epoch id —
  same net semantics as the reference's transactional cursor).

Flush cadence (O9): the reference flushes every 1000 blocks during
catch-up and every block when live (sinker/sinker.go:19-22,180-194).
In Structured Streaming the micro-batch IS the flush window:
``availableNow`` batches the whole backlog (catch-up), a
``processingTime`` trigger approximates live cadence.

Scale: merge-on-write is BOUNDED — state is hash-bucketed by pk and an
epoch reads/rewrites only the buckets its window touched (see
``TableStateStore``), so per-flush cost is O(affected buckets), not
O(table).  The versioned-directory + manifest scheme is exactly what
Delta/Iceberg formalize; we keep it explicit and dependency-free.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from substreams_sink_clickhouse_spark.catalog import Catalog
from substreams_sink_clickhouse_spark.functions.localdata import empty_df
from substreams_sink_clickhouse_spark.operators.merge import (
    apply_table_ops,
    apply_table_ops_delta,
    guard_merge_errors,
    reduce_changes,
)
from substreams_sink_clickhouse_spark.errors import ManifestFormatError, UnknownTableError
from substreams_sink_clickhouse_spark.sinks.clickhouse import cursor_update_statement
from substreams_sink_clickhouse_spark.streaming.cursors import Cursor, CursorStore

#: Flush cadence constants (sinker/sinker.go:19-22).
HISTORICAL_BLOCK_FLUSH_EACH = 1000
LIVE_BLOCK_FLUSH_EACH = 1

#: Deletion-vector layer cap: a bucket carrying this many data layers
#: is compacted by the next epoch's full rewrite instead of growing
#: another sidecar (bounds read-side union/anti-join width; OPTIMIZE
#: compacts eagerly).
MAX_SIDECAR_LAYERS = 4

#: Sidecar windows broadcast the window's ops against the bucket
#: state; a window with more ops than this takes the shuffle-based
#: full-rewrite reconcile instead (a 2M-op broadcast is ~hundreds of
#: MB with field maps — past the point where a hash-probe beats the
#: sort-merge reconcile anyway).
MAX_SIDECAR_WINDOW_OPS = 2_000_000

#: Accumulated deletion-vector byte budget per bucket.  The layer cap
#: (MAX_SIDECAR_LAYERS) bounds DATA-layer growth, but pure-delete
#: epochs grow only the dv — no new layer — so without this cap the dv
#: can approach the bucket's physical row count and (a) blow the
#: read-side broadcast, (b) make every read anti-join against a mask
#: as large as the data.  A bucket whose dv exceeds the budget takes
#: the full-rewrite reconcile on its next touch, which rewrites the
#: visible rows and CLEARS the dv (the manifest entry is replaced
#: whole).  Reads over an already-oversized dv fall back from
#: broadcast to a shuffle anti-join rather than failing.
MAX_DV_BYTES_PER_BUCKET = 32 * 1024 * 1024

#: Read-side broadcast budget for the UNION of deletion vectors across
#: every probed bucket.  Distinct from the per-bucket cap above: that
#: one is a compaction trigger, and comparing a MULTI-bucket read's
#: total dv against it would demote perfectly healthy full-table reads
#: (64 buckets × a few hundred KB each) to a shuffle anti-join
#: (round-6 advisory).  256 MB is comfortably under Spark's broadcast
#: ceiling while still catching genuinely oversized masks.
MAX_DV_BYTES_BROADCAST_TOTAL = 256 * 1024 * 1024


def _parquet_dir_bytes(path: str | None) -> int:
    """Total bytes of the .parquet files directly under ``path`` (0 for
    missing/None).  Driver-side manifest bookkeeping — file sizes only,
    no footer reads."""
    if not path or not os.path.isdir(path):
        return 0
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _observed_rows(obs) -> int:
    """Best-effort read of a flush observation: an epoch whose commit
    write produced no rows can leave the observation unset inside
    foreachBatch (Spark returns an opaque assertion from ``get``).
    Counters are observability, not correctness — treat unreadable as
    0 rather than failing the committed batch."""
    try:
        return int(obs.get["rows"])
    except Exception:
        return 0


class TableStateStore:
    """Versioned, hash-bucketed parquet table state with an atomic JSON
    manifest.

    Layout: every table's rows hash into ``n_buckets`` pk-buckets
    (``pmod(xxhash64(pk), n)``); a committed epoch writes version
    directories ONLY for the buckets its change window touched, and
    the manifest maps ``bucket -> current path``.  Untouched buckets
    keep their existing files — so per-epoch rewrite cost is
    O(affected buckets), not O(table).  At 100 TB this is the
    difference between a sink that keeps up and one that rewrites the
    world every flush; it answers SURVEY §7's "updates/deletes on
    immutable files" hazard.  (Delta/Iceberg formalize the same idea
    as file-level rewrite + snapshot manifest; we keep it explicit and
    dependency-free.)

    ``history`` holds full bucket-map snapshots with their modulus,
    commit version and the block they reflect, so reorg rollback (a
    manifest edit), time travel and vacuum (drop unreferenced bucket
    dirs) work unchanged on the bucketed layout.  Only this class
    writes the manifest, and only ``_write_manifest`` moves its
    ``version``.

    Round 5 adds DELETION-VECTOR commits (Delta/Iceberg
    merge-on-read, dependency-free): a bucket value may be a layered
    entry — base + per-epoch delta files plus one ``(src, pk)``
    deletion-vector parquet — so an update/delete-heavy epoch writes
    O(changed rows) instead of rewriting whole buckets (measured 31×
    byte reduction, tools/bench_dv.py).  See ``_entry_layers`` /
    ``_read_bmap_subset`` / ``commit_epoch(sidecar_states=...)``.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        catalog: Catalog,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.catalog = catalog
        self.n_buckets = n_buckets
        os.makedirs(warehouse_dir, exist_ok=True)

    def bucket_expr(self, pk_col: str, n: int | None = None):
        """Deterministic pk-bucket: stable across engines, sessions,
        and partitionings (never rand())."""
        return F.pmod(
            F.xxhash64(F.col(pk_col).cast("string")), F.lit(n or self.n_buckets)
        )

    def table_n_buckets(self, name: str) -> int:
        """Per-table bucket fan-out: manifest metadata (set by
        ``rebucket``), defaulting to the store-wide setting.  Bucket
        count must scale with the table — 16 buckets bounding epoch
        rewrites at GB scale become multi-TB rewrite units at 100 TB —
        so it is table state, not engine config."""
        entry = self.read_manifest()["tables"].get(name)
        if entry and "n_buckets" in entry:
            return int(entry["n_buckets"])
        return self.n_buckets

    def batch_bucket_expr(self, tables: list[str]):
        """Bucket id for a mixed-table changes batch (column ``pk``
        against column ``table``), honoring each table's own modulus.
        Collapses to a single literal when all modulî agree (the
        common case — no per-row branching in the plan)."""
        moduli = {t: self.table_n_buckets(t) for t in tables}
        values = set(moduli.values())
        if len(values) <= 1:
            n = values.pop() if values else self.n_buckets
            return self.bucket_expr("pk", n)
        mapping = F.create_map(
            *[x for t, n in moduli.items() for x in (F.lit(t), F.lit(n))]
        )
        modulus = F.coalesce(mapping[F.col("table")], F.lit(self.n_buckets))
        return F.pmod(F.xxhash64(F.col("pk").cast("string")), modulus)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.warehouse_dir, "manifest.json")

    def read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"version": 0, "tables": {}, "cursors": {}}
        with open(self._manifest_path, encoding="utf-8") as fh:
            manifest = json.load(fh)
        if "version" not in manifest:
            raise ManifestFormatError(
                f"{self._manifest_path} predates versioned manifests; "
                "re-ingest this warehouse (see MIGRATION.md)"
            )
        return manifest

    def _write_manifest(self, manifest: dict) -> None:
        """Replace the manifest atomically as the next version."""
        fd, tmp = tempfile.mkstemp(dir=self.warehouse_dir, suffix=".manifest")
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump({**manifest, "version": manifest["version"] + 1}, fh)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    # ------------------------------------------ bucket-entry helpers
    #
    # A manifest bucket value is either
    #   * a PATH string — one current data dir, no sidecars (what a
    #     full-rewrite commit writes; the only form before round 5), or
    #   * a dict {"files": [{"version": v, "path": p}, ...],
    #             "dv": path-or-None}
    #     — merge-on-READ layers: base + per-commit delta files plus ONE
    #     current deletion-vector parquet of (src, pk) rows naming the
    #     superseded physical rows (src = the version tag of the file
    #     holding the dead row; plain-path base files are tagged -1).
    #     A reader subtracts the dv with an anti-join; OPTIMIZE (or the
    #     next full-rewrite commit) compacts the entry back to a plain
    #     path.

    @staticmethod
    def _entry_layers(val) -> list[dict]:
        """Normalize a bucket value to its layer list."""
        if val is None:
            return []
        if isinstance(val, str):
            return [{"version": -1, "path": val}]
        return list(val.get("files", []))

    @staticmethod
    def _entry_dv(val) -> str | None:
        return val.get("dv") if isinstance(val, dict) else None

    def _read_bmap_subset(
        self, info, bmap: dict, keys: list[str], with_src: bool = False
    ) -> DataFrame:
        """Visible rows of the given bucket entries: union the data
        layers (grouped by version tag — one parquet read per layer
        generation, each a parallel multi-path scan), then anti-join
        away deletion-vector rows on (src, pk).  ``with_src`` keeps the
        ``__src`` version-tag column (the sidecar apply path needs it
        to name the superseded physical rows)."""
        entries = [bmap.get(k) for k in keys]
        dv_paths = [p for e in entries if (p := self._entry_dv(e))]
        by_version: dict[int, list[str]] = {}
        for e in entries:
            for layer in self._entry_layers(e):
                by_version.setdefault(int(layer["version"]), []).append(layer["path"])
        if not by_version:
            df = empty_df(self.spark, info.schema)
            return df.selectExpr("*", "CAST(NULL AS LONG) AS __src") if with_src else df
        if not dv_paths and not with_src:
            # fast path — identical to the pre-deletion-vector reader:
            # one multi-path scan, no tagging, no join
            all_paths = [p for ps in by_version.values() for p in ps]
            return self.spark.read.schema(info.schema).parquet(*all_paths)
        parts = [
            self.spark.read.schema(info.schema)
            .parquet(*paths)
            .selectExpr("*", f"CAST({version} AS LONG) AS __src")
            for version, paths in sorted(by_version.items())
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if dv_paths:
            dv = (
                self.spark.read.schema("src LONG, pk STRING")
                .parquet(*dv_paths)
                .selectExpr("src AS __dv_src", "pk AS __dv_pk")
            )
            # broadcast only within budget: an oversized TOTAL dv
            # (across all probed buckets) takes a shuffle anti-join
            # instead of risking the broadcast limit.  The total cap,
            # not the per-bucket compaction trigger, governs here — a
            # many-bucket read of healthy buckets must keep its
            # broadcast (round-6 advisory).
            if (
                sum(_parquet_dir_bytes(p) for p in dv_paths)
                <= MAX_DV_BYTES_BROADCAST_TOTAL
            ):
                dv = F.broadcast(dv)
            pk = info.primary_key.replace("`", "``")
            df = df.join(
                dv,
                F.expr(f"__src = __dv_src AND CAST(`{pk}` AS STRING) = __dv_pk"),
                "left_anti",
            )
        return df if with_src else df.drop("__src")

    def table_state(self, name: str) -> DataFrame:
        """Current full state of a table (empty DF with catalog schema
        if never written)."""
        return self.bucket_state(name, None)

    def bucket_state(
        self, name: str, buckets: list[int] | None, with_src: bool = False
    ) -> DataFrame:
        """State restricted to the given pk-buckets — what the
        reconcile join reads, so a flush window touching 3 of 16
        buckets scans 3/16 of the table."""
        info = self.catalog.get(name)
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            df = empty_df(self.spark, info.schema)
            return df.selectExpr("*", "CAST(NULL AS LONG) AS __src") if with_src else df
        bmap = entry["buckets"]
        keys = [str(b) for b in buckets] if buckets is not None else list(bmap)
        return self._read_bmap_subset(info, bmap, keys, with_src=with_src)

    @staticmethod
    def _snapshots(entry: dict) -> list[dict]:
        """A table's retained snapshots, oldest first; the live entry
        (without its history) is the last."""
        return entry["history"] + [{k: v for k, v in entry.items() if k != "history"}]

    def table_state_as_of(
        self, name: str, version: int | None = None, block: int | None = None
    ) -> DataFrame:
        """Time travel: the table's newest retained snapshot committed
        at manifest ``version`` or earlier, or reflecting stream
        ``block`` or earlier (each snapshot records the block its commit
        reflects — reference analog db/cursor.go:120-125).
        Granularity is the flush epoch, as in the reference: a block
        inside a multi-block flush window resolves to the last state
        that does not read past it.  Free with snapshot history
        (subject to vacuum retention); raises if no such snapshot
        survives."""
        info = self.catalog.get(name)
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            return empty_df(self.spark, info.schema)
        key, n = ("version", version) if block is None else ("block_num", block)
        snaps = [h for h in self._snapshots(entry) if h[key] <= n]
        if not snaps:
            unit = "version" if block is None else "block"
            raise ValueError(
                f"no committed epoch of '{name}' at or below {unit} {n} "
                "is retained (vacuumed?)"
            )
        bmap = snaps[-1]["buckets"]
        return self._read_bmap_subset(info, bmap, list(bmap))

    def epoch_applied(self, module_hash: str, epoch_id: int) -> bool:
        """True when ``module_hash``'s stream already committed
        ``epoch_id``: its cursor records the last epoch it committed,
        and a stream's epoch ids only move forward."""
        cursor = self.read_manifest()["cursors"].get(module_hash, {})
        return epoch_id <= cursor.get("epoch", -1)

    def commit_epoch(
        self,
        epoch_id: int,
        new_states: dict[str, tuple[DataFrame, list[int]]],
        cursor: Cursor | None,
        sidecar_states: dict[str, tuple[DataFrame, DataFrame, list[int]]] | None = None,
    ) -> None:
        """Write each affected bucket's new state under the version
        this commit reads, then swap the manifest, which records the
        tables, the block they now reflect and the cursor with its
        epoch in one atomic replace.  ``new_states`` maps table ->
        (bucket-subset state DF, affected bucket ids) — the
        full-rewrite path.  ``sidecar_states`` maps table -> (delta
        rows DF, (src, pk) mask DF, affected bucket ids) — the
        deletion-vector path: per affected bucket this appends ONE
        small delta file and replaces the bucket's deletion vector with
        (old dv rows ∪ new masks), so bytes written are O(changed
        rows), not O(bucket) (see _read_bmap_subset for the read
        side).  The manifest swap is the only durable metadata write
        and the commit point either way; untouched buckets are carried
        forward by reference, never rewritten."""
        manifest = self.read_manifest()
        version, tables = manifest["version"], manifest["tables"]
        block = (cursor.block_num, cursor.block_id) if cursor else (-1, "")
        for name, (delta, mask, affected) in (sidecar_states or {}).items():
            n_b = self.table_n_buckets(name)
            bmap = dict(tables[name]["buckets"]) if name in tables else {}
            table_dir = os.path.join(self.warehouse_dir, name)
            deltas = self._write_buckets(
                delta, self.catalog.get(name).primary_key, n_b,
                os.path.join(table_dir, f"v{version}"), len(affected),
            )
            # ONE current dv per bucket: new masks ∪ its existing dv rows
            old_dv_paths = [
                p for b in affected if (p := self._entry_dv(bmap.get(str(b))))
            ]
            if old_dv_paths:
                mask = mask.unionByName(
                    self.spark.read.schema("src LONG, pk STRING").parquet(*old_dv_paths)
                )
            dvs = self._write_buckets(
                mask, "pk", n_b, os.path.join(table_dir, f"dv{version}"), len(affected)
            )
            for b in affected:
                old = bmap.get(str(b))
                layers = self._entry_layers(old)
                if b in deltas:
                    layers = layers + [{"version": version, "path": deltas[b]}]
                dv_path = dvs.get(b, self._entry_dv(old))
                bmap[str(b)] = {"files": layers, "dv": dv_path} if layers or dv_path else None
            self._install(manifest, name, bmap, n_b, block)
        for name, (df, affected) in new_states.items():
            n_b = self.table_n_buckets(name)
            written = self._write_buckets(
                df, self.catalog.get(name).primary_key, n_b,
                os.path.join(self.warehouse_dir, name, f"v{version}"), len(affected),
            )
            bmap = dict(tables[name]["buckets"]) if name in tables else {}
            # a bucket whose rows were all deleted writes no dir
            bmap.update({str(b): written.get(b) for b in affected})
            self._install(manifest, name, bmap, n_b, block)
        if cursor is not None:
            manifest["cursors"][cursor.id] = {**cursor.entry(), "epoch": epoch_id}
        self._write_manifest(manifest)

    def _write_buckets(
        self, df: DataFrame, pk_col: str, n_b: int, vdir: str, n_parts: int, sort=None
    ) -> dict[int, str]:
        """Write ``df`` under ``vdir`` as one ``__b=<bucket>`` directory
        per pk-bucket (modulus ``n_b``), optionally clustered by
        ``sort`` inside each bucket; returns bucket -> directory for
        the buckets written (a bucket left with no rows writes none)."""
        out = df.withColumn("__b", self.bucket_expr(pk_col, n_b)).repartition(
            max(2, n_parts), F.col("__b")
        )
        if sort is not None:
            # Pre-sorting by (__b, sort) satisfies the file writer's
            # required ordering, so no extra sort is inserted.
            out = out.sortWithinPartitions("__b", sort)
        out.write.mode("overwrite").partitionBy("__b").parquet(vdir)
        names = os.listdir(vdir) if os.path.isdir(vdir) else []
        return {
            int(d.split("=", 1)[1]): os.path.join(vdir, d)
            for d in names
            if d.startswith("__b=")
        }

    def _install(self, manifest: dict, name: str, bmap: dict, n_b: int, block: tuple) -> None:
        """Make ``bmap`` the table's live bucket map under modulus
        ``n_b``, tagged with the version the commit read and the block
        it reflects, snapshotting the prior entry into its history for
        rollback, time travel and vacuum."""
        prior = manifest["tables"].get(name)
        manifest["tables"][name] = {
            "version": manifest["version"], "block_num": block[0], "block_id": block[1],
            "buckets": bmap, "history": self._snapshots(prior) if prior else [],
            "n_buckets": n_b,
        }

    def sidecar_ready(self, name: str, buckets: list[int]) -> bool:
        """True when the table has committed rows and every touched
        bucket can take one more deletion-vector layer: fewer than
        MAX_SIDECAR_LAYERS data layers, and a dv within
        MAX_DV_BYTES_PER_BUCKET.  Pure-delete epochs grow the dv with
        no new data layer, so the layer cap alone never triggers
        compaction; the full-rewrite fallback clears both."""
        entry = self.read_manifest()["tables"].get(name)
        if entry is None or not any(entry["buckets"].values()):
            return False  # initial load: CREATE fast path is cheaper
        return all(
            len(self._entry_layers(val)) < MAX_SIDECAR_LAYERS
            and _parquet_dir_bytes(self._entry_dv(val)) <= MAX_DV_BYTES_PER_BUCKET
            for val in (entry["buckets"].get(str(b)) for b in buckets)
        )

    def update_cursors(self, edit: Callable[[dict], object]) -> None:
        """Apply ``edit`` to the manifest's ``cursors`` map and commit
        it: cursor maintenance outside an epoch commit."""
        manifest = self.read_manifest()
        edit(manifest["cursors"])
        self._write_manifest(manifest)

    def rollback_to_block(self, last_valid_block: int) -> None:
        """Reorg rollback, one manifest write: every table past
        ``last_valid_block`` returns to its newest snapshot at or below
        it (a table with none is dropped), and cursors past the newest
        surviving snapshot rewind to its block number and id.  A
        cursor's epoch stays: the stream's epochs only move forward,
        and a replay of a rolled-back epoch must not re-apply it."""
        manifest = self.read_manifest()
        heads = []
        for name, entry in list(manifest["tables"].items()):
            if entry["block_num"] > last_valid_block:
                kept = [h for h in entry["history"] if h["block_num"] <= last_valid_block]
                if not kept:
                    del manifest["tables"][name]
                    continue
                entry = manifest["tables"][name] = {**kept[-1], "history": kept[:-1]}
            heads.append(entry)
        if not heads:
            raise RuntimeError(
                f"no committed snapshot at or below block {last_valid_block}; "
                "re-sync from genesis (reference behavior: error out, "
                "sinker.go:176-178)"
            )
        head = max(heads, key=lambda h: h["block_num"])
        for mh, c in manifest["cursors"].items():
            if c["block_num"] > head["block_num"]:
                c.update(Cursor.for_epoch(
                    mh, c.get("epoch", -1), head["block_num"], head["block_id"]
                ).entry())
        self._write_manifest(manifest)

    def vacuum(self, keep_epochs: int = 2) -> list[str]:
        """Garbage-collect unreferenced bucket versions (the
        operational cost of versioned merge-on-write — what Delta
        calls VACUUM).

        Keeps every bucket directory referenced by the live bucket map
        or by the newest ``keep_epochs`` history snapshots (the
        reorg-rollback window); deletes the rest and returns the
        deleted paths.  Retention bounds storage regardless of how
        many epochs have run."""
        import shutil

        manifest = self.read_manifest()
        deleted: list[str] = []

        def _bmap_paths(bmap: dict) -> set[str]:
            refs: set[str] = set()
            for val in bmap.values():
                for layer in self._entry_layers(val):
                    refs.add(layer["path"])
                dv = self._entry_dv(val)
                if dv:
                    refs.add(dv)
            return refs

        for name, entry in manifest["tables"].items():
            keep = entry["history"][-keep_epochs:] if keep_epochs else []
            referenced = _bmap_paths(entry["buckets"])
            for snap in keep:
                referenced |= _bmap_paths(snap["buckets"])
            table_dir = os.path.join(self.warehouse_dir, name)
            if os.path.isdir(table_dir):
                for vname in sorted(os.listdir(table_dir)):
                    vdir = os.path.join(table_dir, vname)
                    # every commit writes v<N> and, with sidecars, dv<N>
                    if not (
                        (vname.startswith("v") or vname.startswith("dv"))
                        and os.path.isdir(vdir)
                    ):
                        continue
                    for bname in sorted(os.listdir(vdir)):
                        bdir = os.path.join(vdir, bname)
                        if bname.startswith("__b=") and bdir not in referenced:
                            shutil.rmtree(bdir, ignore_errors=True)
                            deleted.append(bdir)
                    if not any(d.startswith("__b=") for d in os.listdir(vdir)):
                        shutil.rmtree(vdir, ignore_errors=True)
            entry["history"] = keep
        self._write_manifest(manifest)
        return deleted

    # ------------------------------------------- storage maintenance
    # ClickHouse counterparts: OPTIMIZE TABLE ... FINAL (background
    # part merges forced to completion), TTL mutations (row expiry),
    # and the system.parts catalog.  The reference's sunk tables rely
    # on all three server-side; here they are explicit store
    # operations on the same versioned-bucket layout.

    def _commit_maintenance(
        self,
        name: str,
        df: DataFrame,
        affected: list[int],
        sort=None,
        new_n_buckets: int | None = None,
    ) -> None:
        """Shared commit path for non-epoch mutations (OPTIMIZE / TTL /
        UPDATE / REBUCKET): write the affected buckets' new state under
        ``<table>/v<N>`` like any commit, snapshot the prior bucket map
        to history, swap the manifest atomically.  Cursors and the
        table's block are untouched — mutations are storage
        maintenance, not stream progress, so epoch replay/idempotency
        semantics are unaffected.  With ``new_n_buckets`` the bucket
        map is REPLACED under the new modulus (``affected`` then lists
        the new bucket ids)."""
        manifest = self.read_manifest()
        n_b = new_n_buckets or self.table_n_buckets(name)
        written = self._write_buckets(
            df, self.catalog.get(name).primary_key, n_b,
            os.path.join(self.warehouse_dir, name, f"v{manifest['version']}"),
            len(affected), sort,
        )
        prior = manifest["tables"][name]
        bmap = {} if new_n_buckets else dict(prior["buckets"])
        bmap.update({str(b): written.get(b) for b in affected})
        self._install(manifest, name, bmap, n_b, (prior["block_num"], prior["block_id"]))
        self._write_manifest(manifest)

    def optimize(
        self,
        name: str,
        zorder: list[str] | None = None,
        deduplicate: bool = False,
        only_fragmented: bool = False,
    ) -> dict | None:
        """``OPTIMIZE TABLE <name> FINAL`` parity: compact every live
        bucket to ONE pk-sorted file.  With ``zorder=[c1, c2, ...]``
        the bucket files cluster by the Morton key over those columns
        instead (OPTIMIZE ... ZORDER BY parity): min/max row-group
        stats stay narrow on every listed column, so post-compaction
        scans skip files for predicates on ANY of them — the
        data-skipping lever that matters once a bucket holds many
        row groups at 100 TB.

        Epoch commits append one file per touched bucket per flush, so
        a long-running ingest accumulates many small files per bucket
        (ClickHouse accumulates parts the same way and merges them in
        the background).  Compaction rewrites each bucket's current
        rows into a single file, clustered by primary key — restoring
        scan locality and bounding open-file cost.  Content is
        unchanged; superseded versions stay reclaimable via
        ``vacuum``.  Returns ``{"files_before": n, "files_after": m}``
        or None for an empty/unknown table.

        Scale: cost is one full-table read + write, but per-bucket
        parallel and shuffle-free (the bucket column is derived, not
        exchanged — ``repartition`` on the precomputed ``__b`` is a
        hash exchange on n_buckets keys, the minimal movement that
        achieves one-file-per-bucket).  Run it on the cadence ClickHouse
        runs background merges, not per flush.

        ``only_fragmented=True`` compacts ONLY the buckets that carry
        deletion-vector sidecar layers (>1 data layer or a dv) —
        the natural post-ingest cadence with ``write_mode="auto"``:
        cost scales with FRAGMENTATION, not table size, and pristine
        single-file buckets are carried forward by reference,
        untouched (incompatible with ``deduplicate``, which must see
        the whole table).  Returns None when nothing is fragmented.
        """
        if only_fragmented and deduplicate:
            raise ValueError("only_fragmented cannot combine with deduplicate")
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            return None
        if only_fragmented:
            affected = [
                int(b)
                for b, v in entry["buckets"].items()
                if v and (len(self._entry_layers(v)) > 1 or self._entry_dv(v))
            ]
        else:
            affected = [int(b) for b, p in entry["buckets"].items() if p]
        if not affected:
            return None
        before = sum(p["n_files"] for p in self.parts(name))
        state = (
            self.bucket_state(name, affected)
            if only_fragmented
            else self.table_state(name)
        )
        if deduplicate:
            # OPTIMIZE ... DEDUPLICATE parity: drop fully-identical
            # rows during the compaction rewrite (one extra exchange
            # on the full row, the same cost class as the rewrite)
            state = state.distinct()
        # rows land pk-clustered inside each bucket file; with zorder,
        # clustered by the Morton key instead, so row-group min/max
        # stats stay narrow on EVERY participating column
        # (functions/zorder.py)
        sort = self.catalog.get(name).primary_key
        if zorder:
            from substreams_sink_clickhouse_spark.functions.zorder import zorder_key

            sort = zorder_key(state, zorder)
        self._commit_maintenance(name, state, affected, sort=sort)
        after = sum(p["n_files"] for p in self.parts(name))
        return {"files_before": before, "files_after": after}

    def apply_ttl(self, name: str, expire_predicate: str) -> int:
        """ClickHouse ``TTL`` parity: delete rows where
        ``expire_predicate`` (SQL, e.g. ``ts < TIMESTAMP '2024-02-01'``)
        holds, rewriting ONLY the buckets that contain expired rows.
        The cutoff is explicit rather than ``now()`` so expiry is
        deterministic and replayable.  Returns the expired-row count.

        Scale: one metadata-light scan computes per-bucket expiry
        counts (aggregate on the derived bucket id — map-side partial,
        n_buckets result rows); untouched buckets are carried forward
        by reference exactly as in epoch commits.
        """
        info = self.catalog.get(name)
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            return 0
        state = self.table_state(name)
        n_b = self.table_n_buckets(name)
        per_bucket = (
            state.groupBy(self.bucket_expr(info.primary_key, n_b).alias("__b"))
            .agg(
                F.sum(F.expr(expire_predicate).cast("long")).alias("n_exp")
            )
            .filter(F.col("n_exp") > 0)
            .collect()
        )
        if not per_bucket:
            return 0
        affected = [int(r["__b"]) for r in per_bucket]
        n_expired = sum(int(r["n_exp"]) for r in per_bucket)
        kept = self.bucket_state(name, affected).filter(f"NOT ({expire_predicate})")
        self._commit_maintenance(name, kept, affected)
        return n_expired

    def apply_update(
        self, name: str, assignments: dict[str, str], predicate: str
    ) -> int:
        """ClickHouse ``ALTER TABLE ... UPDATE col = expr WHERE pred``
        parity — the OTHER mutation shape the reference emits
        (db/operations.go:93-111).  Rewrites ONLY the buckets holding
        matching rows, replacing each assigned column with its
        expression on matching rows; untouched buckets carry forward by
        reference like epoch commits.  Returns the matched-row count.

        Scale: same shape as :meth:`apply_ttl` — one metadata-light
        per-bucket match count, then a rewrite of the affected buckets
        only.  The pk must not be assigned (a pk rewrite is a
        delete+insert, not a mutation — ClickHouse refuses it too)."""
        info = self.catalog.get(name)
        if info.primary_key in assignments:
            raise ValueError(
                f"cannot UPDATE the primary key column "
                f"{info.primary_key!r}; delete and re-insert instead"
            )
        unknown = [c for c in assignments if c not in info.schema.fieldNames()]
        if unknown:
            raise ValueError(f"UPDATE of unknown column(s) {unknown} on {name!r}")
        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            return 0
        state = self.table_state(name)
        n_b = self.table_n_buckets(name)
        per_bucket = (
            state.groupBy(self.bucket_expr(info.primary_key, n_b).alias("__b"))
            .agg(F.sum(F.expr(predicate).cast("long")).alias("n_hit"))
            .filter(F.col("n_hit") > 0)
            .collect()
        )
        if not per_bucket:
            return 0
        affected = [int(r["__b"]) for r in per_bucket]
        n_hit = sum(int(r["n_hit"]) for r in per_bucket)
        mutated = self.bucket_state(name, affected).select(
            *[
                F.when(F.expr(predicate), F.expr(expr).cast(info.schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
                for c, expr in (
                    (fld, assignments.get(fld)) for fld in info.schema.fieldNames()
                )
            ]
        )
        self._commit_maintenance(name, mutated, affected)
        return n_hit

    def rebucket(self, name: str, new_n_buckets: int) -> dict | None:
        """Online bucket-count rescaling — the maintenance op that keeps
        the bounded-merge contract true as a table grows.

        The pk-bucket is the epoch rewrite unit: with N buckets a flush
        rewrites O(touched buckets × table_size/N).  A fan-out chosen
        at GB scale makes each bucket a multi-TB rewrite unit at
        100 TB, so the fan-out must be re-scalable WITHOUT stopping
        ingest.  This rewrites the table once under the new modulus and
        records it in the manifest; the next epoch's bucket math picks
        it up automatically (``batch_bucket_expr`` reads per-table
        modulî).  One full-table shuffle-light pass (hash exchange on
        the derived bucket id only), exactly like ClickHouse resharding
        a MergeTree by re-inserting.  Returns ``{"n_buckets_before",
        "n_buckets_after"}``; no-op (None) if the modulus is unchanged
        or the table is empty/unknown."""
        entry = self.read_manifest()["tables"].get(name)
        if entry is None or new_n_buckets == self.table_n_buckets(name):
            return None
        before = self.table_n_buckets(name)
        self._commit_maintenance(
            name,
            self.table_state(name),
            list(range(new_n_buckets)),
            sort=self.catalog.get(name).primary_key,
            new_n_buckets=new_n_buckets,
        )
        return {"n_buckets_before": before, "n_buckets_after": new_n_buckets}

    def parts(self, name: str) -> list[dict]:
        """``system.parts`` parity: per-bucket storage metadata of the
        LIVE table state — file count, bytes, rows — read from parquet
        footers and the filesystem (pure metadata, no Spark job), the
        same way ClickHouse serves system.parts from part headers."""
        import pyarrow.parquet as pq

        entry = self.read_manifest()["tables"].get(name)
        if entry is None:
            return []
        out: list[dict] = []

        def _dir_stats(path: str) -> tuple[int, int, int]:
            if not path or not os.path.isdir(path):
                return 0, 0, 0
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            n_bytes = n_rows = 0
            for f in files:
                fp = os.path.join(path, f)
                n_bytes += os.path.getsize(fp)
                n_rows += pq.ParquetFile(fp).metadata.num_rows
            return len(files), n_bytes, n_rows

        for b, val in sorted(entry["buckets"].items(), key=lambda kv: int(kv[0])):
            layers = self._entry_layers(val)
            if not layers and not self._entry_dv(val):
                continue
            n_files = n_bytes = n_rows = 0
            for layer in layers:
                nf, nb, nr = _dir_stats(layer["path"])
                n_files += nf
                n_bytes += nb
                n_rows += nr
            dv_path = self._entry_dv(val)
            _, dv_bytes, dv_rows = _dir_stats(dv_path) if dv_path else (0, 0, 0)
            out.append(
                {
                    "table": name,
                    "bucket": int(b),
                    "path": layers[-1]["path"] if layers else dv_path,
                    "n_files": n_files,
                    "bytes": n_bytes,
                    "rows": n_rows,  # physical rows incl. dv-masked
                    "n_layers": len(layers),
                    "dv_rows": dv_rows,
                    "dv_bytes": dv_bytes,
                }
            )
        return out


class ChangesIngestPipeline:
    """The reference's sinker loop on Structured Streaming."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        warehouse_dir: str,
        checkpoint_dir: str,
        module_hash: str = "default",
        on_batch: Callable[[int, int], None] | None = None,
        n_buckets: int = 16,
        clickhouse_sink=None,
        on_decode_error: str = "fail",
        dead_letter_dir: str | None = None,
        start_block: int | None = None,
        stop_block: int | None = None,
        write_mode: str = "auto",
    ):
        self.spark = spark
        # Duplicate field names within one change must resolve
        # last-wins in BOTH decode paths (the wire codec is last-wins
        # by construction, mirroring sinker.go's map assignment; the
        # JSON path's map_from_entries would THROW under Spark's stock
        # EXCEPTION dedup policy).  Pin it here so the pipeline is
        # correct on an externally built session, not only behind
        # tune_session.
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        self.catalog = catalog
        #: Block-range bounds (reference positional ``[<start>:<stop>]``,
        #: run.go:22,53-60): changes outside [start_block, stop_block)
        #: are dropped before the merge — a narrow filter on the decoded
        #: stream, applied before any shuffle.
        self.start_block = start_block
        self.stop_block = stop_block
        self.state = TableStateStore(spark, warehouse_dir, catalog, n_buckets=n_buckets)
        #: Epoch write strategy: "auto" commits a window as deletion-
        #: vector sidecars (one small delta file + dv per touched
        #: bucket — bytes written O(changed rows)) whenever every
        #: touched bucket has fewer than MAX_SIDECAR_LAYERS data
        #: layers, falling back to the full bucket rewrite (which also
        #: compacts the layers away).  "rewrite" always rewrites —
        #: the pre-round-5 behavior.
        if write_mode not in ("auto", "rewrite"):
            raise ValueError("write_mode must be 'auto' or 'rewrite'")
        self.write_mode = write_mode
        #: Malformed-payload policy ("fail" | "drop"); with
        #: dead_letter_dir set, malformed payloads are preserved under
        #: <dir>/epoch=<id> and the stream continues.
        self.on_decode_error = on_decode_error
        self.dead_letter_dir = dead_letter_dir
        #: Optional wire-parity sink: when set (a
        #: sinks.clickhouse.ClickHouseHTTPSink), every committed
        #: epoch's reduced ops are also emitted as the reference's
        #: three SQL statement shapes to a live ClickHouse.
        self.clickhouse_sink = clickhouse_sink
        #: table name -> attached IncrementalAggregate rollups,
        #: updated with each epoch's CREATE rows (ClickHouse
        #: materialized-view semantics: MVs see inserted rows).
        self._rollups: dict[str, list] = {}
        self.cursors = CursorStore(self.state)
        self.checkpoint_dir = checkpoint_dir
        self.module_hash = module_hash
        self.on_batch = on_batch
        self.stats: dict[str, float] = {"flush_count": 0, "flushed_entries": 0, "flush_seconds": 0.0}

    def attach_rollup(self, table: str, rollup) -> None:
        """Attach an :class:`~...streaming.mataggs.IncrementalAggregate`
        to a table: every committed epoch folds that epoch's inserted
        rows into the rollup — the ClickHouse materialized-view pattern
        (updates/deletes are not retracted, exactly like ClickHouse MVs
        over a MergeTree insert stream)."""
        self.catalog.get(table)  # validate
        self._rollups.setdefault(table, []).append(rollup)

    # -- batch kernel -------------------------------------------------

    def process_batch(self, changes: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: one flush window
        (/root/reference/db/flush.go:12-69 + sinker.go:119-131)."""
        t0 = time.time()
        phases = self.stats.setdefault("phase_seconds", {})

        def mark(phase: str, since: float) -> float:
            now = time.time()
            phases[phase] = phases.get(phase, 0.0) + (now - since)
            return now

        if self.state.epoch_applied(self.module_hash, epoch_id):
            return  # replay after restart: already committed
        if self.start_block is not None:
            changes = changes.filter(F.col("block_num") >= self.start_block)
        if self.stop_block is not None:
            # exclusive stop, matching the reference's range convention
            changes = changes.filter(F.col("block_num") < self.stop_block)
        changes = changes.cache()
        try:
            # ONE summary aggregation replaces three separate actions
            # (head block, table validation, affected buckets): the
            # per-(table, pk-bucket) group-by yields the bucket list,
            # the table-name domain for validation (checked driver-side
            # against the catalog — same UnknownTableError contract as
            # validate_change_tables), and the cursor head via max_by.
            # It is also the action that materializes the batch cache.
            bucket = self.state.batch_bucket_expr(list(self.catalog.tables)).alias("b")
            summary = (
                changes.groupBy("table", bucket)
                .agg(
                    F.max("block_num").alias("max_block"),
                    F.expr("max_by(block_id, block_num)").alias("max_block_id"),
                    F.count(F.lit(1)).alias("n_ops"),
                )
                .collect()
            )
            tp = mark("window_summary", t0)
            if not summary:
                return
            known = list(self.catalog.tables)
            unknown = sorted({r["table"] for r in summary} - set(known))
            if unknown:
                raise UnknownTableError(unknown[0], known)
            # Affected pk-buckets come straight from the (cached) raw
            # changes; the reconcile join then scans O(affected
            # buckets) of the table and commit rewrites the same
            # subset.  Merge-rule violations raise from INSIDE the
            # commit write via the inline guard — safe because the
            # manifest swap is the commit point: an aborted write
            # leaves only an uncommitted version dir (vacuumable),
            # never corrupt state.  Single-table windows therefore
            # evaluate the merge fold exactly once, with no eager
            # probe job and no cache materialization.
            affected: dict[str, list[int]] = {}
            window_ops: dict[str, int] = {}
            for row in summary:
                affected.setdefault(row["table"], []).append(int(row["b"]))
                window_ops[row["table"]] = (
                    window_ops.get(row["table"], 0) + int(row["n_ops"])
                )
            head_num = max(r["max_block"] for r in summary)
            head_id = next(
                r["max_block_id"] for r in summary if r["max_block"] == head_num
            )
            reduced = reduce_changes(changes, self.catalog.primary_keys())
            live = guard_merge_errors(reduced)
            if len(affected) > 1:
                # several tables each filter the reduced ops — cache so
                # the fold is computed once, not once per table
                live = live.cache()

            def sidecar_eligible(name: str, buckets: list[int]) -> bool:
                """Deletion-vector commit iff the store can take one
                more layer on every touched bucket and the window is
                small enough to BROADCAST — the sidecar apply probes
                the bucket state with the window's ops as the broadcast
                side (apply_table_ops_delta), so an op count past the
                broadcast budget must take the shuffle-based
                full-rewrite reconcile instead.  Sidecar writes are
                O(changed rows) whenever they apply; the rewrite
                fallback doubles as compaction."""
                return (
                    self.write_mode == "auto"
                    and window_ops.get(name, 0) <= MAX_SIDECAR_WINDOW_OPS
                    and self.state.sidecar_ready(name, buckets)
                )

            new_states: dict[str, tuple[DataFrame, list[int]]] = {}
            sidecar_states: dict[str, tuple[DataFrame, DataFrame, list[int]]] = {}
            observations = []
            delta_caches = []
            for name, buckets in affected.items():
                info = self.catalog.get(name)
                ops = live.filter(F.col("table") == name)
                obs = Observation(f"flush_{epoch_id}_{name}")
                if sidecar_eligible(name, buckets):
                    target = self.state.bucket_state(name, buckets, with_src=True)
                    delta, mask, cached = apply_table_ops_delta(target, ops, info)
                    sidecar_states[name] = (
                        delta.observe(obs, F.count(F.lit(1)).alias("rows")),
                        mask,
                        buckets,
                    )
                    if cached is not None:
                        delta_caches.append(cached)
                else:
                    target = self.state.bucket_state(name, buckets)
                    new_state = apply_table_ops(target, ops, info)
                    # row count rides along with the commit write via the
                    # Observation API — no separate counting action
                    # re-running the reconcile join per table
                    new_states[name] = (
                        new_state.observe(obs, F.count(F.lit(1)).alias("rows")),
                        buckets,
                    )
                observations.append(obs)
            cursor = Cursor.for_epoch(self.module_hash, epoch_id, head_num, head_id)
            tp = mark("plan", tp)
            self.state.commit_epoch(
                epoch_id, new_states, cursor, sidecar_states=sidecar_states or None
            )
            for c in delta_caches:
                c.unpersist()
            tp = mark("commit", tp)
            for name, rollups in self._rollups.items():
                if name not in affected or not rollups:
                    continue
                info = self.catalog.get(name)
                from substreams_sink_clickhouse_spark.functions.coercion import coerce

                created = live.filter(
                    (F.col("table") == name) & (F.col("op") == "CREATE")
                ).select(
                    *[
                        coerce(F.col("fields").getItem(f.name), f.dataType).alias(f.name)
                        for f in info.schema.fields
                    ]
                )
                for rollup in rollups:
                    rollup.update(created, version=epoch_id)
            if self.clickhouse_sink is not None:
                # wire parity: emit the same window as ClickHouse SQL
                # (INSERT / ALTER UPDATE / DELETE + cursor update,
                # /root/reference/db/flush.go:12-63)
                self.clickhouse_sink.write_batch(
                    live.filter(F.col("err").isNull()), epoch_id
                )
                self.clickhouse_sink.execute_statement(
                    cursor_update_statement(
                        cursor.id, cursor.cursor, cursor.block_num, cursor.block_id
                    )
                )
            n_entries = sum(_observed_rows(o) for o in observations)
            live.unpersist()
        finally:
            changes.unpersist()
        self.stats["flush_count"] += 1
        self.stats["flushed_entries"] += n_entries
        self.stats["flush_seconds"] += time.time() - t0
        if self.on_batch:
            self.on_batch(epoch_id, n_entries)

    # -- stream wiring ------------------------------------------------

    def _process_raw_batch(self, raw: DataFrame, epoch_id: int) -> None:
        """Decode one raw-text micro-batch with the configured error
        policy, route malformed payloads to the dead-letter directory
        when one is set, then run the normal flush kernel."""
        from substreams_sink_clickhouse_spark.sources.changes import (
            decode_database_changes,
            malformed_changes,
        )

        on_error = self.on_decode_error
        if self.dead_letter_dir:
            on_error = "drop"
            if not self.state.epoch_applied(self.module_hash, epoch_id):
                (
                    malformed_changes(raw, "value")
                    .write.mode("overwrite")
                    .text(os.path.join(self.dead_letter_dir, f"epoch={epoch_id}"))
                )
        self.process_batch(decode_database_changes(raw, "value", on_error), epoch_id)

    def start(
        self,
        changes_path: str,
        live: bool = False,
        max_files_per_trigger: int | None = None,
    ):
        """Run the ingest stream over a JSONL DatabaseChanges directory.

        ``live=False`` → ``availableNow`` (catch-up: batch the backlog,
        the analog of the 1000-block historical flush); ``live=True`` →
        processing-time trigger (per-arrival flush, the analog of
        LIVE_BLOCK_FLUSH_EACH=1).

        Malformed payloads follow ``on_decode_error`` ("fail" = stop
        the stream with the offending payload, the reference's decode
        contract; "drop" = skip); with ``dead_letter_dir`` set they are
        instead preserved under ``<dir>/epoch=<id>`` and the stream
        continues — at scale, one poison message must not stall a
        100k-blocks/s backfill, but must stay replayable.
        """
        reader = self.spark.readStream.schema("value string")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        raw = reader.text(changes_path)
        writer = (
            raw.writeStream.foreachBatch(self._process_raw_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if live:
            writer = writer.trigger(processingTime="1 second")
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def start_protobuf(
        self,
        changes_path: str,
        live: bool = False,
        max_files_per_trigger: int | None = None,
        descriptor_path: str | None = None,
    ):
        """Run the ingest stream over the reference's BINARY wire
        format: a parquet stream of BlockScopedData-shaped rows
        ``(block_num long, block_id string, value binary)`` where
        ``value`` is a serialized ``DatabaseChanges`` message
        (sinker/sinker.go:95-113).

        With ``descriptor_path`` set, decoding goes through
        ``decode_database_changes_protobuf`` — the spark-protobuf
        connector when its jar is loaded, else the dependency-free
        wire codec.  Without a descriptor it uses the wire codec
        directly (``sources/protobuf_wire.py``).  Duplicate field
        names within a change resolve last-wins on every path
        (pinned at pipeline init), matching sinker.go's map
        assignment.  Either way the flush kernel downstream is
        identical to the JSONL path."""
        from substreams_sink_clickhouse_spark.sources.changes import (
            decode_database_changes_protobuf,
        )
        from substreams_sink_clickhouse_spark.sources.protobuf_wire import (
            decode_database_changes_protobuf_pure,
        )

        reader = self.spark.readStream.schema(
            "block_num long, block_id string, value binary"
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        raw = reader.parquet(changes_path)

        def process(raw_df: DataFrame, epoch_id: int) -> None:
            if descriptor_path is not None:
                decoded = decode_database_changes_protobuf(raw_df, descriptor_path)
            else:
                decoded = decode_database_changes_protobuf_pure(raw_df)
            self.process_batch(decoded, epoch_id)

        writer = raw.writeStream.foreachBatch(process).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if live:
            writer = writer.trigger(processingTime="1 second")
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, changes_path: str, timeout_s: int = 600, **kwargs) -> None:
        query = self.start(changes_path, **kwargs)
        query.awaitTermination(timeout_s)

    def run_with_retries(
        self,
        changes_path: str,
        max_restarts: int = 5,
        backoff_s: float = 0.5,
        backoff_cap_s: float = 30.0,
        timeout_s: int = 600,
        on_restart: Callable[[int, Exception], None] | None = None,
        **kwargs,
    ) -> int:
        """Supervised ingest: restart-on-failure with capped exponential
        backoff, resuming from the streaming checkpoint.

        This is the liveness policy the reference outsources to its
        ``substreams-sink`` library (run.go:92-98: the sinker loops on
        stream errors with backoff, resuming from the stored cursor).
        The engine's analog composes three existing guarantees:

        * the file/Kafka source checkpoint replays the in-flight epoch
          after a crash (exactly-once source progress);
        * ``process_batch`` commits are idempotent per epoch (the
          manifest is the commit point — a replayed epoch rewrites the
          same buckets or no-ops), so the retry loop can never
          double-apply a flush;
        * the cursor advances only inside the manifest swap that
          commits the batch's tables.

        Together: no loss, no duplication, across any number of
        restarts.  Returns the number of restarts performed.  Raises
        the final error when ``max_restarts`` is exhausted or the
        deadline passes.
        """
        import time as _time

        restarts = 0
        deadline = _time.time() + timeout_s
        while True:
            query = self.start(changes_path, **kwargs)
            # A failed query surfaces either as a raise from
            # awaitTermination (failure while waiting) or, depending on
            # timing, as a normal return with query.exception() set —
            # handle both.
            exc: Exception | None = None
            terminated = True
            try:
                terminated = query.awaitTermination(
                    max(1.0, deadline - _time.time())
                )
            except Exception as wait_exc:  # noqa: BLE001
                exc = wait_exc
            if exc is None:
                exc = query.exception()
            if exc is None:
                if terminated:
                    return restarts
                query.stop()
                raise TimeoutError(
                    f"ingest stream did not complete within {timeout_s}s"
                )
            try:
                query.stop()
            except Exception:
                pass
            restarts += 1
            if restarts > max_restarts or _time.time() >= deadline:
                raise exc
            if on_restart is not None:
                on_restart(restarts, exc)
            _time.sleep(min(backoff_s * 2 ** (restarts - 1), backoff_cap_s))

    def run_protobuf_to_completion(
        self, changes_path: str, timeout_s: int = 600, **kwargs
    ) -> None:
        query = self.start_protobuf(changes_path, **kwargs)
        query.awaitTermination(timeout_s)

    def table(self, name: str) -> DataFrame:
        return self.state.table_state(name)

    # -- reorg / undo -------------------------------------------------

    def handle_block_undo_signal(self, last_valid_block: int) -> None:
        """Reorg handling.

        The reference stubs this out entirely — its handler returns an
        error and relies on the upstream ``--undo-buffer-size`` to only
        deliver final blocks (/root/reference/sinker/sinker.go:176-178).
        Our versioned table state can do better: every commit retains
        its predecessor's directories and each snapshot records the
        block it reflects, so rolling back to the newest snapshot
        at-or-below the fork point is a manifest edit
        (``TableStateStore.rollback_to_block``) that also rewinds the
        cursor to that snapshot's block number and id.
        """
        self.state.rollback_to_block(last_valid_block)
