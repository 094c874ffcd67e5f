"""Spans around the calls into each engine layer, recorded from the
benchmark's own files by wrapping the layers' public functions.

A span has a name, an id, its parent's id, and start and end times;
spans are kept in memory and written when the run ends, with self time
(duration minus the time covered by child spans).  Spark work is read
once at the end from the in-process status store (no UI, no REST):
every job and stage is attributed to the innermost span open when it
was submitted.  Lazy plan construction is timed as plan build; Spark
work lands in the span whose action runs it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    active = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


def _targets():
    """``(owner, attribute, span name)`` for every wrapped layer call."""
    from substreams_sink_clickhouse_spark import engine
    from substreams_sink_clickhouse_spark.sources import protobuf_wire
    from substreams_sink_clickhouse_spark.streaming import cursors, pipeline

    pipe, store = pipeline.ChangesIngestPipeline, pipeline.TableStateStore
    return [
        (pipe, "start_protobuf", "stream.start_protobuf"),
        (protobuf_wire, "decode_database_changes_protobuf_pure", "decode.build"),
        (pipe, "process_batch", "pipeline.process_batch"),
        (pipeline, "reduce_changes", "merge.reduce_changes"),
        (pipeline, "apply_table_ops", "merge.apply_table_ops"),
        (pipeline, "apply_table_ops_delta", "merge.apply_table_ops_delta"),
        (store, "commit_epoch", "state.commit_epoch"),
        (store, "read_manifest", "state.read_manifest"),
        (store, "table_state", "state.table_state"),
        (store, "bucket_state", "state.bucket_state"),
        (cursors.CursorStore, "write_cursor", "cursor.write_cursor"),
        (engine.Engine, "sql", "engine.sql"),
    ]


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Tracer:
    """Spans, per-boundary counters and Spark attribution for one run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._saved: list[tuple] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        #: top-level span name -> manifest.json size after each commit
        self.manifest_sizes: dict[str, list[int]] = defaultdict(list)

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span while the wrappers are installed."""
        if not self.active:
            yield
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            root = self.spans[self._stack[0]]["name"] if self._stack else name
            rec = {"id": sid, "parent": parent, "name": name, "root": root,
                   "start": time.perf_counter(), "wall_start": time.time(), "end": None}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                rec["wall_end"] = time.time()
                if self._stack and self._stack[-1] == sid:
                    self._stack.pop()
                elif sid in self._stack:
                    self._stack.remove(sid)

    def _wrap(self, fn, name: str):
        """``fn`` inside a span, with the boundary's counter hooks."""
        before, after = self._hooks().get(name, (None, None))

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            token = before(args) if before else None
            with self.span(name):
                out = fn(*args, **kwargs)
            if after:
                after(token, args, kwargs)
            return out

        return wrapper

    def _hooks(self) -> dict:
        return {
            "pipeline.process_batch": (self._before_process_batch, self._after_process_batch),
            "state.commit_epoch": (self._before_commit_epoch, self._after_commit_epoch),
        }

    def install(self) -> None:
        """Wrap every layer call in ``_targets()``."""
        for owner, attr, name in _targets():
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    @property
    def active(self) -> bool:
        """True while the layer wrappers are installed."""
        return bool(self._saved)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    # -- per-call counters at layer boundaries --------------------------

    def _root(self) -> str | None:
        return self.spans[self._stack[0]]["name"] if self._stack else None

    def _count(self, key: str, value: float) -> None:
        """Add to a counter of the top-level span now open."""
        self.counters[f"{self._root()}/{key}"] += value

    def _before_process_batch(self, args):
        pipe = args[0]
        return dict(pipe.stats.get("phase_seconds", {})), pipe.stats.get("flushed_entries", 0)

    def _after_process_batch(self, token, args, kwargs):
        phases, flushed = token
        pipe = args[0]
        for k, v in pipe.stats.get("phase_seconds", {}).items():
            self._count("phase." + k, v - phases.get(k, 0.0))
        self._count("flushed_entries", pipe.stats.get("flushed_entries", 0) - flushed)

    def _before_commit_epoch(self, args):
        store = args[0]
        return _files(store.warehouse_dir)

    def _after_commit_epoch(self, before, args, kwargs):
        store = args[0]
        after = _files(store.warehouse_dir)
        new = {p: s for p, s in after.items() if before.get(p) != s}
        self._count("state.bytes_written", sum(new.values()))
        self._count("state.files_written", len(new))
        new_states = args[2] if len(args) > 2 else kwargs.get("new_states") or {}
        sidecar = kwargs.get("sidecar_states") or (args[5] if len(args) > 5 else None) or {}
        self._count("state.table_commits", len(new_states) + len(sidecar))
        self._count("state.sidecar_commits", len(sidecar))
        self.manifest_sizes[self._root()].append(
            os.path.getsize(os.path.join(store.warehouse_dir, "manifest.json"))
        )

    # -- Spark attribution -----------------------------------------------

    def collect_spark(self) -> None:
        """One read of every job and stage from the status store."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala.__getattr__("MODULE$")
        )
        store = sc._jsc.sc().statusStore()
        self.jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        self.stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None)
        ))

    @staticmethod
    def _innermost(wall_ms: float, spans: list[dict]):
        """Innermost span open at ``wall_ms`` (None when outside all)."""
        best = None
        t = wall_ms / 1000.0
        for s in spans:
            if s["wall_start"] <= t <= s.get("wall_end", float("inf")):
                if best is None or s["wall_start"] >= best["wall_start"]:
                    best = s
        return best

    def attribute(self) -> None:
        """Self time per span, and each job/stage onto its span."""
        done = [s for s in self.spans if s["end"] is not None]
        child = defaultdict(float)
        for s in done:
            s["duration"] = s["end"] - s["start"]
            if s["parent"] is not None:
                child[s["parent"]] += s["duration"]
        for s in done:
            s["self"] = s["duration"] - child[s["id"]]
            s["spark"] = defaultdict(float)
        for job in self.jobs:
            if job.get("submissionTime") is None:
                continue
            s = self._innermost(job["submissionTime"], done)
            if s is not None:
                s["spark"]["jobs"] += 1
        for st in self.stages:
            if st.get("submissionTime") is None:
                continue
            s = self._innermost(st["submissionTime"], done)
            if s is None:
                continue
            sp = s["spark"]
            sp["stages"] += 1
            sp["tasks"] += st.get("numCompleteTasks", 0)
            sp["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            sp["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            sp["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            sp["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            sp["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            sp["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            sp["output_bytes"] += st.get("outputBytes", 0)
            sp["input_records"] += st.get("inputRecords", 0)

    def by_name(self, root: str | None = None) -> dict[str, dict]:
        """Calls, total and self seconds, and self-attributed Spark
        counters per span name (under top-level spans named ``root``,
        or all)."""
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.get("duration") is None or (root is not None and s["root"] != root):
                continue
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                             "spark": defaultdict(float)})
            agg["calls"] += 1
            agg["total_s"] += s["duration"]
            agg["self_s"] += s["self"]
            for k, v in s["spark"].items():
                agg["spark"][k] += v
        return out

    def subtree_spark(self, names: set[str], root: str | None = None) -> dict[str, float]:
        """Spark counters of every span under (and including) spans
        named in ``names`` (within top-level spans named ``root``)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        total: dict[str, float] = defaultdict(float)
        stack = [s for s in self.spans if s["name"] in names and s.get("duration")
                 and (root is None or s["root"] == root)]
        while stack:
            s = stack.pop()
            for k, v in s.get("spark", {}).items():
                total[k] += v
            stack.extend(kids[s["id"]])
        return total

    def finish(self) -> None:
        """Read Spark's counters and attribute them (after the run)."""
        self.collect_spark()
        self.attribute()

    def write(self, path: str) -> None:
        """Spans and per-name totals as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [
            {k: s.get(k) for k in ("id", "parent", "name", "root", "start", "end", "duration", "self")}
            | {"spark": dict(s.get("spark", {}))}
            for s in self.spans
        ]
        summary = {
            name: {**{k: v for k, v in agg.items() if k != "spark"}, "spark": dict(agg["spark"])}
            for name, agg in self.by_name().items()
        }
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"by_name": summary, "counters": dict(self.counters), "spans": spans}, fh)
