"""Spans and counters for the traced run, recorded from the benchmark's side.

A span is (name, layer, start, end, parent, op). Spans open at the
benchmark's own call sites (query build, action, page source, entity
sync) and inside class-level wrappers on ``TableStore``,
``PageCheckpoint`` and ``WatermarkStore``. The wrappers replace the
methods on the class, not on a module, because ``etl.fold`` and the
pipeline bind those classes by name at import time.

Every span puts its work in a Spark job group of its own, so each job
belongs to the innermost span open when it started. Job and stage
numbers are read after the run from ``statusTracker`` and from the
``AppStatusStore`` behind it, both of which work with the UI disabled.
Spans stay in memory until ``write``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow.parquet as pq

from tinyerp_etl_spark.etl.checkpoint import PageCheckpoint
from tinyerp_etl_spark.etl.table_store import TableStore
from tinyerp_etl_spark.etl.watermark import WatermarkStore

#: (class, layer, public methods wrapped in spans)
WRAPPED = (
    (TableStore, "table_store", ("commit", "commit_append", "compact", "read")),
    (PageCheckpoint, "checkpoint", ("start", "advance", "finish")),
    (WatermarkStore, "watermark", ("get", "commit")),
)

_GROUP_PREFIX = "perfbench-"


class Tracer:
    """Collects spans and counters; inactive until ``enabled`` is set."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op = None
        self._stack: list[int] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "op": self.op, "start": None, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"{_GROUP_PREFIX}{parent}", self.spans[parent]["name"])

    # -- class-level wrappers --------------------------------------------

    def install(self) -> None:
        """Wrap the store classes' methods; ``uninstall`` puts them back."""
        for cls, layer, methods in WRAPPED:
            for m in methods:
                self._wrap(cls, m, self._spanned(getattr(cls, m), f"{layer}.{m}", layer))
        self._wrap(TableStore, "current_version",
                   self._counted(TableStore.current_version, "table_store.version_probes"))
        self._wrap(TableStore, "_stage_write", self._accounted(TableStore._stage_write))

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._restore):
            setattr(cls, name, orig)
        self._restore.clear()

    def _wrap(self, cls, name: str, fn) -> None:
        self._restore.append((cls, name, cls.__dict__[name]))
        setattr(cls, name, fn)

    def _spanned(self, orig, name: str, layer: str):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return orig(*args, **kwargs)
        return wrapper

    def _counted(self, orig, key: str):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self.enabled:
                self.counts[key] += 1
            return orig(*args, **kwargs)
        return wrapper

    def _accounted(self, orig):
        """Count what a store write put on disk: files, bytes and rows
        (rows exactly, from the parquet footers), in a span of the
        ``trace`` layer so the accounting never counts as store time."""
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            staging = orig(*args, **kwargs)
            if self.enabled:
                with self.span("trace.write_accounting", "trace"):
                    self.counts["table_store.commits"] += 1
                    for root, _dirs, files in os.walk(staging):
                        for fn in files:
                            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                                path = os.path.join(root, fn)
                                self.counts["table_store.files_written"] += 1
                                self.counts["table_store.bytes_written"] += os.path.getsize(path)
                                self.counts["table_store.rows_written"] += pq.read_metadata(path).num_rows
            return staging
        return wrapper

    # -- results -----------------------------------------------------------

    def attribute_jobs(self) -> None:
        """Give each span its own jobs, stages and stage metrics.

        Called once after the traced phase: it walks every span's job
        group through ``statusTracker`` and reads all stages from the
        status store in one ``stageList`` call.
        """
        jvm = self.sc._jvm
        seq = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        stages: dict[int, list[dict]] = defaultdict(list)  # every attempt of a stage
        for i in range(seq.size()):
            sd = seq.apply(i)
            if sd.status().toString() == "SKIPPED":
                continue
            stages[sd.stageId()].append({
                "tasks": sd.numTasks(),
                "executor_run_s": sd.executorRunTime() / 1000.0,
                "input_bytes": sd.inputBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            })
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            jobs = list(tracker.getJobIdsForGroup(f"{_GROUP_PREFIX}{rec['id']}"))
            totals: dict[str, float] = defaultdict(float)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for st in (info.stageIds if info else ()):
                    for m in stages.get(st, ()):
                        totals["stages"] += 1
                        for k, v in m.items():
                            totals[k] += v
            rec["jobs"] = len(jobs)
            rec.update(totals)

    def self_times(self) -> list[float]:
        """Span duration minus the part its children cover (spans are
        strictly nested: one thread, one stack)."""
        own = [r["end"] - r["start"] for r in self.spans]
        for r in self.spans:
            if r["parent"] is not None:
                own[r["parent"]] -= r["end"] - r["start"]
        return own

    def by_layer(self) -> dict[str, dict[str, float]]:
        """Per layer: span time, self time, and the jobs and stage
        metrics of the layer's own spans."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for rec, own in zip(self.spans, self.self_times()):
            d = out[rec["layer"]]
            d["s"] += rec["end"] - rec["start"]
            d["self_s"] += own
            for k in ("jobs", "stages", "tasks", "executor_run_s", "input_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                d[k] += rec.get(k, 0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)
