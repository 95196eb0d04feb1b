"""Measurement from outside the engine package.

- ``SparkCounters`` tags each benchmark operation with its own Spark job
  group and reads the group's jobs, stages and tasks from the status
  tracker, and its shuffle, spill, input and run time from the app status
  store.
- ``Tracer`` wraps the layer entry points in place (the names callers
  resolve, so calls the engine makes to itself are seen too), keeps spans in
  memory and computes each layer's self time.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from dataclasses import dataclass

from py4j.protocol import Py4JError

ENGINE_PACKAGE = "servihabitat_etl_spyke_spark"


class SparkCounters:
    """Per-operation Spark counters keyed by job group."""

    KEYS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
            "shuffle_read_bytes", "input_bytes", "spill_bytes",
            "executor_run_ms", "read_errors")

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def tag(self, group: str) -> None:
        # job-group properties are per thread (pinned-thread mode), so
        # concurrent requests keep separate groups
        self.sc.setJobGroup(group, group)

    def read(self, group: str) -> dict[str, int]:
        out = dict.fromkeys(self.KEYS, 0)
        stage_ids: set[int] = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                out["read_errors"] += 1
                continue
            out["jobs"] += 1
            stage_ids.update(info.stageIds)
        for sid in stage_ids:
            info = self.tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue           # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += info.numCompletedTasks
            try:
                sd = self.store.lastStageAttempt(sid)
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += (sd.shuffleLocalBytesRead()
                                              + sd.shuffleRemoteBytesRead())
                out["input_bytes"] += sd.inputBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
                out["executor_run_ms"] += sd.executorRunTime()
            except Py4JError:
                out["read_errors"] += 1
        return out


@dataclass
class Span:
    sid: int
    parent: int | None
    op: str | None
    name: str
    layer: str
    start: float
    end: float = 0.0


class Tracer:
    """In-memory spans around patched callables."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._next = iter(range(1, 1 << 62))
        self._restore: list = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str, op: str | None = None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(next(self._next), parent.sid if parent else None,
                  op if op is not None else (parent.op if parent else None),
                  name, layer, time.perf_counter())
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()
        self.spans.append(sp)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sp)
        return traced

    def patch(self, owner, attr: str, name: str, layer: str) -> None:
        orig = getattr(owner, attr)
        self._restore.append(lambda: setattr(owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, layer))

    def patch_item(self, d: dict, key: str, name: str, layer: str) -> None:
        orig = d[key]
        self._restore.append(lambda: d.__setitem__(key, orig))
        d[key] = self.wrap(orig, name, layer)

    def patch_everywhere(self, fn, name: str, layer: str) -> None:
        """Replace every module-level binding of ``fn`` in the engine
        package (``engine.load_table`` as well as ``catalog.load_table``)."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(ENGINE_PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.patch(mod, attr, name, layer)

    def unpatch(self) -> None:
        while self._restore:
            self._restore.pop()()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: each span's duration minus the
        part of it its child spans cover."""
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] = (child_time.get(sp.parent, 0.0)
                                         + sp.end - sp.start)
        out: dict[str, float] = {}
        for sp in self.spans:
            own = sp.end - sp.start - child_time.get(sp.sid, 0.0)
            out[sp.layer] = out.get(sp.layer, 0.0) + max(0.0, own)
        return out



def span_cost_s(n: int = 20000) -> float:
    """Measured cost of recording one span around a no-op call."""
    noop = Tracer().wrap(lambda: None, "noop", "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    return (time.perf_counter() - t0) / n


def install_layer_spans(tracer: Tracer, query_names) -> None:
    """Wrap the engine's layer entry points and the Spark actions (the
    classic DataFrame class is the one sessions hand out)."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from servihabitat_etl_spyke_spark import catalog, engine, queries
    from servihabitat_etl_spyke_spark.operators import etl
    from servihabitat_etl_spyke_spark.plans import listquery

    for m in ("page", "list", "read", "run"):
        tracer.patch(engine.Engine, m, f"Engine.{m}", "engine")
    for fn in (listquery.list_query, listquery.list_page):
        tracer.patch_everywhere(fn, fn.__name__, "listquery")
    tracer.patch_everywhere(catalog.load_table, "load_table", "catalog")
    for fn in (etl.run_entity_pipeline, etl.upsert_into_path):
        tracer.patch_everywhere(fn, fn.__name__, "etl")
    for q in query_names:
        tracer.patch_item(queries.QUERIES, q, q, "query")
    for m in ("collect", "count", "toPandas", "isEmpty", "localCheckpoint",
              "checkpoint", "toLocalIterator"):
        tracer.patch(DataFrame, m, f"DataFrame.{m}", "action")
    for m in ("save", "parquet", "saveAsTable", "insertInto"):
        tracer.patch(DataFrameWriter, m, f"DataFrameWriter.{m}", "action")

