"""Read-only probes into a running engine, all from outside the package.

- :class:`Stores` reads Spark's in-process status stores (jobs, stages,
  SQL executions and their plan-node metrics) and the JVM's GC and
  memory MXBeans.
- :class:`Tracer` records spans around calls into public functions:
  ``io.load_table``, ``operators.ann_index.persisted`` and PySpark's
  ``DataFrame.localCheckpoint/checkpoint/cache/persist``. It wraps
  them by rebinding the names; the package's code is not changed.
- :class:`StreamEvents` is a ``StreamingQueryListener`` that keeps
  every micro-batch progress event.
"""

from __future__ import annotations

import os
import re
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.summary import Span

#: plan nodes that pass every input row through and carry no row count,
#: so their row count is read from the node below them
_ROW_PRESERVING = re.compile(
    r"^(OverwriteByExpression|AdaptiveSparkPlan|Project|Sort|AQEShuffleRead|"
    r"Exchange|ShuffleQueryStage|ResultQueryStage|ColumnarToRow|InputAdapter|Window)$")
_LIMIT_NODES = ("TakeOrderedAndProject", "CollectLimit", "GlobalLimit")
_ROWS = "number of output rows"
#: plan nodes that evaluate Python (stateful streaming nodes carry the
#: same worker metrics, always zero, and are not among them)
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def _num(text: str) -> int:
    """First number of an SQL metric's display string, in bytes for a
    size ("1.5 KiB") and as-is otherwise ("12,345")."""
    head = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.search(r"([\d,.]+)\s*(B|KiB|MiB|GiB|TiB)?", head)
    if not m:
        return 0
    value = float(m.group(1).replace(",", ""))
    scale = {"KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
    return int(value * scale.get(m.group(2) or "", 1))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Stores:
    """Spark's status stores and the JVM's management beans."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.app = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.bus = jsc.listenerBus()
        self.mgmt = self.sc._jvm.java.lang.management.ManagementFactory

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the executions that just finished."""
        self.bus.waitUntilEmpty()

    def jvm_pid(self) -> int:
        return int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    # -- SQL executions ------------------------------------------------

    def last_sql_id(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return int(self.sql.executionsList(n - 1, 1).apply(0).executionId())

    def sql_ids_after(self, after: int) -> list[int]:
        """Ids of the SQL executions that started after ``after``."""
        n = self.sql.executionsCount()
        out: list[int] = []
        step = 16
        while n > 0:
            k = min(step, n)
            batch = [int(e.executionId())
                     for e in _seq(self.sql.executionsList(n - k, k))]
            newer = [i for i in batch if i > after]
            out = newer + out
            if len(newer) < len(batch):
                break
            n -= k
        return out

    def _nodes(self, exec_id: int):
        graph = self.sql.planGraph(exec_id)
        values = self.sql.executionMetrics(exec_id)
        nodes = []
        for node in _seq(graph.allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = v.get()
            nodes.append((int(node.id()), node.name(), node.desc(), metrics))
        edges = [(int(e.fromId()), int(e.toId())) for e in _seq(graph.edges())]
        return nodes, edges

    def write_exec(self, after: int) -> int | None:
        """The ``noop`` write's SQL execution among those after ``after``."""
        for exec_id in reversed(self.sql_ids_after(after)):
            nodes, _ = self._nodes(exec_id)
            if nodes and nodes[0][1].startswith("OverwriteByExpression"):
                return exec_id
        return None

    @staticmethod
    def _rows(node_id: int, by_id: dict, children: dict) -> int | None:
        """Rows out of plan node ``node_id``: its own row count, else the
        rows its children give through a row-preserving node, a Union
        (their sum) or a limit node (capped). None when not readable."""
        _id, name, desc, metrics = by_id[node_id]
        if _ROWS in metrics:
            return _num(metrics[_ROWS])
        below = [Stores._rows(c, by_id, children) for c in children.get(node_id, [])]
        if not below or None in below:
            return None
        if name == "Union":
            return sum(below)
        if len(below) != 1:
            return None
        if name in _LIMIT_NODES:
            m = re.search(r"limit=(\d+)", desc)
            return min(below[0], int(m.group(1))) if m else None
        return below[0] if _ROW_PRESERVING.match(name) else None

    def _tree(self, exec_id: int):
        nodes, edges = self._nodes(exec_id)
        children: dict[int, list[int]] = {}
        for child, parent in edges:
            children.setdefault(parent, []).append(child)
        return nodes, {n[0]: n for n in nodes}, children

    def output_rows(self, exec_id: int) -> int | None:
        """Rows the write received, read down from the plan's root."""
        nodes, by_id, children = self._tree(exec_id)
        return self._rows(nodes[0][0], by_id, children) if nodes else None

    def plan_counts(self, exec_id: int) -> dict[str, int]:
        names = [name for _i, name, _d, _m in self._nodes(exec_id)[0]]
        return {
            "exchanges": sum(n == "Exchange" for n in names),
            "broadcast_joins": sum(n.startswith("BroadcastHashJoin")
                                   or n.startswith("BroadcastNestedLoopJoin")
                                   for n in names),
            "sort_merge_joins": sum(n.startswith("SortMergeJoin") for n in names),
        }

    def arrow_counts(self, exec_ids: list[int]) -> dict[str, int]:
        """Rows and bytes crossing the Arrow boundary to Python workers,
        summed over the Python-evaluating plan nodes."""
        out = {"rows_to_python": 0, "bytes_to_python": 0, "bytes_from_python": 0}
        for exec_id in exec_ids:
            nodes, by_id, children = self._tree(exec_id)
            for node_id, name, _desc, metrics in nodes:
                if not _PYTHON_NODE.search(name):
                    continue
                out["bytes_to_python"] += _num(
                    metrics.get("data sent to Python workers", "0"))
                out["bytes_from_python"] += _num(
                    metrics.get("data returned from Python workers", "0"))
                for child in children.get(node_id, []):
                    out["rows_to_python"] += self._rows(child, by_id, children) or 0
        return out

    # -- jobs and stages -----------------------------------------------

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, job_ids: list[int]) -> dict:
        """Counts summed over the stages of ``job_ids`` (last attempts),
        plus the RDD ids each job's stages touched."""
        stats = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
                 "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                 "spill_bytes": 0, "peak_memory_bytes": 0, "rdds_by_job": {}}
        for job_id in job_ids:
            rdds: set[int] = set()
            for stage_id in _seq(self.app.job(job_id).stageIds()):
                s = self.app.lastStageAttempt(stage_id)
                rdds.update(int(r) for r in _seq(s.rddIds()))
                if s.status().toString() == "SKIPPED":
                    continue
                stats["stages"] += 1
                stats["tasks"] += int(s.numTasks())
                stats["task_cpu_s"] += s.executorCpuTime() / 1e9
                stats["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
                stats["shuffle_read_bytes"] += int(s.shuffleReadBytes())
                stats["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
                stats["peak_memory_bytes"] = max(stats["peak_memory_bytes"],
                                                 int(s.peakExecutionMemory()))
            stats["rdds_by_job"][job_id] = rdds
        return stats

    # -- JVM -----------------------------------------------------------

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime()
                   for b in self.mgmt.getGarbageCollectorMXBeans()) / 1000.0

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed()
                   for p in self.mgmt.getMemoryPoolMXBeans()
                   if p.getType().toString() == "Heap memory") / 2**20


class StreamEvents(StreamingQueryListener):
    """Keeps streaming progress events until :meth:`take` hands them out."""

    def __init__(self):
        self._lock = threading.Lock()
        self._runs: list[str] = []
        self._progress: list[dict] = []

    def onQueryStarted(self, event):
        with self._lock:
            self._runs.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self._progress.append({"batch": p.batchId, "durations": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> tuple[list[str], list[dict]]:
        with self._lock:
            runs, progress = self._runs, self._progress
            self._runs, self._progress = [], []
        return runs, progress


class Tracer:
    """Spans in memory, recorded around the layers' public calls.

    ``enabled`` switches recording off for untraced passes of a traced
    run; the wrappers then only call through."""

    def __init__(self, stores: Stores):
        self.stores = stores
        self.spans: list[Span] = []
        self.enabled = True
        self.exec_id = ""
        self.group = ""
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.exec_id, attrs))
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    # -- wrapping --------------------------------------------------------

    def _rebind(self, original, wrapper) -> None:
        """Point every module-level name bound to ``original`` at
        ``wrapper`` (modules that did ``from x import f`` hold their own
        reference)."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("hearthstats_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, original))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        import hearthstats_spark.io as hs_io
        import hearthstats_spark.operators.ann_index as ann_index

        tracer = self
        load_table, persisted = hs_io.load_table, ann_index.persisted

        def traced_load_table(spark, sf_dir, name):
            with tracer.span("io.load_table", table=name):
                return load_table(spark, sf_dir, name)

        def traced_persisted(spark, sf_dir, name, build, table="embeddings", version=1):
            if not tracer.enabled:
                return persisted(spark, sf_dir, name, build, table, version)
            path = ann_index.artifact_path(sf_dir, name, table, version)
            hit = (ann_index.cache_enabled()
                   and os.path.isfile(os.path.join(path, "_SUCCESS")))
            with tracer.span("ann_index.persisted", artifact=name, hit=hit):
                return persisted(spark, sf_dir, name, build, table, version)

        self._rebind(load_table, traced_load_table)
        self._rebind(persisted, traced_persisted)

        for method in ("localCheckpoint", "checkpoint", "cache", "persist"):
            original = getattr(DataFrame, method)
            setattr(DataFrame, method, self._materializer(method, original))
            self._undo.append((DataFrame, method, original))

    def _materializer(self, method: str, original):
        tracer = self

        def traced(df, *args, **kwargs):
            if not tracer.enabled:
                return original(df, *args, **kwargs)
            with tracer.span(f"materialize.{method}") as attrs:
                result = original(df, *args, **kwargs)
                attrs["frame"] = result
                if method in ("localCheckpoint", "checkpoint"):
                    plan = result._jdf.queryExecution().analyzed()
                    if plan.getClass().getSimpleName() == "LogicalRDD":
                        attrs["rdd"] = int(plan.rdd().id())
                    attrs["jobs_before"] = set(tracer.stores.job_ids(tracer.group))
                return result

        traced.__name__ = method
        traced.__doc__ = original.__doc__
        return traced

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()
