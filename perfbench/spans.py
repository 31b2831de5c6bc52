"""Spans, Spark status-store counters and process-tree memory for the
benchmark. Everything here observes the library from outside: spans
wrap the calls the benchmark makes into each module's public
functions, and Spark counters come from the status store, read per job
group right after each op."""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

# Physical plan nodes that run Python code in a worker process.
PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|ArrowWindowPython|BatchScan [^\n]*\(Python\)|PythonUDTF\w*)")
EXCHANGE_NODE = re.compile(r"\b(Exchange|BroadcastExchange|ShuffleExchange)\b")


class Tracer:
    """In-memory span recorder. A span has a name, start, end, parent
    span and op id; ``enabled=False`` turns every call into a no-op so
    the untimed and traced runs share one code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id, "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as fh:
            json.dump([{**s, "self_s": own[s["id"]]} for s in self.spans], fh)


def patch_module_function(tracer: Tracer, module_prefix: str, attr: str, name: str) -> None:
    """Wrap ``attr`` in every loaded module under ``module_prefix`` that
    bound it with ``from ... import``, so calls made inside the library
    are timed at the module boundary without editing the library."""
    wrapped: dict[int, object] = {}
    for n, m in list(sys.modules.items()):
        fn = getattr(m, attr, None) if n.startswith(module_prefix) else None
        if callable(fn):
            setattr(m, attr, wrapped.setdefault(id(fn), tracer.wrap(fn, name)))


def plan_node_counts(df) -> dict[str, int]:
    """Time the physical planning of ``df`` and count plan nodes. The
    executed plan is cached on the Dataset, so the following action
    reuses it."""
    t0 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {"plan_s": time.perf_counter() - t0,
            "exchanges": len(EXCHANGE_NODE.findall(plan)),
            "python_nodes": len(PYTHON_NODE.findall(plan))}


def spark_counters(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks and executor metrics of every job in
    ``groups`` from the status store (works with the UI disabled)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    quant = sc._gateway.new_array(jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0, "executor_cpu_ms": 0.0,
           "gc_ms": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "task_skew": 1.0}
    stage_ids: set[int] = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # skipped stages have no attempt
            continue
        if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["executor_run_ms"] += st.executorRunTime()
        out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
        out["gc_ms"] += st.jvmGcTime()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        summary = store.taskSummary(sid, st.attemptId(), quant)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, top = run.apply(0), run.apply(1)
            if med > 0:
                out["task_skew"] = max(out["task_skew"], top / med)
    return out


class TreeRss:
    """Peak resident memory of this process and all its descendants
    (the Python driver, the JVM and its Python workers), sampled from
    /proc in a background thread."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def reset(self) -> None:
        with self._lock:
            self.peak_kb = 0

    def sample(self) -> None:
        # scan outside the lock, compare under it: a reset made during
        # the scan must not bring the previous peak back
        cur = sum(process_tree(os.getpid()).values())
        with self._lock:
            self.peak_kb = max(self.peak_kb, cur)


def process_tree(root: int) -> dict[int, int]:
    """RSS in KiB of ``root`` and each of its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            fields = stat[stat.rindex(")") + 2:].split()
            ppid, pages = int(fields[1]), int(fields[21])
        except (OSError, ValueError, IndexError):  # the process has exited
            continue
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages * page_kb
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return out
