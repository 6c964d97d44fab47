"""Spans around the engine's public functions, and a stdlib-only parser for
Spark's JSON event log that attributes jobs, stages, tasks, bytes and spill
to those spans.

Each span sets ``spark.jobGroup.id`` to its own id for its duration, so every
Spark job it launches carries the span id into the event log. Spans are kept
in memory and written out when the run ends. Nothing here edits the engine:
``Tracer.patch`` swaps module attributes for wrappers and ``unpatch`` restores
them.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP = "spark.jobGroup.id"
POSTINGS_SCAN = "/postings]"
UDF_SENT = "data sent to Python workers"
UDF_RECEIVED = "data returned from Python workers"
UDF_RUN = "time to run Python workers"  # ms


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        sid = f"pb-{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, sid)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            self.spans.append({"id": sid, "parent": parent, "name": name, "start": t0, "end": t1})

    def patch(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries a read, a write and a build pass through."""
    from pyspark.sql.classic.dataframe import DataFrame

    from statschat_ke_spark import api
    from statschat_ke_spark.index import build, query

    tracer.patch(api, "topk", "index.query.plan")
    tracer.patch(api, "search_pipeline", "api.pipeline")
    tracer.patch(query, "check_index_format", "index.query.snapshot")
    tracer.patch(query, "load_stats", "index.query.snapshot")
    tracer.patch(build, "merge_index", "index.build.phase_b")
    tracer.patch(build, "append_segment", "index.build.phase_b")
    tracer.patch(DataFrame, "collect", "spark.collect")


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (uncompressed, possibly rolled) logs under
    ``log_dir``, in file order."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _walk(node, out: dict) -> None:
    loc = node.get("metadata", {}).get("Location", "")
    if node.get("nodeName", "").startswith("Scan parquet") and POSTINGS_SCAN in loc:
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                out[m["accumulatorId"]] = "postings_records_read"
            elif m["name"] == "size of files read":
                out[m["accumulatorId"]] = "postings_bytes_read"
    for child in node.get("children", []):
        _walk(child, out)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def group_metrics(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per job group (= span id): jobs, stages, tasks, executor CPU,
    input/shuffle/spill bytes, Python-UDF bytes, and postings scan rows and
    bytes (from the SQL plan's scan node on the ``postings`` table)."""
    acc_kind: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    accum_updates = []
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk(e.get("sparkPlanInfo", {}), acc_kind)
            if e.get("jobGroupId"):
                exec_group[e["executionId"]] = e["jobGroupId"]
        elif kind.endswith("DriverAccumUpdates"):
            accum_updates.append(e)
        elif kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(GROUP)
            if g:
                out[g]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get(GROUP)
            if g:
                stage_group[e["Stage Info"]["Stage ID"]] = g
                out[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            m, o = e.get("Task Metrics") or {}, out[g]
            o["tasks"] += 1
            o["executor_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
            o["input_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
            o["shuffle_write_bytes"] += _num(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
            )
            o["spill_bytes"] += _num(m.get("Disk Bytes Spilled"))
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                name = a.get("Name")
                if name == UDF_SENT:
                    o["udf_bytes_sent"] += _num(a.get("Update"))
                elif name == UDF_RECEIVED:
                    o["udf_bytes_received"] += _num(a.get("Update"))
                elif name == UDF_RUN:
                    o["udf_run_s"] += _num(a.get("Update")) / 1e3
                elif a.get("ID") in acc_kind:
                    o[acc_kind[a["ID"]]] += _num(a.get("Update"))
    for e in accum_updates:
        g = exec_group.get(e.get("executionId"))
        if g is None:
            continue
        for acc_id, value in e.get("accumUpdates", []):
            if acc_id in acc_kind:
                out[g][acc_kind[acc_id]] += _num(value)
    return {g: dict(v) for g, v in out.items()}


def subtree_totals(spans: list[dict], per_group: dict[str, dict[str, float]]):
    """Event-log totals of each span including every span nested in it."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])

    @functools.lru_cache(maxsize=None)
    def total(sid: str) -> tuple:
        acc = defaultdict(float, per_group.get(sid, {}))
        for c in children.get(sid, []):
            for k, v in total(c):
                acc[k] += v
        return tuple(acc.items())

    return {s["id"]: dict(total(s["id"])) for s in spans}, children
