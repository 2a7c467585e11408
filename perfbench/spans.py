"""Span tracing for the benchmark's traced run, applied from outside the
product: the public entry points of each layer are wrapped in place, py4j's
client send path is counted, and Spark's own event log supplies the jobs,
stages and task metrics, tied back to spans through the job group.

Layers and the calls that open a span in them:

  plans.batch_driver   process_exports, process_exports_glob,
                       process_exports_batched
  sources.xml          read_ffi_export, read_ffi_export_sliced,
                       discover_columns
  plans.ffi_pipeline   FFIPipeline.run
  sinks.files          parquet_upsert, audit_log_append,
                       ProcessedLedger.mark
  parallel             run_parallel
  queries              a query builder call, and its action
  session              get_spark
  harness              the benchmark's own operation span

Spans stay in memory until ``layer_metrics`` folds them at the end.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "plans.batch_driver",
    "sources.xml",
    "plans.ffi_pipeline",
    "sinks.files",
    "queries",
)
SPAN_METRICS = ("calls", "wall_s", "self_s", "py4j_calls")
STAGE_METRICS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "scheduler_delay_s",
    "shuffle_bytes",
    "spill_bytes",
)
GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    op: int | None
    t0: float = 0.0
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans around wrapped calls. A span sets the Spark job
    group of its thread to ``perfbench-<span id>`` so that every job it
    submits can be found again in the event log."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.py4j: dict[int | None, int] = defaultdict(int)
        self.op: int | None = None  # operation index, set by the harness
        # seconds spent in the tracer's own code, per operation
        self.bookkeeping_s: dict[int | None, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span_id: int | None) -> None:
        self._local.internal = True
        try:
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                None if span_id is None else f"{GROUP_PREFIX}{span_id}",
            )
        finally:
            self._local.internal = False

    @contextmanager
    def span(self, layer: str, name: str):
        t_in = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        sp = Span(sid, parent.id if parent else None, layer, name, self.op)
        self._set_group(sid)
        st.append(sp)
        self._charge(time.perf_counter() - t_in)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            t_out = time.perf_counter()
            st.pop()
            self._set_group(parent.id if parent else None)
            with self._lock:
                self.spans.append(sp)
            self._charge(time.perf_counter() - t_out)

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.bookkeeping_s[self.op] += seconds

    def _adopt(self, parent: Span, fn):
        """Run ``fn`` on a worker thread as a child of ``parent``."""

        def run():
            self._local.stack = [parent]
            try:
                return fn()
            finally:
                self._local.stack = []

        return run

    # -- patching ------------------------------------------------------

    def _patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owners, attr: str, layer: str, record=None) -> None:
        """Replace ``attr`` on every owner by a spanned call. ``record``
        maps (span, args, result) to span attributes."""
        for owner in owners:
            orig = getattr(owner, attr)

            @functools.wraps(orig)
            def traced(*args, _orig=orig, **kwargs):
                with self.span(layer, attr) as sp:
                    result = _orig(*args, **kwargs)
                    if record is not None:
                        record(sp, args, result)
                    return result

            self._patch(owner, attr, traced)

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        from ffi_export_etl_spark import parallel
        from ffi_export_etl_spark.plans import batch_driver, ffi_pipeline
        from ffi_export_etl_spark.sinks import files
        from ffi_export_etl_spark.sources import xml

        send = GatewayClient.send_command

        def counted_send(client, *args, **kwargs):
            # the tracer's own sends (job groups) are charged by span()
            if not getattr(self._local, "internal", False):
                t0 = time.perf_counter()
                st = self._stack()
                key = st[-1].id if st else None
                with self._lock:
                    self.py4j[key] += 1
                self._charge(time.perf_counter() - t0)
            return send(client, *args, **kwargs)

        self._patch(GatewayClient, "send_command", counted_send)

        def rows(sp, _args, result):
            sp.attrs["rows"] = int(result)

        for name in ("process_exports", "process_exports_glob",
                     "process_exports_batched"):
            self.wrap([batch_driver], name, "plans.batch_driver")
        self.wrap([xml, batch_driver], "read_ffi_export", "sources.xml")
        self.wrap([xml], "read_ffi_export_sliced", "sources.xml")
        self.wrap([xml], "discover_columns", "sources.xml")
        self.wrap([ffi_pipeline.FFIPipeline], "run", "plans.ffi_pipeline")
        self.wrap([files, batch_driver], "parquet_upsert", "sinks.files", rows)
        self.wrap([files, batch_driver], "audit_log_append", "sinks.files")
        self.wrap([files.ProcessedLedger], "mark", "sinks.files")

        run_parallel = parallel.run_parallel

        @functools.wraps(run_parallel)
        def traced_run_parallel(tasks, *args, **kwargs):
            with self.span("parallel", "run_parallel") as sp:
                adopted = {k: self._adopt(sp, fn) for k, fn in tasks.items()}
                return run_parallel(adopted, *args, **kwargs)

        self._patch(parallel, "run_parallel", traced_run_parallel)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# -- event log ----------------------------------------------------------


@dataclass
class Stage:
    group: int | None
    xml_scan: bool
    t0: float = 0.0
    t1: float = 0.0
    m: dict = field(default_factory=lambda: dict.fromkeys(STAGE_METRICS[1:], 0.0))


def _group_of(props: dict | None) -> int | None:
    g = (props or {}).get("spark.jobGroup.id") or ""
    return int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None


def _xml_scan_rdds(stage_info: dict) -> set[int]:
    """Ids of the stage's RDDs that belong to an XML file-scan plan
    node."""
    ids = set()
    for rdd in stage_info.get("RDD Info", []):
        try:
            name = json.loads(rdd.get("Scope") or "{}").get("name", "")
        except ValueError:
            name = ""
        if name.lower().startswith("scan xml"):
            ids.add(rdd["RDD ID"])
    return ids


def read_event_log(path: str) -> tuple[dict[int | None, int], dict[tuple, Stage]]:
    """(jobs per span id, stages keyed by (stage id, attempt))."""
    jobs: dict[int | None, int] = defaultdict(int)
    stages: dict[tuple, Stage] = {}
    parsed: set[int] = set()  # XML-scan RDDs some earlier stage computed
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[_group_of(ev.get("Properties"))] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                # a stage lists every narrow ancestor RDD, cached or not:
                # only the first stage over an XML-scan RDD parses (the
                # reader persists the parse), later ones read the cache
                xml_rdds = _xml_scan_rdds(info) - parsed
                parsed |= xml_rdds
                stages[key] = Stage(_group_of(ev.get("Properties")),
                                    bool(xml_rdds))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.get((info["Stage ID"], info["Stage Attempt ID"]))
                if st is not None:
                    st.t0 = info.get("Submission Time", 0) / 1000
                    st.t1 = info.get("Completion Time", 0) / 1000
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                tm = ev.get("Task Metrics")
                if st is None or not tm:
                    continue
                ti = ev["Task Info"]
                run_ms = tm.get("Executor Run Time", 0)
                busy_ms = (run_ms + tm.get("Executor Deserialize Time", 0)
                           + tm.get("Result Serialization Time", 0))
                fetch_ms = (ti["Finish Time"] - ti["Getting Result Time"]
                            if ti.get("Getting Result Time") else 0)
                m = st.m
                m["tasks"] += 1
                m["executor_run_s"] += run_ms / 1000
                m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                m["scheduler_delay_s"] += max(
                    0, ti["Finish Time"] - ti["Launch Time"] - busy_ms - fetch_ms
                ) / 1000
                m["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return jobs, stages


# -- folding spans + event log into per-layer metrics ---------------------


def _outermost(spans: list[Span], by_id: dict[int, Span]) -> list[Span]:
    """Spans not nested in a span of their own layer."""
    out = []
    for sp in spans:
        p = by_id.get(sp.parent)
        while p is not None and p.layer != sp.layer:
            p = by_id.get(p.parent)
        if p is None:
            out.append(sp)
    return out


def _sweep(spans: list[Span], stage_spans: dict[int, list[tuple[float, float]]]):
    """Split wall time between layers. At each instant the innermost
    active spans (those with no active child) share the instant equally;
    their share is driver-only when no stage of their own is running.
    Returns ({layer: self seconds}, {layer: driver-only seconds})."""
    self_s: dict[str, float] = defaultdict(float)
    driver_s: dict[str, float] = defaultdict(float)
    cuts = {t for sp in spans for t in (sp.t0, sp.t1)}
    for ivs in stage_spans.values():
        cuts.update(t for iv in ivs for t in iv)
    lo = min(sp.t0 for sp in spans)
    hi = max(sp.t1 for sp in spans)
    cuts = sorted(t for t in cuts if lo <= t <= hi)
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        active = [sp for sp in spans if sp.t0 <= a and sp.t1 >= b]
        if not active:
            continue
        parents = {sp.parent for sp in active}
        leaves = [sp for sp in active if sp.id not in parents]
        w = (b - a) / len(leaves)
        for sp in leaves:
            self_s[sp.layer] += w
            busy = any(s0 <= a and s1 >= b for s0, s1 in stage_spans.get(sp.id, ()))
            if not busy:
                driver_s[sp.layer] += w
    return self_s, driver_s


def layer_metrics(tracer: Tracer, ops: list[int], event_log: str | None) -> dict:
    """Per-operation means of every layer metric over the spans of
    ``ops``; keys are ``<layer>.<metric>``."""
    wanted = set(ops)
    spans = [sp for sp in tracer.spans if sp.op in wanted]
    by_id = {sp.id: sp for sp in tracer.spans}
    n = max(1, len(ops))
    jobs, stages = read_event_log(event_log) if event_log else ({}, {})
    layer_of = {sp.id: sp.layer for sp in spans}
    stage_spans: dict[int, list[tuple[float, float]]] = defaultdict(list)
    totals: dict[str, float] = defaultdict(float)
    for st in stages.values():
        if st.group not in layer_of:
            continue
        if st.t1 > st.t0:
            stage_spans[st.group].append((st.t0, st.t1))
        # executor work of XML-scan stages belongs to the XML source,
        # whichever span's action triggered the lazy parse
        layer = "sources.xml" if st.xml_scan else layer_of[st.group]
        for k, v in st.m.items():
            totals[f"{layer}.{k}"] += v
    for sid, count in jobs.items():
        if sid in layer_of:
            totals[f"{layer_of[sid]}.jobs"] += count
    for sid, count in tracer.py4j.items():
        if sid in layer_of:
            totals[f"{layer_of[sid]}.py4j_calls"] += count
    for sp in _outermost(spans, by_id):
        totals[f"{sp.layer}.calls"] += 1
        totals[f"{sp.layer}.wall_s"] += sp.t1 - sp.t0
    self_s, driver_s = _sweep(spans, stage_spans) if spans else ({}, {})
    layers = sorted({sp.layer for sp in spans} | set(LAYERS))
    out: dict[str, float] = {}
    for layer in layers:
        totals[f"{layer}.self_s"] = self_s.get(layer, 0.0)
        totals[f"{layer}.driver_only_s"] = driver_s.get(layer, 0.0)
        for k in SPAN_METRICS + STAGE_METRICS + ("driver_only_s",):
            out[f"{layer}.{k}"] = totals.get(f"{layer}.{k}", 0.0) / n
    return out
