"""Layer tracing for the benchmark, done entirely from outside the engine.

``install()`` replaces every public function of the engine's ``functions``,
``sources``, ``operators`` and ``streaming`` modules, and the I/O methods of
PySpark's ``DataFrameReader``/``DataFrameWriter``, with thin wrappers that
record a span around each call. It must run before ``plans`` is imported,
because plan modules bind names such as ``load_table`` at import.

A span is ``[id, parent, layer, sub, name, exec_id, t0, t1]``. The
benchmark opens three root spans per timed execution itself: ``plans``
(building the DataFrame), ``catalyst`` (forcing the executed plan) and
``exec`` (the action). Spans that can fire Spark jobs set the job group to
``pb<exec_id>`` and the job description to ``pb<span id>``, so the event
log attributes every job, stage and task to the span that caused it. Jobs
submitted from threads that set their own group (streaming micro-batches)
go to the innermost tagged span open when they were submitted.

Spans stay in memory; ``layer_metrics`` turns them and the event log into
per-layer numbers when the run ends. Wrappers record nothing while
``Tracer.enabled`` is false or off the main thread, and a wrapper pickled
into a Python worker resolves to the original function.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import sys
import threading
import time

PKG = "create_proposals_using_vector_db_public_spark"

# Import and wrap in dependency order: a module that binds a name from a
# lower layer at import must find that layer already wrapped.
LAYER_MODULES = (
    ("functions", ("hashing", "money", "text", "vectors")),
    ("sources", ("tables", "pickle_store")),
    ("operators", ("knn", "dedup", "retrieval", "joins", "ingest",
                   "selection", "multimodal", "ml", "plan_stats")),
    ("sources", ("binaryfile",)),
    ("streaming", ("ingest_stream", "stateful")),
)
IO_METHODS = {
    "read": ("parquet", "csv", "json", "orc", "text", "load", "table"),
    "write": ("parquet", "csv", "json", "orc", "text", "save",
              "saveAsTable", "insertInto"),
}
# layers whose calls can fire Spark jobs get their own job description
TAGGED = {"plans", "catalyst", "exec", "sources", "operators", "streaming", "io"}

_FUNCTIONS = ("vectors", "text", "hashing", "money")
_OPERATORS = ("knn", "dedup", "retrieval", "joins", "ingest", "selection",
              "multimodal", "ml")
# every per-layer metric a traced run prints, with its unit. Each time is
# one that both workloads spend; the finer splits (per function module,
# per operator, streaming, writes) are counts here, and their self times
# are in the run record.
PER_LAYER = {
    "session.start_s": "s",
    "sources.calls": "count", "sources.s": "s", "sources.jobs": "count",
    "functions.calls": "count", "functions.s": "s",
    **{f"functions.{m}.calls": "count" for m in _FUNCTIONS},
    "operators.calls": "count", "operators.s": "s", "operators.jobs": "count",
    **{f"operators.{m}.calls": "count" for m in _OPERATORS},
    "plans.build_s": "s", "plans.s": "s", "plans.jobs": "count",
    "streaming.calls": "count", "streaming.jobs": "count",
    "io.read_calls": "count", "io.read_s": "s",
    "io.write_calls": "count", "io.write_mb": "MB",
    "catalyst.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.gap_s": "s", "exec.task_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.core_busy": "ratio", "exec.rows_read_per_row_out": "ratio",
    "exec.exchange_reuse": "ratio",
    "jvm.gc_s": "s",
    "trace.overhead": "ratio", "trace.coverage_min": "ratio",
}

_ACTIVE: Tracer | None = None


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.sc = None
        self.exec_id = 0
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._main = threading.main_thread()

    def begin(self, layer: str, sub: str, name: str) -> int | None:
        if not self.enabled or threading.current_thread() is not self._main:
            return None
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([sid, parent, layer, sub, name, self.exec_id,
                           time.time(), None])
        self._stack.append(sid)
        if layer in TAGGED:
            self.sc.setJobGroup(f"pb{self.exec_id}", f"pb{sid}")
        return sid

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        rec = self.spans[sid]
        rec[7] = time.time()
        self._stack.pop()
        if rec[2] in TAGGED:
            tagged = [s for s in self._stack if self.spans[s][2] in TAGGED]
            desc = f"pb{tagged[-1]}" if tagged else "pbidle"
            self.sc.setJobGroup(f"pb{self.exec_id}", desc)

    def span(self, layer: str, sub: str, name: str) -> _Span:
        return _Span(self, layer, sub, name)


class _Span:
    __slots__ = ("tracer", "args", "sid")

    def __init__(self, tracer, layer, sub, name):
        self.tracer, self.args = tracer, (layer, sub, name)

    def __enter__(self):
        self.sid = self.tracer.begin(*self.args)
        return self

    def __exit__(self, *exc):
        self.tracer.end(self.sid)


def _call(fn, layer, sub, args, kwargs):
    t = _ACTIVE
    sid = t.begin(layer, sub, fn.__name__) if t is not None else None
    try:
        return fn(*args, **kwargs)
    finally:
        if sid is not None:
            t.end(sid)


def _wrap(fn, layer: str, sub: str):
    # functools.wraps keeps __module__/__qualname__, so cloudpickle pickles
    # the wrapper by reference and a Python worker gets the original
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        return _call(fn, layer, sub, args, kwargs)

    return traced


def install(tracer: Tracer) -> int:
    """Wrap the layer modules and the PySpark reader/writer; returns the
    number of functions wrapped. Call before importing ``plans``."""
    global _ACTIVE
    if f"{PKG}.plans" in sys.modules:
        raise RuntimeError("install() must run before the plans are imported")
    _ACTIVE = tracer
    wrapped: dict[int, object] = {}
    for layer, mods in LAYER_MODULES:
        for mod_name in mods:
            mod = importlib.import_module(f"{PKG}.{layer}.{mod_name}")
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                wrapped[id(fn)] = w = _wrap(fn, layer, mod_name)
                setattr(mod, attr, w)
        # re-exports such as sources.load_table
        pkg = importlib.import_module(f"{PKG}.{layer}")
        for attr, val in list(vars(pkg).items()):
            if id(val) in wrapped:
                setattr(pkg, attr, wrapped[id(val)])
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    n = len(wrapped)
    for cls, sub in ((DataFrameReader, "read"), (DataFrameWriter, "write")):
        for meth in IO_METHODS[sub]:
            setattr(cls, meth, _wrap(getattr(cls, meth), "io", sub))
            n += 1
    return n


# ---------------------------------------------------------------------------
# Event log


def read_event_log(path: str) -> dict:
    """Jobs and stages, with summed task metrics, from a Spark JSON event
    log; each carries the job group and description it was submitted
    under."""
    jobs, stages = [], {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append({
                    "group": props.get("spark.jobGroup.id") or "",
                    "desc": props.get("spark.job.description") or "",
                    "t0": ev["Submission Time"] / 1000.0,
                })
            elif kind == "SparkListenerStageSubmitted":
                info, props = ev["Stage Info"], ev.get("Properties") or {}
                stages[info["Stage ID"]] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "desc": props.get("spark.job.description") or "",
                    "t0": (info.get("Submission Time") or 0) / 1000.0,
                    "t1": None, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                    "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                    "records_in": 0, "bytes_out": 0,
                }
            elif kind == "SparkListenerStageCompleted":
                st = stages.get(ev["Stage Info"]["Stage ID"])
                if st is not None:
                    st["t1"] = (ev["Stage Info"].get("Completion Time") or 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if st is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics") or {}
                st["tasks"] += 1
                st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)
                st["records_in"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                st["bytes_out"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return {"jobs": jobs, "stages": list(stages.values())}


_EXCHANGE = re.compile(r"^[\s:+|\-]*(ReusedExchange|Exchange|BroadcastExchange)\b")


def count_exchanges(plan_text: str) -> tuple[int, int]:
    """(exchanges, reused exchanges) in a final physical plan string."""
    total = reused = 0
    for line in plan_text.split("== Initial Plan ==")[0].splitlines():
        m = _EXCHANGE.match(line)
        if m:
            total += 1
            reused += m.group(1) == "ReusedExchange"
    return total, reused


def layer_metrics(spans: list, log: dict, passes: int, cores: int,
                  rows_out: int, exchanges: tuple[int, int]):
    """Per-pass layer metrics from the finished spans of the traced passes
    and the event log, plus a per-query table of each layer's self time."""
    by_id = {s[0]: s for s in spans}
    child_s: dict[int, float] = {}
    for s in spans:
        if s[1] is not None:
            child_s[s[1]] = child_s.get(s[1], 0.0) + (s[7] - s[6])

    def chain(sid):
        while sid is not None and sid in by_id:
            yield by_id[sid]
            sid = by_id[sid][1]

    m: dict[str, float] = {}

    def add(key, v):
        m[key] = m.get(key, 0.0) + v

    query_of = {s[5]: s[4] for s in spans if s[1] is None}
    per_query: dict[str, dict[str, float]] = {}
    for s in spans:
        layer, sub = s[2], s[3]
        own = (s[7] - s[6]) - child_s.get(s[0], 0.0)
        key = f"{layer}.{sub}" if layer in ("functions", "operators", "io") else layer
        row = per_query.setdefault(query_of.get(s[5], "?"), {})
        row[key] = row.get(key, 0.0) + own
        if layer in ("functions", "operators", "sources", "streaming"):
            add(f"{layer}.calls", 1)
        if layer in ("functions", "operators"):
            add(f"{layer}.{sub}.calls", 1)
            add(f"{layer}.{sub}.s", own)
        if layer in ("functions", "operators", "sources", "streaming", "catalyst", "plans"):
            add(f"{layer}.s", own)
        elif layer == "io":
            add(f"io.{sub}_calls", 1)
            add(f"io.{sub}_s", own)
        if s[1] is None and layer == "plans":
            add("plans.build_s", s[7] - s[6])
        if s[1] is None and layer == "exec":
            add("exec.s", s[7] - s[6])

    tagged = sorted((s for s in spans if s[2] in TAGGED), key=lambda s: s[6])

    def owner(item):
        """The span a job or stage belongs to: the one named by its
        description, else the innermost tagged span open at submission."""
        if item["group"].startswith("pb"):
            tail = item["desc"][2:]
            return by_id.get(int(tail)) if tail.isdigit() else None
        best = None
        for s in tagged:
            if s[6] > item["t0"]:
                break
            if item["t0"] <= s[7]:
                best = s
        return best

    for job in log["jobs"]:
        s = owner(job)
        if s is not None:
            for layer in {x[2] for x in chain(s[0])} & {
                    "sources", "operators", "plans", "streaming", "exec"}:
                add(f"{layer}.jobs", 1)
    stage_iv: dict[int, list] = {}
    for st in log["stages"]:
        s = owner(st)
        if s is None:
            continue
        path = list(chain(s[0]))
        if any(x[2] == "io" and x[3] == "write" for x in path):
            add("io.write_mb", st["bytes_out"] / 1e6)
        root = path[-1]
        if root[2] != "exec":
            continue
        add("exec.stages", 1)
        add("exec.tasks", st["tasks"])
        add("exec.task_s", st["task_s"])
        add("exec.gc_s", st["gc_s"])
        add("exec.shuffle_read_mb", st["shuffle_read"] / 1e6)
        add("exec.shuffle_write_mb", st["shuffle_write"] / 1e6)
        add("exec.spill_mb", st["spill"] / 1e6)
        add("exec.records_in", st["records_in"])
        if st["t1"]:
            stage_iv.setdefault(root[0], []).append((st["t0"], st["t1"]))
    for s in spans:
        if s[1] is None and s[2] == "exec":
            add("exec.gap_s", (s[7] - s[6]) - _covered(s[6], s[7], stage_iv.get(s[0], [])))

    out = {k: v / passes for k, v in m.items()}
    records_in = out.pop("exec.records_in", 0.0) * passes
    exec_s = out.get("exec.s", 0.0)
    out["exec.core_busy"] = out.get("exec.task_s", 0.0) / (exec_s * cores) if exec_s else 0.0
    out["exec.rows_read_per_row_out"] = records_in / max(rows_out, 1)
    out["exec.exchange_reuse"] = exchanges[1] / exchanges[0] if exchanges[0] else 0.0
    table = {q: {k: v / passes for k, v in sorted(d.items())} for q, d in per_query.items()}
    return out, table


def _covered(t0: float, t1: float, intervals: list) -> float:
    """Length of [t0, t1] covered by the union of ``intervals``."""
    total, cur = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, t1)
        if b > a:
            total += b - a
            cur = b
    return total
