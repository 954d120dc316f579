"""Traced run: spans around each layer's public functions, plus every
Spark job charged to a layer.

Spark is lazy, so a span around a function that returns a DataFrame
covers only planning; the work runs later in whatever action consumes
the frame. Each job is therefore attributed twice over:

1. by the Python call site Spark records in the job's name
   (``collect at .../operators/cleaning.py:69``), mapped to a layer by
   the module and, for the plan modules, by the statement at that line;
2. failing that, by the job group, which every span sets to its own id,
   so a job is charged to the innermost span open when it started.

PySpark records a Python call site only for some actions (collect,
take); ``localCheckpoint`` and the writers show a JVM frame instead.
While tracing, those methods are wrapped to record the caller's file
and line the same way.

Nothing here edits the program: patches replace names in the modules'
namespaces for the life of the process and are undone by ``uninstall``.
"""

from __future__ import annotations

import ast
import functools
import importlib
import inspect
import json
import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PKG = "airflow_loan_etl_pipeline_spark"

# Layer -> what measures it. Spans named after these; "driver" is each
# operation's root span, whose self time is wall time outside every
# layer span and every Spark job. "plans" takes jobs that a plan module
# (or the benchmark's own final action) starts from a statement no
# layer rule claims.
LAYERS = (
    "session",
    "sources.drive_source",
    "streaming.file_source",
    "compress",
    "sources.io.read",
    "operators.cleaning",
    "operators.aggregates",
    "plans.report",
    "sources.io.write",
    "operators.text",
    "operators.dedup",
    "operators.cache_scope",
    "plans",
    "driver",
)

# (module, attribute, layer): the name is patched in the namespace the
# caller looks it up in, e.g. drive_pipeline.compress_new_files.
WRAPS = (
    ("session", "get_spark", "session"),
    ("plans.drive_pipeline", "_register_listing", "sources.drive_source"),
    ("plans.drive_pipeline", "load_ledger", "streaming.file_source"),
    ("plans.drive_pipeline", "new_files", "streaming.file_source"),
    ("plans.drive_pipeline", "update_ledger", "streaming.file_source"),
    ("plans.drive_pipeline", "compress_new_files", "compress"),
    ("plans.drive_pipeline", "compression_summary", "compress"),
    ("plans.drive_pipeline", "read_csv_dir", "sources.io.read"),
    ("plans.drive_pipeline", "latest_aggregates_summary", "operators.aggregates"),
    ("plans.drive_pipeline", "render_html_report", "plans.report"),
    ("plans.loan_etl", "fill_nulls_with_mode", "operators.cleaning"),
    ("plans.loan_etl", "split_datetime", "operators.aggregates"),
    ("plans.loan_etl", "grouped_metrics", "operators.aggregates"),
    ("plans.loan_etl", "latest_aggregates_summary", "operators.aggregates"),
    ("sources.io", "read_csv_dir", "sources.io.read"),
    ("sources.io", "write_parquet", "sources.io.write"),
    ("operators.text", "quality_score", "operators.text"),
    ("operators.dedup", "minhash_lsh_pairs", "operators.dedup"),
    ("operators.dedup", "dup_clusters", "operators.dedup"),
    ("operators.dedup", "decontaminate", "operators.dedup"),
    ("plans.corpus_build", "materialize_consistent", "operators.cache_scope"),
)

# A job whose call site is in one of these modules belongs to the layer.
MODULE_LAYERS = {
    "session": "session",
    "sources.drive_source": "sources.drive_source",
    "streaming.file_source": "streaming.file_source",
    "operators.cleaning": "operators.cleaning",
    "operators.aggregates": "operators.aggregates",
    "operators.dates": "operators.aggregates",
    "operators.topk": "operators.aggregates",
    "plans.report": "plans.report",
    "operators.text": "operators.text",
    "operators.dedup": "operators.dedup",
    "operators.cache_scope": "operators.cache_scope",
}

# Modules that hold several layers: a name used at the call site picks
# the layer (see callsite_layer); no match falls back to the job group.
STATEMENT_LAYERS = {
    "sources.io": (("write_", "sources.io.write"), ("read_", "sources.io.read")),
    "plans.drive_pipeline": (
        ("compress_new_files", "compress"),
        ("summaries_df", "compress"),
        ("load_ledger", "streaming.file_source"),
        ("update_ledger", "streaming.file_source"),
        ("latest_aggregates_summary", "operators.aggregates"),
        ("fresh", "sources.drive_source"),
    ),
    "plans.loan_etl": (("latest_aggregates_summary", "operators.aggregates"),),
}

# pyspark actions that do not record a Python call site themselves.
_CALLSITE_METHODS = (
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "checkpoint"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "count"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "isEmpty"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "save"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "csv"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "json"),
)

_CALLSITE = re.compile(r" at (.+?):(\d+)$")


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    job: dict | None = None  # Spark job figures when this span is a job


# --- pure arithmetic (unit-tested on synthetic span trees) ------------


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of it its children cover
    (children clipped to the parent's interval; overlapping children
    counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(p.id, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return {
        s.id: max(0.0, (s.end - s.start) - _union_length(kids.get(s.id, [])))
        for s in spans
    }


def layer_metrics(spans: list[Span], cores: int) -> dict[str, dict[str, float]]:
    """Per layer: wall_s (union of its spans), self_s, jobs, tasks,
    executor_busy_s, parallelism, input_bytes, shuffle_write_bytes."""
    selfs = self_times(spans)
    out = {
        layer: dict.fromkeys(
            ("wall_s", "self_s", "jobs", "tasks", "executor_busy_s",
             "parallelism", "input_bytes", "shuffle_write_bytes"), 0.0
        )
        for layer in LAYERS
    }
    for layer, m in out.items():
        mine = [s for s in spans if s.layer == layer]
        m["wall_s"] = _union_length([(s.start, s.end) for s in mine])
        m["self_s"] = sum(selfs[s.id] for s in mine)
        for s in mine:
            if s.job is not None:
                m["jobs"] += 1
                m["tasks"] += s.job["tasks"]
                m["executor_busy_s"] += s.job["run_ms"] / 1000.0
                m["input_bytes"] += s.job["input_bytes"]
                m["shuffle_write_bytes"] += s.job["shuffle_write_bytes"]
        if m["wall_s"] > 0:
            m["parallelism"] = m["executor_busy_s"] / (m["wall_s"] * cores)
    return out


# --- call-site -> layer ------------------------------------------------


def _module_of(path: str) -> str | None:
    """'…/airflow_loan_etl_pipeline_spark/plans/report.py' -> 'plans.report'."""
    parts = os.path.normpath(path).split(os.sep)
    if PKG not in parts or not parts[-1].endswith(".py"):
        return None
    rel = parts[len(parts) - 1 - parts[::-1].index(PKG) + 1:]
    return ".".join(rel)[: -len(".py")]


@functools.lru_cache(maxsize=None)
def _statements(module: str) -> tuple[list[str], list[tuple[int, int, str, str]]]:
    """A package module's source lines, and (first line, last line,
    enclosing function, source) of each statement (a compound one by its
    header lines)."""
    src = inspect.getsource(importlib.import_module(f"{PKG}.{module}"))
    stmts: list[tuple[int, int, str, str]] = []

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name)
                continue
            if isinstance(child, ast.stmt):
                last = (child.body[0].lineno - 1 if hasattr(child, "body")
                        else child.end_lineno)
                stmts.append((child.lineno, last, func,
                              "\n".join(lines[child.lineno - 1:last])))
            walk(child, func)

    lines = src.splitlines()
    walk(ast.parse(src), "")
    return lines, stmts


def callsite_layer(job_name: str) -> str | None:
    """Layer for a job from the Python call site in its name, or None.

    Package modules listed in MODULE_LAYERS map whole; for the modules in
    STATEMENT_LAYERS the first rule whose name occurs in the call's line,
    else its statement, else its enclosing function, wins (one statement
    may hold two actions, so the line is tried first)."""
    m = _CALLSITE.search(job_name)
    module = _module_of(m.group(1)) if m else None
    if module is None:
        return None
    if module in MODULE_LAYERS:
        return MODULE_LAYERS[module]
    rules = STATEMENT_LAYERS.get(module, ())
    line = int(m.group(2))
    lines, stmts = _statements(module)
    for first, last, func, text in stmts:
        if first <= line <= last:
            for key in (lines[line - 1], text, func):
                hit = next((lay for needle, lay in rules if needle in key), None)
                if hit:
                    return hit
    return None


# --- the tracer ----------------------------------------------------------


def _read_jobs(jsc, first_id: int, seen_stages: set[int]) -> tuple[list[dict], int]:
    """Jobs with id >= first_id from the status store (works with the UI
    off). Each stage is counted once, in the first job that lists it."""
    from py4j.protocol import Py4JJavaError

    store = jsc.statusStore()
    jsc.listenerBus().waitUntilEmpty()
    jobs, jid = [], first_id
    while True:
        try:
            j = store.job(jid)
        except Py4JJavaError:  # NoSuchElementException: no such job yet
            break
        sub, done = j.submissionTime(), j.completionTime()
        grp = j.jobGroup()
        rec = {
            "id": jid,
            "name": j.name(),
            "group": grp.get() if grp.isDefined() else None,
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
            "tasks": 0, "run_ms": 0, "input_bytes": 0, "shuffle_write_bytes": 0,
            "stages": 0,
        }
        sids = j.stageIds()
        for k in range(sids.length()):
            sid = sids.apply(k)
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            s = store.lastStageAttempt(sid)
            rec["stages"] += 1
            rec["tasks"] += s.numCompleteTasks()
            rec["run_ms"] += s.executorRunTime()
            rec["input_bytes"] += s.inputBytes()
            rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
        jobs.append(rec)
        jid += 1
    return jobs, jid


class Tracer:
    """Spans in memory for the whole run; ``dump`` writes them out."""

    def __init__(self):
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []
        self._ids = 0
        self._patched: list[tuple[object, str, object]] = []
        self._sc = None
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self.results: dict[str, list] = {}  # wrapped-call results kept per op

    # wrapping -------------------------------------------------------

    def install(self) -> None:
        """Patch every WRAPS name and the call-site-less pyspark actions."""
        for mod_name, attr, layer in WRAPS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            self._patch(mod, attr, self._wrap(getattr(mod, attr), layer,
                                              f"{mod_name}.{attr}"))
        for mod_name, cls_name, meth in _CALLSITE_METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._patch(cls, meth, self._with_callsite(getattr(cls, meth), meth))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _patch(self, owner, attr, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(layer, name):
                out = fn(*args, **kwargs)
            self.results.setdefault(name, []).append(out)
            return out

        return traced

    def _with_callsite(self, fn, method: str):
        @functools.wraps(fn)
        def recorded(obj, *args, **kwargs):
            sc = self._sc
            if not self.active or sc is None:
                return fn(obj, *args, **kwargs)
            frame = sys._getframe(1)
            while frame and (
                "pyspark" in frame.f_code.co_filename
                or frame.f_code.co_filename == __file__
            ):
                frame = frame.f_back
            where = (f"{frame.f_code.co_filename}:{frame.f_lineno}"
                     if frame else "unknown:0")
            prev = sc.getLocalProperty("callSite.short")
            sc.setLocalProperty("callSite.short", f"{method} at {where}")
            try:
                return fn(obj, *args, **kwargs)
            finally:
                sc.setLocalProperty("callSite.short", prev)

        return recorded

    # spans ------------------------------------------------------------

    def attach(self, spark) -> None:
        """Start reading jobs from this session's status store; jobs from
        here on join the innermost open span's group."""
        self._sc = spark.sparkContext
        self._next_job = 0
        self._seen_stages = set()
        self._set_group()

    @contextmanager
    def span(self, layer: str, name: str, trace: str | None = None):
        """Open a span (and job group) for the ``with`` body; ``trace``
        defaults to the parent's."""
        self._ids += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(self._ids, layer, name, time.time(), 0.0,
                 parent.id if parent else None,
                 trace or (parent.trace if parent else "-"))
        self._stack.append(s)
        self._set_group()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            self._set_group()

    def _set_group(self) -> None:
        """Jobs started from here on belong to the innermost open span."""
        if self._sc is None:
            return
        if self._stack:
            self._sc.setJobGroup(str(self._stack[-1].id), self._stack[-1].layer)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def collect_jobs(self) -> None:
        """Turn jobs started since the last call into job spans, each
        parented on its job-group span and charged to a layer."""
        jobs, self._next_job = _read_jobs(
            self._sc._jsc.sc(), self._next_job, self._seen_stages
        )
        by_id = {s.id: s for s in self.spans}
        for j in jobs:
            grp = by_id.get(int(j["group"])) if (j["group"] or "").isdigit() else None
            if grp is None or j["start"] is None or j["end"] is None:
                continue  # outside any span: the benchmark's own checks
            layer = callsite_layer(j["name"])
            if layer is None:
                layer = "plans" if grp.layer == "driver" else grp.layer
            self._ids += 1
            self.spans.append(Span(self._ids, layer, j["name"], j["start"],
                                   j["end"], grp.id, grp.trace, job=j))

    def op_spans(self, trace: str) -> list[Span]:
        return [s for s in self.spans if s.trace == trace]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

