"""Traced runs: spans around each layer's public functions, joined to
Spark's own event log.

The tracer rebinds public names from outside the program; it changes no
program file.  ``plans.pipeline`` imported its stage functions by name,
so those are rebound in that module's namespace; methods are rebound on
their classes, and the sink and graph functions on their modules (the
benchmark calls them through the module attribute).

Each span records (id, name, parent, op, start, end) in memory and sets
the Spark job group ``kgb<id>`` while it is open, so every job, stage
and task in the event log belongs to the innermost open span.  Data
frames are lazy: a stage's compute runs, and is billed, inside the
``SnapshotCatalog.write`` span of its table.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict

from surfactant_spark.operators import canonicalize, graphquery
from surfactant_spark.plans import catalog as catalog_mod
from surfactant_spark.plans import lineage as lineage_mod
from surfactant_spark.plans import pipeline
from surfactant_spark.sources import sinks
from surfactant_spark import stats

GROUP_PREFIX = "kgb"
PY_SENT = "data sent to Python workers"


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.enabled = False
        self.post: list[tuple[str, object]] = []  # (count name, DataFrame) of the open op

    def _group(self, sid: int | None) -> None:
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)


def _wrapped(tracer: Tracer, name: str, fn, note=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
            if rec is not None and note is not None:
                note(rec, args, kwargs, out)
            return out

    return wrapper


def install(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Rebind every traced public name; returns what :func:`uninstall`
    needs to put the originals back."""

    def table(rec, args, kwargs, _out):
        rec["table"] = kwargs.get("table", args[2] if len(args) > 2 else None)

    def patterns(rec, _a, _k, out):
        rec["patterns"] = len(out.patterns)

    def detector_input(rec, args, kwargs, _out):
        tracer.post.append(("mentions.rows_in", kwargs.get("content", args[0])))

    def records(rec, args, _k, _out):
        rec["records"] = len(args[0].rows())

    targets = [
        (pipeline, "compile_dictionary", "dictionary.compile", patterns),
        (pipeline, "extract_pages", "operators.extract", None),
        (pipeline, "content_for_detection", "operators.mentions.select", None),
        (pipeline, "detect_mentions", "operators.mentions", detector_input),
        (pipeline, "entity_canonical_map", "operators.canonicalize", None),
        (pipeline, "build_nodes", "operators.linking.nodes", None),
        (pipeline, "build_edges", "operators.linking.edges", None),
        (stats, "column_stats", "stats.column_stats", None),
        (catalog_mod.SnapshotCatalog, "write", "plans.catalog.write", table),
        (catalog_mod.SnapshotCatalog, "read", "plans.catalog.read", table),
        (lineage_mod.LineageCollector, "wrap", "plans.lineage.wrap", None),
        (lineage_mod.LineageCollector, "to_df", "plans.lineage.to_df", records),
        (sinks, "write_graph_json", "sources.sinks.write_graph_json", None),
        (graphquery, "pagerank_int", "operators.graphquery.pagerank", None),
        (graphquery, "kcore_peel", "operators.graphquery.kcore", None),
        (graphquery, "label_propagation", "operators.graphquery.label_prop", None),
        (graphquery, "scc_components", "operators.graphquery.scc", None),
        (canonicalize, "connected_components", "operators.canonicalize.cc", None),
    ]
    saved = []
    for owner, attr, name, note in targets:
        original = getattr(owner, attr)
        saved.append((owner, attr, original))
        setattr(owner, attr, _wrapped(tracer, name, original, note))
    return saved


def uninstall(saved) -> None:
    for owner, attr, original in reversed(saved):
        setattr(owner, attr, original)


# ---------------------------------------------------------------------------
# event log


def _num(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def parse_eventlog(path: str) -> tuple[dict, dict]:
    """→ (jobs per group, task records per group) from one event log."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[str | None, int] = defaultdict(int)
    tasks: dict[str | None, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[(ev.get("Properties") or {}).get("spark.jobGroup.id")] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                tasks[stage_group.get(ev["Stage ID"])].append(
                    {
                        "stage": ev["Stage ID"],
                        "run_s": _num(m.get("Executor Run Time")) / 1000.0,
                        "gc_s": _num(m.get("JVM GC Time")) / 1000.0,
                        "spill": _num(m.get("Disk Bytes Spilled")),
                        "shuffle_w": _num(sw.get("Shuffle Bytes Written")),
                        "out_bytes": _num(out.get("Bytes Written")),
                        "out_rows": _num(out.get("Records Written")),
                        "py_sent": sum(
                            _num(a.get("Update"))
                            for a in info.get("Accumulables", [])
                            if a.get("Name") == PY_SENT
                        ),
                    }
                )
    return jobs, tasks


# ---------------------------------------------------------------------------
# per-layer metrics

class _OpView:
    """Span tree of one op joined to its jobs and tasks."""

    def __init__(self, spans: list[dict], jobs: dict, tasks: dict):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self._jobs = jobs
        self._tasks = tasks

    def find(self, name: str, table: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (table is None or s.get("table") == table)
        ]

    def _subtree(self, roots: list[dict]) -> list[int]:
        out, todo = [], [r["id"] for r in roots]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(self.children[sid])
        return out

    def tasks(self, roots: list[dict]) -> list[dict]:
        return [t for sid in self._subtree(roots) for t in self._tasks.get(f"{GROUP_PREFIX}{sid}", [])]

    def jobs(self, roots: list[dict]) -> int:
        return sum(self._jobs.get(f"{GROUP_PREFIX}{sid}", 0) for sid in self._subtree(roots))

    @staticmethod
    def wall(roots: list[dict]) -> float:
        return sum(r["end"] - r["start"] for r in roots)


def _skew(tasks: list[dict]) -> float:
    """max ÷ median task run time in the stage with the most task time."""
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["run_s"])
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0


def op_metrics(view: _OpView, cores: int, post_counts: dict) -> dict[str, float]:
    """Per-layer figures of one primary op (build, update or analytics)."""
    m: dict[str, float] = {}
    t = view.tasks

    comp = view.find("dictionary.compile")
    m["dictionary.compile_s"] = view.wall(comp)
    m["dictionary.patterns"] = max([s.get("patterns", 0) for s in comp], default=0)

    roots = view.find("operators.extract") + view.find("plans.catalog.write", "extracted")
    ts = t(roots)
    wall = view.wall(roots)
    task_s = sum(x["run_s"] for x in ts)
    m["operators.extract.wall_s"] = wall
    m["operators.extract.task_s"] = task_s
    m["operators.extract.rows_out"] = sum(x["out_rows"] for x in t(view.find("plans.catalog.write", "extracted")))
    m["operators.extract.python_bytes_sent"] = sum(x["py_sent"] for x in ts)
    m["operators.extract.core_busy"] = task_s / (wall * cores) if wall else 0.0

    roots = view.find("operators.mentions.select") + view.find("operators.mentions") \
        + view.find("plans.catalog.write", "mentions")
    ts = t(roots)
    rows_in = post_counts.get("mentions.rows_in", 0)
    rows_out = sum(x["out_rows"] for x in t(view.find("plans.catalog.write", "mentions")))
    m["operators.mentions.wall_s"] = view.wall(roots)
    m["operators.mentions.task_s"] = sum(x["run_s"] for x in ts)
    m["operators.mentions.rows_in"] = rows_in
    m["operators.mentions.rows_out"] = rows_out
    m["operators.mentions.python_bytes_sent"] = sum(x["py_sent"] for x in ts)
    m["operators.mentions.hits_per_doc"] = rows_out / rows_in if rows_in else 0.0

    m["stats.column_stats_s"] = view.wall(view.find("stats.column_stats"))

    roots = view.find("operators.canonicalize") + view.find("plans.catalog.write", "entity_map")
    wall = view.wall(roots)
    m["operators.canonicalize.wall_s"] = wall
    m["operators.canonicalize.jobs"] = view.jobs(roots)
    m["operators.canonicalize.core_busy"] = (
        sum(x["run_s"] for x in t(roots)) / (wall * cores) if wall else 0.0
    )
    m["operators.canonicalize.cc_s"] = view.wall(view.find("analytics.cc"))

    py_linking = 0
    for part in ("nodes", "edges"):
        roots = view.find(f"operators.linking.{part}") + view.find("plans.catalog.write", part)
        ts = t(roots)
        py_linking += sum(x["py_sent"] for x in ts)
        p = f"operators.linking.{part}."
        m[p + "wall_s"] = view.wall(roots)
        m[p + "task_s"] = sum(x["run_s"] for x in ts)
        m[p + "shuffle_write_bytes"] = sum(x["shuffle_w"] for x in ts)
        m[p + "spill_bytes"] = sum(x["spill"] for x in ts)
        m[p + "task_skew"] = _skew(ts)

    m["plans.lineage.records"] = sum(s.get("records", 0) for s in view.find("plans.lineage.to_df"))
    m["plans.lineage.write_s"] = view.wall(view.find("plans.catalog.write", "lineage"))
    # nodes and edges are JVM-only stages but for the lineage pass-through
    m["plans.lineage.python_bytes_sent"] = py_linking

    writes = view.find("plans.catalog.write")
    m["plans.catalog.bytes_written"] = sum(x["out_bytes"] for x in t(writes))
    m["plans.catalog.files_written"] = post_counts.get("catalog.files_written", 0)
    m["plans.catalog.commits"] = len(writes)
    m["plans.catalog.read_s"] = view.wall(view.find("plans.catalog.read"))

    m["plans.pipeline.driver_s"] = _driver_s(view)

    sink = view.find("sources.sinks.write_graph_json")
    m["sources.sinks.export_s"] = view.wall(sink)
    m["sources.sinks.bytes_written"] = post_counts.get("sinks.bytes_written", 0)

    for algo in ("pagerank", "kcore", "label_prop", "scc"):
        roots = view.find(f"analytics.{algo}")
        p = f"operators.graphquery.{algo}."
        m[p + "s"] = view.wall(roots)
        m[p + "jobs"] = view.jobs(roots)
        m[p + "shuffle_write_bytes"] = sum(x["shuffle_w"] for x in t(roots))

    op_roots = [s for s in view.spans if s["parent"] is None]
    ts = t(op_roots)
    wall = view.wall(op_roots)
    m["spark.jobs"] = view.jobs(op_roots)
    m["spark.tasks"] = len(ts)
    m["spark.core_busy"] = sum(x["run_s"] for x in ts) / (wall * cores) if wall else 0.0
    m["spark.gc_s"] = sum(x["gc_s"] for x in ts)
    m["spark.spill_bytes"] = sum(x["spill"] for x in ts)
    m["spark.shuffle_write_bytes"] = sum(x["shuffle_w"] for x in ts)
    return m


def _driver_s(view: _OpView) -> float:
    """Pipeline wall time outside every child span: fingerprints,
    manifest reads and writes, plan construction."""
    total = 0.0
    for s in view.find("plans.pipeline.run_pipeline"):
        kids = view.children[s["id"]]
        total += (s["end"] - s["start"]) - sum(
            view.by_id[k]["end"] - view.by_id[k]["start"] for k in kids
        )
    return total


def resume_metrics(view: _OpView) -> dict[str, float]:
    return {
        "stats.resume_column_stats_s": view.wall(view.find("stats.column_stats")),
        "plans.catalog.resume_read_s": view.wall(view.find("plans.catalog.read")),
        "plans.pipeline.resume_driver_s": _driver_s(view),
    }


def op_views(spans: list[dict], jobs: dict, tasks: dict) -> dict[int, _OpView]:
    by_op: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["op"] is not None:
            by_op[s["op"]].append(s)
    return {op: _OpView(ss, jobs, tasks) for op, ss in by_op.items()}
