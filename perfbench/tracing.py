"""Tracing for the benchmark's traced run, all from outside the program.

- **Spans.**  ``Tracer.install`` wraps every public function of each
  layer module (and ``registry._prepare_session`` /
  ``session.clear_scratch``) at each place the package binds it, so a
  call from any module opens a span: name (the layer), start, end and
  parent.  Spans stay in memory; the run writes them out at the end.
  Each open span also holds a Spark job tag, so a job can be charged to
  the innermost span open when it was submitted.
- **Spark counters.**  Each query execution runs under its own job
  group.  ``job_counters`` reads that group's job IDs from the status
  tracker and the jobs' and stages' figures from the status store, so
  the counts never depend on how many jobs or stages the store still
  retains.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "graphdb_cia_factbook_spark"

#: layer name -> module whose public functions make the layer
LAYER_MODULES = {
    "sources": f"{PKG}.sources",
    "operators.graph": f"{PKG}.operators.graph",
    "operators.dedup": f"{PKG}.operators.dedup",
    "operators.similarity": f"{PKG}.operators.similarity",
    "operators.text": f"{PKG}.operators.text",
    "operators.relational": f"{PKG}.operators.relational",
    "operators.timeseries": f"{PKG}.operators.timeseries",
    "streaming": f"{PKG}.streaming",
}
#: layer name -> (module, single function) for the hygiene layers
LAYER_FUNCTIONS = {
    "registry": (f"{PKG}.registry", "_prepare_session"),
    "session": (f"{PKG}.session", "clear_scratch"),
}
LAYERS = tuple(LAYER_MODULES) + tuple(LAYER_FUNCTIONS)

_TAG = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans for one process; ``sc`` is the SparkContext whose job tags
    mark the open spans."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), name,
                 self._open[-1] if self._open else None,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._open.append(s.id)
        self.sc.addJobTag(f"{_TAG}{s.id}")
        try:
            yield s
        finally:
            self.sc.removeJobTag(f"{_TAG}{s.id}")
            self._open.pop()
            s.end = time.perf_counter()

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, fn=fn.__name__) as s:
                out = fn(*args, **kwargs)
                if layer == "session":
                    s.attrs["rdds_dropped"] = out
                return out
        return traced

    def install(self) -> None:
        """Replace each layer function by its traced wrapper wherever a
        loaded package module binds it."""
        wrapped = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for name, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == modname):
                    wrapped[obj] = self._wrap(layer, obj)
        for layer, (modname, name) in LAYER_FUNCTIONS.items():
            obj = getattr(importlib.import_module(modname), name)
            wrapped[obj] = self._wrap(layer, obj)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG
                                   or modname.startswith(PKG + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrapped:
                    setattr(mod, name, wrapped[obj])
                    self._patches.append((mod, name, obj))

    def uninstall(self) -> None:
        while self._patches:
            mod, name, obj = self._patches.pop()
            setattr(mod, name, obj)

    def to_json(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "start": round(s.start, 6), "end": round(s.end, 6),
                 **({"attrs": s.attrs} if s.attrs else {})}
                for s in self.spans]


def innermost(tags: list[str]) -> int | None:
    """The innermost span among a job's tags: spans nest on one thread,
    so the latest-opened open span is the deepest."""
    ids = [int(t[len(_TAG):]) for t in tags if t.startswith(_TAG)]
    return max(ids) if ids else None


def _scala_seq(seq) -> list[str]:
    text = seq.mkString("\x1f")
    return text.split("\x1f") if text else []


def _stage(store, stage_id: int):
    """The stage's data, or None when the store no longer holds it.  The
    store keeps ``spark.ui.retainedStages`` stages and drops first those
    without a completion time -- skipped ones -- so a stage of a job that
    just ended is missing only if it never ran."""
    try:
        return store.lastStageAttempt(stage_id)
    except Py4JJavaError as exc:
        if (exc.java_exception.getClass().getName()
                == "java.util.NoSuchElementException"):
            return None
        raise


def job_counters(sc, group: str) -> list[dict]:
    """One record per Spark job of job group ``group``: submission and
    completion (epoch ms), tags, stage and task counts (from the job's
    own record), and the byte totals of the stages that ran."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        j = store.job(jid)
        rec = {"id": jid, "status": j.status().toString(),
               "submitted_ms": j.submissionTime().get().getTime(),
               "completed_ms": j.completionTime().get().getTime(),
               "tags": _scala_seq(j.jobTags()),
               "stages": j.numCompletedStages() + j.numFailedStages(),
               "tasks": (j.numCompletedTasks() + j.numFailedTasks()
                         + j.numKilledTasks()),
               "failed_tasks": j.numFailedTasks(),
               "input_bytes": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in _scala_seq(j.stageIds()):
            st = _stage(store, int(sid))
            if st is None or st.status().toString() == "SKIPPED":
                continue
            rec["input_bytes"] += st.inputBytes()
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.diskBytesSpilled()
        jobs.append(rec)
    return jobs


def union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, s."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def layer_metrics(spans: list[Span], jobs: list[dict]) -> dict[str, float]:
    """Per-layer calls, self time and jobs over ``spans`` (one pass's),
    with each of ``jobs`` charged to its innermost span."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + s.end - s.start
    out: dict[str, float] = {}
    for layer in LAYERS:
        out[f"{layer}.calls"] = 0
        out[f"{layer}.self_s"] = 0.0
        out[f"{layer}.jobs"] = 0
    out["session.rdds_dropped"] = 0
    for phase in ("build", "execute"):
        out[f"queries.{phase}_s"] = 0.0
        out[f"queries.{phase}_jobs"] = 0
    by_id = {s.id: s for s in spans}
    for s in spans:
        dur = s.end - s.start
        if s.name in LAYERS:
            out[f"{s.name}.calls"] += 1
            out[f"{s.name}.self_s"] += dur - child_s.get(s.id, 0.0)
        if s.name == "session":
            out["session.rdds_dropped"] += s.attrs.get("rdds_dropped", 0)
        elif s.name in ("queries.build", "queries.execute"):
            out[f"{s.name}_s"] += dur
    for job in jobs:
        sid = innermost(job["tags"])
        name = by_id[sid].name if sid in by_id else None
        if name in LAYERS:
            out[f"{name}.jobs"] += 1
        elif name in ("queries.build", "queries.execute"):
            out[f"{name}_jobs"] += 1
    return out
