"""Spans around the program's public calls, recorded from outside it.

A traced run wraps a fixed list of module-level functions (and the
benchmark's own calls into ``Engine``) in spans. Each span keeps its
name, start, end, parent and the id of the engine call it belongs to;
spans opened on other threads (the build's parallel segment commits)
hang under the span that is open on the benchmark thread. Each span on
the benchmark thread runs under its own Spark job group, so after the
run ``StatusTracker`` tells which Spark jobs, stages and failed tasks
each call caused. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager, nullcontext

# (module, attribute, span name): the calls between layers a traced run
# times. Patching the module attribute also catches the program's own
# calls to it, because they look the name up at call time.
WRAPPED = [
    ("torchtrajectory_spark.engine", "query_term_meta",
     "wand.query_term_meta"),
    ("torchtrajectory_spark.operators.wand", "_corpus_scalars",
     "wand.corpus_scalars"),
    ("torchtrajectory_spark.operators.index", "add_documents",
     "index.add_documents"),
    ("torchtrajectory_spark.operators.index", "build_index",
     "index.build_index"),
    ("torchtrajectory_spark.operators.index", "commit_segment",
     "index.commit_segment"),
    ("torchtrajectory_spark.operators.index", "delete_docs",
     "index.delete_docs"),
]


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._main = threading.get_ident()
        self._stack: list[dict] = []  # open spans on the benchmark thread
        self._patched: list[tuple] = []

    # ----------------------------------------------------------- spans --
    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        on_main = threading.get_ident() == self._main
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "phase": self.phase,
               "parent": parent["id"] if parent else None,
               "call": parent["call"] if parent else sid,
               "thread": threading.get_ident()}
        if on_main:
            # jobs this thread submits inside the span carry its group
            rec["group"] = f"perfbench-{sid}"
            self._set_group(rec["group"])
            self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if on_main:
                self._stack.pop()
                self._set_group(parent["group"] if parent else None)
            self.spans.append(rec)

    def _set_group(self, group: str | None) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", group)

    def resolve_jobs(self) -> None:
        """Attach Spark job counts to the benchmark thread's spans, after
        the run so the timed loop pays only the job-group switches. A
        span's jobs are its own group's plus its child spans'; an engine
        call also gets the ungrouped jobs (submitted from the program's
        helper threads) whose ids fall between its first and last grouped
        job, and its stage and failed-task counts."""
        st = self._sc.statusTracker()
        grouped = [s for s in self.spans if "group" in s]
        jobs = {s["id"]: set(st.getJobIdsForGroup(s["group"]))
                for s in grouped}
        for s in sorted(grouped, key=lambda s: -s["id"]):
            if s["parent"] in jobs:
                jobs[s["parent"]] |= jobs[s["id"]]
        ungrouped = st.getJobIdsForGroup(None)
        for s in grouped:
            mine = jobs[s["id"]]
            if s["parent"] is None and mine:
                lo, hi = min(mine), max(mine)
                mine |= {j for j in ungrouped if lo < j < hi}
                stages = [sid for j in mine
                          for sid in getattr(st.getJobInfo(j), "stageIds", [])]
                s["stages"] = len(stages)
                s["failed_tasks"] = sum(
                    getattr(st.getStageInfo(x), "numFailedTasks", 0)
                    for x in stages)
            s["jobs"] = len(mine)

    # -------------------------------------------------------- wrapping --
    def install(self) -> None:
        if not self.enabled:
            return
        import importlib

        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, name))
            self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # ----------------------------------------------------------- output --
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**s, "self": self_time(s, self.spans)})
                        + "\n")


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover (children
    on parallel threads may overlap; their union counts once)."""
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                 for c in spans if c["parent"] == span["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def per_op(spans: list[dict], name: str, n_ops: int,
           field: str = "self") -> float:
    """Sum of ``field`` over the timed phase's spans called ``name``,
    divided by the number of timed operations (0 when none ran)."""
    timed = [s for s in spans if s["phase"] == "timed"]
    vals = [(self_time(s, timed) if field == "self"
             else s["end"] - s["start"] if field == "dur"
             else 1 if field == "calls" else s.get(field, 0))
            for s in timed if s["name"] == name]
    return sum(vals) / n_ops if n_ops else 0.0
