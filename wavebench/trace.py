"""Span recorder and per-operation counters for the traced run.

Spans are recorded by the benchmark around its calls into each layer
(plus thin wrappers over the two query parsers, which the planner
resolves at call time).  Each span has a name, start, end, its parent
and the id of the operation it belongs to; spans stay in memory and are
written out when the run ends.  With tracing off, ``span`` returns a
shared no-op context and nothing is recorded.

Counters come from Spark itself, read once per operation after it
finished: jobs and tasks from the status tracker under the operation's
job group, files/bytes/rows from the executed plan's scan metrics and
shuffle bytes from its Exchange metrics.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import dataclass

NULL_SPAN = contextlib.nullcontext()


@dataclass
class Span:
    span_id: int
    parent: int | None
    op_id: str
    name: str
    start: float
    end: float


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, op_id: str | None = None):
        """Context manager timing one call; nests under the calling
        thread's open span and inherits its operation id.  A span with
        no operation id outside any open span records nothing: that is
        a layer call made by an untraced operation."""
        if not self.enabled or (op_id is None and not self._stack()):
            return NULL_SPAN
        return self._record(name, op_id)

    @contextlib.contextmanager
    def _record(self, name: str, op_id: str | None):
        st = self._stack()
        parent = st[-1] if st else None
        if op_id is None:
            op_id = parent[1] if parent else "-"
        sid = next(self._ids)
        st.append((sid, op_id))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(Span(sid, parent[0] if parent else None,
                                       op_id, name, t0, t1))

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper."""
        inner = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)
        setattr(module, attr, traced)

    def self_times(self) -> dict[int, float]:
        """Span id → seconds not covered by its child spans."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(s.span_id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.span_id] = (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def install_parser_spans(tracer: Tracer) -> None:
    """Span the JEXL and LUCENE parsers; the planner imports them at
    call time, so wrapping the module attribute reaches every parse."""
    from datawave_spark.jexl import parser as jexl_parser
    from datawave_spark.lucene import parser as lucene_parser
    tracer.wrap(jexl_parser, "parse", "jexl.parse")
    tracer.wrap(lucene_parser, "parse_lucene", "lucene.parse")


# ------------------------------------------------------------ counters

def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) run under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), tasks


def _children(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name.startswith("Reused"):
        return []            # counted where the reused node first ran
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_counters(df) -> dict[str, int]:
    """Scan and Exchange SQL metrics of an executed DataFrame."""
    out = {"files": 0, "bytes": 0, "rows_scanned": 0, "shuffle_bytes": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            out["files"] += _metric(node, "numFiles")
            out["bytes"] += _metric(node, "filesSize")
            out["rows_scanned"] += _metric(node, "numOutputRows")
        elif name == "ShuffleExchangeExec":
            out["shuffle_bytes"] += _metric(node, "dataSize")
        stack.extend(_children(node))
    return out
