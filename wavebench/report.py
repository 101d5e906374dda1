"""Turn a run's records into metric lines and the JSON result.

End-to-end metrics come from untraced runs only; a traced run reports
the per-layer figures.  README.md defines every metric.
"""

from __future__ import annotations

import math
import statistics

from wavebench import stats

END_TO_END = (
    ("setup_s", "s"),
    ("first_page_p50_ms", "ms"),
    ("query_p50_ms", "ms"),
    ("queries_per_s", "1/s"),
    ("store_bytes_per_event", "B"),
)

#: span name → layer, for self time and share of query time
SPAN_LAYER = {
    "op": "client",
    "sources.open": "sources",
    "sources.index_lookup": "sources",
    "visibility.filter": "visibility",
    "jexl.parse": "jexl",
    "lucene.parse": "lucene",
    "plans.create": "plans",
    "plans.optimize": "plans",
    "plans.first_page": "execution",
    "plans.drain": "execution",
}
LAYERS = ("sources", "visibility", "jexl", "lucene", "plans", "execution",
          "client")
SPAN_MS = ("sources.open", "visibility.filter", "jexl.parse", "lucene.parse",
           "plans.create", "plans.optimize", "plans.first_page", "plans.drain")
#: per-layer latency of the operation classes that exercise one layer
CLASS_MS = {"sources.index_lookup_ms": "index",
            "functions.content_ms": "content",
            "edges.query_ms": "edge"}

PER_LAYER = (
    ("session.start_s", "s"), ("sources.ingest_s", "s"),
    ("sources.index_build_s", "s"),
    *((f"{n}_ms", "ms") for n in SPAN_MS),
    ("plans.jobs_per_query", "count"), ("plans.tasks_per_query", "count"),
    *((n, "ms") for n in CLASS_MS),
    ("sources.files_read_per_query", "count"),
    ("sources.bytes_read_per_query", "B"),
    ("sources.rows_scanned_per_row_returned", "ratio"),
    ("operators.shuffle_bytes_per_query", "B"),
    ("streaming.batch_ms", "ms"), ("streaming.freshness_ms", "ms"),
    ("sources.store_files", "count"), ("sources.write_bytes_per_event", "B"),
    ("trace.overhead_pct", "%"),
    *((f"self.{layer}_ms", "ms") for layer in LAYERS),
    *((f"share.{layer}_pct", "%") for layer in LAYERS),
)
#: figures only some workloads exercise (LUCENE parsing and the index,
#: ``content:`` and edge operations are interactive_lookup's): printed
#: as ``layer`` lines but kept out of the JSON result, where a layer a
#: workload never calls would read a constant 0 on every run
PARTIAL = {"lucene.parse_ms", *CLASS_MS, "self.lucene_ms",
           "share.lucene_pct"}


def _ms(xs: list[float]) -> list[float]:
    return [x * 1000.0 for x in xs]


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _finite(v: float) -> float | None:
    return v if math.isfinite(v) else None


def checked(res) -> list:
    """Every checked operation: the measured ones, the live-phase
    probes and the final exactly-once check."""
    return res.records + res.live.probes + [res.live.check]


def end_to_end(res) -> tuple[dict, list[str]]:
    """({metric: (value, samples)}, extra lines) for an untraced run."""
    recs = res.records
    query = _ms([r.total_s for r in recs])
    first = _ms([r.first_page_s for r in recs])
    live = res.live
    m = {
        "setup_s": (res.setup.setup_s, 1),
        "first_page_p50_ms": (stats.percentile(first, 50), len(first)),
        "query_p50_ms": (stats.percentile(query, 50), len(query)),
        # the median round, so one stalled round does not move the figure
        "queries_per_s": (len(recs) / len(res.cycles_s)
                          / statistics.median(res.cycles_s), len(recs)),
        "store_bytes_per_event": (res.store_bytes / res.store_events,
                                  res.store_events),
    }
    # the live-batch figures: printed, but too few and too exposed to
    # the shared host's disk to hold a bound (README.md, run-to-run spread)
    n = len(live.busy_s)
    lines = [f"metric ingest_events_per_s "
             f"{live.events / n / statistics.median(live.busy_s):.4f} 1/s "
             f"n={n}",
             f"metric freshness_p50_ms "
             f"{stats.percentile(_ms(live.fresh_s), 50):.4f} ms n={n}"]
    for name, xs in (("first_page", first), ("query", query)):
        tail = stats.tail_percentile(len(xs))
        if tail is None:
            lines.append(f"# {name}: {len(xs)} samples, too few for a tail "
                         f"percentile with {stats.MIN_BEYOND} beyond it")
        else:
            lines.append(f"metric {name}_p{tail:g}_ms "
                         f"{stats.percentile(xs, tail):.3f} ms n={len(xs)}")
    all_ops = checked(res)
    failed = sum(r.failed for r in all_ops)
    lines.append(f"metric failed_ratio {failed / len(all_ops):.6f} ratio "
                 f"n={len(all_ops)}")
    by_cls: dict[str, list[float]] = {}
    for r in recs:
        by_cls.setdefault(r.op.cls, []).append(r.total_s * 1000.0)
    for cls, xs in sorted(by_cls.items()):
        lines.append(f"class {cls} p50_ms={stats.percentile(xs, 50):.3f} "
                     f"n={len(xs)}")
    return m, lines


def per_layer(res) -> dict:
    """Per-layer figures from the traced operations of a traced run."""
    tr = res.tracer
    traced = [r for r in res.records if r.traced and not r.failed]
    untraced = [r for r in res.records if not r.traced and not r.failed]
    ids = {r.op_id for r in traced}
    selfs = tr.self_times()
    by_name: dict[str, list[float]] = {}
    layer_self = dict.fromkeys(LAYERS, 0.0)
    op_total = 0.0
    for s in tr.spans:
        if s.op_id not in ids:
            continue
        by_name.setdefault(s.name, []).append((s.end - s.start) * 1000.0)
        layer_self[SPAN_LAYER[s.name]] += selfs[s.span_id] * 1000.0
        if s.name == "op":
            op_total += (s.end - s.start) * 1000.0
    n = max(1, len(traced))
    cnt = [r.counters for r in traced]

    def mean(key: str) -> float:
        return sum(c[key] for c in cnt) / n

    live = res.live
    m = {
        "session.start_s": res.setup.session_s,
        "sources.ingest_s": res.setup.ingest_s,
        "sources.index_build_s": res.setup.index_build_s,
        "plans.jobs_per_query": mean("jobs"),
        "plans.tasks_per_query": mean("tasks"),
        "sources.files_read_per_query": mean("files"),
        "sources.bytes_read_per_query": mean("bytes"),
        "sources.rows_scanned_per_row_returned":
            sum(c["rows_scanned"] for c in cnt)
            / max(1, sum(c["rows_returned"] for c in cnt)),
        "operators.shuffle_bytes_per_query": mean("shuffle_bytes"),
        "streaming.batch_ms": _med(_ms(live.busy_s)),
        "streaming.freshness_ms": _med(_ms(live.fresh_s)),
        "sources.store_files": res.store_files,
        "sources.write_bytes_per_event": live.bytes_written / live.events,
        "trace.overhead_pct": (
            (_med([r.total_s for r in traced])
             / _med([r.total_s for r in untraced]) - 1.0) * 100.0
            if traced and untraced else 0.0),
    }
    for name in SPAN_MS:
        m[f"{name}_ms"] = _med(by_name.get(name, []))
    for name, cls in CLASS_MS.items():
        m[name] = _med([r.total_s * 1000.0 for r in traced
                        if r.op.cls == cls])
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = layer_self[layer] / n
        m[f"share.{layer}_pct"] = (100.0 * layer_self[layer] / op_total
                                   if op_total else 0.0)
    return m


def render(res, traced: bool) -> dict:
    """{"lines": human-readable lines, "result": the JSON result}."""
    su = res.setup
    lines = [f"# setup session_s={su.session_s:.2f} "
             f"ingest_s={su.ingest_s:.2f} "
             f"index_build_s={su.index_build_s:.2f} "
             f"warmup_s={su.warmup_s:.2f} measured_s={res.measured_s:.2f}",
             f"# rounds cycle_s={[round(x, 3) for x in res.cycles_s]}",
             f"# live busy_s={[round(x, 3) for x in res.live.busy_s]} "
             f"fresh_s={[round(x, 3) for x in res.live.fresh_s]}",
             f"# store events={res.store_events} files={res.store_files} "
             f"bytes={res.store_bytes}"]
    metrics = {}
    if traced:
        vals = per_layer(res)
        for name, unit in PER_LAYER:
            v = float(vals[name])
            if name not in PARTIAL:
                metrics[name] = {"value": _finite(v), "unit": unit}
            lines.append(f"layer {name} {v:.4f} {unit}")
    else:
        vals, extra = end_to_end(res)
        for name, unit in END_TO_END:
            v, n = vals[name]
            metrics[name] = {"value": _finite(v), "unit": unit}
            lines.append(f"metric {name} {v:.4f} {unit} n={n}")
        lines.extend(extra)
    all_ops = checked(res)
    for r in all_ops:
        if r.failed:
            lines.append(f"# FAILED {r.op_id} {r.op.cls} {r.op.query!r}: "
                         f"{r.error or 'wrong answer'}")
    failed = sum(r.failed for r in all_ops)
    return {"lines": lines,
            "result": {"correct": failed == 0, "attempted": len(all_ops),
                       "failed": failed, "metrics": metrics}}
