"""Self-tests for the benchmark's own code (no Spark needed).

    python3 -m pytest wavebench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wavebench import gen, queries, report, stats  # noqa: E402
from wavebench.oracle import Oracle  # noqa: E402
from wavebench.trace import Span, Tracer  # noqa: E402
from wavebench.workloads import (Live, OpRecord, Result, Setup,  # noqa: E402
                                 check_answers)

SMALL = gen.Sizes(base_events=3000, live_batch_events=200, live_batches=2)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.fixture(scope="module")
def raw(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("raw"))
    return root, gen.generate(root, 5, SMALL)


def test_same_seed_gives_identical_inputs(raw, tmp_path):
    root, _ = raw
    gen.generate(str(tmp_path), 5, SMALL)
    assert _files(root) == _files(str(tmp_path))


def test_other_seed_gives_other_inputs(raw, tmp_path):
    root, _ = raw
    gen.generate(str(tmp_path), 6, SMALL)
    a, b = _files(root), _files(str(tmp_path))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


@pytest.mark.parametrize("n,want", [
    (9, None), (39, None), (40, 75.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert stats.beyond(n, want) >= stats.MIN_BEYOND
        higher = [p for p in stats.TAILS if p > want]
        assert all(stats.beyond(n, p) < stats.MIN_BEYOND for p in higher)


def _rec(op, total_s, answer=None, error=None):
    r = OpRecord(op, "t", False, total_s=total_s, first_page_s=total_s,
                 answer=answer, error=error)
    return r


def _result(records, live=None):
    live = live or Live(landed=["x"], busy_s=[1.0], fresh_s=[1.5],
                        check=_rec(queries.live_probe(), 0.1))
    return Result("interactive_lookup", Setup(session_s=1.0), records, [3.0],
                  4.0, Tracer(False), live, store_bytes=100, store_files=1,
                  store_events=10)


def test_injected_wrong_answer_is_caught(raw):
    root, manifest = raw
    ops = queries.op_stream("interactive_lookup", 5, manifest, 16)
    oracle = Oracle(manifest)
    try:
        good = [_rec(op, 0.1, answer=oracle.expect(op)) for op in ops]
        n, h = oracle.expect(ops[3])
        bad = _rec(ops[3], 0.1, answer=(n + 1, h))
        live = Live(landed=manifest["live"], busy_s=[1.0], fresh_s=[1.5],
                    check=_rec(ops[0], 0.1,
                               answer=oracle.live_uuids(manifest["live"])))
        check_answers(good + [bad], live, oracle)
    finally:
        oracle.close()
    assert not any(r.failed for r in good)
    assert bad.failed and not live.check.failed
    out = report.render(_result(good + [bad], live), traced=False)
    assert out["result"]["correct"] is False
    assert out["result"]["failed"] == 1


def test_program_rows_and_oracle_agree_on_canonical_form(raw):
    """The canonical reduction of the program's rows matches the
    oracle's for the same rows (here fetched through DuckDB)."""
    _, manifest = raw
    op = queries.op_stream("interactive_lookup", 5, manifest, 1)[0]
    oracle = Oracle(manifest)
    try:
        uuids = [r[0] for r in oracle.con.execute(op.oracle_sql()).fetchall()]
        rows = [{"uuid": u} for u in reversed(uuids)]
        assert queries.digest(queries.canon_rows(op, rows)) \
            == oracle.expect(op)
    finally:
        oracle.close()


def test_failed_operation_counts_and_stays_in_timings():
    op = queries.live_probe()
    ok = [_rec(op, 0.1), _rec(op, 0.2)]
    failed = _rec(op, math.inf, error="boom")
    vals, lines = report.end_to_end(_result(ok + [failed]))
    value, n = vals["query_p50_ms"]
    assert n == 3                      # the failure is a sample
    assert value == pytest.approx(200.0)   # dropping it would give 150
    assert any(line.startswith("metric failed_ratio 0.25") for line in lines)
    out = report.render(_result(ok + [failed]), traced=False)
    assert out["result"]["failed"] == 1 and not out["result"]["correct"]


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [Span(1, None, "a", "op", 0.0, 10.0),
                Span(2, 1, "a", "plans.create", 1.0, 4.0),
                Span(3, 2, "a", "jexl.parse", 2.0, 3.0),
                Span(4, 1, "a", "plans.drain", 5.0, 9.0)]
    assert tr.self_times() == {1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0}


def test_untraced_layer_calls_record_nothing():
    tr = Tracer(True)
    with tr.span("jexl.parse"):
        pass
    assert tr.spans == []
    with tr.span("op", "q1"):
        with tr.span("jexl.parse"):
            pass
    assert [(s.name, s.op_id) for s in tr.spans] == [("jexl.parse", "q1"),
                                                     ("op", "q1")]


def test_metric_names_match_benchmark_json():
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] \
        == list(report.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] \
        == [m for m in report.PER_LAYER if m[0] not in report.PARTIAL]
    from wavebench.run import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
