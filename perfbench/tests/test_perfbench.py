"""Tests of the benchmark itself: seeded inputs, the span tree, metric
names and units, and one smoke run per workload on a tiny input.

    python3 -m pytest perfbench/tests -q

The unit tests take a second; each smoke run starts Spark and takes
half a minute or more.
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

TINY = {
    "pipeline_batch": gen.Shape(
        n_series=4, days=5, gap_share=0.01, dup_share=0.01, null_share=0.005,
    ),
    "stream_replay": gen.Shape(n_series=4, days=3, gap_share=0.01, files=2),
}


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(gen.SHAPES))
def test_same_seed_same_digest_other_seed_other_digest(name):
    shape = TINY[name]
    a = gen.input_digest(gen.make_series(shape, 7))
    b = gen.input_digest(gen.make_series(shape, 7))
    c = gen.input_digest(gen.make_series(shape, 8))
    assert a == b
    assert a != c


def test_written_input_is_reused_and_carries_its_digest(tmp_path):
    shape = TINY["stream_replay"]
    m1 = gen.write_input(shape, 3, str(tmp_path / "in"))
    m2 = gen.write_input(shape, 3, str(tmp_path / "in"))
    assert m1 == m2
    assert m1["digest"] == gen.input_digest(gen.make_series(shape, 3))
    ev = gen.read_events(str(tmp_path / "in"))
    assert len(ev) == m1["rows"]
    assert list(ev["ts"].sort_values()) == list(ev["ts"])  # files are time-ordered


def test_generated_defects_match_the_shape():
    cols = gen.make_series(gen.SHAPES["pipeline_batch"], 1)
    n = len(cols["event_id"])
    keys = list(zip(cols["user_id"].tolist(), cols["ts_us"].tolist()))
    dups = n - len(set(keys))
    nulls = int(sum(v != v for v in cols["value"]))
    assert 0.005 * n < dups < 0.02 * n
    assert 0.002 * n < nulls < 0.01 * n
    assert cols["is_spike"].sum() > 0


class _FakeContext:
    def __init__(self):
        self.groups = []
        self._jsc = SimpleNamespace(clearJobGroup=lambda: self.groups.append(None))

    def setJobGroup(self, group, description):
        self.groups.append(group)


def test_span_tree_is_well_formed_and_self_times_reconcile():
    sc = _FakeContext()
    tr = spans.Tracer(sc)
    with tr.span("rep"):
        with tr.span("plans.a"):
            with tr.span("sources.load_table"):
                pass
        with tr.span("operators.sink"):
            pass
    assert spans.check_tree(tr.spans) == []
    own = spans.self_times(tr.spans)
    root = tr.spans[0]
    assert sum(own.values()) == pytest.approx(root["end"] - root["start"])
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]
    # each span's job group is restored to its parent's when it closes
    assert sc.groups == [
        "perfbench-0", "perfbench-1", "perfbench-2", "perfbench-1",
        "perfbench-0", "perfbench-3", "perfbench-0", None,
    ]


def test_check_tree_reports_a_child_escaping_its_parent():
    bad = [
        {"id": 0, "parent": None, "start": 0.0, "end": 1.0},
        {"id": 1, "parent": 0, "start": 0.5, "end": 2.0},
    ]
    assert spans.check_tree(bad) == ["span 1 escapes parent 0"]


def test_sql_metric_values_parse_to_ms_and_bytes():
    assert spans.parse_metric("1,024") == 1024
    assert spans.parse_metric("3.1 MiB") == pytest.approx(3.1 * 1024**2)
    assert spans.parse_metric(
        "total (min, med, max (stageId: taskId))\n9.5 s (3.1 s, 3.1 s, 3.3 s (stage 3.0: task 9))"
    ) == pytest.approx(9500.0)
    assert spans.parse_metric("0 ms") == 0


def test_benchmark_json_names_every_metric_with_its_unit():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(gen.SHAPES)


@pytest.mark.parametrize("name", sorted(gen.SHAPES))
@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_emits_every_metric_with_its_unit(name, trace):
    units = run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS
    art = {
        "trace": trace, "correct": True, "attempted": 3, "failed": 0,
        "per_layer": {k: 1.0 for k in run.PER_LAYER_UNITS},
        "end_to_end": {k: 1.0 for k in run.END_TO_END_UNITS},
    }
    line = run.result_line(art)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {k: {"value": 1.0, "unit": u} for k, u in units.items()}
    # a missing metric makes the run incorrect rather than silently absent
    del art["per_layer" if trace else "end_to_end"][next(iter(units))]
    assert run.result_line(art)["correct"] is False


@pytest.mark.parametrize("name", sorted(gen.SHAPES))
def test_smoke_run_traced(name, monkeypatch, tmp_path):
    monkeypatch.setitem(gen.SHAPES, name, TINY[name])
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    env = dict(os.environ)
    try:
        art = run.run(run.parse_args(
            ["--workload", name, "--seed", "5", "--seconds", "0.1", "--trace", "1"]
        ))
    finally:
        os.environ.clear()
        os.environ.update(env)
    assert art["errors"] == []
    assert all(c["ok"] for c in art["checks"]), art["checks"]
    assert art["correct"]
    line = run.result_line(art)
    assert set(line["metrics"]) == set(run.PER_LAYER_UNITS)
    detail = art["trace_detail"]
    assert detail["tree_problems"] == []
    assert spans.check_tree(detail["spans"]) == []
    m = art["per_layer"]
    assert m["sources.input_bytes"] > 0
    if name == "stream_replay":
        assert m["streaming.batches"] == 2
        assert m["streaming.rows_dropped_by_watermark"] == 0
        assert m["operators.python_run_ms"] > 0
    else:  # the predicted bypasses: no Python workers, no stream
        assert all(m[k] == 0 for k in m if k.startswith(("streaming.", "operators.python_")))
