"""The benchmark's own tests — no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def test_p90_needs_ten_samples_beyond_it():
    # 99 samples leave 9.9 beyond the 90th percentile: not emitted
    assert stats.tail_percentile([float(i) for i in range(99)], 90) is None
    # 100 samples leave 10 beyond it: emitted
    p90 = stats.tail_percentile([float(i) for i in range(100)], 90)
    assert p90 == pytest.approx(89.1)
    assert stats.tail_percentile([], 90) is None


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(directory):
        for name in files:
            path = os.path.join(base, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, directory)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


def test_generator_is_deterministic(tmp_path):
    for run_dir in ("a", "b"):
        assert gen.main(["--seed", "11", "--out", str(tmp_path / run_dir)]) == 0
    first, second = _digest(tmp_path / "a"), _digest(tmp_path / "b")
    assert first and first == second
    gen.main(["--seed", "12", "--out", str(tmp_path / "c")])
    other = _digest(tmp_path / "c")
    assert other.keys() == first.keys()
    # every data file follows the seed; labels.csv is the fixed canonical set
    assert {k for k in first if other[k] == first[k]} == {
        os.path.join("grid", "labels.csv")
    }


def test_fresh_labels_never_repeat_and_follow_the_seed():
    draws = gen.FreshLabels(5, 1, gen.draw_grid_labels)
    draws.mark_seen(gen.canonical_grid_labels())
    seen = [tuple(draws.next()) for _ in range(200)]
    assert len(set(seen)) == len(seen)
    assert tuple(gen.canonical_grid_labels()) not in seen
    again = gen.FreshLabels(5, 1, gen.draw_grid_labels)
    assert [tuple(again.next()) for _ in range(5)] == seen[:5]


def test_grid_labels_stay_inside_the_planted_intervals():
    rng = gen.rng_for(3, 9)
    for _ in range(100):
        labels = gen.draw_grid_labels(rng)
        # C3's ramp check needs more reference slices than its keep limit
        assert len(labels) == 6
        for trace_id, ano_id, _, r0, r1, a0, a1 in labels:
            start = gen.GRID_PLANTED[ano_id - 1]
            assert start <= a0 and a1 < start + gen.GRID_PLANTED_WIDTH
            assert r1 - r0 == gen.GRID_REF_WIDTH and 0 <= r0 and r1 <= a0
            assert a1 - a0 + 1 == gen.GRID_ANO_WIDTH


def test_metric_names_are_well_formed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert sorted(declared) == sorted([*run.END_TO_END, *run.PER_LAYER])
    units = {**run.END_TO_END, **run.PER_LAYER}
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert stats.METRIC_NAME.fullmatch(m["name"]), m["name"]
        assert m["unit"] == units[m["name"]]
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(
        workloads.WORKLOADS
    )
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"bad name": stats.metric(1.0, "s")})


def test_result_line_has_exactly_the_contract_keys():
    line = stats.result_line(True, 3, 0, {"setup_s": stats.metric(1.5, "s")})
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert obj["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    with pytest.raises(ValueError):
        stats.metric(float("nan"), "s")


def test_span_schema(tmp_path):
    tracer = tracing.Tracer(True)
    with tracer.span("request", 7):
        with tracer.span("pipeline.build", 7):
            pass
        with tracer.span("pipeline.action", 7):
            pass
    path = tmp_path / "spans.jsonl"
    tracer.write(str(path))
    spans = [json.loads(line) for line in path.read_text().splitlines()]
    assert [s["name"] for s in spans] == [
        "request", "pipeline.build", "pipeline.action"
    ]
    for s in spans:
        assert tuple(s) == tracing.SPAN_FIELDS
        assert s["request"] == 7 and s["start"] <= s["end"]
    root = tracer.spans[0]
    assert [s["parent"] for s in spans] == [None, root.id, root.id]
    assert tracer.durations("pipeline.build", 7) >= 0.0
    assert tracer.durations("pipeline.build", 8) == 0.0


def test_disabled_tracer_records_nothing():
    tracer = tracing.Tracer(False)
    with tracer.span("request", 0) as span:
        assert span is None
    assert tracer.spans == []
