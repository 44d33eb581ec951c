import json
import re
from pathlib import Path

import pytest

import metrics
from tracing import Tracer, job_totals, jobs_in_group, read_event_log

BENCH = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_every_metric_is_named_and_has_a_unit():
    for table in (metrics.END_TO_END, metrics.PER_LAYER):
        for name, unit in table.items():
            assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
            assert NAME.match(name), name
            assert UNIT.match(unit), (name, unit)
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)


def test_benchmark_json_matches_the_code():
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in BENCH["end_to_end"])
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    import run

    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)


def test_render_refuses_missing_values():
    with pytest.raises(KeyError):
        metrics.render({"setup_s": 1.0}, metrics.END_TO_END)
    out = metrics.render({k: 1 for k in metrics.END_TO_END}, metrics.END_TO_END)
    assert out["wait_s"] == {"value": 1.0, "unit": "s"}


def test_event_log_jobs_carry_their_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "q#0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 2e8}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "q#1"}},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n{torn")
    jobs = read_event_log(str(tmp_path), "local-1")
    assert [j.job_id for j in jobs_in_group(jobs, "q#0")] == [0]
    j = jobs[0]
    assert (j.submit, j.end, j.stages, j.tasks, j.run_s, j.cpu_s) == (1.0, 1.6, 1, 1, 0.5, 0.2)
    assert job_totals(jobs_in_group(jobs, "q#1"))["tasks"] == 0


def test_self_time_subtracts_children():
    t = Tracer(True)
    root = t.add("stream", 0.0, 10.0, "batch-1")
    t.add("state_fold", 1.0, 4.0, "batch-1", root)
    t.add("pipeline", 3.0, 8.0, "batch-1", root)
    selves = t.self_times()
    assert selves["stream"] == (3.0, 1)
    assert selves["state_fold"] == (3.0, 1)
    off = Tracer(False)
    with off.span("plans", "q") as s:
        assert s is None
    assert off.spans == []
