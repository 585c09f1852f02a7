"""Tests for the benchmark's own generators and folding.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import inputs  # noqa: E402
import spans  # noqa: E402
import tables  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize("n", [5, 2000])
def test_same_seed_same_exports(tmp_path, n):
    runs = []
    for k in range(2):
        dest = tmp_path / f"run{k}"
        expected = {b: inputs.write_export(b, n, 3, str(dest))[1] for b in inputs.BROKERS}
        runs.append((_tree(str(dest)), expected))
    assert runs[0] == runs[1]
    other = tmp_path / "other"
    assert {b: inputs.write_export(b, n, 4, str(other))[1] for b in inputs.BROKERS} != runs[0][1]
    # about four trades in five rows, for every broker
    assert all(0.6 * n <= len(lines) <= n for lines in runs[0][1].values())


def test_merge_is_stable_by_date_and_dedup_keeps_first():
    existing = ["BUY 02/01/2024 A 1 1 0", "SELL 01/01/2024 B 1 1 0"]
    new = ["BUY 01/01/2024 C 1 1 0", "BUY 02/01/2024 A 1 1 0"]
    assert inputs.merge(existing, new) == [
        "SELL 01/01/2024 B 1 1 0",
        "BUY 01/01/2024 C 1 1 0",
        "BUY 02/01/2024 A 1 1 0",
        "BUY 02/01/2024 A 1 1 0",
    ]
    assert inputs.merge(existing, new, dedup=True) == [
        "SELL 01/01/2024 B 1 1 0",
        "BUY 01/01/2024 C 1 1 0",
        "BUY 02/01/2024 A 1 1 0",
    ]


def test_js_printing_of_export_values():
    assert inputs.js("40.00") == "40"
    assert inputs.js("0.050") == "0.05"
    assert inputs.js(repr(0.1 + 0.2)) == "0.30000000000000004"


def test_tables_are_seeded_and_cover_the_registry_tables():
    from cgtcalc_data_transformer_spark.sources.tpch import TABLES

    a, b, c = tables.build(5), tables.build(5), tables.build(6)
    assert sorted(a) == sorted(TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["orders"].num_rows == 1500 and a["embeddings"].num_rows == 500


def test_fold_event_log_sums_tasks_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "q1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "q2"}},
    ]
    for stage, cpu_ns, ms in [(0, 2e9, 1500), (1, 1e9, 500), (2, 5e8, 250)]:
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 100,
                             "Memory Bytes Spilled": 10, "Disk Bytes Spilled": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}},
        })
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    folded = spans.fold_event_log(str(log))
    assert folded["q1"] == {
        "jobs": 1, "stages": 2, "tasks": 2, "task_cpu_s": 3.0, "task_max_s": 1.5,
        "shuffle_bytes": 128, "spill_bytes": 30, "gc_s": 0.2,
    }
    assert folded["q2"]["tasks"] == 1 and folded["q2"]["task_max_s"] == 0.25


def test_tracer_self_time_is_wall_minus_child_spans():
    tracer = spans.Tracer()
    tracer.op = "op"
    assert tracer.span("layer.a", lambda x: x + 1)(1) == 2
    assert set(tracer.layer_seconds()) == {"layer.a"}
    assert tracer.op_child_seconds()["op"] == tracer.layer_seconds()["layer.a"]


@pytest.fixture(scope="module")
def spark():
    from cgtcalc_data_transformer_spark.session import get_spark

    session = get_spark(app_name="perfbench-test")
    yield session
    session.stop()


@pytest.mark.parametrize("n", [5, 2000])
def test_cli_pipeline_writes_the_expected_bytes(spark, tmp_path, n):
    """Each broker appended in turn, then a dedup rerun: ``data.txt``
    matches the generator's expected lines byte for byte."""
    from cgtcalc_data_transformer_spark import cli

    output = str(tmp_path / "data.txt")
    expected: list[str] = []
    steps = [(b, False) for b in inputs.BROKERS] + [("ii", True)]
    for broker, dedup in steps:
        path, lines = inputs.write_export(broker, n, 9, str(tmp_path / "in"))
        expected = inputs.merge(expected, lines, dedup)
        cli.run_pipeline(spark, broker, path, output=output, dedup=dedup)
        with open(output, "rb") as f:
            assert f.read() == inputs.as_bytes(expected), (broker, dedup)


def test_benchmark_json_lists_the_metrics_run_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for key, printed in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[key]} == printed


def test_stopwatch_removes_only_the_stolen_share():
    clock = spans.Stopwatch()
    sum(range(10**6))
    wall, stolen = clock.read()
    assert wall > 0 and 0.0 <= stolen <= 1.0
    assert 0.0 <= clock.seconds() <= clock.read()[0]


_ORPHANS = """
import os, subprocess, sys, time
sys.path.insert(0, sys.argv[1])
import spans

spans.become_subreaper()
# a child that leaves a grandchild running behind it, as the CLI's
# Python process leaves its JVM
spawn = "import subprocess, sys; subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(%s)'])"
subprocess.run([sys.executable, "-c", spawn % sys.argv[2]], check=True)
assert spans.descendants(os.getpid()), "the grandchild should be re-parented here"
t0 = time.monotonic()
spans.reap_descendants(grace=float(sys.argv[3]), kill_after=5)
assert spans.descendants(os.getpid()) == []
print(time.monotonic() - t0)
"""


@pytest.mark.parametrize("sleep, grace, most", [(0.5, 30, 10), (60, 0.2, 10)])
def test_reap_descendants_leaves_no_orphan(sleep, grace, most):
    import subprocess

    out = subprocess.run(
        [sys.executable, "-c", _ORPHANS, HERE, str(sleep), str(grace)],
        check=True, capture_output=True, text=True, timeout=60,
    )
    waited = float(out.stdout.split()[-1])
    assert min(sleep, grace) * 0.5 < waited < most
