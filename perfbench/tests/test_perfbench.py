"""Tests of the benchmark itself, at a tiny input size.

    python -m pytest perfbench/tests -q

The Spark tests run ``perfbench/run.py`` end to end (about a minute each);
the others are Spark-free.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT))

import eventlog  # noqa: E402
import inputs  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
TINY = ["--seconds", "1", "--scale", "0.05"]


def bench(*args, cwd=ROOT, timeout=300) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result, proc.stderr


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    rc, result, err = bench("--workload", workload, "--seed", "3", "--trace", "0", *TINY)
    assert rc == 0, err[-3000:]
    assert_metrics(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    rc, result, err = bench("--workload", workload, "--seed", "3", "--trace", "1", *TINY)
    assert rc == 0, err[-3000:]
    assert_metrics(result, SPEC["per_layer"])
    trace = json.loads((BENCH / ".work" / "traces" / f"{workload}-s3-t1.json").read_text())
    assert trace["spans"] and trace["noise"]["converter_docs_per_s"] > 0
    # the layer this workload exercises reports a measured value
    exercised = {
        "extract_pages": ["extract.wall_s", "convert.chain_us_per_doc", "checkpoint.run_s"],
        "near_dup_text": ["dedup.components_s", "dedup.simhash_pairs_s"],
    }[workload]
    for name in exercised + ["session.get_spark_s"]:
        assert result["metrics"][name]["value"] > 0


def copy_checkout(dst: Path, with_program: bool) -> None:
    """The files a benchmark checkout holds: BENCHMARK.json and the
    benchmark, plus, ``with_program``, the package and its fixtures."""
    ignore = shutil.ignore_patterns(".cache", ".work", "__pycache__")
    shutil.copy(ROOT / "BENCHMARK.json", dst / "BENCHMARK.json")
    shutil.copytree(BENCH, dst / "perfbench", ignore=ignore)
    if with_program:
        shutil.copytree(ROOT / "fetch_engines_spark", dst / "fetch_engines_spark", ignore=ignore)
        shutil.copytree(ROOT / "data" / "fixtures", dst / "data" / "fixtures", ignore=ignore)


def test_corrupted_golden_span_fails_the_run(tmp_path):
    copy_checkout(tmp_path, with_program=True)
    golden = inputs.golden_spans_path(tmp_path)
    table = pq.read_table(golden)
    rows = table.to_pylist()
    victim = next(r for r in rows if r["doc_id"] == "F02" and r["text"])
    victim["text"] += " (corrupted)"
    pq.write_table(type(table).from_pylist(rows, table.schema), golden)
    rc, result, _ = bench("--workload", "extract_pages", "--seed", "3", "--trace", "0",
                          *TINY, cwd=tmp_path)
    assert rc != 0
    assert result["correct"] is False
    assert result["failed"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    copy_checkout(tmp_path, with_program=False)
    rc, result, _ = bench("--workload", "extract_pages", "--seed", "1", "--trace", "0",
                          "--seconds", "1", cwd=tmp_path, timeout=120)
    assert rc != 0 and result is None


def test_inputs_are_a_function_of_the_seed():
    a, tail_a = inputs.pages_rows(5, 0.05)
    b, tail_b = inputs.pages_rows(5, 0.05)
    c, tail_c = inputs.pages_rows(6, 0.05)
    assert a == b and tail_a == tail_b
    assert {r["doc_id"] for r in a} != {r["doc_id"] for r in c}
    # the seed changes which docs, never how much work
    assert len(a) == len(c) and sorted(tail_a.values()) == sorted(tail_c.values())
    assert inputs.near_dup_rows(5, 0.05) == inputs.near_dup_rows(5, 0.05)
    assert len(inputs.near_dup_rows(5, 0.05)) == len(inputs.near_dup_rows(6, 0.05))
    assert inputs.job_rows(5, 0.05) != inputs.job_rows(6, 0.05)


def test_fixture_fingerprint_sees_same_length_edits(monkeypatch):
    from fetch_engines_spark import fixtures

    golden = inputs.golden_spans_path(ROOT)
    before = inputs.fixture_fingerprint(golden)
    page = fixtures.FIXTURES[0]
    edited = page.html.replace("<td>", "<th>", 1)
    assert len(edited) == len(page.html) and edited != page.html
    monkeypatch.setattr(page, "html", edited)
    assert inputs.fixture_fingerprint(golden) != before


def test_eventlog_summary_by_span(tmp_path):
    def stage(sid, acc):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Stage Name": f"s{sid}", "Submission Time": 0, "Completion Time": 10,
            "Accumulables": [{"Name": k, "Value": v} for k, v in acc.items()]}}

    def task(sid, ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Info": {"Launch Time": 0, "Finish Time": ms}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Submission Time": 0,
         "Properties": {"perfbench.span": "1", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Submission Time": 0,
         "Properties": {"perfbench.span": "2"}},
        {"Event": eventlog.SQL_START, "executionId": 0, "time": 100, "sparkPlanInfo": {
            "nodeName": "MapInArrow", "children": [
                {"nodeName": "Scan parquet ", "metadata": {"Location": "InMemoryFileIndex[/data/in]"}},
            ]}},
        {"Event": eventlog.SQL_END, "executionId": 0, "time": 600},
        task(0, 10), task(0, 10), task(0, 40), task(1, 5),
        stage(0, {"internal.metrics.jvmGCTime": 1500, "data sent to Python workers": 2e6,
                  "internal.metrics.shuffle.write.bytesWritten": 3e6}),
        stage(1, {"internal.metrics.jvmGCTime": 500}),
    ]
    path = tmp_path / "events"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = eventlog.EventLog(path)
    s = log.summary({1}, scan_path="/data/in")
    assert s["jobs"] == 1 and s["tasks"] == 3
    assert s["gc_s"] == 1.5 and s["python_in_mb"] == 2.0 and s["shuffle_write_mb"] == 3.0
    assert s["task_max_over_median"] == 4.0
    assert s["input_scans"] == 1 and s["arrow_executions_s"] == 0.5
    assert log.summary()["gc_s"] == 2.0
