"""Self-tests of the benchmark: input determinism, the statistics and
span helpers, and a short run of every workload.

    python3 -m pytest perfbench/tests -q

The workload runs start Spark and take a minute or more each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import datagen  # noqa: E402
from perfbench.measure import percentile  # noqa: E402
from perfbench.tracing import Span, Tracer, outermost, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_same_seed_gives_identical_inputs(tmp_path):
    datagen.generate(str(tmp_path / "a"), 7)
    datagen.generate(str(tmp_path / "b"), 7)
    datagen.generate(str(tmp_path / "c"), 8)
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert a == b
    assert a["events.parquet"] != c["events.parquet"]
    from inspig_etl_spark.catalog import TABLES

    assert sorted(a) == sorted(f"{t}.parquet" for t in TABLES)


def test_inputs_cover_program_dates(tmp_path):
    import pyarrow.parquet as pq

    datagen.generate(str(tmp_path), 1)
    ts = pq.read_table(tmp_path / "events.parquet").column("ts").to_pylist()
    lo, hi = min(ts).date().isoformat(), max(ts).date().isoformat()
    from inspig_etl_spark.pipelines.weekly import WEEK_FROM, WEEK_TO
    from inspig_etl_spark.queries.status_schedule import BASE_DATE

    for day in (WEEK_FROM, WEEK_TO, BASE_DATE, "2024-01-15", "2024-01-28"):
        assert lo <= day <= hi
    users = pq.read_table(tmp_path / "events.parquet").column("user_id").to_pylist()
    assert {u % 10 for u in users} == set(range(10))


def test_percentile():
    assert percentile([3.0], 50) == 3.0
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile([1, 2, 3, 4], 90) == pytest.approx(3.7)
    assert percentile([1, 2, 3, 4], 0) == 1 and percentile([1, 2, 3, 4], 100) == 4
    with pytest.raises(ValueError):
        percentile([], 50)


def _span(i, start, end, parent=None, name="x"):
    return Span(i, name, start, end, parent, 0, 0)


def test_self_times_merges_overlapping_children():
    spans = [
        _span(0, 0, 10),
        _span(1, 1, 3, 0),
        _span(2, 2, 5, 0),  # overlaps child 1: together they cover 1..5
        _span(3, 7, 8, 0),
        _span(4, 2, 2.5, 2),  # grandchild: not subtracted from span 0
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1)
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(1)


def test_outermost_counts_nested_calls_once():
    spans = [
        _span(0, 0, 10, name="weekly.build_weekly_report"),
        _span(1, 0, 5, 0, name="weekly.build_weekly_wide"),
        _span(2, 11, 12, name="weekly.build_weekly_wide"),
        _span(3, 13, 14, name="sinks.replace_by_key"),
    ]
    assert [s.id for s in outermost(spans, "weekly.build")] == [0, 2]


def test_tracer_nests_spans_and_shares_op_id():
    t = Tracer()

    def inner():
        return 1

    inner_t = t.wrap(inner, "inner")
    outer_t = t.wrap(lambda: inner_t() + 1, "outer")
    t.op = 5
    assert outer_t() == 2
    by_name = {s.name: s for s in t.spans}
    assert by_name["inner"].parent == by_name["outer"].id
    assert by_name["outer"].parent is None
    assert {s.op for s in t.spans} == {5}


def test_hook_time_is_not_charged_to_the_caller():
    t = Tracer()

    def slow_hook(state, args, kwargs):
        time.sleep(0.05)
        return {"rows": 1}

    t.hooks["inner"] = (None, slow_hook)
    inner_t = t.wrap(lambda: None, "inner")
    outer_t = t.wrap(lambda: inner_t(), "outer")
    outer_t()
    by_name = {s.name: s for s in t.spans}
    assert by_name["inner"].attrs == {"rows": 1}
    assert by_name["trace.hook"].parent == by_name["outer"].id
    assert by_name["outer"].dur >= 0.05
    assert self_times(t.spans)[by_name["outer"].id] < 0.01


def test_benchmark_json_lists_every_workload():
    assert {w["name"] for w in BENCH["workloads"]} == set(WORKLOADS)
    assert any(m["name"] == "setup_s" for m in BENCH["end_to_end"])


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_smoke(workload):
    proc = _run(ROOT, workload, 0)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run_reports_every_layer_metric():
    proc = _run(ROOT, "weather_merge", 1)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    assert result["metrics"]["runner.run_collector_s"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_out", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "weather_merge", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
