"""CLI runner tests (SURVEY.md §7.1 — reference run_etl.py entry semantics).

Farm numbers in the synthetic data are ``user_id % 10`` (0..9), so the test
panels below use single digits rather than the reference's default panel.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from inspig_etl_spark import runner
from tests.conftest import SF_SMOKE


def _plan(argv):
    return runner.resolve_plan(runner.parse_args(argv))


def test_dry_run_prints_resolved_plan(capsys):
    rc = runner.main(
        ["--dry-run", "--test", "--base-date", "2024-01-25", "--exclude", "8",
         "--farm-list", "1,3,8"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "include_farms: [1, 3, 8]" in out
    assert "exclude_farms: [8]" in out
    # base 2024-01-25 (Thu) → last full week Mon 01-15 .. Sun 01-21, ISO week 3
    assert "20240115..20240121" in out
    assert "master_seq 202403" in out


def test_date_range_steps_by_seven_days():
    plan = _plan(["--date-from", "2024-01-01", "--date-to", "2024-01-20"])
    assert plan["dates"] == ["20240101", "20240108", "20240115"]


def test_farm_panel_ignored_outside_test_mode():
    assert _plan(["--farm-list", "1,2"])["include_farms"] == []
    assert _plan(["--test", "--farm-list", "1,2"])["include_farms"] == [1, 2]


def test_error_paths_exit_nonzero(capsys):
    assert runner.main(["--manual", "--dry-run"]) == 1           # no --farm-no
    assert runner.main(["monthly", "--dry-run"]) == 1            # not implemented
    assert runner.main(["--day-gb", "MONTH", "--dry-run"]) == 1  # not implemented
    for argv in (["--base-date", "2024/01/01"], ["--date-from", "x", "--date-to", "y"]):
        try:
            runner.main(argv + ["--dry-run"])
            raise AssertionError("expected SystemExit")
        except SystemExit as e:
            assert e.code == 1
    for flag in ("--dt-from", "--dt-to"):  # the period is always derived
        with pytest.raises(SystemExit):
            runner.parse_args([flag, "20240101"])


def test_weekly_batch_end_to_end(spark, tmp_path):
    """parse → resolve → build → land → manifest, over sf0.001, plus the
    S12 idempotent-rerun and --init-week delete policies."""
    out = str(tmp_path / "out")
    plan = _plan(
        ["weekly", "--test", "--base-date", "2024-01-25", "--farm-list",
         "1,3,5", "--exclude", "5", "--sf-dir", SF_SMOKE, "--output", out]
    )
    results = runner.run_weekly_batch(spark, plan, init_all=False, init_week=False)
    assert [r["status"] for r in results] == ["success"]
    assert results[0]["master_seq"] == 202403

    wide = spark.read.parquet(os.path.join(out, "ts_ins_week_sub"))
    farms = {r.farm_no for r in wide.select("farm_no").distinct().collect()}
    assert farms == {1, 3}  # panel minus excluded
    assert wide.filter("gubun = 'MD'").count() > 0
    assert wide.filter("gubun = 'SH'").count() > 0

    manifest_path = os.path.join(out, "manifest_20240125-202403.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    assert manifest["status"] == "COMPLETE"
    assert [s["step"] for s in manifest["steps"]] == ["weekly_wide", "weekly_summary"]
    assert manifest["steps"][0]["rows"] == results[0]["wide_rows"]

    # Idempotent rerun (S12 replace-by-slice): same rows, no duplication.
    n_before = wide.count()
    results2 = runner.run_weekly_batch(spark, plan, init_all=False, init_week=False)
    assert results2[0]["status"] == "success"
    assert spark.read.parquet(os.path.join(out, "ts_ins_week_sub")).count() == n_before

    # --init-week drops the week's slice before inserting — same count again.
    results3 = runner.run_weekly_batch(spark, plan, init_all=False, init_week=True)
    assert results3[0]["status"] == "success"
    assert spark.read.parquet(os.path.join(out, "ts_ins_week_sub")).count() == n_before

    # A second week accumulates next to the first instead of replacing it.
    plan2 = _plan(
        ["weekly", "--test", "--base-date", "2024-02-01", "--farm-list",
         "1,3,5", "--exclude", "5", "--sf-dir", SF_SMOKE, "--output", out]
    )
    runner.run_weekly_batch(spark, plan2, init_all=False, init_week=False)
    seqs = {
        r.master_seq
        for r in spark.read.parquet(os.path.join(out, "ts_ins_week_sub"))
        .select("master_seq").distinct().collect()
    }
    assert seqs == {202403, 202404}


def test_manual_lands_into_report_tables(spark, tmp_path, monkeypatch):
    """--manual lands one farm's report into ts_ins_week(_sub), where the
    api's status lookup finds it, and writes no side table."""
    from inspig_etl_spark.api import handle_status

    monkeypatch.setattr("inspig_etl_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)  # main stops its session
    out = str(tmp_path / "out")
    rc = runner.main(["--manual", "--farm-no", "3", "--base-date", "2024-01-25",
                      "--sf-dir", SF_SMOKE, "--output", out])
    assert rc == 0
    assert sorted(os.listdir(out)) == ["ts_ins_week", "ts_ins_week_sub"]
    wide = spark.read.parquet(os.path.join(out, "ts_ins_week_sub"))
    slices = wide.select("master_seq", "farm_no").distinct().collect()
    assert [tuple(r) for r in slices] == [(202403, 3)]
    code, st = handle_status(spark, out, 3, "WEEK")
    assert code == 200 and st["exists"] is True and st["weekNo"] == 3


def test_cli_subprocess_end_to_end(tmp_path):
    """The real thing: ``python -m inspig_etl_spark.runner`` in a fresh
    process over sf0.001 producing wide rows + a manifest."""
    out = str(tmp_path / "cli_out")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, "-m", "inspig_etl_spark.runner", "weekly", "--test",
         "--base-date", "2024-01-25", "--farm-list", "1,3", "--sf-dir",
         SF_SMOKE, "--output", out],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "done: 1/1 succeeded" in proc.stdout
    assert os.path.exists(os.path.join(out, "ts_ins_week_sub"))
    with open(os.path.join(out, "manifest_20240125-202403.json")) as f:
        assert json.load(f)["status"] == "COMPLETE"


def test_backfill_window_resolution():
    # trailing-N window ends AT the base date
    plan = _plan(["weather", "--base-date", "2024-01-15", "--backfill-days", "3"])
    assert plan["backfill_dates"] == ["20240113", "20240114", "20240115"]
    # explicit range wins over --backfill-days
    plan = _plan(
        ["weather", "--backfill-days", "9", "--backfill-start", "20240114",
         "--backfill-end", "20240116"]
    )
    assert plan["backfill_dates"] == ["20240114", "20240115", "20240116"]
    # no flags → no backfill
    assert _plan(["weather"])["backfill_dates"] == []
    # error paths
    assert runner.main(["weekly", "--backfill-days", "2", "--dry-run"]) == 1
    for argv in (
        ["weather", "--backfill-start", "20240101"],     # start without end
        ["weather", "--backfill-start", "20240105", "--backfill-end", "20240101"],
        ["weather", "--backfill-start", "2024-01-01", "--backfill-end", "20240102"],
        ["weather", "--backfill-days", "0"],
    ):
        try:
            runner.main(argv + ["--dry-run"])
            raise AssertionError("expected SystemExit")
        except SystemExit as e:
            assert e.code == 1


def test_weather_backfill_overwrites_window_only(spark, tmp_path):
    """ST2 lookback MERGE through the CLI path (ref weather_etl.py --asos):
    observed rows replace forecast rows for the backfill window's days;
    every row outside the window stays bit-identical; rerun is idempotent."""
    out = str(tmp_path / "wx")

    # Baseline landing: TODAY(20240115) short-term + TOMORROW mid-term rows.
    plan = _plan(["weather", "--sf-dir", SF_SMOKE, "--output", out])
    res = runner.run_collector(spark, plan)
    assert res["status"] == "success" and "backfill_days" not in res
    dest = os.path.join(out, "tm_weather")
    before = {
        (r.nx, r.ny, r.wk_date): (r.temp_low, r.temp_high, r.temp_avg_e1, r.src)
        for r in spark.read.parquet(dest).collect()
    }
    assert {k[2] for k in before} == {"20240115", "20240116"}

    # Backfill 20240114..20240115: 0115 forecast rows must flip to observed,
    # 0114 rows are new inserts, 0116 (outside the window) must not move.
    plan_bf = _plan(
        ["weather", "--sf-dir", SF_SMOKE, "--output", out,
         "--backfill-start", "20240114", "--backfill-end", "20240115"]
    )
    res_bf = runner.run_collector(spark, plan_bf)
    assert res_bf["backfill_days"] == 2
    assert res_bf["backfill_range"] == "20240114..20240115"
    after = {
        (r.nx, r.ny, r.wk_date): (r.temp_low, r.temp_high, r.temp_avg_e1, r.src)
        for r in spark.read.parquet(dest).collect()
    }

    cells = {(k[0], k[1]) for k in before}
    assert set(after) == set(before) | {(nx, ny, "20240114") for nx, ny in cells}
    for (nx, ny, d), vals in after.items():
        if d in ("20240114", "20240115"):
            assert vals[3] == "observed", (nx, ny, d)
            day = int(d[6:8])
            low = 2 + (nx * 5 + ny * 3 + day) % 7
            high = 13 + (nx * 2 + ny * 7 + day) % 9
            assert vals[:3] == (low, high, (low + high) * 5), (nx, ny, d)
        else:
            assert vals == before[(nx, ny, d)], (nx, ny, d)

    # Idempotent: the same backfill again changes nothing.
    runner.run_collector(spark, plan_bf)
    again = {
        (r.nx, r.ny, r.wk_date): (r.temp_low, r.temp_high, r.temp_avg_e1, r.src)
        for r in spark.read.parquet(dest).collect()
    }
    assert again == after
