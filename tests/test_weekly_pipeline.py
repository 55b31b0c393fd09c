"""Weekly-report pipeline tests: wide-row schema contract, zero-fill/NULL
semantics, and idempotent partition-overwrite re-runs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from inspig_etl_spark.pipelines.weekly import (
    N_WIDE,
    build_weekly_report,
    wide_row_columns,
)
from inspig_etl_spark.sources.sinks import overwrite_partitions
from tests.conftest import SF_SMOKE


def test_wide_row_schema_contract(spark):
    wide, _ = build_weekly_report(spark, SF_SMOKE, master_seq=7)
    assert wide.columns == wide_row_columns()
    assert len(wide.columns) == 7 + 3 * N_WIDE
    rows = wide.collect()
    assert all(r.master_seq == 7 for r in rows)
    # Herd section zero-fills counts; chart section keeps NULL no-data days.
    md = [r for r in rows if r.gubun == "MD"]
    sh = [r for r in rows if r.gubun == "SH"]
    assert md and sh
    assert all(r.cnt_1 is not None for r in md)
    assert all(r.cnt_15 is None and r.val_15 is None and r.str_15 is None for r in rows)
    # Deterministic ordering keys: each farm has status sort_nos 1..7 and
    # chart sort_nos 1..7.
    per_farm = {}
    for r in md:
        per_farm.setdefault(r.farm_no, set()).add(r.sort_no)
    assert all(v == set(range(1, 8)) for v in per_farm.values())


def test_idempotent_rerun_overwrites_slice(spark, tmp_path):
    path = str(tmp_path / "week_sub")
    wide, _ = build_weekly_report(spark, SF_SMOKE, master_seq=1)
    overwrite_partitions(wide, path, ["master_seq", "farm_no"])
    first = spark.read.parquet(path).count()

    # Re-run of the same master: same slice replaced, not duplicated.
    wide2, _ = build_weekly_report(spark, SF_SMOKE, master_seq=1)
    overwrite_partitions(wide2, path, ["master_seq", "farm_no"])
    assert spark.read.parquet(path).count() == first

    # A second master lands beside the first.
    wide3, _ = build_weekly_report(spark, SF_SMOKE, master_seq=2)
    overwrite_partitions(wide3, path, ["master_seq", "farm_no"])
    total = spark.read.parquet(path)
    assert total.count() == 2 * first
    assert total.select("master_seq").distinct().count() == 2


def test_summary_one_row_per_farm(spark):
    _, summary = build_weekly_report(spark, SF_SMOKE)
    rows = summary.collect()
    farms = [r.farm_no for r in rows]
    assert len(farms) == len(set(farms))
    assert all(r.total_users > 0 for r in rows)
    assert all(
        r.pregnant_cnt + r.nursing_cnt <= r.total_users for r in rows
    )


class TestOnDemandSingleFarm:
    """§3.3 run-farm endpoint semantics (server.py:140-206,
    orchestrator.py:1244-1420)."""

    def test_last_week_period_math(self):
        from inspig_etl_spark.pipelines.on_demand import last_week_period

        # Wednesday 2024-01-24 -> last week Mon 15th .. Sun 21st, ISO W3.
        p = last_week_period("20240124")
        assert (p["dt_from"], p["dt_to"]) == ("20240115", "20240121")
        assert (p["year"], p["week_no"], p["master_seq"]) == (2024, 3, 202403)
        # Sunday base reports the PREVIOUS full week, never today's.
        p = last_week_period("20240121")
        assert (p["dt_from"], p["dt_to"]) == ("20240108", "20240114")
        # ISO-year boundary: 2024-01-01 -> last Sunday is 2023-12-31,
        # which belongs to ISO 2023 W52.
        p = last_week_period("20240101")
        assert (p["year"], p["week_no"]) == (2023, 52)

    def test_run_single_farm_success(self, spark):
        from inspig_etl_spark.pipelines.on_demand import run_single_farm, share_token

        res = run_single_farm(spark, SF_SMOKE, farm_no=3, ins_date="20240124")
        assert res["status"] == "success"
        assert res["share_token"] == share_token(3, 2024, 3, "20240121")
        wide = res["wide_rows"].collect()
        assert wide and all(r.farm_no == 3 for r in wide)
        summ = res["summary"].collect()
        assert len(summ) == 1 and summ[0].share_token == res["share_token"]

    def test_run_single_farm_unknown_farm_and_kind(self, spark):
        from inspig_etl_spark.pipelines.on_demand import run_single_farm

        res = run_single_farm(spark, SF_SMOKE, farm_no=9999, ins_date="20240124")
        assert res["status"] == "error" and "not found" in res["error"]
        res = run_single_farm(
            spark, SF_SMOKE, farm_no=3, ins_date="20240124", day_gb="MONTH"
        )
        assert res["status"] == "error" and "not implemented" in res["error"]


def test_run_single_farm_reports_the_requested_period(spark):
    """Regression: the report sections must aggregate the RESOLVED period,
    not the module's fixed test week — the chart spine's dates are fully
    deterministic, so assert them directly."""
    from tests.conftest import SF_SMOKE
    from inspig_etl_spark.pipelines.on_demand import run_single_farm

    res = run_single_farm(spark, SF_SMOKE, farm_no=3, ins_date="20240125")
    assert res["status"] == "success"
    assert (res["dt_from"], res["dt_to"]) == ("20240115", "20240121")
    days = sorted(
        r.str_1
        for r in res["wide_rows"].filter("gubun = 'SH'").select("str_1").collect()
    )
    assert days[0] == "20240115" and days[-1] == "20240121" and len(days) == 7
    res["wide_rows"].unpersist()
    res["summary"].unpersist()


def test_all_ten_sections_compose(spark):
    """The full TS_INS_WEEK_SUB GUBUN taxonomy lands in one union
    (async_processor.py:150-192): every section present, fixed-spine
    sections zero-filled per farm, DOPE pages pin the ALL total last."""
    wide, summary = build_weekly_report(spark, SF_SMOKE, master_seq=3)
    rows = wide.collect()
    by_gubun = {}
    for r in rows:
        by_gubun.setdefault(r.gubun, []).append(r)
    assert set(by_gubun) == {
        "MD", "ALERT", "GB", "BM", "EU", "SG", "DOPE", "SH", "SCHEDULE", "CONFIG"
    }
    farms = {r.farm_no for r in rows}
    # Fixed spine widths per farm: ALERT 4 bands, GB 5 buckets, EU 5 types,
    # SG 5 bands, BM 1 row, CONFIG 1 row — all zero-filled (cnt_1 never NULL).
    for gubun, width in [("ALERT", 4), ("GB", 5), ("EU", 5), ("SG", 5), ("BM", 1), ("CONFIG", 1)]:
        sec = by_gubun[gubun]
        assert len(sec) == width * len(farms), gubun
        assert all(r.cnt_1 is not None for r in sec), gubun
    # BM WoW arithmetic holds row-wise.
    assert all(r.cnt_3 == r.cnt_1 - r.cnt_2 for r in by_gubun["BM"])
    # DOPE: each farm's LAST page holds the pinned 'ALL' total in its last
    # filled slot, and the total equals the sum of the item counts.
    for farm in farms:
        pages = sorted(
            (r for r in by_gubun["DOPE"] if r.farm_no == farm),
            key=lambda r: r.sort_no,
        )
        if not pages:
            continue
        labels, cnts = [], []
        for p in pages:
            for i in (1, 2, 3):
                if p[f"str_{i}"] is not None:
                    labels.append(p[f"str_{i}"])
                    cnts.append(p[f"cnt_{i}"])
        assert labels[-1] == "ALL"
        assert cnts[-1] == sum(cnts[:-1])
        # items are ordered by count desc before the pinned tail
        item_cnts = cnts[:-1]
        assert item_cnts == sorted(item_cnts, reverse=True)
    # SCHEDULE day counts sum to the row total.
    for r in by_gubun["SCHEDULE"]:
        assert sum(r[f"cnt_{i}"] or 0 for i in range(1, 8)) == r.cnt_8
    # Summary carries the grown TS_INS_WEEK columns, one row per farm.
    srows = summary.collect()
    assert len(srows) == len({r.farm_no for r in srows})
    for col in ("alert_total", "bm_wow_delta", "this_total_sum", "kpi_delay_day"):
        assert col in summary.columns
    assert all(r.bm_wow_delta == r.last_bm_cnt - r.prior_bm_cnt for r in srows)
