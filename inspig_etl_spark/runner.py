"""CLI runner with the reference's entry semantics (SURVEY.md §7.1).

Mirrors ``/root/reference/run_etl.py:30-208`` flag-for-flag where the flag
is an engine concern, and maps each mode onto the kernels that already
exist in this package:

- base-date resolution + last-week period contract →
  :func:`pipelines.on_demand.last_week_period`
  (``src/weekly/orchestrator.py:992-1040`` semantics);
- the weekly report build → :func:`pipelines.weekly.build_weekly_report`;
- farm include panel (``--test --farm-list``) and ``--exclude`` →
  pushed-down ``isin`` predicates (the include/exclude rewrite of
  ``queries/domain_aggs.py``);
- landing → :func:`sources.sinks.land_slice` per report table, with the
  delete policy (``--test --init-week`` / ``--init-all``, production =
  never delete) as its ``keep`` predicate; the batch stamps the same
  summary columns as run-farm, so its weeks answer ``GET /api/etl/status``;
- master/job-log bookkeeping → :class:`streaming.incremental.RunManifest`
  (ST6), one JSON manifest per run;
- ``--manual --farm-no`` → :func:`pipelines.on_demand.run_and_land_farm`,
  landing into the same two tables as the api's run-farm endpoint;
- ``--date-from/--date-to`` weekly batch stepping (+7 days, init-all on the
  first run only — exactly the reference's loop, ``run_etl.py:278-358``);
- ``weather`` / ``productivity`` commands → the existing pipeline queries
  landed to their own output tables.

The reference talks to Oracle; here outputs are parquet tables under
``--output`` (``ts_ins_week_sub`` wide rows, ``ts_ins_week`` summaries,
``master_seq`` bigint in both), which is also what a cluster deployment
would write. ``--dry-run`` resolves and prints the whole plan without
creating a SparkSession.
"""

from __future__ import annotations

import argparse
import sys
import time
from datetime import datetime, timedelta

DEFAULT_FARM_PANEL = "1387,2807,848,4223,1013"
SUPPORTED_COMMANDS = ("all", "weekly", "monthly", "quarterly", "weather", "productivity")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="runner",
        description="inspig-etl-spark runner (reference run_etl.py semantics)",
    )
    p.add_argument("command", nargs="?", default="all", choices=SUPPORTED_COMMANDS)
    p.add_argument("--day-gb", default="WEEK", choices=["WEEK", "MONTH", "QUARTER"])
    p.add_argument("--test", action="store_true", help="test mode: honor --farm-list panel")
    p.add_argument("--base-date", help="base date YYYY-MM-DD")
    p.add_argument("--dry-run", action="store_true", help="resolve and print the plan only")
    p.add_argument("--init-all", action="store_true", help="with --test: drop all prior output")
    p.add_argument("--init-week", action="store_true", help="with --test: drop this week's slice")
    p.add_argument("--farm-list", default=DEFAULT_FARM_PANEL, help="test panel, comma-separated")
    p.add_argument("--exclude", default=None, help="farms to exclude, comma-separated")
    p.add_argument("--manual", action="store_true", help="single-farm mode")
    p.add_argument("--farm-no", type=int, help="farm for --manual")
    p.add_argument("--date-from", help="batch start YYYY-MM-DD (+7d steps)")
    p.add_argument("--date-to", help="batch end YYYY-MM-DD")
    p.add_argument("--sf-dir", default=None, help="input table directory")
    p.add_argument("--output", default="runner_out", help="output directory")
    p.add_argument(
        "--backfill-days", type=int, default=None, metavar="N",
        help="weather: re-merge observed daily values over the trailing N "
             "days ending at --base-date (ref weather_etl.py --asos-days)",
    )
    p.add_argument(
        "--backfill-start", metavar="YYYYMMDD",
        help="weather: explicit backfill range start (with --backfill-end; "
             "overrides --backfill-days — ref --asos-start)",
    )
    p.add_argument(
        "--backfill-end", metavar="YYYYMMDD",
        help="weather: explicit backfill range end (ref --asos-end)",
    )
    return p.parse_args(argv)


def _ymd(label: str, value: str) -> datetime:
    try:
        return datetime.strptime(value, "%Y-%m-%d")
    except ValueError:
        print(f"ERROR: bad {label} {value!r}; expected YYYY-MM-DD", file=sys.stderr)
        raise SystemExit(1)


def _parse_farms(csv: str | None) -> list[int]:
    if not csv:
        return []
    try:
        return [int(x) for x in csv.split(",") if x.strip()]
    except ValueError:
        print(f"ERROR: bad farm list {csv!r}; expected comma-separated ints", file=sys.stderr)
        raise SystemExit(1)


def resolve_plan(args: argparse.Namespace) -> dict:
    """Everything the run will do, computed without Spark — the dry-run
    contract, and the single source of dates/farms for the real run."""
    from inspig_etl_spark.catalog import DEFAULT_SF_DIR
    from inspig_etl_spark.pipelines.on_demand import last_week_period

    if args.base_date:
        base = _ymd("--base-date", args.base_date)
    else:
        base = datetime.now()

    if args.date_from and args.date_to:
        start, end = _ymd("--date-from", args.date_from), _ymd("--date-to", args.date_to)
        if start > end:
            print("ERROR: --date-from is after --date-to", file=sys.stderr)
            raise SystemExit(1)
        dates = []
        cur = start
        while cur <= end:
            dates.append(cur.strftime("%Y%m%d"))
            cur += timedelta(days=7)
    else:
        dates = [base.strftime("%Y%m%d")]

    include = _parse_farms(args.farm_list) if args.test else []
    exclude = _parse_farms(args.exclude)
    backfill = _backfill_window(args, base)
    return {
        "backfill_dates": backfill,
        "command": args.command,
        "day_gb": args.day_gb,
        "dates": dates,
        "periods": [last_week_period(d) for d in dates],
        "include_farms": include,
        "exclude_farms": exclude,
        "test_mode": args.test,
        "sf_dir": args.sf_dir or DEFAULT_SF_DIR,
        "output": args.output,
    }


def _backfill_window(args: argparse.Namespace, base: datetime) -> list[str]:
    """Resolve the ASOS backfill date window (YYYYMMDD strings, ascending).

    Mirrors the reference CLI (``weather_etl.py:70-88``): an explicit
    ``--backfill-start/--backfill-end`` range wins; otherwise
    ``--backfill-days N`` means the N days ENDING at the base date
    (observed data exists for completed days, so the window trails).
    """
    if args.backfill_start or args.backfill_end:
        if not (args.backfill_start and args.backfill_end):
            print("ERROR: --backfill-start and --backfill-end must be given together",
                  file=sys.stderr)
            raise SystemExit(1)
        try:
            start = datetime.strptime(args.backfill_start, "%Y%m%d")
            end = datetime.strptime(args.backfill_end, "%Y%m%d")
        except ValueError:
            print("ERROR: backfill dates must be YYYYMMDD", file=sys.stderr)
            raise SystemExit(1)
        if start > end:
            print("ERROR: --backfill-start is after --backfill-end", file=sys.stderr)
            raise SystemExit(1)
        days = (end - start).days + 1
        if days > 370:
            print(f"ERROR: backfill range of {days} days is over the 370-day cap",
                  file=sys.stderr)
            raise SystemExit(1)
        return [(start + timedelta(days=i)).strftime("%Y%m%d") for i in range(days)]
    if args.backfill_days is not None:
        if args.backfill_days < 1:
            print("ERROR: --backfill-days must be >= 1", file=sys.stderr)
            raise SystemExit(1)
        return [
            (base - timedelta(days=i)).strftime("%Y%m%d")
            for i in range(args.backfill_days - 1, -1, -1)
        ]
    return []


def _scope_farms(df, include: list[int], exclude: list[int]):
    from pyspark.sql import functions as F

    if include:
        df = df.filter(F.col("farm_no").isin(include))
    if exclude:
        df = df.filter(~F.col("farm_no").isin(exclude))
    return df


def run_weekly_batch(spark, plan: dict, init_all: bool, init_week: bool) -> list[dict]:
    """The weekly command: one report build per resolved date, landed with
    the reference's delete policy and a manifest per run."""
    import os

    from pyspark.sql import functions as F

    from inspig_etl_spark.pipelines.on_demand import (
        SUMMARY_KEYS,
        SUMMARY_TABLE,
        WIDE_KEYS,
        WIDE_TABLE,
        dashed,
        stamp_summary,
    )
    from inspig_etl_spark.pipelines.weekly import build_weekly_report
    from inspig_etl_spark.sources.sinks import land_slice
    from inspig_etl_spark.streaming.incremental import RunManifest

    out = plan["output"]
    wide_path = os.path.join(out, WIDE_TABLE)
    sum_path = os.path.join(out, SUMMARY_TABLE)
    results = []
    for i, period in enumerate(plan["periods"]):
        seq = period["master_seq"]
        run_id = f"{period['ins_date']}-{seq}"
        manifest = RunManifest(run_id=run_id, path=os.path.join(out, f"manifest_{run_id}.json"))
        t0 = time.time()
        try:
            wide, summary = build_weekly_report(
                spark,
                plan["sf_dir"],
                master_seq=seq,
                dt_from=dashed(period["dt_from"]),
                dt_to=dashed(period["dt_to"]),
            )
            wide = _scope_farms(wide, plan["include_farms"], plan["exclude_farms"])
            summary = stamp_summary(
                _scope_farms(summary, plan["include_farms"], plan["exclude_farms"]), period
            )

            # Delete policy (run_etl.py epilog): production never deletes;
            # --test --init-all starts empty (first date of a batch range);
            # --test --init-week drops this week's slice; otherwise the S12
            # semantics replace only the (master, farm, section) slices
            # being re-produced and keep everything else.
            keep = None
            if plan["test_mode"] and init_all and i == 0:
                keep = F.lit(False)
            elif plan["test_mode"] and (init_week or init_all):
                keep = F.col("master_seq") != seq

            land_slice(spark, wide_path, wide, WIDE_KEYS, keep)
            n_wide = spark.read.parquet(wide_path).filter(F.col("master_seq") == seq).count()
            manifest.record_step("weekly_wide", "COMPLETE", n_wide, int((time.time() - t0) * 1000))
            t1 = time.time()
            land_slice(spark, sum_path, summary, SUMMARY_KEYS, keep)
            n_sum = spark.read.parquet(sum_path).filter(F.col("master_seq") == seq).count()
            manifest.record_step("weekly_summary", "COMPLETE", n_sum, int((time.time() - t1) * 1000))
            manifest.finish("COMPLETE")
            results.append(
                {"status": "success", "date": period["ins_date"], "week_no": period["week_no"],
                 "year": period["year"], "master_seq": seq, "wide_rows": n_wide, "summary_rows": n_sum}
            )
        except Exception as exc:  # noqa: BLE001 — reference reports, not raises
            manifest.record_step("weekly", "ERROR", 0, int((time.time() - t0) * 1000))
            manifest.finish("ERROR")
            results.append({"status": "error", "date": period["ins_date"], "error": str(exc)})
    return results


def run_collector(spark, plan: dict) -> dict:
    """The weather / productivity commands: land the existing pipeline
    query's output as its own table."""
    import os

    from inspig_etl_spark.sources.sinks import staged_overwrite

    name = plan["command"]
    if name == "weather":
        from inspig_etl_spark.queries.weather_pipeline import weather_pipeline_day as q

        dest = os.path.join(plan["output"], "tm_weather")
    else:
        from inspig_etl_spark.queries.productivity import productivity_pivot_save as q

        dest = os.path.join(plan["output"], "ts_productivity")
    t0 = time.time()
    df = q(spark, plan["sf_dir"])
    staged_overwrite(spark, df, dest)
    backfilled = 0
    if name == "weather" and plan["backfill_dates"]:
        # ST2 lookback MERGE (ref weather_etl.py --asos backfill): observed
        # daily rows for the window overwrite their (cell, day) keys in the
        # landed sink — measured wins over forecast (S8 precedence) — and
        # every key outside the window passes through the full-outer join
        # bit-identical. Re-running the same backfill is idempotent.
        from inspig_etl_spark.queries.weather_pipeline import observed_daily
        from inspig_etl_spark.sources.sinks import merge_upsert

        obs = observed_daily(spark, plan["sf_dir"], plan["backfill_dates"])
        state = spark.read.parquet(dest)
        merged = merge_upsert(state, obs, keys=["nx", "ny", "wk_date"])
        staged_overwrite(spark, merged, dest)
        backfilled = len(plan["backfill_dates"])
    n = spark.read.parquet(dest).count()
    out = {"status": "success", "command": name, "rows": n,
           "elapsed_ms": int((time.time() - t0) * 1000), "path": dest}
    if backfilled:
        out["backfill_days"] = backfilled
        out["backfill_range"] = (
            f"{plan['backfill_dates'][0]}..{plan['backfill_dates'][-1]}"
        )
    return out


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    plan = resolve_plan(args)

    if args.day_gb != "WEEK" or args.command in ("monthly", "quarterly"):
        print(f"ERROR: {args.day_gb if args.day_gb != 'WEEK' else args.command} "
              "reports are not implemented; only WEEK is supported", file=sys.stderr)
        return 1
    if args.manual and args.farm_no is None:  # farm 0 is a valid farm
        print("ERROR: --manual requires --farm-no", file=sys.stderr)
        return 1
    if plan["backfill_dates"] and args.command != "weather":
        print("ERROR: --backfill-* flags only apply to the weather command",
              file=sys.stderr)
        return 1

    if args.dry_run:
        print("DRY-RUN: resolved plan")
        for k in ("command", "day_gb", "dates", "include_farms", "exclude_farms",
                  "test_mode", "sf_dir", "output", "backfill_dates"):
            print(f"  {k}: {plan[k]}")
        for period in plan["periods"]:
            print(f"  period {period['ins_date']}: {period['dt_from']}..{period['dt_to']} "
                  f"(year {period['year']} week {period['week_no']}, "
                  f"master_seq {period['master_seq']})")
        return 0

    from inspig_etl_spark.session import get_spark

    spark = get_spark("inspig-etl-runner")
    try:
        if args.manual:
            from inspig_etl_spark.pipelines.on_demand import run_and_land_farm

            result = run_and_land_farm(
                spark, plan["sf_dir"], plan["output"], args.farm_no,
                plan["dates"][0], args.day_gb,
            )
            if result["status"] != "success":
                print(f"ERROR: {result['error']}", file=sys.stderr)
                return 1
            print(result)
            return 0

        if plan["command"] in ("weather", "productivity"):
            print(run_collector(spark, plan))
            return 0

        results = run_weekly_batch(spark, plan, args.init_all, args.init_week)
        ok = sum(1 for r in results if r["status"] == "success")
        for r in results:
            print(r)
        print(f"done: {ok}/{len(results)} succeeded")
        return 0 if ok == len(results) else 1
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
