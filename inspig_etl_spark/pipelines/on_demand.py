"""On-demand single-farm report runner (SURVEY.md §3.3 — the reference's
FastAPI run-farm endpoint, ``/root/reference/src/api/server.py:140-206``,
delegating to ``orchestrator.run_single_farm``,
``src/weekly/orchestrator.py:1244-1420``).

The web shell (FastAPI routing, auth, JSON models) is deliberately NOT part
of the engine; what the engine owns — and what this module provides — is
everything the endpoint computes:

- the period contract: ins_date → last week's Monday..Sunday and the ISO
  year/week of that Sunday (``orchestrator.py:1276-1289``);
- the farm-scoped report build: the all-farms weekly plan filtered to one
  ``farm_no`` — Catalyst pushes the literal predicate into every scan, so
  the on-demand path reads one farm's slice, not the fleet (the batch path
  keeps the groupBy-all-farms plan);
- the share token (deterministic SHA-256 core, ``farm_processor.py:204-227``
  convention shared with the ``sha2_share_token`` query);
- the result contract: status / period / token dict mirroring
  ``RunFarmResponse``, with an error status for an unknown farm and for
  the not-yet-implemented MONTH/QUARTER report kinds
  (``server.py:163-171``);
- the report's storage contract, which the weekly batch, the run-farm
  endpoint and ``runner --manual`` all land through.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inspig_etl_spark.pipelines.weekly import build_weekly_report
from inspig_etl_spark.sources.sinks import land_slice

SUPPORTED_DAY_GB = ("WEEK",)

# The landed report tables (TS_INS_WEEK_SUB wide rows, TS_INS_WEEK summary)
# and the slice a land replaces in each.
WIDE_TABLE, WIDE_KEYS = "ts_ins_week_sub", ["master_seq", "farm_no", "gubun"]
SUMMARY_TABLE, SUMMARY_KEYS = "ts_ins_week", ["master_seq", "farm_no"]


def last_week_period(ins_date: str) -> dict:
    """Last week's Mon..Sun relative to ``ins_date`` (YYYYMMDD), plus the
    ISO year/week of that Sunday (``orchestrator.py:1276-1289``) and its
    ``master_seq``, ``year*100 + week_no``, which both report tables key on.

    A Sunday base date reports the PREVIOUS full week (7 days back), never
    the week ending today — the ``or 7`` in the reference.
    """
    base = datetime.strptime(ins_date, "%Y%m%d")
    days_to_last_sunday = (base.weekday() + 1) % 7 or 7
    last_sunday = base - timedelta(days=days_to_last_sunday)
    last_monday = last_sunday - timedelta(days=6)
    iso = last_sunday.isocalendar()
    return {
        "ins_date": ins_date,
        "dt_from": last_monday.strftime("%Y%m%d"),
        "dt_to": last_sunday.strftime("%Y%m%d"),
        "year": iso.year,
        "week_no": iso.week,
        "master_seq": iso.year * 100 + iso.week,
    }


def share_token(farm_no: int, year: int, week_no: int, dt_to: str) -> str:
    """Deterministic SHA-256 share-token core (the reference appends a
    random hex salt driver-side — randomness is not an engine concern)."""
    return hashlib.sha256(f"{farm_no}-{year}-{week_no}-{dt_to}".encode()).hexdigest()


def dashed(yyyymmdd: str) -> str:
    """20240115 -> 2024-01-15 (the pipeline takes ISO dates)."""
    return f"{yyyymmdd[:4]}-{yyyymmdd[4:6]}-{yyyymmdd[6:]}"


def stamp_summary(summary: DataFrame, period: dict) -> DataFrame:
    """Add the columns every landed summary row carries: the period,
    ``status_cd='COMPLETE'`` and the farm's :func:`share_token`, computed
    as a column so a fleet-wide batch stamps every farm in one plan."""
    return summary.select(
        "*",
        F.lit(period["master_seq"]).cast("bigint").alias("master_seq"),
        F.lit(period["year"]).cast("int").alias("report_year"),
        F.lit(period["week_no"]).cast("int").alias("week_no"),
        F.lit(period["dt_from"]).alias("dt_from"),
        F.lit(period["dt_to"]).alias("dt_to"),
        F.lit("COMPLETE").alias("status_cd"),
        F.sha2(
            F.concat_ws(
                "-",
                F.col("farm_no").cast("string"),
                *(F.lit(str(period[k])) for k in ("year", "week_no", "dt_to")),
            ),
            256,
        ).alias("share_token"),
    )


def run_single_farm(
    spark: SparkSession,
    sf_dir: str,
    farm_no: int,
    ins_date: str,
    day_gb: str = "WEEK",
    cache_results: bool = True,
) -> dict:
    """The run-farm endpoint's engine half: build last week's report for ONE
    farm and return the response contract.

    Returns a dict with ``status`` ('success'/'error'), the period fields,
    ``share_token``, and the two farm-scoped DataFrames (``wide_rows``, and
    ``summary`` already stamped by :func:`stamp_summary`) for the caller to
    collect or land — both are the PERSISTED handles, so ``.unpersist()``
    on them actually frees the cache. Like the reference, an unsupported
    ``day_gb`` and an unknown farm are ERROR results, not exceptions.
    """
    if day_gb not in SUPPORTED_DAY_GB:
        return {
            "status": "error",
            "farm_no": farm_no,
            "day_gb": day_gb,
            "error": f"{day_gb} report kind not implemented",
            "message": "only WEEK is supported",
        }
    period = last_week_period(ins_date)
    token = share_token(farm_no, period["year"], period["week_no"], period["dt_to"])

    wide, summary = build_weekly_report(
        spark,
        sf_dir,
        master_seq=period["master_seq"],
        dt_from=dashed(period["dt_from"]),
        dt_to=dashed(period["dt_to"]),
    )
    # persist(): the existence probe below and the caller's collect/land of
    # wide_rows + summary would otherwise each re-execute the farm-scoped
    # report plan (2-3 full runs per on-demand request — ADVICE r5). Both
    # frames are one farm's slice, so the cache is bounded; callers that
    # keep the session hot can `.unpersist()` them after landing. The
    # summary is stamped BEFORE the persist so the returned ``summary`` is
    # the cached frame itself, not a derived child whose unpersist would be
    # a no-op. ``cache_results=False`` skips the persist entirely for
    # one-shot callers that execute the result exactly once (the oracle
    # query, scale probes) — otherwise every invocation in a long-lived
    # session accumulates two cached farm slices (ADVICE r9).
    wide_farm = wide.filter(F.col("farm_no") == farm_no)
    summary_farm = stamp_summary(summary.filter(F.col("farm_no") == farm_no), period)
    if cache_results:
        wide_farm = wide_farm.persist()
        summary_farm = summary_farm.persist()

    # Existence gate (the reference 404s an unknown farm): a limit-1 probe
    # on the pushed-down farm predicate, not a full count.
    if not summary_farm.limit(1).count():
        if cache_results:
            wide_farm.unpersist()
            summary_farm.unpersist()
        return {
            "status": "error",
            "farm_no": farm_no,
            "day_gb": day_gb,
            "error": f"farm {farm_no} not found",
            **period,
        }

    return {
        "status": "success",
        "farm_no": farm_no,
        "day_gb": day_gb,
        "share_token": token,
        **period,
        "wide_rows": wide_farm,
        "summary": summary_farm,
    }


def run_and_land_farm(
    spark: SparkSession,
    sf_dir: str,
    output: str,
    farm_no: int,
    ins_date: str,
    day_gb: str = "WEEK",
) -> dict:
    """:func:`run_single_farm`, then land its (week, farm) slice into the
    report tables under ``output``. Returns the result without the
    DataFrames. Callers serialize lands into one ``output``."""
    result = run_single_farm(spark, sf_dir, farm_no=farm_no, ins_date=ins_date, day_gb=day_gb)
    if result["status"] != "success":
        return result
    wide, summary = result.pop("wide_rows"), result.pop("summary")
    try:
        land_slice(spark, os.path.join(output, WIDE_TABLE), wide, WIDE_KEYS)
        land_slice(spark, os.path.join(output, SUMMARY_TABLE), summary, SUMMARY_KEYS)
    finally:
        wide.unpersist()
        summary.unpersist()
    return result
