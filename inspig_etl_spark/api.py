"""On-demand HTTP endpoint (SURVEY.md §3.3 — the reference's FastAPI server,
``/root/reference/src/api/server.py:57-282``), as a dependency-free stdlib
HTTP shell over the engine calls in :mod:`pipelines.on_demand`.

Route-for-route with the reference:

- ``GET /health`` → status/timestamp/version;
- ``POST /api/etl/run-farm`` with ``{"farmNo": N, "dayGb": "WEEK",
  "insDate": "YYYYMMDD"}`` → runs the single-farm weekly report, lands it
  into the report tables the weekly batch and ``runner --manual`` also
  write (:func:`pipelines.on_demand.run_and_land_farm`), and answers the
  camelCase ``RunFarmResponse`` contract (``server.py:91-106``):
  status/farmNo/dayGb/masterSeq/shareToken/year/weekNo/insDate/dtFrom/dtTo,
  with validation errors as HTTP 400 (farmNo ≥ 1, insDate 8 digits, dayGb
  enum) and engine errors (unknown farm, MONTH/QUARTER unimplemented) as
  status='error' bodies like the reference;
- ``GET /api/etl/status/{farm_no}?day_gb=WEEK`` → latest COMPLETE report
  row for the farm from the landed summary table (the reference's
  TS_INS_WEEK ⋈ TS_INS_MASTER lookup, ``server.py:238-268``), answering
  exists/shareToken/year/weekNo/dtFrom/dtTo/statusCd, whichever of the
  three writers landed the week. An engine error on either route is
  HTTP 500 ``{"error": ...}``.

The web framework (FastAPI/pydantic/uvicorn) is deliberately NOT a
dependency — the engine owns the compute and the storage contract; any
ASGI shell can wrap :func:`handle_run_farm` / :func:`handle_status`
unchanged. ``ThreadingHTTPServer`` keeps slow Spark work from blocking
``/health``, while ``_STATE_LOCK`` serializes every run-farm/status access
to the landed file tables — their read-modify-write land sequence is not
concurrency-safe by itself (see the lock's comment).
"""

from __future__ import annotations

import json
import re
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

VERSION = "1.0"


# Serializes every access to the landed ts_ins_week(_sub) tables: run-farm
# is a read-modify-write (sinks.land_slice: read → replace → staged swap), so
# two concurrent requests would each merge against the same prior state and
# the last swap would silently drop the other's rows; the status read also
# must not race the swap's brief rename window. One process-wide lock is
# the right tool for this single-writer file-table shell — on a real
# multi-writer deployment the sink is Delta/Iceberg MERGE with optimistic
# concurrency instead.
_STATE_LOCK = threading.Lock()


def handle_run_farm(spark: SparkSession, sf_dir: str, output: str, body: dict) -> tuple[int, dict]:
    """POST /api/etl/run-farm — validate, run, land, answer.

    Returns (http_status, response_body)."""
    from inspig_etl_spark.pipelines.on_demand import run_and_land_farm

    farm_no = body.get("farmNo")
    day_gb = body.get("dayGb", "WEEK")
    ins_date = body.get("insDate")
    if not isinstance(farm_no, int) or isinstance(farm_no, bool) or farm_no < 1:
        return 400, {"error": "farmNo must be an integer >= 1"}
    if day_gb not in ("WEEK", "MONTH", "QUARTER"):
        return 400, {"error": f"invalid dayGb: {day_gb}"}
    if ins_date is not None:
        if not re.fullmatch(r"\d{8}", str(ins_date)):
            return 400, {"error": "insDate must be YYYYMMDD"}
        try:
            datetime.strptime(str(ins_date), "%Y%m%d")
        except ValueError:
            return 400, {"error": f"insDate is not a real date: {ins_date}"}
    if ins_date is None:
        ins_date = datetime.now().strftime("%Y%m%d")

    with _STATE_LOCK:
        result = run_and_land_farm(spark, sf_dir, output, farm_no, ins_date, day_gb)
    if result["status"] != "success":
        return 200, {
            "status": "error",
            "farmNo": farm_no,
            "dayGb": day_gb,
            "error": result.get("error"),
            "message": result.get("message"),
        }

    return 200, {
        "status": "success",
        "farmNo": farm_no,
        "dayGb": day_gb,
        "masterSeq": result["master_seq"],
        "shareToken": result["share_token"],
        "year": result["year"],
        "weekNo": result["week_no"],
        "insDate": result["ins_date"],
        "dtFrom": result["dt_from"],
        "dtTo": result["dt_to"],
    }


def handle_status(spark: SparkSession, output: str, farm_no: int, day_gb: str) -> tuple[int, dict]:
    """GET /api/etl/status/{farm_no} — latest COMPLETE report for the farm
    from the landed summary table (reference's TS_INS_WEEK lookup)."""
    import os

    from inspig_etl_spark.pipelines.on_demand import SUMMARY_TABLE

    if day_gb not in ("WEEK", "MONTH", "QUARTER"):
        return 400, {"error": f"invalid day_gb: {day_gb}"}
    if day_gb != "WEEK":
        return 200, {
            "exists": False,
            "farmNo": farm_no,
            "dayGb": day_gb,
            "message": f"no {day_gb} reports (only WEEK is implemented)",
        }
    sum_path = os.path.join(output, SUMMARY_TABLE)
    with _STATE_LOCK:  # never read through the staged swap's rename window
        if not os.path.exists(sum_path):
            return 200, {"exists": False, "farmNo": farm_no, "dayGb": day_gb,
                         "message": "no reports yet"}
        latest = (
            spark.read.parquet(sum_path)
            .filter((F.col("farm_no") == farm_no) & (F.col("status_cd") == "COMPLETE"))
            .orderBy(F.col("report_year").desc(), F.col("week_no").desc())
            .limit(1)
            .collect()
        )
    if not latest:
        return 200, {"exists": False, "farmNo": farm_no, "dayGb": day_gb,
                     "message": "no reports for this farm"}
    row = latest[0]
    return 200, {
        "exists": True,
        "farmNo": farm_no,
        "dayGb": day_gb,
        "shareToken": row.share_token,
        "year": row.report_year,
        "weekNo": row.week_no,
        "dtFrom": row.dt_from,
        "dtTo": row.dt_to,
        "statusCd": row.status_cd,
    }


def make_server(
    spark: SparkSession, sf_dir: str, output: str, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; ``server.server_address[1]`` holds
    the bound port (pass port=0 for an ephemeral one in tests)."""

    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, body: dict) -> None:
            data = json.dumps(body).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args) -> None:  # quiet test output
            pass

        def do_GET(self) -> None:
            if self.path == "/health":
                self._send(200, {
                    "status": "ok",
                    "timestamp": datetime.now(timezone.utc).isoformat(),
                    "version": VERSION,
                })
                return
            m = re.fullmatch(r"/api/etl/status/(\d+)(?:\?day_gb=(\w+))?", self.path)
            if m:
                day_gb = (m.group(2) or "WEEK").upper()
                try:
                    code, body = handle_status(spark, output, int(m.group(1)), day_gb)
                except Exception as exc:  # noqa: BLE001 — same 500 contract as do_POST
                    self._send(500, {"error": str(exc)})
                    return
                self._send(code, body)
                return
            self._send(404, {"error": f"unknown path {self.path}"})

        def do_POST(self) -> None:
            if self.path != "/api/etl/run-farm":
                self._send(404, {"error": f"unknown path {self.path}"})
                return
            try:
                n = int(self.headers.get("Content-Length", 0))
                body = json.loads(self.rfile.read(n) or b"{}")
            except (ValueError, json.JSONDecodeError):
                self._send(400, {"error": "invalid JSON body"})
                return
            try:
                code, resp = handle_run_farm(spark, sf_dir, output, body)
            except Exception as exc:  # noqa: BLE001 — reference 500s, server stays up
                self._send(500, {"error": str(exc)})
                return
            self._send(code, resp)

    return ThreadingHTTPServer((host, port), Handler)


def serve_forever_in_thread(server: ThreadingHTTPServer) -> threading.Thread:
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
