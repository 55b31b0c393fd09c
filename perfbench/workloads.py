"""The four workloads. Each has an untimed ``prepare``, an ``op`` that the
runner repeats for the run's duration (at least once), and an untimed
``check``. An ``op`` times itself and returns an :class:`OpResult`; for
``on_demand_api`` the latency is the HTTP client's.

A run is one fresh process, as the program's own callers are (``runner.main``
runs one command per process; the API server starts once and then serves),
so the measured operations start right after set-up, with no untimed
warm-up operations.
"""

from __future__ import annotations

import http.client
import json
import os
import time
from dataclasses import dataclass, field
from datetime import date, timedelta

from perfbench import checks
from perfbench.measure import percentile

N_FARMS = 10  # the program maps users to farms as user_id % 10


@dataclass
class OpResult:
    latency_s: float  # the user-visible time of this operation
    attempted: int = 1  # sub-operations (a POST and its status polls)
    units: float = 0.0  # work units for the workload's rate metric
    errors: list = field(default_factory=list)  # one entry per failed or wrong sub-operation
    cpu_s: float = 0.0  # CPU time of the driver and its JVM during the operation


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    work: str
    seed: int
    con: object  # DuckDB connection over the inputs


class Workload:
    """Defaults for the hooks a workload may leave out."""

    tracer = None  # set by the runner for a traced run

    def useful_rows(self, ctx: Ctx) -> int:
        """Rows the last operation produced for its own period (0: no sink)."""
        return 0

    def check(self, ctx: Ctx) -> list[str]:
        return []

    def close(self) -> None:
        pass


def _dash(yyyymmdd: str) -> str:
    return f"{yyyymmdd[:4]}-{yyyymmdd[4:6]}-{yyyymmdd[6:]}"


def _seq(period: dict) -> int:
    return period["year"] * 100 + period["week_no"]


def _oracle_wide(con, period: dict) -> tuple[list[str], list[tuple]]:
    """The registry oracle's TS_INS_WEEK_SUB rows for one report week."""
    from inspig_etl_spark.queries.weekly_report import sections_oracle_sql

    return checks.query(con, sections_oracle_sql(_dash(period["dt_from"]), _dash(period["dt_to"])))


def _landed_wide(con, path: str, cols: list[str], seq: int, farm: int | None = None):
    where = f"master_seq = {seq}" + (f" AND farm_no = {farm}" if farm is not None else "")
    return checks.read_table(con, path, cols, where)


class WeeklyBatch(Workload):
    """``runner.run_weekly_batch`` as the runner's weekly command runs it
    (``weekly --base-date``: last week's report, all farms, production
    delete policy), into an output that already holds several weeks of
    landed history."""

    name = "weekly_batch"
    tables = ("events",)
    BASE_DATE = "2024-01-29"  # report week 2024-01-22..28

    def prepare(self, ctx: Ctx) -> None:
        from inspig_etl_spark import runner
        from inspig_etl_spark.pipelines.on_demand import last_week_period
        from inspig_etl_spark.queries.weekly_report import sections_oracle_sql

        self.out = os.path.join(ctx.work, "weekly_out")
        self.plan = runner.resolve_plan(runner.parse_args([
            "weekly", "--base-date", self.BASE_DATE, "--sf-dir", ctx.sf_dir, "--output", self.out,
        ]))
        self.seqs = [_seq(p) for p in self.plan["periods"]]
        # Landed history: 6..10 earlier weeks (by seed) of the oracle's wide
        # rows and one summary row per farm and week, written by DuckDB with
        # the program's column types. Columns the history does not carry
        # read back as NULL under the program's own schema.
        depth = 6 + ctx.seed % 5
        first = date.fromisoformat(self.BASE_DATE)
        wide, summary = [], []
        for k in range(1, depth + 1):
            p = last_week_period((first - timedelta(days=7 * k)).strftime("%Y%m%d"))
            sql = sections_oracle_sql(_dash(p["dt_from"]), _dash(p["dt_to"]))
            wide.append(f"SELECT *, CAST({_seq(p)} AS BIGINT) AS master_seq FROM ({sql})")
            summary.append(f"SELECT CAST(range AS BIGINT) AS farm_no, "
                           f"CAST({_seq(p)} AS INTEGER) AS master_seq FROM range({N_FARMS})")
        for name, parts in (("ts_ins_week_sub", wide), ("ts_ins_week", summary)):
            os.makedirs(os.path.join(self.out, name))
            part = os.path.join(self.out, name, "part-0.parquet")
            ctx.con.execute(f"COPY ({' UNION ALL '.join(parts)}) TO '{part}' (FORMAT PARQUET)")
        self.history_rows = ctx.con.execute(
            f"SELECT count(*) FROM read_parquet('{self.out}/ts_ins_week_sub/*.parquet')"
        ).fetchone()[0]

    def op(self, ctx: Ctx) -> OpResult:
        from inspig_etl_spark import runner

        t0 = time.perf_counter()
        results = runner.run_weekly_batch(ctx.spark, self.plan, init_all=False, init_week=False)
        dt = time.perf_counter() - t0
        errors = [f"week {r['date']}: {r.get('error')}" for r in results if r["status"] != "success"]
        return OpResult(dt, units=len(results) * N_FARMS, errors=errors)

    def useful_rows(self, ctx: Ctx) -> int:
        seqs = ",".join(map(str, self.seqs))
        n = 0
        for name in ("ts_ins_week_sub", "ts_ins_week"):
            path = os.path.join(self.out, name)
            n += ctx.con.execute(
                f"SELECT count(*) FROM read_parquet('{path}/*.parquet') WHERE master_seq IN ({seqs})"
            ).fetchone()[0]
        return n

    def check(self, ctx: Ctx) -> list[str]:
        errors = []
        wide_path = os.path.join(self.out, "ts_ins_week_sub")
        for period, seq in zip(self.plan["periods"], self.seqs):
            oracle = _oracle_wide(ctx.con, period)
            d = checks.diff(_landed_wide(ctx.con, wide_path, oracle[0], seq), oracle)
            if d:
                errors.append(f"weekly slice {seq} vs oracle: {d}")
        kept = ctx.con.execute(
            f"SELECT count(*) FROM read_parquet('{wide_path}/*.parquet') "
            f"WHERE master_seq NOT IN ({','.join(map(str, self.seqs))})"
        ).fetchone()[0]
        if kept != self.history_rows:
            errors.append(f"landed history changed: {kept} rows, expected {self.history_rows}")
        sum_path = os.path.join(self.out, "ts_ins_week")
        for seq in self.seqs:
            n, farms = ctx.con.execute(
                f"SELECT count(*), count(DISTINCT farm_no) FROM read_parquet('{sum_path}/*.parquet') "
                f"WHERE master_seq = {seq}"
            ).fetchone()
            if n != farms or n == 0:
                errors.append(f"summary week {seq}: {n} rows for {farms} farms")
        return errors

    def details(self, samples: list[OpResult]) -> dict:
        wall = sum(s.latency_s for s in samples)
        return {
            "weekly_week_p50_s": percentile([s.latency_s for s in samples], 50),
            "weekly_farm_weeks_per_s": sum(s.units for s in samples) / wall,
            "history_rows": self.history_rows,
        }


class OnDemandApi(Workload):
    """One closed-loop HTTP client on one connection object against
    ``api.make_server`` in this process: POST run-farm for one seeded farm
    and last week's report, each followed by status polls."""

    name = "on_demand_api"
    tables = ("events",)
    INS_DATE = "20240131"  # report week 2024-01-22..28
    POLLS = 3

    def prepare(self, ctx: Ctx) -> None:
        from inspig_etl_spark import api

        self.out = os.path.join(ctx.work, "api_out")
        self.server = api.make_server(ctx.spark, ctx.sf_dir, self.out)
        self.thread = api.serve_forever_in_thread(self.server)
        self.client = http.client.HTTPConnection("127.0.0.1", self.server.server_address[1], timeout=170)
        self.farm = 1 + ctx.seed % (N_FARMS - 1)
        self.landed = None  # (year, week_no, dt_to) once a request succeeded
        self.status_ms: list[float] = []

    def _call(self, method: str, path: str, body: dict | None = None) -> tuple[int, dict, float]:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if data else {}
        token = self.tracer.begin(f"http.{method.lower()}") if self.tracer else None
        t0 = time.perf_counter()
        self.client.request(method, path, body=data, headers=headers)
        resp = self.client.getresponse()
        payload = resp.read()
        dt = time.perf_counter() - t0
        if token:
            self.tracer.end(token)
        return resp.status, json.loads(payload), dt

    def op(self, ctx: Ctx) -> OpResult:
        from inspig_etl_spark.pipelines.on_demand import last_week_period, share_token

        farm, ins = self.farm, self.INS_DATE
        code, body, latency = self._call("POST", "/api/etl/run-farm",
                                         {"farmNo": farm, "dayGb": "WEEK", "insDate": ins})
        errors = []
        if code != 200 or body.get("status") != "success":
            errors.append(f"run-farm {farm}/{ins}: HTTP {code} {body}")
        else:
            p = last_week_period(ins)
            self.landed = (p["year"], p["week_no"], p["dt_to"])
        for _ in range(self.POLLS):
            code, st, dt = self._call("GET", f"/api/etl/status/{farm}?day_gb=WEEK")
            self.status_ms.append(dt * 1000)
            want = share_token(farm, *self.landed) if self.landed else None
            if not (code == 200 and st.get("exists") is bool(self.landed)
                    and st.get("shareToken") == want):
                errors.append(f"status {farm}: HTTP {code} {st}, expected token {want}")
        return OpResult(latency, attempted=1 + self.POLLS, units=1, errors=errors)

    def useful_rows(self, ctx: Ctx) -> int:
        from inspig_etl_spark.pipelines.on_demand import last_week_period

        seq = _seq(last_week_period(self.INS_DATE))
        path = os.path.join(self.out, "ts_ins_week_sub")
        n = ctx.con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/*.parquet') "
            f"WHERE master_seq = {seq} AND farm_no = {self.farm}"
        ).fetchone()[0]
        return n + 1  # plus the farm's summary row

    def check(self, ctx: Ctx) -> list[str]:
        from inspig_etl_spark.pipelines.on_demand import last_week_period

        p = last_week_period(self.INS_DATE)
        cols, rows = _oracle_wide(ctx.con, p)
        want = (cols, [r for r in rows if r[cols.index("farm_no")] == self.farm])
        wide_path = os.path.join(self.out, "ts_ins_week_sub")
        d = checks.diff(_landed_wide(ctx.con, wide_path, cols, _seq(p), self.farm), want)
        if d:
            return [f"on-demand slice farm {self.farm} week {_seq(p)} vs batch oracle: {d}"]
        return []

    def details(self, samples: list[OpResult]) -> dict:
        return {
            "run_farm_p50_s": percentile([s.latency_s for s in samples], 50),
            "status_p50_ms": percentile(self.status_ms, 50),
            "status_p90_ms": percentile(self.status_ms, 90),
            "requests": len(samples),
            "status_polls": len(self.status_ms),
        }

    def close(self) -> None:
        self.client.close()
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)


class WeatherMerge(Workload):
    """Successive ``runner.run_collector`` weather cycles, each with a
    seven-day ``--backfill-days`` window sliding one day per cycle, so the
    MERGE keys of consecutive cycles overlap. The hourly collector runs one
    cycle per process; a short run measures that first cycle, and the check
    repeats it."""

    name = "weather_merge"
    tables = ("customer",)
    DAYS = 7

    def prepare(self, ctx: Ctx) -> None:
        from inspig_etl_spark import queries
        from inspig_etl_spark.queries.weather_pipeline import TODAY

        self.out = os.path.join(ctx.work, "weather_out")
        self.base = date(2024, 1, 8) + timedelta(days=ctx.seed % 7)
        self.cycle = 0
        # The day pipeline's expected rows; one of them per grid cell is TODAY.
        self.day = checks.query(ctx.con, queries.REGISTRY["weather_pipeline_day"].oracle)
        self.cells = sum(r[self.day[0].index("wk_date")] == TODAY for r in self.day[1])

    def op(self, ctx: Ctx) -> OpResult:
        from inspig_etl_spark import runner

        base = self.base + timedelta(days=self.cycle % 21)
        plan = runner.resolve_plan(runner.parse_args([
            "weather", "--base-date", base.isoformat(), "--backfill-days", str(self.DAYS),
            "--sf-dir", ctx.sf_dir, "--output", self.out,
        ]))
        self.last_plan = plan
        self.cycle += 1
        t0 = time.perf_counter()
        res = runner.run_collector(ctx.spark, plan)
        dt = time.perf_counter() - t0
        errors = [] if res["status"] == "success" else [f"weather cycle {base}: {res}"]
        return OpResult(dt, units=res["rows"], errors=errors)

    def useful_rows(self, ctx: Ctx) -> int:
        # The cycle produces the day pipeline's rows plus the window's
        # observed rows; everything else it writes is rewritten state.
        return len(self.day[1]) + self.cells * self.DAYS

    def check(self, ctx: Ctx) -> list[str]:
        from inspig_etl_spark import runner

        errors = []
        dest = os.path.join(self.out, "tm_weather")
        before = checks.read_table(ctx.con, dest)
        runner.run_collector(ctx.spark, self.last_plan)  # repeat the last backfill
        after = checks.read_table(ctx.con, dest)
        d = checks.diff(after, before)
        if d:
            errors.append(f"repeated weather backfill changed the landed table: {d}")
        window = "', '".join(self.last_plan["backfill_dates"])
        cols, rows = self.day
        outside = (cols, [r for r in rows if r[cols.index("wk_date")] not in self.last_plan["backfill_dates"]])
        d = checks.diff(checks.read_table(ctx.con, dest, cols, f"wk_date NOT IN ('{window}')"), outside)
        if d:
            errors.append(f"weather rows outside the window vs oracle: {d}")
        n_obs, n_src = ctx.con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE src = 'observed') "
            f"FROM read_parquet('{dest}/*.parquet') WHERE wk_date IN ('{window}')"
        ).fetchone()
        want = self.cells * self.DAYS
        if not n_obs == n_src == want:
            errors.append(f"backfill window: {n_obs} rows, {n_src} observed, expected {want}")
        return errors

    def details(self, samples: list[OpResult]) -> dict:
        return {
            "weather_cycle_p50_s": percentile([s.latency_s for s in samples], 50),
            "weather_rows_per_s": sum(s.units for s in samples) / sum(s.latency_s for s in samples),
            "cycles": len(samples),
        }


class LlmCuration(Workload):
    """A fixed pass of four curation queries over the generated documents
    and embeddings. Each query's result is collected to the driver (the
    results are small: the funnel's six rows, one row per vector, top-k
    lists) and compared with its registry oracle."""

    name = "llm_curation"
    tables = ("documents", "embeddings")
    QUERIES = (
        "docs_curation_funnel",
        "embeddings_semdedup_prune",
        "embeddings_knn_ivf",
        "docs_hybrid_rrf_search",
    )

    def prepare(self, ctx: Ctx) -> None:
        from inspig_etl_spark import queries

        queries._load()
        self.registry = queries.REGISTRY
        self.oracle = {n: checks.query(ctx.con, self.registry[n].oracle) for n in self.QUERIES}

    def _timed(self, label: str, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span(label):
            return fn()

    def op(self, ctx: Ctx) -> OpResult:
        t0 = time.perf_counter()
        results = {}
        for name in self.QUERIES:
            q = self.registry[name]
            df = self._timed(f"curation.{name}.build", lambda: q.fn(ctx.spark, ctx.sf_dir))
            rows = self._timed(f"curation.{name}.exec", df.collect)
            results[name] = (df.columns, [tuple(r) for r in rows])
        dt = time.perf_counter() - t0
        errors = []
        for name, got in results.items():
            d = checks.diff(got, self.oracle[name])
            if d:
                errors.append(f"{name} vs oracle: {d}")
        # Every pass is checked as it completes; no separate check.
        return OpResult(dt, attempted=len(self.QUERIES), units=1, errors=errors)

    def details(self, samples: list[OpResult]) -> dict:
        return {
            "curation_pass_p50_s": percentile([s.latency_s for s in samples], 50),
            "passes": len(samples),
        }


WORKLOADS = {w.name: w for w in (WeeklyBatch, OnDemandApi, WeatherMerge, LlmCuration)}
