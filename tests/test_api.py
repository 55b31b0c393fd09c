"""HTTP on-demand endpoint tests (SURVEY.md §3.3 — reference server.py)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture
def api(spark, tmp_path):
    from inspig_etl_spark.api import make_server, serve_forever_in_thread

    server = make_server(spark, SF_SMOKE, str(tmp_path / "out"))
    serve_forever_in_thread(server)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base
    server.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(url, body):
    req = urllib.request.Request(
        url, data=json.dumps(body).encode(), headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=300) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health(api):
    code, body = _get(f"{api}/health")
    assert code == 200 and body["status"] == "ok" and body["version"]


def test_run_farm_then_status_roundtrip(api):
    # No reports yet.
    code, st = _get(f"{api}/api/etl/status/3")
    assert code == 200 and st["exists"] is False

    code, body = _post(f"{api}/api/etl/run-farm", {"farmNo": 3, "insDate": "20240125"})
    assert code == 200, body
    assert body["status"] == "success"
    assert body["masterSeq"] == 202403
    assert body["year"] == 2024 and body["weekNo"] == 3
    assert body["dtFrom"] == "20240115" and body["dtTo"] == "20240121"
    assert len(body["shareToken"]) == 64

    code, st = _get(f"{api}/api/etl/status/3")
    assert code == 200 and st["exists"] is True
    assert st["shareToken"] == body["shareToken"]
    assert st["year"] == 2024 and st["weekNo"] == 3 and st["statusCd"] == "COMPLETE"

    # Other farms remain report-less.
    _, st9 = _get(f"{api}/api/etl/status/9")
    assert st9["exists"] is False


def test_validation_and_error_contracts(api):
    code, body = _post(f"{api}/api/etl/run-farm", {"farmNo": 0})
    assert code == 400 and "farmNo" in body["error"]
    code, body = _post(f"{api}/api/etl/run-farm", {"farmNo": 3, "dayGb": "DECADE"})
    assert code == 400
    code, body = _post(f"{api}/api/etl/run-farm", {"farmNo": 3, "insDate": "2024-01-25"})
    assert code == 400 and "insDate" in body["error"]
    # Engine-level errors mirror the reference: HTTP 200 + status='error'.
    code, body = _post(
        f"{api}/api/etl/run-farm", {"farmNo": 3, "dayGb": "MONTH", "insDate": "20240125"}
    )
    assert code == 200 and body["status"] == "error" and "MONTH" in body["error"]
    code, body = _post(
        f"{api}/api/etl/run-farm", {"farmNo": 9999, "insDate": "20240125"}
    )
    assert code == 200 and body["status"] == "error" and "9999" in body["error"]
    # Unknown routes 404.
    code, _ = _get(f"{api}/api/etl/nothing")
    assert code == 404


def test_two_weeks_coexist_in_landed_tables(api, spark, tmp_path):
    """Regression: wide rows must land under the REAL week's master_seq —
    with the old default master_seq=1 both weeks keyed the same slice and
    the second landing deleted the first week's wide rows."""
    _post(f"{api}/api/etl/run-farm", {"farmNo": 3, "insDate": "20240125"})  # week 202403
    _post(f"{api}/api/etl/run-farm", {"farmNo": 3, "insDate": "20240201"})  # week 202404
    out = str(tmp_path / "out")
    wide = spark.read.parquet(f"{out}/ts_ins_week_sub")
    seqs = {r.master_seq for r in wide.select("master_seq").distinct().collect()}
    assert seqs == {202403, 202404}
    summary = spark.read.parquet(f"{out}/ts_ins_week")
    assert {r.master_seq for r in summary.select("master_seq").distinct().collect()} == {
        202403,
        202404,
    }
    # The wide slice and the summary row agree on the sequence per week.
    n3 = wide.filter("master_seq = 202403").count()
    n4 = wide.filter("master_seq = 202404").count()
    assert n3 > 0 and n4 > 0
    # The fixed-spine sections (everything but the data-dependent SCHEDULE
    # task rows and DOPE pages) have identical shape whichever week runs.
    fixed = "gubun NOT IN ('SCHEDULE', 'DOPE')"
    assert (
        wide.filter(f"master_seq = 202403 AND {fixed}").count()
        == wide.filter(f"master_seq = 202404 AND {fixed}").count()
    )


def test_batch_landed_farms_answer_status(api, spark, tmp_path):
    """Regression: the weekly batch and run-farm land one summary contract,
    so a batch-landed farm answers status, and a run-farm land on top of
    the batch keeps every farm only the batch landed."""
    from inspig_etl_spark import runner
    from inspig_etl_spark.pipelines.on_demand import share_token

    out = str(tmp_path / "out")
    plan = runner.resolve_plan(runner.parse_args(
        ["weekly", "--test", "--base-date", "2024-01-25", "--farm-list", "3,4",
         "--sf-dir", SF_SMOKE, "--output", out]
    ))
    results = runner.run_weekly_batch(spark, plan, init_all=False, init_week=False)
    assert [r["status"] for r in results] == ["success"]

    code, st = _get(f"{api}/api/etl/status/4")
    assert code == 200 and st["exists"] is True, st
    assert st["statusCd"] == "COMPLETE"
    assert st["shareToken"] == share_token(4, 2024, 3, "20240121")

    code, body = _post(f"{api}/api/etl/run-farm", {"farmNo": 3, "insDate": "20240125"})
    assert code == 200 and body["status"] == "success", body
    _, st3 = _get(f"{api}/api/etl/status/3")
    assert st3["exists"] is True and st3["shareToken"] == body["shareToken"]
    _, st4 = _get(f"{api}/api/etl/status/4")
    assert st4["exists"] is True and st4["shareToken"] == st["shareToken"]
    for table in ("ts_ins_week_sub", "ts_ins_week"):
        assert dict(spark.read.parquet(f"{out}/{table}").dtypes)["master_seq"] == "bigint"


def test_status_engine_error_is_a_500(api, spark, tmp_path):
    """A summary table without the contract columns (as an older version
    left it) fails the status read; the GET answers 500 with a JSON error
    instead of dropping the connection."""
    spark.createDataFrame([(3, 202403)], "farm_no bigint, master_seq int").write.parquet(
        str(tmp_path / "out" / "ts_ins_week")
    )
    code, body = _get(f"{api}/api/etl/status/3")
    assert code == 500 and "status_cd" in body["error"]


def test_impossible_date_is_a_400_not_a_500(api):
    code, body = _post(f"{api}/api/etl/run-farm", {"farmNo": 3, "insDate": "20241399"})
    assert code == 400 and "insDate" in body["error"]


def test_bench_host_factor_fold():
    """bench.py's host self-adjudication: the factor is the geometric mean
    of the four control/reference ratios, None when nothing is computable,
    and robust to a missing or zero reference (that control is skipped)."""
    bench = _load_bench()

    host = {"control_q1": [2.0, 1.0], "scan_floor": [0.2, 0.1]}
    hb = {"control_q1": 1.0, "scan_floor": 0.1}
    # ratios 2, 1, 2, 1 -> gm = sqrt(2*1*2*1)^(1/2) = 2^(1/2) = 1.414
    assert bench.host_factor(host, hb) == 1.414
    # a zero/missing reference skips that control, never divides by it
    assert bench.host_factor(host, {"control_q1": 1.0, "scan_floor": 0}) == 1.414
    # only q1 usable: ratios 1.0, 0.5 -> gm = sqrt(0.5) = 0.707
    assert bench.host_factor(host, {"control_q1": 2.0}) == 0.707
    assert bench.host_factor({}, hb) is None
    assert bench.host_factor(host, {}) is None


def _load_bench():
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_bench_compact_stdout_record_bounds_the_line():
    """The driver keeps only the last 2000 chars of bench output and
    JSON-parses the final line — r14's 59-query line overflowed that and
    the official record came back parsed=null. compact_stdout_record must
    (a) keep the contract keys, (b) fit the limit by dropping the FASTEST
    queries first, (c) carry the true count and the omission count, and
    (d) pass everything through untouched when it already fits."""
    import json

    bench = _load_bench()
    full = {
        "metric": "headline_total",
        "value": 123.456,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"query_name_number_{i:04d}": round(0.1 * (i + 1), 3) for i in range(100)},
        "host": {"load": [1.0, 2.0]},
        "host_factor": 1.234,
        "rereads": {"query_name_number_0099": {"first": 9.0, "reread": 1.0}},
    }
    rec = bench.compact_stdout_record(full, limit=1500)
    line = json.dumps(rec, separators=(",", ":"))
    assert len(line) <= 1500
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_total" and parsed["value"] == 123.456
    assert parsed["unit"] == "sec" and parsed["sf"] == 0.1
    assert parsed["n_queries"] == 100
    assert parsed["host_factor"] == 1.234
    assert parsed["rereads"] == 1
    assert parsed["queries_omitted"] == 100 - len(parsed["queries"])
    # the slowest queries survive; the dropped ones are the fastest
    kept = set(parsed["queries"])
    dropped = set(full["queries"]) - kept
    assert kept and dropped
    assert max(full["queries"][n] for n in dropped) <= min(
        full["queries"][n] for n in kept
    )
    # a small record passes through complete, with no omission marker
    small = dict(full, queries={"q1": 1.0, "q2": 2.0}, rereads={})
    rec2 = bench.compact_stdout_record(small, limit=1500)
    assert rec2["queries"] == {"q1": 1.0, "q2": 2.0}
    assert "queries_omitted" not in rec2 and "rereads" not in rec2


def test_bench_reread_outliers_selection():
    """The end-of-suite re-read list: only queries >threshold x their
    committed floor, worst excess first, never queries without a
    baseline or with a degenerate zero floor."""
    bench = _load_bench()
    timings = {"a": 4.51, "b": 1.37, "c": 0.30, "d": 9.99, "e": 0.50}
    base = {"a": 0.362, "b": 0.150, "c": 0.463, "e": 0.0}
    # a: 12.5x, b: 9.1x, c: 0.65x, d: no baseline, e: zero floor
    assert bench.reread_outliers(timings, base) == ["a", "b"]
    assert bench.reread_outliers(timings, base, threshold=100.0) == []
    assert bench.reread_outliers({}, base) == []


def test_bench_compact_stdout_record_properties():
    """Property pin for the stdout bound: for ANY per-query map — any
    count, any name lengths, any timings — the serialized final line fits
    the limit, the kept set is exactly the slowest queries, and the
    accounting (n_queries, queries_omitted) is exact. The driver's
    2000-char tail is a hard external constraint; this is the invariant
    that keeps every future headline growth parseable."""
    import json

    from hypothesis import given, settings
    from hypothesis import strategies as st

    bench = _load_bench()

    @settings(max_examples=200, deadline=None)
    @given(
        queries=st.dictionaries(
            st.text(
                alphabet="abcdefghijklmnopqrstuvwxyz_0123456789", min_size=1, max_size=60
            ),
            st.floats(min_value=0.0, max_value=10_000.0, allow_nan=False),
            max_size=150,
        ),
        limit=st.integers(min_value=300, max_value=2000),
    )
    def check(queries, limit):
        full = {
            "metric": "headline_total",
            "value": round(sum(queries.values()), 3),
            "unit": "sec",
            "sf": 0.1,
            "queries": queries,
            "host": {"load": [0.5, 1.5], "control_q1": [1.0, 1.1], "scan_floor": [0.1, 0.1]},
            "host_factor": 1.0,
        }
        rec = bench.compact_stdout_record(full, limit=limit)
        line = json.dumps(rec, separators=(",", ":"))
        # the bound holds whenever ANY queries could be dropped to meet it
        # (with an empty map the fixed keys are the irreducible floor)
        if rec["queries"]:
            assert len(line) <= limit
        assert rec["n_queries"] == len(queries)
        dropped = set(queries) - set(rec["queries"])
        assert rec.get("queries_omitted", 0) == len(dropped)
        if dropped and rec["queries"]:
            assert max(queries[n] for n in dropped) <= min(
                queries[n] for n in rec["queries"]
            )
        # kept values pass through unmodified
        for n, t in rec["queries"].items():
            assert queries[n] == t

    check()
