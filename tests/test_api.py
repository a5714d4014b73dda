"""HTTP serving-surface parity tests (reference api/app.py:16-382):
route paths, JSON envelope ({data, summary}), display formatting, CSV
attachment, and the allowlist 400 — all through Flask's in-process test
client (no network)."""

from __future__ import annotations

import json
import sys
import threading
import time

import pytest

flask = pytest.importorskip("flask")

import flu_data_pipeline_spark.api.app as app_module  # noqa: E402
from flu_data_pipeline_spark.api.app import create_app  # noqa: E402
from flu_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from flu_data_pipeline_spark.plans.flu_reports import format_report  # noqa: E402

#: (path, oracle-checked registry builder, format_report columns,
#: Spark jobs one warm request runs over the app's table snapshot)
REPORTS = (
    ("/api/reports/weekly-trends", "flu_report_weekly_trends",
     {"percent_cols": ("avg_percent_positive",)}, 4),
    ("/api/reports/healthcare-impact", "flu_report_healthcare_impact",
     {"percent_cols": ("avg_hospitalization_percent", "avg_er_visit_percent"),
      "f3_cols": ("avg_hospital_to_er_ratio",),
      "f1_cols": ("avg_population_density",)}, 6),
    ("/api/reports/historical-summary", "flu_report_historical_summary",
     {"percent_cols": ("peak_ili_percent", "average_wili_percent",
                       "peak_vs_avg_diff")}, 3),
)


@pytest.fixture(scope="module")
def client(spark):
    app = create_app(spark)
    app.config["TESTING"] = True
    with app.test_client() as c:
        yield c


def test_home_lists_endpoints(client):
    r = client.get("/")
    assert r.status_code == 200
    body = r.get_json()
    assert body["status"] == "running"
    assert "/api/reports/weekly-trends" in body["endpoints"]
    assert "/api/export/csv?table=<table_name>" in body["endpoints"]


def test_health(client):
    r = client.get("/health")
    assert r.status_code == 200
    assert r.get_json()["status"] == "healthy"


def test_weekly_trends_envelope_and_formatting(client):
    r = client.get("/api/reports/weekly-trends")
    assert r.status_code == 200
    body = r.get_json()
    assert set(body) == {"data", "summary"}
    assert body["data"], "report should have rows"
    row = body["data"][0]
    # reference formats avg as "NN.NN%" at the edge (api/app.py:240-243)
    assert row["avg_percent_positive"].endswith("%")
    assert set(body["summary"]) == {"Latest Week", "Avg County %", "Illness Type"}


def test_healthcare_impact_envelope(client):
    r = client.get("/api/reports/healthcare-impact")
    assert r.status_code == 200
    body = r.get_json()
    assert body["data"]
    row = body["data"][0]
    assert row["avg_hospitalization_percent"].endswith("%")
    # ratio formatted to 3dp, density to 1dp (api/app.py:283-291)
    assert "." in row["avg_hospital_to_er_ratio"]
    assert body["summary"]["ACH Regions"] == len(body["data"])
    assert body["summary"]["Total Counties"] > 0


def test_historical_summary_envelope(client):
    r = client.get("/api/reports/historical-summary")
    assert r.status_code == 200
    body = r.get_json()
    assert body["data"]
    assert body["data"][0]["peak_ili_percent"].endswith("%")
    assert body["summary"]["Years Tracked"] == len(body["data"])
    assert body["summary"]["Highest Peak"].endswith("%")


def test_export_csv_ok(client):
    r = client.get("/api/export/csv?table=county_region")
    assert r.status_code == 200
    assert r.mimetype == "text/csv"
    assert "attachment; filename=county_region.csv" in r.headers[
        "Content-Disposition"
    ]
    lines = r.get_data(as_text=True).strip().splitlines()
    assert lines[0].split(",")[0] == "county_id" or "county" in lines[0]
    assert len(lines) > 1


def test_export_csv_rejects_unknown_table(client):
    r = client.get("/api/export/csv?table=users; drop table")
    assert r.status_code == 400
    assert "Invalid table" in r.get_json()["error"]


def test_viewer_serves_dashboard_html(client):
    r = client.get("/viewer")
    assert r.status_code == 200
    html = r.get_data(as_text=True)
    assert "Flu Data Analytics Dashboard" in html
    assert "/api/reports/weekly-trends" in html


def _jobs_in_group(sc, group: str, action) -> int:
    """Spark jobs ``action`` runs on this thread, read from the status
    tracker once the listener bus has delivered every event."""
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _counting_builds(monkeypatch, fail_first: bool = False) -> list[int]:
    """Replace the app's snapshot builder with one that counts its calls
    (and raises on the first when ``fail_first``)."""
    calls: list[int] = []
    build = app_module.snapshot_tables

    def counted(spark):
        calls.append(1)
        if fail_first and len(calls) == 1:
            raise RuntimeError("snapshot build failed")
        time.sleep(0.2)  # widen the window a concurrent request arrives in
        return build(spark)

    monkeypatch.setattr(app_module, "snapshot_tables", counted)
    return calls


def test_create_app_starts_no_spark_job(spark):
    sc = spark.sparkContext
    assert _jobs_in_group(sc, "test-create-app", lambda: create_app(spark)) == 0


def test_concurrent_first_requests_share_one_snapshot_build(spark, monkeypatch):
    """More first requests than cores, switching threads often: exactly
    one builds the snapshot, the rest wait for it, all bodies agree."""
    calls = _counting_builds(monkeypatch)
    app = create_app(spark)
    n = 6
    start = threading.Barrier(n)
    bodies: list[tuple[int, bytes]] = []

    def first_request():
        client = app.test_client()
        start.wait()
        r = client.get("/api/reports/weekly-trends")
        bodies.append((r.status_code, r.get_data()))

    threads = [threading.Thread(target=first_request) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert [status for status, _ in bodies] == [200] * n
    assert len({body for _, body in bodies}) == 1


def test_failed_snapshot_build_is_not_cached(spark, monkeypatch):
    calls = _counting_builds(monkeypatch, fail_first=True)
    client = create_app(spark).test_client()
    r = client.get("/api/reports/historical-summary")
    assert r.status_code == 500
    assert "snapshot build failed" in r.get_json()["error"]
    r = client.get("/api/reports/historical-summary")
    assert r.status_code == 200
    assert r.get_json()["data"]
    assert len(calls) == 2


@pytest.mark.parametrize("path,builder,cols,_jobs", REPORTS)
def test_report_data_matches_registry_builder(client, spark, path, builder,
                                              cols, _jobs):
    rows = [r.asDict() for r in REGISTRY[builder].builder(spark, "").collect()]
    app_json = client.application.json
    expected = json.loads(app_json.dumps(format_report(rows, **cols)))
    assert client.get(path).get_json()["data"] == expected


@pytest.mark.parametrize("path,_builder,_cols,jobs", REPORTS)
def test_warm_report_job_count(client, spark, path, _builder, _cols, jobs):
    """Over the snapshot a warm report runs only its own plan: 4/6/3 jobs
    against the 10/9/4 of re-deriving the five tables per request."""
    client.get(path)  # the snapshot is built by now
    sc = spark.sparkContext
    assert _jobs_in_group(sc, f"test-warm{path}", lambda: client.get(path)) == jobs
