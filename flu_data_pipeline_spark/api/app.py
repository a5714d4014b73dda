"""HTTP serving surface — route and payload parity with the reference's
Flask app (api/app.py:16-382), backed by the Spark report plans instead
of Postgres.

Routes (same paths, same envelope):

- ``GET /``                                → endpoint index JSON
- ``GET /health``                          → engine liveness (runs
  ``SELECT 1`` through the SparkSession, api/app.py:31-38)
- ``GET /api/reports/weekly-trends``       → ``{"data": [...], "summary":
  {...}}`` with the reference's display formatting (api/app.py:215-255)
- ``GET /api/reports/healthcare-impact``   → (api/app.py:257-301)
- ``GET /api/reports/historical-summary``  → (api/app.py:303-346)
- ``GET /api/export/csv?table=<t>``        → CSV attachment, 400 on a
  non-allowlisted table (api/app.py:348-378)

Engine/serving split: all numbers live numeric in the plans
(plans/flu_reports.py); display strings ("12.34%") are applied at this
edge via :func:`format_report` — SURVEY F14/F15.

Serving snapshot: the reference reads warehouse tables its DAG has
already built; here each app holds one snapshot of the five derived
tables (:func:`snapshot_tables` — every table computed once and kept as
a local checkpoint). :func:`create_app` runs no Spark work. The first
request that needs data builds the snapshot under a lock, so concurrent
first requests wait for that one build; a build that raises answers 500
and is not kept, so the next request builds again. Every report and
export then runs its plan over the stored tables. The snapshot lives on
the app, not the module: an app is bound to the session it was created
with, and a new session needs a new app.

Flask is imported lazily inside :func:`create_app` so the engine
library has no hard web-framework dependency.
"""

from __future__ import annotations

import functools
import threading

from pyspark.sql import DataFrame, SparkSession

from flu_data_pipeline_spark.session import ensure_session_defaults

from flu_data_pipeline_spark.plans.flu_reports import (
    EXPORT_ALLOWLIST,
    export_table,
    format_report,
    healthcare_impact,
    historical_summary,
    snapshot_tables,
    weekly_trends,
)

_ENDPOINTS = {
    "/health": "Check API and engine health",
    "/api/reports/weekly-trends": "Weekly flu activity trends",
    "/api/reports/healthcare-impact": "Healthcare system impact by ACH region",
    "/api/reports/historical-summary": "Historical flu season summary",
    "/api/export/csv?table=<table_name>": "Export table data as CSV",
}


class _Snapshot:
    """One app's five derived tables, built on first use."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._lock = threading.Lock()
        self._tables: dict[str, DataFrame] | None = None

    def tables(self) -> dict[str, DataFrame]:
        with self._lock:
            if self._tables is None:
                self._tables = snapshot_tables(self._spark)
            return self._tables


def create_app(spark: SparkSession):
    """Build the Flask app over an existing SparkSession."""
    import csv
    from io import StringIO

    from flask import Flask, Response, jsonify, request

    app = Flask(__name__)
    # Same session-portability contract as the registry builders: a
    # stock harness-built session gets the engine's runtime confs.
    ensure_session_defaults(spark)
    snapshot = _Snapshot(spark)

    @app.route("/")
    def home():
        return jsonify(
            {
                "message": "Flu Data Pipeline API",
                "status": "running",
                "endpoints": _ENDPOINTS,
            }
        )

    @app.route("/viewer")
    def viewer():
        # Minimal dashboard shell (reference ships a styled interactive
        # viewer at api/app.py:40-213; the data contract is the three
        # report endpoints it fetches — same here).
        cards = "".join(
            f'<li><a href="{path}">{desc}</a></li>'
            for path, desc in _ENDPOINTS.items()
            if path.startswith("/api/")
        )
        return (
            "<!DOCTYPE html><html><head>"
            "<title>Flu Data Analytics Dashboard</title></head>"
            "<body><h1>Flu Data Analytics Dashboard</h1>"
            f"<ul>{cards}</ul></body></html>"
        )

    @app.route("/health")
    def health():
        try:
            spark.sql("SELECT 1").collect()
            return jsonify({"status": "healthy", "engine": "connected"}), 200
        except Exception as e:  # pragma: no cover - engine-down path
            return jsonify({"status": "unhealthy", "error": str(e)}), 500

    def _report(df, percent_cols=(), f3_cols=(), f1_cols=()):
        rows = [r.asDict() for r in df.collect()]
        return format_report(
            rows, percent_cols=percent_cols, f3_cols=f3_cols, f1_cols=f1_cols
        )

    def _json_route(payload):
        """A report view: ``payload()``'s dict as JSON with 200, or any
        failure (a failed snapshot build included) as ``{"error": ...}``
        with 500."""

        @functools.wraps(payload)
        def view():
            try:
                return jsonify(payload()), 200
            except Exception as e:
                return jsonify({"error": str(e)}), 500

        return view

    @app.route("/api/reports/weekly-trends")
    @_json_route
    def weekly():
        tables = snapshot.tables()
        data = _report(
            weekly_trends(tables["temporal"], tables["illness"]),
            percent_cols=("avg_percent_positive",),
        )
        summary = {}
        if data:
            summary = {
                "Latest Week": str(data[0]["week_end"])
                if data[0].get("week_end")
                else "N/A",
                "Avg County %": data[0].get("avg_percent_positive") or "N/A",
                "Illness Type": data[0]["respiratory_illness_type"],
            }
        return {"data": data, "summary": summary}

    @app.route("/api/reports/healthcare-impact")
    @_json_route
    def healthcare():
        tables = snapshot.tables()
        data = _report(
            healthcare_impact(tables["healthcare"], tables["county_region"]),
            percent_cols=("avg_hospitalization_percent", "avg_er_visit_percent"),
            f3_cols=("avg_hospital_to_er_ratio",),
            f1_cols=("avg_population_density",),
        )
        summary = {
            "ACH Regions": len(data),
            "Total Counties": sum(
                d["counties_in_region"] for d in data if d.get("counties_in_region")
            ),
        }
        return {"data": data, "summary": summary}

    @app.route("/api/reports/historical-summary")
    @_json_route
    def historical():
        data = _report(
            historical_summary(snapshot.tables()["historics"]),
            percent_cols=(
                "peak_ili_percent",
                "average_wili_percent",
                "peak_vs_avg_diff",
            ),
        )
        summary = {}
        if data:
            max_peak = max(
                (
                    float(d["peak_ili_percent"].rstrip("%"))
                    for d in data
                    if d.get("peak_ili_percent")
                ),
                default=0,
            )
            summary = {
                "Years Tracked": len(data),
                "Highest Peak": f"{max_peak:.2f}%",
            }
        return {"data": data, "summary": summary}

    @app.route("/api/export/csv")
    def export_csv():
        table = request.args.get("table", "")
        if table not in EXPORT_ALLOWLIST:
            return (
                jsonify(
                    {
                        "error": "Invalid table. Choose from: "
                        + ", ".join(EXPORT_ALLOWLIST)
                    }
                ),
                400,
            )
        try:
            df = export_table(snapshot.tables(), table)
            cols = df.columns
            out = StringIO()
            writer = csv.writer(out)
            writer.writerow(cols)
            writer.writerows(tuple(r) for r in df.collect())
            return Response(
                out.getvalue(),
                mimetype="text/csv",
                headers={
                    "Content-Disposition": f"attachment; filename={table}.csv"
                },
            )
        except Exception as e:  # pragma: no cover
            return jsonify({"error": str(e)}), 500

    return app
