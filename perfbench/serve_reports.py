"""``serve_reports``: dashboard traffic against the in-process Flask app.

A closed loop of :data:`CLIENTS` threads, each with its own
``create_app(spark).test_client()`` (no sockets). One dashboard view
requests weekly-trends, healthcare-impact and historical-summary in turn;
after each view the client also requests ``/health``, a CSV export of a
rotating allowlisted table and one export of an invalid table, which must
answer 400. Every body is compared with a golden body computed once,
after the timed loop, from ``format_report`` over the ``flu_reports``
builders.

The operation timed for ``latency_ms`` is one view: the three report
requests a dashboard page load waits for.
"""

from __future__ import annotations

import csv
import io
import json
import random
import statistics
import threading
import time

from gates import percentile, tail_percentile
from procstat import Mark
from spans import job_counts, job_group

CLIENTS = 2
#: (endpoint metric name, path, registry builder, format_report columns)
REPORTS = (
    ("weekly_trends", "/api/reports/weekly-trends", "flu_report_weekly_trends",
     {"percent_cols": ("avg_percent_positive",)}),
    ("healthcare_impact", "/api/reports/healthcare-impact", "flu_report_healthcare_impact",
     {"percent_cols": ("avg_hospitalization_percent", "avg_er_visit_percent"),
      "f3_cols": ("avg_hospital_to_er_ratio",), "f1_cols": ("avg_population_density",)}),
    ("historical_summary", "/api/reports/historical-summary", "flu_report_historical_summary",
     {"percent_cols": ("peak_ili_percent", "average_wili_percent", "peak_vs_avg_diff")}),
)
ENDPOINTS = tuple(r[0] for r in REPORTS) + ("export_csv", "health")


def prepare(spark):
    from flu_data_pipeline_spark.api.app import create_app

    return create_app(spark)


def _summary(name: str, data: list[dict]) -> dict:
    """The summary block each report endpoint adds to its data."""
    if name == "weekly_trends":
        if not data:
            return {}
        top = data[0]
        return {
            "Latest Week": str(top["week_end"]) if top.get("week_end") else "N/A",
            "Avg County %": top.get("avg_percent_positive") or "N/A",
            "Illness Type": top["respiratory_illness_type"],
        }
    if name == "healthcare_impact":
        return {
            "ACH Regions": len(data),
            "Total Counties": sum(d["counties_in_region"] for d in data if d.get("counties_in_region")),
        }
    if not data:
        return {}
    peak = max((float(d["peak_ili_percent"].rstrip("%")) for d in data if d.get("peak_ili_percent")), default=0)
    return {"Years Tracked": len(data), "Highest Peak": f"{peak:.2f}%"}


def _rows_key(data: list[dict]) -> list[str]:
    return sorted(json.dumps(d, sort_keys=True) for d in data)


def _csv_lines(text: str) -> tuple[str, list[str]]:
    lines = text.splitlines()
    return (lines[0] if lines else ""), sorted(lines[1:])


class Goldens:
    """Expected bodies, computed outside the API from the report builders
    (exports on first use, so only requested tables cost a collect)."""

    def __init__(self, spark, app):
        from flu_data_pipeline_spark.plans import REGISTRY
        from flu_data_pipeline_spark.plans.flu_reports import EXPORT_ALLOWLIST, format_report

        self.spark, self.allowlist = spark, EXPORT_ALLOWLIST
        self.reports, self.collect_s, self.rows = {}, {}, {}
        for name, _, builder, cols in REPORTS:
            t0 = time.perf_counter()
            rows = [r.asDict() for r in REGISTRY[builder].builder(spark, "").collect()]
            self.collect_s[name], self.rows[name] = time.perf_counter() - t0, rows
            data = format_report(rows, **cols)
            body = json.loads(app.json.dumps({"data": data, "summary": _summary(name, data)}))
            self.reports[name] = (_rows_key(body["data"]), body["summary"])
        self.exports: dict[str, tuple[str, list[str]]] = {}

    def report_ok(self, name: str, resp) -> bool:
        body = resp.get_json(silent=True) or {}
        return resp.status_code == 200 and (
            _rows_key(body.get("data", [])), body.get("summary")
        ) == self.reports[name]

    def export_ok(self, table: str, resp) -> bool:
        if table not in self.exports:
            from flu_data_pipeline_spark.plans import REGISTRY
            from flu_data_pipeline_spark.plans.flu_reports import export_table

            df = export_table({table: REGISTRY[f"flu_{table}"].builder(self.spark, "")}, table)
            out = io.StringIO()
            writer = csv.writer(out)
            writer.writerow(df.columns)
            writer.writerows(tuple(r) for r in df.collect())
            self.exports[table] = _csv_lines(out.getvalue())
        return resp.status_code == 200 and _csv_lines(resp.get_data(as_text=True)) == self.exports[table]


def run(ctx) -> dict[str, float]:
    spark, app, tracer, ledger = ctx.spark, ctx.prepared, ctx.tracer, ctx.ledger
    sc = spark.sparkContext
    from flu_data_pipeline_spark.plans.flu_reports import EXPORT_ALLOWLIST

    rng = random.Random(ctx.seed)
    rotation = rng.randrange(len(EXPORT_ALLOWLIST))
    invalid_table = f"no_such_table_{rng.randrange(10**6)}"
    if tracer.enabled:
        import flu_data_pipeline_spark.api.app as app_module

        for fn in ("weekly_trends", "healthcare_impact", "historical_summary", "export_table", "format_report"):
            tracer.wrap(app_module, fn, f"flu_reports.{fn}")

    lock = threading.Lock()
    views = []
    latencies: dict[str, list[float]] = {e: [] for e in ENDPOINTS + ("export_invalid",)}
    counts: dict[str, list] = {e: [] for e in latencies}
    n_requests = [0]
    responses: list[tuple[str, object, object]] = []

    def request(client, op: int, endpoint: str, path: str, check) -> None:
        """Time one request; its body is checked after the loop."""
        group = f"op{op}-{endpoint}-{threading.get_ident()}"
        t0 = time.perf_counter()
        try:
            with tracer.span(f"api.{endpoint}", op), job_group(sc, tracer, group):
                resp = client.get(path)
        except Exception as e:  # a crashed request is a failed operation
            ledger.record(False, f"{path}: {e!r}")
            return
        elapsed = time.perf_counter() - t0
        with lock:
            n_requests[0] += 1
            latencies[endpoint].append(elapsed)
            responses.append((path, check, resp))
        if tracer.enabled:
            c = job_counts(sc, group)
            with lock:
                counts[endpoint].append(c)

    def client(idx: int, deadline: float) -> None:
        c = app.test_client()
        k = 0
        while time.perf_counter() < deadline:
            op = tracer.new_op()
            mark = Mark.now(ctx.pids)
            with tracer.span("serve.view", op):
                for name, path, _, _ in REPORTS:
                    request(c, op, name, path, lambda g, r, n=name: g.report_ok(n, r))
            view = mark.since(ctx.pids)
            with lock:
                views.append(view)
            table = EXPORT_ALLOWLIST[(rotation + idx + k) % len(EXPORT_ALLOWLIST)]
            request(c, op, "health", "/health", lambda g, r: r.status_code == 200
                    and r.get_json() == {"status": "healthy", "engine": "connected"})
            request(c, op, "export_csv", f"/api/export/csv?table={table}",
                    lambda g, r, t=table: g.export_ok(t, r))
            request(c, op, "export_invalid", f"/api/export/csv?table={invalid_table}",
                    lambda g, r: r.status_code == 400)
            k += 1

    mark = Mark.now(ctx.pids)
    threads = [threading.Thread(target=client, args=(i, mark.wall + ctx.seconds)) for i in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    loop = mark.since(ctx.pids)
    tracer.restore()
    goldens = Goldens(spark, app)
    for path, check, resp in responses:
        ledger.record(check(goldens, resp), f"{path}: status {resp.status_code}, body differs from golden")

    out = {
        "latency_ms": statistics.median(v.unstolen_wall for v in views) * 1000,
        "run.cpu_ms_per_op": loop.cpu / n_requests[0] * 1000,
        "run.wall_p50_ms": statistics.median(v.wall for v in views) * 1000,
        "run.throughput_per_s": n_requests[0] / loop.wall,
        "run.stolen_share": loop.stolen,
    }
    tail = tail_percentile([v.unstolen_wall for v in views])
    ctx.note(f"serve_reports: {len(views)} views, {n_requests[0]} requests in {loop.wall:.1f}s, "
             f"{loop.stolen:.0%} of CPU time stolen; view latency median {out['latency_ms']:.0f} ms, "
             + (f"p{tail[0]:g} {tail[1] * 1000:.0f} ms" if tail else "too few views for a tail percentile"))
    if not tracer.enabled:
        return out
    layer = {"trace.latency_ms": out["latency_ms"]}
    for e in ENDPOINTS:
        layer[f"api.{e}_p50_ms"] = percentile(latencies[e], 50) * 1000 if latencies[e] else 0.0
        if counts[e]:
            layer[f"api.{e}_jobs"] = statistics.median(c.jobs for c in counts[e])
            layer[f"api.{e}_stages"] = statistics.median(c.stages for c in counts[e])
            layer[f"api.{e}_tasks"] = statistics.median(c.tasks for c in counts[e])
    every = [c for cs in counts.values() for c in cs]
    layer["api.jobs_per_req"] = sum(c.jobs for c in every) / len(every)
    layer["api.stages_per_req"] = sum(c.stages for c in every) / len(every)
    layer["api.tasks_per_req"] = sum(c.tasks for c in every) / len(every)
    layer["api.failed_tasks"] = sum(c.failed_tasks for c in every)
    for name, total in tracer.self_times().items():
        layer[f"self.{name}_ms"] = total / len(views) * 1000
    layer.update(out)
    layer.update(_report_layer(goldens))
    return layer


def _report_layer(goldens: Goldens) -> dict[str, float]:
    """``flu_reports`` on its own: the golden computation's direct
    ``collect`` of each report builder, and ``format_report`` on the
    collected healthcare-impact rows."""
    from flu_data_pipeline_spark.plans.flu_reports import format_report

    layer = {f"flu_reports.{name}_ms": s * 1000 for name, s in goldens.collect_s.items()}
    _, _, _, cols = REPORTS[1]
    reps = 200
    t0 = time.perf_counter()
    for _ in range(reps):
        format_report(goldens.rows["healthcare_impact"], **cols)
    layer["flu_reports.format_report_us"] = (time.perf_counter() - t0) / reps * 1e6
    return layer
