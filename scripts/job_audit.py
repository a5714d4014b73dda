#!/usr/bin/env python
"""Job-count audit for one registry query or one API endpoint:
`python scripts/job_audit.py name [sf_dir] [runs]` or
`python scripts/job_audit.py /api/path [runs]`.

Registry query: runs the query warm (noop sink, same methodology as
bench.py), then reports per warm run: wall seconds and Spark job count
via the JVM statusTracker (jobs carry no job group in this session, so
the null-group id list is the complete job list). Job count under AQE =
materialized query stages + blocking driver actions, i.e. the thing
guide §2.6 says to cut. This is the r11 wave-3 barrier audit, packaged.

API path (a name starting with ``/``, e.g.
``/api/reports/weekly-trends``): builds one app with ``create_app`` and
GETs the path through Flask's test client — once cold (the request that
builds the app's table snapshot) and ``runs`` times warm — reporting
wall seconds, HTTP status and the Spark jobs each request ran. Each
request runs under its own job group, which the snapshot build's pool
threads inherit, so the counts match perfbench's ``api.<endpoint>_jobs``.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flu_data_pipeline_spark.plans import REGISTRY
from flu_data_pipeline_spark.session import get_spark


def _n_jobs(spark) -> int:
    return len(
        list(
            spark.sparkContext._jsc.sc()
            .statusTracker()
            .getJobIdsForGroup(None)
        )
    )


def _audit_api(spark, path: str, runs: int) -> None:
    from flu_data_pipeline_spark.api.app import create_app

    sc = spark.sparkContext
    client = create_app(spark).test_client()

    def request(label: str) -> None:
        group = f"job-audit-{label}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            status = client.get(path).status_code
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        dt = time.perf_counter() - t0
        # the status tracker is fed by the listener bus; drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        print(f"{path} {label}: {dt:.3f}s  jobs={jobs}  status={status}", flush=True)

    request("cold")
    for i in range(runs):
        request(f"warm-{i}")


def main() -> None:
    name = sys.argv[1]
    if name.startswith("/"):
        spark = get_spark(app_name="job-audit")
        _audit_api(spark, name, int(sys.argv[2]) if len(sys.argv) > 2 else 3)
        spark.stop()
        return
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark(app_name="job-audit")
    qd = REGISTRY[name]

    def run() -> None:
        qd.builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    run()  # warmup
    for i in range(runs):
        before = _n_jobs(spark)
        t0 = time.perf_counter()
        run()
        dt = time.perf_counter() - t0
        print(
            f"{name} run {i}: {dt:.3f}s  jobs={_n_jobs(spark) - before}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
