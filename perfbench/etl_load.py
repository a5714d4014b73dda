"""``etl_load``: the nightly ETL job over seeded raw feeds.

A pipeline run is ``pipeline.build_tables`` -> ``assert_schemas`` ->
``ingest`` -> ``qc``. Timed runs load the history into an empty
warehouse, repeated into fresh warehouses until the measuring time is
over. The traced run adds, after the first load, a refresh over the same
history plus one newly landed week, and a re-run of that refresh, which
must append nothing.

Gates: appended rows per table equal what the feed generator derives from
the seed, and ``qc`` finds no primary-key duplicates. An
order-insensitive hash of each warehouse table is printed.

The operation timed for ``latency_ms`` is one load.
"""

from __future__ import annotations

import os
import statistics
import time

from feeds import TABLES, FeedGenerator
from gates import result_hash
from procstat import Mark
from spans import job_counts, job_group

#: seasons of weekly history: 1 x 52 weeks x 396 RHINO rows = 20,592 rows
SEASONS = 1
#: pipeline runs of one cycle, untraced and traced
RUNS = ("load",)
TRACED_RUNS = ("load", "refresh", "noop")


def prepare(spark):
    from flu_data_pipeline_spark.session import ensure_session_defaults

    return ensure_session_defaults(spark)


def _jvm_rchar(pid: int | None) -> int:
    if pid is None:
        return 0
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


def _parquet_files(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def table_hashes(spark, warehouse: str) -> dict[str, str]:
    """Order-insensitive content hash of each warehouse table."""
    out = {}
    for t in TABLES:
        df = spark.read.parquet(os.path.join(warehouse, t))
        out[t] = result_hash(df.columns, df.collect())[:16]
    return out


def check_run(ledger, label: str, appended: dict, expected: dict, report: dict, stored: dict) -> bool:
    """One pipeline run is correct when every table gained exactly the
    expected rows, holds the expected total and has no PK duplicates."""
    problems = [
        f"{t}: appended {appended.get(t)} != {expected[t]}" for t in TABLES if appended.get(t) != expected[t]
    ]
    problems += [
        f"{t}: {report[t]['rows']} rows != {stored[t]}" for t in TABLES if report[t]["rows"] != stored[t]
    ]
    problems += [f"{t}: {report[t]['pk_duplicates']} PK duplicates" for t in TABLES if report[t]["pk_duplicates"]]
    return ledger.record(not problems, f"etl {label}: " + "; ".join(problems))


def run(ctx) -> dict[str, float]:
    from flu_data_pipeline_spark import pipeline

    spark, tracer, ledger = ctx.spark, ctx.tracer, ctx.ledger
    sc = spark.sparkContext
    gen = FeedGenerator(ctx.seed, SEASONS)
    feeds = {"load": gen.write(os.path.join(ctx.work, "landing-load"), refresh=False)}
    expected = {
        "load": gen.expected_appends(refresh=False),
        "refresh": gen.expected_appends(refresh=True),
        "noop": dict.fromkeys(TABLES, 0),
    }
    if tracer.enabled:
        feeds["refresh"] = feeds["noop"] = gen.write(os.path.join(ctx.work, "landing-refresh"), refresh=True)
        tracer.wrap(pipeline, "idempotent_append",
                    lambda spark, df, path, *a, **k: f"writers.append_{os.path.basename(path)}")
        tracer.wrap(pipeline, "validate_primary_key", "writers.validate_pk")

    times: dict[str, list] = {r: [] for r in TRACED_RUNS}
    layer: dict[str, float] = {}
    deadline = time.perf_counter() + ctx.seconds
    cycle = 0
    while cycle == 0 or (not tracer.enabled and time.perf_counter() < deadline):
        warehouse = os.path.join(ctx.work, f"warehouse-{cycle}")
        stored = dict.fromkeys(TABLES, 0)
        for label in TRACED_RUNS if tracer.enabled else RUNS:
            op = tracer.new_op()
            landing = feeds[label].landing
            rchar0 = _jvm_rchar(ctx.jvm_pid) if tracer.enabled else 0
            mark = Mark.now(ctx.pids)
            try:
                with tracer.span(f"etl.{label}", op), job_group(sc, tracer, f"etl-{cycle}-{label}"):
                    with tracer.span("pipeline.build_tables"):
                        tables = pipeline.build_tables(spark, landing)
                        pipeline.assert_schemas(tables)
                    with tracer.span("pipeline.ingest"):
                        appended, _ = pipeline.ingest(spark, tables, warehouse)
                    with tracer.span("pipeline.qc"):
                        report = pipeline.qc(spark, warehouse)
            except Exception as e:  # a crashed run is a failed operation
                ledger.record(False, f"etl {label}: {e!r}")
                continue
            times[label].append(mark.since(ctx.pids))
            stored = {t: stored[t] + expected[label][t] for t in TABLES}
            check_run(ledger, label, appended, expected[label], report, stored)
            if tracer.enabled and cycle == 0:
                layer.update(_run_layer(ctx, sc, label, op, f"etl-{cycle}-{label}", rchar0,
                                        feeds[label].input_bytes, warehouse))
        hashes = table_hashes(spark, warehouse)
        ctx.note("etl_load warehouse hashes: " + " ".join(f"{t}={h}" for t, h in hashes.items()))
        cycle += 1
    tracer.restore()

    loads = times["load"]
    out = {
        "latency_ms": statistics.median(i.unstolen_wall for i in loads) * 1000,
        "run.cpu_ms_per_op": statistics.median(i.cpu for i in loads) * 1000,
        "run.wall_p50_ms": statistics.median(i.wall for i in loads) * 1000,
        "run.throughput_per_s": feeds["load"].rhino_rows * len(loads) / sum(i.wall for i in loads),
        "run.stolen_share": statistics.median(i.stolen for i in loads),
    }
    ctx.note(f"etl_load: {cycle} cycles, {feeds['load'].rhino_rows} raw rows per load")
    if not tracer.enabled:
        return out
    layer.update(out)
    layer["trace.latency_ms"] = out["latency_ms"]
    layer["etl.load_rows_per_s"] = out["run.throughput_per_s"]
    if times["refresh"]:
        layer["etl.refresh_rows_per_s"] = feeds["refresh"].rhino_rows / times["refresh"][0].wall
    n_ops = sum(len(t) for t in times.values())
    for name, total in tracer.self_times().items():
        layer[f"self.{name}_ms"] = total / n_ops * 1000
    layer.update(_builder_layer(spark, feeds["load"].landing))
    return layer


def _run_layer(ctx, sc, label, op, group, rchar0, input_bytes, warehouse) -> dict[str, float]:
    """Per-layer figures of the first cycle's runs, read off its spans."""
    tracer = ctx.tracer

    def spent(prefix: str) -> float:
        return sum(s.end - s.start for s in tracer.spans if s.op == op and s.name.startswith(prefix))

    if label == "noop":
        return {"writers.append_noop_s": spent("pipeline.ingest")}
    if label == "refresh":
        return {}
    counts = job_counts(sc, group)
    files, size = _parquet_files(warehouse)
    return {
        "pipeline.build_tables_s": spent("pipeline.build_tables"),
        "pipeline.ingest_s": spent("pipeline.ingest"),
        "pipeline.qc_s": spent("pipeline.qc"),
        "writers.append_illness_s": spent("writers.append_illness"),
        "writers.append_dims_s": spent("writers.append_") - spent("writers.append_illness"),
        "writers.validate_pk_s": spent("writers.validate_pk"),
        "writers.files_written": files,
        "writers.bytes_per_input_byte": size / input_bytes,
        "etl.jobs": counts.jobs,
        "etl.stages": counts.stages,
        "etl.jvm_read_bytes_per_input_byte": (_jvm_rchar(ctx.jvm_pid) - rchar0) / input_bytes,
    }


def _builder_layer(spark, landing: dict[str, str]) -> dict[str, float]:
    """``readers`` and ``flu_tables`` on their own: each step's output
    written to the ``noop`` sink, after the cycle has warmed the JVM."""
    from flu_data_pipeline_spark.plans import flu_fixtures as fx
    from flu_data_pipeline_spark.plans import flu_tables as ft
    from flu_data_pipeline_spark.sources.readers import read_csv

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    raw = read_csv(spark, landing["rhino"], fx.RHINO_SCHEMA)
    census = read_csv(spark, landing["census"], fx.CENSUS_SCHEMA)
    fluview = read_csv(spark, landing["fluview"], fx.FLUVIEW_SCHEMA)
    pre = ft.preprocess_rhino(raw)
    cr = ft.build_county_region(census, pre)
    return {
        "readers.read_csv_s": timed(raw),
        "flu_tables.preprocess_rhino_s": timed(pre),
        "flu_tables.build_county_region_s": timed(cr),
        "flu_tables.build_temporal_s": timed(ft.build_temporal(pre)),
        "flu_tables.build_illness_s": timed(ft.build_illness(pre, cr, fluview)),
        "flu_tables.build_healthcare_s": timed(ft.build_healthcare(pre, cr)),
        "flu_tables.build_historics_s": timed(ft.build_historics(fluview)),
    }
