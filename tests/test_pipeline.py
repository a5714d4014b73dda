"""End-to-end pipeline run (the reference DAG's task graph,
dags/flu_data_airflow_v2.py:747-764): land → build → assert DDL →
idempotent ingest → QC, twice — the second run must be a no-op."""

from __future__ import annotations

from flu_data_pipeline_spark.pipeline import build_tables, collect, run_pipeline
from flu_data_pipeline_spark.plans.flu_tables import _fixture_tables, derive_tables
from flu_data_pipeline_spark.schemas import STAR_SCHEMA

from .conftest import result_key


def test_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")

    first = run_pipeline(spark, landing, warehouse)
    assert set(first["appended"]) == set(STAR_SCHEMA)
    # fixture-pinned cardinalities (FIXTURES.md): 39 WA counties, 4
    # epiweeks, 3 historic years
    assert first["qc"]["county_region"]["rows"] == 39
    assert first["qc"]["temporal"]["rows"] == 4
    assert first["qc"]["historics"]["rows"] == 3
    for name, rep in first["qc"].items():
        assert rep["rows"] > 0, name
        assert rep["pk_duplicates"] == 0, name
        assert first["appended"][name] == rep["rows"], name
        # observe() telemetry rode the load action itself (no extra
        # pass): built rows match loaded rows, and the in-flight null
        # counts match a direct recount of the warehouse table (illness
        # legitimately carries null county_ids — the reference's
        # NaN-preserving left join, flu_data_airflow_v2.py:368-373 —
        # so accuracy, not zero, is the contract)
        obs = first["observed"][name]
        assert obs["rows_built"] == rep["rows"], (name, obs)
        import os as _os

        from pyspark.sql import functions as _F

        wh = spark.read.parquet(_os.path.join(warehouse, name))
        for k, v in obs.items():
            if k.startswith("null_"):
                col = k[len("null_"):]
                direct = wh.filter(_F.col(col).isNull()).count()
                assert v == direct, (name, k, v, direct)

    second = run_pipeline(spark, landing, warehouse)
    assert all(n == 0 for n in second["appended"].values()), second["appended"]
    assert second["qc"] == first["qc"]


def test_pipeline_accepts_injected_fetchers(spark, tmp_path):
    # the HTTP path: a fetcher delivers the census payload bytes
    import csv as _csv
    from io import StringIO

    from flu_data_pipeline_spark.plans import flu_fixtures as fx

    buf = StringIO()
    w = _csv.writer(buf)
    w.writerow(fx.CENSUS_COLS)
    w.writerows(fx.CENSUS_ROWS)
    payload = buf.getvalue().encode()

    out = run_pipeline(
        spark,
        str(tmp_path / "landing"),
        str(tmp_path / "warehouse"),
        fetchers={
            "census": (
                "https://example.invalid/census.csv",
                lambda url: payload,
            )
        },
    )
    assert out["qc"]["county_region"]["rows"] == 39


def test_build_tables_from_landed_csvs_equals_fixture_derivation(spark, tmp_path):
    """The five tables built from the landed fixture CSVs equal the ones
    derived from the in-memory fixture frames, table by table. Rows are
    compared order-insensitively with doubles at 6 dp (the oracle
    convention): healthcare's window means differ in the last ulp
    between the two inputs."""
    landing = {
        name: collect(name, str(tmp_path)) for name in ("rhino", "census", "fluview")
    }
    built = build_tables(spark, landing)
    derived = derive_tables(*_fixture_tables(spark))
    assert list(built) == list(derived) == list(STAR_SCHEMA)
    for name, df in built.items():
        want = derived[name]
        assert df.columns == want.columns, name
        assert result_key(df.columns, df.collect()) == result_key(
            want.columns, want.collect()
        ), name
