"""Self-tests of the benchmark's own machinery (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import random

import pytest

import etl_load
import feeds
from gates import Ledger, percentile, result_hash, tail_percentile
from serve_reports import Goldens, _rows_key
from spans import Tracer


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_feed_generator_is_deterministic_per_seed(tmp_path):
    a = feeds.FeedGenerator(7, seasons=1).write(str(tmp_path / "a"), refresh=True)
    b = feeds.FeedGenerator(7, seasons=1).write(str(tmp_path / "b"), refresh=True)
    c = feeds.FeedGenerator(8, seasons=1).write(str(tmp_path / "c"), refresh=True)
    for name in ("rhino", "census", "fluview"):
        assert _read(a.landing[name]) == _read(b.landing[name])
    assert _read(a.landing["rhino"]) != _read(c.landing["rhino"])
    # 53 weeks x (9 ACH regions + 2 filtered locations) x 3 x 2 x 6
    assert a.rhino_rows == 53 * 11 * 3 * 2 * 6


def test_feed_headers_match_the_program_fixtures(tmp_path):
    from flu_data_pipeline_spark.plans import flu_fixtures as fx

    landing = feeds.FeedGenerator(1, seasons=1).write(str(tmp_path), refresh=False).landing
    for name, cols in (("rhino", fx.RHINO_COLS), ("census", fx.CENSUS_COLS), ("fluview", fx.FLUVIEW_COLS)):
        with open(landing[name], newline="") as f:
            assert f.readline().rstrip("\r\n").split(",") == cols
    assert "1-Week Percent " in fx.RHINO_COLS


def test_feed_percent_blanks_and_whitespace():
    rng = random.Random(3)
    values = [feeds._percent(rng) for _ in range(20000)]
    assert 0.04 < values.count("") / len(values) < 0.06
    assert 0.01 < values.count("   ") / len(values) < 0.03


def test_expected_appends_refresh_adds_one_week():
    gen = feeds.FeedGenerator(5, seasons=1)
    load, refresh = gen.expected_appends(refresh=False), gen.expected_appends(refresh=True)
    assert load["temporal"] == 52 and refresh["temporal"] == 1
    # 29 distinct mapped counties (Spokane is in two ACH regions) x 3 x 2
    assert refresh["illness"] == 29 * 3 * 2
    assert load["illness"] == 52 * refresh["illness"]
    assert refresh["county_region"] == refresh["healthcare"] == 0


def test_result_hash_ignores_row_and_column_order():
    rows = [(1, "a", 0.1234567), (2, "b", None), (3, "c", 2.5)]
    shuffled = [rows[2], rows[0], rows[1]]
    assert result_hash(["k", "s", "x"], rows) == result_hash(["k", "s", "x"], shuffled)
    swapped = [(s, k, x) for k, s, x in rows]
    assert result_hash(["k", "s", "x"], rows) == result_hash(["s", "k", "x"], swapped)
    assert result_hash(["k", "s", "x"], rows) != result_hash(["k", "s", "x"], rows[:2])


@pytest.mark.parametrize(
    "n, expected_q",
    [(19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected_q):
    samples = [float(i) for i in range(n)]
    tail = tail_percentile(samples)
    if expected_q is None:
        assert tail is None
        return
    q, value = tail
    assert q == expected_q
    assert sum(1 for s in samples if s > value) >= 10


def test_percentile_is_nearest_rank():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    assert percentile([5.0], 99) == 5.0


class _Response:
    def __init__(self, body, status=200):
        self.status_code, self._body = status, body

    def get_json(self, silent=False):
        return self._body


def test_tampered_golden_body_counts_as_failed():
    data = [{"ach_region": "North Sound", "avg_hospitalization_percent": "12.34%"}]
    summary = {"ACH Regions": 1, "Total Counties": 5}
    goldens = Goldens.__new__(Goldens)
    goldens.reports = {"healthcare_impact": (_rows_key(data), summary)}
    ledger = Ledger()
    ledger.record(goldens.report_ok("healthcare_impact", _Response({"data": data, "summary": summary})), "ok")
    assert ledger.error_rate == 0
    tampered = [dict(data[0], avg_hospitalization_percent="12.35%")]
    ledger.record(goldens.report_ok("healthcare_impact", _Response({"data": tampered, "summary": summary})), "bad")
    ledger.record(goldens.report_ok("healthcare_impact", _Response({"data": data, "summary": summary}, 500)), "bad")
    assert ledger.failed == 2 and ledger.error_rate > 0


def test_off_by_one_expected_count_counts_as_failed():
    expected = feeds.FeedGenerator(5, seasons=1).expected_appends(refresh=False)
    report = {t: {"rows": n, "pk_duplicates": 0} for t, n in expected.items()}
    ledger = Ledger()
    assert etl_load.check_run(ledger, "load", dict(expected), expected, report, expected)
    off_by_one = dict(expected, illness=expected["illness"] + 1)
    assert not etl_load.check_run(ledger, "load", dict(expected), off_by_one, report, expected)
    assert ledger.attempted == 2 and ledger.error_rate > 0


def test_self_time_excludes_child_spans():
    tracer = Tracer()
    with tracer.span("api.outer"):
        with tracer.span("flu_reports.inner"):
            sum(range(100000))
    outer = next(s for s in tracer.spans if s.name == "api.outer")
    inner = next(s for s in tracer.spans if s.name == "flu_reports.inner")
    totals = tracer.self_times()
    assert inner.parent == outer.span_id and inner.op == outer.op
    assert totals["flu_reports"] == pytest.approx(inner.end - inner.start)
    assert totals["api"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
