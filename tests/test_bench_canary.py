"""Unit tests for bench.py's canary-arbitration plumbing (round 9):
recovering prior frozen-canary readings from committed driver
artifacts (including the truncated-``tail`` capture) and from the
local history file, filtered to the matching scale factor."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench_mod",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench.py",
    ),
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _write(path, obj):
    with open(path, "w") as fh:
        fh.write(obj if isinstance(obj, str) else json.dumps(obj))


def test_readings_from_parsed_tail_and_history(tmp_path):
    # r7-style artifact: no canary anywhere -> skipped
    _write(tmp_path / "BENCH_r07.json",
           {"sf": 0.1, "parsed": None, "tail": '"queries": {"a": 1.0}'})
    # r8-style artifact: canary only in the truncated tail
    _write(tmp_path / "BENCH_r08.json",
           {"sf": 0.1, "parsed": None,
            "tail": 'xx "canary": {"n": 16, "total_median": 4.911} yy'})
    # r9-style artifact: fully parsed JSON
    _write(tmp_path / "BENCH_r09.json",
           {"sf": 0.1,
            "parsed": {"canary": {"total_median": 5.0}}, "tail": ""})
    # wrong-sf artifact must be filtered out
    _write(tmp_path / "BENCH_r10.json",
           {"sf": 0.01,
            "parsed": {"canary": {"total_median": 9.9}}, "tail": ""})
    # local history: one matching line, one wrong-sf line, one junk line
    with open(tmp_path / ".bench_history.jsonl", "w") as fh:
        fh.write(json.dumps({"sf": 0.1, "canary_total_median": 5.2}) + "\n")
        fh.write(json.dumps({"sf": 0.01, "canary_total_median": 7.7}) + "\n")
        fh.write("not json\n")
    got = bench.canary_readings(str(tmp_path), 0.1)
    assert got == [
        ("BENCH_r08.json:tail", 4.911),
        ("BENCH_r09.json", 5.0),
        (".bench_history.jsonl", 5.2),
    ]


def test_readings_order_by_round_number_not_lexicographic(tmp_path):
    # r10 must sort AFTER r09 (lexicographic order would reverse them)
    _write(tmp_path / "BENCH_r09.json",
           {"sf": 0.1, "parsed": {"canary": {"total_median": 1.0}}})
    _write(tmp_path / "BENCH_r10.json",
           {"sf": 0.1, "parsed": {"canary": {"total_median": 2.0}}})
    got = bench.canary_readings(str(tmp_path), 0.1)
    assert [v for _, v in got] == [1.0, 2.0]


def test_readings_empty_dir(tmp_path):
    assert bench.canary_readings(str(tmp_path), 0.1) == []


# ---- round 10: two-axis records + arbitration -----------------------

_H = bench._HEAVY_QUERIES  # frozen heavy-4 names


def test_records_heavy_from_parsed_medians(tmp_path):
    # pre-r10 artifact with full parsed JSON: heavy-4 reconstructed by
    # summing parsed.queries_median
    medians = {n: 5.0 for n in _H}
    medians["other"] = 1.0
    _write(tmp_path / "BENCH_r09.json",
           {"sf": 0.1,
            "parsed": {"canary": {"total_median": 5.0},
                       "queries_median": medians}})
    (rec,) = bench.reading_records(str(tmp_path), 0.1)
    assert rec["canary_total_median"] == 5.0
    assert rec["heavy_total_median"] == 20.0
    assert rec["kind"] == "artifact"


def test_records_heavy_from_truncated_tail_after_median_marker(tmp_path):
    # pre-r10 artifact, parsed null: heavy medians pulled ONLY from the
    # text after the '"queries_median"' marker — the best-of-3 queries
    # dict prints FIRST and must never feed the reconstruction — and
    # the regex must not cross-match prefixed names like *_scale/_pq
    tail = (
        '"%s": 9.9, "%s_scale": 8.8, ' % (_H[0], _H[0])
        + ", ".join('"%s": 1.0' % n for n in _H)  # best-of-3 dict
        + ', "queries_median": {'
        + ", ".join('"%s": 2.0' % n for n in _H)  # medians dict (later)
        + '}, "canary": {"n": 16, "total_median": 4.0}'
    )
    _write(tmp_path / "BENCH_r08.json",
           {"sf": 0.1, "parsed": None, "tail": tail})
    (rec,) = bench.reading_records(str(tmp_path), 0.1)
    assert rec["canary_total_median"] == 4.0
    assert rec["heavy_total_median"] == 8.0  # 4 x 2.0, post-marker only


def test_records_tail_without_median_marker_degrades_to_no_heavy(
    tmp_path,
):
    # ADVICE r10: if the ~2KB truncation cut between the best-of-3
    # queries dict and the queries_median fragment, reconstruction must
    # NOT silently sum best-of-3 values — no marker, no heavy anchor
    tail = (
        ", ".join('"%s": 1.0' % n for n in _H)  # best-of-3 values only
        + ', "canary": {"n": 16, "total_median": 4.0}'
    )
    _write(tmp_path / "BENCH_r08.json",
           {"sf": 0.1, "parsed": None, "tail": tail})
    (rec,) = bench.reading_records(str(tmp_path), 0.1)
    assert rec["canary_total_median"] == 4.0
    assert rec["heavy_total_median"] is None


def test_records_heavy4_block_beats_reconstruction(tmp_path):
    # r10+ artifact: the first-class heavy4 block survives in the tail
    # and takes precedence over per-query reconstruction
    tail = (
        '"%s": 1.0, ' % _H[0]
        + '"canary": {"total_median": 4.0}, '
        + '"heavy4": {"n": 4, "total_median": 21.5}'
    )
    _write(tmp_path / "BENCH_r10.json",
           {"sf": 0.1, "parsed": None, "tail": tail})
    (rec,) = bench.reading_records(str(tmp_path), 0.1)
    assert rec["heavy_total_median"] == 21.5


def test_records_history_heavy(tmp_path):
    with open(tmp_path / ".bench_history.jsonl", "w") as fh:
        fh.write(json.dumps({"sf": 0.1, "canary_total_median": 5.2,
                             "heavy_total_median": 20.5}) + "\n")
        fh.write(json.dumps({"sf": 0.1, "canary_total_median": 5.3}) + "\n")
    recs = bench.reading_records(str(tmp_path), 0.1)
    assert [r["heavy_total_median"] for r in recs] == [20.5, None]
    assert all(r["kind"] == "history" for r in recs)


def test_records_history_skips_latency_contaminated_lines(tmp_path):
    # a reading taken while per-action latency was elevated must not
    # become a prior anchor; lines predating latency_factor are kept
    hot = bench.LATENCY_FLAT_THRESHOLD + 0.2
    with open(tmp_path / ".bench_history.jsonl", "w") as fh:
        fh.write(json.dumps({"sf": 0.1, "canary_total_median": 5.0}) + "\n")
        fh.write(json.dumps({"sf": 0.1, "canary_total_median": 5.1,
                             "latency_factor": 1.0}) + "\n")
        fh.write(json.dumps({"sf": 0.1, "canary_total_median": 7.5,
                             "heavy_total_median": 30.0,
                             "latency_factor": hot}) + "\n")
        fh.write(json.dumps({"sf": 0.1, "canary_total_median": 5.2,
                             "latency_factor":
                             bench.LATENCY_FLAT_THRESHOLD}) + "\n")
    recs = bench.reading_records(str(tmp_path), 0.1)
    assert [r["canary_total_median"] for r in recs] == [5.0, 5.1, 5.2]
    _, cr, _ = bench.arbitrate(5.25, None, recs)
    assert cr["ratio_vs_prev"] == round(5.25 / 5.2, 4)


_CUR = object()  # sentinel: "the current ledger basis"


def _recs(*pairs, basis=_CUR):
    """(kind, canary, heavy) triples -> records list. Default basis is
    the CURRENT ledger token (so the ladder tests stay valid across
    future re-anchors); pass ``basis=None`` for a record that predates
    the ledger (assumed legacy first token by ``arbitrate``)."""
    b = bench.HEAVY_BASIS if basis is _CUR else basis
    return [
        {"source": f"{k}{i}", "kind": k,
         "canary_total_median": c, "heavy_total_median": h,
         "heavy_basis": b}
        for i, (k, c, h) in enumerate(pairs)
    ]


def test_arbitrate_flat_requires_both_anchors_flat():
    # the r9 ratchet: flat vs interleaved history but >threshold vs the
    # last committed artifact must NOT read flat
    prior = _recs(("artifact", 5.0, 20.0), ("history", 5.8, 20.1))
    verdict, cr, hr = bench.arbitrate(6.05, 20.2, prior)
    assert cr["ratio_vs_prev"] == round(6.05 / 5.8, 4)      # 1.04 flat
    assert cr["ratio_vs_last_round"] == round(6.05 / 5.0, 4)  # 1.21 fires
    assert verdict == "layout-smear"  # heavy flat on both anchors
    assert cr["last_round_source"] == "artifact0"
    assert hr["ratio_vs_last_round"] == round(20.2 / 20.0, 4)


def test_arbitrate_verdict_matrix():
    prior = _recs(("artifact", 5.0, 20.0))
    assert bench.arbitrate(5.1, 20.1, prior)[0] == "flat"
    assert bench.arbitrate(6.5, 20.1, prior)[0] == "layout-smear"
    assert bench.arbitrate(6.5, 25.0, prior)[0] == "regression-suspect"
    # canary fires but no heavy anchor anywhere -> investigate
    no_heavy = _recs(("artifact", 5.0, None))
    assert bench.arbitrate(6.5, 20.0, no_heavy)[0] == "investigate"
    assert bench.arbitrate(5.0, 20.0, [])[0] == "no-prior"


def test_arbitrate_ambient_latency_suspect():
    # round 12 — VERDICT r11 #3: both axes fire, but the reading's own
    # per-action latency probe is elevated -> the mechanized verdict
    # blames the box, not the code (the r11 contamination signature:
    # canary 1.46x on 16 code-unchanged queries while load_factor read
    # 0.96 — the CPU probe can't see scheduler/IO latency).
    prior = _recs(("artifact", 5.0, 20.0))
    assert (
        bench.arbitrate(6.5, 25.0, prior, latency_factor=1.5)[0]
        == "ambient-latency-suspect"
    )
    # latency flat (or probe absent) -> plain regression-suspect
    assert (
        bench.arbitrate(6.5, 25.0, prior, latency_factor=1.1)[0]
        == "regression-suspect"
    )
    assert bench.arbitrate(6.5, 25.0, prior)[0] == "regression-suspect"
    # elevated latency must NOT rewrite the other rungs: heavy-flat is
    # still a layout-smear call, both-flat still flat, heavy-only still
    # escalates (a heavy-confined quadratic is not a latency artifact)
    assert (
        bench.arbitrate(6.5, 20.1, prior, latency_factor=1.5)[0]
        == "layout-smear"
    )
    assert bench.arbitrate(5.1, 20.1, prior, latency_factor=1.5)[0] == "flat"
    assert (
        bench.arbitrate(5.1, 25.0, prior, latency_factor=1.5)[0]
        == "heavy-investigate"
    )


def test_bench_sidecar_roundtrip(tmp_path):
    # round 12 — VERDICT r11 #4: the JSON line survives stdout-tail
    # truncation via the bench_last.json sidecar
    line = json.dumps({"metric": "m", "value": 1.0, "queries": {}})
    bench._write_sidecar(str(tmp_path), line)
    with open(tmp_path / "bench_last.json") as fh:
        assert json.loads(fh.read()) == json.loads(line)


def test_arbitrate_heavy_investigate_when_canary_flat():
    # round 11 — VERDICT r10 #1: a regression confined to the heavy-4
    # (canary flat on both anchors) must escalate, not print flat
    prior = _recs(("artifact", 5.0, 20.0))
    verdict, cr, hr = bench.arbitrate(5.1, 25.0, prior)
    assert verdict == "heavy-investigate"
    assert hr["ratio_vs_last_round"] == 1.25
    # heavy flat too -> plain flat
    assert bench.arbitrate(5.1, 20.4, prior)[0] == "flat"
    # no canary anchor at all but heavy fires -> still escalates
    heavy_only = _recs(("artifact", None, 20.0))
    assert bench.arbitrate(None, 25.0, heavy_only)[0] == "heavy-investigate"


def test_arbitrate_reanchor_resets_heavy_axis():
    # round 11 — VERDICT r10 #1: a deliberate cost-basis change (r10's
    # 5->50 widening pushed heavy to 1.47) is acknowledged by bumping
    # the ledger token; readings under the OLD basis (or predating the
    # ledger entirely -> basis None) stop anchoring the heavy axis, so
    # the verdict degrades to flat/investigate instead of firing
    # forever against a stale basis
    old = _recs(("artifact", 5.0, 20.0), basis=None)  # pre-ledger
    verdict, cr, hr = bench.arbitrate(
        5.1, 30.0, old, heavy_basis="r11-new-basis"
    )
    assert verdict == "flat"  # canary anchors fine; heavy n/a
    assert hr["ratio_vs_prev"] is None
    assert hr["prev_source"] is None
    # same-basis readings resume anchoring
    fresh = old + _recs(("history", 5.0, 29.5), basis="r11-new-basis")
    verdict2, _, hr2 = bench.arbitrate(
        5.1, 30.0, fresh, heavy_basis="r11-new-basis"
    )
    assert hr2["ratio_vs_prev"] == round(30.0 / 29.5, 4)
    assert verdict2 == "flat"
    # and a pre-ledger record DOES anchor when current basis == legacy
    legacy_tok = bench._HEAVY_BASIS_HISTORY[0][0]
    _, _, hr3 = bench.arbitrate(5.1, 30.0, old, heavy_basis=legacy_tok)
    assert hr3["ratio_vs_prev"] == 1.5


def test_records_heavy_basis_from_tail_block_and_history(tmp_path):
    tail = ('"canary": {"total_median": 4.0}, '
            '"heavy4": {"n": 4, "total_median": 21.5, '
            '"heavy_basis": "r11-x"}')
    _write(tmp_path / "BENCH_r11.json",
           {"sf": 0.1, "parsed": None, "tail": tail})
    with open(tmp_path / ".bench_history.jsonl", "w") as fh:
        # heavy-only line (canary None — subset guard) must be kept
        fh.write(json.dumps({"sf": 0.1, "canary_total_median": None,
                             "heavy_total_median": 20.5,
                             "heavy_basis": "r11-x"}) + "\n")
    recs = bench.reading_records(str(tmp_path), 0.1)
    assert [r["heavy_basis"] for r in recs] == ["r11-x", "r11-x"]
    assert recs[1]["canary_total_median"] is None
    assert recs[1]["heavy_total_median"] == 20.5


def test_arbitrate_heavy_anchor_skips_heavyless_records():
    # latest record lacks heavy; the heavy axis must anchor on the most
    # recent record that HAS one, not read n/a
    prior = _recs(("artifact", 5.0, 20.0), ("history", 5.1, None))
    verdict, cr, hr = bench.arbitrate(6.5, 20.4, prior)
    assert hr["prev_source"] == "artifact0"
    assert verdict == "layout-smear"


def test_frozen_sets_stay_registered_and_benched():
    """The instrument dies silently if a frozen member is renamed: a
    missing canary query shrinks the subtotal (fake speedup), a missing
    heavy query makes heavy_median None and every verdict degrade to
    'investigate'. Pin both frozen sets to the live registry."""
    from flu_data_pipeline_spark.plans import REGISTRY

    for name in bench._CANARY_QUERIES + bench._HEAVY_QUERIES:
        assert name in REGISTRY, f"frozen bench member {name} unregistered"
        assert REGISTRY[name].bench, f"frozen bench member {name} unbenched"
