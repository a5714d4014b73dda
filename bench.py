#!/usr/bin/env python
"""Benchmark harness: runs the headline queries (registry entries flagged
``bench=True``) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": ...,
     "queries_median": {...}, "value_median": ...,
     "calibration": {...}, "loadavg": {...}, "value_normalized": ...}

Timing = full query execution into Spark's ``noop`` sink — every output
column is materialized on the executors and discarded, nothing is
collected to the driver. (A bare ``count()`` would let Catalyst prune
unreferenced computed columns and under-report projection-heavy queries.)

Warmup policy (round 4): each query is warmed IMMEDIATELY before its
timed runs, not in a separate all-queries pass. With 45 queries of
whole-stage-codegen classes in one JVM, an up-front global warmup lets
later queries evict earlier queries' JIT-compiled code from the code
cache, so the timed runs re-pay deopt/re-JIT (measured: 0.6 s query →
1.4 s best-of-3 under the old policy, reproduced and bisected in round
4). Grouping warmup+timing per query measures steady plan execution,
which is what a real deployment of any single query sees. The session
factory also raises ReservedCodeCacheSize to 1g (session.py).

Environment-proofing (round 5): the one hard perf signal a reader gets
is this JSON line, and it is load-sensitive — round 4's driver artifact
read a phantom 1.15x "regression" that an idle-box rerun dismissed as
ambient load. Three fields let a reader normalize without a rerun:

- ``calibration``: a PINNED constant-cost CPU probe (4e9-row range →
  double xxhash64 → sum, pure whole-stage codegen, zero IO) timed
  median-of-5 at suite start AND end. ``load_factor`` = mean(start,
  end) / PROBE_REF_SEC, where PROBE_REF_SEC was measured on an idle
  32-thread container. The probe is PERFECTLY parallel, so ambient
  CPU load inflates it by the full contention factor; the suite's
  queries carry serial/driver/few-task phases and inflate LESS.
  Naive division therefore overcorrects (measured: probe 1.74x but
  suite 1.16x under 32 busy procs). The Amdahl-style correction
  ``value_normalized = value / (1 + SUITE_CPU_SENSITIVITY *
  (load_factor - 1))`` uses the suite's fitted parallel-phase
  fraction (~0.24 at sf0.1), which lands idle / 16-proc / 32-proc
  runs within ±2% of each other (BASELINE.md, "Bench calibration").
  Scope: models CPU contention on this hardware class only — a
  load_factor near 1.0 with a slow subtotal points at IO or memory
  bandwidth instead, and the raw probe numbers stay in the JSON so a
  reader can re-derive.
- ``loadavg``: os.getloadavg() at start and end (context, not math —
  note the suite itself keeps ~32 cores busy, so the END loadavg
  includes our own work).
- ``queries_median`` / ``value_median``: median-of-5 per query
  alongside the historical best-of-3 (min of the first 3 runs, kept
  bit-compatible with rounds 1-4 artifacts). Median is robust to a
  single background burst; a large median/best gap per query flags
  intra-run interference.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flu_data_pipeline_spark.plans import REGISTRY
from flu_data_pipeline_spark.session import get_spark

#: Idle-box reference for the calibration probe (median-of-5 seconds),
#: measured on the development container: 32 threads, local[32],
#: ReservedCodeCacheSize=1g, no background load. Re-pin when the
#: hardware class changes; the probe/ref RATIO is what normalizes.
PROBE_REF_SEC = 1.12

#: Fraction of suite wall-time that scales with full-parallel CPU
#: contention (the Amdahl "parallel share" of the bench set at sf0.1).
#: Fitted from a controlled two-level load experiment (16 and 32
#: background busy-loops on 32 cores): suite inflation / probe
#: inflation gave 0.268 and 0.215; 0.24 normalizes all observed runs
#: to within ±2% of the idle subtotal (BASELINE.md). Grows with SF as
#: queries become compute-bound — refit if the bench SF changes.
SUITE_CPU_SENSITIVITY = 0.24

_PROBE_ROWS = 4_000_000_000
_PROBE_PARTS = 64

#: Idle-box reference for the PER-ACTION LATENCY probe (median seconds
#: of a 1-row, 1-partition noop write — pure driver/scheduler action
#: cost, ~zero compute), measured like PROBE_REF_SEC on the idle
#: development container. The CPU probe has a documented blind spot
#: (VERDICT r11 #2/#3): scheduler/IO contention from host neighbors
#: inflates every driver action ~1.5x while the perfectly-parallel CPU
#: probe reads ~1.0 — exactly the contamination class that burned both
#: r11 driver captures (canary printed regression-suspect on 16
#: code-unchanged sub-second queries). The latency probe measures that
#: axis directly; ``latency_factor`` = mean(start, end) / this ref.
#: Pinned from an idle 32-thread container, bench order (CPU probe
#: first, 10 warm actions): start-position median 0.036, fully-warm
#: 0.030 — the mean of the two positions.
LATENCY_REF_SEC = 0.033

#: latency_factor above this = the box's per-action latency is
#: materially elevated vs the idle reference; a canary/heavy excursion
#: under it is ambient contention until re-measured on a quiet box.
#: 1.35 sits above the idle-box run-to-run band (measured 0.91-1.09
#: across back-to-back idle medians-of-15) and below the r11
#: contamination event (~1.5x per-action).
LATENCY_FLAT_THRESHOLD = 1.35

#: Canary-arbitration threshold (round 9, mechanizing BASELINE.md's
#: reading protocol): the frozen canary-16 subtotal ratio vs each
#: anchor at the SAME sf. ratio <= 1.15 -> "flat" (any raw-total
#: movement is load or new work — r8's raw 1.20 read with canary 1.03
#: was exactly this); ratio > 1.15 -> consult the heavy-4 axis (round
#: 10, below). 1.15 sits above the measured round-over-round canary
#: noise band (0.95-1.08 across r7/r8 driver/builder/judge runs) and
#: below the smallest smear worth forensics (the round-4 event was
#: ~1.3x).
CANARY_FLAT_THRESHOLD = 1.15

_HISTORY_FILE = ".bench_history.jsonl"

#: Frozen heavy-query subtotal (round 10 — VERDICT r9 #1): the second
#: arbitration axis. The canary-16 is deliberately the SMALLEST size
#: class (the one a JVM code-cache layout smear inflates uniformly);
#: these four are long-standing multi-second queries whose runtime is
#: dominated by executor work, which a layout smear does NOT move
#: (r9 forensics: canary 1.21 vs the r8 artifact while dedup_semdedup
#: read 1.04x and the semdedup family 0.94-1.11x). canary up + heavy
#: flat = layout smear; both up = regression-suspect. Frozen like the
#: canary — must never grow with the registry.
_HEAVY_QUERIES = (
    "dedup_semdedup",
    "semdedup_drop_witnesses",
    "ann_serving_frontier",
    "embedding_pca_topk_deflation",
)

#: Heavy-4 cost-basis ledger (round 11 — VERDICT r10 #1): when a
#: DELIBERATE measurement-cost change lands on a heavy member (r10's
#: 5->50 query-vector widening pushed the heavy ratio to 1.47 and the
#: "that's deliberate" arbitration lived only in BASELINE.md prose),
#: append a new token here with a note. The CURRENT basis is the last
#: entry; every bench reading emits it (heavy4.heavy_basis, history
#: lines) and ``arbitrate`` only anchors the heavy axis on readings
#: whose basis matches — readings predating the field are assumed the
#: FIRST (legacy) token. Bumping the token therefore resets the heavy
#: anchor mechanically: ratios read n/a until the first post-change
#: reading lands, instead of firing forever against a stale cost basis
#: or being waved off in prose. The canary-16 axis needs no ledger —
#: its members are frozen sub-second queries whose measured work never
#: deliberately changes.
_HEAVY_BASIS_HISTORY = (
    ("r10-50q", "serving evals widened to 50 query vectors"),
    ("r11-shared-truth",
     "serving evals read the persisted fingerprint-cached exact-truth "
     "artifact (similarity_queries._serving_truth_path) instead of "
     "each recomputing the |Q|xN brute top-3 in-query"),
)
HEAVY_BASIS = _HEAVY_BASIS_HISTORY[-1][0]
HEAVY_REANCHOR_NOTE = _HEAVY_BASIS_HISTORY[-1][1]


def reading_records(root: str, sf) -> list[dict]:
    """All recoverable prior bench readings at this ``sf``, oldest ->
    newest, each a dict with ``source``, ``kind`` ("artifact" for a
    committed driver BENCH_r{N}.json, "history" for a local
    ``.bench_history.jsonl`` line), ``canary_total_median`` and
    ``heavy_total_median`` (None when that reading predates the
    heavy-4 axis and can't be reconstructed) plus ``heavy_basis`` (the
    cost-basis token the reading was taken under; None when the reading
    predates the ledger — treated as the legacy first token). Artifact
    extraction order: the ``parsed`` JSON when the driver captured it
    whole, else the truncated ``tail`` (last ~2KB of stdout — the
    canary/heavy4 blocks are printed near the END of the JSON line
    precisely so they survive this truncation; per-query heavy medians
    are pulled ONLY from text after the ``"queries_median"`` marker —
    if truncation cut that marker off, reconstruction would silently
    sum best-of-3 values from the ``queries`` dict instead, so a
    marker-less tail degrades to no-heavy-anchor, ADVICE r10).
    History lines whose recorded ``latency_factor`` exceeds
    ``LATENCY_FLAT_THRESHOLD`` are skipped: their medians were inflated
    by ambient per-action latency, and as an anchor they would make a
    real regression in the next reading read flat. Lines without the
    field predate it and are kept."""
    import glob
    import re as _re

    records: list[dict] = []

    def _art_round(path: str) -> int:
        m = _re.search(r"BENCH_r(\d+)\.json$", path)
        return int(m.group(1)) if m else -1

    def _heavy_from_medians(medians) -> float | None:
        if not isinstance(medians, dict):
            return None
        vals = [medians.get(n) for n in _HEAVY_QUERIES]
        if all(isinstance(v, (int, float)) for v in vals):
            return round(sum(float(v) for v in vals), 4)
        return None

    for path in sorted(glob.glob(os.path.join(root, "BENCH_r*.json")),
                       key=_art_round):
        try:
            with open(path) as fh:
                d = json.load(fh)
        except (OSError, ValueError):
            continue
        if d.get("sf") != sf:
            continue
        name = os.path.basename(path)
        parsed = d.get("parsed")
        tail = d.get("tail", "")
        canary_tm = None
        heavy_tm = None
        heavy_basis = None
        source = name
        if isinstance(parsed, dict):
            if isinstance(parsed.get("canary"), dict):
                tm = parsed["canary"].get("total_median")
                if isinstance(tm, (int, float)):
                    canary_tm = float(tm)
            if isinstance(parsed.get("heavy4"), dict):
                tm = parsed["heavy4"].get("total_median")
                if isinstance(tm, (int, float)):
                    heavy_tm = float(tm)
                hb = parsed["heavy4"].get("heavy_basis")
                if isinstance(hb, str):
                    heavy_basis = hb
            if heavy_tm is None:
                heavy_tm = _heavy_from_medians(parsed.get("queries_median"))
        if canary_tm is None:
            m = _re.search(r'"canary": (\{[^{}]*\})', tail)
            if m:
                try:
                    tm = json.loads(m.group(1)).get("total_median")
                    if isinstance(tm, (int, float)):
                        canary_tm = float(tm)
                        source = f"{name}:tail"
                except ValueError:
                    pass
        if heavy_tm is None and tail:
            m = _re.search(r'"heavy4": (\{[^{}]*\})', tail)
            if m:
                try:
                    blk = json.loads(m.group(1))
                    tm = blk.get("total_median")
                    if isinstance(tm, (int, float)):
                        heavy_tm = float(tm)
                    hb = blk.get("heavy_basis")
                    if isinstance(hb, str):
                        heavy_basis = hb
                except ValueError:
                    pass
            if heavy_tm is None:
                # pre-r10 artifact: reconstruct from per-query entries
                # AFTER the '"queries_median"' marker only — the
                # best-of-3 queries dict prints first, and if the ~2KB
                # truncation ate the marker, matching anywhere would
                # silently sum (or mix in) best-of-3 values (ADVICE
                # r10). No marker -> no heavy anchor from this tail.
                marker = tail.rfind('"queries_median"')
                if marker >= 0:
                    med_tail = tail[marker:]
                    vals = []
                    for qn in _HEAVY_QUERIES:
                        ms = _re.findall(
                            r'"%s": ([0-9.]+)' % _re.escape(qn), med_tail
                        )
                        if not ms:
                            vals = None
                            break
                        vals.append(float(ms[-1]))
                    if vals is not None:
                        heavy_tm = round(sum(vals), 4)
        if canary_tm is None and heavy_tm is None:
            continue
        records.append(
            {
                "source": source,
                "kind": "artifact",
                "canary_total_median": canary_tm,
                "heavy_total_median": heavy_tm,
                "heavy_basis": heavy_basis,
            }
        )
    try:
        with open(os.path.join(root, _HISTORY_FILE)) as fh:
            for ln in fh:
                try:
                    d = json.loads(ln)
                except ValueError:
                    continue
                if d.get("sf") != sf:
                    continue
                lf = d.get("latency_factor")
                if isinstance(lf, (int, float)) and lf > LATENCY_FLAT_THRESHOLD:
                    continue
                ctm = d.get("canary_total_median")
                htm = d.get("heavy_total_median")
                if not isinstance(ctm, (int, float)) and not isinstance(
                    htm, (int, float)
                ):
                    continue
                hb = d.get("heavy_basis")
                records.append(
                    {
                        "source": _HISTORY_FILE,
                        "kind": "history",
                        "canary_total_median": float(ctm)
                        if isinstance(ctm, (int, float)) else None,
                        "heavy_total_median": float(htm)
                        if isinstance(htm, (int, float)) else None,
                        "heavy_basis": hb if isinstance(hb, str) else None,
                    }
                )
    except OSError:
        pass
    return records


def canary_readings(root: str, sf) -> list[tuple[str, float]]:
    """Back-compat view of :func:`reading_records`: (source,
    canary_total_median) pairs, oldest -> newest, canary-bearing
    records only."""
    return [
        (r["source"], r["canary_total_median"])
        for r in reading_records(root, sf)
        if r["canary_total_median"] is not None
    ]


def arbitrate(canary_median, heavy_median, prior_records,
              threshold: float = CANARY_FLAT_THRESHOLD,
              heavy_basis: str = HEAVY_BASIS,
              latency_factor: float | None = None,
              latency_threshold: float = LATENCY_FLAT_THRESHOLD):
    """Two-axis smear-vs-regression arbitration (round 10 — VERDICT r9
    #1: the r9 committed verdict read "flat" at 1.046 vs interleaved
    local history while the same canary read 1.21 vs the committed r8
    artifact; the saving arbitration lived in prose). Each axis is
    compared against TWO anchors — the most recent recoverable reading
    of any kind (``ratio_vs_prev``, catches intra-round drift) and the
    last committed driver artifact (``ratio_vs_last_round``, immune to
    history ratcheting). The heavy axis only anchors on readings taken
    under the SAME cost basis (``heavy_basis``; readings predating the
    ledger count as the legacy first token) — a deliberate measurement
    change bumps ``_HEAVY_BASIS_HISTORY`` and the heavy anchor resets
    mechanically instead of firing against a stale basis (round 11 —
    VERDICT r10 #1). A ratio fires when it exceeds ``threshold``:

    - canary fires, no heavy anchor     -> "investigate"
    - canary fires, heavy flat          -> "layout-smear" (JVM
      code-cache drift: small queries smear uniformly, executor-bound
      heavy queries hold — rerun or compare decade tables)
    - canary fires, heavy fires         -> "regression-suspect" (read
      the per-query table; something real moved)
    - canary flat/absent, heavy fires   -> "heavy-investigate" (round
      11 — VERDICT r10 #1: a regression confined to the four most
      expensive queries — exactly where a quadratic lands — previously
      printed "flat" forever; r10's 1.47 heavy excursion was arbitrated
      only in prose)
    - canary flat, heavy flat/absent    -> "flat"
    - no anchor on either axis          -> "no-prior"

    ``latency_factor`` (round 12 — VERDICT r11 #3): the per-action
    latency probe closes the CPU probe's blind spot. When BOTH axes
    fire but the reading's own latency probe is elevated past
    ``latency_threshold``, the verdict is "ambient-latency-suspect"
    instead of "regression-suspect": an elevated per-action latency
    inflates every driver barrier uniformly — sub-second canaries AND
    the barrier-heavy multi-second queries alike — which is exactly
    the r11 contamination signature (canary 1.46x on 16 code-unchanged
    queries, load_factor 0.96, same-day 8-core run flat). The reading
    is still suspect — rerun on a quiet box — but the mechanized call
    no longer blames the code. A latency-flat (or probe-less) reading
    keeps the plain regression-suspect verdict.

    Returns ``(verdict, canary_ratios, heavy_ratios)`` where each
    ratios dict carries ratio_vs_prev / prev_source /
    ratio_vs_last_round / last_round_source."""

    legacy = _HEAVY_BASIS_HISTORY[0][0]

    def _anchors(key, basis_required=None):
        bearing = [r for r in prior_records if r.get(key) is not None]
        if basis_required is not None:
            bearing = [
                r for r in bearing
                if (r.get("heavy_basis") or legacy) == basis_required
            ]
        prev = bearing[-1] if bearing else None
        arts = [r for r in bearing if r["kind"] == "artifact"]
        last_round = arts[-1] if arts else None
        return prev, last_round

    def _ratio(cur, rec, key):
        if cur is None or rec is None or not rec.get(key):
            return None
        return round(cur / rec[key], 4)

    c_prev, c_last = _anchors("canary_total_median")
    h_prev, h_last = _anchors("heavy_total_median",
                              basis_required=heavy_basis)
    canary_ratios = {
        "ratio_vs_prev": _ratio(canary_median, c_prev,
                                "canary_total_median"),
        "prev_source": c_prev["source"] if c_prev else None,
        "ratio_vs_last_round": _ratio(canary_median, c_last,
                                      "canary_total_median"),
        "last_round_source": c_last["source"] if c_last else None,
    }
    heavy_ratios = {
        "ratio_vs_prev": _ratio(heavy_median, h_prev,
                                "heavy_total_median"),
        "prev_source": h_prev["source"] if h_prev else None,
        "ratio_vs_last_round": _ratio(heavy_median, h_last,
                                      "heavy_total_median"),
        "last_round_source": h_last["source"] if h_last else None,
    }
    cr = [v for v in (canary_ratios["ratio_vs_prev"],
                      canary_ratios["ratio_vs_last_round"])
          if v is not None]
    hr = [v for v in (heavy_ratios["ratio_vs_prev"],
                      heavy_ratios["ratio_vs_last_round"])
          if v is not None]
    if cr and max(cr) > threshold:
        if not hr:
            verdict = "investigate"
        elif max(hr) <= threshold:
            verdict = "layout-smear"
        elif latency_factor is not None and latency_factor > latency_threshold:
            verdict = "ambient-latency-suspect"
        else:
            verdict = "regression-suspect"
    elif hr and max(hr) > threshold:
        verdict = "heavy-investigate"
    elif cr:
        verdict = "flat"
    else:
        verdict = "no-prior"
    return verdict, canary_ratios, heavy_ratios

#: JIT-layout canary (round 8): 16 small queries PINNED at the r7 suite
#: — this tuple must NEVER grow with the registry. The round-4/round-7
#: forensics: as the bench suite grows, hundreds of distinct codegen
#: classes shift the JVM code-cache layout and small queries smear
#: uniformly ~1.3x with no plan change (heavy queries hold). Because
#: the canary set is frozen, its subtotal separates the two failure
#: modes across rounds: canary up uniformly + heavy queries flat =
#: code-cache layout drift (rerun, or compare decade tables); one
#: query up alone = a real plan/code regression. Chosen as the 16
#: fastest long-standing queries of BENCH_r07 (0.17-0.47 s — the size
#: class the smear hits hardest), spanning join/window/sketch/text/
#: multimodal/ANN families.
_CANARY_QUERIES = (
    "text_chunk_windows",
    "q6_forecast_revenue",
    "topk_window_group_limit",
    "bucketed_join_no_shuffle",
    "join_left_broadcast",
    "aqe_skew_join_split",
    "centroid_cosine_matrix",
    "text_quality_score",
    "pricing_summary",
    "scd2_priority_history",
    "multimodal_cas_chunks",
    "asof_purchase_click",
    "cms_term_frequency",
    "ann_topk_cosine",
    "join_range_bin_windows",
    "promo_revenue_share",
)


def _code_cache_used_mb(spark) -> dict[str, float]:
    """Used MiB per JVM code-heap pool (JIT-compiled method storage),
    read via the MemoryPoolMXBeans. Paired with the canary: a bench
    whose 'non-nmethods'/'non-profiled nmethods' pools sit near their
    caps corroborates a layout-drift reading of a canary smear."""
    try:
        mf = spark._jvm.java.lang.management.ManagementFactory
        out: dict[str, float] = {}
        it = mf.getMemoryPoolMXBeans().iterator()
        while it.hasNext():
            pool = it.next()
            name = pool.getName()
            if "CodeHeap" in name or "Code Cache" in name:
                out[name] = round(
                    pool.getUsage().getUsed() / 1048576.0, 1
                )
        return out
    except Exception:
        return {}


def _probe_once(spark) -> float:
    t0 = time.perf_counter()
    (
        spark.range(0, _PROBE_ROWS, 1, _PROBE_PARTS)
        .selectExpr("sum(xxhash64(xxhash64(id))) as s")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def _probe_median5(spark) -> float:
    _probe_once(spark)  # JIT warm
    return round(statistics.median(_probe_once(spark) for _ in range(5)), 4)


def _latency_once(spark) -> float:
    """Wall seconds of ONE minimal driver action: a 1-row, 1-partition
    noop write. Virtually zero compute — the time is scheduling, job
    submission, and the driver/executor round-trip, i.e. the per-action
    cost every blocking barrier in the suite pays."""
    t0 = time.perf_counter()
    (
        spark.range(0, 1, 1, 1)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def _latency_median(spark, n: int = 15, warm: int = 10) -> float:
    """Median of ``n`` per-action latencies after ``warm`` unmeasured
    actions (the action path itself JITs over the first ~10 calls:
    measured 0.065 -> 0.040 median across consecutive batches on an
    idle box). Total cost ~1 s on a healthy box."""
    for _ in range(warm):
        _latency_once(spark)
    return round(
        statistics.median(_latency_once(spark) for _ in range(n)), 4
    )


def _write_sidecar(repo: str, line: str) -> None:
    """Persist the bench JSON line to ``bench_last.json`` at the repo
    root (round 12 — VERDICT r11 #4): the driver captures only the last
    ~2KB of stdout, and two rounds running PERF comparisons have now
    been lost to a truncated tail (BENCH_r10.json ``parsed: null``).
    The stdout contract is unchanged — this is a self-defending copy of
    the same line."""
    try:
        with open(os.path.join(repo, "bench_last.json"), "w") as fh:
            fh.write(line + "\n")
    except OSError:
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="flu_data_pipeline_spark-bench")

    load_start = os.getloadavg()
    probe_start = _probe_median5(spark)
    latency_start = _latency_median(spark)

    bench_queries = {n: q for n, q in REGISTRY.items() if q.bench}
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}

    def run(qd) -> None:
        # noop sink: full evaluation of every output column, zero driver
        # transfer — count() would prune computed-but-unreferenced columns
        qd.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Per-query: warmup immediately before the timed runs (see module
    # docstring — a global warmup pass lets later queries evict earlier
    # queries' JIT code, polluting the timed runs). 5 timed runs: the
    # first 3 keep the historical best-of-3 series; all 5 feed the
    # median. Single runs swing ±50% from JIT/GC noise at these sizes.
    for name, qd in bench_queries.items():
        run(qd)  # warmup: JIT/codegen/IO caches for THIS query
        runs: list[float] = []
        for _ in range(5):
            t0 = time.perf_counter()
            run(qd)
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs[:3]), 4)
        medians[name] = round(statistics.median(runs), 4)

    probe_end = _probe_median5(spark)
    latency_end = _latency_median(spark)
    load_end = os.getloadavg()
    load_factor = round(
        ((probe_start + probe_end) / 2.0) / PROBE_REF_SEC, 4
    )
    latency_factor = round(
        ((latency_start + latency_end) / 2.0) / LATENCY_REF_SEC, 4
    )
    correction = 1.0 + SUITE_CPU_SENSITIVITY * (load_factor - 1.0)

    total = round(sum(timings.values()), 4)
    # Both frozen subtotals are None unless the FULL frozen set ran: a
    # bench over a query subset would otherwise write a shrunken
    # subtotal into the history, anchoring later ratios artificially
    # low and masking a real regression (ADVICE r10 — the heavy-4 axis
    # already guarded this; the canary axis now mirrors it).
    canary_present = [n for n in _CANARY_QUERIES if n in medians]
    canary_median = (
        round(sum(medians[n] for n in canary_present), 4)
        if len(canary_present) == len(_CANARY_QUERIES) else None
    )
    heavy_present = [n for n in _HEAVY_QUERIES if n in medians]
    heavy_median = (
        round(sum(medians[n] for n in heavy_present), 4)
        if len(heavy_present) == len(_HEAVY_QUERIES) else None
    )
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    repo = os.path.dirname(os.path.abspath(__file__))
    prior = reading_records(repo, sf_val)
    verdict, canary_ratios, heavy_ratios = arbitrate(
        canary_median, heavy_median, prior, latency_factor=latency_factor
    )
    if canary_median is not None or heavy_median is not None:
        try:  # local reading history (gitignored) — feeds the next ratio
            with open(os.path.join(repo, _HISTORY_FILE), "a") as fh:
                fh.write(
                    json.dumps(
                        {
                            "ts": round(time.time(), 1),
                            "sf": sf_val,
                            "canary_total_median": canary_median,
                            "heavy_total_median": heavy_median,
                            "heavy_basis": HEAVY_BASIS,
                            "latency_factor": latency_factor,
                            "value": total,
                        }
                    )
                    + "\n"
                )
        except OSError:
            pass
    line = (
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "queries_median": medians,
                "value_median": round(sum(medians.values()), 4),
                "canary": {
                    "n": len(canary_present),
                    "total_best3": round(
                        sum(timings[n] for n in canary_present), 4
                    ),
                    "total_median": canary_median,
                    **canary_ratios,
                    "flat_threshold": CANARY_FLAT_THRESHOLD,
                    "verdict": verdict,
                },
                "heavy4": {
                    "n": len(heavy_present),
                    "queries": list(_HEAVY_QUERIES),
                    "total_best3": round(
                        sum(timings[n] for n in heavy_present), 4
                    ),
                    "total_median": heavy_median,
                    **heavy_ratios,
                    "flat_threshold": CANARY_FLAT_THRESHOLD,
                    "heavy_basis": HEAVY_BASIS,
                    "heavy_reanchor_note": HEAVY_REANCHOR_NOTE,
                },
                "code_cache_used_mb": _code_cache_used_mb(spark),
                "calibration": {
                    "probe_sec_start": probe_start,
                    "probe_sec_end": probe_end,
                    "probe_ref_sec": PROBE_REF_SEC,
                    "load_factor": load_factor,
                    "latency_sec_start": latency_start,
                    "latency_sec_end": latency_end,
                    "latency_ref_sec": LATENCY_REF_SEC,
                    "latency_factor": latency_factor,
                    "latency_flat_threshold": LATENCY_FLAT_THRESHOLD,
                    "suite_cpu_sensitivity": SUITE_CPU_SENSITIVITY,
                },
                "loadavg": {
                    "start": [round(x, 2) for x in load_start],
                    "end": [round(x, 2) for x in load_end],
                },
                "value_normalized": round(total / correction, 4),
            }
        )
    )
    print(line)
    _write_sidecar(repo, line)
    spark.stop()


if __name__ == "__main__":
    main()
