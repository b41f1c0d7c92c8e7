"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with the `noop` sink (measures scan+compute+shuffle,
not driver collect). One warm-up query amortizes JVM/codegen startup the
way a long-lived server session would (the reference keeps one hot
DataFusion context; we keep one hot SparkSession).

Timing protocol (r7+, self-arbitrating — the r6 verdict's task #1):

* every headline query is timed min-of-3 (``queries``), the same protocol
  as the frozen drift probe, so the two are finally comparable; the
  first-run numbers are also reported (``queries_single_shot``) because
  rounds <= 6 timed single-shot and cross-round diffs need like-for-like;
* the frozen probe (tools/drift_probe.py, never edited) yields ``ratio`` =
  this host's speed vs the round-6 host; ``normalized_value`` =
  value / ratio is the cross-round comparable total;
* ``r6_comparison`` states mechanically whether the totals moved after
  normalization and lists any query > REGRESSION_GATE x its r6 time after
  normalization — the bench itself says "regressed" or "drift", no
  per-round forensics needed;
* ``prev_round_comparison`` (r7 session C) compares min-of-3 against the
  newest driver-recorded BENCH_r{N}.json that used the min-of-3 protocol
  — protocol-clean, so once BENCH_r07.json exists every later round gets
  per-query regression flags free of single-shot interference noise (the
  r6-path per-query flags stay, but are only actionable when this
  comparison agrees or the query's code actually changed).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from seafowl_spark.queries import load_all
from seafowl_spark.session import DEFAULT_SF_DIR, build_session

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q_window_topk",
    "q_sessionize",
    "q_time_window",
    "t_exact_dedup",
    "t_token_stats",
    "s_minhash_lsh_pairs",
    "s_simhash_candidates",
    "s_ann_cosine_bruteforce",
    "s_ann_lsh_topk",
    "q_asof_join",
    "q_combined_pushdown",
    "m_payload_pipeline",
]

N_RUNS = 3
REGRESSION_GATE = 1.15
# r14 (the r13 verdict's task #2 — bench hygiene, not an operator change):
# two headline queries persist() a signature frame INSIDE one invocation
# (queries/similarity._minhash_sigs_df / _simhash_df — legitimately, the
# banding self-join evaluates its input twice within the query). Spark's
# CacheManager canonicalizes EQUAL plans across invocations, so without
# intervention bench runs 2-3 of min-of-3 served the signature stage from
# run 1's cache: min-of-3 measured a warm cache, not the query. The timed
# loop now calls spark.catalog.clearCache() before every timed rep
# (OUTSIDE the perf_counter window), so each rep recomputes from parquet —
# `queries` is cold-cache min-of-3 from r14 on and the record carries
# `cache_cleared: true`. Transition bookkeeping so cross-round
# comparability survives (the verdict's "both protocols" requirement):
# the two affected queries are ALSO timed under the legacy warm protocol
# (`queries_legacy_warm`), and prev_round_comparison substitutes those
# warm numbers when the anchor record predates the change (no
# cache_cleared flag), so a protocol change can never read as a
# per-query regression.
CACHE_AFFECTED = ("s_minhash_lsh_pairs", "s_simhash_candidates")
# r12 (the r11 verdict's task #1): the probe's frozen R6_BASELINE_SEC
# (1.14 s) is stale for the current host era — two judge benches on an
# idle 0.05-load machine read the probe at 1.24-1.41x, tripping the
# suspect tier on clean runs. The QUERY stays frozen (tools/
# drift_probe.py is byte-identical); this constant re-freezes only the
# HOST-ERA expectation: min over a 9-run census on the r12 driver host
# (idle, load < 0.3), recorded below. Two ratios now coexist:
#   * drift_probe["ratio"]  = sec / R6_BASELINE_SEC — UNCHANGED, the
#     cross-round normalization scale every recorded BENCH_r*.json
#     already uses (normalized_value stays comparable r6->now);
#   * drift_probe["era_ratio"] = sec / ERA_BASELINE_SEC — what the
#     environment tiers (invalid / suspect / retry) judge against,
#     so an idle current-era host reads ~1.0 and renders non-suspect.
#
# r12 census (2026-08-16, this driver host, verified 100% idle via
# vmstat — zero steal, load_1m ~0): three run_probe(n=3) batches after
# the bench's own warm-up discipline read 1.410 / 1.368 / 1.435 s
# (min-of-9 = 1.368); the judge's two rested-host benches read 1.418 /
# 1.607 s. Frozen at the census min. For historical ratios:
# ERA_BASELINE_SEC / R6_BASELINE_SEC = 1.20 — this host era is ~1.2x
# slower on the probe than round 6's was.
ERA_BASELINE_SEC = 1.368
ERA = "r12"
# r13: the END-position probe baseline. The era census above was taken
# at START-probe warmth (fresh session + the bench's noop warm-up);
# after the full 16-query headline suite the SAME frozen query reads
# structurally faster — shared whole-stage-codegen and JIT state the
# census never reached. Measured on a verified-idle window (load 0.03,
# window steal integral 0.06%): start 1.48 s / end 1.17 s — a 1.26x
# structural gap; the sealed r12 record shows the same shape (1.636 /
# 1.268 = 1.29x) and so does every prior round. Comparing the two
# probes RAW therefore reads ~0.26 "spread" on a perfectly clean host
# — the spread gate (0.25) tripped on structure, not contention, which
# is exactly how the cleanest rehearsal ever taken still sealed
# suspect. Each probe is now normalized by its own position's baseline
# before the spread compares them. n=1 idle calibration, frozen at the
# observed clean reading (min convention, like the era census),
# cross-checked: r12's sealed end probe lands at 1.084 under it
# (rested-but-post-settle host), today's two steal-phase ends at
# 1.31-1.43 (correctly elevated).
ERA_BASELINE_END_SEC = 1.17
# r11 (the r10 verdict's task #1): a drift-probe ratio above this means
# the HOST is too contended for cross-round comparison to mean anything
# (the sealed r10 run read 1.9x on code byte-identical to r9 and
# published a false "regressed"; the arbitration's verdict: the engine
# got faster, the record measured a contended host). The probe retries
# once (transient spikes pass on retry); if it still exceeds the gate
# every cross-round verdict renders "environment-invalid", never "regressed", and later
# rounds' prev_round_comparison skips this record as an anchor.
DRIFT_INVALID_GATE = 1.5
# r11 follow-up: contention BELOW the invalid gate still skews the
# comparison — the probe is short and min-of-N, so it dodges bursty
# external load that long parallel queries integrate (observed: probe
# 1.05 while every headline query read 1.2-1.7x on a host with load
# average ~5 from another tenant). Two extra signals catch that tier:
# the 1-minute load average sampled BEFORE any Spark work starts, and
# the spread between a probe run BEFORE the timings and the one after.
# Either trips "environment-suspect": numbers still publish, but a
# would-be "regressed" verdict renders "environment-suspect" instead —
# a measurably contended host can publish improvements (conservative)
# but never a regression verdict.
LOAD_SUSPECT_GATE = 2.0
PROBE_SPREAD_GATE = 0.25
# r12: the most common contamination shape in practice is the bench
# launched MINUTES after a heavy run (the judge's first r11 bench read
# 24.1 normalized right after a 58-minute pytest suite; this round's
# first verify bench tripped the spread gate the same way — start probe
# 2.3 s vs end probe 1.44 s, load decaying from an oracle run). The
# bench now SETTLES before measuring: wait (bounded) for the 1-minute
# load to decay below the gate, and retry a contended start probe once.
# This measures the code instead of the scheduler's memory of the
# previous job — genuine mid-window contention still trips the spread/
# load gates.
SETTLE_LOAD_GATE = 1.5
# r13 (the r12 verdict's task #2): the settle loop also waits on the
# 5-MINUTE load average — the r12 census documented a host with 1-min
# ~0.6 but 5-min ~3 reading the probe 4.4x high (the scheduler is
# still unwinding the previous job even after the 1-min average
# decays). Bounded: the 5-min average takes minutes to drain, so the
# cap rises to 8 minutes — a once-per-round cost that buys a clean
# seal.
SETTLE_LOAD_GATE_5M = 2.0
SETTLE_MAX_SEC = 480
# r13 (the r12 verdict's task #2): the old start-probe retry gate
# (1.25 era) was inconsistent with the spread gate — a start probe in
# era 1.13..1.25 could NOT retry yet was guaranteed to trip the 0.25
# spread gate against a clean end probe, sealing the record suspect
# (r12 sealed exactly this: start era 1.196, no retry; end era 0.927;
# spread 0.29). The retry threshold must be the spread gate applied to
# the END-of-window EXPECTATION — a rested host's probe floor, in the
# end-POSITION-normalized units the r13 spread compares (a clean end
# reads ~1.0 against ERA_BASELINE_END_SEC; frozen conservatively at
# 0.9) — so any start reading that would trip the spread against a
# clean end gets retried while the previous job's scheduler memory
# decays.
PROBE_CLEAN_ERA_FLOOR = 0.9
PROBE_START_RETRY_GATE = round(
    (1 + PROBE_SPREAD_GATE) * PROBE_CLEAN_ERA_FLOOR, 3
)  # 1.125
PROBE_START_MAX_RETRIES = 3

# Round-6 single-shot per-query seconds and probe ratio (BENCH_r06.json),
# frozen here so the bench can self-compare. r6's probe ratio was 0.956
# against the same R6_BASELINE_SEC the probe still carries.
R6_QUERIES = {
    "q01_pricing_summary": 1.491,
    "q03_shipping_priority": 1.975,
    "q05_region_revenue": 1.702,
    "q06_forecast_revenue": 0.487,
    "q_window_topk": 0.884,
    "q_sessionize": 1.232,
    "q_time_window": 1.483,
    "t_exact_dedup": 0.406,
    "t_token_stats": 0.818,
    "s_minhash_lsh_pairs": 3.615,
    "s_simhash_candidates": 3.128,
    "s_ann_cosine_bruteforce": 0.8,
    "s_ann_lsh_topk": 1.447,
    "q_asof_join": 1.223,
    "q_combined_pushdown": 0.325,
    "m_payload_pipeline": 0.492,
}
R6_RATIO = 0.956

# queries that absorbed another registry row AFTER r6 — they do strictly
# more work than their r6 anchor, so a >gate ratio is explained, not a
# regression (the r6 verdict's q_time_window precedent, made mechanical)
ABSORBED = {
    "q_window_topk": (
        "absorbed q_window_running's lag/lead/rank/ntile/ROWS-frame "
        "columns in r7 — strictly more computation than the r6 anchor"
    ),
    "m_payload_pipeline": (
        "absorbed m_frame_sample's frame-explosion branch in r8 (slot "
        "donated to q_quality_classifier) — a second mapInPandas pass "
        "plus a union on top of the r7 anchor's work"
    ),
}


def _reconstruct_from_tail(tail: str) -> dict:
    """Best-effort recovery of the bench JSON line from a driver record
    whose ``parsed`` is null and whose ``tail`` is FRONT-truncated (the
    driver keeps the last ~2000 chars; r8/r9 records land mid-way inside
    the ``queries`` dict). Purely mechanical — nothing is guessed:

    * the stderr bench-note is split off;
    * a tail that still starts with ``{`` parses directly;
    * otherwise the partial first query entry (``ary": 1.435, ...``) is
      re-keyed only when EXACTLY one headline name ends with the
      surviving suffix, and the truncated header fields are restored
      from invariants of the bench version that wrote the record
      (``value`` = sum of the min-of-3 timings; ``protocol`` is
      min-of-3 iff the min-of-3-era ``queries_single_shot`` field
      survived)."""
    body = tail.split("\nbench-note:")[0].strip()
    if body.startswith("{"):
        try:
            return json.loads(body)
        except json.JSONDecodeError:
            return {}
    # r12-format records order keys for tail survival (value/protocol/
    # queries/drift/environment/normalized_value LAST): a front-cut
    # re-opens into a complete critical record at the first intact key
    for anchor in ('"value"', '"protocol"', '"queries"'):
        i = body.find(anchor)
        if i == -1:
            continue
        try:
            rec = json.loads("{" + body[i:])
        except json.JSONDecodeError:
            continue
        if rec.get("queries"):
            rec.setdefault("value", round(sum(rec["queries"].values()), 3))
            # the reordered format only ever existed in the min-of-3 era
            rec.setdefault("protocol", f"min_of_{N_RUNS}")
            rec["reconstructed_from_tail"] = True
            return rec
    m = re.match(
        r'^([A-Za-z0-9_]*)"\s*:\s*([0-9.]+)\s*,\s*(.*)$', body, re.DOTALL
    )
    if not m:
        return {}
    suffix, val, rest = m.group(1), float(m.group(2)), m.group(3)
    try:
        rec = json.loads('{"queries": {' + rest)
    except json.JSONDecodeError:
        return {}
    q = rec.get("queries") or {}
    missing = [n for n in HEADLINE if n not in q and n.endswith(suffix)]
    if len(missing) == 1:
        q[missing[0]] = val
    if "queries_single_shot" in rec:
        rec.setdefault("protocol", f"min_of_{N_RUNS}")
        rec.setdefault("value", round(sum(q.values()), 3))
    rec["reconstructed_from_tail"] = True
    return rec


def _latest_recorded_bench(search_dir: str | None = None) -> tuple[int, dict] | None:
    """Newest driver-recorded BENCH_r{N}.json that carries min-of-3
    per-query timings AND a drift-probe ratio — the like-for-like anchor
    for rounds after 7 (rounds <= 6 were single-shot and stay compared
    via the frozen R6_QUERIES path)."""
    import glob

    here = search_dir or os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, dict] | None = None
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        n = int(m.group(1))
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        # the driver wraps the bench's JSON line under "parsed"; when its
        # parse failed (r8-r10: parsed = null, front-truncated tail) the
        # data survives in "tail" — recover it rather than silently
        # losing an anchor
        outer = rec
        rec = rec.get("parsed", rec) or {}
        if not rec and isinstance(outer.get("tail"), str):
            rec = _reconstruct_from_tail(outer["tail"])
        ratio = (rec.get("drift_probe") or {}).get("ratio")
        # era_ratio exists from r12 on; older records are judged by the
        # r6 ratio they carry (the gate value is the same)
        gate_ratio = (rec.get("drift_probe") or {}).get("era_ratio") or ratio
        if (
            rec.get("protocol") == f"min_of_{N_RUNS}"
            and rec.get("queries")
            and ratio
            # environment-invalid records (contended host, probe above
            # the gate) never anchor a comparison: single-probe
            # normalization under-corrects for shuffle-heavy queries on
            # a sick host (r10 arbitration)
            and gate_ratio <= DRIFT_INVALID_GATE
            and not rec.get("environment_invalid")
            and rec.get("sf") == 0.1
            and (best is None or n > best[0])
        ):
            # r12 (the r11 verdict's task #1): suspect records MAY
            # anchor — with the stale r6 probe baseline every recent
            # clean run tripped the suspect tier, which starved the
            # comparison of anchors and routed it through 20-40%
            # correction factors. The suspect flag travels with the
            # anchor (prev_round_comparison.anchor_environment_suspect)
            # so a reader knows the anchor's totals may be inflated —
            # i.e. an "improved" against it is weak evidence, a
            # "regressed" against it is strong.
            best = (n, rec)
    return best


def steal_pct(interval: float = 1.0) -> float | None:
    """Hypervisor CPU steal over a short sample window, from /proc/stat
    (r12): the one direct signal for a noisy neighbor on a shared box —
    this round's verify benches caught a 3% steal phase that inflated
    JVM-heavy queries 1.3-3.7x while the 1-minute load read 0.1 and the
    short probe under-registered it."""
    a = steal_counters()
    if a is None:
        return None
    time.sleep(interval)
    return steal_window_pct(a, steal_counters())


def steal_counters() -> tuple[int, int] | None:
    """Cumulative (total_jiffies, steal_jiffies) from /proc/stat — two
    readings bracketing the bench window integrate steal over the WHOLE
    window (r13): a single 1-second endpoint sample can read 4%+ off
    one scheduling blip (~40 ms stolen) and taint a record whose actual
    window-average steal is well under the gate — the r13 rehearsal
    sealed suspect on exactly that (endpoint 4.22%, window 7 minutes)."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), (vals[7] if len(vals) > 7 else 0)
    except (OSError, ValueError, IndexError):
        return None


def steal_window_pct(
    start: tuple[int, int] | None, end: tuple[int, int] | None
) -> float | None:
    if start is None or end is None or end[0] == start[0]:
        return None
    return round(100.0 * (end[1] - start[1]) / (end[0] - start[0]), 2)


STEAL_SUSPECT_GATE = 2.0  # percent


def probe_spread_norm(
    start_sec: float, end_sec: float, worst_end_sec: float | None = None
) -> float:
    """Window spread between the start and end probes, each normalized
    by its POSITION's baseline (start = census warmth, end = post-
    suite warmth) so warm-up structure cancels and only host
    instability remains — see ERA_BASELINE_END_SEC. ``worst_end_sec``
    carries a mid-window pre-retry spike so a passing retry cannot
    erase contention evidence."""
    start_n = start_sec / ERA_BASELINE_SEC
    end_n = end_sec / ERA_BASELINE_END_SEC
    worst_end_n = (
        max(end_sec, worst_end_sec or 0.0) / ERA_BASELINE_END_SEC
    )
    return round(
        max(start_n, worst_end_n) / max(min(start_n, end_n), 1e-9) - 1.0,
        3,
    )


def env_flags(
    era_ratio: float | None,
    load_pre: float | None,
    spread: float,
    retried: bool,
    steal: float | None = None,
) -> tuple[bool, bool]:
    """The environment state machine (r12, pinned in
    tests/test_drift_probe.py): judged against the CURRENT era's probe
    baseline, never the historical r6 one.

    * invalid — the probe itself reads > DRIFT_INVALID_GATE vs this
      era: the host is too sick for any cross-round verdict;
    * suspect — under the invalid gate but measurably contended
      (external load before Spark started, probe spread across the
      bench window, or a mid-window probe spike that forced a retry):
      improvements may publish, a regression verdict may not.
    """
    invalid = (era_ratio or 0) > DRIFT_INVALID_GATE
    suspect = not invalid and (
        (load_pre is not None and load_pre > LOAD_SUSPECT_GATE)
        or spread > PROBE_SPREAD_GATE
        or retried
        or (steal is not None and steal > STEAL_SUSPECT_GATE)
    )
    return invalid, suspect


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # settle (r12): if the 1-minute load is still decaying from a
    # previous job, wait — bounded — before measuring anything
    settle_wait = 0
    try:
        load_at_launch = round(os.getloadavg()[0], 2)
        while (
            os.getloadavg()[0] > SETTLE_LOAD_GATE
            # r13: the 5-minute average too — 1-min 0.6 with 5-min ~3
            # read the probe 4.4x high in the r12 census (the host is
            # still draining the previous job)
            or os.getloadavg()[1] > SETTLE_LOAD_GATE_5M
        ) and settle_wait < SETTLE_MAX_SEC:
            time.sleep(10)
            settle_wait += 10
    except (AttributeError, OSError):
        load_at_launch = None

    # r13: also wait out a hypervisor steal WAVE (same bounded budget).
    # This host shows recurring multi-minute steal phases (measured
    # 3.6-5.2% window integrals with loadavg ~0.3) that taint the whole
    # record; a 20 s pre-sample above half the suspect gate means a
    # wave is in progress — launching now seals suspect with near-
    # certainty, and the waves pass in minutes
    while settle_wait < SETTLE_MAX_SEC:
        s = steal_pct(20.0)
        settle_wait += 20
        if s is None or s <= STEAL_SUSPECT_GATE / 2:
            break
        time.sleep(20)
        settle_wait += 20

    # sampled before ANY Spark work (post-settle): at this point the
    # load is other tenants' — the external-contention signal the probe
    # alone cannot see
    try:
        load_pre = round(os.getloadavg()[0], 2)
    except (AttributeError, OSError):
        load_pre = None
    steal_pre = steal_pct()
    steal_t0 = steal_counters()

    registry = load_all()
    spark = build_session("seafowl_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up (JVM/codegen/parquet footer caches), not counted
    registry["q01_pricing_summary"].fn(spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()
    # also pre-spawn one Python worker per core (pandas/numpy imports,
    # ~4s once) — a long-lived server session keeps these hot exactly like
    # the JVM; without this the first pandas-UDF query absorbs the spawn
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("long")
    def _noop_py(s):
        return s

    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores * 100, 1, cores).select(
        _noop_py("id")
    ).write.mode("overwrite").format("noop").save()

    # probe BEFORE the timings too: its spread against the end probe
    # measures whether the host was stable ACROSS the bench window
    from tools.drift_probe import run_probe as _run_probe

    def _probe(*a, **k):
        # annotate every probe reading with the era ratio the
        # environment tiers judge against (r12 — the r6 ratio stays for
        # cross-round normalization; see ERA_BASELINE_SEC above)
        out = _run_probe(*a, **k)
        out["era_baseline_sec"] = ERA_BASELINE_SEC
        out["era"] = ERA
        out["era_ratio"] = round(out["sec"] / ERA_BASELINE_SEC, 3)
        return out

    probe_start = _probe(spark, sf_dir)
    start_retries = 0
    while (
        probe_start["era_ratio"] > PROBE_START_RETRY_GATE
        and start_retries < PROBE_START_MAX_RETRIES
    ):
        # a contended start probe poisons the spread gate for the whole
        # record even when the host recovers seconds later (r12: the
        # sealed record's start probe read era 1.196 — under the OLD
        # 1.25 retry gate — against an end probe of 0.927, a guaranteed
        # spread trip). Retry while the previous job's scheduler memory
        # decays: wait for the 1-minute load to drop again (bounded),
        # re-probe, keep the better reading. A start probe that never
        # improves is genuine sustained contention — the spread/load
        # gates still see it through the reading itself.
        waited = 0
        try:
            while os.getloadavg()[0] > SETTLE_LOAD_GATE and waited < 60:
                time.sleep(10)
                waited += 10
        except (AttributeError, OSError):
            pass
        if waited == 0:
            time.sleep(15)
        retry_start = _probe(spark, sf_dir)
        start_retries += 1
        if retry_start["era_ratio"] < probe_start["era_ratio"]:
            retry_start["pre_retry_sec"] = max(
                probe_start["sec"],
                probe_start.get("pre_retry_sec", 0.0),
            )
            retry_start["retried"] = True
            probe_start = retry_start
        else:
            # not improving: stop burning the window; the contended
            # reading stands and the gates judge it
            probe_start["retried"] = True
            break

    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}
    for name in HEADLINE:
        fn = registry[name].fn
        # r12 (the r11 verdict's task #1): one UNCOUNTED warm run per
        # query absorbs the first-shot JIT/codegen/broadcast outlier
        # (judge observed s_simhash first-run 18-31 s vs 0.9 s warm) —
        # the timed runs measure the query, not one-time compilation.
        # queries_single_shot is therefore the first WARM run from r12
        # on (the r6 single-shot anchors were cold; that comparison is
        # annotated legacy below).
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        runs = []
        for _ in range(N_RUNS):
            # cold-cache rep (r14): drop cross-invocation CacheManager
            # hits so the rep recomputes from parquet; outside the timed
            # window. localCheckpoints are unaffected (per-invocation by
            # construction).
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs), 3)
        first_run[name] = round(runs[0], 3)

    # legacy warm protocol for the cache-affected queries (transition
    # evidence + the like-for-like values pre-r14 comparisons use): the
    # cache left by each rep is deliberately KEPT between these reps,
    # reproducing the old protocol exactly.
    legacy_warm: dict[str, float] = {}
    for name in CACHE_AFFECTED:
        if name not in timings:
            continue
        fn = registry[name].fn
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        legacy_warm[name] = round(min(runs), 3)
    spark.catalog.clearCache()

    # host-drift probe: a frozen r1 query (tools/drift_probe.py, never
    # edited) timed min-of-3 on the same hot session — `ratio` > 1 means
    # this host is slower than round 6's (cross-round totals divide by
    # it); `era_ratio` > 1 means slower than the CURRENT era census (the
    # environment tiers' yardstick, r12).
    drift = _probe(spark, sf_dir)
    if (drift["era_ratio"] or 0) > DRIFT_INVALID_GATE:
        # transient contention spikes pass on retry; sustained load does
        # not — keep the better reading either way (min over both probes
        # is still the same frozen query, same protocol). The pre-retry
        # reading is preserved: a probe that EVER exceeded the gate
        # mid-window is contention evidence, and the suspect tier below
        # must see it even when the retry passes (review find, r11)
        pre_retry_sec = drift["sec"]
        retry = _probe(spark, sf_dir)
        if (retry["era_ratio"] or float("inf")) < (
            drift["era_ratio"] or float("inf")
        ):
            drift = retry
        drift["retried"] = True
        drift["pre_retry_sec"] = pre_retry_sec
    ratio = drift["ratio"] or 1.0
    era_ratio = drift["era_ratio"] or 1.0
    # the spread considers the WORST probe reading of the window —
    # including a pre-retry spike the retry replaced — so passing the
    # invalid gate on retry cannot erase the contention evidence.
    # r13: each probe is normalized by its POSITION's baseline first
    # (start = census warmth, end = post-suite warmth — see
    # ERA_BASELINE_END_SEC): the raw readings differ ~1.26x on a
    # verified-idle host purely from JIT state, and the gate must
    # measure host instability, not warm-up structure.
    start_n = probe_start["sec"] / ERA_BASELINE_SEC
    end_n = drift["sec"] / ERA_BASELINE_END_SEC
    spread = probe_spread_norm(
        probe_start["sec"], drift["sec"], drift.get("pre_retry_sec")
    )
    # steal sampled AGAIN at the end, plus the WINDOW INTEGRAL (r13):
    # the suspect gate judges the whole-window average steal — a 1 s
    # endpoint instant can read 4%+ off one scheduling blip and taint a
    # record whose 7-minute window averaged well under the gate (the
    # r13 rehearsal). Endpoint instants still record for forensics and
    # remain the fallback when /proc/stat is unreadable.
    steal_post = steal_pct()
    steal_win = steal_window_pct(steal_t0, steal_counters())
    steal_endpoints = max(
        (s for s in (steal_pre, steal_post) if s is not None),
        default=None,
    )
    steal_gate_value = (
        steal_win if steal_win is not None else steal_endpoints
    )
    env_invalid, env_suspect = env_flags(
        era_ratio,
        load_pre,
        spread,
        bool(drift.get("retried")),
        steal_gate_value,
    )
    environment = {
        "load_at_launch": load_at_launch,
        "settle_wait_sec": settle_wait,
        "load_pre": load_pre,
        "steal_pct_pre": steal_pre,
        "steal_pct_post": steal_post,
        "steal_pct_window": steal_win,
        "probe_start_sec": probe_start["sec"],
        "probe_start_retried": bool(probe_start.get("retried")),
        "probe_start_retries": start_retries,
        # forensics only: the worst PRE-bench reading a start retry
        # replaced. Deliberately NOT in the spread — the start retry
        # exists because pre-window contention that cleared before the
        # timings is not window evidence (unlike drift's pre_retry_sec,
        # which the spread does count: that spike was mid-window)
        "probe_start_pre_retry_sec": probe_start.get("pre_retry_sec"),
        "probe_end_sec": drift["sec"],
        # position-normalized readings the spread actually compares
        "probe_start_norm": round(start_n, 3),
        "probe_end_norm": round(end_n, 3),
        "probe_spread": spread,
        "era": ERA,
        "era_ratio": era_ratio,
        "suspect": env_suspect,
    }

    total = round(sum(timings.values()), 3)
    total_ss = round(sum(first_run.values()), 3)
    normalized = round(total / ratio, 3)

    # like-for-like vs r6: single-shot totals, each normalized by its own
    # round's probe ratio (both ratios share the frozen R6 baseline).
    # Only meaningful at the driver's sf0.1 (the r6 numbers are sf0.1).
    comparable = sf == 0.1
    r6_total_ss = round(sum(R6_QUERIES.values()), 3)
    r6_norm = round(r6_total_ss / R6_RATIO, 3)
    this_norm_ss = round(total_ss / ratio, 3)
    regressions = {}
    explained = {}
    for name, r6_sec in R6_QUERIES.items():
        if name not in first_run:
            continue
        rel = (first_run[name] / ratio) / (r6_sec / R6_RATIO)
        if rel > REGRESSION_GATE:
            if name in ABSORBED:
                explained[name] = {"x": round(rel, 3), "why": ABSORBED[name]}
            else:
                regressions[name] = round(rel, 3)
    moved = round(this_norm_ss / r6_norm, 3)
    r6_comparison = (
        {
            "protocol": "single_shot_normalized",
            # r12: queries_single_shot is now the first WARM run (an
            # uncounted warm-up precedes it); the r6 anchors were cold
            # first runs, so this comparison is biased toward
            # "improved" and is kept only for historical continuity —
            # prev_round_comparison (min-of-3 vs min-of-3) is the
            # authoritative cross-round signal
            "legacy_warm_bias": True,
            "r6_total_normalized": r6_norm,
            "this_total_normalized": this_norm_ss,
            "moved_x": moved,
            "verdict": (
                # a sick host can never publish "regressed" into the
                # permanent record (r10 arbitration — single-probe
                # normalization under-corrects on a contended machine);
                # a measurably contended-but-under-gate host (load /
                # probe spread) downgrades a would-be "regressed" to
                # "environment-suspect" (r11)
                "environment-invalid"
                if env_invalid
                else "environment-suspect"
                if env_suspect and moved > REGRESSION_GATE
                else "regressed"
                if moved > REGRESSION_GATE
                else ("improved" if moved < 1 / REGRESSION_GATE else "flat")
            ),
            "per_query_regressions": regressions,
            "explained_absorptions": explained,
        }
        if comparable
        else {"verdict": "n/a", "reason": f"sf={sf}, r6 anchors are sf0.1"}
    )

    # min-of-3 vs min-of-3 against the newest driver-recorded bench —
    # the protocol-clean comparison (single-shot per-query numbers carry
    # +-20% interference noise, so per-query flags from the r6 path are
    # only actionable when THIS comparison agrees or the code changed)
    prev = _latest_recorded_bench() if comparable else None
    if prev:
        prev_n, prev_rec = prev
        prev_ratio = prev_rec["drift_probe"]["ratio"] or 1.0
        # like-for-like across the r14 cache-protocol change: when the
        # anchor record predates cache_cleared, its numbers for the
        # cache-affected queries were warm-cache — compare them against
        # THIS run's legacy-warm timings, never cold-vs-warm
        timings_cmp = dict(timings)
        protocol_subst: list[str] = []
        if not prev_rec.get("cache_cleared"):
            for k, v in legacy_warm.items():
                if k in timings_cmp:
                    timings_cmp[k] = v
                    protocol_subst.append(k)
        prev_norm_by_q = {
            k: v / prev_ratio
            for k, v in prev_rec["queries"].items()
            if k in timings_cmp
        }
        prev_regressions = {
            k: round((timings_cmp[k] / ratio) / pv, 3)
            for k, pv in prev_norm_by_q.items()
            if (timings_cmp[k] / ratio) / pv > REGRESSION_GATE
            and k not in ABSORBED
        }
        prev_total = round(sum(prev_norm_by_q.values()), 3)
        this_total = round(
            sum(timings_cmp[k] / ratio for k in prev_norm_by_q), 3
        )
        prev_comparison = {
            "vs_round": prev_n,
            "protocol": "min_of_3_normalized",
            "prev_total_normalized": prev_total,
            "this_total_normalized": this_total,
            "moved_x": round(this_total / prev_total, 3)
            if prev_total
            else None,
            "per_query_regressions": {}
            if env_invalid
            else prev_regressions,
        }
        # subtotal caveat + full-total comparison (r12): a tail-
        # reconstructed anchor may carry only a few per-query timings
        # (the driver keeps the last ~2000 chars), so the subtotal above
        # can cover a subset — but the anchor's sealed normalized_value
        # always survives at the tail's end. Compare full totals too.
        prev_comparison["queries_compared"] = len(prev_norm_by_q)
        if protocol_subst:
            # recorded so a reader knows which entries of this comparison
            # used the legacy-warm timing (anchor predates cache_cleared)
            prev_comparison["cache_protocol_substituted"] = protocol_subst
        prev_full = prev_rec.get("normalized_value")
        if prev_full:
            # full-total like-for-like under the same substitution
            normalized_cmp = round(
                sum(timings_cmp.values()) / ratio, 3
            )
            prev_comparison["prev_normalized_value"] = prev_full
            prev_comparison["this_normalized_value"] = normalized_cmp
            prev_comparison["moved_x_full_total"] = round(
                normalized_cmp / prev_full, 3
            )
        if env_suspect:
            # context for readers of per-query flags: a contended host
            # inflates parallel-heavy queries superlinearly vs the probe
            prev_comparison["environment_suspect"] = True
        if (prev_rec.get("environment") or {}).get("suspect"):
            # the ANCHOR ran on a contended host: its totals may be
            # inflated, so "improved" vs it is weak evidence and
            # "regressed" vs it is strong (r12)
            prev_comparison["anchor_environment_suspect"] = True
        if env_invalid:
            prev_comparison["verdict"] = "environment-invalid"
        elif env_suspect and (prev_comparison["moved_x"] or 0) > REGRESSION_GATE:
            prev_comparison["verdict"] = "environment-suspect"
        # the two protocols can disagree: single-shot first-runs integrate
        # warm-up-adjacent noise that min-of-3 dodges (this is WHY the
        # min-of-3 path exists). When the protocol-clean comparison reads
        # flat/improved on the same run, a single-shot "regressed" is
        # noise, not signal — record it as such so a sealed record never
        # carries a bare "regressed" that its own better protocol refutes
        if (
            r6_comparison.get("verdict") == "regressed"
            and (prev_comparison.get("moved_x") or float("inf"))
            <= REGRESSION_GATE
        ):
            r6_comparison["verdict"] = "regressed-single-shot-only"
            r6_comparison["note"] = (
                f"min-of-3 vs r{prev_n} moved "
                f"{prev_comparison['moved_x']}x (within gate) — the "
                "single-shot regression is first-run noise; read "
                "prev_round_comparison"
            )
    else:
        prev_comparison = {
            "verdict": "n/a",
            "reason": "no recorded min-of-3 BENCH_r*.json yet"
            if comparable
            else f"sf={sf}, anchors are sf0.1",
        }

    # key order is SURVIVAL order: the driver's record keeps only the
    # LAST ~2000 characters when its own parse fails (r8-r11 records all
    # landed that way, and r11's reconstruction recovered just 5
    # per-query timings because "queries" sat early in the line). Bulky
    # legacy fields go first; everything a future round's
    # prev_round_comparison needs — queries, drift_probe, environment,
    # normalized_value — goes last, inside the surviving tail.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "unit": "sec",
                "queries_single_shot": first_run,
                "single_shot_total": total_ss,
                "r6_comparison": r6_comparison,
                "prev_round_comparison": prev_comparison,
                # r14: `queries` is COLD-cache min-of-3 (clearCache before
                # every timed rep); queries_legacy_warm re-times the two
                # persist()-bearing queries under the old warm protocol
                # for cross-round comparability (see CACHE_AFFECTED)
                "cache_cleared": True,
                "queries_legacy_warm": legacy_warm,
                "value": total,
                "protocol": f"min_of_{N_RUNS}",
                "queries": timings,
                "sf": sf,
                "drift_probe": drift,
                "environment": environment,
                "environment_invalid": env_invalid,
                "normalized_value": normalized,
            }
        )
    )
    # Cross-round history: the uniform r2->r4 "slowdown" was the host (r2
    # code re-run on the r5 host was 2.5x its recorded numbers); the r5->r6
    # +22% was arbitrated in r7 by running both rounds' exact code
    # head-to-head on the r7 host (verdict: host drift plus q_time_window's
    # absorbed get_json_object work, no code regression) —
    # normalize by drift_probe.ratio before reading anything across rounds.
    note = (
        f"vs r6 (single-shot, normalized): {moved}x -> "
        f"{r6_comparison['verdict']}."
        if comparable
        else "r6 comparison skipped (non-sf0.1 run)."
    )
    sys.stderr.write(
        f"bench-note: min-of-{N_RUNS} per query; cross-round comparisons "
        f"use normalized_value (= value / drift_probe.ratio). {note}\n"
    )


if __name__ == "__main__":
    main()
