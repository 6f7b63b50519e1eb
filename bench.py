"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints TWO JSON lines:

1. the FULL record {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {...}, "sf": ..., probes, canary ratios,
   "delta_vs_prev": {...}} — commit this line as tools/bench_r<N>_local.json;
2. a COMPACT summary (same scalars, delta summary instead of the per-key
   maps) printed LAST so it survives the round driver's ~2000-char stdout
   tail window and parses (the full line outgrew it at 73 keys).

Each query is forced end-to-end with the noop sink (full computation, no
driver collect). A small warmup query absorbs JVM/codegen startup so the
numbers measure the plans, not the JVM boot.

Measurement protocol (r12 consolidation, r11 verdict finding #2). The
decision metrics are:

- ``value``: the raw min-of-2-per-key session total;
- ``delta_vs_prev`` / ``delta_summary``: per-key seconds vs the previous
  committed record *at matched host state*, where the host factor is the
  SAME-RUN CANARY RATIO — five round-1-untouched plans (CANARY_KEYS)
  interleaved through the run at 0/25/50/75/100% positions; each measured
  key is compared against the previous record scaled by the ratio of its
  two BRACKETING canaries (this_canary / prev_canary). Because canary and
  key run minutes apart at most, this cancels the minute-scale host
  oscillation that any run-scoped probe scalar merely samples
  (tools/bench_drift_r11.json: memory bandwidth 10.25 -> 2.32 GB/s within
  one session);
- ``canary_ratio``: the whole-run host factor (sum of canary times this
  run / previous record), the one-number answer to "was this run's host
  faster or slower than the record it is compared against";
- ``canary_ratio_bw`` (r12 verdict finding #4): the five canaries above
  are sub-second CPU-light scan/window plans, blind to the bandwidth
  dimension of host drift (tools/bench_drift_r11.json: mem_bw swung
  10.25 -> 2.32 GB/s while single-core CPU moved <12%) — so a
  bandwidth-degraded phase shows up as a coherent POSITIVE delta offset
  rather than being cancelled. This second yardstick is the this/prev
  ratio of one shuffle/bandwidth-heavy plan (BW_CANARY_KEYS:
  ``dedup_minhash_lsh``, present in every committed record since r8).
  It ANNOTATES the deltas, it never rescales them: the five CPU
  canaries and the delta construction are unchanged for cross-record
  comparability, and the bw key keeps its ordinary bracket-scaled entry
  in delta_vs_prev. Read them together: canary_ratio ~1 with
  canary_ratio_bw >> 1 and a coherent positive delta offset = bandwidth
  phase, not a plan regression.

One absolute normalization survives: ``normalized_total_v3`` (raw total
scaled by the parallel q1@bench-sf probe vs the last healthy-host
reference), now guarded — the probe is measured at start AND end (mean),
the reference prefers the previous same-sf record's parallel probe over
the pinned sf0.1 constant, and the field is null when neither applies
(cross-sf runs). The v1/v2/v4 normalization scalars and the mid-run
probe series are RETIRED — within one r11 run they spanned 61.1-131.2 s
for the same 91.8 s raw measurement, each sampling a host state that
swings ±50% on minute timescales; the canary construction replaces them.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY  # noqa: E402
from sparkstreamingrealtimedatawithkafka_spark.session import build_session  # noqa: E402
from tools.perf_protocol import PROBE_PAR_REF, PROBE_SF, min_time  # noqa: E402

# Headline set: the reference-parity pipeline, the relational core, event-time
# semantics, and the LLM-pipeline operators (SURVEY.md §2 / §2.10).
BENCH_QUERIES = [
    "flagship_entity_count",
    "pipeline_parity_udf",
    "pipeline_corpus_clean",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_orders",
    "topk_parts_per_brand",
    "window_running_total",
    "agg_rollup_flag_status",
    "events_tumbling_daily",
    "events_sessionization_stats",
    "events_json_extract",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_two_stage",
    "dedup_simhash",
    "sim_topk_bruteforce",
    "events_asof_last_purchase",
    "streaming_windowed_counts",
    "streaming_stateful_user_stats",
    # round-2 additions (keys above stay fixed for round-over-round
    # comparability; these extend coverage to the new families)
    "q2_min_cost_supplier",
    "q9_product_profit",
    "pipeline_full_dedup",
    "decontaminate_ngram_overlap",
    "text_gopher_repetition",
    "sim_ivf_topk",
    "events_funnel_conversion",
    "events_cohort_retention",
    "join_bucketed_colocated",
    # round-4 additions (keys above stay fixed for comparability)
    "events_variant_props",
    "events_gapfill_resample",
    "vector_mapinarrow_stats",
    # round-5 additions (keys above stay fixed for comparability)
    "search_bm25_topk",
    "events_transition_matrix",
    "agg_exact_percentiles",
    "split_train_valid_test",
    "fuzzy_match_twostage",
    "pack_training_sequences",
    "events_cdc_snapshot_diff",
    # round-6 additions (keys above stay fixed for comparability)
    "revenue_pareto_curve",
    "multimodal_decode_pgm",
    "sim_topk_int8_quantized",
    "graph_pagerank_copurchase",
    "sample_weighted_systematic",
    "events_ewma_smoothing",
    "dedup_containment",
    # late round-6 additions (keys above stay fixed for comparability)
    "ml_tree_ensemble_score",
    "web_url_normalize",
    "graph_link_prediction_jaccard",
    "agg_weighted_median_2pass",
    # third-session round-6 additions (keys above stay fixed)
    "events_outlier_mad_2pass",
    "agg_countmin_sketch",
    "emb_pca_power_iteration",
    "sample_poisson_bootstrap",
    "graph_community_lpa",
    "multimodal_image_dhash",
    "audit_expectations_suite",
    "events_clamped_running_balance",
    "events_cep_pattern",
    "ab_cuped_adjustment",
    "graph_kcore",
    "multimodal_audio_fingerprint",
    # sixth-session round-6 additions (keys above stay fixed)
    "text_winnowing_fingerprints",
    "geo_grid_distance_join",
    # eighth-session round-6 additions (keys above stay fixed).
    # dedup_ppjoin_prefix is deliberately NOT a bench key: the sf0.1
    # fixture's frozen vocabulary puts exact prefix blocking in its
    # documented degenerate regime (~40 s; see SURVEY eighth-session scale
    # triage) — benching it would measure the corpus, not the engine.
    "part_skyline_pareto",
    "dedup_sorted_neighborhood",
    "events_cusum_changepoint",
    "events_holt_linear_forecast",
    # round-7 additions (keys above stay fixed for comparability).
    # dedup_similarity_auto IS benchable at sf0.1 where raw PPJoin was
    # not: the pre-flight gate (est 12.8M > 1M budget) routes this
    # corpus to the linear SNM path — benching it measures the router
    # doing its job.
    "dedup_similarity_auto",
    # the recall-hardened form of the triad's linear member: exactly the
    # single-pass shape twice under rotated keys + a pair-key union
    "dedup_snm_multipass",
]


# Same-run canary set (r11 verdict finding #2): five plans untouched since
# round 1, present in every committed record since bench_r1 — so the canary
# ratio computes against ANY previous record with no schema migration. The
# run executes them interleaved at the 0/25/50/75/100% positions of the key
# sequence; every other key is bracketed by two canaries measured minutes
# away at most, and its prev-record comparison is scaled by the bracketing
# canaries' SUM ratio (times[a]+times[b])/(prev[a]+prev[b]) — see
# canary_deltas for why sum, not mean-of-ratios.
CANARY_KEYS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "window_running_total",
    "agg_rollup_flag_status",
]

# Bandwidth-class yardstick (r12 verdict finding #4): the five canaries
# above are all CPU-light; this one is shuffle/bandwidth-heavy (tokenize +
# minhash + banded self-join) and in every committed record since r8. It
# stays an ORDINARY bench key — interleaved, bracket-scaled, present in
# delta_vs_prev — and is additionally reported as canary_ratio_bw so a
# bandwidth-degraded host phase is visible next to the CPU canary_ratio.
BW_CANARY_KEYS = ["dedup_minhash_lsh"]


def bw_canary_ratio(
    times: dict[str, float],
    prev_q: dict[str, float],
    keys: list[str] | None = None,
) -> float | None:
    """Sum ratio of the bandwidth canaries this run vs the previous
    record (same magnitude-weighted construction as the CPU canary
    ratio). None when either side lacks a key (cross-sf or pre-r8
    records) or the previous sums to zero. A legitimate 0.0 timing is
    a present key, not a missing one (r13 advice). Annotates the
    record; feeds no delta."""
    keys = BW_CANARY_KEYS if keys is None else keys
    if any(prev_q.get(k) is None or times.get(k) is None for k in keys):
        return None
    prev_sum = sum(prev_q[k] for k in keys)
    if prev_sum <= 0:
        return None
    return round(sum(times[k] for k in keys) / prev_sum, 3)


def interleaved_order(keys: list[str], canaries: list[str]) -> list[str]:
    """Execution order: canaries at 0/25/.../100%, other keys in their
    BENCH_QUERIES order split into len(canaries)-1 equal chunks. Returns
    a permutation of ``keys`` (canaries must all be members)."""
    rest = [k for k in keys if k not in canaries]
    chunks = len(canaries) - 1
    n = len(rest)
    order = [canaries[0]]
    for i in range(chunks):
        order += rest[round(i * n / chunks): round((i + 1) * n / chunks)]
        order.append(canaries[i + 1])
    return order


def bracketing_canaries(
    keys: list[str], canaries: list[str]
) -> dict[str, tuple[str, str]]:
    """key -> (canary before, canary after) in the interleaved order."""
    out: dict[str, tuple[str, str]] = {}
    rest = [k for k in keys if k not in canaries]
    chunks = len(canaries) - 1
    n = len(rest)
    for i in range(chunks):
        for k in rest[round(i * n / chunks): round((i + 1) * n / chunks)]:
            out[k] = (canaries[i], canaries[i + 1])
    return out


def canary_deltas(
    times: dict[str, float],
    prev_q: dict[str, float],
    keys: list[str],
    canaries: list[str],
) -> tuple[dict[str, float], float | None, dict[str, float]]:
    """(canary_ratios, canary_ratio, delta_vs_prev) — the matched-canary
    comparison. For a key bracketed by canaries (a, b), host factor
    h = (times[a] + times[b]) / (prev[a] + prev[b]) — the SUM ratio, not
    the mean of per-canary ratios: the canaries are sub-second-to-2s
    plans, so ±0.1 s launch jitter on one of them is ±30% of a per-canary
    ratio, and the sum ratio damps that by magnitude-weighting (a jitter
    hit on the 0.3 s canary can no longer swing an expensive neighbor's
    delta by ±1 s). delta = this_sec - prev_sec * h. Canary keys are the
    yardstick and never appear in delta_vs_prev. Empty/None when the
    previous record lacks any canary key (cross-sf or pre-r1-format
    records)."""
    if not all(prev_q.get(c) for c in canaries):
        return {}, None, {}
    ratios = {c: round(times[c] / prev_q[c], 3) for c in canaries}
    overall = round(
        sum(times[c] for c in canaries) / sum(prev_q[c] for c in canaries), 3
    )
    brackets = bracketing_canaries(keys, canaries)
    deltas: dict[str, float] = {}
    for k, v in times.items():
        pv = prev_q.get(k)
        if pv is None or k in canaries:
            continue
        a, b = brackets[k]
        h = (times[a] + times[b]) / (prev_q[a] + prev_q[b])
        deltas[k] = round(v - pv * h, 3)
    return ratios, overall, deltas


def v3_reference(prev: dict | None, sf: float | None, par_ref: float) -> float | None:
    """The reference level for the one surviving absolute normalization
    (r11 advice, all three items): prefer the previous SAME-SF record's
    parallel-probe mean, then its start parallel probe; the pinned
    constant applies only at sf0.1 (it was measured there); else None —
    a cross-sf run with no comparable record must not normalize."""
    if prev is not None:
        ref = prev.get("probe_par_mean") or prev.get("probe_par_sec")
        if ref:
            return ref
    return par_ref if sf == 0.1 else None


def _rec_round(p: Path) -> int:
    return int("".join(ch for ch in p.stem if ch.isdigit()))


def baseline_records(repo: Path, env) -> list[Path]:
    """Candidate baseline records, oldest -> newest; [-1] is the baseline.

    Selection contract (r8 + r9 advice): the CURRENT round's own record
    must never become the baseline — a same-round re-run would compute
    deltas against itself (~0) and mask regression vs the prior round.
    File state alone CANNOT distinguish the driver's close-of-round-N run
    from the builder's first run of round N+1 (both see CORRECTNESS_rN
    newest and bench_rN_local present), so the default serves the
    unattended driver: exclude any local record whose round is >= the max
    driver-artifact round. The driver writes CORRECTNESS_rN before
    running bench, so its baseline is bench_r{N-1}_local — a true
    round-over-round comparison, never this round's own code. Builder
    runs inside round N+1 set $BENCH_ROUND=N+1 explicitly (records with
    round < BENCH_ROUND are eligible, i.e. bench_rN_local is the
    baseline). $BENCH_PREV_RECORD overrides with an exact path.
    Contract pinned by tests/test_bench_baseline.py."""
    override = env.get("BENCH_PREV_RECORD")
    if override:
        return [Path(override)]
    round_override = env.get("BENCH_ROUND")
    if round_override:
        cutoff = int(round_override)
    else:
        driver_rounds = [
            _rec_round(p)
            for pat in ("BENCH_r*.json", "CORRECTNESS_r*.json")
            for p in repo.glob(pat)
        ]
        cutoff = max(driver_rounds, default=0)
    return sorted(
        (
            p
            for p in repo.glob("tools/bench_r*_local.json")
            if _rec_round(p) < cutoff
        ),
        key=_rec_round,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = None

    spark = build_session(app_name="ssk-bench", master=f"local[{cpus}]",
                          shuffle_partitions=int(cpus))

    # Warmup: boot codegen + parquet reader, the Python UDF worker pool, and
    # the streaming micro-batch engine (all fixed per-process costs a
    # long-running cluster amortizes; the per-query numbers below measure
    # the plans). A full warmup sweep of every bench query at sf0.001 was
    # tried and measured no better — the heavy entries are bound by real
    # work + allocation pressure, not first-compilation cost.
    REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    warm_sf = "/root/testdata/sf0.001"
    REGISTRY["pipeline_parity_udf"].fn(spark, warm_sf).write.format("noop").mode(
        "overwrite"
    ).save()
    REGISTRY["streaming_windowed_counts"].fn(spark, warm_sf).write.format("noop").mode(
        "overwrite"
    ).save()

    # Host-speed probe: q1 at sf0.01, min-of-3 — a fixed CPU-bound plan
    # whose runtime moves only with host load/speed, never with this
    # repo's changes. Recorded as a diagnostic (which host phase the run
    # started in); it no longer feeds any normalization — the same-run
    # canary ratio below is the host-cancelling construction.
    q1 = REGISTRY["q1_pricing_summary"].fn
    probe_sec = round(min_time(spark, lambda: q1(spark, PROBE_SF)), 3)

    def _probe_par_now() -> float:
        """Parallel probe: q1 at the BENCH sf, min-of-3. A fixed 32-way
        parallel scan+aggregate whose runtime moves only with whole-host
        parallel throughput — the drift dimension the sf0.01 CPU probe is
        blind to (tools/bench_drift_r11.json: 68/73 keys >=1.2x slower at
        r11 open while the CPU probe matched r9 exactly)."""
        return round(min_time(spark, lambda: q1(spark, sf_dir)), 3)

    probe_par = _probe_par_now()

    # The keys run in canary-interleaved order: CANARY_KEYS at the
    # 0/25/50/75/100% positions, everything else in list order between
    # them. Each key's prev-record comparison is scaled by its bracketing
    # canaries' this/prev ratios (piecewise host factor), instead of one
    # run-scoped probe scalar sampled minutes away from the key it
    # normalizes.
    run_order = interleaved_order(list(BENCH_QUERIES), CANARY_KEYS)
    assert sorted(run_order) == sorted(BENCH_QUERIES)

    # min of 2 runs per query: single local[32] runs vary ±2x on GC/paging
    # noise; the min is the reproducible plan cost. Before each run, outside
    # the timer, min_time unpersists orphan checkpoint blocks from PRIOR
    # runs and runs an explicit GC (reasons in its docstring).
    times: dict[str, float] = {}
    for name in run_order:
        fn = REGISTRY[name].fn
        times[name] = round(min_time(spark, lambda: fn(spark, sf_dir), runs=2), 3)

    # End-of-run parallel probe: v3 normalizes by the START/END mean, not
    # a single end-phase sample — the same start/end symmetry v2 used for
    # the CPU probe (r11 advice: a lone end-of-run probe_par inherits
    # exactly the end-phase bias the probe series was built to remove).
    probe_par_end = _probe_par_now()
    probe_par_mean = round((probe_par + probe_par_end) / 2, 3)

    # Memory-bandwidth probe (r11): the numpy triad over LLC-busting
    # arrays, min-of-3, ~2 s. The r11 drift investigation measured this
    # host's bandwidth swinging 10.25 -> 2.32 GB/s phase-to-phase while
    # single-core CPU moved <12% (tools/bench_drift_r11.json) — and the
    # scan/shuffle-heavy sf0.1 plans are bandwidth-bound. Recorded, not
    # normalized-by: it tells the reader which host phase a record was
    # taken in.
    mem_bw = None
    try:
        import numpy as np

        n = 32_000_000  # 3 x 256 MiB float64
        b_, c_, a_ = np.ones(n), np.ones(n), np.empty(n)
        best = None
        for _ in range(3):
            t0 = time.time()
            np.add(b_, c_, out=a_)
            e = time.time() - t0
            best = e if best is None else min(best, e)
        mem_bw = round(3 * n * 8 / best / 1e9, 2)
        del a_, b_, c_
    except ImportError:
        pass

    total = round(sum(times.values()), 3)

    # Per-key delta vs the PREVIOUS COMMITTED record at MATCHED CANARY
    # (r11 verdict finding #2): for a key bracketed by canaries (a, b),
    # host factor h = (times[a]+times[b]) / (prev[a]+prev[b]) — the SUM
    # ratio (commit 841a5a6; rationale in canary_deltas); delta =
    # this_sec - prev_sec * h. Positive = slower than last round beyond
    # what the host state local to this key's segment explains. Canary
    # keys themselves are the yardstick — excluded from delta_vs_prev,
    # reported as canary_ratios instead. Launch jitter still applies to
    # sub-second keys (documented r7: ±0.1s).
    prev_record = None
    prev = None
    prev_files = baseline_records(REPO, os.environ)
    if prev_files:
        prev_record = prev_files[-1].name
        prev = json.loads(prev_files[-1].read_text())
        if prev.get("sf") != sf:
            prev = None  # cross-sf comparisons are meaningless
    canary_ratios, canary_ratio, delta_vs_prev = canary_deltas(
        times, (prev or {}).get("queries", {}), list(BENCH_QUERIES), CANARY_KEYS
    )
    canary_bw = bw_canary_ratio(times, (prev or {}).get("queries", {}))

    pp_ref = v3_reference(prev, sf, PROBE_PAR_REF)
    normalized_total_v3 = (
        round(total * pp_ref / probe_par_mean, 3) if pp_ref else None
    )

    record = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "probe_sec": probe_sec,
        "probe_par_sec": probe_par,
        "probe_par_end": probe_par_end,
        "probe_par_mean": probe_par_mean,
        "probe_par_ref": pp_ref,
        "normalized_total_v3": normalized_total_v3,
        "mem_bw_gbps": mem_bw,
        "canary_keys": CANARY_KEYS,
        "canary_ratios": canary_ratios,
        "canary_ratio": canary_ratio,
        "bw_canary_keys": BW_CANARY_KEYS,
        "canary_ratio_bw": canary_bw,
        "prev_record": prev_record,
        "delta_vs_prev": delta_vs_prev,
    }
    # Full record first (the per-key map — save this line as the committed
    # tools/bench_r<N>_local.json), then the COMPACT summary line LAST: the
    # round driver keeps only the final ~2000 chars of stdout and parses
    # the JSON it finds there; the full line outgrew that window at 73
    # keys (BENCH_r06/r07 both record parsed:null with the head of the
    # line truncated away). r15 measurement fix (r14 verdict finding #1):
    # the compact line now carries a per-key ``queries`` map again — as
    # many keys as fit the tail window, heaviest first at centisecond
    # precision — because PERF's per_query/geomean/scaling blocks read
    # the parsed line and had been empty since the key count outgrew the
    # window. All 73 full key names at any precision need ~2130 chars of
    # map alone (sum of key names is ~1540), so a single complete line
    # is arithmetically impossible; the greedy heaviest-first subset puts
    # every key that carries performance signal inside the window and
    # omits only the cheapest sub-second tail (queries_omitted counts
    # them; the committed full record keeps all keys at 3dp).
    # Size-bounded by tests/test_catalog_integrity.py.
    print(json.dumps(record))
    print(json.dumps(compact_record(record), separators=(",", ":")))
    spark.stop()


# Hard budget for the serialized compact line: the driver's stdout tail
# is 2000 chars (measured: BENCH_r14.json tail length exactly 2000) and
# must contain the complete final line plus its newline; 1900 leaves
# margin for multi-digit timings in a degraded host phase.
COMPACT_LINE_BUDGET = 1900


def compact_record(record: dict, budget: int = COMPACT_LINE_BUDGET) -> dict:
    """The full bench record minus its bulky maps, plus a delta summary
    and a size-bounded per-key ``queries`` subset (heaviest keys first,
    centisecond precision) so the round driver's ~2000-char stdout tail
    window parses per-key data again (r14 verdict finding #1).

    Dropped relative to the full record (which the committed
    tools/bench_r<N>_local.json keeps in full): ``delta_vs_prev`` (the
    summary survives), the per-canary ratio map and canary key lists
    (``canary_ratio`` / ``canary_ratio_bw`` scalars survive), and the
    redundant probe samples (``probe_par_mean`` survives).
    ``probe_series`` is stripped defensively for old-format records."""
    dv = sorted(record.get("delta_vs_prev", {}).values())
    drop = (
        "queries",
        "delta_vs_prev",
        "probe_series",
        # compact-line-only trims (full record keeps them):
        "probe_sec",
        "probe_par_sec",
        "probe_par_end",
        "probe_par_ref",
        "canary_keys",
        "canary_ratios",
        "bw_canary_keys",
        # free-text commentary some committed records carry — never spend
        # tail budget on it:
        "note",
        "per_key_detail",
    )
    compact = {k: v for k, v in record.items() if k not in drop}
    times = record.get("queries", {})
    compact["n_queries"] = len(times)
    compact["delta_summary"] = (
        {
            "n": len(dv),
            "sum": round(sum(dv), 3),
            "max": dv[-1],
            "min": dv[0],
            "regressed_gt_0p2s": sum(1 for x in dv if x > 0.2),
        }
        if dv
        else None
    )
    # Greedy heaviest-first per-key subset: deterministic order
    # (-seconds, name), stop at the first key that would overflow the
    # budget — the kept set is then exactly the heaviest prefix, so the
    # driver-visible map can only ever omit the cheapest tail.
    compact["queries"] = {}
    compact["queries_omitted"] = 0
    for key in sorted(times, key=lambda k: (-times[k], k)):
        compact["queries"][key] = round(times[key], 2)
        # Measured exactly as printed (compact separators).
        if len(json.dumps(compact, separators=(",", ":"))) > budget:
            del compact["queries"][key]
            break
    compact["queries_omitted"] = len(times) - len(compact["queries"])
    return compact


if __name__ == "__main__":
    main()
