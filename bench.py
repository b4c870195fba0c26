"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query materializes via the `noop` writer — full computation of every
column, no driver fetch cost, which is what a cluster job would measure.
A warmup query first so JVM/codegen startup isn't billed to q1.
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from pandasql_spark.queries import REGISTRY  # noqa: E402
from pandasql_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: the shuffle/join/agg-heavy queries plus the LLM-pipeline
#: operators — the ones whose plans matter at 100 TB.
HEADLINE = [
    "q01_pricing_summary",
    "q04_topk",
    "q05_join_groupby",
    "q06_multijoin_region",
    "q08_composite_join",
    "q12_having",
    "q16_doc_profile",
    "q19_dedup_exact",
    "q20_cosine_topk",
    "q21_events_hourly",
    "q22_ngram_jaccard",
    "q23_minhash_neardup",
    "q26_sessionize",
    "q27_asof_join",
    "q34_range_join",
    "q35_shipping_priority",
    "q39_winnowing",
    "q40_ann_ivf",
    "q41_multimodal",
    "q45_cross_join",
    "q46_json_props",
    "q47_funnel",
    "q24_simhash_neardup",
    "q33_count_distinct",
    "q52_distribution",
    "q50_jaccard_verified",
    "q10_embedding_neardup",
    "q51_tfidf",
    "q54_fuzzy_match",
    "q62_heavy_hitters",
    "q64_sequence_packing",
    "q65_exact_percentiles",
    "q66_contamination",
    "q67_repetition_signals",
    "q68_pii_redaction",
    "q69_semantic_dedup",
    "q71_curation_pipeline",
    "q72_unigram_logprob",
    "q73_corpus_report",
    "q74_kmv_distinct",
    "q75_kmv_set_overlap",
    "q76_windowed_kmv_stream",
    "q77_source_caps",
    "q78_sampled_quantiles",
    "q79_snapshot_diff",
    "q80_audio",
    "q81_audio_report",
    "q82_bm25_topk",
    "q83_scd2_merge",
    "q84_hash_split",
    "q85_chunking",
    "q86_gif",
    "q87_ann_join",
    "q88_line_dedup",
    "q89_quantize",
    "q90_jpeg",
    "q91_quantile_normalize",
    "q92_html_extract",
    "q93_url_normalize",
    "q94_crawl_pipeline",
    "q95_export_shards",
    "q96_video_frames",
    "q97_stream_admission",
    "q98_bigram_lm",
    "q99_crawl_ingest_stream",
    "q100_bpe_pair_stats",
]

#: fixed drift sentinel: timed min-of-3 immediately after warmup and
#: again after the whole sweep. Its plan never changes round-to-round,
#: so (start_s, end_s) expose machine noise *within* this bench run —
#: compare per-query movers against the sentinel ratio before calling
#: them regressions (r7's +9.5% common-query drift was unattributable
#: because nothing recorded contemporaneous machine state).
SENTINEL = "q02_filter_distinct"

#: loaded-host guard (VERDICT r14 task 7): a sentinel start reading
#: above the ceiling means the host is already busy when the sweep
#: begins (BENCH_r14's driver run started at 0.49 s / load 2.9 and
#: overstated the round by ~14 s), so the artifact self-flags
#: `"contaminated": true` and adjudication is mechanical: prefer the
#: committed idle twin. The band is sf0.1-specific — at other SFs only
#: the load_avg heuristic applies.
#:
#: Re-derived r17: the original 0.18–0.35 s band was calibrated on the
#: r14–r16 host state (clean starts 0.25–0.34 s). The r17 host is
#: uniformly slower: SEVEN independent runs starting at 1-min load
#: 0.3–1.1 on a 99.9 %-idle machine read sentinel_start 0.37–0.54 s,
#: and a dedicated idle probe (bench-identical warmup, 8 back-to-back
#: timings) measured 0.43→0.33 s with a warm-in trend — the old
#: ceiling is unsatisfiable at complete idle, so every run self-flagged
#: and the guard stopped distinguishing load from host generation.
#: New ceiling = ~1.4× the 0.40 s median idle start (the same headroom
#: ratio the r14 calibration gave its 0.25 s clean starts). The
#: load_avg ceiling below still catches genuinely loaded starts
#: (r14's 0.49 s / load 2.9 case trips it).
#: ADVICE r17: instead of hard-coding a per-host-generation constant,
#: derive the ceiling as 1.4× the measured idle sentinel median recorded
#: in tools/host_baseline.json (the headroom ratio both the r14 and r17
#: calibrations used). Re-measure the baseline with
#: `python bench.py --idle-probe` on an idle host when the guard starts
#: flagging every run; the fallback constant is the r17 calibration.
def _sentinel_ceiling() -> tuple[float, str]:
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "tools", "host_baseline.json")) as f:
            base = json.load(f)
        med = float(base["idle_sentinel_median_s"])
        return round(1.4 * med, 2), f"1.4 x idle median {med} ({base.get('measured', '?')})"
    except Exception:  # noqa: BLE001 — missing/invalid baseline → fallback
        return 0.55, "fallback constant (r17 calibration)"


SENTINEL_CEILING_SF01, SENTINEL_CEILING_BASIS = _sentinel_ceiling()
LOAD_AVG_CEILING = 2.0

#: standing drift-adjudication probe (VERDICT r10 task 1): the pinned
#: drift-cohort members (SCALING.md round-10 table) plus the r10 bench
#:-tail movers q73/q64/q67/q72. Re-timed min-of-3 at the END of every
#: bench run into BENCH_LOCAL.json's `idle_probe` block — adjudicating
#: movers against the cohort's collective motion stops being a bespoke
#: per-round exercise. `python bench.py --idle-probe` times ONLY this
#: set (plus the sentinel) for a quick re-probe on an idle machine.
IDLE_PROBE = [
    "q65_exact_percentiles",
    "q10_embedding_neardup",
    "q50_jaccard_verified",
    "q75_kmv_set_overlap",
    "q73_corpus_report",
    "q64_sequence_packing",
    "q67_repetition_signals",
    "q72_unigram_logprob",
    "q76_windowed_kmv_stream",
]

#: bench-total subtotal groups (VERDICT r17 task 6): the local total mixes
#: three cost classes that move for different reasons — optimizable batch
#: work, the DELIBERATE oracle-gate composition folds (q50 r16, q10/q41
#: r17: second pipelines added so the one-call dedup compositions gate
#: end-to-end; adjudicated, not optimizable away), and the streaming
#: replays' fixed micro-batch machinery (real-engine overhead a
#: steady-state cluster amortizes; no 100 TB cost). Splitting the
#: reported total lets round-over-round ratios track the part
#: optimization can actually move. Additions-only: the flat `queries`
#: map and `value` total are unchanged.
STREAMING_REPLAY_QUERIES = frozenset({
    "q76_windowed_kmv_stream",
    "q97_stream_admission",
    "q99_crawl_ingest_stream",
})
COMPOSITION_FOLD_QUERIES = frozenset({
    "q10_embedding_neardup",
    "q41_multimodal",
    "q50_jaccard_verified",
})


def _exec_totals(spark) -> dict | None:
    """Cumulative executor totals — the host-independent cost axes
    (VERDICT r17 task 2): summed task time, GC time, shuffle read/write
    bytes and input bytes. Diffing two snapshots brackets one query's
    cost without wall-clock noise.

    r18 (same round, measurement hardening): read the in-process
    AppStatusStore directly over py4j instead of the REST /executors
    endpoint. The REST handler serves the SAME store (verified
    byte-identical metric deltas across six interleaved REST-vs-store
    probe arms, plans/r18/early_abba.jsonl), but the store read needs no
    jetty server, so the bench session keeps the exact r17 config
    (spark.ui.enabled=false) and the metrics cannot perturb or depend on
    the UI stack."""
    sc = spark.sparkContext
    try:
        # drain the async listener bus so task-end events from the job
        # that just finished are reflected in the status store
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — best-effort; store lag is ~ms
        pass
    try:
        execs = sc._jsc.sc().statusStore().executorList(True)
        tot = {
            "task_time_ms": 0,
            "gc_time_ms": 0,
            "shuffle_read_b": 0,
            "shuffle_write_b": 0,
            "input_b": 0,
        }
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["task_time_ms"] += e.totalDuration()
            tot["gc_time_ms"] += e.totalGCTime()
            tot["shuffle_read_b"] += e.totalShuffleRead()
            tot["shuffle_write_b"] += e.totalShuffleWrite()
            tot["input_b"] += e.totalInputBytes()
        return tot
    except Exception:  # noqa: BLE001 — metrics must not kill the bench
        return None


def _cpu_stat() -> tuple[float, float, float] | None:
    """(busy, steal, total) jiffies from /proc/stat — the whole-VM CPU
    ledger. `steal` is time the hypervisor ran someone else while this
    VM wanted CPU: the r18 host-instability investigation (SCALING.md
    round 18, steal section) caught neighbor-steal bursts inflating
    identical-code queries 3–6x while load_avg read idle, so every
    query now records the steal it ran under and adjudication stops
    guessing."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [float(x) for x in parts[1:]]
        user, nice, system, idle, iowait, irq, softirq, steal = (
            vals + [0.0] * 8
        )[:8]
        busy = user + nice + system + irq + softirq
        return busy, steal, busy + idle + iowait + steal
    except Exception:  # noqa: BLE001 — non-Linux / unreadable: skip
        return None


def _cpu_probe(window_s: float = 1.0) -> dict | None:
    """Direct idleness probe: busy/steal fraction of total capacity over
    ``window_s``. Replaces trusting load_avg, whose floor on this VM
    generation is ~2.5 at a measured 97%-idle (vmstat) — the load guard
    can no longer distinguish idle from busy here."""
    a = _cpu_stat()
    if a is None:
        return None
    time.sleep(window_s)
    b = _cpu_stat()
    if b is None:
        return None
    span = max(b[2] - a[2], 1e-9)
    return {
        "busy_frac": round((b[0] - a[0]) / span, 4),
        "steal_frac": round((b[1] - a[1]) / span, 4),
        "window_s": window_s,
    }


def _totals_delta(before: dict | None, after: dict | None,
                  n_runs: int) -> dict | None:
    """Per-run average of the executor-total deltas across ``n_runs``
    timing runs (the metrics are run-invariant up to first-touch JIT, so
    the average is the steady-state number; n_runs is recorded)."""
    if before is None or after is None or n_runs <= 0:
        return None
    out = {k: round((after[k] - before[k]) / n_runs, 1) for k in before}
    out["n_runs"] = n_runs
    return out


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _release_new_rdds(spark, before: set) -> None:
    """Unpersist RDDs persisted since ``before`` was snapshotted.
    clearCache() clears the Dataset cache but NOT checkpointed internal
    RDDs — the curation/packing lineage barriers (q64/q71, r12) would
    otherwise accumulate one resident corpus copy per timing run.
    q40's build-once IVF index is exempted BY ITS CALLER (releasing a
    localCheckpoint makes the frame unrecomputable and later probes
    would fail, not just slow)."""
    cur = spark.sparkContext._jsc.getPersistentRDDs()
    for i in cur.keySet().toArray():
        if i not in before:
            r = cur.get(i)
            if r is not None:
                r.unpersist(False)


def _rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _min_of(fn, spark, n: int = 3) -> float:
    before = _rdd_ids(spark)
    try:
        runs = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 3)
    finally:
        _release_new_rdds(spark, before)


def _run_idle_probe(spark) -> dict:
    """min-of-3 re-probe of the pinned drift set, with load snapshots."""
    block: dict = {"load_avg_start": [round(x, 2) for x in os.getloadavg()]}
    probes: dict[str, float] = {}
    for name in IDLE_PROBE:
        try:
            probes[name] = _min_of(REGISTRY[name].fn, spark)
        except Exception as exc:  # noqa: BLE001 — keep probing
            probes[name] = None
            block.setdefault("errors", {})[name] = (
                f"{type(exc).__name__}: {exc}"[:200]
            )
        finally:
            spark.catalog.clearCache()
    block["queries"] = probes
    try:
        block["sentinel_s"] = _min_of(REGISTRY[SENTINEL].fn, spark)
    except Exception:  # noqa: BLE001
        block["sentinel_s"] = None
    block["load_avg_end"] = [round(x, 2) for x in os.getloadavg()]
    return block


def idle_probe_main() -> None:
    """`python bench.py --idle-probe`: warmup + the probe set only —
    the quick idle-machine re-probe for drift adjudication."""
    spark = get_spark("pandasql-spark-idle-probe")
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY[SENTINEL].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(1000).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    block = _run_idle_probe(spark)
    block["metric"] = "idle_probe"
    block["sf"] = _sf_from_dir(SF_DIR)
    print(json.dumps(block))


def main() -> None:
    # Session config identical to the r17 bench (UI stays off): the cost
    # metrics (VERDICT r17 task 2) read the in-process AppStatusStore
    # over py4j, outside the perf_counter windows — no jetty needed. An
    # interleaved 6-arm A/B (REST+UI / store / r17-no-metrics, committed
    # as plans/r18/early_abba.jsonl) showed no arm effect on timings and
    # byte-identical metric deltas between the REST and store readers.
    spark = get_spark("pandasql-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    load_start = os.getloadavg()
    # direct CPU idleness/steal probe at start (see _cpu_probe): load_avg
    # has a ~2.5 floor on this VM generation at measured 97% idle, so the
    # start-state record needs a signal that actually reads the CPU
    cpu_start = _cpu_probe()

    # warmup: JVM, codegen, parquet footer cache
    REGISTRY["q02_filter_distinct"].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    # warm the Python-worker pool + Arrow serialization path too, so the
    # first mapInPandas query (MinHash/SimHash kernels) isn't billed the
    # one-time worker spin-up a steady-state cluster amortizes
    spark.range(1000).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    # full-pipeline warmup: one UNTIMED run of the first billed query.
    # q02 warms scans/filters but not the wide-agg codegen q01 uses, so
    # q01's min-of-2 was still billing first-touch JIT (r4/r5 drift:
    # 0.495 -> 1.53 s with an unchanged plan). Running the first slot's
    # own pipeline once makes slot position irrelevant to the billed
    # number; every other query already benefits from its predecessors.
    REGISTRY[HEADLINE[0]].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()

    sentinel_start = _min_of(REGISTRY[SENTINEL].fn, spark)
    spark.catalog.clearCache()

    # min of 3 runs per query: the first run pays one-time costs (JIT,
    # shuffle-service setup, broadcast build) that a steady-state cluster
    # job amortizes, and min-of-2 proved noisy on a shared VM (two
    # slowish runs in a row billed q01 0.63 s vs a 0.44 s min-of-5
    # steady state) — min-of-3 is the steady-state number.
    #
    # Isolation: clearCache() between queries so one query's persisted
    # intermediates (MinHash signatures, ranking offsets) don't bill
    # memory pressure to its neighbors — round-2 showed untouched queries
    # drifting ~30% from accumulated session footprint. A query that
    # *needs* a cache (q40's IVF index) manages its own, outside the
    # storage-memory pool the others compete for.
    #
    # Fault tolerance: one broken query records an "error" entry instead
    # of killing the run — a bench line with 24/25 numbers beats rc=1
    # with none (round-3 failure mode).
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    cost_metrics: dict[str, dict] = {}
    for name in HEADLINE:
        fn = REGISTRY[name].fn
        before_rdds = _rdd_ids(spark)
        totals_before = _exec_totals(spark)
        cpu_before = _cpu_stat()
        try:
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            # still-noisy triple (shared-VM neighbors, GC) → one
            # tie-break run; min-of-N stays the steady-state estimator
            if (max(runs) - min(runs)) / min(runs) > 0.25:
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            timings[name] = round(min(runs), 3)
            delta = _totals_delta(totals_before, _exec_totals(spark),
                                  len(runs))
            if delta is not None:
                cpu_after = _cpu_stat()
                if cpu_before is not None and cpu_after is not None:
                    span = max(cpu_after[2] - cpu_before[2], 1e-9)
                    # steal this query's timed runs sat under — the r18
                    # drift-adjudication axis (steal bursts inflated
                    # identical code 3–6x; SCALING.md round 18)
                    steal = (cpu_after[1] - cpu_before[1]) / span
                    busy = (cpu_after[0] - cpu_before[0]) / span
                    delta["steal_frac"] = round(steal, 4)
                    delta["busy_frac"] = round(busy, 4)
                    # steal as a share of the CPU the query actually
                    # contended for: a SINGLE-core phase (1-task stage,
                    # one python worker) can run 10–50x slow while
                    # global steal reads ~3% (one core of 32) — q66's
                    # 40 s reading carried steal_frac 0.027 but
                    # steal_share 0.46 (SCALING.md round 18, microbench:
                    # identical numpy on identical data 9.05/6.02/0.19 s
                    # back-to-back). This is the detector for it.
                    delta["steal_share"] = round(
                        steal / max(steal + busy, 1e-9), 4
                    )
                cost_metrics[name] = delta
        except Exception as exc:  # noqa: BLE001 — keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            spark.catalog.clearCache()
            if name != "q40_ann_ivf":  # q40's IVF cache must survive
                _release_new_rdds(spark, before_rdds)

    # Honesty entry for the ANN number: q40_ann_ivf above times the
    # PROBE path of a cached index (the operator's build-once/probe-many
    # contract). This one clears the cache and times a cold build+probe
    # so round-over-round comparisons see both ends.
    from pandasql_spark.queries import _IVF_CACHE

    _IVF_CACHE.clear()
    try:
        totals_before = _exec_totals(spark)
        t0 = time.perf_counter()
        REGISTRY["q40_ann_ivf"].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["q40_ann_ivf_cold_build_probe"] = round(time.perf_counter() - t0, 3)
        delta = _totals_delta(totals_before, _exec_totals(spark), 1)
        if delta is not None:
            cost_metrics["q40_ann_ivf_cold_build_probe"] = delta
    except Exception as exc:  # noqa: BLE001
        errors["q40_ann_ivf_cold_build_probe"] = f"{type(exc).__name__}: {exc}"[:300]

    try:
        sentinel_end = _min_of(REGISTRY[SENTINEL].fn, spark)
    except Exception as exc:  # noqa: BLE001
        sentinel_end = None
        errors["sentinel_end"] = f"{type(exc).__name__}: {exc}"[:300]
    spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    # key order is deliberate: the driver's capture keeps only the TAIL
    # of stdout, and BENCH_r08 lost the head of the line mid-"queries"
    # (q01–q05 timings + metric/value unrecoverable). The big per-query
    # map therefore goes FIRST and every summary scalar (metric, value,
    # sentinel, load_avg, ingest) AFTER it, so a head-truncated capture
    # still carries the headline numbers.
    out = {
        "queries": timings,
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": _sf_from_dir(SF_DIR),
        # drift attribution: 1/5/15-min load averages around the run and
        # a fixed sentinel query timed at both ends — compare movers
        # against the sentinel ratio before calling them regressions
        "load_avg": {
            "start": [round(x, 2) for x in load_start],
            "end": [round(x, 2) for x in os.getloadavg()],
        },
        "sentinel": {
            "name": SENTINEL,
            "start_s": sentinel_start,
            "end_s": sentinel_end,
        },
        # VERDICT r17 task 6: the three cost classes, so round-over-round
        # ratios can track the optimizable part (batch_core) separately
        # from the adjudicated fold work and the replays' fixed overhead
        "subtotals": {
            "batch_core": round(sum(
                v for k, v in timings.items()
                if k not in STREAMING_REPLAY_QUERIES
                and k not in COMPOSITION_FOLD_QUERIES
            ), 3),
            "composition_folds": round(sum(
                v for k, v in timings.items()
                if k in COMPOSITION_FOLD_QUERIES
            ), 3),
            "streaming_replay": round(sum(
                v for k, v in timings.items()
                if k in STREAMING_REPLAY_QUERIES
            ), 3),
        },
    }
    if cost_metrics:
        # VERDICT r17 task 2: per-query executor task-time / GC /
        # shuffle-bytes / input-bytes (per-run averages) — the
        # host-independent axes wall-clock stopped covering
        out["cost_metrics"] = cost_metrics
    # loaded-host self-flag: sentinel above its idle-band ceiling (at
    # sf0.1) or a high 1-min load at start ⇒ the totals are not
    # comparable round-over-round; record WHY so adjudication needs no
    # forensic re-probe
    contamination = []
    if _sf_from_dir(SF_DIR) == 0.1 and sentinel_start > SENTINEL_CEILING_SF01:
        contamination.append(
            f"sentinel_start {sentinel_start} > band ceiling "
            f"{SENTINEL_CEILING_SF01} ({SENTINEL_CEILING_BASIS})"
        )
    if load_start[0] > LOAD_AVG_CEILING:
        contamination.append(
            f"load_avg_start {round(load_start[0], 2)} > {LOAD_AVG_CEILING}"
        )
    # r18: direct CPU-state flags. The start probe catches a busy host
    # the moment the run begins (load_avg cannot — its floor on this VM
    # generation is ~2.5 at measured 97% idle); the per-query steal
    # summary catches neighbor-steal bursts DURING the run (measured
    # inflating identical-code queries 3–6x, SCALING.md round 18).
    if cpu_start is not None:
        out["cpu_probe_start"] = cpu_start
        if cpu_start["busy_frac"] > 0.25:
            contamination.append(
                f"cpu_busy_frac_start {cpu_start['busy_frac']} > 0.25"
            )
    steal_hit = {
        n: m["steal_frac"]
        for n, m in cost_metrics.items()
        if m.get("steal_frac", 0) > 0.05
        # single-core phases: global steal stays tiny (1 core of 32
        # ≈ 3%) while the one core the phase runs on is mostly stolen —
        # catch it by steal's share of the contended CPU instead
        or (m.get("steal_share", 0) > 0.25 and m.get("steal_frac", 0) > 0.005)
    }
    if steal_hit:
        out["steal_affected_queries"] = {
            n: round(v, 3) for n, v in sorted(
                steal_hit.items(), key=lambda kv: -kv[1]
            )
        }
        contamination.append(
            f"hypervisor steal during {len(steal_hit)} queries "
            f"(>5% of capacity or >25% of the query's contended CPU; "
            f"max steal_frac {max(steal_hit.values()):.3f})"
        )
    if contamination:
        out["contaminated"] = True
        out["contamination_reasons"] = contamination
    # standing drift probe: the pinned cohort + r10 movers re-timed at
    # the end of the run (min-of-3, load-stamped) — the adjudication
    # data every round's twin now carries by default
    try:
        out["idle_probe"] = _run_idle_probe(spark)
    except Exception as exc:  # noqa: BLE001 — probe must not kill the run
        errors["idle_probe"] = f"{type(exc).__name__}: {exc}"[:300]
    try:
        out["ingest"] = bench_ingest(spark)
    except Exception as exc:  # noqa: BLE001 — ingest must not kill the run
        errors["ingest"] = f"{type(exc).__name__}: {exc}"[:300]
    if errors:
        # a failed query shrinks the sum — never publish that as a
        # comparable headline number
        out["value"] = None
        out["partial"] = True
        out["errors"] = errors
    # truncation-proof twin: the COMPLETE dict, committed next to the
    # round files so per-query history survives any stdout capture loss
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.json"), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout must not kill the bench line
    print(json.dumps(out))
    # The driver records only the LAST ~2000 chars of stdout, and the
    # full line above is ~3.5k — three rounds of BENCH_rN.json carried
    # "parsed": null because the tail starts mid-"queries". Emit a
    # compact self-contained summary as the FINAL line (total,
    # sentinel, ingest, five slowest queries — always well under the
    # tail window) so whatever capture policy applies, the last line
    # parses standalone. Full per-query history lives in the committed
    # BENCH_LOCAL.json twin.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "n_queries": len(timings),
        "slowest": dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:5]
        ),
        "sentinel": out["sentinel"],
        "load_avg": out["load_avg"],
        "subtotals": out["subtotals"],
    }
    if cost_metrics:
        compact["task_time_s_total"] = round(
            sum(m["task_time_ms"] for m in cost_metrics.values()) / 1000, 1
        )
    if "ingest" in out:
        compact["ingest"] = out["ingest"]
    if out.get("contaminated"):
        compact["contaminated"] = True
        compact["contamination_reasons"] = out["contamination_reasons"]
    if errors:
        compact["partial"] = True
        compact["n_errors"] = len(errors)
    print(json.dumps(compact))


def bench_ingest(spark) -> dict:
    """Ingest/transfer overhead analog of the reference's
    benchmarks/measure_overhead.py (BASELINE.md table 2): time
    (a) read_csv → engine-native storage (the reference's CSV load +
    SQLite offload) and (b) result transfer engine → pandas. The CSV is
    exported from lineitem at the bench SF first (prep, untimed); per-MB
    figures make the numbers comparable to the reference's 6,000 MB
    sweep — see SCALING.md."""
    import glob
    import shutil
    import tempfile

    import pandasql_spark as ps

    tmp = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        csv_dir = os.path.join(tmp, "csv")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        li.write.option("header", True).mode("overwrite").csv(csv_dir)
        csv_mb = sum(
            os.path.getsize(p) for p in glob.glob(csv_dir + "/part-*")
        ) / 1e6

        t0 = time.perf_counter()
        df = ps.read_csv(csv_dir, spark=spark)
        df.to_parquet(os.path.join(tmp, "native"))
        ingest_s = time.perf_counter() - t0

        native = ps.read_parquet(os.path.join(tmp, "native"), spark=spark)
        # transfer_to_pandas_s is the engine→pandas Arrow transfer —
        # the number comparable to the reference's transfer sweep.
        t0 = time.perf_counter()
        pdf = native.compute()
        transfer_s = time.perf_counter() - t0

        return {
            "rows": int(len(pdf)),
            "csv_mb": round(csv_mb, 1),
            "read_csv_offload_s": round(ingest_s, 3),
            "transfer_to_pandas_s": round(transfer_s, 3),
            "read_ms_per_mb": round(ingest_s * 1000 / csv_mb, 2),
            "transfer_ms_per_mb": round(transfer_s * 1000 / csv_mb, 2),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    if "--idle-probe" in sys.argv[1:]:
        sys.exit(idle_probe_main())
    sys.exit(main())
