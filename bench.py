#!/usr/bin/env python
"""Benchmark the headline declared queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "queries_steady": {...},
   "queries_oracle": {...}, "sf": 0.1}

Execution is forced through the noop sink (full plan runs, nothing
collected to the driver) — the honest way to time a distributed plan.
Batch profile: broadcast joins plus input-sized shuffle layout
(``session.tune_for_input``): partition count targets 128 MB of input
per partition — thousands at 100 TB, the 8-partition floor at bench SF
— and AQE engages above the input size where its fixed per-query
re-planning cost amortizes (the reference's small-cluster
spark-defaults reaches the same AQE-off/8-partition point statically).

``queries_oracle`` records the DuckDB wall time of each bench query's
declared oracle SQL on the SAME parquet at the same sf — the in-repo
audit trail for the "steady within 2x of the single-node baseline"
gate.  Oracles with quadratic all-pairs shape are skipped at bench sf
(listed under ``oracle_skipped`` — DuckDB needs minutes for the
12.6M-pair Jaccard; the scale comparison is meaningless there).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (scan, filter+agg, windowed agg,
# joins incl. as-of, analytic windows, merge, sessionize, topk, union,
# json, EXT dedup/similarity/text).
BENCH_QUERIES = [
    "q_trending_velocity",
    "q_agg_conditional_counts",
    "q_window_tumbling_1min",
    "q_agg_global",
    "q_join_inner_equi",
    "q_join_left_enrich",
    "q_join_asof",
    "q_merge_upsert",
    "q_dedup_latest",
    "q_first_value_ignore_nulls",
    "q_sessionize_lag",
    "q_topk_per_group",
    "q_orderby_limit_topk",
    "q_union_all",
    "q_json_parse_struct",
    "q_cohort_retention",
    "q_dedup_exact",
    "q_neardup_minhash",
    "q_simhash_neardup",
    "q_embed_neardup",
    "q_knn_topk",
    "q_knn_lsh",
    "q_knn_ivf",
    "q_text_stats",
    "q_text_langid",
    "q_text_quality",
    "q_text_fingerprint",
    "q_text_repetition",
    "q_pack_sequences",
    "q_ewma_state",
    # r4 additions (r3 VERDICT #7): r3 operators that missed the list
    "q_ewma_anomaly",
    "q_multimodal_features",
    "q_column_profile",
    "q_vocab_topn",
    # r4 new-operator families (clusters excluded: its iterative
    # convergence loop runs actions at plan-build time, so a
    # declare-once/execute-N bench would time only the final join)
    "q_scd2_history",
    "q_join_interval",
    "q_text_redact",
    "q_chunk_documents",
    "q_decontaminate_ngram",
    "q_corpus_mix",
    "q_lm_score",
    # r4 wave-2 additions (embed_clusters excluded for the same
    # iterative-convergence reason as neardup_clusters above)
    "q_unpivot",
    "q_grouping_sets",
    "q_window_rank_stats",
    "q_agg_mode",
    "q_zscore_norm",
    "q_session_window_agg",
    "q_bm25_search",
    # r4 wave-5/7 family representatives
    "q_moving_avg",
    "q_funnel",
    "q_agg_corr",
    # r5 additions
    "q_robust_scale",
    "q_spike_detect",
    # r6 additions
    "q_sample_weighted",
    "q_vocab_coverage",
    "q_dedup_passage",
    "q_split_leakage",
    "q_shard_layout",
    # r6 semantic tier (semdedup's k-row seed collect runs at declare
    # time — the same accepted plan-build cost as q_knn_ivf's
    # quantizer, noted in bench run_df's comment)
    "q_semdedup",
    "q_semantic_decontaminate",
    # r12 additions: the two newly registered window heads
    "q_dedup_substring",
    "q_split_assign_safe",
]

# The r3 headline set (BENCH_r03.json's 30 queries): the aggregate
# sum-of-steady / sum-of-oracle ratio is composition-sensitive — every
# query added to the bench adds Spark's ~0.1 s local-mode floor to the
# numerator but only DuckDB's ~5 ms to the denominator, so growing the
# set inflates the ratio even when no query got slower.  The ratio over
# this FIXED set is the round-over-round comparable number; the
# full-set ratio above tracks the current surface.
R3_COMMON = BENCH_QUERIES[:30]


# Oracles that must never run at bench/replica scale: structurally
# quadratic twins of bucketed algorithms (also imported by
# tools/amortized_bench.py).
ORACLE_SKIP = {
    "q_neardup_minhash": "all-pairs exact-Jaccard oracle is O(n^2); minutes at sf>=0.1",
    "q_neardup_cross_corpus": (
        "cross-side exact-Jaccard oracle is O(corpus x incoming); it hangs "
        "at the 50x replica (375M list_intersect pairs) — the engine side "
        "stays banded and is timed without the control"
    ),
    "q_split_leakage": (
        "the leakage audit's control is the same all-pairs exact-Jaccard "
        "twin as q_neardup_minhash (O(n^2) list_intersect); the engine "
        "side stays banded and is timed without the control"
    ),
    "q_neardup_verified": (
        "all-pairs exact-Jaccard control, O(n^2) at replica scale; "
        "engine side timed without it"
    ),
    "q_neardup_clusters": (
        "component oracle reaches over the all-pairs exact-Jaccard "
        "graph (O(n^2) + recursive CTE); engine side timed without it"
    ),
    "q_neardup_free_corpus": (
        "same all-pairs exact-Jaccard + reachability control as "
        "q_neardup_clusters; engine side timed without it"
    ),
    "q_corpus_pipeline": (
        "contains the all-pairs dedup control plus a 13-gram unnest "
        "cross join; engine side timed without it"
    ),
    "q_split_assign_safe": (
        "the cluster labels come from the same all-pairs exact-Jaccard "
        "+ recursive-reachability control as q_neardup_clusters; "
        "engine side timed without it"
    ),
}


def _host_control() -> dict:
    """Host-load snapshot (r4 VERDICT ask #6): the r3->r4 common-set
    ratio moved ~1.7x from a busier bench host alone, so every bench
    line now records the conditions it ran under — load average,
    schedulable CPUs, and the live process count — letting a reader
    separate plan regressions from noisy-neighbor drift."""
    la1, la5, la15 = os.getloadavg()
    try:
        nproc = sum(1 for d in os.listdir("/proc") if d.isdigit())
    except OSError:
        nproc = None
    return {
        "loadavg_1m": round(la1, 2),
        "loadavg_5m": round(la5, 2),
        "loadavg_15m": round(la15, 2),
        "cpus": len(os.sched_getaffinity(0)),
        "n_processes": nproc,
    }


def main() -> None:
    from real_timetransactionaldatalakehouse_spark.session import batch_session, tune_for_input

    import __spark_entry__ as entry

    host_start = _host_control()
    spark = batch_session("lakehouse-bench")
    input_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(SF_DIR)
        for f in fs
    )
    tune_for_input(spark, input_bytes)
    qs = entry.queries()

    # JVM warmup on the smallest sf: touch each execution family once
    # (hash agg, shuffle, window sort, broadcast join, Arrow workers)
    # so the first timed query isn't paying one-off JVM initialization
    # (codegen compiler, shuffle machinery, Python worker spawn)
    for wq in (
        "q_agg_global", "q_window_tumbling_1min", "q_join_inner_equi",
        "q_orderby_limit_topk", "q_dedup_latest", "q_neardup_minhash",
    ):
        qs[wq](spark, "/root/testdata/sf0.001").collect()
    # OS page-cache warmup for the measured SF (r6): the sf0.001
    # warmup above never touches the SF_DIR files, so whichever query
    # scans a table FIRST paid its cold disk read (measured 5.4 s cold
    # vs 0.4 s warm on the events scan after drop_caches) — a cost
    # that lands on arbitrary composition members while every later
    # query reads warm.  Warm by reading the file BYTES (r7, ADVICE
    # fix): a count() over parquet answers from row-group metadata
    # without faulting the column pages in, so it only warmed footers
    # and the first real query still paid the cold read.  Both engines
    # read the same warmed files.
    from real_timetransactionaldatalakehouse_spark import TPCH_TABLES as _TT

    def _fault_in(path: str) -> None:
        if os.path.isdir(path):
            for r, _, fs in os.walk(path):
                for f in fs:
                    _fault_in(os.path.join(r, f))
            return
        with open(path, "rb") as fh:
            while fh.read(1 << 24):
                pass

    for t in _TT:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            _fault_in(p)

    def run_df(df) -> float:
        # drop anything the query BUILD persisted (e.g. the LM scorer's
        # position-stream cache, populated by its plan-build count)
        # BEFORE the clock starts: a timed run must rebuild the cache,
        # or min-of-N would select a warm-cache run and understate the
        # query.  One residue stays untimed: work a query fn does at
        # PLAN BUILD (the LM scorer's one-row vocabulary-size collect)
        # runs once outside run_df; the rebuilt cache pays the data
        # pass again but not that collect's job-submission overhead
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        # pay GC debt outside the timed region
        spark.sparkContext._jvm.System.gc()
        return dt

    # DuckDB single-node oracle timings over the same parquet (the
    # baseline proxy: BASELINE.md documents that the reference
    # publishes no per-query numbers).  r8 (VERDICT r7 #1, the gate-
    # metric fix): each query's oracle is timed IMMEDIATELY after its
    # Spark samples with SYMMETRIC min-of-4 on both sides (was 4/3),
    # so numerator and denominator of every per-query ratio share one
    # host-load window; and the r3common gate set gets a SECOND full
    # pass (both engines) at the end of the run, with per-query mins
    # taken ACROSS passes — a slow host phase during either pass can
    # no longer set the gate number.  (Sample-level S/O/S/O
    # alternation was tried and rejected: it destroys consecutive-run
    # cache warmth for BOTH engines — +50% walls on each side — and
    # raises variance instead of cancelling it.)  Note: blocks stay
    # consecutive per engine so each estimator measures its own
    # steady state.
    # Flagged for the reader of the aggregate ratio: queries where the
    # DuckDB oracle is structurally slower than the engine (its only
    # faithful formulation is row-at-a-time), so they DEFLATE the
    # aggregate.  Their per-query ratios are in the detail file.
    ORACLE_ASYMMETRY_NOTES = {
        "q_ewma_anomaly": (
            "DuckDB's faithful twin of the ordered stateful fold is a "
            "row-recursive CTE (~10x the engine's struct-fold agg on the "
            "same rows); included because both compute identical output"
        ),
    }
    oracle: dict[str, float] = {}
    con = osql = None
    try:
        import duckdb

        from real_timetransactionaldatalakehouse_spark import TPCH_TABLES

        osql = entry.oracle_sql()
        con = duckdb.connect()
        for t in TPCH_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
    except Exception:
        con = None  # bench must still print its line if DuckDB is absent

    # cold = first run of a freshly declared plan (parse/analyze/
    # optimize/codegen included — the per-query fixed cost of this
    # harness); steady = best of five re-executions of the SAME
    # declared DataFrame — plan-warm in the literal sense: driver-side
    # analysis is done once (as in any long-running job), while every
    # run still executes the full physical plan (scans, shuffles,
    # kernels — caches are cleared between runs, nothing is a cached
    # result).  min-of-N filters single-run JVM noise (GC pauses,
    # compilation, noisy-neighbor CPU stalls on a shared host).
    # N=4 re-executions for BOTH Spark and DuckDB (r8, was 4/3),
    # sampled PAIRED (alternating engine/oracle runs — see the oracle
    # comment above): min-of-N is the standard steady-state estimate,
    # and identical N on both sides keeps the ratio unbiased.  Two
    # back-to-back r6 runs of identical code put the 30-query r3common
    # steady sum at 6.90 s and 7.24 s — a +-0.35 s ambient band the
    # pairing exists to cancel.
    # Prefix-sum queries: the prebuilt plan's noop save re-executes
    # the FULL path (scan -> agg -> window; persists are cleared
    # between runs), and the boundary/offset collects are
    # plan-build CONSTANTS — the same accepted declare-time cost as
    # q_knn_ivf's centroid literals and q_semdedup's seed sample.
    timings: dict[str, float] = {}
    steady: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        df = qs[name](spark, SF_DIR)
        timings[name] = round(run_df(df), 4)
        samples[name] = sorted(round(run_df(df), 4) for _ in range(4))
        steady[name] = samples[name][0]
        if con is not None and name in osql and name not in ORACLE_SKIP:
            # oracle timed IMMEDIATELY after the query's Spark samples:
            # same host window per query, symmetric min-of-4 both sides
            try:
                best = float("inf")
                for _ in range(4):
                    t0 = time.perf_counter()
                    con.execute(osql[name]).fetchall()
                    best = min(best, time.perf_counter() - t0)
                oracle[name] = round(best, 4)
            except Exception:
                pass
    # second pass over the GATE set (r3common), minutes after the
    # first: per-query min ACROSS passes on BOTH sides.  The gate
    # ratio is computed from two separated host windows, so one slow
    # ambient phase (the documented bimodal behavior of this VM)
    # cannot set the recorded number — the honest fix for a gate
    # metric whose same-code band straddled the gate (VERDICT r7 #1).
    # r9 (VERDICT r8 #5): SIX samples per side in this pass (was 4) —
    # the gate set is 30 queries, so the extra samples cost ~1 min
    # and pull the per-query MEDIAN (the ambient-sensitive estimator;
    # min and median disagreed 28% in r8) toward the min.
    second_pass: dict[str, list[float]] = {}
    for name in R3_COMMON:
        df = qs[name](spark, SF_DIR)
        sp = sorted(round(run_df(df), 4) for _ in range(6))
        second_pass[name] = sp
        merged = sorted(samples[name] + sp)
        samples[name] = merged
        steady[name] = merged[0]
        if con is not None and name in osql and name not in ORACLE_SKIP:
            try:
                best = oracle.get(name, float("inf"))
                for _ in range(6):
                    t0 = time.perf_counter()
                    con.execute(osql[name]).fetchall()
                    best = min(best, time.perf_counter() - t0)
                oracle[name] = round(best, 4)
            except Exception:
                pass

    if con is not None:
        con.close()

    # Interleaved A/B vs the previous round's tree (VERDICT r10 #2):
    # the round-over-round r3common comparison had become host-drift-
    # dominated (r10: 15 "regressions" with zero code changes, floor
    # 0.028->0.040 s between runs).  tools/bench_ab.py alternates
    # prev-tree / curr-tree / oracle passes inside THIS session, so
    # ambient drift lands on every term symmetrically: the paired
    # curr-vs-prev ratio is the plan-change signal, the paired
    # vs-oracle ratio is the gate number with numerator and
    # denominator sharing one host window, and both trees' floors are
    # recorded from the same session (if they disagree, the session
    # itself was unstable and the file says so).  Guarded: bench must
    # still print its line if git history or the archive is missing.
    ab = None
    try:
        import importlib.util as _ilu

        _root = os.path.dirname(os.path.abspath(__file__))
        _spec = _ilu.spec_from_file_location(
            "bench_ab", os.path.join(_root, "tools", "bench_ab.py"))
        _mod = _ilu.module_from_spec(_spec)
        _spec.loader.exec_module(_mod)
        ab = _mod.interleaved_ab(
            spark, SF_DIR, _root, list(R3_COMMON), set(ORACLE_SKIP),
            passes=3, runs_per_query=2,
        )
    except Exception as e:  # noqa: BLE001 — bench line must survive
        ab = {"error": str(e)[:300]}

    # the measured per-query floor of this harness: a one-stage noop
    # write of a 1-row in-memory plan — pure scheduling + sink cost,
    # no data.  Reported so the aggregate ratio can be read for what
    # it is at tiny SF: N queries x this floor dominate the numerator.
    floor_df = spark.range(1)
    floor_s = round(min(run_df(floor_df) for _ in range(5)), 4)

    covered = [n for n in oracle if n in steady]
    r3cov = [n for n in covered if n in R3_COMMON]
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    ratios = {
        n: round(steady[n] / max(oracle[n], 1e-9), 2) for n in covered
    }
    worst5 = dict(sorted(ratios.items(), key=lambda kv: -kv[1])[:5])
    # computed ONCE so the published median-based ratio and the
    # median-sum it decomposes can never desynchronize (the ratio is
    # DEFINED as this sum over the oracle sum)
    r3_median_sum = sum(
        (samples[n][(len(samples[n]) - 1) // 2]
         + samples[n][len(samples[n]) // 2]) / 2
        for n in r3cov
    )
    detail = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries_cold": timings,
        "queries_steady": steady,
        "value_steady": round(sum(steady.values()), 4),
        "queries_oracle": oracle,
        "value_oracle": round(sum(oracle.values()), 4),
        "steady_oracle_covered": round(sum(steady[n] for n in covered), 4),
        "steady_vs_oracle_ratio": round(
            sum(steady[n] for n in covered) / max(sum(oracle.values()), 1e-9), 3
        ),
        "steady_vs_oracle_per_query": ratios,
        "per_query_floor_sec": floor_s,
        "steady_vs_oracle_ratio_r3common": round(
            sum(steady[n] for n in r3cov)
            / max(sum(oracle[n] for n in r3cov), 1e-9),
            3,
        ),
        # Variance band for the gate metric (r6 VERDICT ask #3): the
        # same ratio computed from the per-query MEDIAN of the steady
        # sample pool (4 first-pass + 6 second-pass for gate queries,
        # r9) — the spread [min-based, median-based] is what
        # ambient alone can move the recorded number by on identical
        # code, printed so a reader never mistakes that band for a
        # plan change.  (min-of-N stays the headline: it is the
        # standard steady-state estimator and the least ambient-
        # sensitive point of the sample.)
        "steady_vs_oracle_ratio_r3common_median": round(
            r3_median_sum / max(sum(oracle[n] for n in r3cov), 1e-9), 3
        ),
        "queries_steady_samples": samples,
        # numerator/denominator decomposition (r7): the r6->r7 swing of
        # the gate ratio (1.869 -> 2.41) happened with a FLAT steady sum
        # (9.08 -> 8.95 s) — a host condition during the r6 run had
        # inflated three window-family oracles ~10x, deflating r6's
        # ratio.  Cross-denominator check on identical code: r7 steady /
        # r6 oracles = 1.84, r6 steady / r7 oracles = 2.45.  Publishing
        # both sums makes that decomposition possible without the
        # detail file.
        "r3common_steady_sum": round(sum(steady[n] for n in r3cov), 4),
        "r3common_median_sum": round(r3_median_sum, 4),
        "r3common_oracle_sum": round(sum(oracle[n] for n in r3cov), 4),
        "r3common_queries": len(r3cov),
        # no query's steady time is build-inclusive; the field stays
        # so the line keeps its schema
        "rebuild_timed": [],
        "oracle_skipped": ORACLE_SKIP,
        "oracle_asymmetry_notes": ORACLE_ASYMMETRY_NOTES,
        "steady_vs_oracle_ratio_excl_asymmetric": round(
            sum(steady[n] for n in covered if n not in ORACLE_ASYMMETRY_NOTES)
            / max(
                sum(oracle[n] for n in covered if n not in ORACLE_ASYMMETRY_NOTES),
                1e-9,
            ),
            3,
        ),
        "sf": float(sf) if sf else None,
        "host_start": host_start,
        "host_end": _host_control(),
        # full per-query A/B record (floors by pass, prev/curr/oracle
        # mins, per-query curr-vs-prev ratios)
        "ab_interleaved": ab,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)

    # The driver captures only the LAST ~2000 chars of stdout and JSON-parses
    # the final line (r2's line outgrew that window -> "parsed": null).
    # r14 (VERDICT r13 item 2 — a measurement-contract fix, not an
    # optimization): at 62 queries the old "drop the per-query dict on
    # overflow" fallback ALWAYS fired, starving the driver's per-query
    # and scaling comparisons (PERF_r13 n_common: 0).  The line now
    # keeps `queries` at all costs: per-query steadies are rounded to 3
    # significant digits (plenty for ratio comparisons; full-precision
    # sample pools stay in BENCH_DETAIL.json), the band/floor
    # decompositions that duplicated BENCH_DETAIL.json fields moved
    # there exclusively, and on overflow OPTIONAL diagnostics are shed
    # one by one — `queries` is only dropped if even the bare contract
    # line cannot fit (it always can: ~1.6k chars at 62 queries).
    # Query names are unchanged (driver contract: never rename).
    def _sig3(v: float) -> float:
        return float(f"{v:.3g}")

    out = {
        "metric": "headline_queries_total_wall",
        "value": detail["value"],
        "unit": "sec",
        "queries": {n: _sig3(s) for n, s in steady.items()},
        "value_steady": detail["value_steady"],
        "value_oracle": detail["value_oracle"],
        "steady_vs_oracle_ratio": detail["steady_vs_oracle_ratio"],
        "steady_vs_oracle_ratio_r3common": detail["steady_vs_oracle_ratio_r3common"],
        "per_query_floor_sec": floor_s,
        # the interleaved A/B summary (VERDICT r10 #2): paired ratios
        # and BOTH trees' same-session floors on the driver's line
        "r3common_paired_curr_vs_prev": (ab or {}).get("paired_curr_vs_prev"),
        "r3common_paired_vs_oracle": (ab or {}).get("paired_ratio_vs_oracle"),
        "r3common_paired_vs_oracle_prev": (
            (ab or {}).get("paired_ratio_vs_oracle_prev")),
        "ab_floor_prev": (ab or {}).get("floor_prev"),
        "ab_floor_curr": (ab or {}).get("floor_curr"),
        "ab_error": (ab or {}).get("error"),
        "host_loadavg_1m": detail["host_end"]["loadavg_1m"],
        "sf": detail["sf"],
        "detail": "BENCH_DETAIL.json",
    }
    if out.get("ab_error") is None:
        out.pop("ab_error")
    # overflow cascade: shed diagnostics (least critical first) before
    # the per-query dict; the driver's PERF/scaling machinery needs
    # `queries` more than any single aggregate, all of which live in
    # BENCH_DETAIL.json anyway.  "__requantize__" is the mid-cascade
    # step that re-rounds the per-query values to 2 significant digits
    # (still ±5% resolution — fine for regression ratios).
    shed_order = [
        "ab_floor_prev", "ab_floor_curr", "host_loadavg_1m",
        "r3common_paired_vs_oracle_prev", "r3common_paired_vs_oracle",
        "__requantize__", "steady_vs_oracle_ratio_r3common",
        "per_query_floor_sec", "r3common_paired_curr_vs_prev",
        "value_oracle", "value_steady", "steady_vs_oracle_ratio",
        "queries",
    ]
    line = json.dumps(out, separators=(",", ":"))
    while len(line) > 1800 and shed_order:
        step = shed_order.pop(0)
        if step == "__requantize__":
            out["queries"] = {
                n: float(f"{s:.2g}") for n, s in steady.items()
            }
        else:
            out.pop(step, None)
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
