"""Metric definitions and the statistics the benchmark reports.

``END_TO_END`` and ``PER_LAYER`` are the single source of the metric
names ``BENCHMARK.json`` lists (the smoke test keeps the two in step).
Each per-layer entry also names the end-to-end metric it should move and
the workload where it should move it; on the other workloads the
prediction is no change.

Every workload reports every end-to-end metric, in its own unit of work:

- ``lakehouse``: ``throughput`` = events/s over the whole timed cycle:
  the replay through the three tiers, the serving loop and the
  maintenance tick.  An operation is one micro-batch through bronze,
  gold and dims (the sum of the three tiers' trigger-to-commit times
  for that batch).
- ``corpus_prep``: ``throughput`` = docs/s; an operation is one full
  pipeline run, plan build plus execute.

``op_tail_ms`` is the 90th percentile (``TAIL_PCT``) of the operations.
"""

from __future__ import annotations

import statistics

TAIL_PCT = 90

#: (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("throughput", "1/s", "higher", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("op_tail_ms", "ms", "lower", 0.25),
]

STREAM_TIERS = ("bronze", "gold", "dims")
SERVE_QUERIES = ("velocity", "trending", "spike", "freshness", "lookup")

_LH, _CP = "lakehouse", "corpus_prep"


def _per_layer() -> list[tuple[str, str, str, str, str]]:
    """(name, unit, better, moves, workload)."""
    out = []
    for name, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                       ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                       ("executor_run_s", "s"), ("executor_cpu_s", "s")):
        out.append((f"spark.{name}", unit, "lower", "op_p50_ms", f"{_LH},{_CP}"))
    out += [
        ("sources.latestOffset_ms", "ms", "lower", "throughput", _LH),
        ("sources.getBatch_ms", "ms", "lower", "throughput", _LH),
    ]
    for t in STREAM_TIERS:
        for phase in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
            out.append((f"streaming.{t}.{phase}_ms", "ms", "lower", "op_p50_ms", _LH))
        out.append((f"streaming.{t}.commit_p50_ms", "ms", "lower", "op_p50_ms", _LH))
        out.append((f"streaming.{t}.commit_tail_ms", "ms", "lower", "op_tail_ms", _LH))
        out.append((f"streaming.{t}.input_rows", "count", "higher", "throughput", _LH))
    out += [
        ("streaming.gold.state_rows", "count", "lower", "op_p50_ms", _LH),
        ("streaming.gold.state_bytes", "bytes", "lower", "op_p50_ms", _LH),
        ("merge.merge_upsert_ms", "ms", "lower", "op_p50_ms", _LH),
        ("tablefmt.write_mor_upsert_ms", "ms", "lower", "op_p50_ms", _LH),
        ("tablefmt.flatten_mor_ms", "ms", "lower", "op_tail_ms", _LH),
        ("tablefmt.flatten_mor_count", "count", "lower", "op_tail_ms", _LH),
        ("tablefmt.write_version_ms", "ms", "lower", "op_tail_ms", _LH),
        ("tablefmt.chain_depth_max", "count", "lower", "throughput", _LH),
        ("tablefmt.dims_bytes_per_cdc_byte", "ratio", "lower", "op_p50_ms", _LH),
        ("tablefmt.read_table_ms", "ms", "lower", "throughput", _LH),
        ("maintenance.total_s", "s", "lower", "throughput", _LH),
        ("maintenance.compact_s", "s", "lower", "throughput", _LH),
        ("maintenance.expire_s", "s", "lower", "throughput", _LH),
        ("maintenance.orphans_s", "s", "lower", "throughput", _LH),
        ("maintenance.files_before", "count", "lower", "throughput", _LH),
        ("maintenance.files_after", "count", "lower", "throughput", _LH),
        ("maintenance.bytes_rewritten", "bytes", "lower", "throughput", _LH),
        ("dedup.neardup_losers.build_s", "s", "lower", "throughput", _CP),
        ("dedup.neardup_losers.build_jobs", "count", "lower", "throughput", _CP),
        ("dedup.neardup_clusters.calls", "count", "lower", "throughput", _CP),
        ("similarity.semantic_dedup.build_s", "s", "lower", "throughput", _CP),
        ("similarity.semantic_dedup.build_jobs", "count", "lower", "throughput", _CP),
        ("text.gopher_rules.build_s", "s", "lower", "throughput", _CP),
        ("sampling.decontaminate_ngram.build_s", "s", "lower", "throughput", _CP),
        ("corpus.warmup_s", "s", "lower", "throughput", _CP),
        ("corpus.build_s", "s", "lower", "throughput", _CP),
        ("corpus.execute_s", "s", "lower", "throughput", _CP),
        ("corpus.rows_in", "count", "higher", "throughput", _CP),
        ("corpus.dropped.neardup", "count", "higher", "throughput", _CP),
        ("corpus.dropped.gopher", "count", "higher", "throughput", _CP),
        ("corpus.dropped.decontam", "count", "higher", "throughput", _CP),
        ("corpus.dropped.semantic", "count", "higher", "throughput", _CP),
        ("corpus.dup_recall", "ratio", "higher", "throughput", _CP),
        ("corpus.false_drops", "count", "lower", "throughput", _CP),
        ("dedup.null_text_dropped", "count", "lower", "throughput", _CP),
    ]
    for q in SERVE_QUERIES:
        out.append((f"serving.{q}.p50_ms", "ms", "lower", "throughput", _LH))
        out.append((f"serving.{q}.plan_ms", "ms", "lower", "throughput", _LH))
    out += [
        ("catalog.read_ms", "ms", "lower", "throughput", _LH),
        ("catalyst.analysis_ms", "ms", "lower", "throughput", _LH),
        ("catalyst.optimization_ms", "ms", "lower", "throughput", _LH),
        ("catalyst.planning_ms", "ms", "lower", "throughput", _LH),
    ]
    for layer, moves, wl in (
        ("streaming", "op_p50_ms", _LH), ("sources", "throughput", _LH),
        ("merge", "op_p50_ms", _LH), ("tablefmt", "op_p50_ms", _LH),
        ("maintenance", "throughput", _LH), ("dedup", "throughput", _CP),
        ("similarity", "throughput", _CP), ("text", "throughput", _CP),
        ("sampling", "throughput", _CP), ("serving", "throughput", _LH),
        ("catalog", "throughput", _LH),
    ):
        out.append((f"self.{layer}_s", "s", "lower", moves, wl))
    for name, unit, better, _b in END_TO_END:
        out.append((f"traced.{name}", unit, better, name, "all"))
    out.append(("trace.spans", "count", "lower", "op_p50_ms", "all"))
    out.append(("trace.recorder_ms", "ms", "lower", "op_p50_ms", "all"))
    return out


PER_LAYER = _per_layer()


def percentile(values: list[float], pct: int) -> float:
    """Inclusive-method percentile; the single sample when there is one."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def p50(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document these definitions imply."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [
            {"name": "lakehouse", "why": (
                "write then read path: events and CDC through bronze, gold window state "
                "and MoR dims MERGE, serving views and lookups on the depth-5 MoR chain, "
                "then maintenance; closed loop, one client")},
            {"name": "corpus_prep", "why": (
                "CPU and shuffle heavy batch tier: near-dup, quality, decontamination "
                "and semantic dedup, build plus execute; no streaming; one run after a warm-up")},
        ],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _m, _w in PER_LAYER],
    }
