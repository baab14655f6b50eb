"""The two workloads, driven through the program's public API.

Each workload has the same shape: ``generate`` writes its seeded inputs
(outside every clock), ``session`` and ``stage`` are the set-up that
``setup_s`` times, ``measure`` is the timed closed loop, ``check``
compares the results with independent recomputations outside the clock,
and ``layers`` turns a traced run into per-layer metrics.

Every call into the program goes through a module attribute (for
example ``tablefmt.write_version``), so that a traced run can wrap it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np

import checks
import gen
from metrics import SERVE_QUERIES, STREAM_TIERS, TAIL_PCT, p50, percentile

PKG = "real_timetransactionaldatalakehouse_spark"


def _program():
    """The program's modules, imported on first use."""
    import importlib

    names = ("session", "tablefmt", "maintenance", "catalog", "serving", "sources",
             "streaming.jobs", "operators.dedup", "operators.text",
             "operators.sampling", "operators.similarity", "operators.relational")
    return {n: importlib.import_module(f"{PKG}.{n}") for n in names}


def _files(root: str, suffix: str = ".parquet") -> dict[str, int]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _cdc_schema():
    from pyspark.sql import types as T

    after = T.StructType([
        T.StructField("user_id", T.LongType()), T.StructField("c_mktsegment", T.StringType()),
        T.StructField("region", T.StringType()), T.StructField("tier", T.IntegerType())])
    return T.StructType([T.StructField("op", T.StringType()),
                         T.StructField("ts_ms", T.LongType()),
                         T.StructField("after", after)])


@dataclass
class Result:
    """What ``measure`` returns: op latencies in ms, the unit count the
    throughput is over, the wall time that count took, and the epoch
    interval the per-layer metrics cover."""
    ops_ms: list[float]
    units: int
    wall_s: float
    attempted: int
    window: tuple[float, float]
    failed: int = 0
    report: dict = field(default_factory=dict)

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        return {"setup_s": setup_s, "throughput": self.units / self.wall_s,
                "op_p50_ms": p50(self.ops_ms),
                "op_tail_ms": percentile(self.ops_ms, TAIL_PCT)}


class Lakehouse:
    """The write and the read path of one lakehouse in one timed cycle.
    Events and CDC are replayed one file per micro-batch through the
    bronze, gold and dims tiers, one tier after another.  Then a single
    client runs a closed loop over the serving views and dims point
    lookups on the tables just written, while the dims table holds a
    live MoR chain with one commit per micro-batch (5, below
    ``MOR_MAX_CHAIN``, so the streaming job does not fold it).  Last
    comes one maintenance tick, which folds that chain."""

    #: Passes over the serving query mix per second of ``--seconds``.
    SERVE_PASSES_PER_S = 0.2

    def __init__(self, seconds: int, P: dict):
        self.sz = gen.StreamSizes()
        if self.sz.batches >= P["tablefmt"].MOR_MAX_CHAIN:
            raise ValueError("the dims MoR chain must stay live until the serving loop")
        self.passes = max(1, round(self.SERVE_PASSES_PER_S * seconds))
        #: The serving views look back from the end of the event log.
        self.as_of_us = gen.T0_US + self.sz.batches * self.sz.batch_span_s * 1_000_000

    def generate(self, root: str, seed: int) -> dict:
        return gen.make_stream(root, seed, self.sz)

    def session(self, P, cpus: int):
        return P["session"].streaming_session("perfbench-lakehouse", cpus=cpus)

    def stage(self, P, spark, inputs: str, dest: str) -> dict:
        cat = P["catalog"].Catalog(spark, os.path.join(dest, "warehouse"))
        st = {"cat": cat, "dest": dest, "inputs": inputs,
              "bronze": cat.create_table("bronze.events"),
              "gold": cat.create_table("gold.stats_1min"),
              "dims": cat.create_table("dims.dim_entity", versioned=True)}
        P["tablefmt"].write_version(
            spark.read.parquet(os.path.join(inputs, "dims_base.parquet")), st["dims"])
        with open(os.path.join(inputs, "lookup_keys.json")) as fh:
            st["keys"] = json.load(fh)
        return st

    def _ingest(self, P, spark, st: dict) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        src, jobs, tf = P["sources"], P["streaming.jobs"], P["tablefmt"]
        inputs, ck = st["inputs"], os.path.join(st["dest"], "checkpoints")
        ev_dir = os.path.join(inputs, "events")
        schema = spark.read.parquet(os.path.join(ev_dir, "part-00000.parquet")).schema
        q = {}
        q["bronze"] = jobs.bronze_append_stream(
            src.file_stream(spark, ev_dir, schema), st["bronze"],
            os.path.join(ck, "bronze"), ts_col="ts")
        q["gold"] = jobs.gold_window_agg_stream(
            src.file_stream(spark, ev_dir, schema), st["gold"], os.path.join(ck, "gold"),
            ts_col="ts", group_cols=["user_id"],
            cases={k + "s": F.col("event_type") == k for k in gen.EVENT_TYPES},
            window=f"{gen.WINDOW_S} seconds", watermark=f"{gen.WATERMARK_S} seconds")
        raw = src.file_stream(spark, os.path.join(inputs, "cdc"),
                              T.StructType([T.StructField("value", T.StringType())]), fmt="text")
        q["dims"] = jobs.dims_scd1_stream(
            src.parse_cdc_envelope(raw, _cdc_schema()), st["dims"], os.path.join(ck, "dims"),
            key_cols=["user_id"], order_col="ts_ms", write_mode="mor",
            flatten_every=tf.MOR_MAX_CHAIN)
        st["progress"] = {t: [json.loads(p.json) for p in q[t].recentProgress]
                          for t in STREAM_TIERS}

    def _query(self, P, spark, st: dict, q: str, i: int):
        from pyspark.sql import functions as F

        if q == "lookup":
            key = st["keys"][i % len(st["keys"])]
            return st["cat"].read("dims.dim_entity").filter(F.col("user_id") == key).select(
                "user_id", "c_mktsegment", "region", "tier", "ts_ms"), key
        as_of = datetime.fromtimestamp(self.as_of_us / 1e6, timezone.utc)
        return getattr(P["serving"], f"{q}_view")(
            spark, as_of.strftime("%Y-%m-%d %H:%M:%S")), None

    def _serve(self, P, spark, st: dict, tracer) -> int:
        """The serving loop; returns the number of failed queries."""
        P["serving"].register_gold_views_from_catalog(spark, st["cat"],
                                                      dim_table="dims.dim_entity")
        per_q = {q: [] for q in SERVE_QUERIES}
        plan = {q: [] for q in SERVE_QUERIES}
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        results = []
        errors = 0
        for i in range(self.passes * len(SERVE_QUERIES)):
            q = SERVE_QUERIES[i % len(SERVE_QUERIES)]
            r0 = time.perf_counter()
            try:
                with tracer.span(f"serving.{q}") if tracer else nullcontext():
                    df, key = self._query(P, spark, st, q, i // len(SERVE_QUERIES))
                    rows = [tuple(r) for r in df.collect()]
            except Exception as exc:  # a failed query is counted, not fatal
                print(f"# query {q} failed: {exc!r}")
                errors += 1
                continue
            per_q[q].append((time.perf_counter() - r0) * 1000)
            results.append((q, key, rows))
            if tracer is not None:
                ph = _phases(spark, df)
                plan[q].append(sum(ph.values()))
                for k in phases:
                    phases[k] += ph.get(k, 0)
        st.update(results=results, per_q=per_q, plan=plan, phases=phases)
        return errors

    def measure(self, P, spark, st: dict, seconds: int, tracer=None) -> Result:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        tf = P["tablefmt"]
        dims_bytes0 = sum(_files(st["dims"]).values())
        t0 = time.time()
        self._ingest(P, spark, st)
        t1 = time.time()
        lat = {t: [p["durationMs"]["triggerExecution"] for p in st["progress"][t]
                   if p["numInputRows"] > 0] for t in STREAM_TIERS}
        ops = [sum(v[i] for v in lat.values()) for i in range(min(map(len, lat.values())))]
        st["lat"] = lat
        st["dims_bytes"] = sum(_files(st["dims"]).values()) - dims_bytes0
        st["chain_depth_max"] = max(
            (tf.mor_chain_depth(st["dims"], v) for v in tf.list_versions(st["dims"])), default=0)
        s0 = time.perf_counter()
        errors = self._serve(P, spark, st, tracer)
        serve_s = time.perf_counter() - s0
        before = _files(os.path.join(st["dest"], "warehouse"))
        m0 = time.perf_counter()
        P["maintenance"].run_maintenance(spark, st["cat"], keep_last=2,
                                         mor_flatten_depth=self.sz.batches)
        maint_s = time.perf_counter() - m0
        after = _files(os.path.join(st["dest"], "warehouse"))
        st["maint"] = {"files_before": len(before), "files_after": len(after),
                       "bytes_rewritten": sum(b for p, b in after.items() if p not in before),
                       "total_s": maint_s}
        n, events = self.sz.batches, self.sz.batches * self.sz.events_per_batch
        queries = [x for v in st["per_q"].values() for x in v]
        report = {"ingest_eps": events / (t1 - t0), "maintenance_s": maint_s,
                  "serve_qps": len(queries) / serve_s, "serve_p50_ms": p50(queries),
                  "serve_tail_ms": percentile(queries, TAIL_PCT) if queries else 0.0}
        for t in ("gold", "dims"):
            report[f"{t}_commit_p50_ms"] = p50(lat[t])
            report[f"{t}_commit_tail_ms"] = percentile(lat[t], TAIL_PCT) if lat[t] else 0.0
        # a tier that fails commits fewer batches than it was given
        return Result(ops, events, (t1 - t0) + serve_s + maint_s,
                      attempted=3 * n + len(queries) + errors + 1,
                      window=(t0, time.time()),
                      failed=3 * n - sum(map(len, lat.values())) + errors, report=report)

    def check(self, P, spark, st: dict, res: Result) -> int:
        from pyspark.sql import functions as F

        inputs, n, per = st["inputs"], self.sz.batches, self.sz.events_per_batch
        wrong = 0
        ids = np.asarray(spark.read.parquet(st["bronze"]).select("event_id").toPandas()["event_id"])
        wrong += checks.bronze_wrong_batches(ids, n * per, per)
        got = {tuple(int(x) for x in r) for r in spark.read.parquet(st["gold"]).select(
            F.unix_micros("window_start"), "user_id", "views", "clicks", "purchases").collect()}
        want_gold = checks.expected_gold(inputs)
        if got != want_gold:
            print(f"# check gold: {len(got - want_gold)} unexpected rows, "
                  f"{len(want_gold - got)} missing rows")
            wrong += n
        want = checks.expected_dims(os.path.join(inputs, "dims_base.parquet"),
                                    sorted(glob.glob(os.path.join(inputs, "cdc", "*.json"))))
        dims = P["tablefmt"].read_table(spark, st["dims"]).select(*want.columns).collect()
        if not checks.rows_equal([tuple(r) for r in dims],
                                 [tuple(r) for r in want.itertuples(index=False)], False):
            print(f"# check dims: {len(dims)} rows differ from {len(want)} expected")
            wrong += n
        con = checks.serving_twins(want_gold, self.as_of_us, want)
        cache: dict = {}
        for q, key, rows in st["results"]:
            if (q, key) not in cache:
                cache[(q, key)] = checks.twin_rows(con, q, key)
            if not checks.rows_equal(rows, cache[(q, key)], checks.twin_ordered(q)):
                print(f"# check serving: {q} {key} differs from its SQL twin")
                wrong += 1
        con.close()
        return wrong

    def layers(self, st: dict) -> dict:
        from trace import progress_summary

        out = {}
        cdc_bytes = sum(_files(os.path.join(st["inputs"], "cdc"), ".json").values())
        for t in STREAM_TIERS:
            s = progress_summary(st["progress"][t])
            lat = st["lat"][t]
            for phase in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
                out[f"streaming.{t}.{phase}_ms"] = s[phase]
            out[f"streaming.{t}.input_rows"] = s["input_rows"]
            out[f"streaming.{t}.commit_p50_ms"] = p50(lat)
            out[f"streaming.{t}.commit_tail_ms"] = percentile(lat, TAIL_PCT) if lat else 0.0
            for phase in ("latestOffset", "getBatch"):
                out[f"sources.{phase}_ms"] = out.get(f"sources.{phase}_ms", 0) + s[phase]
            if t == "gold":
                out["streaming.gold.state_rows"] = s["state_rows"]
                out["streaming.gold.state_bytes"] = s["state_bytes"]
        out["tablefmt.chain_depth_max"] = st["chain_depth_max"]
        out["tablefmt.dims_bytes_per_cdc_byte"] = st["dims_bytes"] / cdc_bytes
        m = st["maint"]
        out["maintenance.files_before"] = m["files_before"]
        out["maintenance.files_after"] = m["files_after"]
        out["maintenance.bytes_rewritten"] = m["bytes_rewritten"]
        for q in SERVE_QUERIES:
            out[f"serving.{q}.p50_ms"] = p50(st["per_q"][q])
            out[f"serving.{q}.plan_ms"] = p50(st["plan"][q])
        for k, v in st["phases"].items():
            out[f"catalyst.{k}_ms"] = v
        return out

class CorpusPrep:
    """The corpus pipeline, one-shot, build plus execute:
    ``neardup_losers`` -> ``gopher_rules`` -> ``decontaminate_ngram`` ->
    ``semantic_dedup`` over the survivors' embeddings."""

    #: One pipeline run per this many seconds of ``--seconds``.
    SECONDS_PER_RUN = 7.5
    #: Docs of the untimed warm-up run on the corpus's lowest ids: a
    #: corpus job runs in a long-lived session, and the first pipeline
    #: of a fresh JVM spends most of its time loading classes and
    #: compiling.  Its time is ``corpus.warmup_s``.
    WARMUP_DOCS = 300

    def __init__(self, seconds: int, P: dict):
        self.sz = gen.CorpusSizes()
        self.runs = max(1, round(seconds / self.SECONDS_PER_RUN))

    def generate(self, root: str, seed: int) -> dict:
        return gen.make_corpus(root, seed, self.sz)

    def session(self, P, cpus: int):
        return P["session"].batch_session("perfbench-corpus", cpus=cpus)

    def stage(self, P, spark, inputs: str, dest: str) -> dict:
        src = P["sources"]
        frames = {n: src.load_table(spark, inputs, n)
                  for n in ("documents", "evalset", "embeddings")}
        size = sum(os.path.getsize(os.path.join(inputs, f"{n}.parquet")) for n in frames)
        P["session"].tune_for_input(spark, size, cpus=spark.sparkContext.defaultParallelism)
        with open(os.path.join(inputs, "truth.json")) as fh:
            truth = json.load(fh)
        return {**frames, "truth": truth}

    def _pipeline(self, P, st: dict) -> tuple[dict, object]:
        """Build the pipeline's plan (running whatever actions the
        operators run while building); returns each stage's frame and
        the final kept ids."""
        from pyspark.sql import functions as F

        docs = st["documents"].select("doc_id", "text")
        losers = P["operators.dedup"].neardup_losers(docs, jaccard_threshold=0.5).select(
            F.col("doc_id").alias("__drop"))
        deduped = docs.join(F.broadcast(losers), docs["doc_id"] == losers["__drop"], "left_anti")
        gated = P["operators.text"].gopher_rules(deduped).filter(
            F.col("gopher_keep")).select("doc_id", "text")
        clean = P["operators.sampling"].decontaminate_ngram(gated, st["evalset"], n=13)
        vecs = st["embeddings"].join(
            clean.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
        sem = P["operators.similarity"].semantic_dedup(
            vecs, k=8, threshold=0.9, collapse_exact=True)
        sem_drop = sem.filter(~F.col("keep")).select(F.col("id").alias("doc_id"))
        final = clean.join(sem_drop, "doc_id", "left_anti").select("doc_id")
        stages = {"neardup": losers, "gopher": gated, "decontam": clean, "semantic": sem_drop}
        return stages, final

    def measure(self, P, spark, st: dict, seconds: int, tracer=None) -> Result:
        from pyspark.sql import functions as F

        w0 = time.perf_counter()
        small = {**st, "documents": st["documents"].filter(F.col("doc_id") <= self.WARMUP_DOCS),
                 "embeddings": st["embeddings"].filter(F.col("vec_id") <= self.WARMUP_DOCS)}
        self._pipeline(P, small)[1].collect()
        spark.catalog.clearCache()
        st["warmup_s"] = time.perf_counter() - w0
        ops, builds, execs, kept_sets = [], [], [], []
        t0 = time.time()
        for _ in range(self.runs):
            r0 = time.perf_counter()
            stages, final = self._pipeline(P, st)
            b = time.perf_counter()
            kept = {r[0] for r in final.collect()}
            r1 = time.perf_counter()
            ops.append((r1 - r0) * 1000)
            builds.append(b - r0)
            execs.append(r1 - b)
            kept_sets.append(kept)
            if len(kept_sets) < self.runs:
                spark.catalog.clearCache()  # every run is one-shot
        t1 = time.time()
        st.update(stages=stages, kept_sets=kept_sets, builds=builds, execs=execs)
        n = self.sz.docs * self.runs
        verdict = checks.corpus_verdict(kept_sets[-1], st["truth"])
        report = {"corpus_docs_per_s": n / (t1 - t0),
                  "corpus_dup_recall": verdict["dup_recall"],
                  "corpus_false_drops": verdict["false_drops"]}
        return Result(ops, n, t1 - t0, attempted=self.runs, window=(t0, t1), report=report)

    def check(self, P, spark, st: dict, res: Result) -> int:
        return sum(1 for k in st["kept_sets"]
                   if not checks.corpus_verdict(k, st["truth"])["correct"])

    def layers(self, st: dict) -> dict:
        """Per-stage drops, counted from the last run's stage frames
        outside the clock."""
        truth, stages = st["truth"], st["stages"]
        n_in = self.sz.docs
        losers = {r[0] for r in stages["neardup"].collect()}
        gated = stages["gopher"].count()
        clean = stages["decontam"].count()
        sem = stages["semantic"].count()
        verdict = checks.corpus_verdict(st["kept_sets"][-1], truth)
        return {
            "corpus.warmup_s": st["warmup_s"],
            "corpus.build_s": p50(st["builds"]), "corpus.execute_s": p50(st["execs"]),
            "corpus.rows_in": n_in,
            "corpus.dropped.neardup": len(losers),
            "corpus.dropped.gopher": n_in - len(losers) - gated,
            "corpus.dropped.decontam": gated - clean,
            "corpus.dropped.semantic": sem,
            "corpus.dup_recall": verdict["dup_recall"],
            "corpus.false_drops": verdict["false_drops"],
            "dedup.null_text_dropped": len(losers & set(truth["null_ids"])),
        }


def _phases(spark, df) -> dict[str, float]:
    """Catalyst phase durations (ms) of the query ``df`` last ran."""
    ph = df._jdf.queryExecution().tracker().phases()
    jm = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(ph)
    return {k: float(jm.get(k).durationMs()) for k in jm.keySet()
            if k in ("analysis", "optimization", "planning")}


WORKLOADS = {"lakehouse": Lakehouse, "corpus_prep": CorpusPrep}

#: Module boundaries a traced run wraps: (module, attribute, span name).
#: ``streaming.jobs`` binds ``merge_upsert`` by name, so it is wrapped
#: there; every other call resolves through the module it is defined in.
TRACE_POINTS = [
    ("streaming.jobs", "bronze_append_stream", "streaming.bronze_append_stream"),
    ("streaming.jobs", "gold_window_agg_stream", "streaming.gold_window_agg_stream"),
    ("streaming.jobs", "dims_scd1_stream", "streaming.dims_scd1_stream"),
    ("streaming.jobs", "merge_upsert", "merge.merge_upsert"),
    ("sources", "file_stream", "sources.file_stream"),
    ("sources", "parse_cdc_envelope", "sources.parse_cdc_envelope"),
    ("sources", "load_table", "sources.load_table"),
    ("tablefmt", "write_version", "tablefmt.write_version"),
    ("tablefmt", "write_mor_upsert", "tablefmt.write_mor_upsert"),
    ("tablefmt", "flatten_mor", "tablefmt.flatten_mor"),
    ("tablefmt", "read_table", "tablefmt.read_table"),
    ("tablefmt", "expire_snapshots", "tablefmt.expire_snapshots"),
    ("tablefmt", "remove_orphans", "tablefmt.remove_orphans"),
    ("maintenance", "run_maintenance", "maintenance.run_maintenance"),
    ("maintenance", "compact", "maintenance.compact"),
    ("maintenance", "expire_snapshots", "maintenance.expire_snapshots"),
    ("maintenance", "remove_orphans", "maintenance.remove_orphans"),
    ("operators.dedup", "neardup_losers", "dedup.neardup_losers"),
    ("operators.dedup", "neardup_clusters", "dedup.neardup_clusters"),
    ("operators.text", "gopher_rules", "text.gopher_rules"),
    ("operators.sampling", "decontaminate_ngram", "sampling.decontaminate_ngram"),
    ("operators.similarity", "semantic_dedup", "similarity.semantic_dedup"),
    ("serving", "velocity_view", "serving.velocity_view"),
    ("serving", "trending_view", "serving.trending_view"),
    ("serving", "spike_view", "serving.spike_view"),
    ("serving", "freshness_view", "serving.freshness_view"),
    ("serving", "register_gold_views_from_catalog", "serving.register_gold_views_from_catalog"),
    ("catalog", "Catalog.read", "catalog.read"),
]
