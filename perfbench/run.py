"""Lakehouse benchmark: one seeded workload, timed end to end.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 10 --trace 0

Workloads: ``lakehouse`` and ``corpus_prep`` (see ``workloads.py``).
The run generates its inputs from ``--seed``, sets the program up five
times (``setup_s`` is the median), runs the timed loop, checks every
result against an independent recomputation, and prints a report:
``#`` lines with every metric by name and unit, the host's CPU count
and load, and as the last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones, measured untraced;
with ``--trace 1`` they are the per-layer ones, from spans, Spark's event
log and the streaming progress records (the spans and records are also
written to ``.perfbench_out/``).

Everything the run writes, Spark's local and temp dirs included, lives
under ``.perfbench_work/`` in the checkout and is removed on exit.  The
session runs ``local[N]`` with N one less than the CPUs this process
may use.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 5
DRIVER_MEM = "2g"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["lakehouse", "corpus_prep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _hygiene(work: str, trace: bool) -> None:
    """Point every Spark and Python scratch location into ``work``."""
    for d in ("local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d))
    root = os.getcwd()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def _cpus() -> int:
    """Task slots: the CPUs this process may use, less one for the
    Python client and the JVM's JIT and GC threads.  With every CPU
    given to tasks, those threads queue behind them and the run
    measures the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def _stop_jvm() -> None:
    """Shut the Spark JVM down and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _wrap_all(tracer, P, points) -> None:
    for mod, attr, name in points:
        owner = P[mod]
        *path, leaf = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        tracer.wrap(owner, leaf, name)


def _per_layer(tracer, e2e, lo, hi, log_dir, runs) -> dict:
    from metrics import PER_LAYER
    from trace import event_log_counts

    out = {name: 0.0 for name, *_ in PER_LAYER}
    in_run = [s for s in tracer.spans if lo <= s["start"] <= hi]

    def total(name):
        return sum(s["end"] - s["start"] for s in in_run if s["name"] == name)

    def calls(name):
        return sum(1 for s in in_run if s["name"] == name)

    builds = {k: [(s["start"], s["end"]) for s in in_run if s["name"] == k]
              for k in ("dedup.neardup_losers", "similarity.semantic_dedup")}
    ev = event_log_counts(log_dir, lo, hi, builds)
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "executor_run_s", "executor_cpu_s"):
        out[f"spark.{k}"] = ev[k]
    for k in builds:
        out[f"{k}.build_s"] = total(k) / runs
        out[f"{k}.build_jobs"] = ev[f"jobs@{k}"] / runs
    out["dedup.neardup_clusters.calls"] = calls("dedup.neardup_clusters") / runs
    out["text.gopher_rules.build_s"] = total("text.gopher_rules") / runs
    out["sampling.decontaminate_ngram.build_s"] = total("sampling.decontaminate_ngram") / runs
    out["merge.merge_upsert_ms"] = total("merge.merge_upsert") * 1000
    for f in ("write_mor_upsert", "flatten_mor", "write_version", "read_table"):
        out[f"tablefmt.{f}_ms"] = total(f"tablefmt.{f}") * 1000
    out["tablefmt.flatten_mor_count"] = calls("tablefmt.flatten_mor")
    out["maintenance.total_s"] = total("maintenance.run_maintenance")
    out["maintenance.compact_s"] = total("maintenance.compact")
    out["maintenance.expire_s"] = total("maintenance.expire_snapshots")
    out["maintenance.orphans_s"] = total("maintenance.remove_orphans")
    out["catalog.read_ms"] = total("catalog.read") * 1000
    child = {}
    for s in in_run:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    for i, s in enumerate(tracer.spans):
        layer = s["name"].split(".")[0]
        if lo <= s["start"] <= hi and f"self.{layer}_s" in out:
            out[f"self.{layer}_s"] += max(0.0, s["end"] - s["start"] - child.get(i, 0.0))
    for k, v in e2e.items():
        out[f"traced.{k}"] = v
    out["trace.spans"] = len(in_run)
    out["trace.recorder_ms"] = tracer.recorder_s * 1000
    return out


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    """Run one workload; returns the result object the CLI prints."""
    from metrics import END_TO_END, PER_LAYER
    from trace import Tracer
    from workloads import TRACE_POINTS, WORKLOADS, _program

    cpus = _cpus()
    phases = {}
    w0 = time.perf_counter()
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _hygiene(work, trace)
        P = _program()
        wl = WORKLOADS[workload](seconds, P)
        inputs = os.path.join(work, "inputs")
        os.makedirs(inputs)
        dims = wl.generate(inputs, seed)
        phases["generate"] = time.perf_counter() - w0
        tracer = Tracer(f"{workload}-{seed}-{os.getpid()}") if trace else None
        if tracer is not None:
            _wrap_all(tracer, P, TRACE_POINTS)
        setups = []
        for k in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = wl.session(P, cpus)
            st = wl.stage(P, spark, inputs, os.path.join(work, f"stage{k}"))
            setups.append(time.perf_counter() - t)
            spark.sparkContext.setLogLevel("ERROR")
        setup_s = statistics.median(setups)
        m0 = time.perf_counter()
        res = wl.measure(P, spark, st, seconds, tracer=tracer)
        phases["measure"] = time.perf_counter() - m0
        if tracer is not None:
            tracer.unwrap()
        c0 = time.perf_counter()
        try:
            wrong = wl.check(P, spark, st, res)
        except Exception as exc:  # a crashed check is a failed check
            print(f"# check raised {exc!r}")
            wrong = res.attempted
        phases["check"] = time.perf_counter() - c0
        e2e = res.end_to_end(setup_s)
        failed = min(res.attempted, res.failed + wrong)
        report = {**e2e, **res.report, "failed_ratio": failed / res.attempted}
        if tracer is not None:
            extra = wl.layers(st)  # collects stage frames before stop
            spark.stop()
            spark = None
            runs = getattr(wl, "runs", 1)
            layer = _per_layer(tracer, e2e, *res.window, os.path.join(work, "eventlog"), runs)
            layer.update(extra)
            out_dir = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{tracer.run_id}.json"),
                        {"progress": st.get("progress", {}), "per_layer": layer,
                         "host": {"cpus": cpus, "loadavg": os.getloadavg()}})
        units = {n: u for n, u, *_ in END_TO_END}
        units.update({n: u for n, u, *_ in PER_LAYER})
        return {
            "workload": workload, "seed": seed, "inputs": dims, "ops": len(res.ops_ms),
            "host": {"cpus": cpus, "loadavg": os.getloadavg()},
            "setups_s": setups, "phases_s": phases, "report": report, "units": units,
            "result": {
                "correct": failed == 0, "attempted": res.attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]}
                            for k, v in (layer if trace else e2e).items()},
            },
        }
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


REPORT_UNITS = {
    "ingest_eps": "events/s", "maintenance_s": "s", "gold_commit_p50_ms": "ms",
    "gold_commit_tail_ms": "ms", "dims_commit_p50_ms": "ms", "dims_commit_tail_ms": "ms",
    "corpus_docs_per_s": "docs/s", "corpus_dup_recall": "ratio", "corpus_false_drops": "count",
    "serve_qps": "queries/s", "serve_p50_ms": "ms", "serve_tail_ms": "ms",
    "failed_ratio": "ratio",
}


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still removes its work dir and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    sys.path.insert(1, os.getcwd())
    try:
        importlib.import_module("workloads")._program()
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {os.getcwd()}: {exc}",
              file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    units = {**out["units"], **REPORT_UNITS}
    print(f"# workload {out['workload']} seed {out['seed']} ops {out['ops']} "
          f"host cpus {out['host']['cpus']} loadavg {out['host']['loadavg']}")
    print(f"# inputs {json.dumps(out['inputs'], sort_keys=True)}")
    print(f"# setups_s {[round(s, 3) for s in out['setups_s']]}")
    print(f"# phases_s {json.dumps({k: round(v, 3) for k, v in out['phases_s'].items()})}")
    for k, v in out["report"].items():
        print(f"# {k} = {v:.6g} {units[k]}")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
