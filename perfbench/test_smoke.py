"""Smoke test of the benchmark at a tiny size (``--seconds 1``).

Run from the root of a checkout::

    python3 -m pytest -q perfbench/test_smoke.py

It checks that the generator is seeded (same seed, same bytes; another
seed, other bytes), that ``BENCHMARK.json`` lists exactly the metrics
``metrics.py`` defines, that every workload prints every metric with
its unit and passes its checks in both modes, and that the benchmark
fails cleanly where the program is absent.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from metrics import END_TO_END, PER_LAYER, benchmark_json  # noqa: E402

TINY_STREAM = gen.StreamSizes(batches=3, events_per_batch=300, entities=100, cdc_per_batch=20)
TINY_CORPUS = gen.CorpusSizes(docs=300, eval_docs=10, exact_dup_groups=8, near_dup_groups=8,
                              paraphrase_clusters=6, contaminated=5, low_quality=8,
                              degenerate=8)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _dirs, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(root, seed: int) -> str:
    for name, make, sz in (("stream", gen.make_stream, TINY_STREAM),
                           ("corpus", gen.make_corpus, TINY_CORPUS)):
        d = root / name
        d.mkdir(parents=True)
        make(str(d), seed, sz)
    return _digest(str(root))


def test_inputs_are_seeded(tmp_path):
    a = _generate(tmp_path / "a", 1)
    b = _generate(tmp_path / "b", 1)
    c = _generate(tmp_path / "c", 2)
    assert a == b
    assert a != c


def test_benchmark_json_matches_metric_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == benchmark_json()


#: The workload-specific metrics each report names, besides the
#: end-to-end ones and ``failed_ratio``.
REPORTED = {
    "lakehouse": ("ingest_eps", "maintenance_s", "gold_commit_p50_ms",
                  "gold_commit_tail_ms", "dims_commit_p50_ms", "dims_commit_tail_ms",
                  "serve_qps", "serve_p50_ms", "serve_tail_ms"),
    "corpus_prep": ("corpus_docs_per_s", "corpus_dup_recall", "corpus_false_drops"),
}


def _cli(workload: str, trace: int, cwd: str = ROOT) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)


@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_its_unit_and_checks_pass(trace):
    from run import REPORT_UNITS

    procs = {w: _cli(w, trace) for w in REPORTED}
    want = ({n: u for n, u, *_ in PER_LAYER} if trace
            else {n: u for n, u, *_ in END_TO_END})
    for w, p in procs.items():
        out, _ = p.communicate(timeout=600)
        assert p.returncode == 0, (w, out[-2000:])
        lines = out.strip().splitlines()
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (w, out)
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
        report = "\n".join(lines[:-1])
        units = {**{n: u for n, u, *_ in END_TO_END}, **REPORT_UNITS}
        for name in [n for n, *_ in END_TO_END] + list(REPORTED[w]) + ["failed_ratio"]:
            line = rf"^# {re.escape(name)} = \S+ {re.escape(units[name])}$"
            assert re.search(line, report, re.M), (w, name, report)
        assert "# failed_ratio = 0 ratio" in report


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _cli("lakehouse", 0, cwd=bare)
        out, _ = p.communicate(timeout=180)
        assert p.returncode != 0
        assert '"correct"' not in out
    finally:
        shutil.rmtree(bare, ignore_errors=True)
