"""Seeded input generator for the lakehouse benchmark.

Every input the program sees is written here, from one seed, before the
program starts: the content-event log, the Debezium-style CDC log and
the dims point-lookup keys of ``lakehouse``, and the corpus, eval split
and embeddings of ``corpus_prep``.  Next to the inputs goes the planted
ground truth the checks compare against, and each generator returns the
size and traffic dimensions of what it wrote.

The same seed and sizes give byte-identical files: all randomness comes
from one ``numpy`` generator per call, files are written in a fixed
order with fixed writer settings, and no wall-clock value enters any
file.  Stream files get increasing modification times because Spark's
file source admits files oldest first; mtimes are not file content.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Event time of the first micro-batch (2026-01-01T00:00:00Z), in µs.
T0_US = 1_767_225_600_000_000
#: The gold tier's window and watermark, shared with the checks.
WINDOW_S = 60
WATERMARK_S = 10
EVENT_TYPES = ("view", "click", "purchase")
EVENT_TYPE_P = (0.80, 0.15, 0.05)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
#: CDC op codes the SCD1 job ignores (delete, snapshot read, truncate).
UNKNOWN_OPS = ("d", "r", "t")
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")


@dataclass(frozen=True)
class StreamSizes:
    batches: int = 5  # one MoR dims commit each
    events_per_batch: int = 2000
    batch_span_s: int = 720  # event-time span of one event file
    entities: int = 2000
    cdc_per_batch: int = 60
    zipf_s: float = 1.5
    ooo_share: float = 0.03  # jittered within +-10 s
    late_share: float = 0.005  # delayed 15-75 s, past the watermark
    new_key_share: float = 0.05
    unknown_op_share: float = 0.05


@dataclass(frozen=True)
class CorpusSizes:
    docs: int = 2000
    eval_docs: int = 60
    dim: int = 32
    exact_dup_groups: int = 60
    near_dup_groups: int = 60
    paraphrase_clusters: int = 40
    contaminated: int = 30
    low_quality: int = 60
    degenerate: int = 30  # NULL, empty and whitespace-only texts


def _zipf_keys(rng: np.random.Generator, n_keys: int, s: float, size: int) -> np.ndarray:
    """Keys 1..n_keys with P(rank k) ~ k^-s, ranks shuffled over keys."""
    p = np.arange(1, n_keys + 1, dtype=np.float64) ** -s
    p /= p.sum()
    perm = rng.permutation(n_keys) + 1
    return perm[rng.choice(n_keys, size=size, p=p)]


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _set_mtime(path: str, i: int) -> None:
    t = 1_700_000_000 + i
    os.utime(path, (t, t))


def _dim_row(rng: np.random.Generator, key: int) -> dict:
    return {
        "user_id": int(key),
        "c_mktsegment": SEGMENTS[int(rng.integers(len(SEGMENTS)))],
        "region": REGIONS[int(rng.integers(len(REGIONS)))],
        "tier": int(rng.integers(1, 6)),
    }


def _events(rng, n: int, t_lo_us: int, span_us: int, keys: np.ndarray,
            first_id: int, ooo_share: float, late_share: float) -> pa.Table:
    ts = np.sort(t_lo_us + rng.integers(0, span_us, size=n))
    u = rng.random(n)
    jitter = rng.integers(-10_000_000, 10_000_001, size=n)
    late = rng.integers(15_000_000, 75_000_001, size=n)
    ts = np.where(u < ooo_share, ts + jitter,
                  np.where(u < ooo_share + late_share, ts - late, ts))
    etype = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(keys, pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
        "value": pa.array(np.round(rng.random(n) * 100.0, 3), pa.float64()),
    })


def _cdc_lines(rng, n: int, n_entities: int, next_new: int, ts_ms: int,
               s: float, new_share: float, unknown_share: float):
    """``n`` Debezium-style envelopes; returns (lines, next_new, ts_ms)."""
    keys = _zipf_keys(rng, n_entities, s, n)
    u = rng.random(n)
    lines = []
    for i in range(n):
        ts_ms += 1
        if u[i] < unknown_share:
            op = UNKNOWN_OPS[int(rng.integers(len(UNKNOWN_OPS)))]
            after = None if op == "d" else _dim_row(rng, keys[i])
        elif u[i] < unknown_share + new_share:
            op, after = "c", _dim_row(rng, next_new)
            next_new += 1
        else:
            op, after = "u", _dim_row(rng, keys[i])
        env = {"before": None, "after": after, "op": op, "ts_ms": ts_ms,
               "source": {"connector": "postgresql", "table": "dim_entity"}}
        lines.append(json.dumps(env, sort_keys=True))
    return lines, next_new, ts_ms


def dims_base(rng: np.random.Generator, n_entities: int) -> pa.Table:
    rows = [_dim_row(rng, k) for k in range(1, n_entities + 1)]
    return pa.table({
        "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
        "c_mktsegment": pa.array([r["c_mktsegment"] for r in rows]),
        "region": pa.array([r["region"] for r in rows]),
        "tier": pa.array([r["tier"] for r in rows], pa.int32()),
        "ts_ms": pa.array(np.zeros(n_entities, dtype=np.int64), pa.int64()),
    })


def make_stream(root: str, seed: int, sz: StreamSizes) -> dict:
    """Event log (one parquet file per micro-batch), CDC log (one JSON
    lines file per micro-batch), the dims base snapshot and the keys of
    the dims point lookups (Zipf-1.1 over every key the CDC log
    creates)."""
    rng = np.random.default_rng([seed, 1])
    ev_dir, cdc_dir = os.path.join(root, "events"), os.path.join(root, "cdc")
    os.makedirs(ev_dir)
    os.makedirs(cdc_dir)
    span_us = sz.batch_span_s * 1_000_000
    next_new, ts_ms = sz.entities + 1, 0
    for b in range(sz.batches):
        keys = _zipf_keys(rng, sz.entities, sz.zipf_s, sz.events_per_batch)
        ev = _events(rng, sz.events_per_batch, T0_US + b * span_us, span_us, keys,
                     b * sz.events_per_batch, sz.ooo_share, sz.late_share)
        p = os.path.join(ev_dir, f"part-{b:05d}.parquet")
        _write_parquet(ev, p)
        _set_mtime(p, b)
        lines, next_new, ts_ms = _cdc_lines(
            rng, sz.cdc_per_batch, sz.entities, next_new, ts_ms, sz.zipf_s,
            sz.new_key_share, sz.unknown_op_share)
        p = os.path.join(cdc_dir, f"part-{b:05d}.json")
        with open(p, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        _set_mtime(p, b)
    _write_parquet(dims_base(rng, sz.entities), os.path.join(root, "dims_base.parquet"))
    lookup_keys = _zipf_keys(rng, next_new - 1, 1.1, 4096)
    with open(os.path.join(root, "lookup_keys.json"), "w") as fh:
        json.dump([int(k) for k in lookup_keys], fh)
    return {
        "events": sz.batches * sz.events_per_batch, "micro_batches": sz.batches,
        "event_span_s": sz.batches * sz.batch_span_s, "mor_chain_depth": sz.batches,
        "entities": sz.entities, "zipf_s": sz.zipf_s,
        "ooo_share": sz.ooo_share, "late_share": sz.late_share,
        "cdc_rows": sz.batches * sz.cdc_per_batch,
        "unknown_op_share": sz.unknown_op_share, "new_key_share": sz.new_key_share,
        "window_s": WINDOW_S, "watermark_s": WATERMARK_S,
    }


def _vocab(rng: np.random.Generator, n: int = 6000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n:
        k = int(rng.integers(4, 10))
        out.add("".join(rng.choice(letters, size=k)))
    return sorted(out)


def _good_text(rng, vocab: list[str], n_words: int) -> list[str]:
    words = [vocab[i] for i in rng.integers(len(vocab), size=n_words)]
    for pos in rng.choice(n_words, size=n_words // 6, replace=False):
        words[pos] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
    return words


def _unit(rng, dim: int) -> np.ndarray:
    v = rng.standard_normal(dim)
    return v / np.linalg.norm(v)


def make_corpus(root: str, seed: int, sz: CorpusSizes) -> dict:
    """Corpus with planted duplicates, low-quality and degenerate texts,
    eval contamination and paraphrase clusters in embedding space.

    ``truth.json`` lists every doc's role: ``keep`` (must survive),
    ``dup`` (a non-keeper copy in an exact or near-dup group, whose
    keeper is the group's min id), ``low`` (fails the quality rules:
    short, symbol-heavy, NULL, empty or whitespace-only), ``contam``
    (shares a 13-gram with the eval split) and, per paraphrase cluster,
    its member ids, of which exactly one must survive."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    evals = [_good_text(rng, vocab, int(rng.integers(60, 100))) for _ in range(sz.eval_docs)]
    texts: list[str | None] = []
    vecs: list[np.ndarray] = []
    role: list[str] = []
    group: list[int] = []  # dup-group / paraphrase-cluster index, -1 if none

    def add(text, vec, r, g=-1):
        texts.append(text)
        vecs.append(vec)
        role.append(r)
        group.append(g)

    n_planted = (sz.exact_dup_groups * 3 + sz.near_dup_groups * 2
                 + sz.paraphrase_clusters * 3 + sz.contaminated + sz.low_quality
                 + sz.degenerate)
    if n_planted > sz.docs:
        raise ValueError(f"{sz.docs} docs cannot hold {n_planted} planted ones")
    g = 0
    for _ in range(sz.exact_dup_groups):
        words, v = _good_text(rng, vocab, int(rng.integers(60, 120))), _unit(rng, sz.dim)
        for _c in range(int(rng.integers(2, 5))):
            add(" ".join(words), v, "dupgroup", g)
        g += 1
    for _ in range(sz.near_dup_groups):
        words, v = _good_text(rng, vocab, int(rng.integers(80, 120))), _unit(rng, sz.dim)
        add(" ".join(words), v, "dupgroup", g)
        for _c in range(int(rng.integers(1, 3))):
            w = list(words)
            pos = int(rng.integers(len(w)))
            while w[pos] in STOPWORDS:
                pos = int(rng.integers(len(w)))
            w[pos] = vocab[int(rng.integers(len(vocab)))]
            add(" ".join(w), v + 0.001 * rng.standard_normal(sz.dim), "dupgroup", g)
        g += 1
    for c in range(sz.paraphrase_clusters):
        center = _unit(rng, sz.dim)
        for _m in range(int(rng.integers(2, 5))):
            add(" ".join(_good_text(rng, vocab, int(rng.integers(60, 120)))),
                center + 0.02 * rng.standard_normal(sz.dim), "para", c)
    for _ in range(sz.contaminated):
        words = _good_text(rng, vocab, int(rng.integers(60, 120)))
        src = evals[int(rng.integers(len(evals)))]
        at, start = int(rng.integers(len(words))), int(rng.integers(len(src) - 15))
        words[at:at] = src[start:start + 15]
        add(" ".join(words), _unit(rng, sz.dim), "contam")
    for i in range(sz.low_quality):
        if i % 2:
            text = " ".join(_good_text(rng, vocab, int(rng.integers(8, 40))))
        else:
            words = _good_text(rng, vocab, int(rng.integers(60, 100)))
            for pos in rng.choice(len(words), size=len(words) // 4, replace=False):
                words[pos] = "#" + words[pos]
            text = " ".join(words)
        add(text, _unit(rng, sz.dim), "low")
    for i in range(sz.degenerate):
        text = (None, "", " ", "  \t ")[i % 4]
        add(text, _unit(rng, sz.dim), "low")
    while len(texts) < sz.docs:
        add(" ".join(_good_text(rng, vocab, int(rng.integers(60, 120)))),
            _unit(rng, sz.dim), "keep")
    ids = rng.permutation(sz.docs) + 1
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    order = np.argsort(ids)
    _write_parquet(docs.take(order), os.path.join(root, "documents.parquet"))
    _write_parquet(pa.table({
        "vec_id": pa.array(ids[order], pa.int64()),
        "embedding": pa.array([np.asarray(vecs[i], dtype=np.float32).tolist() for i in order],
                              pa.list_(pa.float32())),
    }), os.path.join(root, "embeddings.parquet"))
    _write_parquet(pa.table({
        "doc_id": pa.array(np.arange(1, sz.eval_docs + 1), pa.int64()),
        "text": pa.array([" ".join(t) for t in evals], pa.string()),
    }), os.path.join(root, "evalset.parquet"))

    truth: dict = {"keep": [], "dup": [], "low": [], "contam": [], "para": []}
    null_ids = [int(ids[i]) for i, t in enumerate(texts) if t is None]
    groups: dict[int, list[int]] = {}
    paras: dict[int, list[int]] = {}
    for i, r in enumerate(role):
        if r == "dupgroup":
            groups.setdefault(group[i], []).append(int(ids[i]))
        elif r == "para":
            paras.setdefault(group[i], []).append(int(ids[i]))
        else:
            truth[r].append(int(ids[i]))
    for members in groups.values():
        truth["keep"].append(min(members))
        truth["dup"].extend(sorted(members)[1:])
    truth["para"] = [sorted(m) for m in paras.values()]
    truth["null_ids"] = sorted(null_ids)
    with open(os.path.join(root, "truth.json"), "w") as fh:
        json.dump({k: sorted(v) if k != "para" else v for k, v in truth.items()}, fh)
    n_dup = len(truth["dup"]) + sum(len(m) - 1 for m in truth["para"])
    return {
        "docs": sz.docs, "eval_docs": sz.eval_docs, "dim": sz.dim,
        "planted_dups": n_dup,
        "dup_share": round(n_dup / sz.docs, 4),
        "exact_dup_groups": sz.exact_dup_groups, "near_dup_groups": sz.near_dup_groups,
        "paraphrase_clusters": sz.paraphrase_clusters,
        "contaminated": sz.contaminated, "low_quality": sz.low_quality,
        "null_empty_share": round(sz.degenerate / sz.docs, 4),
        "null_texts": len(null_ids),
    }
