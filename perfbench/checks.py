"""Correctness checks, run outside the clock.

Each check recomputes the expected result from the generated input
files alone, with pandas, numpy or DuckDB, and compares it with what the
program wrote or returned.  None of them calls the program's operators.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import WATERMARK_S, WINDOW_S

_W_US = WINDOW_S * 1_000_000
_WM_US = WATERMARK_S * 1_000_000


def _event_files(root: str) -> list[str]:
    return sorted(glob.glob(os.path.join(root, "events", "*.parquet")))


def _read_events(path: str) -> pd.DataFrame:
    t = pq.read_table(path)
    df = t.to_pandas()
    df["ts_us"] = t.column("ts").cast("int64").to_numpy()
    return df


def bronze_wrong_batches(event_ids: np.ndarray, n_events: int, per_batch: int) -> int:
    """Micro-batches whose events are not in bronze exactly once."""
    counts = np.bincount(event_ids[(event_ids >= 0) & (event_ids < n_events)],
                         minlength=n_events)
    bad = set((np.nonzero(counts != 1)[0] // per_batch).tolist())
    bad |= set((event_ids[(event_ids < 0) | (event_ids >= n_events)] // per_batch).tolist())
    return len(bad)


def expected_gold(root: str) -> set[tuple]:
    """Batch window aggregation over finalized windows, replaying the
    watermark.  The watermark after batch b is the max event time seen
    through b minus the delay.  Batch b drops as late the rows of
    windows that the watermark after batch b-2 had already closed (the
    late-event watermark lags the eviction one by a batch).  Windows
    that end at or before the final watermark are the finalized ones."""
    wms: list[int] = []
    acc: dict[tuple, list[int]] = {}
    for path in _event_files(root):
        df = _read_events(path)
        ws = df["ts_us"].to_numpy() // _W_US * _W_US
        late_wm = wms[-2] if len(wms) >= 2 else None
        keep = np.ones(len(df), dtype=bool) if late_wm is None else (ws + _W_US > late_wm)
        kind = df["event_type"].to_numpy()
        for w, u, k in zip(ws[keep], df["user_id"].to_numpy()[keep], kind[keep]):
            c = acc.setdefault((int(w), int(u)), [0, 0, 0])
            c[("view", "click", "purchase").index(k)] += 1
        top = int(df["ts_us"].max()) - _WM_US
        wms.append(top if not wms else max(wms[-1], top))
    return {(w, u, *c) for (w, u), c in acc.items() if w + _W_US <= wms[-1]}


def expected_dims(base_path: str, cdc_files: list[str]) -> pd.DataFrame:
    """SCD1 keep-latest over ops c and u on top of the base snapshot."""
    dims = {int(r["user_id"]): r for r in pq.read_table(base_path).to_pylist()}
    for path in cdc_files:
        with open(path) as fh:
            for line in fh:
                env = json.loads(line)
                if env["op"] in ("c", "u"):
                    row = dict(env["after"], ts_ms=env["ts_ms"])
                    cur = dims.get(row["user_id"])
                    if cur is None or cur["ts_ms"] < row["ts_ms"]:
                        dims[row["user_id"]] = row
    cols = ["user_id", "c_mktsegment", "region", "tier", "ts_ms"]
    return pd.DataFrame([[r[c] for c in cols] for r in dims.values()], columns=cols)


def rows_equal(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    def norm(rows):
        out = [tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows]
        return out if ordered else sorted(out, key=repr)
    return norm(got) == norm(want)


def corpus_verdict(kept: set[int], truth: dict) -> dict:
    """Compare a kept set with the planted truth.  Text duplicates,
    low-quality and contaminated docs must all go and every ``keep`` doc
    must stay.  A paraphrase cluster must keep at least one member;
    extra survivors are recall loss that the operator's cell-scoped
    pairing allows, so they lower the recall but are not errors."""
    keep, dup = set(truth["keep"]), set(truth["dup"])
    false_drops = len(keep - kept)
    para_removed = sum(len(m) - sum(1 for i in m if i in kept) for m in truth["para"])
    planted = len(dup) + sum(len(m) - 1 for m in truth["para"])
    removed = len(dup - kept) + min(para_removed, planted - len(dup))
    wrong_kept = len((dup | set(truth["low"]) | set(truth["contam"])) & kept)
    emptied = sum(1 for m in truth["para"] if not any(i in kept for i in m))
    return {
        "correct": false_drops == 0 and wrong_kept == 0 and emptied == 0,
        "dup_recall": removed / planted if planted else 1.0,
        "false_drops": false_drops, "wrong_kept": wrong_kept, "emptied_clusters": emptied,
    }


def serving_twins(gold: set[tuple], as_of_us: int,
                  dims: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection holding the expected gold rows (as
    ``expected_gold`` gives them) and the expected dims, for the serving
    views' SQL twins."""
    con = duckdb.connect()
    con.register("gold_rows", pd.DataFrame(
        sorted(gold), columns=["ws", "user_id", "views", "clicks", "purchases"]))
    con.register("dim_entity", dims)
    con.execute("CREATE TABLE gold AS SELECT * FROM gold_rows")
    con.execute(f"CREATE MACRO mins(m) AS {as_of_us} - CAST(m AS BIGINT) * 60000000")
    return con


#: DuckDB twins of the serving views (``serving.velocity_view`` etc.),
#: with window starts as epoch microseconds.
TWIN_SQL = {
    "velocity": (False, f"""
        SELECT user_id,
               CAST(SUM(clicks) * 5 + SUM(purchases) * 10 AS DOUBLE)
                 / CAST(NULLIF(SUM(views), 0) AS DOUBLE)
        FROM gold WHERE ws >= mins(30) AND ws < mins(0) GROUP BY user_id"""),
    "trending": (True, """
        WITH m AS (
          SELECT user_id, SUM(clicks) AS clicks, SUM(views) AS views,
                 SUM(purchases) AS purchases
          FROM gold WHERE ws >= mins(60) AND ws < mins(0) GROUP BY user_id)
        SELECT m.*, d.c_mktsegment FROM m LEFT JOIN dim_entity d USING (user_id)
        ORDER BY clicks DESC, user_id ASC LIMIT 50"""),
    "spike": (True, """
        WITH w AS (
          SELECT user_id,
                 SUM(CASE WHEN ws >= mins(10) THEN views ELSE 0 END) AS r,
                 SUM(CASE WHEN ws < mins(10) THEN views ELSE 0 END) AS b
          FROM gold WHERE ws >= mins(70) AND ws < mins(0) GROUP BY user_id)
        SELECT user_id, CAST(r AS DOUBLE) / 10, CAST(b AS DOUBLE) / 60,
               CAST(r AS DOUBLE) * 60 / (CAST(b AS DOUBLE) * 10),
               CAST(r AS DOUBLE) * 60 / (CAST(b AS DOUBLE) * 10) > 3.0
        FROM w WHERE b > 0 ORDER BY 4 DESC, user_id ASC"""),
    "freshness": (False, """
        SELECT mins(0) // 1000000 - MAX(ws) // 1000000 FROM gold"""),
}


def twin_rows(con: duckdb.DuckDBPyConnection, query: str, key: int | None = None) -> list[tuple]:
    if query == "lookup":
        return con.execute(
            "SELECT user_id, c_mktsegment, region, tier, ts_ms FROM dim_entity "
            "WHERE user_id = ?", [key]).fetchall()
    return con.execute(TWIN_SQL[query][1]).fetchall()


def twin_ordered(query: str) -> bool:
    return query != "lookup" and TWIN_SQL[query][0]

