"""Minimal snapshot-versioned parquet table layout (SURVEY.md section
2 M2/M3; reference ``compact_cold_data.py:56-92`` expire-snapshots /
remove-orphans semantics on plain parquet).

Layout::

    table/
      _CURRENT                 text pointer, atomically replaced
      _versions/v00000001/     immutable snapshot directories
      _versions/v00000002/
      _versions/.tmp-...       in-flight writes (orphaned on crash)

This gives plain parquet the minimal snapshot semantics the reference
gets from Iceberg:

- readers resolve ``_CURRENT`` and only ever see a fully-written
  snapshot (the pointer flips AFTER the new version is materialized
  and validated — a crash mid-write leaves the old version current and
  an orphan ``.tmp`` dir, never a half table);
- old versions stay readable (time travel / rollback) until
  ``expire_snapshots`` removes them;
- ``remove_orphans`` deletes crashed ``.tmp`` dirs.

Names starting with ``_`` are ignored by Spark's file index, so a
naive ``spark.read.parquet(table)`` fails fast instead of silently
double-reading versions — use ``read_table``.

Single-writer-per-table is assumed (matching the reference's one
streaming job + one maintenance job per table); multi-writer commit
coordination is exactly what a real table format adds on top.

A version may instead be a merge-on-read (MoR) commit: only the
changed rows and delete keys, on top of an older version.  A read
resolves the chain back to its last full snapshot as one flat plan,
one broadcast anti-join at any depth; ``flatten_mor`` folds a chain
into a full snapshot.

At scale: the pointer file is O(1); full version dirs are independent
parquet tables, so writes/reads shuffle nothing extra and partition
pruning inside a version works as for any parquet dir.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VERSIONS_DIR = "_versions"
CURRENT_FILE = "_CURRENT"
SCHEMA_FILE = "_SCHEMA"


def _versions_root(path: str) -> str:
    return os.path.join(path, VERSIONS_DIR)


def version_path(path: str, version: int) -> str:
    return os.path.join(_versions_root(path), f"v{version:08d}")


def list_versions(path: str) -> list[int]:
    root = _versions_root(path)
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


def current_version(path: str) -> int | None:
    ptr = os.path.join(path, CURRENT_FILE)
    if not os.path.isfile(ptr):
        return None
    with open(ptr) as fh:
        return int(fh.read().strip())


def is_versioned(path: str) -> bool:
    return current_version(path) is not None


# -- schema evolution (reference DataModel_SchemaDesign.md:127-129:
# --   drifted JSON fields read via get_json_object, then promoted with
# --   ALTER TABLE ADD COLUMN — a metadata-only commit)

def declared_schema(path: str) -> list[dict] | None:
    """The table's declared column list ``[{"name", "type"}]`` (DDL type
    strings), or None for tables created before schema tracking."""
    f = os.path.join(path, SCHEMA_FILE)
    if not os.path.isfile(f):
        return None
    with open(f) as fh:
        return json.load(fh)["fields"]


def _save_schema(path: str, fields: list[dict]) -> None:
    tmp = os.path.join(path, f".{SCHEMA_FILE}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"fields": fields}, fh, indent=1)
    os.replace(tmp, os.path.join(path, SCHEMA_FILE))


def _fields_of(df: DataFrame) -> list[dict]:
    return [
        {"name": f.name, "type": f.dataType.simpleString()}
        for f in df.schema.fields
    ]


def add_column(path: str, name: str, dtype: str) -> list[dict]:
    """ALTER TABLE ADD COLUMN: a metadata-only commit — no snapshot is
    rewritten (O(1) regardless of table size, the Iceberg semantic the
    reference leans on for JSON-field promotion).  Every snapshot —
    current and historical — subsequently reads the new column as a
    typed null until a later ``write_version`` supplies values."""
    fields = declared_schema(path)
    if fields is None:
        raise FileNotFoundError(
            f"no declared schema under {path} (write a version first)"
        )
    if any(f["name"] == name for f in fields):
        raise ValueError(f"column {name!r} already exists")
    fields = fields + [{"name": name, "type": dtype}]
    _save_schema(path, fields)
    return fields


def _reconcile(df: DataFrame, fields: list[dict]) -> DataFrame:
    """Project a snapshot onto the declared schema: missing columns
    become typed nulls (added after the snapshot was written), columns
    no longer declared are dropped.  Pure projection — pushdown and
    pruning on the stored columns are untouched."""
    have = set(df.columns)
    return df.select(*[
        F.col(f["name"]) if f["name"] in have
        else F.lit(None).cast(f["type"]).alias(f["name"])
        for f in fields
    ])


MOR_META = "_MOR.json"
MOR_DELTA = "_delta"
MOR_DELETES = "_deletes"

#: The ``_versions/vNNNNNNNN/`` segment a data or key file sits under;
#: the greedy ``.*`` takes the LAST one, so a table path that contains
#: such a segment (or any ``/v1/``-style directory) cannot shadow it.
_FILE_VERSION = rf".*/{VERSIONS_DIR}/v(\d{{8}})/"


def mor_meta(path: str, version: int) -> dict | None:
    """The merge-on-read manifest of a version, or None for a full
    (copy-on-write) snapshot."""
    f = os.path.join(version_path(path, version), MOR_META)
    if not os.path.isfile(f):
        return None
    with open(f) as fh:
        return json.load(fh)


def _mor_chain(path: str, version: int) -> tuple[int, list[int], list[str]]:
    """Walk a version's ``_MOR.json`` files (plain file reads, no Spark
    job): the full base snapshot it resolves through, its MoR levels
    oldest first, and their key columns."""
    levels, keys = [], set()
    while (meta := mor_meta(path, version)) is not None:
        levels.append(version)
        keys.add(tuple(meta["key_cols"]))
        version = int(meta["base"])
    if len(keys) > 1:
        raise ValueError(f"MoR chain under {path} mixes key columns {sorted(keys)}")
    return version, levels[::-1], list(next(iter(keys), ()))


def _read_version(
    spark: SparkSession, path: str, version: int, fields: list[dict] | None
) -> DataFrame:
    """Resolve a version to rows as ONE flat plan at any chain depth.
    Rows are the base snapshot plus a multi-path scan of every level's
    ``_delta``; the build side is a multi-path scan of every level's
    delete keys (an upsert delta's own keys are its equality deletes).
    Each row and key is tagged with the version its file sits under.
    A row written at version j survives iff no delete key from a LATER
    version matches it (Iceberg v2: an equality delete applies to every
    data file with a lower sequence number), so one broadcast LEFT ANTI
    join on key equality AND ``delete_version > row_version`` resolves
    the chain.  Delete keys are delta-sized, so the base never
    shuffles; a delta too large to broadcast is the signal to flatten.

    The row tag uses ``input_file_name()``, which Catalyst treats as
    nondeterministic: that keeps the anti-join above the base/delta
    union instead of planning it once per union branch, but filters on
    an UNFLATTENED chain then run after the scan, not pushed into it.
    With declared ``fields`` every file is read with them (no
    inference job; missing columns read as nulls), else inference."""
    base_v, levels, keys = _mor_chain(path, version)
    reader = (
        spark.read.schema(", ".join(f"`{f['name']}` {f['type']}" for f in fields))
        if fields is not None else spark.read.option("mergeSchema", "true")
    )
    rows = reader.parquet(version_path(path, base_v))
    if not levels:
        return rows

    def level_dirs(name: str) -> list[str]:
        return [d for v in levels
                if os.path.isdir(d := os.path.join(version_path(path, v), name))]

    deltas = level_dirs(MOR_DELTA)
    if deltas:
        rows = rows.unionByName(reader.parquet(*deltas), allowMissingColumns=True)
    rows = rows.withColumn(
        "__rv", F.regexp_extract(F.input_file_name(), _FILE_VERSION, 1).cast("long"))
    dk = [f"__k{i}" for i in range(len(keys))]
    dele = reader.parquet(*deltas, *level_dirs(MOR_DELETES)).select(
        *[F.col(k).alias(d) for k, d in zip(keys, dk)],
        F.regexp_extract(F.col("_metadata.file_path"), _FILE_VERSION, 1)
        .cast("long").alias("__dv"),
    )
    cond = [F.col(k) == F.col(d) for k, d in zip(keys, dk)]
    cond.append(F.col("__dv") > F.col("__rv"))
    return rows.join(F.broadcast(dele), cond, "left_anti").drop("__rv")


def read_table(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Read the current (or a pinned historical) snapshot, reconciled
    to the table's declared schema — a time-travel read after
    ``add_column`` sees the new column as null, exactly like the
    current snapshot.  Merge-on-read versions are resolved (rows not
    deleted by a later level of the chain) transparently."""
    v = current_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no _CURRENT pointer under {path}")
    fields = declared_schema(path)
    df = _read_version(spark, path, v, fields)
    return df if fields is None else _reconcile(df, fields)


def _next_tmp(path: str) -> tuple[int, str]:
    """The next version number and its in-flight ``.tmp`` dir."""
    n = max(list_versions(path), default=0) + 1
    return n, os.path.join(_versions_root(path), f".tmp-v{n:08d}")


def _commit(path: str, tmp: str, n: int, df: DataFrame | None = None,
            init_schema: bool = False) -> int:
    """Publish a written ``tmp`` dir as version ``n``, then flip
    ``_CURRENT`` with ``os.replace`` (atomic on POSIX).  In between,
    the declared schema is initialized (``init_schema``, a first
    commit) or APPENDED with ``df``'s new columns (mergeSchema-style:
    existing columns keep type and order, old snapshots read the new
    ones as nulls) — a crash before the flip leaves the old snapshot
    current under a widened schema, never a half-visible state."""
    os.rename(tmp, version_path(path, n))
    fields = declared_schema(path)
    if df is not None and (fields is not None or init_schema):
        known = {f["name"] for f in fields or []}
        new = [f for f in _fields_of(df) if f["name"] not in known]
        if new:
            _save_schema(path, (fields or []) + new)
    ptr_tmp = os.path.join(path, f".{CURRENT_FILE}.tmp")
    with open(ptr_tmp, "w") as fh:
        fh.write(str(n))
    os.replace(ptr_tmp, os.path.join(path, CURRENT_FILE))
    return n


def write_version(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    expect_rows: int | None = None,
) -> int:
    """Materialize ``df`` as the next snapshot and flip ``_CURRENT``.

    The snapshot is written to a ``.tmp`` dir first; if ``expect_rows``
    is given the tmp output is counted BEFORE anything becomes visible
    and a mismatch aborts (tmp removed, pointer untouched).  A crash
    at any step leaves the previous snapshot current."""
    os.makedirs(_versions_root(path), exist_ok=True)
    n, tmp = _next_tmp(path)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    if expect_rows is not None:
        got = df.sparkSession.read.parquet(tmp).count()
        if got != expect_rows:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"versioned write aborted: tmp has {got} rows, expected {expect_rows}"
            )
    return _commit(path, tmp, n, df, init_schema=True)


def _mor_manifest(path: str, tmp: str, key_cols: list[str]) -> None:
    """Start a MoR commit in a clean ``tmp`` dir: its ``_MOR.json``."""
    base_v = current_version(path)
    if base_v is None:
        raise FileNotFoundError(
            f"no _CURRENT under {path}: the first commit must be a full "
            "write_version (MoR deltas need a base snapshot)"
        )
    shutil.rmtree(tmp, ignore_errors=True)  # a crashed attempt's leftovers
    os.makedirs(tmp)
    with open(os.path.join(tmp, MOR_META), "w") as fh:
        json.dump({"base": base_v, "key_cols": list(key_cols)}, fh, indent=1)


def write_mor_upsert(
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    deletes: DataFrame | None = None,
) -> int:
    """Merge-on-read UPSERT commit: ONE write of the delta — the
    upserted rows — instead of a table rewrite (reference
    ``streaming_job.py:55-60`` ``write.merge.mode = merge-on-read``;
    trade-off ``design_doc/PipelineArchitecture.md:235-238``).  Commit
    cost is O(|delta|) at any table size; readers resolve the chain
    with one broadcast anti-join (:func:`_read_version`) until
    ``flatten_mor`` folds it, on the maintenance cadence that bounds
    Iceberg's delete-file count.

    Semantics: ``MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT
    MATCHED THEN INSERT *`` — matched keys take the update row
    WHOLESALE (update nulls overwrite, Iceberg's ``SET *``; for the
    column-wise null-coalescing variant run
    :func:`operators.merge.merge_upsert` and commit its output),
    unmatched keys insert — pinned by the read-merge equivalence
    test.  ``deletes`` optionally removes additional keys in the same
    commit (a combined CDC batch); a key present in BOTH ``updates``
    and ``deletes`` is DELETED — the delete wins, matching the CDC
    convention that a batch's tombstone is the key's final state (the
    update row is anti-joined out of the delta before the commit, so
    a delete-after-upsert batch can never resurrect the row).  Layout
    inside the version dir::

        v0000000N/_MOR.json   {"base": M, "key_cols": [...]}
        v0000000N/_delta/     parquet, the upserted rows; their keys
                              are this version's equality deletes
        v0000000N/_deletes/   parquet, explicit delete keys (only when
                              ``deletes`` is given)

    Older versions also hold the delta keys in ``_deletes`` (and an
    ``n_deletes`` count in ``_MOR.json``); they resolve identically.
    Underscore names keep a naive ``spark.read.parquet(version_dir)``
    failing fast: MoR versions are readable only through
    :func:`read_table`, as Iceberg data files are only through a
    manifest."""
    n, tmp = _next_tmp(path)
    _mor_manifest(path, tmp, key_cols)
    if deletes is not None:
        deletes = deletes.select(*key_cols)
        # delete wins over a same-key update in the combined batch: the
        # delta row would otherwise outlive the same-version delete key
        updates = updates.join(F.broadcast(deletes), key_cols, "left_anti")
        deletes.write.parquet(os.path.join(tmp, MOR_DELETES))
    updates.write.parquet(os.path.join(tmp, MOR_DELTA))
    return _commit(path, tmp, n, updates)


def write_mor_delete(keys: DataFrame, path: str, key_cols: list[str]) -> int:
    """Merge-on-read DELETE commit: an equality-delete key file and no
    delta — O(|keys|) instead of a table rewrite (the reference's
    ``write.delete.mode = merge-on-read``)."""
    n, tmp = _next_tmp(path)
    _mor_manifest(path, tmp, key_cols)
    keys.select(*key_cols).write.parquet(os.path.join(tmp, MOR_DELETES))
    return _commit(path, tmp, n)


def flatten_mor(spark: SparkSession, path: str) -> int:
    """Compaction for a MoR chain: materialize the current resolved
    rows as a FULL snapshot (one new version, ``_CURRENT`` flipped),
    after which reads pay zero merge joins and ``expire_snapshots``
    can reclaim the chain — the rewrite the reference schedules
    hourly to bound delete-file accumulation."""
    return write_version(read_table(spark, path), path)


def mor_chain_depth(path: str, version: int | None = None) -> int:
    """Number of un-flattened MoR commits the given (default: current)
    version resolves through — 0 for a full snapshot.  The read plan is
    one broadcast anti-join at any depth; depth sets how many delta and
    delete-key directories a read scans and lists.  This is the metric
    a maintenance cadence bounds: keep it under ``MOR_MAX_CHAIN``."""
    v = current_version(path) if version is None else version
    return 0 if v is None else len(_mor_chain(path, v)[1])


# Recommended flatten trigger.  The read plan does not grow with depth;
# the chain bound limits the files a read scans (one delta and/or one
# delete-key dir per level) while amortizing the full-rewrite
# amplification over 8 O(|delta|) commits (SCALING.md r8 MoR table).
MOR_MAX_CHAIN = 8


def _mor_base_closure(path: str, versions: set[int]) -> set[int]:
    """Every version transitively referenced as a MoR base by
    ``versions`` — these must survive expiry or the chain breaks."""
    out = set(versions)
    frontier = list(versions)
    while frontier:
        v = frontier.pop()
        meta = mor_meta(path, v)
        if meta is not None:
            b = int(meta["base"])
            if b not in out:
                out.add(b)
                frontier.append(b)
    return out


def expire_snapshots(
    path: str, keep_last: int = 2, older_than_s: float | None = None
) -> dict:
    """M2: delete old snapshots — the reference's
    ``expire_snapshots(retain_last=5, older_than=...)`` pair of bounds
    (``compact_cold_data.py:56-72``): the last ``keep_last`` versions
    are always retained, and with ``older_than_s`` set, versions
    YOUNGER than that many seconds (by commit mtime) are also retained
    even beyond ``keep_last``.  The current version is never expired.
    """
    import time as _time

    cur = current_version(path)
    versions = list_versions(path)
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()
    if cur is not None:
        keep.add(cur)
    if older_than_s is not None:
        cutoff = _time.time() - older_than_s
        for v in versions:
            if os.path.getmtime(version_path(path, v)) >= cutoff:
                keep.add(v)
    # MoR chains: a kept delta version pins its base(s) — expiring a
    # base a live MoR version still resolves through would break every
    # read of that version (Iceberg equivalently retains data files
    # any live snapshot's manifests reference)
    keep = _mor_base_closure(path, keep)
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(version_path(path, v), ignore_errors=True)
            removed.append(v)
    return {"removed": removed, "kept": sorted(keep & set(versions))}


def remove_orphans(path: str) -> dict:
    """M3: delete in-flight ``.tmp`` dirs left by crashed writes.
    Reference ``compact_cold_data.py:74-92``.  Never touches committed
    version dirs or the pointer."""
    root = _versions_root(path)
    removed = []
    if os.path.isdir(root):
        for name in os.listdir(root):
            if name.startswith(".tmp-"):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
                removed.append(name)
    return {"removed": removed}


def snapshot_diff(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level changes between two snapshots — the engine analogue of
    Iceberg's incremental read (changelog scan), which the reference's
    downstream consumers use to avoid full-table re-reads.

    With ``key_cols``: a full-outer join on the keys classifies each
    row as ``insert`` (key only in ``to``), ``delete`` (only in
    ``from``) or ``update`` (both sides present, any non-key column
    changed); unchanged rows are dropped.  Without keys, set semantics:
    rows added/removed by whole-row comparison.

    One key shuffle of the two snapshots; the output carries the TO
    side's columns (FROM side's for deletes).  At scale this is the
    standard CDC-diff plan; a file-format with column-level delete
    vectors would prune further.
    """
    to_v = current_version(path) if to_version is None else to_version
    a = read_table(spark, path, version=from_version)
    b = read_table(spark, path, version=to_v)
    if not key_cols:
        ins = b.exceptAll(a).withColumn("_change", F.lit("insert"))
        dele = a.exceptAll(b).withColumn("_change", F.lit("delete"))
        return ins.unionByName(dele)
    val_cols = [c for c in b.columns if c not in key_cols]
    af = a.select(*key_cols, F.struct(*val_cols).alias("_from"))
    bf = b.select(*key_cols, F.struct(*val_cols).alias("_to"))
    j = af.join(bf, key_cols, "full_outer")
    change = (
        F.when(F.col("_from").isNull(), F.lit("insert"))
        .when(F.col("_to").isNull(), F.lit("delete"))
        .when(F.col("_from") != F.col("_to"), F.lit("update"))
    )
    j = j.withColumn("_change", change).filter(F.col("_change").isNotNull())
    side = F.coalesce(F.col("_to"), F.col("_from"))
    return j.select(
        *key_cols,
        *[side.getField(c).alias(c) for c in val_cols],
        "_change",
    )


def snapshots_table(spark: SparkSession, path: str) -> DataFrame:
    """Metadata table: one row per live snapshot — the engine analogue
    of Iceberg's ``tbl$snapshots`` (the reference's monitoring
    dashboards read it, ``lakehouse_monitor.json:117,314``): version,
    commit time, current flag, file count and byte size.

    Driver-side listing by design, like :func:`maintenance.table_stats`
    — a compactor-bounded file count per snapshot; a metastore-scale
    deployment reads a manifest instead."""
    cur = current_version(path)
    rows = []
    for v in list_versions(path):
        vp = version_path(path, v)
        files = [
            (os.path.join(r, f), os.path.getsize(os.path.join(r, f)))
            for r, _d, fs in os.walk(vp)
            for f in fs
            if f.endswith(".parquet")
        ]
        rows.append(
            (
                v,
                float(os.path.getmtime(vp)),
                v == cur,
                len(files),
                sum(b for _f, b in files),
            )
        )
    return spark.createDataFrame(
        rows or [],
        "version long, committed_at_s double, is_current boolean, "
        "n_files long, total_bytes long",
    )
