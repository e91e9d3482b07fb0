"""Incremental table/column statistics for SnapshotTable — the Iceberg
ANALYZE / Puffin-stats-file analog, maintained at churn-proportional cost.

What a 100-TB planner needs from a table is a handful of numbers — per-column
NDV, null count, min/max, row count — and the one thing it cannot afford is
recomputing them with a full scan after every ingest epoch. Iceberg solves
this with Puffin files carrying mergeable Datasketches per snapshot; this
module does the same over the engine's bucket layout:

* **Per-bucket mergeable sketches.** `analyze()` makes ONE distributed pass
  over the merged (MOR-folded) state, aggregating per storage bucket:
  an HLL sketch per column (Spark's built-in Datasketches
  ``hll_sketch_agg`` — JVM-side, mergeable, ~lg_k-bounded bytes), plus
  null count, min, max, row count. The per-bucket granularity is the whole
  trick: it makes every later refresh incremental.
* **Churn-proportional refresh.** `refresh()` diffs the file lists of the
  stats' snapshot vs the current snapshot per bucket and recomputes ONLY
  the buckets whose files changed — a bucket-pruned read, the same
  pruning `compact(min_delta_files=)` and tombstone expiry ride. Unchanged
  buckets keep their stored sketches. Deletes are handled exactly (the
  changed bucket is recomputed from its folded state, not "subtracted"
  from a sketch — HLL cannot subtract, which is why bucket granularity,
  not table granularity, is the unit of incrementality; Iceberg's
  partition-level stats make the same choice).
* **Union at read time.** `stats()` merges bucket sketches with
  ``hll_union_agg`` (order-insensitive) in one metadata-scale job and
  returns ``{column: {ndv, null_count, min, max}}`` + row count. The
  driver-side payload is O(n_buckets × n_columns) sketch blobs — table
  metadata, never table data (same justification as the engine's other
  metadata collects, engine.py:296).

The stats document is published as an atomic versioned sidecar under
``<table>/_stats/v{K}.json`` stamped with the table version it describes,
so a reader always knows how stale its numbers are; `refresh()` is
idempotent and crash-safe (rerun recomputes the same buckets and
republishes). Reference parity: the reference keeps per-entity read/write
counters only (`core/src/main/java/io/zyient/base/core/processing/
ProcessorState.java`, DataStoreMetrics); planner-grade column stats are
public-Iceberg parity (ANALYZE/Puffin, theta/HLL NDV sketches), built here
from public Spark built-ins.
"""

from __future__ import annotations

import base64
import datetime
import json
import os
from typing import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cdc_core_spark import fsutil
from cdc_core_spark.lake import SnapshotTable, bucket_expr

#: column logical types stats cover; binary/arrays have no meaningful
#: min/max and are skipped (loudly listed in the doc's "skipped" field)
_SUPPORTED = {"boolean", "short", "int", "integer", "long", "float",
              "double", "string", "timestamp"}


def _stats_dir(table: SnapshotTable) -> str:
    return os.path.join(table.root, "_stats")


def _doc_path(table: SnapshotTable, stats_version: int) -> str:
    return os.path.join(_stats_dir(table), f"v{stats_version}.json")


def _json_val(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


#: stored string bounds are truncated Iceberg-style (write.metadata.metrics
#: truncate(N)): min/max of e.g. a 100-TB content column must not dump
#: whole documents into the stats doc. A truncated MIN is a valid lower
#: bound as-is; a truncated MAX must round its last character UP to stay
#: an upper bound (Iceberg's truncateStringMax rule).
_BOUND_CHARS = 64


def _trunc_min(s):
    if not isinstance(s, str) or len(s) <= _BOUND_CHARS:
        return s
    return s[:_BOUND_CHARS]


def _trunc_max(s):
    if not isinstance(s, str) or len(s) <= _BOUND_CHARS:
        return s
    p = s[:_BOUND_CHARS]
    for i in range(len(p) - 1, -1, -1):
        if ord(p[i]) < 0x10FFFF:
            return p[:i] + chr(ord(p[i]) + 1)
    return s  # pathological all-U+10FFFF prefix: keep the exact value


def latest_stats_doc(table: SnapshotTable) -> dict | None:
    d = _stats_dir(table)
    if not os.path.isdir(d):
        return None
    vs = [int(n[1:-5]) for n in os.listdir(d)
          if n.startswith("v") and n.endswith(".json")]
    if not vs:
        return None
    with open(_doc_path(table, max(vs))) as f:
        return json.load(f)


def _bucket_files(snap) -> dict[int, frozenset]:
    out: dict[int, set] = {}
    for f in snap.files:
        out.setdefault(f["bucket"], set()).add(f["path"])
    return {b: frozenset(s) for b, s in out.items()}


def _compute_buckets(spark: SparkSession, table: SnapshotTable, snap,
                     columns: list[str], buckets: list[int],
                     lg_k: int) -> dict:
    """One distributed pass over the named buckets' folded state →
    {bucket: {rows, sketch{col: b64}, nulls{col}, min{col}, max{col}}}."""
    if not buckets:
        return {}
    # columns= prunes the projection INTO the parquet scan (a bare .select
    # cannot — the MOR fold's max_by struct blocks Catalyst pruning through
    # it, lake.py read() docstring); keys ride along for bucket_expr
    df = table.read(spark, buckets=buckets, snap=snap,
                    columns=sorted(set(columns) | set(snap.key_cols)))
    cast_types = {f["name"]: f["type"] for f in snap.fields
                  if f["name"] in snap.key_cols}
    df = df.withColumn("_b", bucket_expr(snap.key_cols, snap.n_buckets,
                                         cast_types))
    # hll_sketch_agg accepts int/long/string/binary only (Datasketches);
    # other scalar types sketch their string image — a 1:1 mapping, so the
    # cardinality is identical, just marginally more bytes hashed
    types = {f["name"]: f["type"] for f in snap.fields}
    _native = {"short", "int", "integer", "long", "string"}

    def _sk_in(c):
        col = F.col(c)
        return col if types.get(c) in _native else col.cast("string")

    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in columns:
        aggs += [
            F.hll_sketch_agg(_sk_in(c), lg_k).alias(f"_sk_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nl_{c}"),
            F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}"),
        ]
    rows = df.groupBy("_b").agg(*aggs).collect()  # O(buckets × cols) metadata
    out = {}
    for r in rows:
        d = r.asDict()
        out[str(d["_b"])] = {
            "rows": d["_rows"],
            "sketch": {c: base64.b64encode(bytes(d[f"_sk_{c}"])).decode()
                       for c in columns if d[f"_sk_{c}"] is not None},
            "nulls": {c: d[f"_nl_{c}"] for c in columns},
            "min": {c: _trunc_min(_json_val(d[f"_mn_{c}"])) for c in columns},
            "max": {c: _trunc_max(_json_val(d[f"_mx_{c}"])) for c in columns},
        }
    # buckets whose visible state is empty still need an entry (marks them
    # as analyzed at this version — else refresh would re-read them forever)
    for b in buckets:
        out.setdefault(str(b), {"rows": 0, "sketch": {}, "nulls": {},
                                "min": {}, "max": {}})
    return out


def _publish(table: SnapshotTable, doc: dict) -> dict:
    existing = latest_stats_doc(table)
    doc["stats_version"] = (existing["stats_version"] + 1) if existing else 0
    fsutil._atomic_write_json(_doc_path(table, doc["stats_version"]), doc)
    return doc


def analyze(spark: SparkSession, table: SnapshotTable,
            columns: Sequence[str] | None = None, lg_k: int = 12) -> dict:
    """Full statistics pass: per-bucket HLL/null/min/max/rows over every
    bucket of the current snapshot. Returns the published stats doc."""
    return _publish(table, _analyze_doc(spark, table, columns, lg_k))


def _analyze_doc(spark: SparkSession, table: SnapshotTable,
                 columns: Sequence[str] | None = None,
                 lg_k: int = 12) -> dict:
    """Build (but do not publish) a full-analyze doc — split out so
    refresh()'s expired-snapshot fallback can annotate the doc
    (refreshed_buckets / dropped_columns) BEFORE the single publish,
    keeping the on-disk sidecar identical to the returned dict."""
    snap = table.latest()
    all_cols = {f["name"]: f["type"] for f in snap.fields}
    if columns is None:
        cols = [n for n, t in all_cols.items() if t in _SUPPORTED]
    else:
        missing = [c for c in columns if c not in all_cols]
        if missing:
            raise ValueError(f"analyze: unknown columns {missing}")
        unsup = [c for c in columns if all_cols[c] not in _SUPPORTED]
        if unsup:
            raise ValueError(
                f"analyze: unsupported column types {[(c, all_cols[c]) for c in unsup]}")
        cols = list(columns)
    skipped = sorted(set(all_cols) - set(cols))
    buckets = sorted({f["bucket"] for f in snap.files})
    doc = {
        "table_version": snap.version, "lg_k": lg_k, "columns": cols,
        "skipped_columns": skipped,
        # refresh() needs to know whether the column set was a caller
        # choice (track exactly those through renames) or the default
        # (track whatever the evolving schema supports)
        "explicit_columns": columns is not None,
        "buckets": _compute_buckets(spark, table, snap, cols, buckets, lg_k),
    }
    return doc


def _remap_name(name: str, aliases: dict) -> str:
    """Follow the cumulative old→new alias map to the current name."""
    seen = set()
    while name in aliases and name not in seen:
        seen.add(name)
        name = aliases[name]
    return name


def refresh(spark: SparkSession, table: SnapshotTable) -> dict:
    """Incremental statistics refresh: recompute ONLY buckets whose file
    set changed since the last analyze/refresh, keep the rest's stored
    sketches. Falls back to a full `analyze` when no stats exist yet or
    the analyzed snapshot has been expired (no file diff possible).

    Returns the published doc; ``doc["refreshed_buckets"]`` records how
    much work the refresh actually did (the churn-proportionality
    contract pinned by tests)."""
    prev = latest_stats_doc(table)
    snap = table.latest()
    if prev is None:
        return analyze(spark, table)
    if prev["table_version"] == snap.version:
        prev["refreshed_buckets"] = []
        return prev

    # --- schema evolution between the analyzed and current snapshots ---
    # Renames are metadata-only commits (no file changes → no bucket would
    # recompute), so stored per-column stats must remap through the alias
    # map; dropped columns soft-drop (the registry's ignoreDroppedColumn
    # semantic); default-column docs additionally pick up columns ADDed
    # since the analyze.
    cur_types = {f["name"]: f["type"] for f in snap.fields}
    aliases = snap.aliases or {}
    dropped: list[str] = []
    if prev.get("explicit_columns"):
        cols = []
        for c in prev["columns"]:
            n = _remap_name(c, aliases)
            if n in cur_types and cur_types[n] in _SUPPORTED:
                cols.append(n)
            else:
                dropped.append(c)
    else:
        cols = [n for n, t in cur_types.items() if t in _SUPPORTED]

    def _remap_bucket(s: dict) -> dict:
        out = {"rows": s["rows"], "sketch": {}, "nulls": {}, "min": {},
               "max": {}}
        for fld in ("sketch", "nulls", "min", "max"):
            for k, v in s[fld].items():
                n = _remap_name(k, aliases)
                if n in cols:
                    out[fld][n] = v
        # columns ADDed after the analyze: an unchanged bucket holds only
        # rows that predate the ADD commit (later rows would have changed
        # the bucket's files), which read back as NULL — so the synthetic
        # entry (all-null, no sketch) is EXACT, not an approximation
        for c in cols:
            if c not in out["nulls"]:
                out["nulls"][c] = s["rows"]
                out["min"][c] = None
                out["max"][c] = None
        return out

    try:
        old_snap = table.snapshot(prev["table_version"])
    except FileNotFoundError:  # analyzed snapshot expired — no diff base
        doc = _analyze_doc(
            spark, table,
            columns=(cols if prev.get("explicit_columns") else None),
            lg_k=prev["lg_k"])
        doc["refreshed_buckets"] = sorted(int(b) for b in doc["buckets"])
        if dropped:
            doc["dropped_columns"] = dropped
        return _publish(table, doc)
    old_files, new_files = _bucket_files(old_snap), _bucket_files(snap)
    # buckets only in the OLD snapshot (e.g. a re-bucket compact changed the
    # numbering) simply drop out; recompute only changed buckets that exist now
    changed = sorted(b for b in new_files
                     if old_files.get(b) != new_files.get(b))
    changed_set = set(changed)
    fresh = _compute_buckets(spark, table, snap, cols, changed,
                             prev["lg_k"])
    buckets = {b: _remap_bucket(s) for b, s in prev["buckets"].items()
               if int(b) in new_files and int(b) not in changed_set}
    buckets.update(fresh)
    doc = {
        "table_version": snap.version, "lg_k": prev["lg_k"],
        "columns": cols,
        "skipped_columns": sorted(set(cur_types) - set(cols)),
        "explicit_columns": prev.get("explicit_columns", False),
        "buckets": buckets, "refreshed_buckets": changed,
    }
    if dropped:
        doc["dropped_columns"] = dropped
    return _publish(table, doc)


def stats(spark: SparkSession, table: SnapshotTable,
          doc: dict | None = None) -> dict:
    """Merge the per-bucket stats into table-level numbers:
    ``{"row_count": n, "table_version": v, "columns": {col: {"ndv": e,
    "null_count": n, "min": m, "max": M}}}``. NDV comes from one
    metadata-scale ``hll_union_agg`` job over the stored sketch blobs
    (order-insensitive merge); everything else folds driver-side.
    ``min``/``max`` are BOUNDS, not necessarily attained values: string
    bounds longer than 64 chars are truncated Iceberg-style (max rounds
    its last char up)."""
    doc = doc or latest_stats_doc(table)
    if doc is None:
        raise FileNotFoundError(
            f"no statistics for {table.root} — run table_stats.analyze()")
    blobs = [(c, base64.b64decode(s["sketch"][c]))
             for s in doc["buckets"].values() for c in s["sketch"]]
    ndv: dict[str, int] = {}
    if blobs:
        est = (spark.createDataFrame(blobs, "col string, sk binary")
               .groupBy("col")
               .agg(F.hll_sketch_estimate(
                   F.hll_union_agg("sk", True)).alias("ndv"))
               .collect())
        ndv = {r["col"]: int(r["ndv"]) for r in est}
    out_cols = {}
    per = list(doc["buckets"].values())
    for c in doc["columns"]:
        mins = [s["min"][c] for s in per if s["min"].get(c) is not None]
        maxs = [s["max"][c] for s in per if s["max"].get(c) is not None]
        out_cols[c] = {
            "ndv": ndv.get(c, 0),
            "null_count": sum(s["nulls"].get(c, 0) for s in per),
            "min": min(mins) if mins else None,
            "max": max(maxs) if maxs else None,
        }
    return {
        "table_version": doc["table_version"],
        "stats_version": doc["stats_version"],
        "row_count": sum(s["rows"] for s in doc["buckets"].values()),
        "columns": out_cols,
    }
