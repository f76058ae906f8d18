"""Zone-map data skipping: per-FILE min/max statistics + read-time file
pruning — the lakehouse lever BELOW partition pruning.

Partition pruning (``write_hash_partitioned``, ``source_partitioned_pruned``)
skips directories; parquet row-group stats skip pages *after* a file is
opened.  The gap between them at 100 TB is the file list itself: a table of
~100k files where a range predicate touches 1% still *opens* every footer
unless something stores per-file column ranges and prunes the listing first.
That something is the zone map (Moerkotte, "Small Materialized Aggregates",
VLDB 1998) — the mechanism behind Delta/Iceberg ``add.stats`` / manifest
min-max skipping.

Design (Spark-first):

- **Stats collection is one distributed pass**, not a driver loop over
  footers: re-read the written files and ``groupBy(_metadata.file_path)``
  aggregating min/max/count/null-count per tracked column.  The collect is
  bounded at one row per file.
- **The manifest is advisory, never load-bearing for correctness.**
  ``read_pruned`` re-applies the predicate as a real Spark filter after
  pruning, so a too-wide zone map only costs I/O; and the manifest records
  the exact file inventory (name + size) it described, so if the directory
  has drifted (compaction, merge, manual edits) the reader detects the
  mismatch and falls back to the full listing instead of silently missing
  rows.
- **Crash-safe manifest write**: ``commit.write_atomic`` — a reader never
  sees a half-written manifest; a crash mid-write leaves the old manifest
  (stale → inventory mismatch → full-scan fallback).
- **NULL semantics**: min/max are computed over non-NULL values (Spark
  ``min``/``max`` ignore NULLs).  A range predicate ``lo <= col <= hi``
  can never select a NULL row, so intersecting the predicate with the
  non-NULL [min, max] interval is exact even for files that contain NULLs,
  and an all-NULL file (min is NULL) is prunable outright.

Works with any layout, but pays off with a clustered one: files written
sorted (or z-ordered — ``queries/relational2.py::layout_zorder_stats`` is
the key computation) have tight disjoint ranges, so a selective predicate
prunes all but ~the matching fraction of files; an unclustered layout keeps
every file's range wide and prunes ~nothing (both measured in
``tests/test_zonemap.py``).

Metadata scaling honesty: the manifest is one JSON document, one entry per
file — O(|files|) driver-side read/write per refresh (~300 bytes/file, so
~30 MB at 10⁵ files: fine to parse, but the atomic-replace write serializes
refreshes). Past that point the metadata layer shards — implemented at the
bottom of this module (:func:`write_zonemap_sharded` /
:func:`read_pruned_sharded`: one manifest per partition directory,
directory-name pruning before any manifest opens, per-shard fallback) — or
moves to a table format that already owns file-level stats (Delta/Iceberg). Because the map here is purely
advisory — checked against the live inventory by default, never
load-bearing for correctness — it can be dropped and rebuilt at any time,
which is what makes the simple single-document design safe to start with.
The inventory check itself costs a directory LIST per read (measured
~24 µs/file locally; on object storage the LIST is the dominant metadata
round-trip) — readers on tables whose every writer goes through the
maintenance hooks can opt out with ``verify_inventory=False`` and resolve
the file list from the manifest alone, trading drift detection for zero
listings.

Reference parity: the reference (decodableco/dbt-decodable) delegates
storage layout to its managed service and exposes nothing here; this module
is part of the §2.12 extension surface (Z-order layout row).
"""

from __future__ import annotations

import base64 as _b64
import datetime as _dt
import decimal as _dec
import math as _math
import json
import os
import re as _re
from typing import Any, Sequence
from urllib.parse import unquote as _unquote, urlparse as _urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_decodable_spark import commit

MANIFEST_NAME = "_zonemap.json"

# stat value (de)serialization: JSON can't carry timestamps/dates/decimals/
# bytes natively, so values are stored tagged and revived to comparable
# Python types. (datetime subclasses date; bytes before generic — the dict
# is checked in order.)
_TAG_ENCODERS = {
    _dt.datetime: ("ts", lambda v: v.isoformat()),
    _dt.date: ("date", lambda v: v.isoformat()),
    _dec.Decimal: ("dec", str),
    bytes: ("b64", lambda v: _b64.b64encode(v).decode("ascii")),
    bytearray: ("b64", lambda v: _b64.b64encode(bytes(v)).decode("ascii")),
}


def _encode(v: Any) -> Any:
    if v is None:
        return None
    for typ, (tag, enc) in _TAG_ENCODERS.items():
        if isinstance(v, typ):
            return {"__t": tag, "v": enc(v)}
    return v


def _decode(v: Any) -> Any:
    if isinstance(v, dict) and "__t" in v:
        if v["__t"] == "ts":
            return _dt.datetime.fromisoformat(v["v"])
        if v["__t"] == "date":
            return _dt.date.fromisoformat(v["v"])
        if v["__t"] == "dec":
            return _dec.Decimal(v["v"])
        if v["__t"] == "b64":
            return _b64.b64decode(v["v"])
    return v


def _is_nan(v: Any) -> bool:
    return isinstance(v, float) and _math.isnan(v)


def _coerce_bound(bound: Any, sample: Any) -> Any:
    """Make a user-supplied predicate bound comparable with stored stats
    for PRUNING (conservative direction — may only WIDEN the predicate
    interval, never narrow it): ints vs floats compare fine natively; a
    date bound against timestamp stats (or the reverse) is widened to the
    stats' type, truncating toward the past for datetime→date (floor is
    the widening direction on both ends for pruning)."""
    if bound is None or sample is None:
        return bound
    if isinstance(sample, _dt.datetime) and isinstance(bound, _dt.date) and not isinstance(bound, _dt.datetime):
        return _dt.datetime.combine(bound, _dt.time.min)
    if (
        isinstance(sample, _dt.date)
        and not isinstance(sample, _dt.datetime)
        and isinstance(bound, _dt.datetime)
    ):
        return bound.date()
    return bound


def _coerce_cover_lo(lo: Any, sample: Any) -> Any:
    """Bound coercion for the COVERAGE test (:func:`count_pruned`), which
    needs the opposite rounding on the lower bound: a datetime lo against
    date stats must round UP to the next day when it carries a
    time-of-day, or a date equal to the truncated lo would be wrongly
    counted as covered (Spark casts that date to midnight < lo)."""
    if (
        lo is not None
        and isinstance(sample, _dt.date)
        and not isinstance(sample, _dt.datetime)
        and isinstance(lo, _dt.datetime)
    ):
        d = lo.date()
        return d if lo.time() == _dt.time.min else d + _dt.timedelta(days=1)
    return _coerce_bound(lo, sample)


def _active(predicates: Sequence[tuple[str, Any, Any]]) -> list[tuple[str, Any, Any]]:
    """Drop predicates with neither bound — they constrain nothing, and
    treating them as a range would wrongly prune all-NULL files that the
    (absent) re-applied filter keeps."""
    return [p for p in predicates if p[1] is not None or p[2] is not None]


def _list_data_files(path: str) -> list[tuple[str, int]]:
    """(name, size) for every data file directly under ``path`` (recursing
    into partition subdirectories), excluding Spark markers and our
    manifest. Hidden DIRECTORIES are pruned from the walk, not just hidden
    files — Spark's convention (`_temporary` staging from a killed job,
    `_spark_metadata`, `_delta_log`) nests NON-hidden files under hidden
    dirs, and inventorying those would stat uncommitted duplicates or feed
    JSON metadata to a parquet reader downstream. Sorted for a stable
    inventory comparison."""
    out: list[tuple[str, int]] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(root, f)
            out.append((os.path.relpath(full, path), os.path.getsize(full)))
    return sorted(out)


def _stats_pass(
    spark: SparkSession,
    base: str,
    read_paths: Sequence[str],
    stats_cols: Sequence[str],
) -> list[dict]:
    """One distributed pass over ``read_paths``: per-file row count plus
    min/max/null-count for each tracked column, keyed by the hidden
    ``_metadata.file_path`` column (exact provenance — no reliance on task
    boundaries). ``basePath`` keeps directory-partition columns
    trackable. The collect is bounded at one row per file."""
    df = spark.read.option("basePath", base).parquet(*read_paths)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in stats_cols:
        aggs += [
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
        ]
    rows = (
        df.select(F.col("_metadata.file_path").alias("__file"), *[F.col(c) for c in stats_cols])
        .groupBy("__file")
        .agg(*aggs)
        .collect()
    )
    abs_base = os.path.abspath(base)
    out = []
    for r in rows:
        # _metadata.file_path is a URI: strip the scheme AND percent-decode,
        # or any path with a URI-escapable character (space, %, #) produces
        # garbage manifest keys that crash pruned reads instead of matching
        fp = r["__file"]
        if "://" in fp or fp.startswith("file:"):
            fp = _urlparse(fp).path
        fp = _unquote(fp)
        rel = os.path.relpath(fp, abs_base)
        try:
            mtime = os.path.getmtime(os.path.join(abs_base, rel))
        except OSError:
            mtime = None
        entry = {
            "file": rel,
            "rows": r["__rows"],
            # mtime closes the same-size in-place-rewrite blind spot:
            # (name, size) identity alone cannot see a rewrite that
            # happens to preserve the byte count, and stale min/max would
            # then prune wrongly — the one failure the advisory layer
            # must never have. None (unreadable) means re-stat next time.
            "mtime": mtime,
            "cols": {},
        }
        for c in stats_cols:
            entry["cols"][c] = {
                "min": _encode(r[f"__min_{c}"]),
                "max": _encode(r[f"__max_{c}"]),
                "nulls": r[f"__nulls_{c}"],
            }
        out.append(entry)
    return sorted(out, key=lambda e: e["file"])


def compute_file_stats(
    spark: SparkSession, path: str, stats_cols: Sequence[str]
) -> list[dict]:
    """Per-file stats for every data file under ``path`` — one pass."""
    return _stats_pass(spark, path, [path], stats_cols)


def clustered(
    df: DataFrame, cluster_by: Sequence, n_files: int | None = None
) -> DataFrame:
    """Range-repartition + in-partition sort on the given expressions —
    the layout step that makes per-file min/max selective. Bare
    identifiers go through ``F.col`` (so a column named ``order`` — a
    SQL reserved word — works); any other string is parsed as an SQL
    expression (so a z-order key like ``"pmod(hash(id), 64)"`` works);
    Columns pass through. A column whose NAME itself isn't a bare
    identifier must be backticked by the caller. The single shared
    implementation behind ``write_with_zonemap``,
    ``maintenance.write_compacted`` and ``versions.publish_version``."""

    def _c(c):
        if not isinstance(c, str):
            return c
        return F.col(c) if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c) else F.expr(c)

    cols = [_c(c) for c in cluster_by]
    nf = n_files or max(df.sparkSession.sparkContext.defaultParallelism, 1)
    return df.repartitionByRange(nf, *cols).sortWithinPartitions(*cols)


def _write_manifest(path: str, manifest: dict) -> None:
    """A reader never observes a torn manifest; a crash leaves the
    previous one (stale → inventory mismatch → full-scan fallback)."""
    commit.write_atomic(os.path.join(path, MANIFEST_NAME), json.dumps(manifest))


def write_zonemap(
    spark: SparkSession, path: str, stats_cols: Sequence[str]
) -> dict:
    """Compute per-file stats for ``path`` and persist them as
    ``_zonemap.json`` next to the data. Records the file inventory the
    stats describe so readers can detect drift. Returns the manifest."""
    path = path.rstrip("/")
    manifest = {
        "version": 1,
        "stats_cols": list(stats_cols),
        "inventory": [[n, s] for n, s in _list_data_files(path)],
        "files": compute_file_stats(spark, path, stats_cols),
    }
    _write_manifest(path, manifest)
    return manifest


def refresh_zonemap_partial(
    spark: SparkSession, path: str, changed_subdirs: Sequence[str]
) -> dict | None:
    """Incrementally update ``path``'s zone map after a partial rewrite
    that replaced exactly the given partition subdirectories (e.g.
    ``["__bucket=3", "__bucket=7"]`` from
    ``streaming/changelog.merge_into_hash_partitioned``).

    Stats work is O(|touched|): entries under the changed subdirs are
    dropped, only those subdirs are re-scanned (one bounded pass), and the
    merged manifest is written atomically.  Entries for untouched files are
    carried over verbatim — their bytes did not change (the merge pins
    them by inode).  This is the manifest-update discipline a lakehouse
    table format applies on MERGE: stats stay transactionally fresh
    without re-scanning the table.

    Returns the new manifest, or ``None`` when ``path`` has no (readable)
    manifest — nothing to maintain, and writing one from a partial scan
    would claim coverage it doesn't have.  A crash between the data swap
    and this refresh leaves the old manifest whose inventory no longer
    matches → readers fall back to the full listing (correct, just
    unpruned) until the next refresh or :func:`write_zonemap`.
    """
    path = path.rstrip("/")
    mpath = os.path.join(path, MANIFEST_NAME)
    try:
        with open(mpath) as fh:
            manifest = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None
    prefixes = tuple(d.rstrip("/") + os.sep for d in changed_subdirs)
    kept = [e for e in manifest["files"] if not e["file"].startswith(prefixes)]
    live_dirs = [
        os.path.join(path, d) for d in changed_subdirs
        if os.path.isdir(os.path.join(path, d))  # a dir can vanish (all rows deleted)
    ]
    fresh = (
        _stats_pass(spark, path, live_dirs, manifest["stats_cols"])
        if live_dirs
        else []
    )
    manifest["files"] = sorted(kept + fresh, key=lambda e: e["file"])
    manifest["inventory"] = [[n, s] for n, s in _list_data_files(path)]
    _write_manifest(path, manifest)
    return manifest


def refresh_zonemap_appended(spark: SparkSession, path: str) -> dict | None:
    """Bring ``path``'s zone map up to date after APPENDS — the streaming
    sink's manifest maintenance (e.g. call it from ``foreachBatch`` after
    the batch's ``mode("append")`` write, or on a periodic trigger).

    Appends never rewrite existing bytes, so entries whose (name, size,
    mtime) still match carry over and only the manifest-unseen files are
    statted — O(|appended|) per call, one bounded pass. A file rewritten
    in place (size or mtime changed, or no mtime recorded) is re-statted
    too, so the refresh is also a general catch-up. Returns the new
    manifest, or ``None`` when there is no manifest to maintain (write one
    with :func:`write_zonemap` first).
    """
    path = path.rstrip("/")
    mpath = os.path.join(path, MANIFEST_NAME)
    try:
        with open(mpath) as fh:
            manifest = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None
    old_inv = {tuple(x) for x in manifest.get("inventory", [])}
    old_entries = {e["file"]: e for e in manifest["files"]}
    disk = _list_data_files(path)

    def _same(n: str, s: int) -> bool:
        # size alone cannot see a same-size in-place rewrite, so the mtime
        # must match too; an entry whose mtime could not be read is re-statted
        e = old_entries.get(n)
        if (n, s) not in old_inv or e is None or e.get("mtime") is None:
            return False
        try:
            return abs(os.path.getmtime(os.path.join(path, n)) - e["mtime"]) < 1e-6
        except OSError:
            return False

    unchanged = {n for n, s in disk if _same(n, s)}
    kept = [e for e in manifest["files"] if e["file"] in unchanged]
    new_files = [os.path.join(path, n) for n, s in disk if n not in unchanged]
    fresh = (
        _stats_pass(spark, path, new_files, manifest["stats_cols"])
        if new_files
        else []
    )
    manifest["files"] = sorted(kept + fresh, key=lambda e: e["file"])
    manifest["inventory"] = [[n, s] for n, s in disk]
    _write_manifest(path, manifest)
    return manifest


def write_with_zonemap(
    df: DataFrame,
    path: str,
    stats_cols: Sequence[str],
    cluster_by: Sequence[str] | None = None,
    n_files: int | None = None,
) -> dict:
    """Write ``df`` as parquet and attach a zone map over ``stats_cols``.

    ``cluster_by`` sorts rows ACROSS files on the given expressions via
    ``repartitionByRange`` + ``sortWithinPartitions`` — the step that makes
    the zone map selective (disjoint tight ranges per file). Omit it to
    keep the incoming layout (the zone map is then honest but wide). A
    z-order key expression works here unchanged: cluster on the interleaved
    key and track the ORIGINAL dims in ``stats_cols`` — each file stays
    tight on both (the §2.12 ``layout_zorder_stats`` story, measured in
    ``tests/test_zonemap.py``).
    """
    path = path.rstrip("/")
    out = df
    if cluster_by:
        out = clustered(df, cluster_by, n_files)
    elif n_files:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(path)
    return write_zonemap(df.sparkSession, path, stats_cols)


def _file_survives(entry: dict, col: str, lo: Any, hi: Any) -> bool:
    if lo is None and hi is None:
        return True  # no constraint — never prune on it (even all-NULL files)
    st = entry["cols"].get(col)
    if st is None:
        return True  # column untracked → no evidence to prune on
    mn, mx = _decode(st["min"]), _decode(st["max"])
    if mn is None or mx is None:
        # min/max NULL ⇒ every value in the file is NULL (Spark min/max
        # ignore NULLs) ⇒ no row can satisfy a range predicate
        return False
    try:
        lo = _coerce_bound(lo, mn)
        hi = _coerce_bound(hi, mx)
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    except TypeError:
        # bound type incomparable with the stored stats (e.g. a string
        # bound against int stats): the advisory layer must fail OPEN —
        # keep the file and let the real Spark filter decide
        return True
    return True


def _load_pruned(
    path: str,
    predicates: Sequence[tuple[str, Any, Any]],
    verify_inventory: bool = True,
) -> tuple[dict, dict | None]:
    """Shared core of the pruning readers: one manifest parse, one
    inventory check, one survivor walk. Returns ``(info, manifest)`` —
    ``manifest`` is ``None`` on any fallback.

    ``verify_inventory=False`` skips the directory listing that powers
    the drift check — the LIST round-trip is itself the dominant
    metadata cost on object storage, and on a table whose every writer
    goes through the maintenance hooks (merge refresh, append refresh,
    compaction rebuild — the single-writer contract) the manifest is
    fresh by construction. The trade is explicit: with verification off,
    a writer that bypassed the hooks yields a stale file list (missing
    files then error at read; extra files are silently unseen). Default
    stays on: fail-open beats fast-but-maybe-wrong unless the caller
    owns the write discipline."""
    path = path.rstrip("/")
    predicates = _active(predicates)
    mpath = os.path.join(path, MANIFEST_NAME)
    inventory = _list_data_files(path) if verify_inventory else None
    try:
        with open(mpath) as fh:
            manifest = json.load(fh)
    except (OSError, json.JSONDecodeError) as e:
        inv = inventory if inventory is not None else _list_data_files(path)
        all_files = [os.path.join(path, n) for n, _s in inv]
        return {
            "files": all_files,
            "total": len(all_files),
            "pruned": 0,
            "fallback": f"manifest unreadable: {e.__class__.__name__}",
        }, None
    if inventory is not None:
        all_files = [os.path.join(path, n) for n, _s in inventory]
        if [tuple(x) for x in manifest.get("inventory", [])] != inventory:
            return {
                "files": all_files,
                "total": len(all_files),
                "pruned": 0,
                "fallback": "inventory drift: directory changed since zonemap write",
            }, None
    else:
        all_files = [
            os.path.join(path, n) for n, _s in manifest.get("inventory", [])
        ]
    keep = [
        e["file"]
        for e in manifest["files"]
        if all(_file_survives(e, c, lo, hi) for c, lo, hi in predicates)
    ]
    return {
        "files": [os.path.join(path, f) for f in keep],
        "total": len(all_files),
        "pruned": len(all_files) - len(keep),
        "fallback": None,
    }, manifest


def prune_files(
    path: str,
    predicates: Sequence[tuple[str, Any, Any]],
    verify_inventory: bool = True,
) -> dict:
    """Resolve the file list for a conjunction of range predicates
    ``(col, lo, hi)`` (either bound may be ``None`` for one-sided; equality
    is ``(col, v, v)``; a predicate with NEITHER bound constrains nothing
    and is ignored) against ``path``'s zone map.

    Returns ``{"files": [abs paths], "total": N, "pruned": M, "fallback":
    reason|None}``. Fallback to the full listing — never an error — when
    the manifest is absent, unreadable, or describes a different file
    inventory than the directory currently holds (a compaction/merge wrote
    data without refreshing the map): the zone map is an optimization, not
    a correctness gate. Incomparable bound types likewise keep files
    rather than raising.
    """
    return _load_pruned(path, predicates, verify_inventory)[0]


def count_pruned(
    spark: SparkSession,
    path: str,
    predicates: Sequence[tuple[str, Any, Any]],
    verify_inventory: bool = True,
) -> tuple[int, dict]:
    """Predicate count with metadata short-circuiting: a surviving file
    whose tracked interval lies ENTIRELY inside every predicate range (and
    has zero NULLs in each predicate column — NULL rows never satisfy a
    range predicate, and per-column null counts can't be intersected
    across columns) contributes its exact row count straight from the
    manifest; only the boundary files — those the predicate cuts through —
    are scanned.  On a clustered layout a range predicate has at most two
    boundary files regardless of table size, so the count is O(manifest)
    + two file scans at 100 TB.  Exactness is unconditional: anything not
    provably fully-covered is scanned with the real filter, and manifest
    fallback (missing/drifted) degrades to a plain filtered count.

    Returns ``(count, info)`` — ``info`` extends :func:`prune_files`'
    report with ``files_metadata_only`` and ``files_scanned``.
    """
    predicates = _active(predicates)
    info, manifest = _load_pruned(path, predicates, verify_inventory)
    if manifest is None:
        df = spark.read.parquet(path.rstrip("/"))
        for c, lo, hi in predicates:
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        n = df.count()
        info.update({"files_metadata_only": 0, "files_scanned": info["total"]})
        return n, info

    base = path.rstrip("/")
    by_file = {e["file"]: e for e in manifest["files"]}

    def fully_covered(entry: dict) -> bool:
        # anything not PROVABLY covered is scanned: NaN stats compare
        # False against every bound (so `mx > hi` can't be trusted),
        # datetime lower bounds against date stats must round UP, and an
        # incomparable bound type means no proof at all
        for c, lo, hi in predicates:
            if _is_nan(lo) or _is_nan(hi):
                return False  # NaN bounds: Spark's ordering decides — scan
            st = entry["cols"].get(c)
            if st is None or st["nulls"] != 0:
                return False
            mn, mx = _decode(st["min"]), _decode(st["max"])
            if mn is None or _is_nan(mn) or _is_nan(mx):
                return False
            try:
                if lo is not None and mn < _coerce_cover_lo(lo, mn):
                    return False
                if hi is not None and mx > _coerce_bound(hi, mx):
                    return False
            except TypeError:
                return False
        return True

    meta_rows = 0
    to_scan: list[str] = []
    for f in info["files"]:
        e = by_file[os.path.relpath(f, base)]
        if fully_covered(e):
            meta_rows += e["rows"]
        else:
            to_scan.append(f)
    n = meta_rows
    if to_scan:
        df = spark.read.option("basePath", base).parquet(*to_scan)
        for c, lo, hi in predicates:
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        n += df.count()
    info.update(
        {
            "files_metadata_only": len(info["files"]) - len(to_scan),
            "files_scanned": len(to_scan),
        }
    )
    return n, info


def minmax_from_zonemap(path: str, col: str) -> tuple[Any, Any] | None:
    """Global (min, max) of a tracked column straight from the manifest —
    zero data scanned (min of file mins / max of file maxes is exact:
    NULLs are ignored by min/max on both levels). Returns ``None`` when
    the manifest is missing/drifted/doesn't track ``col``, or every file
    is all-NULL — callers fall back to a real aggregation."""
    path = path.rstrip("/")
    inventory = _list_data_files(path)
    try:
        with open(os.path.join(path, MANIFEST_NAME)) as fh:
            manifest = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None
    if [tuple(x) for x in manifest.get("inventory", [])] != inventory:
        return None
    if col not in manifest.get("stats_cols", []):
        return None
    mins = [
        _decode(e["cols"][col]["min"])
        for e in manifest["files"]
        if _decode(e["cols"][col]["min"]) is not None
    ]
    maxes = [
        _decode(e["cols"][col]["max"])
        for e in manifest["files"]
        if _decode(e["cols"][col]["max"]) is not None
    ]
    if not mins:
        return None
    # Spark-consistent NaN handling (NaN sorts GREATEST): python min/max
    # over a list containing NaN are order-dependent (NaN<x and x<NaN are
    # both False), so an all-NaN file's stored stats would flip the
    # result with the iteration order
    non_nan_mins = [v for v in mins if not _is_nan(v)]
    lo = min(non_nan_mins) if non_nan_mins else float("nan")
    hi = float("nan") if any(_is_nan(v) for v in maxes) else max(maxes)
    return lo, hi


def prune_for_join(
    spark: SparkSession,
    fact_path: str,
    dim: DataFrame,
    dim_key: str,
    fact_key: str | None = None,
    max_distinct: int = 10_000,
    verify_inventory: bool = True,
) -> tuple[DataFrame, dict]:
    """Dynamic FILE skipping for a join — the zone-map analogue of Spark's
    dynamic partition pruning: before joining a big zone-mapped fact table
    against a selective dim side, derive the dim's key envelope and drop
    every fact file whose ``fact_key`` range can't contain any dim key.

    Two modes, picked by the dim's distinct-key count (one small agg on the
    dim side first — its result is a single row):

    - ≤ ``max_distinct`` distinct keys: collect them (bounded by contract,
      same budget class as a broadcast join's build side) and keep a file
      iff at least one key stabs its [min, max] interval — exact at file
      granularity even for sparse key sets that span a wide range;
    - larger: fall back to the [min(dim), max(dim)] envelope — two values,
      no per-key work, still correct (envelope ⊇ keys).

    SAFETY — this is a *semi-join reduction*, valid only where a fact row
    with no dim match contributes nothing: INNER and LEFT-SEMI joins with
    the fact on the pruned side. An outer join that must preserve
    unmatched fact rows must not use it (documented contract, not
    detectable here — the caller owns the join type).

    Returns ``(pruned_fact_df, info)`` — ``info`` adds ``"mode"``
    (``"stab"``/``"envelope"``) to :func:`prune_files`' report.  All the
    fail-open behavior of :func:`read_pruned` applies (no manifest /
    drift → full listing).  An all-NULL or empty dim key set yields an
    empty fact (inner-join identity: NULL keys never match).
    """
    fact_key = fact_key or dim_key
    row = dim.agg(
        F.min(dim_key).alias("lo"),
        F.max(dim_key).alias("hi"),
        F.count_distinct(F.col(dim_key)).alias("n"),
    ).collect()[0]
    if row["n"] == 0:
        df = spark.read.parquet(fact_path.rstrip("/")).limit(0)
        if verify_inventory:
            total = len(_list_data_files(fact_path.rstrip("/")))
        else:
            try:
                with open(
                    os.path.join(fact_path.rstrip("/"), MANIFEST_NAME)
                ) as fh:
                    total = len(json.load(fh).get("inventory", []))
            except (OSError, json.JSONDecodeError):
                total = len(_list_data_files(fact_path.rstrip("/")))
        return df, {
            "files": [],
            "total": total,
            "pruned": total,
            "fallback": None,
            "mode": "empty-dim",
        }
    if row["n"] <= max_distinct:
        keys = sorted(
            r[0] for r in dim.select(dim_key).distinct().dropna().collect()
        )
        # NaN keys legitimately match NaN fact rows (Spark joins treat
        # NaN = NaN as true) but never reach `keys` — DataFrame.dropna
        # removes NaN from double columns, not just NULL — and would
        # poison the sorted/bisect stab anyway. Detect them from the
        # aggregate instead (Spark max is NaN iff any key is NaN) and
        # keep the envelope result unrefined (fail open; the envelope is
        # NaN-safe: a NaN hi never prunes anything).
        has_nan_key = _is_nan(row["lo"]) or _is_nan(row["hi"])
        info, manifest = _load_pruned(
            fact_path, [(fact_key, row["lo"], row["hi"])], verify_inventory
        )
        if manifest is not None and not has_nan_key:
            # refine the envelope survivors: keep a file iff some dim key
            # stabs its interval (bisect over the sorted key list)
            import bisect

            by_file = {e["file"]: e for e in manifest["files"]}
            base = fact_path.rstrip("/")
            kept = []
            for f in info["files"]:
                st = by_file[os.path.relpath(f, base)]["cols"].get(fact_key)
                if st is None:
                    kept.append(f)
                    continue
                mn, mx = _decode(st["min"]), _decode(st["max"])
                if mn is None:
                    continue
                try:
                    i = bisect.bisect_left(keys, _coerce_bound(mn, keys[0]))
                    # a NaN file-max means the file CONTAINS NaN (Spark
                    # sorts NaN greatest): its interval is open above —
                    # any key ≥ mn stabs it
                    if i < len(keys) and (
                        _is_nan(mx) or keys[i] <= _coerce_bound(mx, keys[0])
                    ):
                        kept.append(f)
                except TypeError:
                    kept.append(f)  # incomparable key type: fail open
            info["pruned"] = info["total"] - len(kept)
            info["files"] = kept
        info["mode"] = "stab"
    else:
        info = prune_files(
            fact_path, [(fact_key, row["lo"], row["hi"])], verify_inventory
        )
        info["mode"] = "envelope"
    if not info["files"]:
        df = spark.read.parquet(fact_path.rstrip("/")).limit(0)
    else:
        df = spark.read.option("basePath", fact_path.rstrip("/")).parquet(*info["files"])
    return df, info


def read_pruned(
    spark: SparkSession,
    path: str,
    predicates: Sequence[tuple[str, Any, Any]],
    verify_inventory: bool = True,
) -> tuple[DataFrame, dict]:
    """Read ``path`` with zone-map file skipping for a conjunction of range
    predicates, then RE-APPLY the predicates as real Spark filters (the map
    prunes at file granularity; rows inside a surviving file still need the
    filter — and parquet row-group stats then prune below file level for
    free, since the filter reaches the scan as a pushed predicate).

    Returns ``(df, info)`` where ``info`` is :func:`prune_files`' report.
    An empty survivor list yields an empty DataFrame with the table's real
    schema (schema read from the full path, no data scanned)."""
    info = prune_files(path, predicates, verify_inventory)
    if not info["files"]:
        df = spark.read.parquet(path.rstrip("/")).limit(0)
    else:
        # basePath keeps directory-partition columns (`k=v` path segments)
        # inferable when individual leaf files are listed explicitly —
        # without it a pruned read of a partitioned layout would silently
        # drop the partition column from the schema
        df = spark.read.option("basePath", path.rstrip("/")).parquet(*info["files"])
    for c, lo, hi in predicates:
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) <= F.lit(hi))
    return df, info


# ---------------------------------------------------------------------------
# Bloom sidecar: per-file membership filters for EQUALITY pruning
# ---------------------------------------------------------------------------
#
# Min/max intervals prune RANGE predicates, and only pay off on the
# clustered column(s). The complementary lookup — "which files could hold
# doc_id = X?" in a table clustered by TIME — has every file's [min, max]
# spanning nearly the whole id domain, so the interval map keeps all of
# them. A per-file Bloom filter answers the equality question directly:
# "definitely not in this file" prunes the file; "maybe" keeps it and the
# re-applied Spark filter (plus parquet's own footer-level bloom/dictionary
# stats) decides below file level. Same relationship as the interval map:
# parquet bloom filters apply AFTER a footer is opened; this one prunes
# BEFORE the listing is handed to Spark — at 10⁵ files on object storage
# that is the difference between k GETs and 10⁵ GETs for a point lookup.
#
# Sizing honesty (the classic bloom trade): ~1% false-positive rate needs
# m ≈ 10 bits per distinct value per file, i.e. a 100k-distinct-id file
# wants m = 2^20 bits = 128 KB packed — per file. That is why bloom
# sidecars are OPT-IN per column and why the default m is modest; at the
# manifest's documented 10⁵-file ceiling the sidecar multiplies manifest
# size long before the interval map does, and the same per-partition
# sharding answer applies. A too-small m degrades GRACEFULLY: fpp rises
# toward 1 and the sidecar keeps files it could have pruned — never drops
# one it shouldn't (correctness rides on the re-applied filter anyway).

_BLOOM_WORD_BITS = 64


def _bloom_positions(key, j_count: int, m_bits: int):
    """k deterministic bit positions for a key column — md5-derived like
    operators/bloom.py::_position (15 hex chars < 2^63, so the conv cannot
    overflow), over the value's STRING rendering. Keep bloom columns
    id-like (integer/string): float renderings are engine-ambiguous."""
    cols = []
    for j in range(j_count):
        h = F.md5(F.concat(F.lit(f"{j}#"), key.cast("string")))
        cols.append(F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % m_bits)
    return F.array(*cols)


def _bloom_positions_py(value: Any, j_count: int, m_bits: int) -> list[int]:
    """Driver-side twin of :func:`_bloom_positions` for probe values —
    must render values exactly as Spark's string cast does (int and str
    round-trip identically; that's the supported key domain)."""
    import hashlib

    out = []
    for j in range(j_count):
        h = hashlib.md5(f"{j}#{value}".encode("utf-8")).hexdigest()
        out.append(int(h[:15], 16) % m_bits)
    return out


def _pack_words(words: dict[int, int], n_words: int) -> str:
    """Dense little-endian uint64 packing of a sparse word map → base64."""
    import struct

    dense = [(words.get(i, 0)) & 0xFFFFFFFFFFFFFFFF for i in range(n_words)]
    return _b64.b64encode(struct.pack(f"<{n_words}Q", *dense)).decode("ascii")


def _unpack_words(packed: str, n_words: int) -> list[int]:
    import struct

    return list(struct.unpack(f"<{n_words}Q", _b64.b64decode(packed)))


def _bloom_pass(
    spark: SparkSession,
    base: str,
    read_paths: Sequence[str],
    col: str,
    m_bits: int,
    k: int,
) -> dict[str, str]:
    """One distributed pass: per-file packed bloom over ``col``'s non-NULL
    values. Explode k positions per row, fold to (file, word) with
    ``bit_or`` — partial aggregation ORs map-side, so the shuffle carries
    at most ``files × m/64`` rows no matter how many rows were scanned;
    the collect is bounded the same way."""
    df = spark.read.option("basePath", base).parquet(*read_paths)
    rows = (
        df.filter(F.col(col).isNotNull())
        .select(
            F.col("_metadata.file_path").alias("__file"),
            F.explode(_bloom_positions(F.col(col), k, m_bits)).alias("pos"),
        )
        .groupBy(
            "__file",
            F.floor(F.col("pos") / _BLOOM_WORD_BITS).alias("w"),
        )
        .agg(
            F.bit_or(
                F.expr(f"shiftleft(1L, CAST(pos % {_BLOOM_WORD_BITS} AS INT))")
            ).alias("bits")
        )
        .collect()
    )
    abs_base = os.path.abspath(base)
    per_file: dict[str, dict[int, int]] = {}
    for r in rows:
        fp = r["__file"]
        if "://" in fp or fp.startswith("file:"):
            fp = _urlparse(fp).path
        fp = _unquote(fp)
        rel = os.path.relpath(fp, abs_base)
        per_file.setdefault(rel, {})[int(r["w"])] = int(r["bits"])
    n_words = m_bits // _BLOOM_WORD_BITS
    return {f: _pack_words(w, n_words) for f, w in per_file.items()}


def add_bloom_sidecar(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = 1 << 15,
    k: int = 4,
    recompute: bool = False,
) -> dict:
    """Attach (or incrementally extend) a per-file Bloom sidecar over
    ``col`` to ``path``'s zone-map manifest.

    Blooms live INSIDE each file's manifest entry (``entry["bloom"][col]``),
    so the existing maintenance hooks carry them for free: a partial/append
    refresh keeps untouched entries verbatim — bloom included — and
    re-statted entries simply come back WITHOUT a bloom, which every probe
    treats as "keep the file" (fail-open). Re-running this function after
    maintenance is the catch-up: by default it stats ONLY entries lacking a
    bloom for ``col`` — O(|new files|), one bounded distributed pass —
    making it idempotent and cheap to call from the same ``foreachBatch``
    hook as :func:`refresh_zonemap_appended`. ``recompute=True`` rebuilds
    every file's bloom (after changing ``m_bits``/``k``).

    A scanned file with zero non-NULL values gets the all-zero bloom —
    every equality probe prunes it, which is exact (``col = v`` never
    matches NULL). Raises when ``path`` has no manifest: the sidecar
    extends the zone map, it doesn't replace it (write_zonemap first).

    FLOAT/DOUBLE key columns are REFUSED outright: the bloom hashes the
    value's string rendering, and float renderings diverge between
    Spark's cast ("1.5E-8") and a driver-side probe ("1.5e-08") — a
    divergence here is a false NEGATIVE, i.e. a pruned file that held
    the row, the one failure the advisory layer must never allow.
    Integer and string keys render identically by construction
    (property-pinned in tests); date/decimal/timestamp keys work when
    the caller probes with the exact same rendering, but id-like
    integer/string columns are the intended domain.
    """
    path = path.rstrip("/")
    probe_schema = spark.read.parquet(path).select(col).schema
    dtype = probe_schema.fields[0].dataType.simpleString()
    if dtype in ("float", "double", "boolean"):
        # boolean renders 'true' in Spark's string cast but 'True' from a
        # python probe — the same silent-false-negative class as floats
        raise ValueError(
            f"bloom sidecar over {col!r} refused: {dtype} keys hash their "
            "string rendering, which differs between Spark and a probe — "
            "a rendering mismatch silently prunes files that hold the "
            "value. Use an integer/string key."
        )
    mpath = os.path.join(path, MANIFEST_NAME)
    try:
        with open(mpath) as fh:
            manifest = json.load(fh)
    except (OSError, json.JSONDecodeError) as e:
        raise ValueError(
            f"no readable zone-map manifest at {path} — the bloom sidecar "
            "extends an existing zone map (call write_zonemap first)"
        ) from e
    cfg = manifest.setdefault("bloom_cols", {})
    prior = cfg.get(col)
    if prior is not None and not recompute and (
        prior["m_bits"] != m_bits or prior["k"] != k
    ):
        raise ValueError(
            f"bloom over {col!r} already exists with m_bits="
            f"{prior['m_bits']}, k={prior['k']}; pass recompute=True to "
            "rebuild with the new parameters"
        )
    cfg[col] = {"m_bits": m_bits, "k": k}
    todo = [
        e for e in manifest["files"]
        if recompute or col not in e.get("bloom", {})
    ]
    if todo:
        packed = _bloom_pass(
            spark, path, [os.path.join(path, e["file"]) for e in todo],
            col, m_bits, k,
        )
        zero = _pack_words({}, m_bits // _BLOOM_WORD_BITS)
        for e in todo:
            e.setdefault("bloom", {})[col] = packed.get(e["file"], zero)
    _write_manifest(path, manifest)
    return manifest


def _bloom_file_may_contain(
    entry: dict, col: str, probes: Sequence[list[int]], m_bits: int
) -> bool:
    """True unless the file's bloom proves every probed value absent.
    A missing bloom (file re-statted since the sidecar was built, or the
    column was never bloomed) keeps the file — advisory, fail-open."""
    packed = entry.get("bloom", {}).get(col)
    if packed is None:
        return True
    try:
        words = _unpack_words(packed, m_bits // _BLOOM_WORD_BITS)
    except Exception:
        return True  # corrupt sidecar entry: fail open
    for positions in probes:
        if all(
            (words[p // _BLOOM_WORD_BITS] >> (p % _BLOOM_WORD_BITS)) & 1
            for p in positions
        ):
            return True  # this value may be present
    return False


def prune_files_eq(
    path: str,
    col: str,
    values: Sequence[Any],
    verify_inventory: bool = True,
) -> dict:
    """Resolve the file list for an equality/IN predicate
    ``col IN (values)`` against ``path``'s Bloom sidecar. Same report
    shape and same fallback ladder as :func:`prune_files`: full listing
    when the manifest is missing/drifted or ``col`` has no bloom — the
    sidecar is advisory, never load-bearing (callers re-apply the real
    filter). NULL probe values are dropped (``col = NULL`` matches
    nothing); an all-NULL probe list keeps zero files, which is exact.
    """
    info, manifest = _load_pruned(path, [], verify_inventory)
    if manifest is None:
        return info
    cfg = manifest.get("bloom_cols", {}).get(col)
    if cfg is None:
        info["fallback"] = f"no bloom sidecar over {col!r}"
        return info
    m_bits, k = cfg["m_bits"], cfg["k"]
    probes = [
        _bloom_positions_py(v, k, m_bits) for v in values if v is not None
    ]
    keep = [
        e["file"]
        for e in manifest["files"]
        if probes and _bloom_file_may_contain(e, col, probes, m_bits)
    ]
    total = info["total"]
    return {
        "files": [os.path.join(path.rstrip("/"), f) for f in keep],
        "total": total,
        "pruned": total - len(keep),
        "fallback": None,
    }


def read_pruned_eq(
    spark: SparkSession,
    path: str,
    col: str,
    values: Sequence[Any],
    verify_inventory: bool = True,
) -> tuple[DataFrame, dict]:
    """Point-lookup read: Bloom-prune the file list for ``col IN
    (values)``, then RE-APPLY the predicate as a real Spark filter — a
    bloom false positive costs one extra file scan, never a wrong row.
    Returns ``(df, info)`` like :func:`read_pruned`."""
    info = prune_files_eq(path, col, values, verify_inventory)
    if not info["files"]:
        df = spark.read.parquet(path.rstrip("/")).limit(0)
    else:
        df = spark.read.option("basePath", path.rstrip("/")).parquet(
            *info["files"]
        )
    non_null = [v for v in values if v is not None]
    df = df.filter(
        F.col(col).isin(non_null) if non_null else F.lit(False)
    )
    return df, info


# ---------------------------------------------------------------------------
# Sharded manifests: one zone map PER partition directory
# ---------------------------------------------------------------------------
#
# The single-document manifest's ceiling is explicit above: ~10⁵ files
# (~30 MB JSON, ~2.4 s driver walk, one atomic-replace serializing every
# refresh). The sharding answer the docstring promises is implemented here,
# and it is deliberately THIN: a shard is nothing but a normal zone map
# whose root is the partition directory — every reader, refresher, and
# bloom function above works verbatim on a shard path. What this layer adds
# is (1) a writer that splits ONE global stats pass into per-directory
# manifests, (2) a reader that prunes whole shards from the DIRECTORY NAME
# (`day=2024-01-01`) before any manifest is even opened, and (3) per-shard
# fallback: one drifted shard degrades to a full listing of THAT directory
# while its siblings keep pruning — the blast radius of staleness shrinks
# from the table to the partition.
#
# Metadata cost model: prune walk = O(#shards) name comparisons +
# O(files in surviving shards) manifest entries; refresh touches only the
# written shard's manifest, so concurrent maintenance of DIFFERENT
# partitions no longer serializes on one file. At 10⁷ files / 10³
# partitions each shard is back at the comfortable 10⁴-entry size.


def write_zonemap_sharded(
    spark: SparkSession, path: str, stats_cols: Sequence[str]
) -> dict[str, int]:
    """Write one ``_zonemap.json`` into each first-level ``col=value``
    partition directory of ``path``. Stats come from ONE distributed pass
    over the whole table (not a job per partition); only the manifest
    split is per-directory. Returns ``{dirname: n_files}``.

    Requires a Hive-layout table: every data file under a ``col=value``
    first-level directory (deeper nesting stays inside its first-level
    shard). Data files at the table root are refused — they would belong
    to no shard and silently escape every map."""
    path = path.rstrip("/")
    shards = [
        d
        for d in sorted(os.listdir(path))
        if os.path.isdir(os.path.join(path, d)) and "=" in d
    ]
    if not shards:
        raise ValueError(
            f"{path} has no col=value partition directories — use "
            "write_zonemap for an unpartitioned table"
        )
    stray = [
        n
        for n, _s in _list_data_files(path)
        # a root-level file OR anything nested under a non-Hive first-level
        # directory: both belong to no shard, and the per-shard manifest
        # loop below would silently drop their statted entries
        if os.sep not in n or "=" not in n.split(os.sep, 1)[0]
    ]
    if stray:
        raise ValueError(
            f"data files outside any partition shard of {path} "
            f"({stray[:3]}…); a sharded zone map would silently never "
            "describe them"
        )
    entries = _stats_pass(spark, path, [path], stats_cols)
    by_shard: dict[str, list[dict]] = {}
    for e in entries:
        shard, rel = e["file"].split(os.sep, 1)
        by_shard.setdefault(shard, []).append({**e, "file": rel})
    out: dict[str, int] = {}
    for d in shards:
        sp = os.path.join(path, d)
        manifest = {
            "version": 1,
            "stats_cols": list(stats_cols),
            "inventory": [[n, s] for n, s in _list_data_files(sp)],
            "files": sorted(
                by_shard.get(d, []), key=lambda e: e["file"]
            ),
        }
        _write_manifest(sp, manifest)
        out[d] = len(manifest["files"])
    return out


def _shard_survives(
    dirname: str, predicates: Sequence[tuple[str, Any, Any]]
) -> bool:
    """Directory-name pruning: parse ``col=value`` and intersect with any
    predicate on that column — BEFORE the shard's manifest is opened.
    Hive-escaped values are unescaped first (the expire_partitions
    lesson); ``__HIVE_DEFAULT_PARTITION__`` is NULL, which no range
    predicate can select. Unparseable values fail OPEN (keep the shard —
    its manifest and the re-applied filter still stand below)."""
    if "=" not in dirname:
        return True
    col, raw = dirname.split("=", 1)
    raw = _unquote(raw)
    for c, lo, hi in predicates:
        if c != col:
            continue
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return False  # partition value is NULL: no range match
        sample = lo if lo is not None else hi
        try:
            if isinstance(sample, bool) or sample is None:
                value: Any = raw
            elif isinstance(sample, int):
                value = int(raw)
            elif isinstance(sample, float):
                value = float(raw)
            elif isinstance(sample, _dt.datetime):
                value = _dt.datetime.fromisoformat(raw.replace(" ", "T"))
            elif isinstance(sample, _dt.date):
                value = _dt.date.fromisoformat(raw)
            elif isinstance(sample, _dec.Decimal):
                value = _dec.Decimal(raw)
            else:
                value = raw
            if lo is not None and value < lo:
                return False
            if hi is not None and value > hi:
                return False
        except (ValueError, TypeError, _dec.InvalidOperation):
            return True  # can't type the dir value: advisory layer keeps it
    return True


def prune_files_sharded(
    path: str,
    predicates: Sequence[tuple[str, Any, Any]],
    verify_inventory: bool = True,
) -> dict:
    """Two-level pruning for a sharded zone map: drop whole partition
    directories from their NAMES, then interval-prune inside each
    surviving shard via its own manifest (:func:`_load_pruned` verbatim —
    a shard IS a zone map). Fallback is per-shard: a missing/drifted
    shard manifest degrades to that directory's full listing while its
    siblings keep pruning; ``fallback`` reports the degraded shards.

    Report shape matches :func:`prune_files`, with ``total``/``pruned``
    counting FILES across surviving shards plus ``shards_total`` /
    ``shards_pruned`` for the directory level (pruned shards' files are
    never listed — that's the point — so they appear in the shard counts,
    not the file counts)."""
    path = path.rstrip("/")
    predicates = _active(predicates)
    shards = []
    stray_roots: list[str] = []
    for d in sorted(os.listdir(path)):
        if d.startswith(("_", ".")):
            # Spark-convention hidden entries (_spark_metadata, _delta_log,
            # _temporary staging, our manifests) are metadata, not stray
            # DATA — reading them as parquet would crash or ingest garbage
            continue
        full = os.path.join(path, d)
        if os.path.isdir(full):
            (shards if "=" in d else stray_roots).append(d)
        else:
            stray_roots.append(d)
    kept_shards = [d for d in shards if _shard_survives(d, predicates)]
    files: list[str] = []
    total = pruned = 0
    degraded: list[str] = []
    if stray_roots and verify_inventory:
        # data that belongs to NO shard (a root-level file or a non-Hive
        # subdirectory written after the sharded manifests): no manifest
        # describes it, so the advisory contract demands it be read
        # UNPRUNED — silently missing it is the one failure mode this
        # layer must never have. With verification off the caller owns
        # the write discipline and the top-level listing is skipped.
        for d in stray_roots:
            full = os.path.join(path, d)
            if os.path.isdir(full):
                files.extend(
                    os.path.join(full, n) for n, _s in _list_data_files(full)
                )
            else:
                files.append(full)
        total += len(files)
        degraded.append(
            f"unsharded data at table root ({', '.join(stray_roots[:3])}"
            f"{'…' if len(stray_roots) > 3 else ''}): read unpruned"
        )
    for d in kept_shards:
        info, _m = _load_pruned(
            os.path.join(path, d), predicates, verify_inventory
        )
        files.extend(info["files"])
        total += info["total"]
        pruned += info["pruned"]
        if info["fallback"]:
            degraded.append(f"{d}: {info['fallback']}")
    return {
        "files": files,
        "total": total,
        "pruned": pruned,
        "shards_total": len(shards),
        "shards_pruned": len(shards) - len(kept_shards),
        "fallback": "; ".join(degraded) or None,
    }


def read_pruned_sharded(
    spark: SparkSession,
    path: str,
    predicates: Sequence[tuple[str, Any, Any]],
    verify_inventory: bool = True,
) -> tuple[DataFrame, dict]:
    """Read a sharded-zone-map table with directory + file pruning, then
    RE-APPLY the predicates as real Spark filters (the partition column
    comes back via ``basePath``, so a predicate on it re-applies too).
    Same advisory contract as :func:`read_pruned`."""
    info = prune_files_sharded(path, predicates, verify_inventory)
    if not info["files"]:
        df = spark.read.parquet(path.rstrip("/")).limit(0)
    else:
        df = spark.read.option("basePath", path.rstrip("/")).parquet(
            *info["files"]
        )
    for c, lo, hi in _active(predicates):
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) <= F.lit(hi))
    return df, info
