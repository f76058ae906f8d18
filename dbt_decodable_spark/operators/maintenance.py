"""Table maintenance: small-file compaction (SURVEY §2.1/§2.11 adjacent).

Streaming sinks and incremental ingests accumulate many small files; scan
throughput at 100 TB dies on file-open overhead and tiny row groups
(footer-per-file, no effective column-chunk runs). Compaction rewrites a
table's files at a target size.

Spark-first shape: `maxRecordsPerFile` bounds file size WITHOUT a count
pass or an exact-width repartition — the writer rolls files as it streams.
The optional `target_files` repartition is for when the input's partition
count itself is pathological (thousands of near-empty tasks); a plain
`repartition(n)` round-robin shuffle then rebalances skew in one pass.
Partitioned tables compact per partition directory (pass the subdir), so
compaction parallelizes across partitions and never touches cold ones.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from dbt_decodable_spark import commit


def write_compacted(
    df: DataFrame,
    path: str,
    max_records_per_file: int,
    target_files: int | None = None,
    fmt: str = "parquet",
    cluster_by: list | None = None,
) -> None:
    """Write ``df`` to ``path`` with files bounded at
    ``max_records_per_file`` rows; optionally rebalance to
    ``target_files`` partitions first (one round-robin shuffle).
    ``cluster_by`` replaces the round-robin rebalance with a
    range-repartition + in-partition sort on the given expressions —
    layout-establishing compaction, so per-file min/max stay tight (the
    zone-map prerequisite; a z-order key expression works unchanged)."""
    if cluster_by:
        from dbt_decodable_spark.operators.zonemap import clustered

        out = clustered(df, cluster_by, target_files)
    else:
        out = df.repartition(target_files) if target_files else df
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .format(fmt)
        .save(path)
    )


def compact_path(
    spark: SparkSession,
    path: str,
    max_records_per_file: int,
    target_files: int | None = None,
    fmt: str = "parquet",
    cluster_by: list | None = None,
) -> None:
    """Rewrite the files under ``path`` compacted, crash-safely:
    read → write to a ``<path>.__compact_tmp__`` sibling → verify the row
    count survived the rewrite → swap directories (keeping the old data as
    ``.__compact_old__`` until the swap completes, then delete it). A crash
    before the swap leaves the original untouched; a crash between the two
    renames leaves the old directory recoverable on disk — and the next
    invocation restores it automatically before doing anything else. No
    ``localCheckpoint`` involved — the original files are never deleted
    while any job still needs them (executor loss or block eviction can
    discard checkpoint blocks, which would have destroyed data in the
    old overwrite-in-place form)."""
    path = path.rstrip("/")
    tmp = path + ".__compact_tmp__"
    old = path + ".__compact_old__"
    # crash recovery FIRST: if a prior run died between the two renames,
    # `path` is gone and `old` holds the only full copy — restore it before
    # any cleanup (a blind rmtree of the leftovers here would destroy every
    # surviving copy of the table)
    commit.restore(old, path)
    shutil.rmtree(tmp, ignore_errors=True)
    # a zone map (operators/zonemap.py) lives INSIDE the directory being
    # swapped out — without this it would vanish silently with the old
    # layout. Capture its tracked columns now and rebuild it after the
    # swap (full rebuild: compaction rewrites every file). A crash before
    # the rebuild leaves no manifest → readers fall back to full listings
    # (correct, just unpruned) until the next compaction or write_zonemap.
    import json as _json

    from dbt_decodable_spark.operators.zonemap import MANIFEST_NAME

    stats_cols: list | None = None
    mpath = os.path.join(path, MANIFEST_NAME)
    if os.path.exists(mpath):
        try:
            with open(mpath) as fh:
                stats_cols = _json.load(fh)["stats_cols"]
        except (OSError, _json.JSONDecodeError, KeyError):
            stats_cols = None
    df = spark.read.format(fmt).load(path)
    n_before = df.count()
    write_compacted(df, tmp, max_records_per_file, target_files, fmt, cluster_by)
    n_after = spark.read.format(fmt).load(tmp).count()
    if n_after != n_before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction row count changed ({n_before} -> {n_after}); "
            f"aborted, original untouched at {path}"
        )
    commit.swap_dir(tmp, path, old)
    if stats_cols is not None and fmt == "parquet":
        from dbt_decodable_spark.operators.zonemap import write_zonemap

        write_zonemap(spark, path, stats_cols)


def expire_partitions(
    spark: SparkSession,
    path: str,
    keep,
) -> list[str]:
    """Partition-level retention (TTL): delete every ``col=value``
    partition directory whose VALUE string fails ``keep(value)`` — the
    date-retention sweep of a 100 TB time-partitioned table, executed at
    directory granularity so expiry cost is O(|expired dirs|), zero
    scan, and trivially crash-safe (directory deletes are idempotent; a
    crash mid-sweep just leaves some expired partitions for the next
    run — the retained set is never touched).

    ``keep`` receives the UNESCAPED partition-value string (Hive escapes
    special characters in directory names — ``10%3A45%3A00`` is decoded
    back to ``10:45:00`` before the policy sees it, or a lexicographic
    policy would mis-compare ``%`` against the real character and delete
    retained partitions). For ISO dates/timestamps lexicographic
    comparison is then correct as-is (``keep=lambda v: v >=
    "2024-01-01"``); for other types the caller parses. Hive
    ``__HIVE_DEFAULT_PARTITION__`` (NULL) is passed through like any
    value, so a policy can choose to expire or retain it.

    If the table carries a zone map, the manifest is caught up after the
    sweep (``refresh_zonemap_appended`` handles removals — entries under
    deleted directories are dropped, nothing is re-statted). Returns the
    deleted directory names."""
    from urllib.parse import unquote

    base = path.rstrip("/")
    doomed = []
    for d in sorted(os.listdir(base)):
        full = os.path.join(base, d)
        if not os.path.isdir(full) or "=" not in d:
            continue
        value = unquote(d.split("=", 1)[1])
        if not keep(value):
            doomed.append(d)
            shutil.rmtree(full)
    from dbt_decodable_spark.operators.zonemap import MANIFEST_NAME

    if doomed and os.path.exists(os.path.join(base, MANIFEST_NAME)):
        from dbt_decodable_spark.operators.zonemap import (
            refresh_zonemap_appended,
        )

        refresh_zonemap_appended(spark, base)
    return doomed


def delete_rows_partitioned(
    spark: SparkSession,
    path: str,
    partition_col: str,
    id_col: str,
    ids: list,
    fmt: str = "parquet",
) -> dict:
    """Targeted row deletion (the right-to-be-forgotten / takedown purge a
    training-data store needs): remove every row whose ``id_col`` is in
    ``ids`` from a ``partition_col``-partitioned table, rewriting ONLY the
    partitions that contain a doomed row.

    Two phases:

    1. **Locate** — one column-pruned scan of ``id_col`` (+ the file path
       via ``input_file_name``) filtered to ``ids`` finds the affected
       partition DIRECTORIES — the path is the ground truth, so Hive
       value escaping (``%xx``) and NULL partitions need no reconstruction.
       At 100 TB this reads one column of the parquet footer-indexed data;
       when an external (id → partition) index exists, pass its result as
       ``ids`` grouped per partition and skip the scan entirely.
    2. **Rewrite** — each affected partition directory is rewritten minus
       the doomed rows with the same crash-safe tmp→verify→swap dance as
       :func:`compact_path` (expected row count = before − doomed, checked
       per partition before the swap; NULL-id rows are never doomed).
       Staging lives in a SIBLING of the table root (never inside it, where
       partition discovery would surface half-swapped data as phantom
       partitions). Untouched partitions are never read, never rewritten,
       and keep their files byte-identical — the pytest pins this via file
       inodes.

    Deterministic, idempotent (a second run finds no affected partitions),
    and parallel across partitions at scale (the loop below is driver-side
    orchestration of independent partition jobs). Returns
    ``{partition_value: rows_deleted}``.

    The reference's nearest surface is stream ``clear`` (full truncate,
    `decodable/apis.py` stream lifecycle); targeted deletion is part of the
    driver-mandated training-data extension set.
    """
    import urllib.parse

    base = path.rstrip("/")
    # crash recovery FIRST (review r9 — same dance as the changelog.py
    # partial-rewrite merge): a death between the two swap renames leaves
    # the partition dir missing and stage/<part>.old as the ONLY copy of
    # its surviving rows. Restore any such orphan BEFORE the locate scan
    # (so its rows are visible again) and BEFORE any stage cleanup (which
    # would otherwise destroy the copy — silent loss on a purge path).
    stage = base + ".__del_stage__"
    if os.path.isdir(stage):
        for entry in os.listdir(stage):
            if entry.endswith(".old"):
                commit.restore(
                    os.path.join(stage, entry),
                    os.path.join(base, entry.removesuffix(".old")),
                )
        shutil.rmtree(stage, ignore_errors=True)
    # dedupe by the CANONICAL STRING form (what the doomed frame is built
    # from): a repeated id — including 4 vs "4", or a mixed-type list that
    # plain sorted(set(...)) would crash on — must count once
    _seen: dict = {}
    for _i in ids:
        _seen.setdefault(str(_i), _i)
    id_set = [_seen[k] for k in sorted(_seen)]
    table = spark.read.format(fmt).load(base)
    # the doomed-id frame must carry the TABLE's id dtype (string/int/long/
    # decimal/date all occur) or the locate join mis-types and silently
    # misses. createDataFrame's schema verification rejects raw Python
    # values whose type doesn't match (an int against DecimalType, a string
    # against DateType — ADVICE r7), so build string-typed first and CAST:
    # string→decimal/date/int casts are exact for canonical str(value) forms.
    id_type = table.schema[id_col].dataType
    doomed_raw = spark.createDataFrame(
        [(str(i),) for i in id_set],
        T.StructType([T.StructField("__raw", T.StringType())]),
    ).select("__raw", F.col("__raw").try_cast(id_type).alias(id_col))
    # an unrepresentable id must fail LOUDLY with the offending values —
    # for a takedown path a silent non-delete is worse than an error, and
    # the per-partition count verify can't catch it (locate and rewrite
    # agree on the miss). try_cast normalizes both cast modes (ANSI throws
    # mid-job with no value list, non-ANSI silently NULLs) into NULLs we
    # check here (ADVICE r8). Bounded collect: |ids| is the takedown list,
    # not data.
    bad = [r["__raw"] for r in doomed_raw.filter(F.col(id_col).isNull()).collect()]
    if bad:
        raise ValueError(
            f"{len(bad)} id(s) not castable to {id_col}'s type "
            f"{id_type.simpleString()} — would be silently skipped: {bad}"
        )
    doomed = doomed_raw.select(id_col)
    # Locate via input_file_name, not by reconstructing dir names from
    # partition values: Hive escapes special chars (%xx) and encodes NULLs
    # (__HIVE_DEFAULT_PARTITION__) in the path, and the file path is the
    # ground truth for which directory actually holds a doomed row.
    located = (
        table
        .select(id_col, F.input_file_name().alias("__f"))
        .join(F.broadcast(doomed), id_col)
        .select(F.expr("substring_index(__f, '/', size(split(__f, '/')) - 1)")
                .alias("__dir"))
        .groupBy("__dir")
        .count()
        .collect()
    )
    # staging lives in a SIBLING of the table root — never inside it, where
    # partition discovery would surface half-swapped data as extra partitions
    deleted: dict = {}
    rewritten: list[str] = []
    for row in located:
        # input_file_name returns a URI — one unquote yields the literal
        # on-disk path (a Hive-escaped value like 'a=b' → dir 'lang=a%3Db'
        # arrives double-encoded as 'lang=a%253Db', so exactly one decode)
        pdir = urllib.parse.unquote(row[0].removeprefix("file:"))
        n_doomed = row[1]
        pname = os.path.basename(pdir)
        pval = urllib.parse.unquote(pname.split("=", 1)[1]) if "=" in pname else pname
        part = spark.read.format(fmt).load(pdir)
        n_before = part.count()
        # anti-join against the CAST doomed frame, not isin(raw ids): a
        # raw isin coerces the COLUMN to the ids' Python type (a string
        # id column vs int ids casts 'abc' → NULL → predicate NULL →
        # row dropped), so kept would diverge from the locate join and
        # abort the purge on every run. The anti join compares at the
        # column's own type and keeps NULL-id rows (NULL never equals).
        kept = part.join(F.broadcast(doomed), on=[id_col], how="left_anti")
        os.makedirs(stage, exist_ok=True)
        tmp = os.path.join(stage, pname + ".tmp")
        kept.write.mode("overwrite").format(fmt).save(tmp)
        n_after = spark.read.format(fmt).load(tmp).count()
        if n_after != n_before - n_doomed:
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"partition {pval}: expected {n_before - n_doomed} rows "
                f"after delete, wrote {n_after}; aborted, original untouched"
            )
        commit.swap_dir(tmp, pdir, os.path.join(stage, pname + ".old"))
        deleted[pval] = n_doomed
        rewritten.append(pdir)
    # stage dir removed last — a crash mid-loop leaves any half-swapped
    # partition recoverable under <table>.__del_stage__/<part>.old
    shutil.rmtree(stage, ignore_errors=True)
    # zonemap contract (operators/zonemap.py): every maintenance writer
    # refreshes the manifest it invalidated — merge does a partial
    # refresh, compaction rewrites it, partition expiry re-inventories.
    # The purge rewrote partition bytes, so without this the inventory
    # drifts: default readers fall back to unpruned full listings and
    # verify_inventory=False readers error on the vanished files.
    from dbt_decodable_spark.operators.zonemap import MANIFEST_NAME

    if rewritten and os.path.exists(os.path.join(base, MANIFEST_NAME)):
        import json

        from dbt_decodable_spark.operators.zonemap import (
            refresh_zonemap_partial,
            write_zonemap,
        )

        rel = [os.path.relpath(p, base) for p in rewritten]
        if any(r in (".", "") for r in rel):
            # unpartitioned layout: the rewrite replaced the root itself —
            # a partial refresh has no subdir to scope to; rebuild
            with open(os.path.join(base, MANIFEST_NAME)) as fh:
                cols = json.load(fh)["stats_cols"]
            write_zonemap(spark, base, cols)
        else:
            refresh_zonemap_partial(spark, base, rel)
    return deleted
