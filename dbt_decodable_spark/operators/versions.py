"""Versioned snapshot publication: time travel + retention for
batch-materialized tables.

A table that is republished wholesale (a dimension rebuild, a scored
corpus, a model-ready export) needs three things the bare
``mode("overwrite")`` write cannot give at scale:

- **atomic publication** — readers must never observe a half-written
  generation (overwrite-in-place deletes the old data FIRST);
- **time travel** — yesterday's generation stays readable until retention
  says otherwise (the rollback path when a publish turns out bad, and the
  reproducibility path for anything trained on a specific generation);
- **bounded retention** — generations cannot accumulate forever at 100 TB.

Design — the same filesystem commit contract the delta log and the CDC
snapshot use, applied to whole generations:

- each publish lands in ``<root>/v=<N>`` (N = max committed + 1, no
  clock); the COMMIT is the rename of a ``_SUCCESS``-marked private
  stage (``dbt_decodable_spark/commit.py``), so a crashed publish leaves
  only debris that the next publish sweeps;
- readers resolve ``latest`` (or an explicit N) against committed
  generations only, so publication is atomic from their point of view:
  until ``_SUCCESS`` exists the new generation does not exist;
- ``vacuum_versions(keep_last=K)`` deletes committed generations beyond
  the newest K (never the latest; a crash mid-vacuum just leaves more
  generations for the next vacuum — deletion is idempotent).

Publication is multi-writer safe (stage-then-atomic-rename slot claim,
the delta-log commit protocol — concurrent publishers serialize into
consecutive generations); VACUUM remains single-maintainer per root, like
every sibling maintenance op. Readers of a generation being vacuumed are
the caller's retention policy to exclude — same contract as every
lakehouse VACUUM.

Reference parity: the reference materializes tables by full overwrite
through its managed service (dbt seeds/models,
``dbt/adapters/decodable/impl.py``) with no version retention; this module
is extension surface, giving those publishes lakehouse semantics.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from dbt_decodable_spark import commit


def _vdir(root: str, n: int) -> str:
    return os.path.join(root.rstrip("/"), f"v={n:08d}")


def list_versions(root: str) -> list[int]:
    """Committed (``_SUCCESS``-marked) generation numbers, ascending."""
    return sorted(int(d[2:]) for d in commit.committed(root.rstrip("/"), "v="))


def _publish(root: str, write) -> int:
    """Commit ``write(stage)`` as the next ``v=<N>`` generation of
    ``root`` (:func:`dbt_decodable_spark.commit.publish_dir`); returns N."""

    def next_name() -> str:
        versions = list_versions(root)
        return f"v={(versions[-1] + 1 if versions else 0):08d}"

    return int(os.path.basename(commit.publish_dir(root, write, next_name))[2:])


def publish_version(
    df: DataFrame,
    root: str,
    fmt: str = "parquet",
    cluster_by: list | None = None,
    stats_cols: list | None = None,
    n_files: int | None = None,
) -> int:
    """Write ``df`` as the next committed generation of ``root`` and
    return its number. Safe under CONCURRENT publishers: the generation
    is staged privately, then claimed as ``v=<N>`` by rename
    (:func:`dbt_decodable_spark.commit.publish_dir`, the delta log's
    commit). A publisher that loses its slot re-lists and claims the next
    one, so two uncoordinated publishers serialize into consecutive
    generations with commit order deciding which is "latest" — exactly
    the semantics wholesale republication wants. Crashed publishers leave
    only debris the next publish sweeps.

    The layout layers compose here: ``cluster_by`` range-sorts the
    generation across ``n_files`` files and ``stats_cols`` attaches a
    zone map (``operators/zonemap.py``) INSIDE the generation directory
    (written in the stage; relative inventory paths survive the rename) —
    so every generation is independently clustered and file-skippable
    (``read_pruned(spark, _vdir(root, n), …)``), and vacuuming a
    generation removes its map with it. Parquet-only options."""
    root = root.rstrip("/")
    if (cluster_by or stats_cols) and fmt != "parquet":
        raise ValueError("cluster_by/stats_cols require parquet")

    def write(stage: str) -> None:
        from dbt_decodable_spark.operators.zonemap import (
            clustered,
            write_with_zonemap,
        )

        if stats_cols:
            write_with_zonemap(
                df, stage, stats_cols, cluster_by=cluster_by, n_files=n_files,
            )
        elif cluster_by:
            clustered(df, cluster_by, n_files).write.format(fmt).save(stage)
        else:
            df.write.format(fmt).save(stage)

    return _publish(root, write)


def read_version(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Read a committed generation — the latest by default, or an
    explicit ``version`` for time travel. Raises with the available
    generation list when the requested one doesn't exist (vacuumed, never
    published, or uncommitted)."""
    versions = list_versions(root)
    if not versions:
        raise FileNotFoundError(f"no committed generations under {root}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(
            f"generation {version} not available under {root}; "
            f"committed generations: {versions}"
        )
    return spark.read.format(fmt).load(_vdir(root, version))


def diff_versions(
    spark: SparkSession,
    root: str,
    keys: list[str],
    a: int | None = None,
    b: int | None = None,
    compare_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Row-level diff between two committed generations — by default the
    latest against its predecessor (the publish review: what did this
    generation change?). One full-outer join on ``keys``; each row is
    labeled ``added`` / ``removed`` / ``changed`` / ``unchanged`` by a
    null-safe struct comparison over ``compare_cols`` (default: every
    non-key column the two generations share — so additive schema
    evolution between generations diffs on the common core instead of
    failing). Returns keys + ``status`` + the old/new value structs.

    Same shape as the registered ``snapshot_diff_status`` query
    (reference apply-diff parity, ``impl.py:402-417``), applied to the
    version log. Scale: one key shuffle over the two generations."""
    from pyspark.sql import functions as F

    versions = list_versions(root)
    if b is None:
        if not versions:
            raise FileNotFoundError(f"no committed generations under {root}")
        b = versions[-1]
    if a is None:
        prior = [v for v in versions if v < b]
        if not prior:
            raise FileNotFoundError(
                f"generation {b} has no predecessor under {root}"
            )
        a = prior[-1]
    va = read_version(spark, root, a, fmt=fmt)
    vb = read_version(spark, root, b, fmt=fmt)
    if compare_cols is None:
        compare_cols = [
            c for c in va.columns if c in set(vb.columns) and c not in keys
        ]
    a_df = va.select(*keys, F.struct(*compare_cols).alias("old"))
    b_df = vb.select(*keys, F.struct(*compare_cols).alias("new"))
    j = a_df.join(b_df, on=list(keys), how="full_outer")
    status = (
        F.when(F.col("old").isNull(), F.lit("added"))
        .when(F.col("new").isNull(), F.lit("removed"))
        .when(~F.col("old").eqNullSafe(F.col("new")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(*keys, status.alias("status"), "old", "new")


def vacuum_versions(root: str, keep_last: int = 2) -> list[int]:
    """Delete committed generations beyond the newest ``keep_last``
    (which must be ≥ 1 — the latest generation is never deleted), plus
    the crash debris :func:`dbt_decodable_spark.commit.sweep` reaps.
    Returns the deleted generation numbers. Crash mid-vacuum is benign:
    deletion is idempotent and ordering is oldest-first, so the retained
    window is never violated."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    root = root.rstrip("/")
    versions = list_versions(root)
    doomed = versions[:-keep_last] if len(versions) > keep_last else []
    for n in doomed:
        shutil.rmtree(_vdir(root, n), ignore_errors=True)
    if os.path.isdir(root):
        commit.sweep(root)
    return doomed
