"""Multi-writer delta-log concurrency: the rename-commit append protocol
and the compaction lock (round 9 — lifts the layer's last single-writer
contract for APPENDS; compaction stays mutually exclusive via an atomic
mkdir lock with crash-stale takeover).

Why this matters at 100 TB: a real cluster ingests one table from many
writers (several streams, backfill jobs next to live ingestion). The
reference delegates this to its managed service; lakehouse formats solve it
with put-if-absent commits on the log. Here the commit primitive is an
atomic directory rename, and — unlike Delta's order-dependent log actions —
our entries COMMUTE (fold winners come from the data's order tuple, never
commit order), so writers need no serialization for correctness at all;
the sequence-claim retry exists only to keep names tidy.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F

from dbt_decodable_spark import commit
from dbt_decodable_spark.streaming.changelog import (
    _deltas_root,
    append_delta,
    compact_and_vacuum,
    fold_last_image,
    list_deltas,
    read_merged,
    write_hash_partitioned,
)

DDL = "k long, seq long, v long, is_delete boolean"


def _snap(spark, tmp_path, name="base"):
    base = str(tmp_path / name)
    init = spark.createDataFrame(
        [(i, 0, i * 10, False) for i in range(100)], DDL
    )
    write_hash_partitioned(
        init, base, ["k"], 5, partition_expr=F.expr("k div 20")
    )
    return base, init


def _rows(df):
    return sorted(map(tuple, df.collect()))


class TestConcurrentAppend:
    def test_threaded_writers_converge(self, spark, tmp_path):
        """4 writers × 6 batches each against one table, no coordination:
        every delta commits under a unique name, no stage dirs leak, and
        the merged view equals the global fold of everything written."""
        base, init = _snap(spark, tmp_path)
        n_writers, n_batches = 4, 6
        batches = {
            (w, b): [(w * 100 + b, b + 1, w * 1000 + b, False)]
            for w in range(n_writers)
            for b in range(n_batches)
        }
        errors: list[Exception] = []

        def writer(w: int) -> None:
            try:
                for b in range(n_batches):
                    bdf = spark.createDataFrame(batches[(w, b)], DDL)
                    p = append_delta(spark, base, bdf, tag=f"w{w}b{b}")
                    assert p is not None
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        threads = [
            threading.Thread(target=writer, args=(w,))
            for w in range(n_writers)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert errors == []
        committed = list_deltas(base)
        assert len(committed) == n_writers * n_batches
        assert len(set(committed)) == len(committed)
        root = _deltas_root(base)
        assert not [d for d in os.listdir(root) if d.startswith("stage-")]
        all_rows = init
        for rows in batches.values():
            all_rows = all_rows.unionByName(spark.createDataFrame(rows, DDL))
        want = fold_last_image(all_rows, ["k"], [F.col("seq")]).filter(
            "NOT is_delete"
        )
        got = read_merged(spark, base, ["k"], [F.col("seq")])
        assert _rows(got) == _rows(want)

    def test_rename_loss_retries_next_sequence(self, spark, tmp_path):
        """Deterministic pin of the claim-retry: the first rename loses to
        a writer that committed the same sequence; ours re-lists and lands
        on the next slot, and the view folds both deltas."""
        base, init = _snap(spark, tmp_path)
        root = _deltas_root(base)
        winner_tmp = str(tmp_path / "winner")
        spark.createDataFrame([(7, 1, 777, False)], DDL).write.parquet(
            winner_tmp
        )
        real_rename = os.rename
        lost_names: list[str] = []

        def flaky(src, dst):
            if not lost_names and dst.startswith(root + os.sep + "delta-"):
                lost_names.append(dst)
                real_rename(winner_tmp, dst)  # the other writer wins the slot
                raise OSError(39, "Directory not empty", dst)
            return real_rename(src, dst)

        from unittest import mock

        with mock.patch("os.rename", side_effect=flaky):
            p = append_delta(
                spark, base, spark.createDataFrame([(8, 1, 888, False)], DDL)
            )
        assert lost_names and p is not None
        assert p != lost_names[0]
        lost_seq = int(os.path.basename(lost_names[0]).split("-")[1])
        won_seq = int(os.path.basename(p).split("-")[1])
        assert won_seq == lost_seq + 1
        assert sorted(list_deltas(base)) == sorted([lost_names[0], p])
        view = read_merged(spark, base, ["k"], [F.col("seq")])
        assert view.filter("k = 7").collect()[0]["v"] == 777
        assert view.filter("k = 8").collect()[0]["v"] == 888

    def test_same_tag_race_loser_is_noop(self, spark, tmp_path):
        """A replayed batch that loses the rename race to ITS OWN tag
        detects the committed twin on retry, cleans its stage, and
        returns None — exactly-once landing even under the race."""
        base, init = _snap(spark, tmp_path)
        root = _deltas_root(base)
        winner_tmp = str(tmp_path / "winner")
        spark.createDataFrame([(7, 1, 777, False)], DDL).write.parquet(
            winner_tmp
        )
        real_rename = os.rename
        lost: list[str] = []

        def flaky(src, dst):
            if not lost and dst.startswith(root + os.sep + "delta-"):
                lost.append(dst)
                real_rename(winner_tmp, dst)  # same-tag twin lands first
                raise OSError(39, "Directory not empty", dst)
            return real_rename(src, dst)

        from unittest import mock

        with mock.patch("os.rename", side_effect=flaky):
            p = append_delta(
                spark,
                base,
                spark.createDataFrame([(7, 1, 777, False)], DDL),
                tag="42",
            )
        assert p is None
        assert lost and lost[0].endswith("-42")
        assert list_deltas(base) == [lost[0]]
        assert not [d for d in os.listdir(root) if d.startswith("stage-")]

    def test_stale_stage_swept_live_stage_kept(self, spark, tmp_path):
        """The stage sweep reaps only stages old enough that their writer
        is surely dead; a fresh (possibly live) stage is untouched."""
        base, _ = _snap(spark, tmp_path)
        root = _deltas_root(base)
        os.makedirs(root, exist_ok=True)
        dead = os.path.join(root, "stage-deadbeef")
        live = os.path.join(root, "stage-live")
        os.makedirs(dead)
        os.makedirs(live)
        old = time.time() - 7200
        os.utime(dead, (old, old))
        p = append_delta(
            spark,
            base,
            spark.createDataFrame([(1, 1, 11, False)], DDL),
        )
        assert p is not None
        assert not os.path.exists(dead)
        assert os.path.exists(live)
        shutil.rmtree(live)


class TestCompactionLock:
    def test_held_lock_raises_and_releases_on_exit(self, spark, tmp_path):
        base, _ = _snap(spark, tmp_path)
        append_delta(
            spark, base, spark.createDataFrame([(3, 1, 33, False)], DDL)
        )
        root = _deltas_root(base)
        with commit.lock(root):
            with pytest.raises(commit.LockHeld):
                compact_and_vacuum(
                    spark, base, ["k"], [F.col("seq")], 5,
                    partition_expr=F.expr("k div 20"),
                )
        # lock released by the context exit: the retry succeeds
        out = compact_and_vacuum(
            spark, base, ["k"], [F.col("seq")], 5,
            partition_expr=F.expr("k div 20"),
        )
        assert len(out["vacuumed"]) == 1
        assert not os.path.exists(os.path.join(root, ".__compact_lock__"))

    def test_stale_lock_broken(self, spark, tmp_path):
        base, _ = _snap(spark, tmp_path)
        append_delta(
            spark, base, spark.createDataFrame([(3, 1, 33, False)], DDL)
        )
        root = _deltas_root(base)
        lock = os.path.join(root, ".__compact_lock__")
        os.makedirs(lock)
        old = time.time() - 7200
        os.utime(lock, (old, old))
        out = compact_and_vacuum(
            spark, base, ["k"], [F.col("seq")], 5,
            partition_expr=F.expr("k div 20"),
        )
        assert len(out["vacuumed"]) == 1
        assert not os.path.exists(lock)

    def test_lock_released_when_compaction_fails(self, spark, tmp_path):
        base, _ = _snap(spark, tmp_path)
        # an evolved delta makes compact_deltas raise (lossy compaction
        # refused) — the lock must not leak across the failure
        evolved = spark.createDataFrame(
            [(3, 1, 33, False, "x")], DDL + ", extra string"
        )
        root = _deltas_root(base)
        os.makedirs(root, exist_ok=True)
        evolved.write.parquet(os.path.join(root, "delta-00000000"))
        with pytest.raises(RuntimeError, match="Widen the snapshot"):
            compact_and_vacuum(
                spark, base, ["k"], [F.col("seq")], 5,
                partition_expr=F.expr("k div 20"),
            )
        assert not os.path.exists(os.path.join(root, ".__compact_lock__"))

    def test_two_streams_one_table_end_to_end(self, spark, tmp_path):
        """Two uncoordinated ingest threads, each appending and attempting
        threshold compaction (skipping when the other holds the lock):
        the final view equals the global fold — correctness never
        depended on who compacted when."""
        base, init = _snap(spark, tmp_path)
        n_batches = 8
        errors: list[Exception] = []

        def ingest(w: int) -> None:
            try:
                for b in range(n_batches):
                    rows = [(w * 100 + b, b + 1, w * 1000 + b, False)]
                    append_delta(
                        spark, base,
                        spark.createDataFrame(rows, DDL),
                        tag=f"w{w}b{b}",
                    )
                    if len(list_deltas(base)) >= 3:
                        try:
                            compact_and_vacuum(
                                spark, base, ["k"], [F.col("seq")], 5,
                                partition_expr=F.expr("k div 20"),
                            )
                        except commit.LockHeld:
                            pass
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        threads = [
            threading.Thread(target=ingest, args=(w,)) for w in (0, 1)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert errors == []
        all_rows = init
        for w in (0, 1):
            for b in range(n_batches):
                all_rows = all_rows.unionByName(
                    spark.createDataFrame(
                        [(w * 100 + b, b + 1, w * 1000 + b, False)], DDL
                    )
                )
        want = fold_last_image(all_rows, ["k"], [F.col("seq")]).filter(
            "NOT is_delete"
        )
        got = read_merged(spark, base, ["k"], [F.col("seq")])
        assert _rows(got) == _rows(want)


class TestReviewFindings:
    def test_non_collision_rename_error_reraises(self, spark, tmp_path):
        """An OSError that is NOT a losing sequence claim (EACCES here)
        must re-raise — not spin the retry loop forever — and must not
        leave the staged batch behind."""
        import errno

        from unittest import mock

        base, _ = _snap(spark, tmp_path)
        root = _deltas_root(base)
        real_rename = os.rename

        def denied(src, dst):
            if dst.startswith(root + os.sep + "delta-"):
                raise OSError(errno.EACCES, "Permission denied", dst)
            return real_rename(src, dst)

        with mock.patch("os.rename", side_effect=denied):
            with pytest.raises(OSError) as ei:
                append_delta(
                    spark, base,
                    spark.createDataFrame([(1, 1, 11, False)], DDL),
                )
        assert ei.value.errno == errno.EACCES
        assert not [d for d in os.listdir(root) if d.startswith("stage-")]
        assert list_deltas(base) == []

    def test_stale_break_loser_gets_lock_held(self, tmp_path):
        """Two processes breaking the same stale lock: the mkdir loser
        must surface as commit.LockHeld (the exception callers handle),
        not a bare FileExistsError."""
        root = str(tmp_path / "r")
        os.makedirs(root)
        lock = os.path.join(root, ".__compact_lock__")
        os.makedirs(lock)
        old = time.time() - 7200
        os.utime(lock, (old, old))
        real_mkdir = os.mkdir
        calls = []

        from unittest import mock

        def contended(path, *a, **kw):
            # after OUR stale-break rmtree, the other breaker re-creates
            # the lock first — our re-acquiring mkdir must lose
            if path == lock:
                calls.append(path)
                if len(calls) == 2:
                    real_mkdir(path)  # the other breaker wins
            return real_mkdir(path, *a, **kw)

        with mock.patch("os.mkdir", side_effect=contended):
            with pytest.raises(commit.LockHeld, match="breaking a stale"):
                with commit.lock(root):
                    pass  # pragma: no cover - never entered


class TestConcurrentPublish:
    """Versioned publication under concurrent publishers: the same
    rename-commit slot claim as delta appends — uncoordinated publishers
    land consecutive generations, none lost, none torn."""

    def test_threaded_publishers_land_consecutive_generations(
        self, spark, tmp_path
    ):
        from dbt_decodable_spark.operators.versions import (
            list_versions,
            publish_version,
            read_version,
        )

        root = str(tmp_path / "gens")
        n_pub = 6
        results: list[int] = []
        errors: list[Exception] = []
        lock = threading.Lock()

        def publisher(i: int) -> None:
            try:
                df = spark.range(10).select(
                    F.col("id"), F.lit(i).alias("publisher")
                )
                n = publish_version(df, root)
                with lock:
                    results.append(n)
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        threads = [
            threading.Thread(target=publisher, args=(i,))
            for i in range(n_pub)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert errors == []
        assert sorted(results) == list(range(n_pub))  # every slot unique
        assert list_versions(root) == list(range(n_pub))
        root_entries = os.listdir(root)
        assert not [d for d in root_entries if d.startswith("stage-")]
        # every generation is complete and readable (atomic publication)
        for n in range(n_pub):
            assert read_version(spark, root, n).count() == 10

    def test_slot_loss_retries_and_zonemap_survives_rename(
        self, spark, tmp_path
    ):
        from unittest import mock

        from dbt_decodable_spark.operators import zonemap as zmod
        from dbt_decodable_spark.operators.versions import (
            _vdir,
            publish_version,
        )

        root = str(tmp_path / "gens")
        os.makedirs(root)
        winner_tmp = str(tmp_path / "winner")
        spark.range(5).write.parquet(winner_tmp)
        real_rename = os.rename
        lost: list[str] = []

        def flaky(src, dst):
            if not lost and dst.startswith(root + os.sep + "v="):
                lost.append(dst)
                real_rename(winner_tmp, dst)  # rival publisher wins v=0
                raise OSError(39, "Directory not empty", dst)
            return real_rename(src, dst)

        df = spark.range(1000).select(F.col("id"))
        with mock.patch("os.rename", side_effect=flaky):
            n = publish_version(df, root, stats_cols=["id"],
                                cluster_by=["id"], n_files=4)
        assert lost and lost[0].endswith("v=00000000") and n == 1
        # the staged zone map came through the rename intact: relative
        # inventory still matches, pruning live inside the generation
        got, info = zmod.read_pruned(spark, _vdir(root, 1), [("id", 0, 99)])
        assert info["fallback"] is None and info["pruned"] >= 2
        assert got.count() == 100

    def test_vacuum_reaps_stale_stage_keeps_live(self, spark, tmp_path):
        from dbt_decodable_spark.operators.versions import (
            publish_version,
            vacuum_versions,
        )

        root = str(tmp_path / "gens")
        for i in range(3):
            publish_version(spark.range(5).toDF("id"), root)
        dead = os.path.join(root, "stage-dead")
        live = os.path.join(root, "stage-live")
        os.makedirs(dead)
        os.makedirs(live)
        old = time.time() - 7200
        os.utime(dead, (old, old))
        doomed = vacuum_versions(root, keep_last=2)
        assert doomed == [0]
        assert not os.path.exists(dead)
        assert os.path.exists(live)
