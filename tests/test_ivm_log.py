"""Merge-on-read IVM (operators/ivm_log.py).

Ground truth stays the full recompute over the merged snapshot; the
append-only path must match it after every batch, across compactions, and
through the crash/replay windows the module's docstring enumerates — in
particular the counter double-count hazard: deltas already folded into a
generation must be SKIPPED by readers (watermark) even while they still
exist on disk, and replayed batches must land at most once (tags, at both
the pending-delta and the compacted-generation level)."""

import pytest as _pytest_tier

# Slow tier (VERDICT r13 item 1): merge-on-read log crash sweeps —
# multi-minute file; deselected from the default fast tier by
# tests/conftest.py, run via SPARK_GRAFT_RUN_SLOW=1 or -m slow.
pytestmark = _pytest_tier.mark.slow

import os

from pyspark.sql import functions as F

from dbt_decodable_spark.operators import ivm_log as il
from dbt_decodable_spark.operators.ivm import compute_agg_view
from dbt_decodable_spark.streaming.changelog import (
    list_deltas,
    merge_changes_ordered,
)
from tests.test_ivm import KEYS, ORDER, SPEC, _df, _rows, _snap0


def _check(spark, root, snapshot):
    want = _rows(compute_agg_view(snapshot, SPEC, delete_col="deleted"))
    got = _rows(il.ivm_log_read(spark, root, SPEC))
    assert got == want


def _append(spark, root, snapshot, batch_rows, tag):
    batch = _df(spark, batch_rows)
    assert il.ivm_log_append(
        spark, root, snapshot, batch, KEYS, ORDER, SPEC, tag=tag
    )
    return merge_changes_ordered(snapshot, batch, KEYS, ORDER).localCheckpoint(
        eager=True
    )


BATCH1 = [
    (1, "a", 10, 5, 1, False),
    (2, "a", 20, 7, 2, False),
    (3, "b", 3, 1, 3, False),
    (4, None, None, 2, 4, False),
]
# deletes the max-val row of 'a', tombstones all of 'b', moves pk=4 to 'a'
BATCH2 = [
    (2, "a", 20, 7, 10, True),
    (3, "b", 3, 1, 11, True),
    (4, "a", 8, 9, 12, False),
]
# resurrects pk=3 in a new group, stale row for pk=1 (no-op)
BATCH3 = [
    (3, "c", 7, 7, 20, False),
    (1, "zzz", 99, 99, 0, False),
]


class TestIvmLogLifecycle:
    def test_append_read_matches_recompute(self, spark, tmp_path):
        root = str(tmp_path / "view")
        snap = _snap0(spark)
        il.ivm_log_init(spark, root, snap, SPEC, delete_col="deleted", n_buckets=8)
        _check(spark, root, snap)
        for i, rows in enumerate([BATCH1, BATCH2, BATCH3]):
            snap = _append(spark, root, snap, rows, tag=str(i))
            _check(spark, root, snap)
        # the view at this point: group a = {pk1 v10, pk4 v8}, group c = {pk3}
        got = {r["grp"]: r.asDict() for r in il.ivm_log_read(spark, root, SPEC).collect()}
        assert set(got) == {"a", "c"}
        assert got["a"]["n"] == 2 and got["a"]["max_price"] == 9
        assert got["a"]["min_val"] == 8 and got["a"]["nd_val"] == 2

    def test_init_from_nonempty_snapshot(self, spark, tmp_path):
        root = str(tmp_path / "view")
        snap = _df(spark, BATCH1).localCheckpoint(eager=True)
        il.ivm_log_init(spark, root, snap, SPEC, delete_col="deleted", n_buckets=8)
        _check(spark, root, snap)
        snap = _append(spark, root, snap, BATCH2, tag="0")
        _check(spark, root, snap)

    def test_replayed_tag_is_noop(self, spark, tmp_path):
        root = str(tmp_path / "view")
        snap = _snap0(spark)
        il.ivm_log_init(spark, root, snap, SPEC, delete_col="deleted", n_buckets=8)
        batch = _df(spark, BATCH1)
        assert il.ivm_log_append(spark, root, snap, batch, KEYS, ORDER, SPEC, tag="7")
        before = _rows(il.ivm_log_read(spark, root, SPEC))
        # replay against the SAME snapshot_before (the contract's crash case)
        assert not il.ivm_log_append(
            spark, root, snap, batch, KEYS, ORDER, SPEC, tag="7"
        )
        assert _rows(il.ivm_log_read(spark, root, SPEC)) == before

    def test_empty_contribution_batch_appends_nothing(self, spark, tmp_path):
        root = str(tmp_path / "view")
        snap = _snap0(spark)
        il.ivm_log_init(spark, root, snap, SPEC, delete_col="deleted", n_buckets=8)
        snap = _append(spark, root, snap, BATCH1, tag="0")
        n_before = len(list_deltas(il._agg_root(root)))
        stale = _df(spark, [(1, "zzz", 99, 99, 0, False)])  # older than pk1
        assert not il.ivm_log_append(
            spark, root, snap, stale, KEYS, ORDER, SPEC, tag="1"
        )
        assert len(list_deltas(il._agg_root(root))) == n_before
        _check(spark, root, snap)


class TestIvmLogCompaction:
    def _seed(self, spark, tmp_path):
        root = str(tmp_path / "view")
        snap = _snap0(spark)
        il.ivm_log_init(spark, root, snap, SPEC, delete_col="deleted", n_buckets=8)
        snap = _append(spark, root, snap, BATCH1, tag="0")
        snap = _append(spark, root, snap, BATCH2, tag="1")
        return root, snap

    def test_compact_preserves_view_and_advances_watermark(self, spark, tmp_path):
        root, snap = self._seed(spark, tmp_path)
        before = _rows(il.ivm_log_read(spark, root, SPEC))
        out = il.ivm_log_compact(spark, root, SPEC, vacuum_horizon_seconds=0.0)
        assert out["tables"]["agg"] == 1  # a new generation landed
        _, meta = il._latest_gen(il._agg_root(root))
        assert meta["watermark"] >= 1 and meta["max_tag"] == 1
        assert _rows(il.ivm_log_read(spark, root, SPEC)) == before
        # the sequence floor: exactly one delta (the max-seq one) survives
        assert len(list_deltas(il._agg_root(root))) == 1
        # appends continue monotonically after compaction
        snap = _append(spark, root, snap, BATCH3, tag="2")
        _check(spark, root, snap)

    def test_unvacuumed_folded_deltas_are_skipped_not_double_counted(
        self, spark, tmp_path
    ):
        """The crash window between generation publish and vacuum: folded
        deltas still on disk must not double-count (the hazard last-image
        logs don't have)."""
        root, snap = self._seed(spark, tmp_path)
        before = _rows(il.ivm_log_read(spark, root, SPEC))
        n_deltas = len(list_deltas(il._agg_root(root)))
        # huge horizon = vacuum does nothing = the crash-window state
        il.ivm_log_compact(spark, root, SPEC, vacuum_horizon_seconds=1e9)
        assert len(list_deltas(il._agg_root(root))) == n_deltas  # all remain
        assert _rows(il.ivm_log_read(spark, root, SPEC)) == before
        # a later compaction with a zero horizon reclaims them
        il.ivm_log_compact(spark, root, SPEC, vacuum_horizon_seconds=0.0)
        assert len(list_deltas(il._agg_root(root))) == 1
        assert _rows(il.ivm_log_read(spark, root, SPEC)) == before

    def test_replay_of_compacted_tag_is_rejected_by_generation_meta(
        self, spark, tmp_path
    ):
        root, snap = self._seed(spark, tmp_path)
        il.ivm_log_compact(spark, root, SPEC, vacuum_horizon_seconds=0.0)
        before = _rows(il.ivm_log_read(spark, root, SPEC))
        # tag "1" was folded into the generation and its delta vacuumed —
        # only meta.max_tag can catch this replay now
        replay = _df(spark, BATCH2)
        assert not il.ivm_log_append(
            spark, root, snap, replay, KEYS, ORDER, SPEC, tag="1"
        )
        assert _rows(il.ivm_log_read(spark, root, SPEC)) == before

    def test_crash_between_support_and_agg_append_replays_clean(
        self, spark, tmp_path
    ):
        """Support deltas committed, agg delta not (the mid-append crash):
        the replay must no-op the support appends by tag, recompute the
        same extremes from committed state, and land the agg delta once."""
        root, snap = self._seed(spark, tmp_path)
        batch = _df(spark, BATCH3)
        orig = il.append_delta
        calls = {"n": 0}

        def dying_append(spark_, base_path, df, tag=None, **kw):
            p = orig(spark_, base_path, df, tag=tag, **kw)
            calls["n"] += 1
            if calls["n"] == len(SPEC.support_cols()):
                raise RuntimeError("simulated crash before the agg append")
            return p

        il.append_delta = dying_append
        try:
            try:
                il.ivm_log_append(
                    spark, root, snap, batch, KEYS, ORDER, SPEC, tag="2"
                )
                raise AssertionError("crash did not fire")
            except RuntimeError as e:
                assert "simulated crash" in str(e)
        finally:
            il.append_delta = orig
        # replay with the same snapshot_before and tag
        assert il.ivm_log_append(spark, root, snap, batch, KEYS, ORDER, SPEC, tag="2")
        merged = merge_changes_ordered(snap, batch, KEYS, ORDER)
        _check(spark, root, merged)


class TestIvmLogStreaming:
    def test_stream_maintains_view_end_to_end(self, spark, tmp_path):
        """The full front door: a real bounded Structured-Streaming run
        (maxFilesPerTrigger=1 → one micro-batch per file) through
        stream_maintain_view; afterwards the view equals the recompute
        over the snapshot's merged state, and both logs compacted."""
        from dbt_decodable_spark.streaming.changelog import (
            read_merged,
            write_hash_partitioned,
        )

        root = str(tmp_path / "view")
        snap_path = str(tmp_path / "snap")
        init = _df(spark, [(i, "g%d" % (i % 5), i % 7, i % 3, 0, False) for i in range(40)])
        write_hash_partitioned(init, snap_path, ["pk"], 4)
        il.ivm_log_init(
            spark, root,
            spark.read.parquet(snap_path).drop("__bucket"),
            SPEC, delete_col="deleted", n_buckets=8,
        )
        src = str(tmp_path / "src")
        all_rows = []
        for j in range(5):
            rows = [
                (8 * j + i, "g%d" % ((i + j) % 6), i + 10 * j, j, j + 1, i == 3)
                for i in range(8)
            ]
            all_rows.extend(rows)
            _df(spark, rows).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(init.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            il.stream_maintain_view(
                stream, root, snap_path, KEYS, ORDER, SPEC,
                compact_every=3, vacuum_horizon_seconds=0.0,
                snapshot_n_buckets=4,
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        final_snap = read_merged(
            spark, snap_path, KEYS, ORDER, include_tombstones=True,
            delete_col="deleted",
        )
        want = _rows(compute_agg_view(final_snap, SPEC, delete_col="deleted"))
        assert _rows(il.ivm_log_read(spark, root, SPEC)) == want
        # compaction fired on the view log (fewer pending than micro-batches)
        assert len(list_deltas(il._agg_root(root))) < 5
        # and the view generation advanced past gen 0
        _, meta = il._latest_gen(il._agg_root(root))
        assert meta["watermark"] >= 0 and meta["max_tag"] is not None


class TestIvmLogProperty:
    def test_random_batches_with_compactions_match_recompute(self, spark, tmp_path):
        """Randomized-by-construction sweep (deterministic seed): 12 rounds
        of generated upsert/delete/move batches, compacting every 3rd
        round, checking the folded view against the recompute each time."""
        import random

        rng = random.Random(1009)
        root = str(tmp_path / "view")
        snap = _snap0(spark)
        il.ivm_log_init(spark, root, snap, SPEC, delete_col="deleted", n_buckets=8)
        ts = 0
        for rnd in range(12):
            rows = []
            for _ in range(rng.randint(1, 6)):
                ts += 1
                rows.append(
                    (
                        rng.randint(0, 6),
                        rng.choice([None, "a", "b", "c"]),
                        rng.choice([None, 0, 1, 2, 3]),
                        rng.choice([None, 0, 1]),
                        ts,
                        rng.random() < 0.25,
                    )
                )
            snap = _append(spark, root, snap, rows, tag=str(rnd))
            if rnd % 3 == 2:
                il.ivm_log_compact(spark, root, SPEC, vacuum_horizon_seconds=0.0)
            _check(spark, root, snap)


class TestEngineIncremental:
    def test_pipeline_activates_incrementally(self, spark, tmp_path):
        """The reference idiom end-to-end: a dbt-style aggregate model over
        a primary-key (change) stream runs as a continuously-maintained
        materialization — repeated activations process only new source
        appends, and the sink always equals the recompute over the folded
        change stream."""
        from dbt_decodable_spark.catalog import Engine
        from dbt_decodable_spark.schema import StreamSchema
        from dbt_decodable_spark.streaming.changelog import fold_last_image

        eng = Engine(spark, namespace="iv", warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        ddl = "pk long, grp string, val long, ts long"
        rows1 = [(i, "g%d" % (i % 3), i * 10, 1) for i in range(9)]
        src = spark.createDataFrame(rows1, ddl)
        eng.create_stream(
            "src",
            schema=StreamSchema.from_spark(src.schema, primary_key=["pk"]),
            data=src,
        )
        sql = (
            "select grp, count(*) as n, sum(val) as sum_val, "
            "min(val) as min_val from iv__src group by grp"
        )
        eng.create_pipeline("agg_out", sql, activate=False)
        eng.activate_pipeline_incremental("agg_out", order=["ts"])

        def want(all_rows):
            folded = fold_last_image(
                spark.createDataFrame(all_rows, ddl), ["pk"], [F.col("ts"), F.col("pk")]
            )
            return sorted(
                tuple(r)
                for r in folded.groupBy("grp")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("val").alias("sum_val"),
                    F.min("val").alias("min_val"),
                )
                .collect()
            )

        got = sorted(tuple(r) for r in eng.read_stream("agg_out").collect())
        assert got == want(rows1)

        # keyed updates + new keys appended to the change stream; the next
        # activation maintains the view from the appends only
        rows2 = [(0, "g9", 5, 2), (1, "g1", 1000, 2), (100, "g9", 7, 2)]
        spark.createDataFrame(rows2, ddl).write.mode("append").parquet(
            eng.streams["iv__src"].path
        )
        eng.refresh_stream("src")
        eng.activate_pipeline_incremental("agg_out", order=["ts"])
        got = sorted(tuple(r) for r in eng.read_stream("agg_out").collect())
        assert got == want(rows1 + rows2)
        eng.cleanup()

    def test_first_activation_skips_full_replay(self, spark, tmp_path):
        """First activation advances the offsets over the seed files with
        a no-op pass instead of replaying the whole source through
        maintenance (r10, join-arm init protocol): zero snapshot deltas
        afterwards, and the init fold runs only after both offsets are
        committed (the race-free ordering)."""
        from dbt_decodable_spark.catalog import Engine
        from dbt_decodable_spark.schema import StreamSchema
        from dbt_decodable_spark.streaming import changelog as cl
        from dbt_decodable_spark.streaming.changelog import list_deltas

        eng = Engine(spark, namespace="iv3", warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        ddl = "pk long, grp string, val long, ts long"
        src = spark.createDataFrame([(i, "g", i, 1) for i in range(5)], ddl)
        eng.create_stream(
            "src",
            schema=StreamSchema.from_spark(src.schema, primary_key=["pk"]),
            data=src,
        )
        eng.create_pipeline(
            "agg", "select grp, count(*) as n from iv3__src group by grp",
            activate=False,
        )
        root = os.path.join(eng.warehouse_dir, "_ivm_iv3__agg")
        ckpt = os.path.join(eng.warehouse_dir, "_ckpt_ivm_iv3__agg")
        marker = os.path.join(root, "_init_done")

        real_fold = cl.fold_last_image
        seen: list[bool] = []

        def spy_fold(df, keys, order, *a, **kw):
            if not os.path.exists(marker):  # init-phase folds only
                seen.append(
                    os.path.exists(os.path.join(ckpt, "commits", "0"))
                )
            return real_fold(df, keys, order, *a, **kw)

        import pytest as _pytest

        mp = _pytest.MonkeyPatch()
        mp.setattr(cl, "fold_last_image", spy_fold)
        try:
            eng.activate_pipeline_incremental("agg", order=["ts"])
        finally:
            mp.undo()
        assert seen and all(seen), "init fold ran before the offset advance"
        # no replay: the seed never flows through maintenance again
        assert list_deltas(os.path.join(root, "snapshot")) == []
        got = {(r["grp"], r["n"]) for r in eng.read_stream("agg").collect()}
        assert got == {("g", 5)}
        eng.cleanup()

    def test_crash_mid_init_redoes_cleanly(self, spark, tmp_path, monkeypatch):
        """Init completion is gated on the marker written LAST: a crash
        between the snapshot write and ivm_log_init leaves a root the next
        activation re-initializes instead of mistaking it for completed
        state (the join-arm wedge, r9 review)."""
        import pytest as _pytest

        from dbt_decodable_spark.catalog import Engine
        from dbt_decodable_spark.operators import ivm_log as il_mod
        from dbt_decodable_spark.schema import StreamSchema

        eng = Engine(spark, namespace="iv4", warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        ddl = "pk long, grp string, val long, ts long"
        src = spark.createDataFrame([(1, "g", 7, 1)], ddl)
        eng.create_stream(
            "src",
            schema=StreamSchema.from_spark(src.schema, primary_key=["pk"]),
            data=src,
        )
        eng.create_pipeline(
            "agg", "select grp, count(*) as n from iv4__src group by grp",
            activate=False,
        )
        root = os.path.join(eng.warehouse_dir, "_ivm_iv4__agg")

        real_init = il_mod.ivm_log_init

        def crashing_init(*a, **kw):
            raise RuntimeError("injected crash before view init")

        monkeypatch.setattr(il_mod, "ivm_log_init", crashing_init)
        with _pytest.raises(RuntimeError, match="injected"):
            eng.activate_pipeline_incremental("agg", order=["ts"])
        # snapshot landed, view log didn't, marker absent — NOT wedged:
        assert os.path.isdir(root) and not os.path.exists(
            os.path.join(root, "_init_done")
        )
        monkeypatch.setattr(il_mod, "ivm_log_init", real_init)
        eng.activate_pipeline_incremental("agg", order=["ts"])
        got = {(r["grp"], r["n"]) for r in eng.read_stream("agg").collect()}
        assert got == {("g", 1)}
        eng.cleanup()

    def test_many_activations_random_appends_converge(self, spark, tmp_path):
        """Engine-level endurance: five activation rounds over random keyed
        upserts/deletes (seeded), sink == recompute over the folded change
        log after every round — the init-protocol change must not disturb
        steady-state maintenance."""
        import random

        from dbt_decodable_spark.catalog import Engine
        from dbt_decodable_spark.schema import StreamSchema
        from dbt_decodable_spark.streaming.changelog import fold_last_image

        rng = random.Random(1009)
        eng = Engine(spark, namespace="iv5", warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        ddl = "pk long, grp string, val long, ts long"
        hist = [
            (pk, "g%d" % rng.randint(0, 4), rng.randint(0, 99), 1)
            for pk in range(20)
        ]
        src = spark.createDataFrame(hist, ddl)
        eng.create_stream(
            "src",
            schema=StreamSchema.from_spark(src.schema, primary_key=["pk"]),
            data=src,
        )
        eng.create_pipeline(
            "agg",
            "select grp, count(*) as n, sum(val) as sum_val "
            "from iv5__src group by grp",
            activate=False,
        )

        def want():
            folded = fold_last_image(
                spark.createDataFrame(hist, ddl), ["pk"],
                [F.col("ts"), F.col("pk")],
            )
            return sorted(
                tuple(r)
                for r in folded.groupBy("grp")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("sum_val"))
                .collect()
            )

        for ts in range(2, 7):
            eng.activate_pipeline_incremental("agg", order=["ts"])
            got = sorted(
                tuple(r) for r in eng.read_stream("agg").collect()
            )
            assert got == want(), f"diverged at round ts={ts - 1}"
            # unique pks within a batch: two same-pk ops at one ts would
            # tie on the full (ts, pk) order tuple and make fold winners
            # nondeterministic (the module contract requires a unique
            # tie-breaker) — the test would be seed-flaky, not wrong
            batch = [
                (pk, "g%d" % rng.randint(0, 4), rng.randint(0, 99), ts)
                for pk in rng.sample(range(30), rng.randint(1, 6))
            ]
            hist += batch
            spark.createDataFrame(batch, ddl).write.mode("append").parquet(
                eng.streams["iv5__src"].path
            )
            eng.refresh_stream("src")
        eng.activate_pipeline_incremental("agg", order=["ts"])
        assert sorted(
            tuple(r) for r in eng.read_stream("agg").collect()
        ) == want()
        eng.cleanup()

    def test_incremental_rejects_bucket_column_before_write(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        from dbt_decodable_spark.catalog import CatalogError, Engine
        from dbt_decodable_spark.schema import StreamSchema

        eng = Engine(spark, namespace="iv7", warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        src = spark.createDataFrame(
            [(1, "g", 2, 1, 0)], "pk long, grp string, val long, ts long, __bucket long"
        )
        eng.create_stream(
            "src",
            schema=StreamSchema.from_spark(src.schema, primary_key=["pk"]),
            data=src,
        )
        eng.create_pipeline(
            "agg", "select grp, count(*) as n from iv7__src group by grp",
            activate=False,
        )
        root = os.path.join(eng.warehouse_dir, "_ivm_iv7__agg")
        with _pytest.raises(CatalogError, match="__bucket"):
            eng.activate_pipeline_incremental("agg", order=["ts"])
        assert not os.path.isdir(root)  # nothing written, no offsets moved
        eng.cleanup()

    def test_incremental_rejects_non_change_stream(self, spark, tmp_path):
        import pytest

        from dbt_decodable_spark.catalog import CatalogError, Engine

        eng = Engine(spark, namespace="iv2", warehouse_dir=str(tmp_path / "wh"))
        src = spark.createDataFrame([(1, "a", 2, 1)], "pk long, grp string, val long, ts long")
        eng.create_stream("plain", data=src)  # no primary key declared
        eng.create_pipeline(
            "out", "select grp, count(*) as n from iv2__plain group by grp",
            activate=False,
        )
        with pytest.raises(CatalogError, match="primary_key"):
            eng.activate_pipeline_incremental("out", order=["ts"])
        eng.cleanup()


class TestIvmLogPlan:
    def test_generation_read_prunes_partition_directories(self, spark, tmp_path):
        """The append-time support-slice read must prune untouched
        __gbucket directories (PartitionFilters, not a data filter) —
        that is the term that keeps appends independent of |state|."""
        root = str(tmp_path / "view")
        snap = _df(
            spark,
            [(i, "g%d" % (i % 50), i % 7, i % 5, 1, False) for i in range(400)],
        ).localCheckpoint(eager=True)
        il.ivm_log_init(spark, root, snap, SPEC, delete_col="deleted", n_buckets=8)
        folded = il._fold(
            spark,
            il._sup_root(root, "val"),
            il.SKEY,
            ["__cnt"],
            [],
            base_filter=F.col(il.BUCKET).isin([3]),
        )
        plan = folded._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert il.BUCKET in plan.split("PartitionFilters")[1][:200]
        pushed = (
            plan.split("PushedFilters")[1][:200] if "PushedFilters" in plan else ""
        )
        assert il.BUCKET not in pushed

    def test_state_files_are_untouched_by_appends(self, spark, tmp_path):
        """Append-only means append-only: a maintenance batch must not
        rewrite a single byte of any state generation (inode pin)."""
        root, snap = TestIvmLogCompaction()._seed(spark, tmp_path)

        def inodes():
            out = {}
            for base, _, files in os.walk(root):
                if ".__deltas__" in base:
                    continue
                for f in files:
                    p = os.path.join(base, f)
                    st = os.stat(p)
                    out[p] = (st.st_ino, st.st_mtime_ns)
            return out

        before = inodes()
        _append(spark, root, snap, BATCH3, tag="2")
        assert inodes() == before


class TestReviewRound10:
    """Pins for the r10 review of this module: init refusal, the per-table
    replay guard, NULL-bucket pruning, and the pending-based compaction
    trigger."""

    def test_init_refuses_initialized_root(self, spark, tmp_path):
        import pytest as _pytest

        root = str(tmp_path / "view")
        snap = _df(spark, BATCH1).localCheckpoint(eager=True)
        il.ivm_log_init(spark, root, snap, SPEC, delete_col="deleted", n_buckets=8)
        with _pytest.raises(RuntimeError, match="committed generations"):
            il.ivm_log_init(
                spark, root, snap, SPEC, delete_col="deleted", n_buckets=8
            )

    def test_replay_after_external_compaction_no_double_count(
        self, spark, tmp_path
    ):
        """Crash between the support and agg appends, then an EXTERNAL
        compaction folds the orphaned support delta (its tag with it),
        then the batch replays: the agg-level tag check passes, so only
        the per-table guard keeps the replay from re-landing the folded
        support rows — doubled multiplicities would survive extremes
        checks until a later delete decrements 2→1 instead of 1→0 and the
        value never leaves min/max/count_distinct."""
        root = str(tmp_path / "view")
        snap = _df(spark, BATCH1).localCheckpoint(eager=True)
        il.ivm_log_init(spark, root, snap, SPEC, delete_col="deleted", n_buckets=8)
        batch = _df(spark, BATCH2)
        orig = il.append_delta
        calls = {"n": 0}

        def dying_append(spark_, base_path, df, tag=None, **kw):
            p = orig(spark_, base_path, df, tag=tag, **kw)
            calls["n"] += 1
            if calls["n"] == len(SPEC.support_cols()):
                raise RuntimeError("simulated crash before the agg append")
            return p

        il.append_delta = dying_append
        try:
            try:
                il.ivm_log_append(
                    spark, root, snap, batch, KEYS, ORDER, SPEC, tag="1"
                )
                raise AssertionError("crash did not fire")
            except RuntimeError as e:
                assert "simulated crash" in str(e)
        finally:
            il.append_delta = orig
        # external compaction folds the orphaned support deltas away
        il.ivm_log_compact(spark, root, SPEC, vacuum_horizon_seconds=0.0)
        # replay: must converge, not double the support multiplicities
        assert il.ivm_log_append(
            spark, root, snap, batch, KEYS, ORDER, SPEC, tag="1"
        )
        snap = merge_changes_ordered(snap, batch, KEYS, ORDER).localCheckpoint(
            eager=True
        )
        _check(spark, root, snap)
        # the doubled-count symptom: delete pk=4's row; its val must leave
        # the distinct count (a doubled multiplicity would keep it at 1)
        batch3 = _df(spark, [(4, "a", 8, 9, 20, True)])
        assert il.ivm_log_append(
            spark, root, snap, batch3, KEYS, ORDER, SPEC, tag="2"
        )
        snap = merge_changes_ordered(snap, batch3, KEYS, ORDER).localCheckpoint(
            eager=True
        )
        _check(spark, root, snap)

    def test_null_group_bucket_expr_extremes(self, spark, tmp_path):
        """A custom bucket_expr over a nullable group field sends the NULL
        group to a NULL partition value; the append path's base prune must
        match it null-safely — plain isin() never matches NULL and would
        recompute the group's extremes from post-watermark deltas only."""
        root = str(tmp_path / "view")
        # NULL-group rows with distinct vals: min_val must come from the
        # COMPACTED base after a later touch of the group
        init_rows = [
            (1, None, 5, 1, 1, False),
            (2, None, 9, 2, 1, False),
            (3, "a", 7, 3, 1, False),
        ]
        snap = _df(spark, init_rows).localCheckpoint(eager=True)
        il.ivm_log_init(
            spark, root, snap, SPEC, delete_col="deleted",
            bucket_expr="__g.grp",
        )
        # touch the NULL group (new row, val larger than the base min)
        batch = _df(spark, [(4, None, 30, 4, 2, False)])
        assert il.ivm_log_append(spark, root, snap, batch, KEYS, ORDER, SPEC, tag="0")
        snap = merge_changes_ordered(snap, batch, KEYS, ORDER).localCheckpoint(
            eager=True
        )
        _check(spark, root, snap)  # min_val of the NULL group must stay 5

    def test_stream_compaction_counts_pending_not_retained(
        self, spark, tmp_path
    ):
        """Folded deltas are retained for vacuum_horizon_seconds plus the
        permanent sequence floor; the streaming compaction trigger must
        count PENDING deltas or every post-first-compaction batch pays a
        full O(|state|) generation publish."""
        from dbt_decodable_spark.streaming.changelog import (
            write_hash_partitioned,
        )
        from dbt_decodable_spark.operators.versions import list_versions

        root = str(tmp_path / "view")
        snap_path = str(tmp_path / "snap")
        init = _df(spark, [(i, "g%d" % (i % 3), i, i % 3, 0, False) for i in range(6)])
        write_hash_partitioned(init, snap_path, ["pk"], 4)
        il.ivm_log_init(
            spark, root,
            spark.read.parquet(snap_path).drop("__bucket"),
            SPEC, delete_col="deleted", n_buckets=8,
        )
        src = str(tmp_path / "src")
        for j in range(4):
            _df(
                spark, [(100 + j, "g%d" % (j % 3), 50 + j, j, j + 1, False)]
            ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(init.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # default vacuum horizon (600 s): folded deltas stay on disk
        q = (
            il.stream_maintain_view(
                stream, root, snap_path, KEYS, ORDER, SPEC, compact_every=2
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # 4 batches, threshold 2 → compactions after batches 1 and 3 only:
        # v=0 (init) + 2 compaction generations. A retained-delta-counting
        # trigger would compact after batches 2 and 3 as well.
        gens = list_versions(il._agg_root(root))
        assert len(gens) == 3, f"expected init + 2 compactions, got v={gens}"
        merged = merge_changes_ordered(
            spark.read.parquet(snap_path).drop("__bucket"),
            spark.read.parquet(src),
            KEYS, ORDER,
        )
        _check(spark, root, merged)
