"""Cascaded IVM (operators/ivm_dag.py + Engine.activate_pipeline_dag_incremental).

Ground truth is always the declarative recompute — fold both source change
streams to last images, join, aggregate — and the maintained two-stage DAG
must match it exactly after every activation: fact churn, dim payload
updates that MIGRATE facts between downstream groups (the retraction case a
naive rollup gets wrong), tombstones and resurrections, min/max/count
(distinct) support-table maintenance, multi-delta telescoping in one
downstream step, crash replay between the downstream append and the join
compaction, mid-init redo, and the compacted-past-watermark lag guard with
its rebuild recovery. A hypothesis sweep drives random keyed change logs
through random consumption points directly against the watermark protocol.
"""

import pytest as _pytest_tier

# Slow tier (VERDICT r13 item 1): cascaded-IVM protocol sweeps incl. hypothesis endurance runs —
# multi-minute file; deselected from the default fast tier by
# tests/conftest.py, run via SPARK_GRAFT_RUN_SLOW=1 or -m slow.
pytestmark = _pytest_tier.mark.slow

import os

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from dbt_decodable_spark.operators import ivm_dag
from dbt_decodable_spark.operators.ivm import AggViewSpec
from dbt_decodable_spark.operators.ivm_log import ivm_log_read
from dbt_decodable_spark.streaming.changelog import (
    append_delta,
    compact_and_vacuum,
    fold_last_image,
    write_hash_partitioned,
)

VIEW_SCHEMA = T.StructType(
    [
        T.StructField("pk", T.LongType(), False),
        T.StructField("grp", T.StringType(), True),
        T.StructField("val", T.LongType(), True),
        T.StructField("__seq", T.LongType(), False),
        T.StructField("__deleted", T.BooleanType(), False),
    ]
)

SPEC = AggViewSpec(
    group_cols=("grp",),
    count_star="n_rows",
    sums={"sum_val": "val"},
    mins={"min_val": "val"},
    maxs={"max_val": "val"},
    count_distincts={"n_vals": "val"},
)


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _vdf(spark, rows):
    return spark.createDataFrame(rows, VIEW_SCHEMA)


def _expected(spark, rows):
    """Declarative recompute: last image per pk by __seq, drop tombstones,
    aggregate."""
    live = fold_last_image(_vdf(spark, rows), ["pk"], [F.col("__seq")]).filter(
        ~F.col("__deleted")
    )
    return live.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("val").alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        F.countDistinct("val").alias("n_vals"),
    )


class TestWatermarkProtocol:
    """Direct tests of the consumption protocol over a hand-built view log
    (the downstream does not care the log came from a join)."""

    def _mklog(self, spark, tmp_path, base_rows):
        view_log = str(tmp_path / "view")
        write_hash_partitioned(_vdf(spark, base_rows), view_log, ["pk"], 4)
        return view_log

    def test_init_floor_and_single_step(self, spark, tmp_path):
        base = [(1, "a", 10, 0, False), (2, "a", 20, 0, False),
                (3, "b", 30, 0, False)]
        view_log = self._mklog(spark, tmp_path, base)
        root = str(tmp_path / "down")
        floor = ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        assert floor == 0
        assert ivm_dag.downstream_watermark(root) == 0
        assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
            _expected(spark, base)
        )
        # nothing pending → watermark unchanged, state unchanged
        assert ivm_dag.maintain_downstream(spark, root, view_log, ["pk"], SPEC) == 0

        d1 = [(1, "a", 11, 5, False), (4, "b", 40, 5, False),
              (2, "a", 20, 5, True)]
        append_delta(spark, view_log, _vdf(spark, d1), tag="5")
        w = ivm_dag.maintain_downstream(spark, root, view_log, ["pk"], SPEC)
        assert w == 5
        assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
            _expected(spark, base + d1)
        )

    def test_telescoping_multi_delta_one_step(self, spark, tmp_path):
        """Several deltas touching the SAME key — update, tombstone,
        resurrection, group migration — consumed in one step must equal the
        sequential fold (intermediate images telescope away)."""
        base = [(1, "a", 10, 0, False), (2, "b", 5, 0, False)]
        view_log = self._mklog(spark, tmp_path, base)
        root = str(tmp_path / "down")
        ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        d1 = [(1, "a", 99, 10, False)]          # value spike (max support)
        d2 = [(1, "a", 99, 20, True)]           # tombstone
        d3 = [(1, "b", 7, 30, False),           # resurrect INTO group b
              (2, "b", 5, 30, True)]            # and tombstone the b row
        for i, d in enumerate((d1, d2, d3)):
            append_delta(spark, view_log, _vdf(spark, d), tag=str((i + 1) * 10))
        w = ivm_dag.maintain_downstream(spark, root, view_log, ["pk"], SPEC)
        assert w == 30
        got = _rows(ivm_log_read(spark, root, SPEC))
        assert got == _rows(_expected(spark, base + d1 + d2 + d3))
        # group "a" must be GONE (count 0 prunes the row) and b's max must
        # have retracted from 99 back down — the support-table path
        assert [g for g in got if g[0] == "a"] == []

    def test_replay_same_tag_noops(self, spark, tmp_path):
        """A crash after the downstream append replays the same pending
        slice with the same tag — counters must not double-count."""
        base = [(1, "a", 10, 0, False)]
        view_log = self._mklog(spark, tmp_path, base)
        root = str(tmp_path / "down")
        ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        append_delta(spark, view_log, _vdf(spark, [(2, "a", 5, 7, False)]), tag="7")
        assert ivm_dag.maintain_downstream(spark, root, view_log, ["pk"], SPEC) == 7
        # simulate the replay: watermark recomputation sees the landed tag,
        # so a second step finds nothing pending; even a FORCED re-append
        # with the same tag is a no-op inside ivm_log_append
        assert ivm_dag.maintain_downstream(spark, root, view_log, ["pk"], SPEC) == 7
        assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
            _expected(spark, base + [(2, "a", 5, 7, False)])
        )

    def test_lag_guard_and_rebuild(self, spark, tmp_path):
        """Compacting the view log past the downstream watermark must raise
        (silent wrong answers are the alternative), and the rebuild path
        recovers from the current view without upstream re-runs."""
        base = [(1, "a", 10, 0, False)]
        view_log = self._mklog(spark, tmp_path, base)
        root = str(tmp_path / "down")
        ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        d1 = [(2, "b", 20, 9, False)]
        append_delta(spark, view_log, _vdf(spark, d1), tag="9")
        # upstream compaction folds the unconsumed delta into the base
        compact_and_vacuum(spark, view_log, ["pk"], [F.col("__seq")], 4)
        with pytest.raises(ivm_dag.DownstreamLagError):
            ivm_dag.maintain_downstream(spark, root, view_log, ["pk"], SPEC)
        floor = ivm_dag.rebuild_downstream(spark, root, view_log, ["pk"], SPEC)
        assert floor == 9
        assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
            _expected(spark, base + d1)
        )
        # and the rebuilt root keeps consuming
        d2 = [(1, "a", 10, 12, True)]
        append_delta(spark, view_log, _vdf(spark, d2), tag="12")
        assert ivm_dag.maintain_downstream(spark, root, view_log, ["pk"], SPEC) == 12
        assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
            _expected(spark, base + d1 + d2)
        )

    def test_zero_contribution_slice_advances_watermark(
        self, spark, tmp_path
    ):
        """A pending slice that folds to ZERO contributions (the join arm
        emits redundant tombstones for keys dead on both sides of a batch)
        must still durably advance the watermark: before the fix the seqs
        stayed pending forever, and a later view-log compaction folded
        them into the base — a spurious DownstreamLagError and an
        O(|view|) rebuild for rows that changed nothing."""
        base = [(1, "a", 10, 0, False)]
        view_log = self._mklog(spark, tmp_path, base)
        root = str(tmp_path / "down")
        ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        # tombstone for a key that never existed: old image absent, new
        # image dead → empty contributions → no downstream delta
        append_delta(
            spark, view_log, _vdf(spark, [(99, "z", 0, 5, True)]), tag="5"
        )
        w = ivm_dag.maintain_downstream(spark, root, view_log, ["pk"], SPEC)
        assert w == 5
        assert ivm_dag.downstream_watermark(root) == 5, (
            "the consumed seq must be durably recorded even with no delta"
        )
        # the view log may now compact past seq 5 without a lag error
        compact_and_vacuum(spark, view_log, ["pk"], [F.col("__seq")], 4)
        assert ivm_dag.maintain_downstream(
            spark, root, view_log, ["pk"], SPEC
        ) == 5
        assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
            _expected(spark, base)
        )

    def test_rebuild_reseeds_emit_log(self, spark, tmp_path):
        """rebuild_downstream on an emitting root must re-seed the out
        log's floor image — the out log lives under the root and dies with
        it, and without the re-seed fold(out log) silently loses every
        group the post-rebuild steps don't touch."""
        base = [(1, "a", 10, 0, False), (2, "b", 20, 0, False)]
        view_log = self._mklog(spark, tmp_path, base)
        root = str(tmp_path / "down")
        out_log = os.path.join(root, "out")
        floor = ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        init_img = (
            ivm_log_read(spark, root, SPEC)
            .withColumn("__seq", F.lit(floor).cast("long"))
            .withColumn("__deleted", F.lit(False))
        )
        append_delta(spark, out_log, init_img, tag=str(floor))
        # unconsumed delta + compaction → lag → rebuild
        append_delta(
            spark, view_log, _vdf(spark, [(3, "a", 5, 9, False)]), tag="9"
        )
        compact_and_vacuum(spark, view_log, ["pk"], [F.col("__seq")], 4)
        with pytest.raises(ivm_dag.DownstreamLagError):
            ivm_dag.maintain_downstream(spark, root, view_log, ["pk"], SPEC)
        ivm_dag.rebuild_downstream(
            spark, root, view_log, ["pk"], SPEC, emit_log=out_log
        )
        from dbt_decodable_spark.streaming.changelog import list_deltas

        folded = (
            fold_last_image(
                spark.read.parquet(*list_deltas(out_log)),
                ["grp"], [F.col("__seq")],
            )
            .filter(~F.col("__deleted"))
            .drop("__seq", "__deleted")
        )
        assert _rows(folded) == _rows(ivm_log_read(spark, root, SPEC)), (
            "fold(out log) must equal the rebuilt view — untouched groups "
            "must not vanish from the change stream"
        )

    def test_downstream_compaction_trigger(self, spark, tmp_path):
        """compact_every folds the downstream log and the watermark
        survives compaction via the generation's max_tag."""
        base = [(1, "a", 10, 0, False)]
        view_log = self._mklog(spark, tmp_path, base)
        root = str(tmp_path / "down")
        ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        seq = 0
        rows = list(base)
        for i in range(4):
            seq += 10
            d = [(100 + i, "a", i, seq, False)]
            rows += d
            append_delta(spark, view_log, _vdf(spark, d), tag=str(seq))
            ivm_dag.maintain_downstream(
                spark, root, view_log, ["pk"], SPEC, compact_every=2
            )
        assert ivm_dag.downstream_watermark(root) == seq
        assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
            _expected(spark, rows)
        )

    def test_snapshot_slice_base_scan_shuffle_free(self, spark, tmp_path):
        """The 100 TB cost pin: the old-image lookup restricts the view base
        to the pending keys via a broadcast semi join — the base SCANS but
        never shuffles (the fold above operates on the batch-sized slice
        only). Without this every downstream step would key-shuffle the
        whole view."""
        from dbt_decodable_spark.operators.bucketing import scan_shuffle_free
        from dbt_decodable_spark.operators.ivm_dag import _slice_rows

        base_rows = [(i, "a", i, 0, False) for i in range(1, 200)]
        view_log = self._mklog(spark, tmp_path, base_rows)
        root = str(tmp_path / "down")
        ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        pend = [(5, "b", 1, 10, False), (999, "a", 2, 10, False)]
        append_delta(spark, view_log, _vdf(spark, pend), tag="10")
        base, drows = ivm_dag._view_rows(spark, view_log)
        sliced = _slice_rows(
            base, drows.filter(F.col("__seq") <= 0), ["pk"],
            drows.filter(F.col("__seq") > 0), True,
        )
        sliced.collect()  # materialize so AQE's executed plan is final
        assert scan_shuffle_free(sliced, "view"), (
            "view base must reach the semi join without an Exchange"
        )
        # and the sliced state still maintains correctly
        assert ivm_dag.maintain_downstream(spark, root, view_log, ["pk"], SPEC) == 10
        assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
            _expected(spark, base_rows + pend)
        )

    def test_footer_stats_guard_matches_scan(self, spark, tmp_path):
        """The lag guard's footer-statistics max(__seq) must equal the
        column scan on every layout this module writes (fresh base and a
        compacted one), and the guard must still fire through it."""
        from dbt_decodable_spark.operators.ivm_dag import _base_max_seq

        base = [(1, "a", 10, 0, False), (2, "b", 20, 0, False)]
        view_log = self._mklog(spark, tmp_path, base)
        assert _base_max_seq(view_log) == 0
        append_delta(spark, view_log, _vdf(spark, [(3, "a", 5, 8, False)]), tag="8")
        compact_and_vacuum(spark, view_log, ["pk"], [F.col("__seq")], 4)
        scan_max = (
            spark.read.parquet(view_log).agg(F.max("__seq")).collect()[0][0]
        )
        assert _base_max_seq(view_log) == scan_max == 8

    def test_no_broadcast_fallback_matches(self, spark, tmp_path):
        """broadcast_keys=False (oversized backlog) must produce the same
        maintained state through the shuffled semi join."""
        base_rows = [(1, "a", 10, 0, False), (2, "b", 20, 0, False)]
        view_log = self._mklog(spark, tmp_path, base_rows)
        root = str(tmp_path / "down")
        ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        d1 = [(1, "b", 11, 4, False), (3, "a", 9, 4, False)]
        append_delta(spark, view_log, _vdf(spark, d1), tag="4")
        ivm_dag.maintain_downstream(
            spark, root, view_log, ["pk"], SPEC, broadcast_keys=False
        )
        assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
            _expected(spark, base_rows + d1)
        )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(data=st.data())
    def test_random_logs_random_consumption(self, spark, tmp_path_factory, data):
        """Random keyed change log, random init point, random consumption
        boundaries: the maintained aggregate equals the recompute at every
        step."""
        tmp = tmp_path_factory.mktemp("dag")
        n_ops = data.draw(st.integers(3, 18))
        ops = []
        for i in range(n_ops):
            ops.append(
                (
                    data.draw(st.integers(1, 5)),                      # pk
                    data.draw(st.sampled_from(["a", "b", None])),      # grp
                    data.draw(st.one_of(st.none(), st.integers(0, 4))),  # val
                    (i + 1) * 10,                                      # __seq
                    data.draw(st.booleans()),                          # deleted
                )
            )
        # the join arm always writes a non-empty v0 (or none at all), so an
        # empty base snapshot is out of contract — draw at least one row
        n_base = data.draw(st.integers(1, min(3, n_ops)))
        # the base snapshot is a FOLD in every real init path (one image
        # per key) — keep the last image per pk, or duplicate-key seq-0
        # rows would violate the keyed-snapshot contract
        base_by_pk = {op[0]: op for op in ops[:n_base]}
        base = [(pk, g, v, 0, dl) for (pk, g, v, _, dl) in base_by_pk.values()]
        rest = ops[n_base:]
        view_log = str(tmp / "view")
        write_hash_partitioned(_vdf(spark, base), view_log, ["pk"], 4)
        root = str(tmp / "down")
        ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        seen = list(base)
        while rest:
            k = data.draw(st.integers(1, len(rest)))
            batch, rest = rest[:k], rest[k:]
            append_delta(
                spark, view_log, _vdf(spark, batch), tag=str(batch[-1][3])
            )
            seen += batch
            # consumption may lag by a delta or catch up — either way the
            # next step must land the full pending slice
            if data.draw(st.booleans()) or not rest:
                ivm_dag.maintain_downstream(
                    spark, root, view_log, ["pk"], SPEC, compact_every=3
                )
                assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
                    _expected(spark, seen)
                )


class TestAggChangeStream:
    """The maintained aggregate's OWN change stream
    (ivm_log.ivm_log_batch_changes + maintain_downstream(emit_log=...)):
    group-keyed upserts/tombstones that compose one level further — the
    depth-3 DAG (join view → rollup → rollup consumers). The folded
    emission must equal the maintained view after every batch, tombstones
    must appear exactly when a group empties, and the pre-append emission
    must be replay-stable (the crash-ordering contract)."""

    def _fold_emitted(self, spark, emitted_rows, schema):
        df = spark.createDataFrame(emitted_rows, schema)
        return fold_last_image(df, ["grp"], [F.col("__seq")]).filter(
            ~F.col("__deleted")
        ).drop("__seq", "__deleted")

    def test_emission_folds_to_view_and_tombstones(self, spark, tmp_path):
        from dbt_decodable_spark.operators.ivm_log import (
            ivm_log_append,
            ivm_log_batch_changes,
            ivm_log_init,
        )

        keys, order = ["pk"], [F.col("__seq")]
        base = [(1, "a", 10, 0, False), (2, "b", 5, 0, False),
                (3, None, 7, 0, False)]
        root = str(tmp_path / "state")
        ivm_log_init(
            spark, root, _vdf(spark, base), SPEC, delete_col="__deleted"
        )
        batches = [
            # group migration a→b + new NULL-group row
            [(1, "b", 99, 10, False), (4, None, None, 10, False)],
            # empty group b entirely (both members tombstoned)
            [(1, "b", 99, 20, True), (2, "b", 5, 20, True)],
            # resurrect into a fresh group
            [(2, "c", 1, 30, False)],
        ]
        seen = list(base)
        emitted: list = []
        out_schema = None
        for k, rows in enumerate(batches, start=1):
            b = _vdf(spark, rows)
            snap_before = fold_last_image(_vdf(spark, seen), keys, order)
            out = ivm_log_batch_changes(
                spark, root, snap_before, b, keys, order, SPEC, seq=k * 10
            )
            # replay stability: recomputing BEFORE the append is identical
            out2 = ivm_log_batch_changes(
                spark, root, snap_before, b, keys, order, SPEC, seq=k * 10
            )
            assert _rows(out) == _rows(out2)
            ivm_log_append(
                spark, root, snap_before, b, keys, order, SPEC, tag=str(k)
            )
            out_schema = out.schema
            emitted += [tuple(r) for r in out.collect()]
            seen += rows
            got = _rows(self._fold_emitted(spark, emitted, out_schema))
            want = _rows(_expected(spark, seen))
            assert got == want, f"emission diverged from view at batch {k}"
        # the b-emptying batch must have emitted a NULL-agg tombstone
        tombs = [r for r in emitted if r[-1] is True]
        assert any(r[0] == "b" and r[1] is None for r in tombs)

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(data=st.data())
    def test_emission_random_sweep(self, spark, tmp_path_factory, data):
        """Random keyed change batches: after every batch the FOLD of the
        cumulative emitted stream equals the maintained view (and the
        declarative recompute) — tombstone timing, NULL groups/values,
        resurrections and stale no-ops included."""
        from dbt_decodable_spark.operators.ivm_log import (
            ivm_log_append,
            ivm_log_batch_changes,
            ivm_log_init,
        )

        tmp = tmp_path_factory.mktemp("emit")
        keys, order = ["pk"], [F.col("__seq")]
        n_ops = data.draw(st.integers(3, 14))
        ops = [
            (
                data.draw(st.integers(1, 4)),
                data.draw(st.sampled_from(["a", "b", None])),
                data.draw(st.one_of(st.none(), st.integers(0, 3))),
                (i + 1) * 10,
                data.draw(st.booleans()),
            )
            for i in range(n_ops)
        ]
        n_base = data.draw(st.integers(1, min(3, n_ops)))
        # one image per key: the init snapshot is a fold in every real
        # path — duplicate-key seq-0 rows would violate its contract
        base_by_pk = {op[0]: op for op in ops[:n_base]}
        base = [(pk, g, v, 0, dl) for (pk, g, v, _, dl) in base_by_pk.values()]
        rest = ops[n_base:]
        root = str(tmp / "state")
        ivm_log_init(
            spark, root, _vdf(spark, base), SPEC, delete_col="__deleted"
        )
        seen = list(base)
        # the change log is self-contained only when seeded with the INIT
        # image (the engine arm lands it as the floor-seq batch) — emitted
        # batches carry touched groups only
        init_img = ivm_log_read(spark, root, SPEC).withColumn(
            "__seq", F.lit(0).cast("long")
        ).withColumn("__deleted", F.lit(False))
        emitted: list = [tuple(r) for r in init_img.collect()]
        # tombstone emissions carry NULL aggregate outputs — reconstruct
        # through an all-nullable copy of the schema
        out_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in init_img.schema]
        )
        k = 0
        while rest:
            k += 1
            n = data.draw(st.integers(1, len(rest)))
            batch, rest = rest[:n], rest[n:]
            snap_before = fold_last_image(_vdf(spark, seen), keys, order)
            out = ivm_log_batch_changes(
                spark, root, snap_before, _vdf(spark, batch), keys, order,
                SPEC, seq=batch[-1][3],
            )
            ivm_log_append(
                spark, root, snap_before, _vdf(spark, batch), keys, order,
                SPEC, tag=str(k),
            )
            emitted += [tuple(r) for r in out.collect()]
            seen += batch
            got = _rows(self._fold_emitted(spark, emitted, out_schema))
            assert got == _rows(_expected(spark, seen))

    def test_emission_null_bucket_layout(self, spark, tmp_path):
        """Custom bucket_expr over a nullable group field buckets the NULL
        group to a NULL partition value — the emission's touched-bucket
        prune must stay null-safe (parity with the append path's r10 fix),
        or the NULL group's pre-image/support base would silently vanish
        from the post-image recompute."""
        from dbt_decodable_spark.operators.ivm_log import (
            ivm_log_append,
            ivm_log_batch_changes,
            ivm_log_init,
        )

        keys, order = ["pk"], [F.col("__seq")]
        base = [(1, None, 3, 0, False), (2, None, 7, 0, False),
                (3, "a", 1, 0, False)]
        root = str(tmp_path / "state")
        ivm_log_init(
            spark, root, _vdf(spark, base), SPEC, delete_col="__deleted",
            bucket_expr="pmod(xxhash64(__g.grp), 4)",
        )
        # touch the NULL group: tombstone one member — the post image must
        # retract from the NULL-bucketed base, not from nothing
        b = [(1, None, 3, 10, True)]
        snap_before = fold_last_image(_vdf(spark, base), keys, order)
        out = ivm_log_batch_changes(
            spark, root, snap_before, _vdf(spark, b), keys, order, SPEC,
            seq=10,
        )
        got = _rows(out.drop("__seq", "__deleted"))
        assert got == _rows(
            _expected(spark, base + b).filter(F.col("grp").isNull())
        )
        ivm_log_append(
            spark, root, snap_before, _vdf(spark, b), keys, order, SPEC,
            tag="1",
        )
        assert _rows(ivm_log_read(spark, root, SPEC)) == _rows(
            _expected(spark, base + b)
        )

    def test_depth3_dag_emit_log(self, spark, tmp_path):
        """join-view change log → downstream rollup → the rollup's own
        emitted change log: folding the emitted stream equals the rollup
        view after every consumption step, and a same-tag replay of the
        emission dedupes in the out log."""
        from dbt_decodable_spark.streaming.changelog import (
            list_deltas,
            write_hash_partitioned,
        )

        view_log = str(tmp_path / "view")
        root = str(tmp_path / "down")
        out_log = str(tmp_path / "out")
        os.makedirs(out_log, exist_ok=True)
        base = [(1, "a", 10, 0, False), (2, "a", 20, 0, False)]
        write_hash_partitioned(_vdf(spark, base), view_log, ["pk"], 4)
        ivm_dag.init_downstream(spark, root, view_log, ["pk"], SPEC)
        seen = list(base)
        d1 = [(1, "b", 11, 5, False), (3, "a", 2, 5, False)]
        d2 = [(2, "a", 20, 9, True), (3, "a", 2, 9, True),
              (1, "b", 12, 9, False)]
        emitted: list = []
        out_schema = None
        for rows, tag in ((d1, "5"), (d2, "9")):
            append_delta(spark, view_log, _vdf(spark, rows), tag=tag)
            seen += rows
            ivm_dag.maintain_downstream(
                spark, root, view_log, ["pk"], SPEC, emit_log=out_log
            )
            got_out = spark.read.parquet(*list_deltas(out_log))
            out_schema = got_out.schema
            emitted = [tuple(r) for r in got_out.collect()]
            folded = self._fold_emitted(spark, emitted, out_schema)
            assert _rows(folded) == _rows(
                _expected(spark, seen)
            ), f"depth-3 emission diverged at seq {tag}"
        # group "a" emptied in the second step → its tombstone is in the log
        assert any(r[0] == "a" and r[-1] is True for r in emitted)
        # replay: same pending slice, same tag — the out log must not grow
        n_before = len(list_deltas(out_log))
        ivm_dag.maintain_downstream(
            spark, root, view_log, ["pk"], SPEC, emit_log=out_log
        )
        assert len(list_deltas(out_log)) == n_before


FACT_DDL = "pk long, fk long, qty long, ts long, deleted boolean"
DIM_DDL = "dk long, name string, tier long, ts long, deleted boolean"


class TestEngineDag:
    """The two-stage dbt model DAG through the engine front door."""

    def _setup(self, spark, tmp_path, f1, d1, ns="dg"):
        from dbt_decodable_spark.catalog import Engine
        from dbt_decodable_spark.schema import StreamSchema

        eng = Engine(spark, namespace=ns, warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        eng.create_stream(
            "fact",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(f1, FACT_DDL).schema, primary_key=["pk"]
            ),
            data=spark.createDataFrame(f1, FACT_DDL),
        )
        eng.create_stream(
            "dim",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(d1, DIM_DDL).schema, primary_key=["dk"]
            ),
            data=spark.createDataFrame(d1, DIM_DDL),
        )
        eng.create_pipeline(
            "enriched",
            f"select f.*, d.name as dim_name, d.tier as dim_tier "
            f"from {ns}__fact f left join {ns}__dim d on f.fk = d.dk",
            activate=False,
        )
        eng.create_pipeline(
            "rollup",
            f"select dim_tier, count(*) as n_rows, sum(qty) as sum_qty, "
            f"min(qty) as min_qty, max(qty) as max_qty "
            f"from {ns}__enriched group by dim_tier",
            activate=False,
        )
        return eng

    @staticmethod
    def _want(spark, f_rows, d_rows):
        from dbt_decodable_spark.operators.ivm_join import (
            JoinViewSpec,
            compute_join_view,
        )

        spec = JoinViewSpec(
            fact_keys=("pk",), fk_cols=("fk",), dim_keys=("dk",),
            dim_payload={"dim_name": "name", "dim_tier": "tier"},
        )
        ff = fold_last_image(
            spark.createDataFrame(f_rows, FACT_DDL), ["pk"],
            [F.col("ts"), F.col("pk")],
        )
        dd = fold_last_image(
            spark.createDataFrame(d_rows, DIM_DDL), ["dk"],
            [F.col("ts"), F.col("dk")],
        )
        view = compute_join_view(ff, dd, spec, "deleted", "deleted")
        return _rows(
            view.groupBy("dim_tier").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("qty").alias("sum_qty"),
                F.min("qty").alias("min_qty"),
                F.max("qty").alias("max_qty"),
            )
        )

    def _append(self, spark, eng, stream, rows, ddl):
        spark.createDataFrame(rows, ddl).write.mode("append").parquet(
            eng.streams[eng.qualify(stream)].path
        )
        eng.refresh_stream(stream)

    def _activate(self, eng, **kw):
        eng.activate_pipeline_dag_incremental(
            "rollup", "enriched",
            fact_order=["ts"], dim_order=["ts"],
            fact_delete_col="deleted", dim_delete_col="deleted",
            n_buckets=4, **kw,
        )

    def test_dag_rounds_match_recompute(self, spark, tmp_path):
        """Three activation rounds: init, fact churn + dim payload change
        migrating facts between downstream groups (retraction), tombstone +
        resurrection. Every round equals the declarative recompute."""
        f1 = [(1, 10, 5, 1, False), (2, 10, 7, 1, False),
              (3, 20, 9, 1, False), (4, 99, 2, 1, False)]
        d1 = [(10, "a", 1, 1, False), (20, "b", 2, 1, False)]
        eng = self._setup(spark, tmp_path, f1, d1)
        try:
            self._activate(eng)
            assert _rows(eng.read_stream("rollup")) == self._want(spark, f1, d1)

            # dim 10 moves tier 1 → 3: facts 1,2 must MIGRATE groups via
            # retraction; fact 2 tombstoned; new fact; fk retarget of 4
            f2 = [(2, 10, 7, 2, True), (5, 20, 1, 2, False),
                  (4, 20, 2, 2, False)]
            d2 = [(10, "a2", 3, 2, False)]
            self._append(spark, eng, "fact", f2, FACT_DDL)
            self._append(spark, eng, "dim", d2, DIM_DDL)
            self._activate(eng)
            assert _rows(eng.read_stream("rollup")) == self._want(
                spark, f1 + f2, d1 + d2
            )

            # resurrection of fact 2 into a different group + dim delete
            # (left-join null extension → NULL downstream group)
            f3 = [(2, 20, 8, 3, False)]
            d3 = [(20, "b", 2, 3, True)]
            self._append(spark, eng, "fact", f3, FACT_DDL)
            self._append(spark, eng, "dim", d3, DIM_DDL)
            self._activate(eng)
            assert _rows(eng.read_stream("rollup")) == self._want(
                spark, f1 + f2 + f3, d1 + d2 + d3
            )
        finally:
            eng.cleanup()

    def test_crash_between_downstream_and_compaction_replays(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash AFTER the downstream append, BEFORE join-log compaction:
        the re-run replays the join batches (view appends dedupe by tag)
        and the downstream step no-ops on its own tag — converged, never
        double-counted."""
        from dbt_decodable_spark.catalog import Engine

        f1 = [(1, 10, 5, 1, False)]
        d1 = [(10, "a", 1, 1, False)]
        eng = self._setup(spark, tmp_path, f1, d1, ns="dgc")
        try:
            self._activate(eng)
            f2 = [(2, 10, 3, 2, False)]
            self._append(spark, eng, "fact", f2, FACT_DDL)

            boom = RuntimeError("crash before join compaction")

            def _crash(*a, **kw):
                raise boom

            monkeypatch.setattr(Engine, "_compact_node", _crash)
            with pytest.raises(RuntimeError, match="crash before join"):
                self._activate(eng, compact_min_deltas=1)
            monkeypatch.undo()
            self._activate(eng, compact_min_deltas=1)
            assert _rows(eng.read_stream("rollup")) == self._want(
                spark, f1 + f2, d1
            )
        finally:
            eng.cleanup()

    def test_mid_init_crash_redoes(self, spark, tmp_path):
        """A downstream root without the init marker (crash between
        ivm_log_init's publishes and the marker write) is cleared and
        re-initialized — never adopted half-built, never double-counted."""
        f1 = [(1, 10, 5, 1, False), (3, 20, 9, 1, False)]
        d1 = [(10, "a", 1, 1, False), (20, "b", 2, 1, False)]
        eng = self._setup(spark, tmp_path, f1, d1, ns="dgi")
        try:
            # simulate the crash: run ONLY the join stage + a partial init
            eng.activate_pipeline_join_incremental(
                "enriched", fact_order=["ts"], dim_order=["ts"],
                fact_delete_col="deleted", dim_delete_col="deleted",
                n_buckets=4, compact=False,
            )
            jroot = os.path.join(eng.warehouse_dir, "_ivmj_dgi__enriched")
            droot = os.path.join(eng.warehouse_dir, "_ivmd_dgi__rollup")
            ivm_dag.init_downstream(
                spark, droot, os.path.join(jroot, "view"), ["pk"],
                AggViewSpec(group_cols=("dim_tier",), count_star="n_rows",
                            sums={"sum_qty": "qty"}, mins={"min_qty": "qty"},
                            maxs={"max_qty": "qty"}),
            )  # marker NOT written — the activation must redo, not adopt
            self._activate(eng)
            assert _rows(eng.read_stream("rollup")) == self._want(spark, f1, d1)
        finally:
            eng.cleanup()

    def test_two_downstreams_one_upstream(self, spark, tmp_path):
        """Two aggregate models over one maintained join: each keeps its own
        watermark; activating both per round stays consistent as long as
        view compaction does not outrun the laggard (deferred here via the
        delta threshold)."""
        f1 = [(1, 10, 5, 1, False), (2, 20, 7, 1, False)]
        d1 = [(10, "a", 1, 1, False), (20, "b", 2, 1, False)]
        eng = self._setup(spark, tmp_path, f1, d1, ns="dg2")
        try:
            eng.create_pipeline(
                "byname",
                "select dim_name, count(*) as n_rows, sum(qty) as sum_qty "
                "from dg2__enriched group by dim_name",
                activate=False,
            )
            self._activate(eng, compact_min_deltas=100)
            eng.activate_pipeline_dag_incremental(
                "byname", "enriched",
                fact_order=["ts"], dim_order=["ts"],
                fact_delete_col="deleted", dim_delete_col="deleted",
                n_buckets=4, compact_min_deltas=100,
            )
            f2 = [(1, 20, 6, 2, False), (3, 10, 4, 2, False)]
            self._append(spark, eng, "fact", f2, FACT_DDL)
            self._activate(eng, compact_min_deltas=100)
            eng.activate_pipeline_dag_incremental(
                "byname", "enriched",
                fact_order=["ts"], dim_order=["ts"],
                fact_delete_col="deleted", dim_delete_col="deleted",
                n_buckets=4, compact_min_deltas=100,
            )
            assert _rows(eng.read_stream("rollup")) == self._want(
                spark, f1 + f2, d1
            )
            want_byname = _rows(
                spark.createDataFrame(
                    [("a", 1, 4), ("b", 2, 13)],
                    "dim_name string, n_rows long, sum_qty long",
                )
            )
            assert _rows(eng.read_stream("byname")) == want_byname
        finally:
            eng.cleanup()

    def test_endurance_random_two_sided_churn(self, spark, tmp_path):
        """Engine-level endurance: six DAG activation rounds over seeded
        random churn on BOTH sides (fact upserts/tombstones, dim payload
        updates/deletes) with aggressive compaction on every log
        (compact_min_deltas=2, agg_compact_every=2), so view compaction,
        downstream generation publishes, epoch bumps and the watermark
        protocol interleave across activations. Sink == the declarative
        recompute after every round."""
        import random

        rng = random.Random(20260815)
        f1 = [(pk, rng.choice([10, 20, 30]), rng.randint(0, 99), 1, False)
              for pk in range(12)]
        d1 = [(dk, "n%d" % dk, dk // 10, 1, False) for dk in (10, 20, 30)]
        eng = self._setup(spark, tmp_path, f1, d1, ns="dge")
        f_hist, d_hist = list(f1), list(d1)
        try:
            kw = {"compact_min_deltas": 2, "agg_compact_every": 2}
            self._activate(eng, **kw)
            assert _rows(eng.read_stream("rollup")) == self._want(
                spark, f_hist, d_hist
            )
            for ts in range(2, 8):
                # unique pks per batch (the order tuple needs a unique
                # tie-breaker within one ts, same as the aggregate arm's
                # endurance test)
                fb = [
                    (pk, rng.choice([10, 20, 30, 99]), rng.randint(0, 99),
                     ts, rng.random() < 0.25)
                    for pk in rng.sample(range(18), rng.randint(1, 5))
                ]
                self._append(spark, eng, "fact", fb, FACT_DDL)
                f_hist += fb
                if rng.random() < 0.6:
                    dk = rng.choice([10, 20, 30])
                    db = [(dk, "n%d_%d" % (dk, ts), rng.randint(0, 9), ts,
                           rng.random() < 0.2)]
                    self._append(spark, eng, "dim", db, DIM_DDL)
                    d_hist += db
                self._activate(eng, **kw)
                assert _rows(eng.read_stream("rollup")) == self._want(
                    spark, f_hist, d_hist
                ), f"diverged at activation ts={ts}"
        finally:
            eng.cleanup()

    def test_endurance_emission_with_out_log_compaction(
        self, spark, tmp_path
    ):
        """Six emitting DAG rounds over seeded random two-sided churn with
        out-log compaction interleaved every other round (on top of the
        aggressive state/view compaction): fold(out log) == rollup after
        every round — the floor image, the post-floor deltas and fresh
        emissions keep composing under churn, group migration and
        tombstones."""
        import random

        rng = random.Random(20260816)
        f1 = [(pk, rng.choice([10, 20, 30]), rng.randint(0, 99), 1, False)
              for pk in range(12)]
        d1 = [(dk, "n%d" % dk, dk // 10, 1, False) for dk in (10, 20, 30)]
        eng = self._setup(spark, tmp_path, f1, d1, ns="dgo")
        f_hist, d_hist = list(f1), list(d1)

        def fold_out():
            ch = eng.read_pipeline_changes("rollup")
            return _rows(
                fold_last_image(ch, ["dim_tier"], [F.col("__seq")])
                .filter(~F.col("__deleted"))
                .drop("__seq", "__deleted")
            )

        try:
            kw = {"compact_min_deltas": 2, "agg_compact_every": 2,
                  "emit_changes": True}
            self._activate(eng, **kw)
            assert fold_out() == _rows(eng.read_stream("rollup"))
            for ts in range(2, 8):
                fb = [
                    (pk, rng.choice([10, 20, 30, 99]), rng.randint(0, 99),
                     ts, rng.random() < 0.25)
                    for pk in rng.sample(range(18), rng.randint(1, 5))
                ]
                self._append(spark, eng, "fact", fb, FACT_DDL)
                f_hist += fb
                if rng.random() < 0.6:
                    dk = rng.choice([10, 20, 30])
                    db = [(dk, "n%d_%d" % (dk, ts), rng.randint(0, 9), ts,
                           rng.random() < 0.2)]
                    self._append(spark, eng, "dim", db, DIM_DDL)
                    d_hist += db
                self._activate(eng, **kw)
                want = self._want(spark, f_hist, d_hist)
                assert _rows(eng.read_stream("rollup")) == want
                assert fold_out() == want, f"out log diverged at ts={ts}"
                if ts % 2 == 0:
                    eng.compact_pipeline_changes("rollup")
                    assert fold_out() == want, (
                        f"out log diverged after compaction at ts={ts}"
                    )
        finally:
            eng.cleanup()

    def test_emit_changes_depth3_front_door(self, spark, tmp_path):
        """emit_changes=True maintains the rollup's own change log through
        the engine: fold(emitted) == the rollup sink after every
        activation, a group that empties gets its tombstone, and enabling
        emission on an already-initialized root raises (the init image is
        unrecoverable later)."""
        from dbt_decodable_spark.catalog import CatalogError

        f1 = [(1, 10, 5, 1, False), (2, 20, 7, 1, False),
              (3, 20, 9, 1, False)]
        d1 = [(10, "a", 1, 1, False), (20, "b", 2, 1, False)]
        eng = self._setup(spark, tmp_path, f1, d1, ns="dg3")
        try:
            self._activate(eng, emit_changes=True)

            def fold_out():
                ch = eng.read_pipeline_changes("rollup")
                return (
                    fold_last_image(ch, ["dim_tier"], [F.col("__seq")])
                    .filter(~F.col("__deleted"))
                    .drop("__seq", "__deleted")
                )

            assert _rows(fold_out()) == _rows(eng.read_stream("rollup"))

            # empty tier 2 entirely (both facts tombstoned) + new tier-1 fact
            f2 = [(2, 20, 7, 2, True), (3, 20, 9, 2, True),
                  (4, 10, 1, 2, False)]
            self._append(spark, eng, "fact", f2, FACT_DDL)
            self._activate(eng, emit_changes=True)
            assert _rows(fold_out()) == _rows(eng.read_stream("rollup"))
            emitted = [tuple(r) for r in eng.read_pipeline_changes("rollup").collect()]
            assert any(r[0] == 2 and r[-1] is True for r in emitted), (
                "tier-2 emptied — its tombstone must be in the change log"
            )
        finally:
            eng.cleanup()

        # late enablement on an emission-less root must raise
        eng2 = self._setup(spark, tmp_path / "late", f1, d1, ns="dg3b")
        try:
            self._activate(eng2)
            with pytest.raises(CatalogError, match="FIRST activation"):
                self._activate(eng2, emit_changes=True)
        finally:
            eng2.cleanup()

    def test_out_log_compaction(self, spark, tmp_path):
        """Kafka-style compaction of the emitted change log
        (compact_pipeline_changes): the out log stops growing with history
        — the emitted prefix folds into one live-rows-only floor image —
        while fold(out) == rollup holds unchanged, tombstoned groups
        disappear from a fresh consumer's bootstrap, and emission keeps
        appending (and folding correctly) afterwards."""
        from dbt_decodable_spark.streaming.changelog import list_deltas

        f1 = [(1, 10, 5, 1, False), (2, 20, 7, 1, False),
              (3, 20, 9, 1, False)]
        d1 = [(10, "a", 1, 1, False), (20, "b", 2, 1, False)]
        eng = self._setup(spark, tmp_path, f1, d1, ns="dgc")
        out_log = os.path.join(eng.warehouse_dir, "_ivmd_dgc__rollup", "out")

        def fold_out():
            ch = eng.read_pipeline_changes("rollup")
            return _rows(
                fold_last_image(ch, ["dim_tier"], [F.col("__seq")])
                .filter(~F.col("__deleted"))
                .drop("__seq", "__deleted")
            )

        try:
            self._activate(eng, emit_changes=True)
            # two change rounds: empty tier 2 entirely (tombstone), add to 1
            f2 = [(2, 20, 7, 2, True), (3, 20, 9, 2, True),
                  (4, 10, 1, 2, False)]
            self._append(spark, eng, "fact", f2, FACT_DDL)
            self._activate(eng, emit_changes=True)
            f3 = [(5, 10, 3, 3, False)]
            self._append(spark, eng, "fact", f3, FACT_DDL)
            self._activate(eng, emit_changes=True)
            assert len(list_deltas(out_log)) >= 3
            before = fold_out()
            assert before == _rows(eng.read_stream("rollup"))

            stats = eng.compact_pipeline_changes("rollup")
            assert stats["floor"] is not None and stats["live_rows"] > 0
            assert len(list_deltas(out_log)) == 1
            assert fold_out() == before, "fold(out) changed under compaction"
            # fresh-consumer bootstrap: the tombstoned tier-2 group is GONE
            # from the raw compacted log, not present-as-tombstone
            raw = [tuple(r) for r in eng.read_pipeline_changes("rollup").collect()]
            assert all(r[0] != 2 for r in raw)
            assert all(r[-1] is False for r in raw), "floor image is live-only"

            # emission continues over the compacted log
            f4 = [(1, 10, 5, 4, True)]
            self._append(spark, eng, "fact", f4, FACT_DDL)
            self._activate(eng, emit_changes=True)
            assert fold_out() == _rows(eng.read_stream("rollup"))
        finally:
            eng.cleanup()

    def test_out_log_compaction_crash_between_commit_and_deletes(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash after the floor image committed but before the folded
        files were deleted: the duplicated rows fold to the same winners,
        and the retry completes the deletes without ever deleting the
        committed floor image (its re-append no-ops by tag)."""
        import shutil as _shutil

        from dbt_decodable_spark.streaming.changelog import list_deltas

        f1 = [(1, 10, 5, 1, False), (2, 20, 7, 1, False)]
        d1 = [(10, "a", 1, 1, False), (20, "b", 2, 1, False)]
        eng = self._setup(spark, tmp_path, f1, d1, ns="dgx")
        out_log = os.path.join(eng.warehouse_dir, "_ivmd_dgx__rollup", "out")

        def fold_out():
            ch = eng.read_pipeline_changes("rollup")
            return _rows(
                fold_last_image(ch, ["dim_tier"], [F.col("__seq")])
                .filter(~F.col("__deleted"))
                .drop("__seq", "__deleted")
            )

        try:
            self._activate(eng, emit_changes=True)
            f2 = [(3, 20, 2, 2, False)]
            self._append(spark, eng, "fact", f2, FACT_DDL)
            self._activate(eng, emit_changes=True)
            before = fold_out()

            real_rmtree = _shutil.rmtree

            def crashing_rmtree(path, *a, **kw):
                if os.path.basename(str(path)).startswith("delta-"):
                    raise RuntimeError("simulated crash before delete")
                return real_rmtree(path, *a, **kw)

            with monkeypatch.context() as mp:
                mp.setattr(_shutil, "rmtree", crashing_rmtree)
                with pytest.raises(RuntimeError, match="simulated crash"):
                    eng.compact_pipeline_changes("rollup")
            # floor image + originals coexist: fold unchanged
            assert fold_out() == before
            stats = eng.compact_pipeline_changes("rollup")  # the retry
            assert stats["floor"] is not None
            assert len(list_deltas(out_log)) == 1
            assert fold_out() == before
        finally:
            eng.cleanup()

    def test_dag_shape_validation(self, spark, tmp_path):
        """The downstream must aggregate the upstream's sink — anything
        else is a mis-wired DAG and raises before any write."""
        from dbt_decodable_spark.catalog import CatalogError

        f1 = [(1, 10, 5, 1, False)]
        d1 = [(10, "a", 1, 1, False)]
        eng = self._setup(spark, tmp_path, f1, d1, ns="dgv")
        try:
            eng.create_pipeline(
                "wrong",
                "select tier, count(*) as n from dgv__dim group by tier",
                activate=False,
            )
            with pytest.raises(CatalogError, match="sink stream"):
                eng.activate_pipeline_dag_incremental(
                    "wrong", "enriched",
                    fact_order=["ts"], dim_order=["ts"],
                )
        finally:
            eng.cleanup()
