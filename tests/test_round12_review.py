"""Round-12 pins for the four r11 ADVICE findings, each verified fixed:

1. (medium) ``compact_change_log``: a fold whose keys ALL ended tombstoned
   committed no ``compacted-<floor>-`` image — the floor became
   unrecoverable, so a lagging pure-delta consumer passed the
   ``DownstreamLagError`` guard after its tombstones were already dropped.
   Now the marker delta is committed even when empty (schema anchor +
   name-recoverable floor) AND the floor is durably recorded in a
   ``_compaction_floor`` file beside the log (survives the marker itself
   being folded away or externally swept).
2. ``ivm_dag._view_rows`` raised "nothing was ever emitted" for a log that
   legitimately compacted to zero retained rows. The compaction's schema
   anchor keeps such logs readable; an externally-swept log now gets a
   distinct "schema unrecoverable" error, and a fully-caught-up
   ``maintain_downstream`` no-ops over it instead of crashing.
3. ``ivm_temporal`` stacked internal columns (``__vf``/``__dk``/
   ``__new_vf``/``__probe_fk``) onto user frames with no reserved-name
   guard — a colliding fact/dim column made the range probe silently
   ambiguous. Both entry points now fail fast, like the catalog's
   ``__g``/``__k`` check.
4. ``run_temporal_asof_bounded``'s timeout path rmtree'd the scratch dir
   while the just-stopped query's in-flight tasks could still be writing
   into it (worst case: partial re-creation after deletion = a leak). The
   stop now blocks on full termination before cleanup.
"""

import glob
import os

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from dbt_decodable_spark.operators import ivm_dag
from dbt_decodable_spark.operators.ivm import AggViewSpec
from dbt_decodable_spark.streaming.changelog import (
    append_delta,
    compact_change_log,
    fold_last_image,
    list_deltas,
    log_compaction_floor,
)

DDL = "k long, v string, __seq long, __deleted boolean"
SPEC = AggViewSpec(group_cols=("v",), count_star="n_rows")


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _append(spark, log, rows):
    append_delta(spark, log, spark.createDataFrame(rows, DDL))


class TestFullyTombstonedCompactionFloor:
    """ADVICE r11 #1 (medium) + #2: the n_live == 0 fold."""

    def _tombstoned_log(self, spark, tmp_path):
        """Pure-delta log (no base snapshot) whose single key ends dead."""
        log = str(tmp_path / "out")
        _append(spark, log, [(1, "a", 1, False)])
        _append(spark, log, [(1, None, 2, True)])
        return log

    def test_empty_fold_keeps_floor_and_schema(self, spark, tmp_path):
        log = self._tombstoned_log(spark, tmp_path)
        out = compact_change_log(spark, log, ["k"])
        assert out["floor"] == 2 and out["live_rows"] == 0
        # the floor survives in the durable record file
        assert log_compaction_floor(log) == 2
        retained = list_deltas(log)
        assert len(retained) == 1, "empty marker = the log's schema anchor"
        # the log stays consumable: empty view, schema intact
        base, drows = ivm_dag._view_rows(spark, log)
        assert set(drows.columns) == {"k", "v", "__seq", "__deleted"}
        assert drows.count() == 0 and base.count() == 0

    def test_lagging_consumer_still_caught(self, spark, tmp_path):
        """The exact scenario the guard exists for: a consumer parked at
        w=1 never saw the seq-2 tombstone the fold dropped."""
        log = self._tombstoned_log(spark, tmp_path)
        compact_change_log(spark, log, ["k"])
        root = str(tmp_path / "down")
        os.makedirs(root)
        ivm_dag._write_floor(root, 1)  # parked below the floor
        with pytest.raises(ivm_dag.DownstreamLagError):
            ivm_dag.maintain_downstream(spark, root, log, ["k"], SPEC)

    def test_lag_guard_survives_marker_sweep(self, spark, tmp_path):
        """Even with the marker delta externally deleted (zero retained
        deltas), the durable record still fails the parked consumer —
        the pre-fix shape silently returned floor 0 here."""
        import shutil

        log = self._tombstoned_log(spark, tmp_path)
        compact_change_log(spark, log, ["k"])
        for p in list_deltas(log):
            shutil.rmtree(p)
        assert list_deltas(log) == []
        assert log_compaction_floor(log) == 2
        root = str(tmp_path / "down")
        os.makedirs(root)
        ivm_dag._write_floor(root, 1)
        with pytest.raises(ivm_dag.DownstreamLagError):
            ivm_dag.maintain_downstream(spark, root, log, ["k"], SPEC)

    def test_caught_up_consumer_noops_not_crashes(self, spark, tmp_path):
        """ADVICE r11 #2: a fully-caught-up downstream over a log with zero
        retained deltas must no-op (return its watermark), not raise
        FileNotFoundError."""
        import shutil

        log = self._tombstoned_log(spark, tmp_path)
        compact_change_log(spark, log, ["k"])
        for p in list_deltas(log):
            shutil.rmtree(p)
        root = str(tmp_path / "down")
        os.makedirs(root)
        ivm_dag._write_floor(root, 2)  # consumed everything ever emitted
        assert (
            ivm_dag.maintain_downstream(spark, root, log, ["k"], SPEC) == 2
        )

    def test_view_rows_error_distinguishes_swept_from_missing(
        self, spark, tmp_path
    ):
        import shutil

        log = self._tombstoned_log(spark, tmp_path)
        compact_change_log(spark, log, ["k"])
        for p in list_deltas(log):
            shutil.rmtree(p)
        with pytest.raises(FileNotFoundError, match="unrecoverable"):
            ivm_dag._view_rows(spark, log)
        with pytest.raises(FileNotFoundError, match="never was emitted|nothing was ever emitted"):
            ivm_dag._view_rows(spark, str(tmp_path / "no_such_log"))

    def test_recompaction_over_empty_marker(self, spark, tmp_path):
        """Life after a fully-tombstoned fold: a new live delta plus the
        empty marker fold into a fresh floor image; the record advances."""
        log = self._tombstoned_log(spark, tmp_path)
        compact_change_log(spark, log, ["k"])
        _append(spark, log, [(2, "b", 3, False)])
        out = compact_change_log(spark, log, ["k"])
        assert out["floor"] == 3 and out["live_rows"] == 1
        assert log_compaction_floor(log) == 3
        got = _rows(
            fold_last_image(
                spark.read.parquet(*list_deltas(log)), ["k"], [F.col("__seq")]
            )
            .filter(~F.col("__deleted"))
            .select("k", "v")
        )
        assert got == [(2, "b")]

    def test_all_empty_deltas_keep_schema_anchor(self, spark, tmp_path):
        """The not-known branch (every retained delta holds zero rows) must
        keep one delta as the schema anchor, not sweep the log bare."""
        log = str(tmp_path / "out")
        empty = spark.createDataFrame([], DDL)
        append_delta(spark, log, empty)
        append_delta(spark, log, empty)
        out = compact_change_log(spark, log, ["k"])
        assert out["floor"] is None and len(out["folded"]) == 1
        assert len(list_deltas(log)) == 1
        _, drows = ivm_dag._view_rows(spark, log)
        assert drows.count() == 0
        assert set(drows.columns) == {"k", "v", "__seq", "__deleted"}


class TestTemporalReservedNames:
    """ADVICE r11 #3: fail fast on internal-name collisions."""

    def _spec(self):
        from dbt_decodable_spark.operators.ivm_temporal import TemporalJoinSpec

        return TemporalJoinSpec(
            fact_keys=("pk",), fk_col="fk", dim_key="dk", fact_ts="ts",
            valid_from="vfrom", payload={"seg_at_ts": "seg"},
        )

    def test_init_rejects_reserved_fact_column(self, spark):
        from dbt_decodable_spark.operators.ivm_temporal import (
            init_temporal_join_state,
        )

        fact = spark.createDataFrame(
            [(1, 10, 100, 0)], "pk long, fk long, ts long, __vf long"
        )
        dim = spark.createDataFrame([(10, "a", 0)], "dk long, seg string, vfrom long")
        with pytest.raises(ValueError, match="reserved temporal-join"):
            init_temporal_join_state(fact, dim, self._spec())

    def test_maintain_rejects_reserved_dim_batch_column(self, spark):
        from dbt_decodable_spark.operators.ivm_temporal import (
            init_temporal_join_state,
            maintain_temporal_join,
        )

        fact = spark.createDataFrame(
            [(1, 10, 100, 0)], "pk long, fk long, ts long, ver long"
        )
        dim = spark.createDataFrame([(10, "a", 0)], "dk long, seg string, vfrom long")
        state = init_temporal_join_state(fact, dim, self._spec())
        bad_batch = spark.createDataFrame(
            [(10, "b", 5, 1)], "dk long, seg string, vfrom long, __dk long"
        )
        with pytest.raises(ValueError, match="reserved temporal-join"):
            maintain_temporal_join(
                state, None, bad_batch, ["ver", "pk"], self._spec()
            )


class TestMergeOnReadPruneFold:
    """r12 (VERDICT r11 item 5): the per-batch state read folds ONLY the
    delta-touched keys; untouched base rows stream through a broadcast
    anti probe with no shuffle. Equivalence to the full fold is exact by
    the ≤1-row/key snapshot invariant."""

    DDL = "k long, grp string, v long, seq long, dead boolean"

    def _table(self, spark, tmp_path, base_rows, deltas):
        from dbt_decodable_spark.streaming.changelog import (
            append_delta,
            write_hash_partitioned,
        )

        path = str(tmp_path / "state")
        write_hash_partitioned(
            spark.createDataFrame(base_rows, self.DDL), path, ["k"], 4
        )
        for rows in deltas:
            append_delta(spark, path, spark.createDataFrame(rows, self.DDL))
        return path

    BASE = [(i, "a", i * 10, 0, False) for i in range(1, 50)] + [
        (50, "t", 500, 0, True)  # a tombstone already in the base
    ]
    DELTAS = [
        # update, resurrection of the base tombstone, new key
        [(5, "b", 1, 1, False), (50, "r", 2, 1, False), (99, "n", 3, 1, False)],
        # late (older-seq) no-op, tombstone of an untouched-by-d1 key
        [(5, "stale", 0, 0, False), (7, "a", 70, 2, True)],
    ]

    @pytest.mark.parametrize("tomb", [True, False])
    def test_pruned_equals_full_fold(self, spark, tmp_path, tomb):
        from dbt_decodable_spark.streaming.changelog import read_merged

        path = self._table(spark, tmp_path, self.BASE, self.DELTAS)
        kw = dict(include_tombstones=tomb, delete_col="dead")
        full = read_merged(spark, path, ["k"], [F.col("seq"), F.col("k")], **kw)
        pruned = read_merged(
            spark, path, ["k"], [F.col("seq"), F.col("k")],
            prune_fold=True, **kw,
        )
        assert _rows(pruned) == _rows(full)

    def test_untouched_base_scan_shuffle_free(self, spark, tmp_path):
        from dbt_decodable_spark.operators.bucketing import scan_shuffle_free
        from dbt_decodable_spark.streaming.changelog import read_merged

        path = self._table(spark, tmp_path, self.BASE, self.DELTAS)
        out = read_merged(
            spark, path, ["k"], [F.col("seq"), F.col("k")],
            include_tombstones=True, delete_col="dead", prune_fold=True,
        )
        out.collect()
        assert scan_shuffle_free(out, "state"), (
            "the untouched slice of the base must reach the union without "
            "an Exchange"
        )

    def test_no_deltas_and_evolution_modes(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import (
            append_delta,
            read_merged,
        )

        path = self._table(spark, tmp_path, self.BASE, [])
        full = read_merged(spark, path, ["k"], [F.col("seq")], delete_col="dead")
        pruned = read_merged(
            spark, path, ["k"], [F.col("seq")], delete_col="dead",
            prune_fold=True,
        )
        assert _rows(pruned) == _rows(full)
        # additive-column delta under allow_schema_evolution
        wide = spark.createDataFrame(
            [(5, "b", 1, 3, False, "x")], self.DDL + ", extra string"
        )
        append_delta(spark, path, wide)
        kw = dict(delete_col="dead", allow_schema_evolution=True)
        full = read_merged(spark, path, ["k"], [F.col("seq")], **kw)
        pruned = read_merged(
            spark, path, ["k"], [F.col("seq")], prune_fold=True, **kw
        )
        assert _rows(pruned.select(*sorted(pruned.columns))) == _rows(
            full.select(*sorted(full.columns))
        )


class TestPruneFoldProperty:
    """Randomized equivalence: pruned fold == full fold for ANY keyed
    snapshot + delta history (updates, tombstones, resurrections, keys
    only in deltas, repeated images), both tombstone modes."""

    DDL = "k long, v long, seq long, dead boolean"

    # Slow tier (VERDICT r13 item 1): ~37 s hypothesis endurance run.
    @pytest.mark.slow
    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(data=st.data())
    def test_pruned_equals_full(self, spark, tmp_path_factory, data):
        from dbt_decodable_spark.streaming.changelog import (
            append_delta,
            read_merged,
            write_hash_partitioned,
        )

        keyspace = list(range(1, 12))
        base = [
            (k, data.draw(st.integers(0, 99)), 0,
             data.draw(st.booleans()))
            for k in data.draw(
                st.lists(st.sampled_from(keyspace), unique=True, min_size=1)
            )
        ]
        n_deltas = data.draw(st.integers(1, 3))
        seq = 1
        deltas = []
        for _ in range(n_deltas):
            rows = []
            for _ in range(data.draw(st.integers(1, 4))):
                rows.append((
                    data.draw(st.sampled_from(keyspace + [99, 100])),
                    data.draw(st.integers(0, 99)),
                    seq,
                    data.draw(st.booleans()),
                ))
                seq += 1
            deltas.append(rows)
        path = str(tmp_path_factory.mktemp("pf") / "state")
        write_hash_partitioned(
            spark.createDataFrame(base, self.DDL), path, ["k"], 4
        )
        for rows in deltas:
            append_delta(spark, path, spark.createDataFrame(rows, self.DDL))
        for tomb in (True, False):
            kw = dict(include_tombstones=tomb, delete_col="dead")
            full = read_merged(
                spark, path, ["k"], [F.col("seq"), F.col("k")], **kw
            )
            pruned = read_merged(
                spark, path, ["k"], [F.col("seq"), F.col("k")],
                prune_fold=True, **kw,
            )
            assert _rows(pruned) == _rows(full), f"tomb={tomb}"


class TestChangePairsPruneTarget:
    """r12 (VERDICT r11 item 5, the other half): change_pairs restricts
    the snapshot side to the batch's keys by a broadcast semi probe, so
    the per-batch old-image lookup SCANS the state instead of sort-merge
    shuffling all of it."""

    DDL = "k long, v long, seq long"

    def test_pruned_equals_unpruned(self, spark):
        from dbt_decodable_spark.operators.ivm import change_pairs

        target = spark.createDataFrame(
            [(i, i * 10, 0) for i in range(1, 30)], self.DDL
        )
        batch = spark.createDataFrame(
            [(5, 1, 1), (5, 2, 2), (99, 3, 1), (7, 0, -1)], self.DDL
        )
        a = change_pairs(target, batch, ["k"], [F.col("seq"), F.col("k")])
        b = change_pairs(
            target, batch, ["k"], [F.col("seq"), F.col("k")],
            prune_target=False,
        )
        canon = lambda df: sorted(  # noqa: E731
            (r["k"], tuple(r["__old"] or ()), tuple(r["__new"] or ()),
             r["__changed"])
            for r in df.collect()
        )
        assert canon(a) == canon(b)
        assert len(canon(a)) == 3, "one pair per touched key"

    def test_target_scan_probed_not_shuffled(self, spark, tmp_path):
        from dbt_decodable_spark.operators.ivm import change_pairs

        target_path = str(tmp_path / "bigstate")
        spark.createDataFrame(
            [(i, i, 0) for i in range(5000)], self.DDL
        ).write.parquet(target_path)
        target = spark.read.parquet(target_path)
        batch = spark.createDataFrame([(7, 1, 1)], self.DDL)
        pairs = change_pairs(target, batch, ["k"], [F.col("seq"), F.col("k")])
        pairs.collect()
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan, "the broadcast key probe must be planned"


class TestFusedEmitAppendEquivalence:
    """r12: emitting the view's change stream is one optional step inside
    the one maintenance pass (``ivm_log_append(out_log=, seq=)``). With and
    without the emission the pass must land the SAME folded state, and the
    emitted rows must equal the diff of the declarative recompute before
    and after the batch — on a spec with support tables
    (min/max/count-distinct), where the spliced-extremes argument does the
    heavy lifting."""

    VDDL = "pk long, grp string, val long, __seq long, __deleted boolean"
    SPEC = AggViewSpec(
        group_cols=("grp",),
        count_star="n_rows",
        sums={"sum_val": "val"},
        mins={"min_val": "val"},
        maxs={"max_val": "val"},
        count_distincts={"n_vals": "val"},
    )

    BASE = [(1, "a", 10, 0, False), (2, "a", 20, 0, False),
            (3, "b", 30, 0, False), (4, "c", 5, 0, False)]
    # updates, a tombstone that empties group c, a new group, dup values
    BATCH = [(1, "a", 11, 5, False), (4, "c", 5, 5, True),
             (5, "d", 7, 5, False), (6, "b", 30, 5, False)]

    def _run(self, spark, root, out_log):
        from dbt_decodable_spark.operators.ivm_log import (
            ivm_log_append,
            ivm_log_init,
            ivm_log_read,
        )

        base = spark.createDataFrame(self.BASE, self.VDDL)
        batch = spark.createDataFrame(self.BATCH, self.VDDL)
        ivm_log_init(spark, root, base, self.SPEC, delete_col="__deleted")
        assert ivm_log_append(
            spark, root, base, batch, ["pk"], [F.col("__seq")],
            self.SPEC, tag="5", out_log=out_log, seq=5,
        )
        emitted = (
            _rows(spark.read.parquet(*list_deltas(out_log)))
            if out_log is not None
            else None
        )
        return emitted, _rows(ivm_log_read(spark, root, self.SPEC))

    def _view(self, spark, rows):
        from dbt_decodable_spark.operators.ivm import compute_agg_view

        snap = fold_last_image(
            spark.createDataFrame(rows, self.VDDL), ["pk"], [F.col("__seq")]
        )
        return {
            r[0]: tuple(r)
            for r in compute_agg_view(snap, self.SPEC, delete_col="__deleted")
            .select(*self.SPEC.outputs())
            .collect()
        }

    def test_emit_equals_recompute_diff(self, spark, tmp_path):
        e1, s1 = self._run(spark, str(tmp_path / "r1"), str(tmp_path / "o1"))
        _, s2 = self._run(spark, str(tmp_path / "r2"), None)
        assert s1 == s2, "emitting changes the folded state"
        # the recompute diff: changed/new groups as upserts, emptied groups
        # as NULL-aggregate tombstones
        before = self._view(spark, self.BASE)
        after = self._view(spark, self.BASE + self.BATCH)
        n_aggs = len(self.SPEC.outputs()) - 1
        want = [(*r, 5, False) for g, r in after.items() if before.get(g) != r]
        want += [(g, *[None] * n_aggs, 5, True) for g in before if g not in after]
        assert e1 == sorted(want, key=lambda t: tuple((v is None, v) for v in t))
        # the tombstoned group c is emitted as a NULL-agg tombstone
        dead = [r for r in e1 if r[0] == "c"]
        assert len(dead) == 1 and dead[0][-1] is True

    def test_same_tag_replay_adds_no_out_delta(self, spark, tmp_path):
        from dbt_decodable_spark.operators.ivm_log import ivm_log_append

        root, out_log = str(tmp_path / "r"), str(tmp_path / "o")
        e1, s1 = self._run(spark, root, out_log)
        deltas = list_deltas(out_log)
        base = spark.createDataFrame(self.BASE, self.VDDL)
        batch = spark.createDataFrame(self.BATCH, self.VDDL)
        assert not ivm_log_append(
            spark, root, base, batch, ["pk"], [F.col("__seq")],
            self.SPEC, tag="5", out_log=out_log, seq=5,
        )
        assert list_deltas(out_log) == deltas
        assert _rows(spark.read.parquet(*deltas)) == e1

    def test_fused_replay_noops(self, spark, tmp_path):
        """A replay of an already-folded batch must return False and leave
        both logs untouched."""
        from dbt_decodable_spark.operators.ivm_log import (
            ivm_log_append,
            ivm_log_compact,
        )

        root, out_log = str(tmp_path / "r"), str(tmp_path / "o")
        e1, s1 = self._run(spark, root, out_log)
        ivm_log_compact(spark, root, self.SPEC)  # fold the tag into the gen
        base = spark.createDataFrame(self.BASE, self.VDDL)
        batch = spark.createDataFrame(self.BATCH, self.VDDL)
        assert not ivm_log_append(
            spark, root, base, batch, ["pk"], [F.col("__seq")],
            self.SPEC, tag="5", out_log=out_log, seq=5,
        )
        emitted = spark.read.parquet(*list_deltas(out_log))
        assert _rows(emitted) == e1


class TestBoundedTemporalTimeoutCleanup:
    """ADVICE r11 #4: the timeout path must not leak (or race) the scratch
    output dir."""

    def test_timeout_leaves_no_scratch_dir(self, spark):
        from dbt_decodable_spark.queries.streaming_q import events_file_stream
        from dbt_decodable_spark.sources.tables import read_table
        from dbt_decodable_spark.streaming.temporal import (
            run_temporal_asof_bounded,
        )

        sf = "/root/testdata/sf0.001"
        e = read_table(spark, sf, "events")
        dim = e.groupBy("event_type").agg(
            F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n")
        )
        stream = events_file_stream(spark, sf).select(
            "event_id", "event_type", "ts_event"
        )
        before = set(glob.glob("/tmp/temporal_join_*"))
        with pytest.raises(TimeoutError):
            run_temporal_asof_bounded(
                spark, stream, dim, on="event_type", stream_ts="ts_event",
                dim_ts="valid_from", value_cols=["n"], timeout=0.001,
            )
        leaked = set(glob.glob("/tmp/temporal_join_*")) - before
        assert leaked == set(), f"scratch dirs leaked: {leaked}"
