"""The N-node model graph front door (``catalog.activate_project_incremental``)
— round 11's generalization of the fixed two-stage DAG to the reference
platform's actual project shape: a stream+pipeline pair per model where any
model's sink stream may be the next model's source
(``/root/reference/dbt/adapters/decodable/impl.py:419-447``).

Covered here:

- depth-3 chain (join → rollup → rollup-consumer) equals the declarative
  three-stage recompute across churn rounds (tombstones, dim payload
  migration) — stage 3 consumes stage 2's EMITTED change log (the
  deltas-only shape), never a recompute;
- fan-out: two consumers off one rollup, out-log compaction bounded by the
  MIN consumer watermark;
- shape guards fire before any write (cycle, duplicate sink, join over a
  model sink, raw-stream aggregate with a consumer);
- the depth-3 init crash sweep: fault-inject EVERY durable-write boundary
  of the full three-stage activation, then re-activate cleanly and require
  the exact recompute at every stage (extends the r10 sweep one stage
  down, VERDICT r10 item 2);
- the stage-3 lag guard: compacting the rollup's out log past a parked
  consumer raises ``DownstreamLagError`` and the rebuild recovers.
"""

import pytest as _pytest_tier

# Slow tier (VERDICT r13 item 1): crash/equivalence sweeps over every durable-write boundary of the N-node graph front door —
# multi-minute file; deselected from the default fast tier by
# tests/conftest.py, run via SPARK_GRAFT_RUN_SLOW=1 or -m slow.
pytestmark = _pytest_tier.mark.slow

import os

import pytest
from pyspark.sql import functions as F

from dbt_decodable_spark.catalog import CatalogError, Engine
from dbt_decodable_spark.schema import StreamSchema
from dbt_decodable_spark.streaming.changelog import fold_last_image

FACT_DDL = "pk long, fk long, qty long, ts long, deleted boolean"
DIM_DDL = "dk long, name string, tier long, ts long, deleted boolean"

# every fact matches a dim (the cascade key contract: stage-3 is keyed by
# stage-2's group columns, so dim_tier must be non-null → no dangling fks
# under the LEFT join)
F1 = [(1, 10, 5, 1, False), (2, 10, 7, 1, False), (3, 20, 9, 1, False),
      (4, 30, 4, 1, False)]
D1 = [(10, "a", 1, 1, False), (20, "b", 2, 1, False), (30, "c", 3, 1, False)]
# round 2: fact update (pk 1), new fact, tombstone (pk 3), dim tier churn
# migrating dk=10's facts between stage-2 groups AND stage-3 bands
F2 = [(1, 10, 6, 2, False), (5, 20, 8, 2, False), (3, 20, 9, 2, True)]
D2 = [(10, "a", 4, 2, False)]


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _mk_project(spark, tmp_path, ns, f1, d1, summary_sql=None):
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
        f"select dim_tier, count(*) as n_rows, sum(qty) as sum_qty "
        f"from {ns}__enriched group by dim_tier",
        activate=False,
    )
    eng.create_pipeline(
        "summary",
        summary_sql
        or f"select dim_tier % 2 as band, count(*) as n_tiers, "
        f"sum(sum_qty) as total_qty "
        f"from {ns}__rollup group by band",
        activate=False,
    )
    return eng


NODES = {
    "enriched": dict(
        fact_order=["ts"], dim_order=["ts"],
        fact_delete_col="deleted", dim_delete_col="deleted",
    ),
    "rollup": {},
    "summary": {},
}


def _want(spark, f_rows, d_rows):
    """Declarative 3-stage recompute: last image per key, live join,
    GROUP BY dim_tier, GROUP BY band."""
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
    roll = view.groupBy("dim_tier").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("qty").alias("sum_qty")
    )
    summ = roll.groupBy((F.col("dim_tier") % 2).alias("band")).agg(
        F.count(F.lit(1)).alias("n_tiers"),
        F.sum("sum_qty").alias("total_qty"),
    )
    return _rows(roll), _rows(summ)


def _append(spark, eng, stream, rows, ddl):
    spark.createDataFrame(rows, ddl).write.mode("append").parquet(
        eng.streams[eng.qualify(stream)].path
    )
    eng.refresh_stream(stream)


class TestDepth3Chain:
    def test_rounds_match_recompute(self, spark, tmp_path):
        eng = _mk_project(spark, tmp_path, "pj3", F1, D1)
        try:
            eng.activate_project_incremental(NODES, n_buckets=4)
            roll_w, summ_w = _want(spark, F1, D1)
            assert _rows(eng.read_stream("rollup")) == roll_w
            assert _rows(eng.read_stream("summary")) == summ_w
            # churn round: update + insert + tombstone + dim migration
            _append(spark, eng, "fact", F2, FACT_DDL)
            _append(spark, eng, "dim", D2, DIM_DDL)
            eng.activate_project_incremental(NODES, n_buckets=4)
            roll_w, summ_w = _want(spark, F1 + F2, D1 + D2)
            assert _rows(eng.read_stream("rollup")) == roll_w
            assert _rows(eng.read_stream("summary")) == summ_w
            # the rollup's out log still folds to the rollup view
            folded = (
                fold_last_image(
                    eng.read_pipeline_changes("rollup"),
                    ["dim_tier"], [F.col("__seq")],
                )
                .filter(~F.col("__deleted"))
                .drop("__seq", "__deleted")
            )
            assert _rows(folded) == roll_w
        finally:
            eng.cleanup()

    def test_third_round_empty_is_noop(self, spark, tmp_path):
        """An activation with nothing pending must not change any stage."""
        eng = _mk_project(spark, tmp_path, "pj3n", F1, D1)
        try:
            eng.activate_project_incremental(NODES, n_buckets=4)
            before_r = _rows(eng.read_stream("rollup"))
            before_s = _rows(eng.read_stream("summary"))
            eng.activate_project_incremental(NODES, n_buckets=4)
            assert _rows(eng.read_stream("rollup")) == before_r
            assert _rows(eng.read_stream("summary")) == before_s
        finally:
            eng.cleanup()


class TestDepth4Chain:
    def test_depth4_out_log_of_out_log(self, spark, tmp_path):
        """join → rollup → band rollup → parity-of-band rollup: the 4th
        stage consumes the THIRD stage's emitted out log (an out log built
        from another out log), pinning the 'composes to any depth' claim
        across churn."""
        ns = "pj4"
        eng = _mk_project(spark, tmp_path, ns, F1, D1)
        eng.create_pipeline(
            "grand",
            f"select band % 2 as parity, count(*) as n_bands, "
            f"sum(total_qty) as grand_qty "
            f"from {ns}__summary group by parity",
            activate=False,
        )
        nodes = {**NODES, "grand": {}}
        try:
            eng.activate_project_incremental(nodes, n_buckets=4)
            _append(spark, eng, "fact", F2, FACT_DDL)
            _append(spark, eng, "dim", D2, DIM_DDL)
            eng.activate_project_incremental(nodes, n_buckets=4)
            _, summ_w = _want(spark, F1 + F2, D1 + D2)
            assert _rows(eng.read_stream("summary")) == summ_w
            # declarative stage-4 recompute over the stage-3 expectation
            import collections

            grand = collections.defaultdict(lambda: [0, 0])
            for band, n_tiers, total_qty in summ_w:
                g = grand[band % 2]
                g[0] += 1
                g[1] += total_qty
            want4 = sorted((p, n, t) for p, (n, t) in grand.items())
            assert _rows(eng.read_stream("grand")) == want4
        finally:
            eng.cleanup()


class TestRawAggRootedChain:
    """r12 (VERDICT r11 item 2): change-log emission for
    aggregate-over-raw-stream nodes — a chain ROOTED at a plain GROUP-BY
    model over a raw change stream, no join anywhere, runs through
    ``activate_project_incremental`` (the reference lets any model's sink
    source the next model, ``impl.py:419-447``)."""

    RAW_NODES = {
        "rawroll": dict(order=["ts"], delete_col="deleted"),
        "rawband": {},
    }

    def _mk(self, spark, tmp_path, ns, f1):
        eng = Engine(spark, namespace=ns, warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        eng.create_stream(
            "fact",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(f1, FACT_DDL).schema,
                primary_key=["pk"],
            ),
            data=spark.createDataFrame(f1, FACT_DDL),
        )
        eng.create_pipeline(
            "rawroll",
            f"select fk, count(*) as n_rows, sum(qty) as sum_qty "
            f"from {ns}__fact group by fk",
            activate=False,
        )
        eng.create_pipeline(
            "rawband",
            f"select fk % 2 as band, count(*) as n_fks, "
            f"sum(sum_qty) as total_qty from {ns}__rawroll group by band",
            activate=False,
        )
        return eng

    @staticmethod
    def _want(spark, f_rows):
        live = fold_last_image(
            spark.createDataFrame(f_rows, FACT_DDL), ["pk"],
            [F.col("ts"), F.col("pk")],
        ).filter(~F.col("deleted"))
        roll = live.groupBy("fk").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("qty").alias("sum_qty")
        )
        band = roll.groupBy((F.col("fk") % 2).alias("band")).agg(
            F.count(F.lit(1)).alias("n_fks"),
            F.sum("sum_qty").alias("total_qty"),
        )
        return _rows(roll), _rows(band)

    def test_chain_matches_recompute_across_churn(self, spark, tmp_path):
        ns = "pjraw"
        eng = self._mk(spark, tmp_path, ns, F1)
        try:
            eng.activate_project_incremental(self.RAW_NODES, n_buckets=4)
            roll_w, band_w = self._want(spark, F1)
            assert _rows(eng.read_stream("rawroll")) == roll_w
            assert _rows(eng.read_stream("rawband")) == band_w
            # churn: update, insert, tombstone, plus a GROUP MIGRATION
            # (pk 4 moves fk 30 → 20, leaving fk 30 empty — the rollup
            # must emit a tombstone the band stage retracts)
            f2 = F2 + [(4, 20, 4, 2, False)]
            _append(spark, eng, "fact", f2, FACT_DDL)
            eng.activate_project_incremental(self.RAW_NODES, n_buckets=4)
            roll_w, band_w = self._want(spark, F1 + f2)
            assert _rows(eng.read_stream("rawroll")) == roll_w
            assert _rows(eng.read_stream("rawband")) == band_w
            assert all(r[0] != 30 for r in roll_w), "fk 30 must be gone"
            # the rollup's emitted log folds to the rollup view
            folded = (
                fold_last_image(
                    eng.read_pipeline_changes("rawroll"),
                    ["fk"], [F.col("__seq")],
                )
                .filter(~F.col("__deleted"))
                .drop("__seq", "__deleted")
            )
            assert _rows(folded) == roll_w
            # idle activation is a no-op at every stage
            eng.activate_project_incremental(self.RAW_NODES, n_buckets=4)
            assert _rows(eng.read_stream("rawband")) == band_w
            # the compaction front door resolves the raw-agg root and
            # fold(out log) == rollup still holds after the fold
            res = eng.compact_pipeline_changes("rawroll")
            assert res["floor"] is not None
            folded = (
                fold_last_image(
                    eng.read_pipeline_changes("rawroll"),
                    ["fk"], [F.col("__seq")],
                )
                .filter(~F.col("__deleted"))
                .drop("__seq", "__deleted")
            )
            assert _rows(folded) == roll_w
        finally:
            eng.cleanup()

    def test_every_init_crash_point_recovers(
        self, spark, tmp_path, monkeypatch
    ):
        """The depth-3 crash sweep's contract, over the raw-rooted chain:
        crash the first activation at every durable-write boundary, then
        re-activate cleanly — both stages land the exact recompute and
        fold(out log) == rollup."""
        from test_round10_review import SimulatedCrash, _CrashPlan, _inject

        k = 1
        while True:
            eng = self._mk(spark, tmp_path / f"c{k}", f"pjrc{k}", F1)
            try:
                plan = _CrashPlan(k)
                with monkeypatch.context() as mp:
                    _inject(mp, plan)
                    try:
                        eng.activate_project_incremental(
                            self.RAW_NODES, n_buckets=4
                        )
                        crashed = False
                    except SimulatedCrash:
                        crashed = True
                eng.activate_project_incremental(self.RAW_NODES, n_buckets=4)
                roll_w, band_w = self._want(spark, F1)
                assert _rows(eng.read_stream("rawroll")) == roll_w, (
                    f"crash point {k}: rawroll diverged"
                )
                assert _rows(eng.read_stream("rawband")) == band_w, (
                    f"crash point {k}: rawband diverged"
                )
                folded = (
                    fold_last_image(
                        eng.read_pipeline_changes("rawroll"),
                        ["fk"], [F.col("__seq")],
                    )
                    .filter(~F.col("__deleted"))
                    .drop("__seq", "__deleted")
                )
                assert _rows(folded) == roll_w, f"crash point {k}: out gap"
            finally:
                eng.cleanup()
            if not crashed:
                assert k > 6, "sweep ended before reaching the init writes"
                break
            k += 1

    def test_consumer_init_after_tombstone_compaction_catches_up(
        self, spark, tmp_path
    ):
        """A compaction fold keeps only live images: when the newest
        folded batch only tombstoned a group, the retained max ``__seq``
        sits below the log's compaction floor. A consumer initialized
        over that log — the documented rebuild of a lagging one, or a
        second consumer added later — must start AT the floor, or its
        first step trips its own lag guard and the recovery never
        converges."""
        ns = "pjrcf"
        eng = self._mk(spark, tmp_path, ns, F1)
        eng.create_pipeline(
            "rawband3",
            f"select fk % 3 as band3, count(*) as n_fks, "
            f"sum(sum_qty) as total_qty from {ns}__rawroll group by band3",
            activate=False,
        )
        all_nodes = dict(self.RAW_NODES, rawband3={})

        def want3(roll_rows):
            roll = spark.createDataFrame(
                roll_rows, "fk long, n_rows long, sum_qty long"
            )
            return _rows(
                roll.groupBy((F.col("fk") % 3).alias("band3")).agg(
                    F.count(F.lit(1)).alias("n_fks"),
                    F.sum("sum_qty").alias("total_qty"),
                )
            )

        try:
            eng.activate_project_incremental(self.RAW_NODES, n_buckets=4)
            # the only member of group fk=30 dies: the batch's sole
            # emitted change is a tombstone, which the compaction drops
            f2 = [(4, 30, 4, 2, True)]
            _append(spark, eng, "fact", f2, FACT_DDL)
            eng.activate_project_incremental(self.RAW_NODES, n_buckets=4)
            res = eng.compact_pipeline_changes("rawroll")
            assert res["floor"] is not None
            # (b) the rebuild starts at the compaction floor ...
            floor = eng.rebuild_pipeline_downstream("rawband", "rawroll")
            assert floor >= res["floor"]
            # (a) ... and so does a consumer added after the compaction;
            # the next activation converges at every stage
            eng.activate_project_incremental(all_nodes, n_buckets=4)
            roll_w, band_w = self._want(spark, F1 + f2)
            assert _rows(eng.read_stream("rawroll")) == roll_w
            assert _rows(eng.read_stream("rawband")) == band_w
            assert _rows(eng.read_stream("rawband3")) == want3(roll_w)
            # and keeps converging: group fk=30 comes back
            f3 = [(6, 30, 3, 3, False), (1, 10, 2, 3, False)]
            _append(spark, eng, "fact", f3, FACT_DDL)
            eng.activate_project_incremental(all_nodes, n_buckets=4)
            roll_w, band_w = self._want(spark, F1 + f2 + f3)
            assert _rows(eng.read_stream("rawroll")) == roll_w
            assert _rows(eng.read_stream("rawband")) == band_w
            assert _rows(eng.read_stream("rawband3")) == want3(roll_w)
        finally:
            eng.cleanup()

    def test_lag_guard_and_front_door_rebuild(self, spark, tmp_path):
        """Park the band stage, compact the raw rollup's out log past it →
        DownstreamLagError; then recover through
        rebuild_pipeline_downstream, whose upstream here is a ROLLUP (the
        r12 generalization — it used to assume a join upstream)."""
        from dbt_decodable_spark.operators.ivm_dag import DownstreamLagError
        from dbt_decodable_spark.streaming.changelog import (
            compact_change_log,
        )

        ns = "pjrl"
        eng = self._mk(spark, tmp_path, ns, F1)
        one = {"rawroll": dict(order=["ts"], delete_col="deleted",
                               emit_changes=True)}
        f_hist = list(F1)
        try:
            eng.activate_project_incremental(self.RAW_NODES, n_buckets=4)
            # three churn rounds advance ONLY the rollup (band parked)
            for i in range(3):
                rows = [(100 + i, 20 + 10 * (i % 2), i + 1, 2 + i, False)]
                _append(spark, eng, "fact", rows, FACT_DDL)
                f_hist += rows
                eng.activate_project_incremental(one, n_buckets=4)
            out_log = os.path.join(
                eng.warehouse_dir, f"_ivm_{ns}__rawroll", "out"
            )
            res = compact_change_log(spark, out_log, ["fk"])
            assert res["floor"] is not None
            with pytest.raises(DownstreamLagError):
                eng.activate_project_incremental(self.RAW_NODES, n_buckets=4)
            eng.rebuild_pipeline_downstream("rawband", "rawroll")
            eng.activate_project_incremental(self.RAW_NODES, n_buckets=4)
            _, band_w = self._want(spark, f_hist)
            assert _rows(eng.read_stream("rawband")) == band_w
        finally:
            eng.cleanup()

    def test_emission_choice_is_sticky(self, spark, tmp_path):
        """A root built emitting must keep emitting; one built without
        cannot enable later — same protocol as the DAG arm."""
        ns = "pjrs"
        eng = self._mk(spark, tmp_path, ns, F1)
        try:
            eng.activate_project_incremental(self.RAW_NODES, n_buckets=4)
            with pytest.raises(CatalogError, match="keep emitting"):
                eng.activate_pipeline_incremental(
                    "rawroll", order=["ts"], delete_col="deleted",
                    emit_changes=False,
                )
            # a fresh non-emitting root cannot enable emission later
            eng2 = self._mk(spark, tmp_path / "b", ns + "b", F1)
            try:
                eng2.activate_pipeline_incremental(
                    "rawroll", order=["ts"], delete_col="deleted",
                )
                with pytest.raises(CatalogError, match="FIRST activation"):
                    eng2.activate_pipeline_incremental(
                        "rawroll", order=["ts"], delete_col="deleted",
                        emit_changes=True,
                    )
            finally:
                eng2.cleanup()
        finally:
            eng.cleanup()


class TestTemporalNodeKind:
    """r12 (VERDICT r11 item 3): the SCD2-temporal arm as a project-graph
    node kind — a ``FOR SYSTEM_TIME AS OF`` model activates inside an
    N-node graph and a downstream aggregate consumes its view log. The
    pin that separates this from the equi-join arm: a dim VERSION with
    ``valid_from = t`` rewrites only facts with ``ts >= t``; history
    before it stays pinned to the older version."""

    T_NODES = {
        "asof": dict(
            fact_order=["ts"], fact_delete_col="deleted",
            dim_valid_from="ts",
        ),
        "troll": {},
    }

    def _mk(self, spark, tmp_path, ns, f1, d1):
        eng = Engine(spark, namespace=ns, warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        eng.create_stream(
            "fact",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(f1, FACT_DDL).schema,
                primary_key=["pk"],
            ),
            data=spark.createDataFrame(f1, FACT_DDL),
        )
        eng.create_stream(
            "dim",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(d1, DIM_DDL).schema,
                primary_key=["dk"],
            ),
            data=spark.createDataFrame(d1, DIM_DDL),
        )
        eng.create_pipeline(
            "asof",
            f"select f.*, d.tier as tier_at_ts from {ns}__fact f "
            f"left join {ns}__dim for system_time as of f.ts as d "
            f"on f.fk = d.dk",
            activate=False,
        )
        eng.create_pipeline(
            "troll",
            f"select tier_at_ts, count(*) as n_rows, sum(qty) as sum_qty "
            f"from {ns}__asof group by tier_at_ts",
            activate=False,
        )
        return eng

    @staticmethod
    def _want(spark, f_rows, d_rows):
        from dbt_decodable_spark.operators.ivm_temporal import (
            TemporalJoinSpec,
            recompute_temporal_view,
        )

        spec = TemporalJoinSpec(
            fact_keys=("pk",), fk_col="fk", dim_key="dk", fact_ts="ts",
            valid_from="ts", payload={"tier_at_ts": "tier"},
        )
        view = recompute_temporal_view(
            spark.createDataFrame(f_rows, FACT_DDL),
            spark.createDataFrame(d_rows, DIM_DDL),
            spec, ["ts", "pk"], fact_delete_col="deleted",
        )
        roll = view.groupBy("tier_at_ts").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("qty").alias("sum_qty")
        )
        return _rows(view), _rows(roll)

    def test_graph_matches_recompute_across_churn(self, spark, tmp_path):
        ns = "pjt"
        eng = self._mk(spark, tmp_path, ns, F1, D1)
        try:
            eng.activate_project_incremental(self.T_NODES, n_buckets=4)
            view_w, roll_w = self._want(spark, F1, D1)
            assert _rows(eng.read_stream("asof")) == view_w
            assert _rows(eng.read_stream("troll")) == roll_w
            # churn both sides: fact update/insert/tombstone + a NEW dim
            # VERSION (dk=10 tier 1→4 from ts 2) — facts BEFORE ts 2 must
            # keep tier 1 (the as-of pin the equi arm cannot express)
            _append(spark, eng, "fact", F2, FACT_DDL)
            _append(spark, eng, "dim", D2, DIM_DDL)
            eng.activate_project_incremental(self.T_NODES, n_buckets=4)
            view_w, roll_w = self._want(spark, F1 + F2, D1 + D2)
            assert _rows(eng.read_stream("asof")) == view_w
            assert _rows(eng.read_stream("troll")) == roll_w
            got = {r[0]: r[-1] for r in view_w}
            assert got[2] == 1, "pk 2 (ts 1) must keep the pre-version tier"
            assert got[1] == 4, "pk 1 (ts 2) must take the new version"
            # idle activation is a no-op
            eng.activate_project_incremental(self.T_NODES, n_buckets=4)
            assert _rows(eng.read_stream("troll")) == roll_w
        finally:
            eng.cleanup()

    def test_standalone_activation_and_compaction(self, spark, tmp_path):
        """The temporal arm alone (no graph), over enough churn rounds to
        cross the compaction trigger — the maintained view must equal the
        recompute after the logs fold into their snapshots."""
        ns = "pjts"
        eng = self._mk(spark, tmp_path, ns, F1, D1)
        fact_hist = list(F1)
        dim_hist = list(D1)
        try:
            eng.activate_pipeline_temporal_incremental(
                "asof", fact_order=["ts"], fact_delete_col="deleted",
                dim_valid_from="ts", n_buckets=4, compact_min_deltas=2,
            )
            for i, (frows, drows) in enumerate(
                ((F2, D2),
                 ([(6, 30, 1, 3, False)], [(20, "b", 5, 3, False)]),
                 ([(1, 10, 2, 4, True)], []))
            ):
                if frows:
                    _append(spark, eng, "fact", frows, FACT_DDL)
                    fact_hist += frows
                if drows:
                    _append(spark, eng, "dim", drows, DIM_DDL)
                    dim_hist += drows
                eng.activate_pipeline_temporal_incremental(
                    "asof", fact_order=["ts"], fact_delete_col="deleted",
                    dim_valid_from="ts", n_buckets=4, compact_min_deltas=2,
                )
                view_w, _ = self._want(spark, fact_hist, dim_hist)
                assert _rows(eng.read_stream("asof")) == view_w, (
                    f"round {i} diverged"
                )
        finally:
            eng.cleanup()

    def test_batch_activation_of_temporal_sql(self, spark, tmp_path):
        """A plain (non-incremental) activate_pipeline on the temporal
        shape: Spark SQL can't parse FOR SYSTEM_TIME, so execution routes
        through the AS-OF operator with the dim's watermark column as the
        version start — result must equal the same AS-OF computed
        directly. Requires the dim to declare exactly one watermark."""
        import dataclasses

        from dbt_decodable_spark.schema import Watermark

        ns = "pjtb"
        eng = self._mk(spark, tmp_path, ns, F1, D1)
        try:
            dqn = eng.qualify("dim")
            sdef = eng.streams[dqn]
            eng.streams[dqn] = dataclasses.replace(
                sdef,
                schema=dataclasses.replace(
                    sdef.schema,
                    watermarks=(
                        Watermark("ts", "ts - INTERVAL '1' SECOND"),
                    ),
                ),
            )
            eng.activate_pipeline("asof")
            from dbt_decodable_spark.operators.ivm_temporal import (
                TemporalJoinSpec,
                _enrich,
            )

            spec = TemporalJoinSpec(
                fact_keys=("pk",), fk_col="fk", dim_key="dk", fact_ts="ts",
                valid_from="ts", payload={"tier_at_ts": "tier"},
            )
            want = _enrich(
                spark.createDataFrame(F1, FACT_DDL),
                spark.createDataFrame(D1, DIM_DDL),
                spec,
            )
            assert _rows(eng.read_stream("asof")) == _rows(want)
        finally:
            eng.cleanup()

    def test_lag_guard_and_front_door_rebuild(self, spark, tmp_path):
        """Park the rollup, fold the temporal view log's deltas into its
        base (raising the base max __seq past the parked watermark) →
        DownstreamLagError; recover through rebuild_pipeline_downstream
        with a TEMPORAL upstream (the r12 generalization's third kind)."""
        from dbt_decodable_spark.operators.ivm_dag import DownstreamLagError
        from dbt_decodable_spark.streaming.changelog import compact_and_vacuum

        ns = "pjtl"
        eng = self._mk(spark, tmp_path, ns, F1, D1)
        one = {"asof": self.T_NODES["asof"]}
        f_hist, d_hist = list(F1), list(D1)
        try:
            eng.activate_project_incremental(self.T_NODES, n_buckets=4)
            for i in range(2):
                rows = [(100 + i, 20, i + 1, 2 + i, False)]
                _append(spark, eng, "fact", rows, FACT_DDL)
                f_hist += rows
                eng.activate_project_incremental(
                    one, n_buckets=4, compact=False
                )
            view_log = os.path.join(
                eng.warehouse_dir, f"_ivmt_{ns}__asof", "view"
            )
            compact_and_vacuum(
                spark, view_log, ["pk"], [F.col("__seq")], n_buckets=4
            )
            with pytest.raises(DownstreamLagError):
                eng.activate_project_incremental(self.T_NODES, n_buckets=4)
            eng.rebuild_pipeline_downstream("troll", "asof")
            eng.activate_project_incremental(self.T_NODES, n_buckets=4)
            _, roll_w = self._want(spark, f_hist, d_hist)
            assert _rows(eng.read_stream("troll")) == roll_w
        finally:
            eng.cleanup()

    def test_every_init_crash_point_recovers(
        self, spark, tmp_path, monkeypatch
    ):
        from test_round10_review import SimulatedCrash, _CrashPlan, _inject

        k = 1
        while True:
            eng = self._mk(spark, tmp_path / f"c{k}", f"pjtc{k}", F1, D1)
            try:
                plan = _CrashPlan(k)
                with monkeypatch.context() as mp:
                    _inject(mp, plan)
                    try:
                        eng.activate_project_incremental(
                            self.T_NODES, n_buckets=4
                        )
                        crashed = False
                    except SimulatedCrash:
                        crashed = True
                eng.activate_project_incremental(self.T_NODES, n_buckets=4)
                view_w, roll_w = self._want(spark, F1, D1)
                assert _rows(eng.read_stream("asof")) == view_w, (
                    f"crash point {k}: asof diverged"
                )
                assert _rows(eng.read_stream("troll")) == roll_w, (
                    f"crash point {k}: troll diverged"
                )
            finally:
                eng.cleanup()
            if not crashed:
                assert k > 6, "sweep ended before reaching the init writes"
                break
            k += 1


class TestFanOut:
    def test_two_consumers_one_rollup(self, spark, tmp_path):
        ns = "pjf"
        eng = _mk_project(spark, tmp_path, ns, F1, D1)
        eng.create_pipeline(
            "summary2",
            f"select dim_tier % 3 as tri, count(*) as n_tiers "
            f"from {ns}__rollup group by tri",
            activate=False,
        )
        nodes = dict(NODES)
        nodes["summary2"] = {}
        try:
            wm = eng.activate_project_incremental(nodes, n_buckets=4)
            assert set(wm) == {"rollup", "summary", "summary2"}
            _append(spark, eng, "fact", F2, FACT_DDL)
            _append(spark, eng, "dim", D2, DIM_DDL)
            wm = eng.activate_project_incremental(nodes, n_buckets=4)
            roll_w, summ_w = _want(spark, F1 + F2, D1 + D2)
            assert _rows(eng.read_stream("summary")) == summ_w
            view = (
                fold_last_image(
                    eng.read_pipeline_changes("rollup"),
                    ["dim_tier"], [F.col("__seq")],
                )
                .filter(~F.col("__deleted"))
            )
            want2 = _rows(
                view.groupBy((F.col("dim_tier") % 3).alias("tri")).agg(
                    F.count(F.lit(1)).alias("n_tiers")
                )
            )
            assert _rows(eng.read_stream("summary2")) == want2
            # both consumers' watermarks advanced identically (same log)
            assert wm["summary"] == wm["summary2"]
        finally:
            eng.cleanup()


class TestRandomizedGraphs:
    """Property-style sweep: random graph shapes (0-2 rollup consumers,
    optional depth-4 node) under random per-round churn (inserts, updates,
    tombstones, dim tier churn) — every stage equals its declarative
    recompute after every activation round."""

    @pytest.mark.parametrize("seed", [11, 23, 47])
    def test_random_churn_rounds_match_recompute(
        self, spark, tmp_path, seed
    ):
        import random

        rnd = random.Random(seed)
        ns = f"pjr{seed}"
        f_hist = [
            (pk, rnd.choice((10, 20, 30)), rnd.randint(1, 50), 1, False)
            for pk in range(1, 9)
        ]
        d_hist = [(10, "a", 1, 1, False), (20, "b", 2, 1, False),
                  (30, "c", 3, 1, False)]
        eng = _mk_project(spark, tmp_path, ns, f_hist, d_hist)
        nodes = dict(NODES)
        n_consumers = rnd.randint(0, 2)
        if n_consumers == 0:
            nodes.pop("summary")
        if n_consumers == 2:
            eng.create_pipeline(
                "summary2",
                f"select dim_tier % 3 as tri, sum(n_rows) as total_rows "
                f"from {ns}__rollup group by tri",
                activate=False,
            )
            nodes["summary2"] = {}
        depth4 = n_consumers >= 1 and rnd.random() < 0.5
        if depth4:
            eng.create_pipeline(
                "grand",
                f"select band % 2 as parity, sum(total_qty) as grand_qty "
                f"from {ns}__summary group by parity",
                activate=False,
            )
            nodes["grand"] = {}
        # r12: optionally a RAW-ROOTED side chain off the same fact stream
        # in the SAME activation set — a mixed graph (join-rooted and
        # GROUP-BY-rooted chains sharing a source) through one
        # activate_project_incremental call
        raw_chain = rnd.random() < 0.6
        if raw_chain:
            eng.create_pipeline(
                "rawroll",
                f"select fk, count(*) as n_rows, sum(qty) as sum_qty "
                f"from {ns}__fact group by fk",
                activate=False,
            )
            eng.create_pipeline(
                "rawband",
                f"select fk % 2 as band2, sum(sum_qty) as total2 "
                f"from {ns}__rawroll group by band2",
                activate=False,
            )
            nodes["rawroll"] = dict(order=["ts"], delete_col="deleted")
            nodes["rawband"] = {}
        try:
            next_pk = 9
            for rnd_i in range(3):
                if rnd_i > 0:
                    fb = []
                    for j in range(rnd.randint(1, 5)):
                        # unique ts per row: two same-round images of one
                        # key must not TIE on the (ts, pk) change order
                        # (a tie's winner is legitimately arbitrary and
                        # would flake the recompute comparison)
                        ts = rnd_i * 100 + j
                        kind = rnd.random()
                        if kind < 0.4:  # insert
                            fb.append((
                                next_pk, rnd.choice((10, 20, 30)),
                                rnd.randint(1, 50), ts, False,
                            ))
                            next_pk += 1
                        elif kind < 0.75:  # update an existing key
                            pk = rnd.randrange(1, next_pk)
                            fb.append((
                                pk, rnd.choice((10, 20, 30)),
                                rnd.randint(1, 50), ts, False,
                            ))
                        else:  # tombstone
                            pk = rnd.randrange(1, next_pk)
                            fb.append((pk, 10, 0, ts, True))
                    db = []
                    if rnd.random() < 0.6:  # dim tier churn
                        dk = rnd.choice((10, 20, 30))
                        db.append((
                            dk, "x", rnd.randint(1, 5), rnd_i * 100, False
                        ))
                    if fb:
                        _append(spark, eng, "fact", fb, FACT_DDL)
                        f_hist = f_hist + fb
                    if db:
                        _append(spark, eng, "dim", db, DIM_DDL)
                        d_hist = d_hist + db
                eng.activate_project_incremental(nodes, n_buckets=4)
                roll_w, summ_w = _want(spark, f_hist, d_hist)
                assert _rows(eng.read_stream("rollup")) == roll_w, (
                    f"seed {seed} round {rnd_i}: rollup diverged"
                )
                if "summary" in nodes:
                    assert _rows(eng.read_stream("summary")) == summ_w, (
                        f"seed {seed} round {rnd_i}: summary diverged"
                    )
                if "summary2" in nodes:
                    import collections

                    tri = collections.defaultdict(int)
                    for dim_tier, n_rows, _sum_qty in roll_w:
                        tri[dim_tier % 3] += n_rows
                    want2 = sorted(tri.items())
                    assert _rows(eng.read_stream("summary2")) == want2, (
                        f"seed {seed} round {rnd_i}: summary2 diverged"
                    )
                if depth4:
                    import collections

                    gr = collections.defaultdict(int)
                    for band, _n, total_qty in summ_w:
                        gr[band % 2] += total_qty
                    want4 = sorted(gr.items())
                    assert _rows(eng.read_stream("grand")) == want4, (
                        f"seed {seed} round {rnd_i}: grand diverged"
                    )
                if raw_chain:
                    live = fold_last_image(
                        spark.createDataFrame(f_hist, FACT_DDL), ["pk"],
                        [F.col("ts"), F.col("pk")],
                    ).filter(~F.col("deleted"))
                    rr = live.groupBy("fk").agg(
                        F.count(F.lit(1)).alias("n_rows"),
                        F.sum("qty").alias("sum_qty"),
                    )
                    assert _rows(eng.read_stream("rawroll")) == _rows(rr), (
                        f"seed {seed} round {rnd_i}: rawroll diverged"
                    )
                    rb = rr.groupBy((F.col("fk") % 2).alias("band2")).agg(
                        F.sum("sum_qty").alias("total2")
                    )
                    assert _rows(eng.read_stream("rawband")) == _rows(rb), (
                        f"seed {seed} round {rnd_i}: rawband diverged"
                    )
        finally:
            eng.cleanup()


class TestShapeGuards:
    def test_cycle_raises_before_writes(self, spark, tmp_path):
        ns = "pjc"
        eng = _mk_project(spark, tmp_path, ns, F1, D1)
        # summary3 aggregates summary's sink; then rewire summary to read
        # summary3's sink → 2-cycle between the two agg nodes
        eng.create_pipeline(
            "summary3",
            f"select band, sum(total_qty) as t from {ns}__summary group by band",
            activate=False,
        )
        p = eng.pipelines[eng.qualify("summary")]
        import dataclasses

        eng.pipelines[eng.qualify("summary")] = dataclasses.replace(
            p,
            sql=f"select band, sum(t) as total_qty, count(*) as n_tiers "
            f"from {ns}__summary3 group by band",
        )
        try:
            with pytest.raises(CatalogError, match="cycle"):
                eng.activate_project_incremental(
                    {**NODES, "summary3": {}}, n_buckets=4
                )
            assert not os.path.exists(
                os.path.join(eng.warehouse_dir, f"_ivmj_{ns}__enriched")
            ), "guard must fire before any write"
        finally:
            eng.cleanup()

    def test_join_dim_over_model_sink_raises(self, spark, tmp_path):
        """r13: the FACT side of a join may consume another node's sink
        (the mid-graph join stage — ``TestMidGraphJoin``); the DIM side
        must still read a raw stream, and a temporal stage must on both
        sides."""
        ns = "pjj"
        eng = _mk_project(spark, tmp_path, ns, F1, D1)
        eng.create_pipeline(
            "badjoin",
            f"select f.*, r.sum_qty as rq "
            f"from {ns}__fact f join {ns}__rollup r on f.fk = r.dim_tier",
            activate=False,
        )
        try:
            with pytest.raises(CatalogError, match="DIM side"):
                eng.activate_project_incremental(
                    {**NODES, "badjoin": {}}, n_buckets=4
                )
        finally:
            eng.cleanup()

    def test_emitting_raw_agg_output_name_guard(self, spark, tmp_path):
        """An emitting rollup stacks __seq/__deleted onto its outputs —
        a colliding alias must raise before any node writes."""
        ns = "pjr"
        eng = _mk_project(spark, tmp_path, ns, F1, D1)
        eng.create_pipeline(
            "rawagg",
            f"select fk, sum(qty) as __seq from {ns}__fact group by fk",
            activate=False,
        )
        eng.create_pipeline(
            "rawagg2",
            f"select fk % 2 as b, sum(__seq) as t from {ns}__rawagg group by b",
            activate=False,
        )
        try:
            with pytest.raises(CatalogError, match="reserved change-log"):
                eng.activate_project_incremental(
                    {"rawagg": dict(order=["ts"]), "rawagg2": {}},
                    n_buckets=4,
                )
            assert not os.path.exists(
                os.path.join(eng.warehouse_dir, f"_ivm_{ns}__rawagg")
            ), "guard must fire before any write"
        finally:
            eng.cleanup()

    def test_duplicate_sink_raises(self, spark, tmp_path):
        ns = "pjd"
        eng = _mk_project(spark, tmp_path, ns, F1, D1)
        import dataclasses

        p = eng.pipelines[eng.qualify("summary")]
        eng.pipelines[eng.qualify("summary")] = dataclasses.replace(
            p, sink=eng.pipelines[eng.qualify("rollup")].sink
        )
        try:
            with pytest.raises(CatalogError, match="write sink"):
                eng.activate_project_incremental(NODES, n_buckets=4)
        finally:
            eng.cleanup()


class TestStage3LagGuard:
    def test_out_log_compaction_past_consumer_raises_then_rebuild(
        self, spark, tmp_path
    ):
        """Park stage 3, churn + compact the rollup's out log past it →
        the next stage-3 step must raise DownstreamLagError; the rebuild
        recovers to the exact recompute."""
        from dbt_decodable_spark.operators.ivm_dag import DownstreamLagError

        ns = "pjl"
        eng = _mk_project(spark, tmp_path, ns, F1, D1)
        two = {k: NODES[k] for k in ("enriched", "rollup")}
        two["rollup"] = dict(emit_changes=True)
        try:
            # run the FULL graph once so stage 3 exists and is parked
            eng.activate_project_incremental(NODES, n_buckets=4)
            # three churn rounds advance ONLY stages 1-2 (stage 3 parked);
            # compact=False keeps every out-log delta so the manual
            # compaction below controls the floor
            for i, (frows, drows) in enumerate(
                ((F2, D2),
                 ([(6, 30, 1, 3, False)], []),
                 ([(7, 30, 2, 4, False)], [])),
            ):
                if frows:
                    _append(spark, eng, "fact", frows, FACT_DDL)
                if drows:
                    _append(spark, eng, "dim", drows, DIM_DDL)
                eng.activate_project_incremental(
                    two, n_buckets=4, compact=False
                )
            # compact the out log past the parked consumer (no upto bound)
            from dbt_decodable_spark.streaming.changelog import (
                compact_change_log,
            )

            out_log = os.path.join(
                eng.warehouse_dir, f"_ivmd_{ns}__rollup", "out"
            )
            res = compact_change_log(spark, out_log, ["dim_tier"])
            assert res["floor"] is not None, "compaction must have folded"
            with pytest.raises(DownstreamLagError):
                eng.activate_project_incremental(NODES, n_buckets=4)
            # recovery: rebuild stage 3 from the current folded log state
            import shutil

            shutil.rmtree(
                os.path.join(eng.warehouse_dir, f"_ivmd_{ns}__summary"),
                ignore_errors=True,
            )
            eng.activate_project_incremental(NODES, n_buckets=4)
            _, summ_w = _want(
                spark,
                F1 + F2 + [(6, 30, 1, 3, False), (7, 30, 2, 4, False)],
                D1 + D2,
            )
            assert _rows(eng.read_stream("summary")) == summ_w
        finally:
            eng.cleanup()


class TestDepth3CrashSweep:
    def test_every_init_crash_point_recovers(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash the FIRST project activation at every durable-write
        boundary of the full three-stage chain in turn (join init +
        stage-2 init + out-log seed + flag + marker + stage-3 init +
        marker), then re-activate cleanly: every stage must land the
        exact recompute and fold(out log) == rollup — the r10 crash sweep
        extended to the third stage."""
        from test_round10_review import (
            SimulatedCrash,
            _CrashPlan,
            _inject,
        )

        k = 1
        while True:
            eng = _mk_project(spark, tmp_path / f"c{k}", f"pjx{k}", F1, D1)
            try:
                plan = _CrashPlan(k)
                with monkeypatch.context() as mp:
                    _inject(mp, plan)
                    try:
                        eng.activate_project_incremental(NODES, n_buckets=4)
                        crashed = False
                    except SimulatedCrash:
                        crashed = True
                eng.activate_project_incremental(NODES, n_buckets=4)
                roll_w, summ_w = _want(spark, F1, D1)
                assert _rows(eng.read_stream("rollup")) == roll_w, (
                    f"crash point {k}: rollup diverged"
                )
                assert _rows(eng.read_stream("summary")) == summ_w, (
                    f"crash point {k}: summary diverged"
                )
                folded = (
                    fold_last_image(
                        eng.read_pipeline_changes("rollup"),
                        ["dim_tier"], [F.col("__seq")],
                    )
                    .filter(~F.col("__deleted"))
                    .drop("__seq", "__deleted")
                )
                assert _rows(folded) == roll_w, f"crash point {k}: out gap"
            finally:
                eng.cleanup()
            if not crashed:
                assert k > 10, "sweep ended before reaching the init writes"
                break
            k += 1


class TestMidGraphJoin:
    """r13 (VERDICT r12 item 2): a JOIN node whose FACT side consumes an
    upstream node's change log — the last composition gap vs the reference
    platform, where any model's sink may source the next pipeline
    (``impl.py:419-447``). The chain here is the canonical shape:
    rollup → enrich-join → rollup.

    The maintained pin: a rollup group that empties (tombstone in the
    rollup's change log) must RETRACT its enriched row from the join view
    and its contribution from the terminal rollup; a dim churn must
    re-enrich only the referencing keys."""

    MG_NODES = {
        "mgroll": dict(order=["ts"], delete_col="deleted"),
        "mgenrich": dict(dim_order=["ts"], dim_delete_col="deleted"),
        "mgband": {},
    }

    def _mk(self, spark, tmp_path, ns, f1, d1):
        eng = Engine(spark, namespace=ns, warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        eng.create_stream(
            "fact",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(f1, FACT_DDL).schema,
                primary_key=["pk"],
            ),
            data=spark.createDataFrame(f1, FACT_DDL),
        )
        eng.create_stream(
            "dim",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(d1, DIM_DDL).schema,
                primary_key=["dk"],
            ),
            data=spark.createDataFrame(d1, DIM_DDL),
        )
        eng.create_pipeline(
            "mgroll",
            f"select fk, count(*) as n_rows, sum(qty) as sum_qty "
            f"from {ns}__fact group by fk",
            activate=False,
        )
        eng.create_pipeline(
            "mgenrich",
            f"select f.*, d.name as dim_name "
            f"from {ns}__mgroll f join {ns}__dim d on f.fk = d.dk",
            activate=False,
        )
        eng.create_pipeline(
            "mgband",
            f"select dim_name, count(*) as n_fks, sum(sum_qty) as total_qty "
            f"from {ns}__mgenrich group by dim_name",
            activate=False,
        )
        return eng

    @staticmethod
    def _want(spark, f_rows, d_rows):
        """Declarative recompute: live fold → rollup → INNER enrich →
        terminal rollup."""
        live = fold_last_image(
            spark.createDataFrame(f_rows, FACT_DDL), ["pk"],
            [F.col("ts"), F.col("pk")],
        ).filter(~F.col("deleted"))
        roll = live.groupBy("fk").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("qty").alias("sum_qty")
        )
        dlive = fold_last_image(
            spark.createDataFrame(d_rows, DIM_DDL), ["dk"],
            [F.col("ts"), F.col("dk")],
        ).filter(~F.col("deleted"))
        enrich = roll.join(
            dlive, roll["fk"] == dlive["dk"], "inner"
        ).select("fk", "n_rows", "sum_qty", F.col("name").alias("dim_name"))
        band = enrich.groupBy("dim_name").agg(
            F.count(F.lit(1)).alias("n_fks"),
            F.sum("sum_qty").alias("total_qty"),
        )
        return _rows(roll), _rows(enrich), _rows(band)

    def _assert_all(self, spark, eng, f_hist, d_hist, ctx=""):
        roll_w, enr_w, band_w = self._want(spark, f_hist, d_hist)
        assert _rows(eng.read_stream("mgroll")) == roll_w, f"{ctx} rollup"
        assert _rows(eng.read_stream("mgenrich")) == enr_w, f"{ctx} enrich"
        assert _rows(eng.read_stream("mgband")) == band_w, f"{ctx} band"

    def test_chain_matches_recompute_across_churn(self, spark, tmp_path):
        ns = "pjmg"
        eng = self._mk(spark, tmp_path, ns, F1, D1)
        f_hist, d_hist = list(F1), list(D1)
        try:
            eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
            self._assert_all(spark, eng, f_hist, d_hist, "round 1:")
            # churn 1: fact update + insert + tombstone + GROUP MIGRATION
            # (pk 4 fk 30 → 20 empties the fk-30 group: the rollup emits a
            # tombstone the join must retract and the band must drop)
            f2 = F2 + [(4, 20, 4, 2, False)]
            _append(spark, eng, "fact", f2, FACT_DDL)
            f_hist += f2
            eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
            self._assert_all(spark, eng, f_hist, d_hist, "round 2:")
            got = _rows(eng.read_stream("mgenrich"))
            assert all(r[0] != 30 for r in got), "fk 30 must be retracted"
            # churn 2: dim rename (re-enrich fk 10's row, migrate its band
            # group) + dim tombstone (INNER join drops fk 20's row)
            d2 = [(10, "a2", 1, 3, False), (20, "b", 2, 3, True)]
            _append(spark, eng, "dim", d2, DIM_DDL)
            d_hist += d2
            eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
            self._assert_all(spark, eng, f_hist, d_hist, "round 3:")
            got = {r[-1] for r in _rows(eng.read_stream("mgenrich"))}
            assert "a2" in got and "b" not in got
            # churn 3: both sides at once, then an idle no-op activation
            f3 = [(7, 10, 3, 4, False)]
            d3 = [(20, "b3", 2, 5, False)]
            _append(spark, eng, "fact", f3, FACT_DDL)
            _append(spark, eng, "dim", d3, DIM_DDL)
            f_hist += f3
            d_hist += d3
            eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
            self._assert_all(spark, eng, f_hist, d_hist, "round 4:")
            eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
            self._assert_all(spark, eng, f_hist, d_hist, "idle:")
        finally:
            eng.cleanup()

    def test_compaction_roundtrip(self, spark, tmp_path):
        """Enough churn rounds to cross every compaction trigger (the out
        log's, the _ivmjd_ logs', the downstream agg's) — the chain must
        still equal the recompute after the folds."""
        ns = "pjmgc"
        eng = self._mk(spark, tmp_path, ns, F1, D1)
        f_hist, d_hist = list(F1), list(D1)
        try:
            eng.activate_project_incremental(
                self.MG_NODES, n_buckets=4, compact_min_deltas=2,
            )
            for i in range(4):
                rows = [(100 + i, 10 + 10 * (i % 3), i + 1, 10 + i, False)]
                _append(spark, eng, "fact", rows, FACT_DDL)
                f_hist += rows
                eng.activate_project_incremental(
                    self.MG_NODES, n_buckets=4, compact_min_deltas=2,
                )
                self._assert_all(spark, eng, f_hist, d_hist, f"round {i}:")
        finally:
            eng.cleanup()

    def test_view_has_no_metadata_columns(self, spark, tmp_path):
        """The join's sink columns are exactly the upstream sink's plus
        the payload — the ingest metadata (__useq/__udel) must never
        leak."""
        ns = "pjmgv"
        eng = self._mk(spark, tmp_path, ns, F1, D1)
        try:
            eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
            cols = eng.read_stream("mgenrich").columns
            assert cols == ["fk", "n_rows", "sum_qty", "dim_name"]
        finally:
            eng.cleanup()

    def test_every_init_crash_point_recovers(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash the first activation at every durable-write boundary,
        re-activate cleanly — all three stages land the exact recompute."""
        from test_round10_review import SimulatedCrash, _CrashPlan, _inject

        k = 1
        while True:
            eng = self._mk(spark, tmp_path / f"c{k}", f"pjmgk{k}", F1, D1)
            try:
                plan = _CrashPlan(k)
                with monkeypatch.context() as mp:
                    _inject(mp, plan)
                    try:
                        eng.activate_project_incremental(
                            self.MG_NODES, n_buckets=4
                        )
                        crashed = False
                    except SimulatedCrash:
                        crashed = True
                eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
                self._assert_all(spark, eng, F1, D1, f"crash point {k}:")
            finally:
                eng.cleanup()
            if not crashed:
                assert k > 10, "sweep ended before reaching the init writes"
                break
            k += 1

    def test_maintenance_crash_points_recover(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash a CHURN activation (state initialized, pending upstream
        changes) at every durable-write boundary, then re-activate —
        convergence under replay, the view-before-state-before-floor
        ordering's contract."""
        from test_round10_review import SimulatedCrash, _CrashPlan, _inject

        k = 1
        while True:
            eng = self._mk(spark, tmp_path / f"m{k}", f"pjmgm{k}", F1, D1)
            f_hist = list(F1)
            try:
                eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
                f2 = F2 + [(4, 20, 4, 2, False)]
                _append(spark, eng, "fact", f2, FACT_DDL)
                f_hist += f2
                plan = _CrashPlan(k)
                with monkeypatch.context() as mp:
                    _inject(mp, plan)
                    try:
                        eng.activate_project_incremental(
                            self.MG_NODES, n_buckets=4
                        )
                        crashed = False
                    except SimulatedCrash:
                        crashed = True
                eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
                self._assert_all(
                    spark, eng, f_hist, D1, f"maint crash point {k}:"
                )
            finally:
                eng.cleanup()
            if not crashed:
                # the instrumented churn writes: the rollup's out + agg
                # appends, the join stage's view + fact appends (+ floors
                # where reached) — deeper appends go through module-local
                # references the injector deliberately leaves alone
                assert k > 3, "sweep ended before reaching the writes"
                break
            k += 1

    def test_join_over_join_chain(self, spark, tmp_path):
        """Depth-4 with a mid-graph join consuming a RAW join's view log:
        raw-join → mid-graph-join → rollup (the upstream kind resolution's
        join arm)."""
        ns = "pjmg4"
        eng = Engine(spark, namespace=ns, warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        eng.create_stream(
            "fact",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(F1, FACT_DDL).schema,
                primary_key=["pk"],
            ),
            data=spark.createDataFrame(F1, FACT_DDL),
        )
        eng.create_stream(
            "dim",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(D1, DIM_DDL).schema,
                primary_key=["dk"],
            ),
            data=spark.createDataFrame(D1, DIM_DDL),
        )
        d2_rows = [(1, "x", 9, False), (2, "y", 9, False), (3, "z", 9, False)]
        D2_DDL = "tid long, tname string, ts long, deleted boolean"
        eng.create_stream(
            "tiers",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(d2_rows, D2_DDL).schema,
                primary_key=["tid"],
            ),
            data=spark.createDataFrame(d2_rows, D2_DDL),
        )
        eng.create_pipeline(
            "enr1",
            f"select f.*, d.tier as dim_tier "
            f"from {ns}__fact f left join {ns}__dim d on f.fk = d.dk",
            activate=False,
        )
        eng.create_pipeline(
            "enr2",
            f"select f.*, t.tname as tier_name "
            f"from {ns}__enr1 f join {ns}__tiers t on f.dim_tier = t.tid",
            activate=False,
        )
        eng.create_pipeline(
            "agg2",
            f"select tier_name, count(*) as n_rows, sum(qty) as sum_qty "
            f"from {ns}__enr2 group by tier_name",
            activate=False,
        )
        nodes = {
            "enr1": dict(
                fact_order=["ts"], dim_order=["ts"],
                fact_delete_col="deleted", dim_delete_col="deleted",
            ),
            "enr2": dict(dim_order=["ts"], dim_delete_col="deleted"),
            "agg2": {},
        }

        def want(f_rows, d_rows):
            live = fold_last_image(
                spark.createDataFrame(f_rows, FACT_DDL), ["pk"],
                [F.col("ts"), F.col("pk")],
            ).filter(~F.col("deleted"))
            dlive = fold_last_image(
                spark.createDataFrame(d_rows, DIM_DDL), ["dk"],
                [F.col("ts"), F.col("dk")],
            ).filter(~F.col("deleted"))
            # enr1's view projects its tombstone flag away (the raw join
            # arm's _fact_out_cols), so enr2's fact columns carry no
            # `deleted`
            e1 = live.join(dlive, live["fk"] == dlive["dk"], "left").select(
                live["pk"], live["fk"], live["qty"], live["ts"],
                dlive["tier"].alias("dim_tier"),
            )
            t = spark.createDataFrame(d2_rows, D2_DDL)
            e2 = e1.join(t, e1["dim_tier"] == t["tid"], "inner").select(
                e1["pk"], e1["fk"], e1["qty"], e1["ts"],
                e1["dim_tier"], t["tname"].alias("tier_name"),
            )
            agg = e2.groupBy("tier_name").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("qty").alias("sum_qty"),
            )
            return _rows(e2), _rows(agg)

        f_hist, d_hist = list(F1), list(D1)
        try:
            eng.activate_project_incremental(nodes, n_buckets=4)
            e2_w, agg_w = want(f_hist, d_hist)
            assert _rows(eng.read_stream("enr2")) == e2_w
            assert _rows(eng.read_stream("agg2")) == agg_w
            # churn the ROOT fact and the FIRST dim: changes must ripple
            # through both joins into the terminal rollup
            f2 = F2 + [(4, 20, 4, 2, False)]
            d2 = [(10, "a", 2, 2, False)]  # dk 10 migrates tier 1 → 2
            _append(spark, eng, "fact", f2, FACT_DDL)
            _append(spark, eng, "dim", d2, DIM_DDL)
            f_hist += f2
            d_hist += d2
            eng.activate_project_incremental(nodes, n_buckets=4)
            e2_w, agg_w = want(f_hist, d_hist)
            assert _rows(eng.read_stream("enr2")) == e2_w
            assert _rows(eng.read_stream("agg2")) == agg_w
        finally:
            eng.cleanup()

    def test_lag_guard_after_external_compaction(self, spark, tmp_path):
        """Compact the upstream rollup's out log past a parked mid-graph
        join → DownstreamLagError naming the join's root; deleting the
        root re-initializes from the current upstream state."""
        import shutil

        from dbt_decodable_spark.operators.ivm_dag import DownstreamLagError
        from dbt_decodable_spark.streaming.changelog import compact_change_log

        ns = "pjmgl"
        eng = self._mk(spark, tmp_path, ns, F1, D1)
        roll_only = {"mgroll": dict(
            order=["ts"], delete_col="deleted", emit_changes=True,
        )}
        f_hist = list(F1)
        try:
            eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
            # advance ONLY the rollup (join + band parked): live inserts
            # then a tombstone emptying a group — the compaction folds a
            # retraction the parked join never consumed
            for i, rows in enumerate((
                [(200, 20, 1, 20, False)],
                [(201, 40, 2, 21, False)],   # new group fk=40
                [(201, 40, 2, 22, True)],    # ...emptied again
            )):
                _append(spark, eng, "fact", rows, FACT_DDL)
                f_hist += rows
                eng.activate_project_incremental(roll_only, n_buckets=4)
            out_log = os.path.join(
                eng.warehouse_dir, f"_ivm_{ns}__mgroll", "out"
            )
            res = compact_change_log(spark, out_log, ["fk"])
            assert res["floor"] is not None
            with pytest.raises(DownstreamLagError, match="_ivmjd_"):
                eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
            shutil.rmtree(
                os.path.join(eng.warehouse_dir, f"_ivmjd_{ns}__mgenrich")
            )
            # the band stage consumed seqs the rebuilt join restarts
            # below — it must be rebuilt with its upstream
            shutil.rmtree(
                os.path.join(eng.warehouse_dir, f"_ivmd_{ns}__mgband"),
                ignore_errors=True,
            )
            eng.activate_project_incremental(self.MG_NODES, n_buckets=4)
            self._assert_all(spark, eng, f_hist, D1, "post-rebuild:")
        finally:
            eng.cleanup()


class TestInnerTemporalNodeKind:
    """r13: the INNER temporal spelling through the catalog front door —
    unmatched facts absent from the materialized view, appearing when
    their first matching version lands, across churn + compaction."""

    def _mk(self, spark, tmp_path, ns, f1, d1):
        eng = Engine(spark, namespace=ns, warehouse_dir=str(tmp_path / "wh"))
        os.makedirs(eng.warehouse_dir, exist_ok=True)
        eng.create_stream(
            "fact",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(f1, FACT_DDL).schema,
                primary_key=["pk"],
            ),
            data=spark.createDataFrame(f1, FACT_DDL),
        )
        eng.create_stream(
            "dim",
            schema=StreamSchema.from_spark(
                spark.createDataFrame(d1, DIM_DDL).schema,
                primary_key=["dk"],
            ),
            data=spark.createDataFrame(d1, DIM_DDL),
        )
        eng.create_pipeline(
            "iasof",
            f"select f.*, d.tier as tier_at_ts from {ns}__fact f "
            f"inner join {ns}__dim for system_time as of f.ts as d "
            f"on f.fk = d.dk",
            activate=False,
        )
        return eng

    @staticmethod
    def _want(spark, f_rows, d_rows):
        from dbt_decodable_spark.operators.ivm_temporal import (
            TemporalJoinSpec,
            recompute_temporal_view,
        )

        spec = TemporalJoinSpec(
            fact_keys=("pk",), fk_col="fk", dim_key="dk", fact_ts="ts",
            valid_from="ts", payload={"tier_at_ts": "tier"}, how="inner",
        )
        return _rows(
            recompute_temporal_view(
                spark.createDataFrame(f_rows, FACT_DDL),
                spark.createDataFrame(d_rows, DIM_DDL),
                spec, ["ts", "pk"], fact_delete_col="deleted",
            )
        )

    def test_inner_activation_across_churn(self, spark, tmp_path):
        ns = "pjti"
        # dk=40 never gets a version; a fact referencing it stays absent
        f1 = F1 + [(9, 40, 2, 1, False)]
        eng = self._mk(spark, tmp_path, ns, f1, D1)
        f_hist, d_hist = list(f1), list(D1)
        try:
            kw = dict(
                fact_order=["ts"], fact_delete_col="deleted",
                dim_valid_from="ts", n_buckets=4, compact_min_deltas=2,
            )
            eng.activate_pipeline_temporal_incremental("iasof", **kw)
            want = self._want(spark, f_hist, d_hist)
            assert _rows(eng.read_stream("iasof")) == want
            assert all(r[0] != 9 for r in want), "pk 9 must be absent"
            rounds = [
                # a LATE dim version for dk=40 at ts 0 → pk 9 appears
                ([], [(40, "d", 7, 0, False)]),
                # fact churn incl. tombstone; enough rounds to compact
                (F2, [(10, "a", 4, 2, False)]),
                ([(9, 40, 3, 5, False)], []),
            ]
            for i, (frows, drows) in enumerate(rounds):
                if frows:
                    _append(spark, eng, "fact", frows, FACT_DDL)
                    f_hist += frows
                if drows:
                    _append(spark, eng, "dim", drows, DIM_DDL)
                    d_hist += drows
                eng.activate_pipeline_temporal_incremental("iasof", **kw)
                want = self._want(spark, f_hist, d_hist)
                assert _rows(eng.read_stream("iasof")) == want, (
                    f"round {i} diverged"
                )
            got = {r[0]: r[-1] for r in _rows(eng.read_stream("iasof"))}
            assert got[9] == 7, "pk 9 must carry dk 40's tier"
        finally:
            eng.cleanup()
