"""Round-14 optimization pins.

1. The DAG watermark/floor probes now come from parquet footer statistics
   (``ivm_dag._deltas_max_seq``) instead of a per-step Spark aggregate —
   pin that the metadata answer equals the Spark-scan answer on a real
   appended log, including the committed-only filter (an uncommitted
   stage dir must not contribute).
2. The bounded streaming preview runs' state-partition count dropped from
   8 to 2 (``streaming_q._stream_state_partitions``) — pin the default
   and that the layout-sensitive stream-stream OUTER interval
   join emits the IDENTICAL row set under both values (Spark's
   swap-on-remove state eviction makes outer-null emission potentially
   layout-dependent; this is the row the caveat lives on).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


class TestDeltasMaxSeqFooterStats:
    def test_footer_max_equals_spark_max(self, spark, tmp_path):
        from dbt_decodable_spark.operators.ivm_dag import _deltas_max_seq
        from dbt_decodable_spark.streaming.changelog import (
            append_delta,
            list_deltas,
        )

        log = str(tmp_path / "viewlog")
        for seq in (3, 7, 5):  # out-of-order appends; max must be 7
            batch = spark.range(4).select(
                F.col("id").alias("k"),
                F.lit(seq).cast("long").alias("__seq"),
                F.lit(False).alias("__deleted"),
            )
            append_delta(spark, log, batch, tag=str(seq))
        paths = list_deltas(log)
        assert len(paths) == 3
        fmax = _deltas_max_seq(paths)
        smax = (
            spark.read.parquet(*paths).agg(F.max("__seq").alias("m"))
            .collect()[0]["m"]
        )
        assert fmax == smax == 7

    def test_uncommitted_stage_not_listed(self, spark, tmp_path):
        """list_deltas (the input the probe operates on) must skip a
        crashed writer's stage dir — the probe never reads uncommitted
        data because the listing, not the walk, is the commit filter."""
        from dbt_decodable_spark.streaming.changelog import (
            _deltas_root,
            append_delta,
            list_deltas,
        )

        log = str(tmp_path / "viewlog2")
        batch = spark.range(2).select(
            F.col("id").alias("k"),
            F.lit(1).cast("long").alias("__seq"),
            F.lit(False).alias("__deleted"),
        )
        append_delta(spark, log, batch, tag="1")
        # fake an in-flight stage with a higher __seq
        stage = os.path.join(_deltas_root(log), "stage-deadbeef")
        spark.range(2).select(
            F.col("id").alias("k"),
            F.lit(99).cast("long").alias("__seq"),
            F.lit(False).alias("__deleted"),
        ).write.parquet(stage)
        from dbt_decodable_spark.operators.ivm_dag import _deltas_max_seq

        assert _deltas_max_seq(list_deltas(log)) == 1

    def test_maintain_downstream_watermark_advances_identically(
        self, spark, tmp_path
    ):
        """End-to-end: the footer-stats watermark equals what the old
        Spark-aggregate probe would compute, on a real init+maintain
        round (the value IS observable as the returned watermark)."""
        from dbt_decodable_spark.operators.ivm import AggViewSpec
        from dbt_decodable_spark.operators import ivm_dag
        from dbt_decodable_spark.streaming.changelog import append_delta

        log = str(tmp_path / "upstream")
        root = str(tmp_path / "down")
        spec = AggViewSpec(
            group_cols=("g",),
            count_star="n",
            output_order=("g", "n"),
        )
        seed = spark.range(10).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            F.lit(0).cast("long").alias("__seq"),
            F.lit(False).alias("__deleted"),
        )
        append_delta(spark, log, seed, tag="0")
        floor = ivm_dag.init_downstream(spark, root, log, ["k"], spec, n_buckets=2)
        assert floor == 0
        batch = spark.range(10, 16).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            F.lit(4).cast("long").alias("__seq"),
            F.lit(False).alias("__deleted"),
        )
        append_delta(spark, log, batch, tag="4")
        w = ivm_dag.maintain_downstream(spark, root, log, ["k"], spec)
        assert w == 4  # == spark.read.parquet(deltas).agg(max(__seq))
        # caught up: a second step must be a no-op at the same watermark
        assert ivm_dag.maintain_downstream(spark, root, log, ["k"], spec) == 4


class TestKeepBestPrefilteredWindow:
    def test_equals_windowed_everything(self, spark):
        """r14: keep_best_representative windows only the CLUSTERED slice
        and unions the singleton majority back with keep=True. Pin exact
        equality against the naive windowed-everything form on a graph
        with singletons, a multi-member cluster with score ties, and a
        chain-linked component."""
        from pyspark.sql import Window as W
        from dbt_decodable_spark.operators.graph import (
            keep_best_representative,
        )

        df = spark.createDataFrame(
            [(i, [10, 20, 20, 5, 7, 7, 7, 1, 3, 9][i]) for i in range(10)],
            "doc long, score long",
        )
        # clusters: {0,1,2} (via 0-1, 1-2), {4,5}; singletons 3,6,7,8,9
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
        )
        got = {
            tuple(r)
            for r in keep_best_representative(
                df, pairs, "doc", "score"
            ).collect()
        }
        from pyspark.sql import functions as F2
        from dbt_decodable_spark.operators.graph import connected_components

        cc = connected_components(pairs, "id_a", "id_b").withColumnRenamed(
            "id", "__cc_id"
        )
        labeled = (
            df.select("doc", "score")
            .join(cc, F2.col("doc") == F2.col("__cc_id"), "left")
            .drop("__cc_id")
            .withColumn(
                "component", F2.coalesce(F2.col("component"), F2.col("doc"))
            )
        )
        w = W.partitionBy("component").orderBy(
            F2.col("score").desc(), F2.col("doc").asc()
        )
        want = {
            tuple(r)
            for r in labeled.withColumn(
                "keep", F2.row_number().over(w) == F2.lit(1)
            ).collect()
        }
        assert got == want


class TestStreamStatePartitions:
    def test_env_override_and_default(self, monkeypatch):
        from dbt_decodable_spark.queries.streaming_q import (
            _stream_state_partitions,
        )

        assert _stream_state_partitions() == "2"

    @pytest.mark.skipif(
        not os.path.isdir(SF_DIR), reason="testdata not present"
    )
    def test_outer_interval_join_identical_rows_2_vs_8(
        self, spark, monkeypatch
    ):
        """The caveat row: outer-null emission rides per-partition state
        eviction order, so the partition-count change must be pinned to
        the exact row set, not just counts."""
        from dbt_decodable_spark.queries import load_all, streaming_q

        fn = load_all()["stream_interval_join_outer"].fn

        def rowset(parts: str):
            monkeypatch.setattr(
                streaming_q, "_stream_state_partitions", lambda: parts
            )
            df = fn(spark, SF_DIR)
            return sorted(
                (r["id_a"], r["id_b"]) for r in df.collect()
            )

        assert rowset("2") == rowset("8")
