"""Engine lifecycle tests (SURVEY §2.11): streams, pipelines, apply/diff,
cascade drop, rename, truncate, namespace prefixing, run-operations, seeds,
previews, dbt-style data tests."""

import pytest

from dbt_decodable_spark.catalog import CatalogError
from dbt_decodable_spark.plans.preview import Preview, backoff_schedule
from dbt_decodable_spark.plans.tests_sql import (
    accepted_values_sql,
    get_test_sql,
    not_null_sql,
    relationships_sql,
    run_test,
    unique_sql,
)
from dbt_decodable_spark.schema import SchemaField, StreamSchema
from dbt_decodable_spark.sources.seeds import seed_from_rows

SEED_HEADER = ["name", "age"]
SEED_ROWS = [["Adam", 31], ["George", 27], ["Lily", 59]]  # FIXTURES.md §1


def _seed(engine):
    return seed_from_rows(engine, "my_seed", SEED_HEADER, SEED_ROWS)


class TestStreams:
    def test_create_and_read(self, engine, spark):
        schema = StreamSchema(fields=(SchemaField(name="v", type="STRING"),))
        engine.create_stream("s1", schema=schema)
        assert engine.read_stream("s1").columns == ["v"]
        assert engine.list_streams() == ["t__s1"]  # namespace prefix

    def test_computed_field(self, engine, spark):
        schema = StreamSchema(
            fields=(
                SchemaField(name="v", type="STRING"),
                SchemaField(name="v_len", kind="computed", expression="CHAR_LENGTH(v)"),
            )
        )
        df = spark.createDataFrame([("abc",)], "v string")
        engine.create_stream("s2", schema=schema, data=df)
        assert engine.read_stream("s2").collect()[0]["v_len"] == 3

    def test_truncate_keeps_schema(self, engine, spark):
        df = spark.createDataFrame([(1, "a")], "id int, v string")
        engine.create_stream("s3", data=df)
        engine.truncate_stream("s3")
        out = engine.read_stream("s3")
        assert out.count() == 0 and out.columns == ["id", "v"]

    def test_get_columns(self, engine):
        _seed(engine)
        assert engine.get_columns("my_seed") == [
            ("name", "STRING"),
            ("age", "DECIMAL(10, 0)"),
        ]

    def test_missing_stream_raises(self, engine):
        with pytest.raises(CatalogError):
            engine.read_stream("nope")


class TestSeeds:
    def test_reference_type_inference(self, engine):
        # text→STRING, number→DECIMAL(10, 0) (impl.py:150-156)
        df = _seed(engine)
        assert dict(df.dtypes) == {"name": "string", "age": "decimal(10,0)"}
        assert df.count() == 3

    def test_column_type_override_with_fallback(self, engine):
        df = seed_from_rows(
            engine,
            "my_seed2",
            SEED_HEADER,
            SEED_ROWS,
            column_types={"age": "BIGINT", "name": "not_a_type"},  # bad → fallback
        )
        assert dict(df.dtypes) == {"name": "string", "age": "bigint"}

    def test_datetime_inference(self, engine):
        df = seed_from_rows(
            engine, "my_seed3", ["ts", "d"], [["2024-01-01T00:00:00", "2024-01-01"]]
        )
        assert dict(df.dtypes) == {"ts": "timestamp", "d": "date"}


class TestConnections:
    """Connection entity lifecycle (api.py:36-48, client.py:455-491): create →
    activate → send_events → deactivate → delete, seed parity, apply(), and
    cleanup/count_resources accounting."""

    SCHEMA = StreamSchema(
        fields=(SchemaField(name="k", type="BIGINT"), SchemaField(name="v", type="STRING"))
    )

    def test_create_activate_send_deactivate_delete(self, engine):
        conn = engine.create_connection("c1", connector="rest", schema=self.SCHEMA)
        assert conn.stream == "t__c1" and not conn.active
        assert engine.read_stream("c1").count() == 0  # bound stream created
        engine.activate_connection("c1")
        assert engine.send_events("c1", [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]) == 2
        rows = {(r["k"], r["v"]) for r in engine.read_stream("c1").collect()}
        assert rows == {(1, "a"), (2, "b")}
        engine.deactivate_connection("c1")
        with pytest.raises(CatalogError):  # events only flow while active
            engine.send_events("c1", [{"k": 3, "v": "c"}])
        engine.delete_connection("c1")
        with pytest.raises(CatalogError):
            engine.get_connection("c1")

    def test_unknown_connector_rejected(self, engine):
        with pytest.raises(CatalogError):
            engine.create_connection("bad", connector="ftp", schema=self.SCHEMA)

    def test_seed_creates_rest_connection(self, engine):
        # impl.py:537-546: the seed path creates + activates a REST connection
        _seed(engine)
        conn = engine.get_connection("my_seed")
        assert conn.connector == "rest" and conn.active
        assert conn.stream == "t__my_seed"

    def test_apply_connection_reconcile(self, engine):
        res = [{
            "kind": "connection",
            "metadata": {"name": "c_apply"},
            "spec": {
                "connector": "datagen",
                "type": "source",
                "schema": {"fields": [{"name": "x", "type": "BIGINT"}]},
                "active": True,
            },
        }]
        assert [r["result"] for r in engine.apply(res)] == ["created"]
        assert engine.get_connection("c_apply").active
        assert [r["result"] for r in engine.apply(res)] == ["unchanged"]
        res[0]["spec"]["properties"] = {"rows_per_second": "5"}
        assert [r["result"] for r in engine.apply(res)] == ["updated"]

    def test_cascade_drop_and_counts(self, engine):
        engine.create_connection("c2", connector="s3", schema=self.SCHEMA, stream="s_bound")
        counts = engine.count_resources()
        assert counts["connections"] == 1
        dropped = engine.drop_stream("s_bound")
        assert "connection:t__c2" in dropped
        assert engine.count_resources()["connections"] == 0
        engine.create_connection("c3", connector="kafka", schema=self.SCHEMA)
        assert engine.cleanup()["connections"] == 1


class TestPipelines:
    def test_create_table_flow(self, engine):
        """create_table: stream+pipeline pair from model SQL (impl.py:419-447)."""
        _seed(engine)
        engine.create_pipeline(
            "my_model", "select CHAR_LENGTH(name) as name_length from t__my_seed"
        )
        out = engine.read_stream("my_model")
        assert sorted(r["name_length"] for r in out.collect()) == [4, 4, 6]
        assert engine.pipelines["t__my_model"].sources == ("t__my_seed",)

    def test_schema_inference_from_sql(self, engine):
        _seed(engine)
        schema = engine.infer_output_schema(
            "select CHAR_LENGTH(name) as name_length from t__my_seed"
        )
        assert schema.fields[0].name == "name_length"
        assert schema.fields[0].type == "INT"

    def test_apply_idempotent(self, engine):
        """apply → created, then unchanged; changed SQL → updated (impl.py:402-417)."""
        _seed(engine)
        resources = [
            {
                "kind": "pipeline",
                "metadata": {"name": "m1"},
                "spec": {"sql": "select name from t__my_seed"},
            }
        ]
        assert [r["result"] for r in engine.apply(resources)] == ["created"]
        assert [r["result"] for r in engine.apply(resources)] == ["unchanged"]
        assert engine.has_changed(resources) is False
        resources[0]["spec"]["sql"] = "select name, age from t__my_seed"
        assert engine.has_changed(resources) is True
        assert [r["result"] for r in engine.apply(resources)] == ["updated"]
        assert engine.read_stream("m1").columns == ["name", "age"]

    def test_cascade_drop(self, engine):
        """drop_relation: pipeline sourcing from the stream goes too
        (impl.py:197-257)."""
        _seed(engine)
        engine.create_pipeline("m2", "select name from t__my_seed")
        dropped = engine.drop_stream("my_seed")
        assert "pipeline:t__m2" in dropped and "stream:t__my_seed" in dropped
        assert "stream:t__m2" in dropped  # m2's sink cascades as well
        assert engine.count_resources() == {"streams": 0, "pipelines": 0, "connections": 0}

    def test_rename_repoints_dependents(self, engine):
        """rename_relation rewrites dependent pipeline SQL (impl.py:277-352)."""
        _seed(engine)
        engine.create_pipeline("m3", "select name from t__my_seed")
        engine.rename_stream("my_seed", "my_seed_renamed")
        p = engine.pipelines["t__m3"]
        assert "t__my_seed_renamed" in p.sql and p.sources == ("t__my_seed_renamed",)
        engine.activate_pipeline("m3")  # still runs against the new name
        assert engine.read_stream("m3").count() == 3

    def test_run_operations(self, engine):
        _seed(engine)
        engine.create_pipeline("m4", "select name from t__my_seed")
        assert engine.count_resources() == {"streams": 2, "pipelines": 1, "connections": 1}
        assert engine.stop_pipelines() == 1
        assert engine.delete_pipelines() == 1
        assert engine.delete_streams() == 2
        assert engine.count_resources() == {"streams": 0, "pipelines": 0, "connections": 0}


class TestPreview:
    def test_append_preview(self, engine):
        _seed(engine)
        rows = Preview(engine.spark).run("select name from t__my_seed")
        assert sorted(rows) == [("Adam",), ("George",), ("Lily",)]

    def test_latest_is_empty_tail(self, engine):
        """latest start over a bounded source = empty (api.py:22-35)."""
        _seed(engine)
        rows = Preview(engine.spark, start="latest").run("select name from t__my_seed")
        assert rows == []

    def test_change_fold_keeps_last_image(self, engine, spark):
        """handler.py:89-94: last after-image per key wins."""
        spark.createDataFrame(
            [(1, "k", 10), (2, "k", 20), (3, "j", 5)], "seq int, k string, v int"
        ).createOrReplaceTempView("chg")
        rows = Preview(spark).run(
            "select k, v, seq from chg", primary_key=["k"], order_col="seq"
        )
        assert sorted(rows) == [("j", 5, 3), ("k", 20, 2)]

    def test_backoff_schedule(self):
        import random

        waits = list(backoff_schedule(10_000, rng=random.Random(0)))
        assert sum(waits) == 10_000  # capped at the budget
        assert waits[0] >= 1000  # 1 s initial
        # doubling shape: each base delay is 2× the previous (modulo jitter ≤ 1 s)
        assert waits[1] >= 2000 and waits[2] >= 4000

    def test_invalid_start_position(self, spark):
        with pytest.raises(ValueError):
            Preview(spark, start="middle")


class TestDataTests:
    def test_wrapper_shape(self):
        sql = get_test_sql("select * from t where x is null", limit=5)
        assert "as failures" in sql and "limit 5" in sql
        assert "<> 0" in sql and "!=" not in sql  # dialect rewrite applied

    def test_not_null_pass(self, engine):
        _seed(engine)
        res = run_test(engine, not_null_sql("t__my_seed", "name"))
        assert res.status == "pass" and res.failures == 0

    def test_not_null_fail(self, engine, spark):
        spark.createDataFrame([("a",), (None,)], "v string").createOrReplaceTempView(
            "withnull"
        )
        res = run_test(engine, not_null_sql("withnull", "v"))
        assert res.status == "fail" and res.failures == 1

    def test_unique(self, engine, spark):
        spark.createDataFrame([(1,), (1,), (2,)], "id int").createOrReplaceTempView("dups")
        res = run_test(engine, unique_sql("dups", "id"))
        assert res.status == "fail" and res.failures == 1  # one duplicated value

    def test_accepted_values(self, engine, spark):
        spark.createDataFrame([("a",), ("x",)], "v string").createOrReplaceTempView("av")
        res = run_test(engine, accepted_values_sql("av", "v", ["a", "b"]))
        assert res.status == "fail"

    def test_relationships(self, engine, spark):
        spark.createDataFrame([(1,), (9,)], "fk int").createOrReplaceTempView("child_t")
        spark.createDataFrame([(1,), (2,)], "pk int").createOrReplaceTempView("parent_t")
        res = run_test(engine, relationships_sql("child_t", "fk", "parent_t", "pk"))
        assert res.status == "fail" and res.failures == 1

    def test_warn_threshold(self, engine, spark):
        spark.createDataFrame([(None,)], "v string").createOrReplaceTempView("warn1")
        res = run_test(
            engine, not_null_sql("warn1", "v"), warn_if="> 0", error_if="> 10"
        )
        assert res.status == "warn"

    def test_materialized_test(self, engine):
        """materialize_tests: persist as stream+pipeline (test_as_table.sql)."""
        _seed(engine)
        res = run_test(
            engine, not_null_sql("t__my_seed", "name"), materialize=True, name="tst1"
        )
        assert res.status == "pass"
        assert "t__tst1" in engine.list_streams()


class TestSession3Regressions:
    """Regression pins for the engine-layer review fixes."""

    def test_reseed_is_full_refresh(self, engine):
        first = _seed(engine)
        assert first.count() == 3
        again = _seed(engine)  # re-run must replace, not append-and-abort
        assert again.count() == 3

    def test_apply_converges_with_explicit_schema(self, engine, spark):
        engine.create_stream(
            "src2",
            schema=StreamSchema(fields=(SchemaField(name="id", type="BIGINT"),)),
        )
        resources = [
            {
                "kind": "pipeline",
                "metadata": {"name": "p2"},
                "spec": {
                    "sql": f"SELECT id FROM {engine.qualify('src2')}",
                    # user-written schema dict: byte shape differs from the
                    # inferred one — must not poison the fingerprint
                    "schema": {"fields": [{"name": "id", "type": "BIGINT"}]},
                },
            }
        ]
        r1 = engine.apply(resources)
        assert r1[0]["result"] == "created"
        r2 = engine.apply(resources)
        assert r2[0]["result"] == "unchanged"

    def test_has_changed_with_new_source_in_same_list(self, engine):
        # dry-run: the pipeline's source only exists as an earlier entry in
        # the same resource list — must report changed, not crash
        resources = [
            {
                "kind": "stream",
                "metadata": {"name": "brand_new_src"},
                "spec": {"schema": {"fields": [{"name": "id", "type": "BIGINT"}]}},
            },
            {
                "kind": "pipeline",
                "metadata": {"name": "brand_new_p"},
                "spec": {"sql": f"SELECT id FROM {engine.qualify('brand_new_src')}"},
            },
        ]
        assert engine.has_changed(resources) is True

    def test_rename_repoints_connections(self, engine):
        schema = StreamSchema(fields=(SchemaField(name="v", type="STRING"),))
        engine.create_connection("c_rn", "rest", stream="s_rn", schema=schema)
        engine.activate_connection("c_rn")
        engine.rename_stream("s_rn", "t_rn")
        n = engine.send_events("c_rn", [{"v": "x"}])
        assert n == 1
        assert engine.read_stream("t_rn").count() == 1

    def test_comma_from_list_sources_resolved(self, engine):
        schema = StreamSchema(fields=(SchemaField(name="id", type="BIGINT"),))
        engine.create_stream("ca", schema=schema)
        engine.create_stream("cb", schema=schema)
        p = engine.create_pipeline(
            "pj",
            f"SELECT a.id FROM {engine.qualify('ca')} a, {engine.qualify('cb')} b "
            "WHERE a.id = b.id",
            activate=False,
        )
        assert set(p.sources) == {engine.qualify("ca"), engine.qualify("cb")}

    def test_accepted_values_escapes_quotes(self, engine, spark):
        schema = StreamSchema(fields=(SchemaField(name="name", type="STRING"),))
        df = spark.createDataFrame([("O'Brien",), ("Smith",)], "name string")
        engine.create_stream("pp", schema=schema, data=df)
        sql = accepted_values_sql(engine.qualify("pp"), "name", ["O'Brien", "Smith"])
        assert spark.sql(sql).count() == 0  # parses AND matches


class TestSelfReferencingPipeline:
    def test_incremental_style_activate(self, spark, tmp_path):
        from dbt_decodable_spark.catalog import Engine

        eng = Engine(spark, namespace="sr", warehouse_dir=str(tmp_path / "wh"))
        try:
            src = spark.createDataFrame([(1,), (2,), (3,)], "id long")
            eng.create_stream("t", data=src)
            # sink == source: the classic incremental model shape
            eng.create_pipeline(
                "t", f"SELECT id FROM {eng.qualify('t')} WHERE id > 1",
                activate=True,
            )
            assert sorted(r.id for r in eng.read_stream("t").collect()) == [2, 3]
        finally:
            eng.cleanup()

    def test_crash_between_renames_recovers_on_next_run(self, spark, tmp_path):
        # simulate a crash AFTER sink->old but BEFORE tmp->sink: the sink
        # dir is gone; the rerun must restore old, not delete it
        import os

        from dbt_decodable_spark.catalog import Engine

        wh = tmp_path / "wh"
        eng = Engine(spark, namespace="sr", warehouse_dir=str(wh))
        try:
            src = spark.createDataFrame([(1,), (2,), (3,)], "id long")
            eng.create_stream("t", data=src)
            eng.create_pipeline(
                "t", f"SELECT id FROM {eng.qualify('t')} WHERE id > 1",
                activate=True,
            )
            siblings = sorted(p.name for p in wh.iterdir())
            path = eng.streams[eng.qualify("t")].path
            os.rename(path, path + ".__insert_old__")
            os.makedirs(path + ".__insert_tmp__")  # half-written leftover
            eng.activate_pipeline("t")
            assert sorted(r.id for r in eng.read_stream("t").collect()) == [2, 3]
            assert sorted(p.name for p in wh.iterdir()) == siblings
        finally:
            eng.cleanup()
