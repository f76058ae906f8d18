"""Engine catalog: streams, pipelines, and the declarative lifecycle — the
Spark-native analogue of the reference's adapter + control plane
(``dbt/adapters/decodable/impl.py:197-660``, ``decodable/client/client.py``).

Entity model (SURVEY §1.1):

- **stream** — named relation with a :class:`StreamSchema`; materialized as a
  Spark view (in-memory) or parquet table (``warehouse_dir`` set). Streams
  are the only relation kind (``impl.py:366-380``).
- **pipeline** — ``INSERT INTO <sink> <select>`` transformation
  (``impl.py:690-692``); activating it runs the insert (batch) or starts a
  StreamingQuery (streaming layer).
- **connection** — (connector, source|sink) binding to a stream with its own
  activate/deactivate lifecycle (``decodable/client/api.py:36-48``,
  ``client.py:455-491``); the seed path creates a REST source connection and
  posts stringified events through it (``impl.py:502-574``).
- namespace prefixing: every entity name gets ``<namespace>__``
  (``dbt/include/decodable/macros/adapters.sql:17-28``).

Lifecycle semantics mirrored file:line by file:line:

- ``apply`` + dry-run diff → per-resource result ∈ {created, updated,
  unchanged} (``client.py:510-529``, ``impl.py:402-417``),
- cascade drop: deactivate+delete the stream's pipeline, then recursively
  delete pipelines *sourcing from* the stream, then the stream itself
  (``impl.py:197-257``),
- rename: rename stream + pipeline and rewrite ``INSERT INTO``/``FROM``
  references in dependent pipeline SQL (``impl.py:277-352, 694-701``) — done
  here at the catalog level, not by string replace,
- truncate: keep schema, drop rows (``impl.py:259-275``),
- run-operations: ``stop_pipelines``, ``delete_pipelines``,
  ``delete_streams``, ``cleanup``, ``count_resources``
  (``dbt/include/decodable/macros/operations.sql:17-127``).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from dbt_decodable_spark.dialect import normalize
from dbt_decodable_spark.operators import ivm_dag, ivm_join as ij, ivm_log
from dbt_decodable_spark.operators import ivm_temporal as it
from dbt_decodable_spark.operators.ivm import agg_spec_from_sql
from dbt_decodable_spark.schema import StreamSchema
from dbt_decodable_spark.streaming import changelog as cl


class CatalogError(ValueError):
    pass


def _advance_stream_offsets(spark, src_path: str, schema, ckpt: str) -> None:
    """Commit stream offsets over ``src_path``'s current files WITHOUT
    applying them — the bounded no-op pass every raw input of a maintained
    node runs as its FIRST init step. The caller must list/fold the source only AFTER this
    returns: every file this pass commits as consumed is then included in
    the fold's listing, and a file landing in the gap is folded AND later
    replayed, converging by the fold tolerance (the reverse order silently
    dropped gap files: committed as consumed, never folded)."""
    _run_available_now(spark, src_path, schema, ckpt, lambda df, bid: None)


def _write_atomic(path: str, content: str) -> None:
    """tmp-write + rename: markers and tiny metadata records are either
    fully present or absent, never truncated."""
    with open(path + ".tmp", "w") as fh:
        fh.write(content)
    os.replace(path + ".tmp", path)


@dataclass
class StreamDef:
    name: str
    schema: StreamSchema
    path: str | None = None  # parquet-backed when warehouse_dir is set
    properties: dict[str, str] = field(default_factory=dict)


@dataclass
class PipelineDef:
    name: str
    sql: str  # the SELECT (normalized)
    sink: str  # sink stream name
    sources: tuple[str, ...] = ()  # input stream names (resolved from the plan)
    active: bool = False
    fingerprint: str = ""


#: the reference's connector enum (decodable/client/api.py:36-43)
CONNECTORS = ("datagen", "kafka", "kinesis", "rest", "s3")


@dataclass
class ConnectionDef:
    """A connection binds (connector, source|sink) to a stream — the
    reference's first-class connection entity (decodable/client/api.py:36-48;
    created bound to a stream via client.py:455-471, lifecycle
    activate/deactivate/delete via client.py:474-491)."""

    name: str
    connector: str  # ∈ CONNECTORS
    conn_type: str  # "source" | "sink" (api.py:45-48)
    stream: str  # bound stream name (qualified)
    properties: dict[str, str] = field(default_factory=dict)
    active: bool = False
    fingerprint: str = ""


def _fingerprint(sql: str, schema_dict: dict[str, Any] | None) -> str:
    payload = json.dumps({"sql": sql, "schema": schema_dict}, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


class Engine:
    """One engine instance = one namespace over one SparkSession."""

    def __init__(
        self,
        spark: SparkSession,
        namespace: str = "",
        warehouse_dir: str | None = None,
    ):
        self.spark = spark
        self.namespace = namespace
        self.warehouse_dir = warehouse_dir
        self.streams: dict[str, StreamDef] = {}
        self.pipelines: dict[str, PipelineDef] = {}
        self.connections: dict[str, ConnectionDef] = {}

    # -- naming -------------------------------------------------------------

    def qualify(self, name: str) -> str:
        """``<namespace>__<name>`` prefixing (adapters.sql:17-28)."""
        if self.namespace and not name.startswith(self.namespace + "__"):
            return f"{self.namespace}__{name}"
        return name

    # -- stream lifecycle ---------------------------------------------------

    def create_stream(
        self,
        name: str,
        schema: StreamSchema | None = None,
        data: DataFrame | None = None,
        properties: dict[str, str] | None = None,
    ) -> StreamDef:
        """Create (or replace) a stream from a schema, a DataFrame, or both.

        Computed fields are applied to the data; the registered relation
        always reflects the full schema.
        """
        name = self.qualify(name)
        if data is None and schema is None:
            raise CatalogError(f"stream {name!r} needs a schema or data")
        if data is None:
            assert schema is not None
            data = self.spark.createDataFrame([], schema.to_struct_type())
        if schema is None:
            schema = StreamSchema.from_spark(data.schema)
        data = schema.apply_computed_fields(data)
        sdef = StreamDef(name=name, schema=schema, properties=dict(properties or {}))
        self._materialize(sdef, data)
        self.streams[name] = sdef
        return sdef

    def _materialize(self, sdef: StreamDef, data: DataFrame) -> None:
        if self.warehouse_dir:
            path = os.path.join(self.warehouse_dir, sdef.name)
            data.write.mode("overwrite").parquet(path)
            sdef.path = path
            self.spark.read.parquet(path).createOrReplaceTempView(sdef.name)
        else:
            data.createOrReplaceTempView(sdef.name)

    def get_stream(self, name: str) -> StreamDef:
        name = self.qualify(name)
        try:
            return self.streams[name]
        except KeyError:
            raise CatalogError(f"no such stream: {name}") from None

    def read_stream(self, name: str) -> DataFrame:
        return self.spark.table(self.get_stream(name).name)

    def list_streams(self) -> list[str]:
        """list_relations_without_caching (impl.py:366-380)."""
        return sorted(self.streams)

    def get_columns(self, name: str) -> list[tuple[str, str]]:
        """get_columns_in_relation (impl.py:382-400): (name, flink type)."""
        sdef = self.get_stream(name)
        return [
            (f.name, f.type or "")
            for f in sdef.schema.fields
            if f.kind in ("physical", "metadata")
        ]

    def truncate_stream(self, name: str) -> None:
        """Clear data, keep schema (impl.py:259-275)."""
        sdef = self.get_stream(name)
        empty = self.spark.createDataFrame([], self.read_stream(name).schema)
        self._materialize(sdef, empty)

    def refresh_stream(self, name: str) -> None:
        """Re-register the stream's temp view from its parquet path. Needed
        after out-of-band appends (e.g. a bounded streaming activation's
        foreachBatch sink) — the previously-registered view pins the file
        index as of registration time."""
        sdef = self.get_stream(name)
        if sdef.path:
            self.spark.read.parquet(sdef.path).createOrReplaceTempView(sdef.name)

    def drop_stream(self, name: str, cascade: bool = True) -> list[str]:
        """Cascade drop per impl.py:197-257; returns every entity dropped."""
        name = self.qualify(name)
        if name not in self.streams:
            return []
        dropped: list[str] = []
        # 0. connections bound to this stream (the reference's cascade drops
        # the attached connection before the stream, impl.py:197-257)
        for c in [c for c in self.connections.values() if c.stream == name]:
            self.delete_connection(c.name)
            dropped.append(f"connection:{c.name}")
        # 1. pipeline writing this stream
        writer = self._pipeline_writing(name)
        if writer:
            self.delete_pipeline(writer.name)
            dropped.append(f"pipeline:{writer.name}")
        # 2. pipelines sourcing from this stream → recursively drop their sinks
        if cascade:
            for p in list(self.pipelines.values()):
                if name in p.sources:
                    self.delete_pipeline(p.name)
                    dropped.append(f"pipeline:{p.name}")
                    if p.sink in self.streams and p.sink != name:
                        dropped.extend(self.drop_stream(p.sink, cascade=True))
        # 3. the stream itself
        self.spark.catalog.dropTempView(name)
        sdef = self.streams.pop(name)
        if sdef.path and os.path.isdir(sdef.path):
            shutil.rmtree(sdef.path, ignore_errors=True)
        dropped.append(f"stream:{name}")
        return dropped

    def rename_stream(self, old: str, new: str) -> None:
        """Rename stream + its writer pipeline; re-point dependent pipelines
        (impl.py:277-352). Plan-level: dependent SQL is re-resolved against
        the catalog, replacing the reference's string replace
        (impl.py:694-701)."""
        old, new = self.qualify(old), self.qualify(new)
        sdef = self.get_stream(old)
        if new in self.streams:
            raise CatalogError(f"stream {new!r} already exists")
        data = self.read_stream(old)
        self.streams[new] = StreamDef(
            name=new, schema=sdef.schema, properties=sdef.properties
        )
        self._materialize(self.streams[new], data)
        # writer pipeline follows the stream name (reference renames it too)
        writer = self._pipeline_writing(old)
        if writer:
            del self.pipelines[writer.name]
            nn = new if writer.name == old else writer.name
            self.pipelines[nn] = PipelineDef(
                name=nn,
                sql=self._retarget_sql(writer.sql, old, new),
                sink=new,
                sources=tuple(new if s == old else s for s in writer.sources),
                active=writer.active,
                fingerprint=writer.fingerprint,
            )
        # dependents re-point their FROM references
        for p in self.pipelines.values():
            if old in p.sources:
                p.sql = self._retarget_sql(p.sql, old, new)
                p.sources = tuple(new if s == old else s for s in p.sources)
        # connections bound to the renamed stream follow it — otherwise a
        # later send_events on the connection KeyErrors on the stale name
        for c in self.connections.values():
            if c.stream == old:
                c.stream = new
        self.spark.catalog.dropTempView(old)
        del self.streams[old]
        # warehouse mode: the old stream's parquet dir is dead weight now
        # (the data was re-materialized under the new name above)
        if sdef.path and os.path.isdir(sdef.path):
            shutil.rmtree(sdef.path, ignore_errors=True)

    @staticmethod
    def _retarget_sql(sql: str, old: str, new: str) -> str:
        return re.sub(rf"(?<![A-Za-z0-9_`]){re.escape(old)}(?![A-Za-z0-9_`])", new, sql)

    def _pipeline_writing(self, stream: str) -> PipelineDef | None:
        for p in self.pipelines.values():
            if p.sink == stream:
                return p
        return None

    # -- pipeline lifecycle -------------------------------------------------

    def infer_output_schema(self, sql: str) -> StreamSchema:
        """The reference POSTs the SQL to /pipelines/outputStream for schema
        inference (impl.py:482-500); Catalyst's analyzer does it locally.
        The temporal-join shape (``FOR SYSTEM_TIME AS OF`` — Flink syntax
        Spark has no spelling for) is inferred structurally: the fact's
        full schema plus the dim payload columns, nullable (LEFT
        semantics), in select order — exactly the AS-OF operator's output."""
        try:
            return StreamSchema.from_spark(self.spark.sql(normalize(sql)).schema)
        except Exception as exc:
            from dbt_decodable_spark.operators.ivm_temporal import (
                temporal_spec_from_sql,
            )

            try:
                spec0, ftbl, dtbl = temporal_spec_from_sql(sql, (), "__pending__")
            except ValueError:
                raise exc
            from pyspark.sql import types as _T

            f_st = self.streams[self.qualify(ftbl)].schema.to_struct_type()
            d_types = {
                f.name: f.dataType
                for f in self.streams[self.qualify(dtbl)].schema.to_struct_type()
            }
            bad = [s for s in spec0.payload.values() if s not in d_types]
            if bad:
                raise CatalogError(
                    f"temporal payload column(s) {bad} are not columns of "
                    f"{dtbl!r}"
                ) from None
            # mirror the incremental front door's payload-vs-fact check
            # (activate_pipeline_temporal_incremental): a colliding OUTPUT
            # alias would otherwise build a StructType with duplicate
            # field names instead of raising (ADVICE r12)
            fact_names = set(f_st.fieldNames())
            bad_alias = [a for a in spec0.payload if a in fact_names]
            if bad_alias:
                raise CatalogError(
                    f"payload name(s) {bad_alias} collide with a fact "
                    "column"
                ) from None
            out = _T.StructType(
                list(f_st.fields)
                + [
                    _T.StructField(name, d_types[src], True)
                    for name, src in spec0.payload.items()
                ]
            )
            return StreamSchema.from_spark(out)

    def _resolve_sources(self, sql: str) -> tuple[str, ...]:
        """Input streams referenced by the SQL (resolved against the catalog).
        Comma-separated FROM lists (``FROM a, b``) count every member — a
        missed source breaks cascade-drop, rename re-pointing, and streaming
        re-binding for that stream."""
        idents: set[str] = set()
        # capture the whole comma list after FROM/JOIN — each item may carry
        # an (optionally AS-prefixed) alias before its comma
        seg_re = (
            rf"(?:FROM|JOIN)\s+"
            rf"((?:`?{_IDENT}`?(?:\s+(?:AS\s+)?{_IDENT})?\s*,\s*)*`?{_IDENT}`?)"
        )
        for m in re.finditer(seg_re, sql, re.IGNORECASE):
            for item in m.group(1).split(","):
                first = re.match(rf"\s*`?({_IDENT})`?", item)
                if first:
                    idents.add(first.group(1))
        return tuple(sorted(i for i in idents if self.qualify(i) in self.streams))

    def create_pipeline(
        self,
        name: str,
        sql: str,
        sink: str | None = None,
        primary_key: list[str] | None = None,
        activate: bool = True,
    ) -> PipelineDef:
        """Stream+pipeline pair from model SQL (create_table, impl.py:419-447):
        infer the output schema, create the sink stream, register the
        pipeline ``INSERT INTO sink <sql>``, and activate (run) it."""
        name = self.qualify(name)
        sink = self.qualify(sink or name)
        nsql = normalize(sql)
        out_schema = self.infer_output_schema(nsql)
        if primary_key:
            out_schema = StreamSchema(
                fields=out_schema.fields,
                watermarks=out_schema.watermarks,
                primary_key=tuple(primary_key),
            )
        if sink not in self.streams:
            self.create_stream(sink, schema=out_schema)
        pdef = PipelineDef(
            name=name,
            sql=nsql,
            sink=sink,
            sources=self._resolve_sources(nsql),
            fingerprint=_fingerprint(nsql, out_schema.to_dict()),
        )
        self.pipelines[name] = pdef
        if activate:
            self.activate_pipeline(name)
        return pdef

    def _temporal_batch_frame(self, sql: str) -> DataFrame:
        """Batch execution of the temporal-join shape (Spark SQL has no
        ``FOR SYSTEM_TIME AS OF`` spelling): one AS-OF join of the fact
        rows against the dim's full version history — each fact picks the
        latest version with ``valid_from <= fact_ts`` for its key. The
        version-start column is the dim's single watermark column (the
        incremental front door accepts ``dim_valid_from=`` instead)."""
        from dbt_decodable_spark.operators.ivm_temporal import (
            _enrich,
            temporal_spec_from_sql,
        )

        spec0, ftbl, dtbl = temporal_spec_from_sql(sql, (), "__pending__")
        ddef = self.streams[self.qualify(dtbl)]
        wms = [w.name for w in ddef.schema.watermarks]
        if len(wms) != 1:
            raise CatalogError(
                "batch execution of a temporal join needs the dim stream "
                "to declare exactly one watermark column (its version "
                "start) — or activate incrementally with dim_valid_from="
            )
        spec = replace(spec0, valid_from=wms[0])
        return _enrich(
            self.spark.table(self.qualify(ftbl)),
            self.spark.table(self.qualify(dtbl)),
            spec,
        )

    def activate_pipeline(self, name: str) -> None:
        """Run the INSERT INTO (batch semantics: sink := query result)."""
        p = self.pipelines[self.qualify(name)]
        sdef = self.streams[p.sink]
        try:
            result = self.spark.sql(p.sql)
        except Exception as exc:
            from dbt_decodable_spark.operators.ivm_temporal import (
                temporal_spec_from_sql,
            )

            try:
                temporal_spec_from_sql(p.sql, (), "__pending__")
            except ValueError:
                raise exc
            result = self._temporal_batch_frame(p.sql)
        if p.sink in p.sources and self.warehouse_dir:
            # self-referencing pipeline (incremental-style model): the query
            # reads the sink's own parquet path, so a direct overwrite would
            # fail with "cannot overwrite a path being read from" (or worse,
            # destroy the input mid-job). Write to a sibling tmp dir, then
            # swap — same crash-safe shape as operators/maintenance.
            path = os.path.join(self.warehouse_dir, sdef.name)
            tmp = path + ".__insert_tmp__"
            old = path + ".__insert_old__"
            # crash recovery: a previous run that died between the two renames
            # below leaves the only copy at `old` — restore it before anything
            # else (never delete leftovers while `path` is missing).
            if not os.path.isdir(path) and os.path.isdir(old):
                os.rename(old, path)
            for leftover in (tmp, old):
                if os.path.isdir(leftover):
                    shutil.rmtree(leftover)
            result.write.mode("overwrite").parquet(tmp)
            # swap via rename-aside (never rmtree the live sink before the
            # replacement is in place): path -> old, tmp -> path, drop old.
            if os.path.isdir(path):
                os.rename(path, old)
            os.rename(tmp, path)
            if os.path.isdir(old):
                shutil.rmtree(old)
            sdef.path = path
            self.spark.read.parquet(path).createOrReplaceTempView(sdef.name)
        else:
            self._materialize(sdef, result)
        p.active = True

    def activate_pipeline_streaming(self, name: str, available_now: bool = True):
        """Run the pipeline as a continuous Structured Streaming query: every
        source stream is re-bound to a file stream over its parquet path (so
        appends to sources flow through), the pipeline SQL runs over the
        streaming views, and the sink is written in append mode.

        Requires ``warehouse_dir`` (streams must be parquet-backed). Returns
        the StreamingQuery; the reference's actual_state RUNNING/STOPPED maps
        to ``query.isActive`` (impl.py:218). ``available_now=True`` gives the
        bounded-run form (preview protocol §3.2); False runs continuously
        until ``deactivate``. After a bounded run completes, call
        ``refresh_stream(sink)`` before reading the sink through the catalog
        view (direct ``spark.read.parquet`` always sees the appends).
        """
        if not self.warehouse_dir:
            raise CatalogError("streaming activation needs a warehouse_dir engine")
        p = self.pipelines[self.qualify(name)]
        sink = self.streams[p.sink]
        # rebind each source view to a streaming reader over the same path
        for src in p.sources:
            sdef = self.streams[src]
            if not sdef.path:
                raise CatalogError(f"source stream {src!r} is not parquet-backed")
            stream_df = (
                self.spark.readStream.schema(self.spark.read.parquet(sdef.path).schema)
                .parquet(sdef.path)
            )
            stream_df = sdef.schema.apply_watermarks(stream_df)
            stream_df.createOrReplaceTempView(src)
        try:
            out = self.spark.sql(p.sql)
            ckpt = os.path.join(self.warehouse_dir, f"_ckpt_{p.name}")
            sink_path = os.path.join(self.warehouse_dir, sink.name)

            # foreachBatch plain-parquet appends, NOT the FileStreamSink:
            # the file sink drops a _spark_metadata log into the sink dir,
            # after which batch reads trust ONLY the log and silently hide
            # every previously-materialized (non-streamed) file. foreachBatch
            # keeps the dir a plain parquet table both readers agree on.
            # (Replay caveat: at-least-once on retry — the idempotent
            # batch-id-partitioned variant lives in streaming/temporal.py.)
            def _append(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.write.mode("append").parquet(sink_path)

            writer = (
                out.writeStream.foreachBatch(_append)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
            )
            if available_now:
                writer = writer.trigger(availableNow=True)
            q = writer.start()
            p.active = True
            return q
        finally:
            # restore batch views so batch reads keep working; the sink view
            # is refreshed too once the stream has had a chance to append
            # (the file index in the previously-registered view is stale)
            for src in p.sources:
                sdef = self.streams[src]
                if sdef.path:
                    self.spark.read.parquet(sdef.path).createOrReplaceTempView(src)

    # -- maintained pipelines ----------------------------------------------
    #
    # Every incremental entry point builds a node set and hands it to ONE
    # runner (activate_project_incremental / _run_nodes). The runner owns
    # the root protocol; the _KINDS table at the bottom of this module
    # supplies what differs per node kind.

    def activate_pipeline_incremental(
        self,
        name: str,
        order: list[str] | None = None,
        delete_col: str | None = None,
        bucket_expr: str | None = None,
        compact_every: int = 4,
        emit_changes: bool = False,
    ) -> None:
        """Maintain a GROUP BY pipeline over a keyed raw change stream: a
        one-node :meth:`activate_project_incremental` set (kind ``_ivm_``).
        ``order`` defaults to the source's watermark columns; ``bucket_expr``
        and ``compact_every`` tune the aggregate state log;
        ``emit_changes`` keeps the rollup's change log at
        ``_ivm_<name>/out`` (see :meth:`read_pipeline_changes`)."""
        self._run_nodes(
            {name: dict(order=order, delete_col=delete_col,
                        agg_bucket_expr=bucket_expr,
                        emit_changes=emit_changes)},
            agg_compact_every=compact_every, shapes={name: "agg"},
        )

    def activate_pipeline_join_incremental(
        self,
        name: str,
        fact_order: list[str] | None = None,
        dim_order: list[str] | None = None,
        fact_delete_col: str | None = None,
        dim_delete_col: str | None = None,
        n_buckets: int = 32,
        compact: bool = True,
        compact_min_deltas: int = 4,
    ):
        """Maintain a ``SELECT f.*, d.col ... FROM fact f [LEFT] JOIN dim d
        ON f.fk = d.pk`` lookup-join pipeline over two keyed raw change
        streams: a one-node :meth:`activate_project_incremental` set (kind
        ``_ivmj_``)."""
        self._run_nodes(
            {name: dict(fact_order=fact_order, dim_order=dim_order,
                        fact_delete_col=fact_delete_col,
                        dim_delete_col=dim_delete_col)},
            n_buckets, compact, compact_min_deltas, shapes={name: "join"},
        )

    def activate_pipeline_temporal_incremental(
        self,
        name: str,
        fact_order: list[str] | None = None,
        dim_valid_from: str | None = None,
        fact_delete_col: str | None = None,
        n_buckets: int = 32,
        compact: bool = True,
        compact_min_deltas: int = 4,
    ):
        """Maintain a ``FOR SYSTEM_TIME AS OF`` temporal-join pipeline: a
        one-node :meth:`activate_project_incremental` set (kind
        ``_ivmt_``). The dim's version-start column defaults to its single
        watermark column."""
        self._run_nodes(
            {name: dict(fact_order=fact_order, dim_valid_from=dim_valid_from,
                        fact_delete_col=fact_delete_col)},
            n_buckets, compact, compact_min_deltas, shapes={name: "temporal"},
        )

    def activate_pipeline_dag_incremental(
        self,
        name: str,
        upstream: str,
        fact_order: list[str] | None = None,
        dim_order: list[str] | None = None,
        fact_delete_col: str | None = None,
        dim_delete_col: str | None = None,
        n_buckets: int = 32,
        compact: bool = True,
        compact_min_deltas: int = 4,
        agg_compact_every: int = 4,
        agg_bucket_expr: str | None = None,
        emit_changes: bool = False,
    ):
        """Maintain the two-stage chain ``upstream`` (a lookup join) →
        ``name`` (a GROUP BY over the join's sink): a two-node
        :meth:`activate_project_incremental` set (``_ivmj_`` →
        ``_ivmd_``)."""
        if not self.warehouse_dir:
            raise CatalogError("incremental activation needs a warehouse_dir engine")
        p_agg = self.pipelines[self.qualify(name)]
        p_join = self.pipelines[self.qualify(upstream)]
        _spec, src_tbl = agg_spec_from_sql(p_agg.sql)
        if src_tbl != p_join.sink:
            raise CatalogError(
                f"DAG shape: {p_agg.name!r} must aggregate the upstream's "
                f"sink stream {p_join.sink!r}, not {src_tbl!r}"
            )
        self._run_nodes(
            {
                upstream: dict(fact_order=fact_order, dim_order=dim_order,
                               fact_delete_col=fact_delete_col,
                               dim_delete_col=dim_delete_col),
                name: dict(agg_bucket_expr=agg_bucket_expr,
                           emit_changes=emit_changes),
            },
            n_buckets, compact, compact_min_deltas, agg_compact_every,
            shapes={upstream: "join", name: "agg"},
        )

    def activate_project_incremental(
        self,
        nodes: dict[str, dict] | list[str],
        n_buckets: int = 32,
        compact: bool = True,
        compact_min_deltas: int = 4,
        agg_compact_every: int = 4,
    ) -> dict[str, int]:
        """Run an N-NODE model graph as continuously-maintained
        materializations — the reference platform's project shape: a
        stream+pipeline pair per model where any model's sink stream may be
        the next model's source (``impl.py:419-447``). This is the only
        maintained-node runner; the single-pipeline entry points above
        call it with one- or two-node sets.

        ``nodes`` maps pipeline name → per-node options (or a plain list
        for all-default options). The graph comes from the pipeline SQL
        (each node's FROM tables vs the other nodes' sinks) and runs in
        topological order; a cycle, a sink written twice, or any shape or
        option violation raises before ANY node writes.

        Node kinds (the ``_KINDS`` table; the root prefix is the kind):

        - ``_ivm_`` — GROUP BY over a raw change stream. Options
          ``order``/``delete_col``/``agg_bucket_expr``/``emit_changes``.
        - ``_ivmd_`` — GROUP BY over another node's change log (a join's
          ``view`` log or a rollup's emitted ``out`` log). Options
          ``agg_bucket_expr``/``emit_changes``.
        - ``_ivmj_`` — lookup join ``SELECT f.*, d.col FROM fact f [LEFT]
          JOIN dim d ON f.fk = d.pk`` over raw streams. Options
          ``fact_order``/``dim_order``/``fact_delete_col``/
          ``dim_delete_col``.
        - ``_ivmjd_`` — the same join whose FACT side is another node's
          change log, ingested as a keyed CDC stream (``__seq`` →
          ``__useq``, ``__deleted`` → ``__udel``). Options ``dim_order``/
          ``dim_delete_col``.
        - ``_ivmt_`` — ``FOR SYSTEM_TIME AS OF`` temporal join over raw
          streams. Options ``fact_order``/``fact_delete_col``/
          ``dim_valid_from``.

        A join DIM side and both temporal sides must read raw change
        streams. An aggregate with consumers in the set (or
        ``emit_changes``) keeps its own change log at ``<root>/out``.

        The root protocol, identical for every kind:

        1. The kind is PINNED by the persisted root: a root whose
           ``_init_done`` marker contradicts this set's classification
           (a consuming stage activated without its producer, or the
           reverse) raises instead of re-initializing under the other
           prefix.
        2. Init is gated on ``_init_done``, written LAST. A root without it
           is cleared and re-initialized (every init write is redo-safe),
           so a crash at any point of an init redoes it. Bounded
           (availableNow) stream checkpoints advance over the current
           source files BEFORE the init folds list them
           (:func:`_advance_stream_offsets`).
        3. Root records beside the marker: ``_n_buckets`` (join kinds; the
           bucket layout every merge and compaction must hash with),
           ``_emit_changes`` (aggregates; emission can be neither enabled
           late nor skipped for one activation) and ``_epoch`` (join kinds;
           bumped per activation so view-delta seqs
           ``((epoch*2 + side) << 33) + batch`` order later activations
           and dim batches after fact batches).
        4. One maintenance step per node: raw inputs run one bounded
           foreachBatch stream each; a change-log input is consumed past
           the root's watermark in one batch (:mod:`.operators.ivm_dag`:
           lag guard, footer-stats watermark). Each batch lands the VIEW
           (or emitted) delta before the state delta, so a replay
           converges on the delta tags.
        5. Compaction runs in one pass AFTER every consumer in the set
           advanced: join-family logs on the ``compact_min_deltas``
           trigger, emitted out logs Kafka-style up to the MINIMUM
           consumer watermark. A consumer outside the set that lags a
           later compaction raises ``DownstreamLagError``; delete its
           root (or :meth:`rebuild_pipeline_downstream`) to rebuild.

        A stage consuming a rollup's change log is keyed by the rollup's
        GROUP columns, so those must be non-null in the data
        (``schema.py:109-111``). Returns {pipeline name: consumed
        watermark} for every log-consuming stage."""
        return self._run_nodes(
            nodes, n_buckets, compact, compact_min_deltas, agg_compact_every
        )

    def _run_nodes(
        self,
        nodes: dict[str, dict] | list[str],
        n_buckets: int = 32,
        compact: bool = True,
        compact_min_deltas: int = 4,
        agg_compact_every: int = 4,
        shapes: dict[str, str] | None = None,
    ) -> dict[str, int]:
        """The runner behind :meth:`activate_project_incremental`;
        ``shapes`` pins a node's SQL shape for the single-pipeline entry
        points (their parse error instead of another kind)."""
        topo = self._plan(nodes, shapes)
        for nd in topo:
            nd.n_buckets, nd.agg_compact_every = n_buckets, agg_compact_every
            nd.kind.check(self, nd)
        for nd in topo:
            self._read_records(nd)
        watermarks: dict[str, int] = {}
        for nd in topo:
            if not os.path.exists(os.path.join(nd.root, "_init_done")):
                self._init_node(nd)
            if "_epoch" in nd.kind.records:
                _write_atomic(os.path.join(nd.root, "_epoch"), str(nd.epoch))
            w = nd.kind.step(self, nd)
            if w is not None:
                nd.watermark = watermarks[nd.short] = w
            self._materialize(self.streams[nd.p.sink], nd.kind.view(self, nd))
            nd.p.active = True
        if compact:
            for nd in topo:
                self._compact_node(nd, compact_min_deltas)
        return watermarks

    def _plan(
        self,
        nodes: dict[str, dict] | list[str],
        shapes: dict[str, str] | None = None,
    ) -> list[_Node]:
        """Classify every node, order the graph and resolve each node's
        root (with the kind pin), change log and log keys — no write."""
        from collections import deque

        if not self.warehouse_dir:
            raise CatalogError("incremental activation needs a warehouse_dir engine")
        if not isinstance(nodes, dict):
            nodes = {n: {} for n in nodes}
        info: dict[str, _Node] = {}
        for short, opts in nodes.items():
            p = self.pipelines[self.qualify(short)]
            shape, parsed = _classify(p.sql, (shapes or {}).get(short), short)
            info[p.name] = _Node(
                p=p, short=short, opts=dict(opts or {}), shape=shape,
                spec=parsed[0], srcs=tuple(parsed[1:]),
            )
        producers: dict[str, _Node] = {}
        for nd in info.values():
            if nd.p.sink in producers:
                raise CatalogError(
                    f"two pipelines in the set write sink {nd.p.sink!r}"
                )
            producers[nd.p.sink] = nd
        indeg = {qn: 0 for qn in info}
        for qn, nd in info.items():
            for s in nd.srcs:
                if s in producers:
                    indeg[qn] += 1
                    producers[s].consumers.append(nd)
        ready = deque(sorted(q for q, d in indeg.items() if d == 0))
        topo: list[_Node] = []
        while ready:
            nd = info[ready.popleft()]
            topo.append(nd)
            for c in sorted(nd.consumers, key=lambda c: c.p.name):
                indeg[c.p.name] -= 1
                if indeg[c.p.name] == 0:
                    ready.append(c.p.name)
        if len(topo) != len(info):
            cyc = sorted(info[q].short for q, d in indeg.items() if d > 0)
            raise CatalogError(f"pipeline graph has a cycle through {cyc}")
        for nd in topo:
            if nd.shape == "temporal":
                for s in nd.srcs:
                    if s in producers:
                        raise CatalogError(
                            f"temporal stage {nd.short!r} reads {s!r}, "
                            "another model's sink — maintained temporal "
                            "joins must read raw change streams"
                        )
            elif nd.shape == "join" and nd.srcs[1] in producers:
                raise CatalogError(
                    f"join stage {nd.short!r} reads {nd.srcs[1]!r}, another "
                    "model's sink, as its DIM side — maintained join dims "
                    "must read raw change streams (the fact side may "
                    "consume a model's sink)"
                )
            nd.up = producers.get(nd.srcs[0])
            nd.emit = nd.shape == "agg" and (
                bool(nd.consumers) or bool(nd.opts.get("emit_changes"))
            )
            prefix = _PREFIXES[nd.shape][nd.up is None]
            nd.root = self._node_root(
                nd.p, nd.shape, prefix, nd.short, nd.srcs[0]
            )
            nd.kind = _KINDS[prefix]
            nd.log = os.path.join(nd.root, "out" if nd.shape == "agg" else "view")
            if nd.shape == "agg":
                nd.keys = list(nd.spec.group_cols)
            elif nd.up is not None:
                nd.keys = nd.up.keys
            else:
                fdef = self.streams[self.qualify(nd.srcs[0])]
                nd.keys = list(fdef.schema.primary_key)
        return topo

    def _node_root(
        self,
        p: PipelineDef,
        shape: str,
        from_set: str | None = None,
        short: str | None = None,
        src: str | None = None,
    ) -> str:
        """The one root resolver: the prefix whose ``_init_done`` marker
        exists (the persisted kind), else ``from_set`` (the activation
        set's classification), else the shape's consuming prefix. A
        persisted kind that contradicts ``from_set`` raises — re-resolving
        from the set alone would silently re-initialize the node under the
        other prefix."""
        fam = [x for x in _PREFIXES[shape] if x]
        persisted = next(
            (
                x for x in fam
                if os.path.exists(
                    os.path.join(self.warehouse_dir, f"{x}{p.name}", "_init_done")
                )
            ),
            None,
        )
        root = os.path.join(
            self.warehouse_dir, f"{persisted or from_set or fam[0]}{p.name}"
        )
        what = "aggregate" if shape == "agg" else shape
        if from_set and persisted and persisted != from_set:
            if persisted == fam[0]:
                raise CatalogError(
                    f"{what} {short!r} was built as a DOWNSTREAM stage "
                    f"consuming the change log behind {src!r}, but this "
                    "activation set does not include that producer — "
                    f"include it, or delete {root!r} to rebuild the node "
                    "over raw streams"
                )
            raise CatalogError(
                f"{what} {short!r} was built over RAW streams ({src!r}), "
                "but this activation set also activates a producer for "
                f"that sink — delete {root!r} to rebuild the node as a "
                "downstream stage"
            )
        return root

    def _read_records(self, nd: _Node) -> None:
        """Read and validate a completed root's records (``_n_buckets``,
        ``_emit_changes``, ``_epoch``) against this activation — before any
        node of the set writes. Sets the node's next epoch."""
        nd.epoch = 1
        if not os.path.exists(os.path.join(nd.root, "_init_done")):
            return
        root, recs = nd.root, nd.kind.records
        if "_n_buckets" in recs:
            raw = _read_record(root, "_n_buckets")
            try:
                persisted = int(raw)
            except (TypeError, ValueError):
                raise CatalogError(
                    f"corrupt _n_buckets record {raw!r} in {root!r} — "
                    "delete the root to re-initialize"
                ) from None
            if persisted != nd.n_buckets:
                raise CatalogError(
                    f"n_buckets={nd.n_buckets} does not match the bucket "
                    f"layout this view was created with ({persisted}) — "
                    "merges and compaction must hash with the writer's "
                    f"bucket expression; re-activate with "
                    f"n_buckets={persisted} or delete {root!r} to "
                    "re-initialize"
                )
        if "_emit_changes" in recs:
            persisted_emit = _read_record(root, "_emit_changes") == "1"
            if nd.emit and not persisted_emit:
                raise CatalogError(
                    "change emission must be enabled from the FIRST "
                    "activation (the out log's init image is unrecoverable "
                    f"later) — delete {root!r} to rebuild with emit_changes"
                )
            if persisted_emit and not nd.emit:
                raise CatalogError(
                    "this pipeline maintains an emitted change log — every "
                    "activation must keep emitting (a non-emitting one "
                    "would punch a permanent gap in the out log); pass "
                    f"emit_changes=True, or delete {root!r} to rebuild "
                    "without emission"
                )
        if "_epoch" in recs:
            nd.epoch = int(_read_record(root, "_epoch") or 0) + 1

    def _init_node(self, nd: _Node) -> int | None:
        """Clear-then-init: every write lands in a cleared root and the
        marker goes LAST, so a crash anywhere before it redoes the whole
        init (nothing can have consumed a root without its marker).
        Returns the consumed floor of a log-consuming kind."""
        shutil.rmtree(nd.root, ignore_errors=True)
        os.makedirs(nd.root, exist_ok=True)
        if "_n_buckets" in nd.kind.records:
            _write_atomic(os.path.join(nd.root, "_n_buckets"), str(nd.n_buckets))
        floor = nd.kind.init(self, nd)
        if "_emit_changes" in nd.kind.records:
            _write_atomic(
                os.path.join(nd.root, "_emit_changes"), "1" if nd.emit else "0"
            )
        _write_atomic(os.path.join(nd.root, "_init_done"), "1")
        return floor

    def _compact_node(self, nd: _Node, min_deltas: int) -> None:
        """The one compaction helper, run after every consumer in the set
        advanced. LSM trigger, not every activation: folding deltas into a
        snapshot is the amortized O(|state|) step — below
        ``min_deltas`` reads fold the pending deltas anyway. An emitted out
        log compacts Kafka-style, never past the slowest in-set consumer."""
        if nd.kind.logs is None:
            if nd.consumers and len(cl.list_deltas(nd.log)) >= min_deltas:
                upto = min(c.watermark for c in nd.consumers)
                try:
                    cl.compact_change_log(self.spark, nd.log, nd.keys, upto_seq=upto)
                except cl.CompactionLockHeld:
                    pass  # another process compacting; next pass
            return
        for log, keys, order in nd.kind.logs(nd):
            if len(cl.list_deltas(log)) >= min_deltas:
                cl.compact_and_vacuum(
                    self.spark, log, keys, [F.col(c) for c in order],
                    nd.n_buckets,
                )

    def _raw_side(
        self,
        tbl: str,
        side: str = "",
        order: list[str] | None = None,
        delete_col: str | None = None,
        ordered: bool = True,
    ) -> _Side:
        """A keyed raw change-stream input, validated before any write:
        its primary key, its change order (``order`` or its watermark
        columns, key appended as the deterministic tiebreak — the order its
        log's merges AND compactions fold by) and its schema."""
        sdef = self.streams[self.qualify(tbl)]
        keys = list(sdef.schema.primary_key)
        opt = f"{side}_" if side else ""  # the option names: fact_order, ...
        if not keys:
            raise CatalogError(
                f"{tbl!r} declares no primary_key — not a change stream "
                "(schema.py:109-111); incremental maintenance needs keyed "
                "upserts"
            )
        cols: list[str] = []
        if ordered:
            if order is None:
                if not sdef.schema.watermarks:
                    raise CatalogError(
                        f"pass {opt}order= "
                        "(change-order columns): the source has no watermark "
                        "column to default to"
                    )
                order = [w.name for w in sdef.schema.watermarks]
            cols = list(order) + [k for k in keys if k not in order]
        if not sdef.path:
            raise CatalogError(f"source stream {tbl!r} is not parquet-backed")
        schema = self.spark.read.parquet(sdef.path).schema
        if delete_col is not None and delete_col not in schema.fieldNames():
            raise CatalogError(
                f"{opt}delete_col {delete_col!r} is not a column of the "
                f"{side or 'source'} stream"
            )
        return _Side(sdef.path, keys, cols, schema, delete_col)

    def read_pipeline_changes(self, name: str) -> DataFrame:
        """The change stream a maintained aggregate emitted
        (``emit_changes=True``, or any rollup with consumers): raw
        group-keyed upserts/tombstones with ``__seq``/``__deleted``, in log
        order. A consumer folds it (``fold_last_image`` by the group
        columns over ``__seq``) or stacks on it (SCD2, MERGE) — the fold
        equals the rollup view at every point (pytest-pinned)."""
        p = self.pipelines[self.qualify(name)]
        droot = self._node_root(p, "agg")
        deltas = cl.list_deltas(os.path.join(droot, "out"))
        if not deltas:
            # distinguish "emission never enabled" from "log exists but
            # every retained delta was compacted away"
            if _read_record(droot, "_emit_changes") == "1":
                from pyspark.sql.types import (
                    BooleanType, LongType, StructField, StructType,
                )

                sink = self.streams[p.sink]
                schema = StructType(
                    list(sink.schema.to_struct_type().fields)
                    + [
                        StructField("__seq", LongType(), True),
                        StructField("__deleted", BooleanType(), True),
                    ]
                )
                return self.spark.createDataFrame([], schema)
            raise CatalogError(
                f"pipeline {name!r} has no emitted change log — activate "
                "with emit_changes=True"
            )
        return self.spark.read.parquet(*deltas)

    def rebuild_pipeline_downstream(
        self, name: str, upstream: str, agg_bucket_expr: str | None = None
    ) -> int:
        """The :class:`~.ivm_dag.DownstreamLagError` recovery through the
        engine: clear the aggregate ``name``'s root and re-initialize it
        from the CURRENT state of ``upstream``'s change log (any producer
        kind) — O(|view|), nothing upstream re-runs. The root's persisted
        emission choice is honored: an emitting root's out log is
        re-seeded with the new floor image. Mid-stream consumers of the old
        out log must re-bootstrap from the floor. Returns the new floor."""
        if not self.warehouse_dir:
            raise CatalogError("incremental activation needs a warehouse_dir engine")
        p_agg = self.pipelines[self.qualify(name)]
        p_up = self.pipelines[self.qualify(upstream)]
        agg_spec, src_tbl = agg_spec_from_sql(p_agg.sql)
        if src_tbl != p_up.sink:
            raise CatalogError(
                f"DAG shape: {p_agg.name!r} must aggregate the upstream's "
                f"sink stream {p_up.sink!r}, not {src_tbl!r}"
            )
        up_log, up_keys = self._change_log(p_up)
        root = self._node_root(p_agg, "agg", "_ivmd_", name, src_tbl)
        nd = _Node(
            p=p_agg, short=name, opts=dict(agg_bucket_expr=agg_bucket_expr),
            shape="agg", spec=agg_spec, srcs=(src_tbl,), root=root,
            kind=_KINDS["_ivmd_"], log=os.path.join(root, "out"),
            keys=list(agg_spec.group_cols),
            emit=_read_record(root, "_emit_changes") == "1",
            up=_Node(p=p_up, short=upstream, opts={}, shape="", spec=None,
                     srcs=(), log=up_log, keys=up_keys),
        )
        floor = self._init_node(nd)
        self._materialize(self.streams[p_agg.sink], nd.kind.view(self, nd))
        return floor

    def _change_log(self, p: PipelineDef) -> tuple[str, list[str]]:
        """(change-log path, key columns) of a persisted producer node."""
        shape, parsed = _classify(p.sql, label=p.name)
        root = self._node_root(p, shape)
        if shape == "agg":
            return os.path.join(root, "out"), list(parsed[0].group_cols)
        ftbl = self.qualify(parsed[1])
        if _root_prefix(root) == "_ivmjd_":
            return os.path.join(root, "view"), self._change_log(
                self._pipeline_writing(ftbl)
            )[1]
        return os.path.join(root, "view"), list(
            self.streams[ftbl].schema.primary_key
        )

    def compact_pipeline_changes(
        self, name: str, upto_seq: int | None = None
    ) -> dict:
        """Kafka-style compaction of the change log a maintained aggregate
        emits (:meth:`read_pipeline_changes`): fold the emitted history up
        to ``upto_seq`` (default: all of it) into one live-rows-only floor
        image keyed by the group columns, dropping tombstoned groups. Its
        size is then O(|groups| + changes since the floor) and a fresh
        consumer bootstraps from the floor image. The caller owns the
        floor: compact only past a sequence every mid-stream consumer has
        passed (a consumer parked below it would miss the dropped
        tombstones and raises ``DownstreamLagError``). ``fold(out log) ==
        the rollup view`` holds unchanged after compaction
        (pytest-pinned)."""
        p = self.pipelines[self.qualify(name)]
        spec, _ = agg_spec_from_sql(p.sql)
        out_log = os.path.join(self._node_root(p, "agg"), "out")
        if not cl.list_deltas(out_log):
            raise CatalogError(
                f"pipeline {name!r} has no emitted change log — activate "
                "with emit_changes=True"
            )
        return cl.compact_change_log(
            self.spark, out_log, list(spec.group_cols), upto_seq=upto_seq
        )

    def deactivate_pipeline(self, name: str) -> None:
        p = self.pipelines[self.qualify(name)]
        p.active = False

    def delete_pipeline(self, name: str) -> None:
        name = self.qualify(name)
        if name in self.pipelines:
            self.deactivate_pipeline(name)
            del self.pipelines[name]

    # -- connection lifecycle (api.py:36-48, client.py:455-491) --------------

    def create_connection(
        self,
        name: str,
        connector: str,
        stream: str | None = None,
        conn_type: str = "source",
        schema: StreamSchema | None = None,
        properties: dict[str, str] | None = None,
    ) -> ConnectionDef:
        """Create a connection bound to a stream. Mirrors
        ``client.create_connection(name, schema, stream_name)``
        (client.py:455-471): the bound stream is created from ``schema`` when
        it doesn't exist yet (the seed path relies on this — one call yields
        the connection *and* its stream, impl.py:537-546)."""
        if connector not in CONNECTORS:
            raise CatalogError(
                f"unknown connector {connector!r} (expected one of {CONNECTORS})"
            )
        if conn_type not in ("source", "sink"):
            raise CatalogError(f"connection type must be source|sink, got {conn_type!r}")
        name = self.qualify(name)
        stream = self.qualify(stream or name)
        if stream not in self.streams:
            if schema is None:
                raise CatalogError(
                    f"connection {name!r}: bound stream {stream!r} does not exist "
                    "and no schema was given to create it"
                )
            self.create_stream(stream, schema=schema)
        cdef = ConnectionDef(
            name=name,
            connector=connector,
            conn_type=conn_type,
            stream=stream,
            properties=dict(properties or {}),
            fingerprint=_fingerprint(
                f"{connector}|{conn_type}|{stream}", dict(properties or {})
            ),
        )
        self.connections[name] = cdef
        return cdef

    def get_connection(self, name: str) -> ConnectionDef:
        name = self.qualify(name)
        try:
            return self.connections[name]
        except KeyError:
            raise CatalogError(f"no such connection: {name}") from None

    def activate_connection(self, name: str) -> None:
        """client.activate_connection (client.py:474-479): events flow only
        while active — ``send_events`` enforces this."""
        self.get_connection(name).active = True

    def deactivate_connection(self, name: str) -> None:
        self.get_connection(name).active = False

    def delete_connection(self, name: str) -> None:
        name = self.qualify(name)
        if name in self.connections:
            self.connections[name].active = False
            del self.connections[name]

    def send_events(self, name: str, events: list[dict[str, Any]]) -> int:
        """REST-connection ingest (client.py:492-501 → /events): values are
        stringified by the sender and coerced to the bound stream's declared
        schema on ingest (impl.py:560-566) — appended to the stream."""
        from dbt_decodable_spark import ftypes

        cdef = self.get_connection(name)
        if not cdef.active:
            raise CatalogError(f"connection {cdef.name!r} is not active")
        sdef = self.streams[cdef.stream]
        cols = [
            (f.name, f.type or "STRING")
            for f in sdef.schema.fields
            if f.kind == "physical"
        ]
        str_rows = [
            [None if e.get(c) is None else str(e.get(c)) for c, _ in cols]
            for e in events
        ]
        from pyspark.sql import functions as F, types as T

        raw = self.spark.createDataFrame(
            str_rows, T.StructType([T.StructField(c, T.StringType()) for c, _ in cols])
        )
        typed = raw.select(
            *[F.col(c).cast(ftypes.to_spark(t)).alias(c) for c, t in cols]
        )
        typed = sdef.schema.apply_computed_fields(typed)
        current = self.read_stream(cdef.stream)
        # localCheckpoint breaks lineage: the union must not lazily re-read
        # the same view/parquet path that _materialize is about to overwrite
        self._materialize(sdef, current.unionByName(typed).localCheckpoint(eager=True))
        return len(events)

    # -- declarative apply (client.py:510-529 / impl.py:402-417) ------------

    def apply(self, resources: list[dict[str, Any]], dry_run: bool = False) -> list[dict]:
        """Reconcile a YAML-shaped resource list; per-resource result ∈
        {created, updated, unchanged}. ``has_changed`` = any non-unchanged."""
        results = []
        for res in resources:
            kind = res.get("kind")
            meta = res.get("metadata", {})
            spec = res.get("spec", {})
            name = self.qualify(meta["name"])
            if kind == "stream":
                schema = StreamSchema.from_dict(spec.get("schema", spec))
                current = self.streams.get(name)
                if current is None:
                    result = "created"
                elif current.schema != schema:
                    result = "updated"
                else:
                    result = "unchanged"
                if not dry_run and result != "unchanged":
                    self.create_stream(name, schema=schema)
            elif kind == "connection":
                connector = spec["connector"]
                conn_type = spec.get("type", "source")
                stream = self.qualify(spec.get("stream", meta["name"]))
                props = dict(spec.get("properties", {}))
                fp = _fingerprint(f"{connector}|{conn_type}|{stream}", props)
                current_c = self.connections.get(name)
                if current_c is None:
                    result = "created"
                elif current_c.fingerprint != fp:
                    result = "updated"
                else:
                    result = "unchanged"
                if not dry_run and result != "unchanged":
                    schema = (
                        StreamSchema.from_dict(spec["schema"])
                        if spec.get("schema")
                        else None
                    )
                    was_active = current_c.active if current_c else False
                    cdef = self.create_connection(
                        name,
                        connector,
                        stream=spec.get("stream", meta["name"]),
                        conn_type=conn_type,
                        schema=schema,
                        properties=props,
                    )
                    if spec.get("active", was_active):
                        self.activate_connection(cdef.name)
            elif kind == "pipeline":
                sql = normalize(spec["sql"])
                target_sink = self.qualify(spec.get("sink", meta["name"]))
                # fingerprint over (sql, inferred output schema incl. PK) —
                # the SAME pair create_pipeline stores (a spec-provided
                # schema dict is NOT a substitute: its byte shape differs
                # from the inferred to_dict, which made every re-apply
                # report "updated" forever). Inference needs the source
                # streams to resolve — under dry_run they may only exist as
                # earlier "created" entries in this very list, so a failed
                # analysis means "cannot compare yet" ⇒ changed.
                current_p = self.pipelines.get(name)
                try:
                    out_schema = self.infer_output_schema(sql)
                    if spec.get("primary_key"):
                        out_schema = StreamSchema(
                            fields=out_schema.fields,
                            watermarks=out_schema.watermarks,
                            primary_key=tuple(spec["primary_key"]),
                        )
                    fp = _fingerprint(sql, out_schema.to_dict())
                except Exception:
                    fp = None  # sources not materialized yet (dry-run order)
                if current_p is None:
                    result = "created"
                elif fp is None or current_p.fingerprint != fp or current_p.sink != target_sink:
                    result = "updated"
                else:
                    result = "unchanged"
                if not dry_run and result != "unchanged":
                    self.create_pipeline(
                        name,
                        sql,
                        sink=spec.get("sink", meta["name"]),
                        primary_key=spec.get("primary_key"),
                        activate=spec.get("active", True),
                    )
            else:
                raise CatalogError(f"unknown resource kind {kind!r}")
            results.append({"name": name, "kind": kind, "result": result})
        return results

    def has_changed(self, resources: list[dict[str, Any]]) -> bool:
        """Dry-run apply; any non-unchanged ⇒ rebuild (impl.py:402-417)."""
        return any(r["result"] != "unchanged" for r in self.apply(resources, dry_run=True))

    # -- run-operations (operations.sql:17-127) ------------------------------

    def stop_pipelines(self, names: list[str] | None = None) -> int:
        targets = [self.qualify(n) for n in names] if names else list(self.pipelines)
        n = 0
        for t in targets:
            if t in self.pipelines and self.pipelines[t].active:
                self.deactivate_pipeline(t)
                n += 1
        return n

    def delete_pipelines(self, names: list[str] | None = None) -> int:
        targets = [self.qualify(n) for n in names] if names else list(self.pipelines)
        n = 0
        for t in targets:
            if t in self.pipelines:
                self.delete_pipeline(t)
                n += 1
        return n

    def delete_streams(self, names: list[str] | None = None) -> int:
        targets = [self.qualify(n) for n in names] if names else list(self.streams)
        n = 0
        for t in targets:
            if t in self.streams:
                self.drop_stream(t, cascade=False)
                n += 1
        return n

    def delete_connections(self, names: list[str] | None = None) -> int:
        targets = [self.qualify(n) for n in names] if names else list(self.connections)
        n = 0
        for t in targets:
            if t in self.connections:
                self.delete_connection(t)
                n += 1
        return n

    def cleanup(self) -> dict[str, int]:
        """Project-wide GC: everything in this namespace (the reference's
        cleanup deletes connections too, operations.sql:66-105)."""
        nc = self.delete_connections()
        np = self.delete_pipelines()
        ns = self.delete_streams()
        return {"connections": nc, "pipelines": np, "streams": ns}

    def count_resources(self) -> dict[str, int]:
        """operations.sql:107-127 counts streams, pipelines AND connections."""
        return {
            "streams": len(self.streams),
            "pipelines": len(self.pipelines),
            "connections": len(self.connections),
        }


# -- the maintained-node kind table -------------------------------------------
#
# Engine._run_nodes owns the root protocol (kind pin, marker-gated
# clear-then-init, root records, one step per node, deferred compaction);
# each _KINDS entry supplies only what differs by kind.

_LOG_COLS = frozenset({"__bucket", "__seq", "__deleted"})
#: the names the aggregate state machinery stacks onto its input rows
_AGG_STATE_COLS = frozenset({"__g", "__k", "__gbucket", "__mult"})


@dataclass(frozen=True)
class _Side:
    """One input of a maintained node as the maintenance reads it: its
    path (None for a change-log input), merge keys, change-order columns,
    schema, tombstone column and the state-only columns hidden from the
    view."""

    path: str | None
    keys: list[str]
    order: list[str]
    schema: Any
    delete_col: str | None = None
    hidden: tuple[str, ...] = ()

    def cols(self) -> list:
        return [F.col(c) for c in self.order]


@dataclass(eq=False)
class _Node:
    """One node of an activation set, resolved by ``Engine._plan`` and the
    kind's ``check`` before any write."""

    p: PipelineDef
    short: str
    opts: dict
    shape: str  # "agg" | "join" | "temporal" — the SQL shape
    spec: Any
    srcs: tuple[str, ...]
    up: _Node | None = None  # the in-set producer of srcs[0]
    consumers: list[_Node] = field(default_factory=list)
    root: str = ""
    kind: _Kind | None = None
    emit: bool = False
    log: str = ""  # the change log consumers read
    keys: list[str] = field(default_factory=list)  # ... and its key columns
    n_buckets: int = 32
    agg_compact_every: int = 4
    epoch: int = 1
    watermark: int | None = None
    src: _Side | None = None  # aggregate over a raw stream
    fact: _Side | None = None  # join kinds
    dim: _Side | None = None


@dataclass(frozen=True)
class _Kind:
    check: Callable  # (eng, nd): resolve inputs, fire-before-write checks
    init: Callable  # (eng, nd) -> floor | None: init writes, cleared root
    step: Callable  # (eng, nd) -> consumed watermark | None
    logs: Callable | None  # nd -> [(log, keys, order)]; None: the out log
    view: Callable  # (eng, nd) -> the view materialized into the sink
    records: tuple[str, ...]  # root records beside _init_done


#: SQL shape → (log-consuming prefix, raw-input prefix)
_PREFIXES = {
    "agg": ("_ivmd_", "_ivm_"),
    "join": ("_ivmjd_", "_ivmj_"),
    "temporal": (None, "_ivmt_"),
}


def _classify(
    sql: str, shape: str | None = None, label: str = ""
) -> tuple[str, tuple]:
    """(shape, parsed) of a maintainable pipeline: ``parsed`` is
    ``(spec, table)`` for an aggregate, ``(spec, fact, dim)`` for the
    joins. A pinned ``shape`` re-raises that parser's error."""
    parsers = {
        "join": lambda: ij.join_spec_from_sql(sql, ()),
        "temporal": lambda: it.temporal_spec_from_sql(sql, (), "__pending__"),
        "agg": lambda: agg_spec_from_sql(sql),
    }
    for s in (shape,) if shape else parsers:
        try:
            return s, parsers[s]()
        except ValueError:
            if shape:
                raise
    raise CatalogError(
        f"pipeline {label!r} is none of the maintainable shapes "
        "(lookup join, FOR SYSTEM_TIME AS OF temporal join, GROUP BY) — see "
        "join_spec_from_sql / temporal_spec_from_sql / agg_spec_from_sql"
    )


def _root_prefix(root: str) -> str:
    return "_%s_" % os.path.basename(root).split("_")[1]


def _read_record(root: str, name: str) -> str | None:
    path = os.path.join(root, name)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return fh.read().strip()


def _run_available_now(spark, src_path: str, schema, ckpt: str, handle) -> None:
    """The one bounded foreachBatch run: every file of ``src_path`` not
    yet committed in ``ckpt``, then stop."""
    (
        spark.readStream.schema(schema)
        .parquet(src_path)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _view_v0(df: DataFrame) -> DataFrame:
    """A view log's base image: every row live at ``__seq`` 0."""
    return df.withColumn("__seq", F.lit(0).cast("long")).withColumn(
        "__deleted", F.lit(False)
    )


def _check_emit_outputs(nd: _Node) -> None:
    # an emitting rollup stacks __seq/__deleted onto its view outputs
    bad = sorted(set(nd.spec.outputs()) & {"__seq", "__deleted"})
    if nd.emit and bad:
        raise CatalogError(
            f"aggregate {nd.short!r} output name(s) {bad} collide with "
            "reserved change-log columns — rename the aggregate aliases"
        )


# ---- aggregate over a raw stream (_ivm_) and over a change log (_ivmd_)

def _agg_check(eng: Engine, nd: _Node) -> None:
    tbl = nd.srcs[0]
    if tbl not in nd.p.sources:
        raise CatalogError(
            f"view source {tbl!r} is not a registered source of {nd.p.name!r}"
        )
    nd.src = eng._raw_side(
        tbl, order=nd.opts.get("order"), delete_col=nd.opts.get("delete_col")
    )
    # __bucket is the snapshot layout column
    bad = sorted(
        set(nd.src.schema.fieldNames()) & (_AGG_STATE_COLS | {"__bucket"})
    )
    if bad:
        raise CatalogError(
            f"source column(s) {bad} collide with reserved maintenance-state "
            "names"
        )
    _check_emit_outputs(nd)


def _aggd_check(eng: Engine, nd: _Node) -> None:
    src = nd.srcs[0]
    bad = sorted(
        {f.name for f in eng.streams[src].schema.fields} & _AGG_STATE_COLS
    )
    if bad:
        raise CatalogError(
            f"consumed stream {src!r} column(s) {bad} collide with reserved "
            "downstream aggregate state names"
        )
    _check_emit_outputs(nd)


def _agg_ckpt(eng: Engine, nd: _Node) -> str:
    return os.path.join(eng.warehouse_dir, f"_ckpt_ivm_{nd.p.name}")


def _agg_init(eng: Engine, nd: _Node) -> None:
    sp, s = eng.spark, nd.src
    snap_path = os.path.join(nd.root, "snapshot")
    _advance_stream_offsets(sp, s.path, s.schema, _agg_ckpt(eng, nd))
    snap0 = cl.fold_last_image(sp.read.parquet(s.path), s.keys, s.cols())
    cl.write_hash_partitioned(snap0, snap_path, s.keys, n_buckets=32)
    ivm_log.ivm_log_init(
        sp, nd.root, sp.read.parquet(snap_path).drop("__bucket"), nd.spec,
        delete_col=s.delete_col, bucket_expr=nd.opts.get("agg_bucket_expr"),
    )
    if nd.emit:
        # floor seq 0: strictly below every batch's batch_id + 1
        ivm_dag.emit_floor_image(sp, nd.root, nd.spec, nd.log, 0, "init")


def _aggd_init(eng: Engine, nd: _Node) -> int:
    floor = ivm_dag.init_downstream(
        eng.spark, nd.root, nd.up.log, nd.up.keys, nd.spec,
        bucket_expr=nd.opts.get("agg_bucket_expr"),
    )
    if nd.emit:
        ivm_dag.emit_floor_image(
            eng.spark, nd.root, nd.spec, nd.log, floor, str(floor)
        )
    return floor


def _agg_step(eng: Engine, nd: _Node) -> None:
    s = nd.src
    handle = ivm_log.maintain_view_batch(
        nd.root, os.path.join(nd.root, "snapshot"), s.keys, s.cols(),
        nd.spec, compact_every=nd.agg_compact_every, snapshot_n_buckets=32,
        emit_log=nd.log if nd.emit else None,
    )
    _run_available_now(eng.spark, s.path, s.schema, _agg_ckpt(eng, nd), handle)


def _aggd_step(eng: Engine, nd: _Node) -> int:
    return ivm_dag.maintain_downstream(
        eng.spark, nd.root, nd.up.log, nd.up.keys, nd.spec,
        compact_every=nd.agg_compact_every,
        emit_log=nd.log if nd.emit else None,
    )


def _agg_view(eng: Engine, nd: _Node) -> DataFrame:
    return ivm_log.ivm_log_read(eng.spark, nd.root, nd.spec)


# ---- lookup join over raw streams (_ivmj_), over a change log (_ivmjd_),
# ---- temporal join (_ivmt_): three logs fact/dim/view under the root

def _check_join_columns(
    nd: _Node, fact_cols, reserved, payload_reserved=_LOG_COLS
) -> None:
    payload = list(
        nd.spec.payload if nd.shape == "temporal" else nd.spec.dim_payload
    )
    for out in payload:
        if out in fact_cols:
            raise CatalogError(f"payload name {out!r} collides with a fact column")
    # names stacked onto the data (__bucket by write_hash_partitioned,
    # __seq/__deleted by the view log, the operators' round sentinels)
    bad_fact = sorted(set(fact_cols) & reserved)
    if bad_fact:
        raise CatalogError(
            f"fact column(s) {bad_fact} collide with reserved maintenance names"
        )
    if "__bucket" in nd.dim.schema.fieldNames():
        raise CatalogError(
            "dim column '__bucket' collides with the bucketed snapshot "
            "layout column"
        )
    bad_payload = sorted(set(payload) & payload_reserved)
    if bad_payload:
        raise CatalogError(
            f"payload output name(s) {bad_payload} collide with reserved "
            "view-log columns"
        )


def _join_dim(eng: Engine, nd: _Node) -> _Side:
    dtbl, dim_keys = nd.srcs[1], nd.spec.dim_keys
    dim = eng._raw_side(
        dtbl, "dim", nd.opts.get("dim_order"), nd.opts.get("dim_delete_col")
    )
    if tuple(dim.keys) != tuple(dim_keys):
        raise CatalogError(
            f"ON-clause dim columns {tuple(dim_keys)} must be exactly "
            f"{dtbl!r}'s primary_key {tuple(dim.keys)} — the dim snapshot "
            "is keyed by it"
        )
    return dim


def _join_check(eng: Engine, nd: _Node) -> None:
    for t in nd.srcs:
        if t not in nd.p.sources:
            raise CatalogError(
                f"view source {t!r} is not a registered source of {nd.p.name!r}"
            )
    nd.fact = eng._raw_side(
        nd.srcs[0], "fact", nd.opts.get("fact_order"),
        nd.opts.get("fact_delete_col"),
    )
    nd.dim = _join_dim(eng, nd)
    nd.spec = replace(nd.spec, fact_keys=tuple(nd.fact.keys))
    _check_join_columns(
        nd, nd.fact.schema.fieldNames(), set(ij._RESERVED) | _LOG_COLS
    )


def _joind_check(eng: Engine, nd: _Node) -> None:
    # the fact side is the upstream change log, ingested as a keyed CDC
    # stream: __seq/__deleted become the state-only __useq/__udel (the
    # view log stacks fresh ones), hidden from the view projection
    up_fields = [f.name for f in eng.streams[nd.srcs[0]].schema.fields]
    nd.dim = _join_dim(eng, nd)
    nd.spec = replace(nd.spec, fact_keys=tuple(nd.up.keys))
    _check_join_columns(
        nd, up_fields, set(ij._RESERVED) | _LOG_COLS | {"__useq", "__udel"}
    )
    missing_fk = sorted(set(nd.spec.fk_cols) - set(up_fields))
    if missing_fk:
        raise CatalogError(
            f"fk column(s) {missing_fk} are not columns of the upstream "
            f"sink {nd.srcs[0]!r}"
        )
    nd.fact = _Side(None, nd.up.keys, ["__useq"], None, "__udel", ("__useq",))


def _temporal_check(eng: Engine, nd: _Node) -> None:
    ftbl, dtbl = nd.srcs
    for t in nd.srcs:
        if t not in nd.p.sources:
            raise CatalogError(
                f"view source {t!r} is not a registered source of {nd.p.name!r}"
            )
    nd.fact = eng._raw_side(
        ftbl, "fact", nd.opts.get("fact_order"), nd.opts.get("fact_delete_col")
    )
    dim = eng._raw_side(dtbl, "dim", ordered=False)
    if [nd.spec.dim_key] != dim.keys:
        raise CatalogError(
            f"ON-clause dim column {nd.spec.dim_key!r} must be exactly "
            f"{dtbl!r}'s primary_key {tuple(dim.keys)} — versions are keyed "
            "by it"
        )
    valid_from = nd.opts.get("dim_valid_from")
    if valid_from is None:
        wms = [w.name for w in eng.streams[eng.qualify(dtbl)].schema.watermarks]
        if len(wms) != 1:
            raise CatalogError(
                "pass dim_valid_from= (the dim's version-start column): the "
                "dim stream does not have exactly one watermark column to "
                "default to"
            )
        valid_from = wms[0]
    nd.spec = replace(
        nd.spec, fact_keys=tuple(nd.fact.keys), valid_from=valid_from
    )
    # the dim log keeps EVERY version: keyed (dim key, valid_from), so its
    # fold deduplicates replayed version rows and never drops a version
    nd.dim = replace(
        dim, keys=[nd.spec.dim_key, valid_from], order=[valid_from]
    )
    fcols, dcols = nd.fact.schema.fieldNames(), dim.schema.fieldNames()
    for col_, cols, what in (
        (nd.spec.fact_ts, fcols, "AS OF probe column"),
        (nd.spec.fk_col, fcols, "ON-clause fact column"),
        (valid_from, dcols, "dim valid_from column"),
        *((src, dcols, "payload source column") for src in nd.spec.payload.values()),
    ):
        if col_ not in cols:
            raise CatalogError(f"{what} {col_!r} is not a source column")
    reserved = set(it._RESERVED) | _LOG_COLS
    bad_dim = sorted(set(dcols) & reserved)
    if bad_dim:
        raise CatalogError(
            f"dim column(s) {bad_dim} collide with reserved temporal "
            "maintenance names"
        )
    _check_join_columns(nd, fcols, reserved, reserved)


def _join_logs(nd: _Node) -> list[tuple[str, list[str], list[str]]]:
    f, d = nd.fact, nd.dim
    return [
        (os.path.join(nd.root, "fact"), f.keys, f.order),
        (os.path.join(nd.root, "dim"), d.keys, d.order),
        (nd.log, f.keys, ["__seq"]),
    ]


def _write_join_base(eng: Engine, nd: _Node, fsnap: DataFrame) -> None:
    """The fact/dim snapshots and view v0 (``__seq`` 0) of a join-family
    node. The dim fold's listing happens here — after the offset
    capture."""
    sp, f, d, n = eng.spark, nd.fact, nd.dim, nd.n_buckets
    fact_log, dim_log = (os.path.join(nd.root, x) for x in ("fact", "dim"))
    dsnap = cl.fold_last_image(sp.read.parquet(d.path), d.keys, d.cols())
    cl.write_hash_partitioned(fsnap, fact_log, f.keys, n)
    cl.write_hash_partitioned(dsnap, dim_log, d.keys, n)
    fact = sp.read.parquet(fact_log).drop("__bucket")
    dim = sp.read.parquet(dim_log).drop("__bucket")
    if nd.shape == "temporal":
        v0 = it.recompute_temporal_view(
            fact, dim, nd.spec, f.cols(), fact_delete_col=f.delete_col
        )
    else:
        v0 = ij.compute_join_view(
            fact, dim, nd.spec, f.delete_col, d.delete_col,
            fact_hidden_cols=f.hidden,
        )
    cl.write_hash_partitioned(_view_v0(v0), nd.log, f.keys, n)


def _join_init(eng: Engine, nd: _Node) -> None:
    sp, f, d = eng.spark, nd.fact, nd.dim
    # offsets BEFORE the folds list the sources (_advance_stream_offsets)
    for side, s in (("fact", f), ("dim", d)):
        _advance_stream_offsets(
            sp, s.path, s.schema, os.path.join(nd.root, f"_ckpt_{side}")
        )
    _write_join_base(
        eng, nd, cl.fold_last_image(sp.read.parquet(f.path), f.keys, f.cols())
    )


def _joind_init(eng: Engine, nd: _Node) -> int:
    d = nd.dim
    _advance_stream_offsets(
        eng.spark, d.path, d.schema, os.path.join(nd.root, "_ckpt_dim")
    )
    # the fact side has no stream: its floor comes from the listing its
    # fold reads
    snap, floor = ivm_dag.init_view(eng.spark, nd.up.log, nd.up.keys)
    _write_join_base(eng, nd, _ingest(snap))
    ivm_dag._write_floor(nd.root, floor)
    return floor


def _ingest(rows: DataFrame) -> DataFrame:
    return rows.withColumnRenamed("__seq", "__useq").withColumnRenamed(
        "__deleted", "__udel"
    )


def _append_view_changes(
    eng: Engine, nd: _Node, changes: DataFrame, tag: str
) -> None:
    changes = changes.localCheckpoint(eager=True)
    if changes.count() > 0:
        cl.append_delta(eng.spark, nd.log, changes, tag=tag)


def _join_round(
    eng: Engine, nd: _Node, side: str, batch: DataFrame, seq: int,
    tag: str, view_tag: str,
) -> None:
    """One lookup-join maintenance round: recompute the view's touched
    slice against state that still EXCLUDES the batch, land the VIEW delta
    first and the side's STATE delta second — a crash between them
    replays bit-identical changes, deduped by tag within an activation and
    convergent by the last-image fold across activations."""
    sp, f, d = eng.spark, nd.fact, nd.dim

    def merged(x, s, **kw):
        return cl.read_merged(
            sp, os.path.join(nd.root, x), s.keys, s.cols(), prune_fold=True, **kw
        )

    state = ij.JoinViewState(
        fact=merged("fact", f, include_tombstones=True),
        dim=merged("dim", d, include_tombstones=True),
        # the view frame only shapes the (discarded) splice plan
        view=_join_view(eng, nd),
    )
    empty = lambda s: sp.createDataFrame([], s.schema)  # noqa: E731
    _st, changes = ij.maintain_join_with_changes(
        state,
        batch if side == "fact" else empty(f),
        batch if side == "dim" else empty(d),
        f.cols(), d.cols(), nd.spec, seq=seq,
        fact_delete_col=f.delete_col, dim_delete_col=d.delete_col,
        fact_hidden_cols=f.hidden,
    )
    _append_view_changes(eng, nd, changes, view_tag)
    cl.append_delta(sp, os.path.join(nd.root, side), batch, tag=tag)


def _bounded_join_side(eng: Engine, nd: _Node, side: str, round_) -> None:
    """A raw join input's bounded stream; view seqs are
    ``(epoch, side, batch)``-ordered so later activations win and dim
    batches (run second) win over the same activation's fact batches."""
    sbit = 0 if side == "fact" else 1

    def handle(batch_df, batch_id):
        seq = ((nd.epoch * 2 + sbit) << 33) + batch_id
        tag = f"{side}-{nd.epoch}-{batch_id}"
        round_(eng, nd, side, batch_df, seq, tag, f"view-{tag}")

    s = getattr(nd, side)
    _run_available_now(
        eng.spark, s.path, s.schema, os.path.join(nd.root, f"_ckpt_{side}"),
        handle,
    )


def _join_step(eng: Engine, nd: _Node) -> None:
    _bounded_join_side(eng, nd, "fact", _join_round)
    _bounded_join_side(eng, nd, "dim", _join_round)


def _joind_step(eng: Engine, nd: _Node) -> int:
    # the fact side consumes the upstream log past the root's floor as ONE
    # batch (the keyed merge telescopes intermediate images); the floor
    # advances LAST, after the view and state deltas
    sp = eng.spark
    # the ingested fact state's schema shapes the dim rounds' empty batch
    fact_state = sp.read.parquet(os.path.join(nd.root, "fact"))
    nd.fact = replace(nd.fact, schema=fact_state.drop("__bucket").schema)
    w, new_w, _base, drows = ivm_dag.pending_changes(sp, nd.root, nd.up.log)
    if new_w > w:
        pending = _ingest(drows.filter(F.col("__seq") > F.lit(w)))
        _join_round(
            eng, nd, "fact", pending, (nd.epoch * 2) << 33,
            f"fact-up{new_w}", f"view-up{new_w}",
        )
        ivm_dag._write_floor(nd.root, new_w)
    _bounded_join_side(eng, nd, "dim", _join_round)
    return new_w


def _temporal_round(
    eng: Engine, nd: _Node, side: str, batch: DataFrame, seq: int,
    tag: str, view_tag: str,
) -> None:
    """One temporal-join round. The FACT side lands its state delta FIRST
    (the post-append merge-on-read read IS the operator's
    ``snapshot_after``), the DIM side LAST (the SCD2 merge must pre-date
    the batch); both replay bit-identically and dedupe on the tag."""
    sp, f, d, spec = eng.spark, nd.fact, nd.dim, nd.spec
    fact_log = os.path.join(nd.root, "fact")
    if side == "fact":
        cl.append_delta(sp, fact_log, batch, tag=tag)
    fact_now = cl.read_merged(
        sp, fact_log, f.keys, f.cols(), include_tombstones=True, prune_fold=True
    )
    # the SCD2 window folds only the versions of the batch's touched dim
    # keys (exact: SCD2 is per key). The fact side also needs the fks of
    # the post-merge WINNING images of its keys — a stale batch row can
    # lose the merge to an image carrying a different fk.
    if side == "fact":
        winner_fks = fact_now.join(
            F.broadcast(batch.select(*f.keys).distinct()),
            on=f.keys, how="left_semi",
        ).select(F.col(spec.fk_col).alias(spec.dim_key))
        touch_dk = (
            batch.select(F.col(spec.fk_col).alias(spec.dim_key))
            .unionByName(winner_fks)
            .distinct()
        )
    else:
        touch_dk = batch.select(spec.dim_key).distinct()
    hist = cl.read_merged(
        sp, os.path.join(nd.root, "dim"), d.keys, d.cols(),
        include_tombstones=True, prune_fold=True,
    ).join(F.broadcast(touch_dk), on=spec.dim_key, how="left_semi")
    state = it.TemporalJoinState(
        fact=fact_now,
        dim_versions=cl.scd2_from_changelog(hist, [spec.dim_key], spec.valid_from),
        view=_join_view(eng, nd),
    )
    _st, changes = it.maintain_temporal_join_with_changes(
        state,
        batch if side == "fact" else None,
        batch if side == "dim" else None,
        f.cols(), spec, seq=seq, fact_delete_col=f.delete_col,
        snapshot_after=fact_now,
    )
    _append_view_changes(eng, nd, changes, view_tag)
    if side == "dim":
        cl.append_delta(sp, os.path.join(nd.root, "dim"), batch, tag=tag)


def _temporal_step(eng: Engine, nd: _Node) -> None:
    _bounded_join_side(eng, nd, "fact", _temporal_round)
    _bounded_join_side(eng, nd, "dim", _temporal_round)


def _join_view(eng: Engine, nd: _Node) -> DataFrame:
    return cl.read_merged(
        eng.spark, nd.log, nd.fact.keys, [F.col("__seq")],
        delete_col="__deleted", prune_fold=True,
    ).drop("__seq", "__deleted")


_KINDS: dict[str, _Kind] = {
    "_ivm_": _Kind(
        _agg_check, _agg_init, _agg_step, None, _agg_view, ("_emit_changes",)
    ),
    "_ivmd_": _Kind(
        _aggd_check, _aggd_init, _aggd_step, None, _agg_view, ("_emit_changes",)
    ),
    "_ivmj_": _Kind(
        _join_check, _join_init, _join_step, _join_logs, _join_view,
        ("_n_buckets", "_epoch"),
    ),
    "_ivmjd_": _Kind(
        _joind_check, _joind_init, _joind_step, _join_logs, _join_view,
        ("_n_buckets", "_epoch"),
    ),
    "_ivmt_": _Kind(
        _temporal_check, _join_init, _temporal_step, _join_logs, _join_view,
        ("_n_buckets", "_epoch"),
    ),
}
