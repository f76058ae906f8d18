"""The benchmark's three workloads.

Each workload is driven the same way by ``run.py``:

- ``setup(spark, work_dir)``: the engine-side set-up a user pays before the
  first statement (timed, repeated, reported as ``setup_s``);
- ``prepare()``: untimed work before the measured window (the maintained
  graph's init activation, the registry sample's seeded order);
- ``run(spans, deadline)``: the closed loop, one client, until ``deadline``;
  every operation it times is a span (see ``spans.py``);
- ``check()``: the number of timed operations whose output was wrong. The
  checks themselves run outside every timed span, in ``run`` when a
  result must be read while it is live, else here.

``ops`` holds ``(kind, seconds)`` for every timed operation, ``items`` the
units of work done (queries, churn rows, events), ``failed`` the operations
that raised.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import statistics
import sys
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: query families reported one by one; every other prefix is "other"
FAMILIES = (
    "ivm", "stream", "dedup", "similarity", "text", "tpch", "join", "agg",
    "func", "window",
)


def family(name: str) -> str:
    f = name.split("_", 1)[0]
    return f if f in FAMILIES else "other"


def p50(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _import_path(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Workload:
    def __init__(self, seed: int, size: str, inputs_dir: str):
        self.seed = seed
        self.size = size
        self.inputs_dir = inputs_dir
        self.rng = np.random.default_rng(seed)
        self.ops: list[tuple[str, float]] = []
        self.items = 0
        self.failed = 0

    def attempted(self) -> int:
        return len(self.ops) + self.failed

    def op_times(self) -> list[float]:
        return [t for _, t in self.ops]

    def layer_counters(self) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
# registry_sweep


class RegistrySweep(Workload):
    """A fixed sample of the query registry through the ``noop`` sink on
    seeded test tables, in family blocks. The seed shuffles the order
    inside each block; between blocks the harness resets cross-family
    state exactly as ``bench.py`` does."""

    name = "registry_sweep"
    #: one query in STRIDE (by a hash of its name, so adding or removing a
    #: query leaves the rest of the sample alone), plus the first of any
    #: family the hash leaves out
    STRIDE = {"full": 64, "tiny": 100}
    SF = {"full": 0.01, "tiny": 0.001}
    #: the maintained graph has a workload of its own (maintained_dag)
    SKIP = frozenset({"ivm_dag_depth3"})

    @staticmethod
    def sample(names, stride: int, every_family: bool = True) -> list[str]:
        crc = {n: zlib.crc32(n.encode()) for n in names if n not in RegistrySweep.SKIP}
        picked = {n for n, c in crc.items() if c % stride == 0}
        for fam in (FAMILIES + ("other",)) * every_family:
            members = [n for n in crc if family(n) == fam]
            if members and not any(family(n) == fam for n in picked):
                picked.add(min(members, key=crc.get))
        return sorted(picked)

    def inputs(self) -> None:
        from tables import write

        self.sf_dir = write(
            os.path.join(self.inputs_dir, "tables"), self.SF[self.size], self.seed
        )

    def setup(self, spark, work_dir: str) -> None:
        from dbt_decodable_spark.queries import load_all
        from dbt_decodable_spark.sources.tables import register_testdata

        self.spark = spark
        self.registry = load_all()
        register_testdata(spark, self.sf_dir)

    def prepare(self) -> None:
        names = self.sample(
            self.registry, self.STRIDE[self.size], every_family=self.size == "full"
        )
        self.blocks = []
        for fam in FAMILIES + ("other",):
            block = [n for n in names if family(n) == fam]
            self.rng.shuffle(block)
            if block:
                self.blocks.append(block)
        import duckdb

        self.oc = _import_path("oracle_check", os.path.join(REPO, "tools", "oracle_check.py"))
        self.con = duckdb.connect()
        for t in self.oc.TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.wrong: list[str] = []

    def _check(self, name: str, df) -> bool:
        """``tools/oracle_check``'s comparison of one result with the
        query's DuckDB oracle (rows-only where it has none)."""
        oc, q = self.oc, self.registry[name]
        with contextlib.redirect_stdout(sys.stderr):
            if q.oracle is not None:
                return oc.compare(name, df, q.oracle, self.con)
            rows = [tuple(r) for r in df.collect()]
            if oc.driver_canon_guard(rows, df.columns):
                return False
            if name in oc.BOUNDED_ERROR:
                return oc.check_bounded_error(name, rows, df.columns, self.con) is None
            return True

    def _reset(self) -> None:
        """bench.py's family-boundary reset: stop leaked streams, drop the
        memory-sink views, clear cached blocks, ask the JVM for a GC."""
        spark = self.spark
        for sq in spark.streams.active:
            sq.stop()
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name.endswith("_sink"):
                spark.catalog.dropTempView(t.name)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    def run(self, spans, deadline: float) -> None:
        """Whole passes over the sample until ``deadline``. Each result is
        checked right after its timed run, outside the span: the check
        collects the same DataFrame, so work a query does eagerly inside
        its function is not run twice."""
        self.pass_walls: list[float] = []
        while time.time() < deadline:
            in_queries = 0.0
            for block in self.blocks:
                with spans.span("perfbench.reset"):
                    self._reset()
                for n in block:
                    try:
                        with spans.span(f"queries.{family(n)}", n) as s:
                            df = self.registry[n].fn(self.spark, self.sf_dir)
                            df.write.format("noop").mode("overwrite").save()
                        with spans.span("perfbench.check", n):
                            ok = self._check(n, df)
                    except Exception as e:
                        print(f"{n}: {type(e).__name__}: {e}", file=sys.stderr)
                        self.failed += 1
                        continue
                    self.ops.append(("query", s.wall_s))
                    in_queries += s.wall_s
                    self.items += 1
                    if not ok:
                        self.wrong.append(n)
            self.pass_walls.append(in_queries)

    def check(self) -> int:
        self.con.close()
        return len(self.wrong)

    def detail(self) -> dict:
        q = self.op_times()
        sweep = p50(self.pass_walls) if self.pass_walls else float("nan")
        return {
            "query_p50_s": p50(q),
            "query_p90_s": p90(q),
            "sweep_s": sweep,
            "n_sampled_queries": sum(len(b) for b in self.blocks),
            "n_registry_queries": len(self.registry),
            "wrong_queries": sorted(set(self.wrong)),
        }


# --------------------------------------------------------------------------
# maintained_dag

_FACT_SCHEMA = pa.schema(
    [
        ("pk", pa.int64()),
        ("grp", pa.int64()),
        ("qty", pa.int64()),
        ("ver", pa.int64()),
        ("deleted", pa.bool_()),
    ]
)

#: the three-stage graph: GROUP BY over the keyed fact stream, a cohort
#: rollup, a band rollup (the ivm_dag_depth3 / scale_probe rawdag shape)
_DAG_SQL = {
    "roll": "select grp, count(*) as n_rows, sum(qty) as sum_qty "
    "from bd__fact group by grp",
    "cohort": "select grp % 7 as cohort, count(*) as n_grps, "
    "sum(sum_qty) as cohort_qty from bd__roll group by cohort",
    "band": "select cohort % 2 as band, count(*) as n_cohorts, "
    "sum(cohort_qty) as total_qty from bd__cohort group by band",
}

_DAG_RECOMPUTE = """
WITH f AS (
    SELECT * FROM read_parquet('{path}/*.parquet')
    QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ver DESC) = 1
), live AS (SELECT * FROM f WHERE NOT deleted),
roll AS (SELECT grp, count(*) AS n_rows, sum(qty) AS sum_qty FROM live GROUP BY grp),
cohort AS (SELECT grp % 7 AS cohort, count(*) AS n_grps, sum(sum_qty) AS cohort_qty
           FROM roll GROUP BY cohort),
band AS (SELECT cohort % 2 AS band, count(*) AS n_cohorts, sum(cohort_qty) AS total_qty
         FROM cohort GROUP BY band)
SELECT * FROM {stage}
"""


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


class MaintainedDag(Workload):
    """A depth-3 maintained model graph fed back-to-back churn batches:
    upserts, late tombstones and group migrations, each batch followed by
    one ``activate_project_incremental``."""

    name = "maintained_dag"
    NODES = {"roll": dict(order=["ver"], delete_col="deleted"), "cohort": {}, "band": {}}
    SIZES = {"full": (20_000, 500, 1_000), "tiny": (2_000, 50, 100)}
    N_BUCKETS = 4

    def inputs(self) -> None:
        n_base, n_groups, _ = self.SIZES[self.size]
        rng = self.rng
        base = pa.table(
            {
                "pk": np.arange(n_base, dtype=np.int64),
                "grp": rng.integers(0, n_groups, n_base),
                "qty": rng.integers(1, 100, n_base),
                "ver": np.zeros(n_base, dtype=np.int64),
                "deleted": np.zeros(n_base, dtype=bool),
            },
            schema=_FACT_SCHEMA,
        )
        self.base_dir = os.path.join(self.inputs_dir, "base")
        os.makedirs(self.base_dir, exist_ok=True)
        pq.write_table(base, os.path.join(self.base_dir, "base.parquet"))
        self.next_pk = n_base
        self.grp_of = base.column("grp").to_numpy()

    def setup(self, spark, work_dir: str) -> None:
        from dbt_decodable_spark.catalog import Engine
        from dbt_decodable_spark.schema import StreamSchema

        self.spark = spark
        # KB-sized batches: 32-way shuffles would measure task scheduling
        # only (the same choice ivm_dag_depth3 makes for this graph)
        spark.conf.set("spark.sql.shuffle.partitions", os.environ["SPARK_GRAFT_CPUS"])
        self.wh = os.path.join(work_dir, "wh")
        os.makedirs(self.wh, exist_ok=True)
        eng = Engine(spark, namespace="bd", warehouse_dir=self.wh)
        base = spark.read.parquet(self.base_dir)
        eng.create_stream(
            "fact",
            schema=StreamSchema.from_spark(base.schema, primary_key=["pk"]),
            data=base,
        )
        for name, sql in _DAG_SQL.items():
            eng.create_pipeline(name, sql, activate=False)
        self.eng = eng

    def prepare(self) -> None:
        t0 = time.time()
        self.eng.activate_project_incremental(self.NODES, n_buckets=self.N_BUCKETS)
        self.init_s = time.time() - t0
        self.batch_no = 0
        self.lags: list[int] = []
        self.after: list[dict] = []

    def _churn(self) -> pa.Table:
        """One seeded churn batch: a quarter new facts; of the existing
        keys it touches, 15% get a late tombstone, 20% move to another
        group and the rest change their quantity."""
        _, n_groups, n = self.SIZES[self.size]
        rng = self.rng
        n_new = n // 4
        old = rng.choice(self.next_pk, n - n_new, replace=False)
        pk = np.concatenate([old, np.arange(self.next_pk, self.next_pk + n_new)])
        self.next_pk += n_new
        kind = rng.random(n)
        is_old = np.arange(n) < n - n_new
        deleted = is_old & (kind < 0.15)
        moved = ~is_old | ((kind >= 0.15) & (kind < 0.35))
        grp = np.concatenate([self.grp_of[old], np.zeros(n_new, dtype=np.int64)])
        grp[moved] = rng.integers(0, n_groups, int(moved.sum()))
        self.grp_of = np.concatenate([self.grp_of, grp[~is_old]])
        self.grp_of[old] = grp[is_old]
        return pa.table(
            {
                "pk": pk.astype(np.int64),
                "grp": grp,
                "qty": rng.integers(1, 100, n),
                "ver": np.full(n, self.batch_no, dtype=np.int64),
                "deleted": deleted,
            },
            schema=_FACT_SCHEMA,
        )

    def _observe(self) -> None:
        """Lag and change-log state after an activation, from metadata
        only (directory listings and parquet footers; no Spark job)."""
        from dbt_decodable_spark.operators import ivm_dag
        from dbt_decodable_spark.streaming.changelog import list_deltas

        edges = (
            (os.path.join(self.wh, "_ivm_bd__roll", "out"), "_ivmd_bd__cohort"),
            (os.path.join(self.wh, "_ivmd_bd__cohort", "out"), "_ivmd_bd__band"),
        )
        for log, consumer in edges:
            up = [ivm_dag._base_max_seq(log), ivm_dag._deltas_max_seq(list_deltas(log))]
            up_max = max((u for u in up if u is not None), default=0)
            wm = ivm_dag.downstream_watermark(os.path.join(self.wh, consumer))
            self.lags.append(up_max - wm)
        pending = 0
        log_bytes = state_bytes = 0
        for entry in os.listdir(self.wh):
            root = os.path.join(self.wh, entry)
            if not entry.startswith(("_ivm_", "_ivmd_")) or not os.path.isdir(root):
                continue
            for dirpath, dirs, _files in os.walk(root):
                for d in dirs:
                    if d.endswith(".__deltas__"):
                        pending += len(
                            list_deltas(os.path.join(dirpath, d[: -len(".__deltas__")]))
                        )
            logs = [os.path.join(root, "out"), os.path.join(root, "out.__deltas__")]
            lb = sum(_dir_bytes(p) for p in logs if os.path.isdir(p))
            log_bytes += lb
            state_bytes += _dir_bytes(root) - lb
        self.after.append(
            {"pending_deltas": pending, "log_bytes": log_bytes, "state_bytes": state_bytes}
        )

    def run(self, spans, deadline: float) -> None:
        fact_path = self.eng.streams["bd__fact"].path
        while time.time() < deadline:
            self.batch_no += 1
            batch = self._churn()
            with spans.span("perfbench.input", f"batch{self.batch_no}", tag=False):
                pq.write_table(
                    batch, os.path.join(fact_path, f"churn-{self.batch_no:05d}.parquet")
                )
                self.eng.refresh_stream("fact")
            try:
                with spans.span(
                    "catalog.activate_project_incremental", f"batch{self.batch_no}"
                ) as s:
                    self.eng.activate_project_incremental(
                        self.NODES, n_buckets=self.N_BUCKETS
                    )
                self.ops.append(("activation", s.wall_s))
                self.items += batch.num_rows
            except Exception as e:
                print(f"activation {self.batch_no}: {type(e).__name__}: {e}", file=sys.stderr)
                self.failed += 1
                return
            self._observe()

    def check(self) -> int:
        import duckdb

        wrong = sum(1 for lag in self.lags if lag != 0)
        fact_path = self.eng.streams["bd__fact"].path
        con = duckdb.connect()
        for stage in ("roll", "cohort", "band"):
            want = sorted(
                con.sql(_DAG_RECOMPUTE.format(path=fact_path, stage=stage)).fetchall()
            )
            got = sorted(tuple(r) for r in self.eng.read_stream(stage).collect())
            if got != want:
                print(f"maintained_dag: {stage} differs from the recompute", file=sys.stderr)
                wrong = max(wrong, len(self.ops))
        con.close()
        return min(wrong, len(self.ops))

    def detail(self) -> dict:
        a = self.op_times()
        return {
            "dag_init_s": self.init_s,
            "activation_p50_s": p50(a),
            "dag_rows_per_s": self.items / sum(a) if a else 0.0,
            "activations": len(a),
            "max_watermark_lag": max(self.lags, default=0),
        }

    def layer_counters(self) -> dict[str, float]:
        pend = [a["pending_deltas"] for a in self.after]
        compactions = sum(1 for x, y in zip(pend, pend[1:]) if y < x)
        return {
            "streaming.changelog.pending_deltas": p50(pend) if pend else 0,
            "streaming.changelog.log_bytes": p50([a["log_bytes"] for a in self.after])
            if self.after else 0,
            "streaming.changelog.compactions": compactions,
            "operators.ivm_dag.watermark_lag": max(self.lags, default=0),
            "operators.ivm_log.state_bytes": self.after[-1]["state_bytes"]
            if self.after else 0,
        }


# --------------------------------------------------------------------------
# dbt_project_loop

_METHODS = ["GET", "POST", "PUT", "DELETE", "PATCH"]
_ACCEPTED = ["GET", "POST", "PUT", "DELETE"]
_PATHS = ["/api/shoes", "/api/hats", "/api/cart", "/api/users", "/health"]
_AGENTS = ["curl/7.85", "Mozilla/5.0", "okhttp/4.9", "python-requests/2.31"]


class DbtProjectLoop(Workload):
    """The reference example project in rounds: ingest over a REST
    connection, "dbt run" of the two envoy models, "dbt test" with the
    four generic tests, then a change-stream preview."""

    name = "dbt_project_loop"
    EVENTS = {"full": 500, "tiny": 50}
    MALFORMED = 0.08
    DUPLICATES = 5  # request ids reused per round

    def inputs(self) -> None:
        ex = _import_path(
            "example_project_models", os.path.join(REPO, "tests", "test_example_project.py")
        )
        self.models = {
            "http_events": (ex.HTTP_EVENTS_SQL, None),
            "http_events_bytes_sent": (ex.BYTES_SENT_SQL, ["method"]),
        }
        self.n_lines = 0
        self.n_malformed = 0
        self.ids: list[str] = []  # request ids of well-formed lines
        self.dup_ids: set[str] = set()
        self.methods_seen: set[str] = set()
        self.bytes_by_method: dict[str, int | None] = {}

    def setup(self, spark, work_dir: str) -> None:
        from pyspark.sql import types as T

        from dbt_decodable_spark.catalog import Engine
        from dbt_decodable_spark.schema import StreamSchema

        self.spark = spark
        eng = Engine(spark, namespace="", warehouse_dir=os.path.join(work_dir, "wh"))
        raw = StreamSchema.from_spark(
            T.StructType([T.StructField("value", T.StringType())])
        )
        eng.create_connection("envoy_rest", "rest", stream="envoy_raw", schema=raw)
        eng.activate_connection("envoy_rest")
        for name, (sql, pk) in self.models.items():
            eng.create_pipeline(name, sql, primary_key=pk, activate=False)
        self.eng = eng

    def _events(self) -> list[dict]:
        rng = self.rng
        out = []
        for _ in range(self.EVENTS[self.size]):
            i = self.n_lines
            self.n_lines += 1
            if rng.random() < self.MALFORMED:
                self.n_malformed += 1
                out.append({"value": f"malformed access log line {i}"})
                self.bytes_by_method.setdefault("__UNKNOWN__", None)
                continue
            method = _METHODS[int(rng.choice(5, p=[0.5, 0.25, 0.1, 0.1, 0.05]))]
            sent = int(rng.integers(0, 50_000))
            rid = f"req-{i}"
            fresh = [r for r in self.ids[-200:] if r not in self.dup_ids]
            if fresh and len(out) < self.DUPLICATES:
                rid = fresh[int(rng.integers(0, len(fresh)))]
                self.dup_ids.add(rid)
            else:
                self.ids.append(rid)
            self.methods_seen.add(method)
            prev = self.bytes_by_method.get(method) or 0
            self.bytes_by_method[method] = prev + sent
            ts = f"2023-01-15T{10 + i // 36000 % 10:02d}:{i // 600 % 60:02d}:{i // 10 % 60:02d}Z"
            out.append(
                {
                    "value": (
                        f'[{ts}] "{method} {_PATHS[i % 5]} HTTP/1.1" '
                        f"{[200, 201, 404, 500][i % 4]} {'-' if i % 3 else 'NR'} "
                        f"{int(rng.integers(0, 5000))} {sent} {int(rng.integers(1, 900))} "
                        f'{int(rng.integers(1, 800))} "10.0.{i % 7}.{i % 250}" '
                        f'"{_AGENTS[i % 4]}" "{rid}" "shop.local" "10.9.8.{i % 9}:443"'
                    )
                }
            )
        return out

    def _expected_failures(self) -> dict[str, int]:
        return {
            "not_null": self.n_malformed,
            "unique": len(self.dup_ids),
            "accepted_values": len(self.methods_seen - set(_ACCEPTED)),
            "relationships": 1 if self.n_malformed else 0,
        }

    def attempted(self) -> int:
        return len(self.statements) + self.failed

    def _timed(self, spans, layer: str, label: str, fn):
        try:
            with spans.span(layer, label) as s:
                out = fn()
        except Exception as e:
            print(f"{layer} {label}: {type(e).__name__}: {e}", file=sys.stderr)
            self.failed += 1
            return None
        self.statements.append((layer, s.wall_s))
        return out

    def _normalize(self, spans, sql: str) -> None:
        """Time the dialect layer on this statement, apart from the op."""
        from dbt_decodable_spark.dialect import normalize

        with spans.span("dialect.normalize", tag=False):
            normalize(sql)

    def prepare(self) -> None:
        from dbt_decodable_spark.plans import tests_sql as ts
        from spans import Spans

        self.round = 0
        self.mismatches: list[str] = []
        #: (layer, wall) of every statement; ``ops`` holds whole rounds
        self.statements: list[tuple[str, float]] = []
        self.tests = {
            "not_null": ts.not_null_sql("http_events", "method"),
            "unique": ts.unique_sql("http_events", "request_id"),
            "accepted_values": ts.accepted_values_sql("http_events", "method", _ACCEPTED),
            "relationships": ts.relationships_sql(
                "http_events_bytes_sent", "method", "http_events", "method"
            ),
        }
        # one untimed round first: a long-running engine does not pay the
        # JVM's first compile of these plans on every round
        self._round(Spans())
        self.ops.clear()
        self.statements.clear()
        self.items = 0

    def run(self, spans, deadline: float) -> None:
        while time.time() < deadline:
            self._round(spans)

    def _round(self, spans) -> None:
        from dbt_decodable_spark.plans import tests_sql as ts
        from dbt_decodable_spark.plans.preview import Preview

        eng = self.eng
        preview_sql = "SELECT * FROM http_events_bytes_sent"
        self.round += 1
        n_done, n_failed = len(self.statements), self.failed
        events = self._events()
        if self._timed(spans, "catalog.send_events", f"round{self.round}",
                       lambda: eng.send_events("envoy_rest", events)) is not None:
            self.items += len(events)
        for name, (sql, _pk) in self.models.items():
            self._normalize(spans, sql)
            self._timed(spans, "catalog.activate_pipeline", name,
                        lambda name=name: eng.activate_pipeline(name))
        got = {}
        for tname, tsql in self.tests.items():
            self._normalize(spans, ts.get_test_sql(tsql))
            res = self._timed(spans, "plans.tests_sql.run_test", tname,
                              lambda tsql=tsql: ts.run_test(eng, tsql))
            got[tname] = None if res is None else res.failures
        self._normalize(spans, preview_sql)
        rows = self._timed(
            spans, "plans.preview.run", f"round{self.round}",
            lambda: Preview(self.spark).run(preview_sql, primary_key=["method"]),
        )
        if self.failed == n_failed:
            self.ops.append(("round", sum(t for _, t in self.statements[n_done:])))
        # checks of this round's outputs, outside every timed span
        want = self._expected_failures()
        for tname, n in got.items():
            if n is not None and n != want[tname]:
                self.mismatches.append(f"round {self.round} {tname}: {n} != {want[tname]}")
        if rows is not None and dict(rows) != self.bytes_by_method:
            self.mismatches.append(f"round {self.round} preview differs")

    def check(self) -> int:
        for m in self.mismatches:
            print(f"dbt_project_loop: {m}", file=sys.stderr)
        return len(self.mismatches)

    def detail(self) -> dict:
        def walls(layer):
            return [t for k, t in self.statements if k == layer]

        return {
            "ingest_p50_s": p50(walls("catalog.send_events")),
            "model_run_p50_s": p50(walls("catalog.activate_pipeline")),
            "preview_p50_s": p50(walls("plans.preview.run")),
            "preview_p90_s": p90(walls("plans.preview.run")),
            "timed_rounds": len(self.ops),
            "events_ingested": self.items,
        }

    def layer_counters(self) -> dict[str, float]:
        # round 1 is the untimed warm-up; round r rewrites r batches
        sends = [self.EVENTS[self.size] * r for r in range(2, self.round + 1)]
        return {"catalog.send_events.rows_rewritten": p50(sends) if sends else 0}


WORKLOADS = {w.name: w for w in (RegistrySweep, MaintainedDag, DbtProjectLoop)}
