"""The repo benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one of the workloads in ``workloads.py`` in this process on
``local[$SPARK_GRAFT_CPUS]`` (default: every core), closed loop with one
client, for ``--seconds`` of measured time, checks the outputs, and prints
as its last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, measured in a separate traced half of the run (see
README.md). The line before it carries the workload's own named figures and
host-drift diagnostics. Everything the run writes stays under
``perfbench/.work`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: how many times set-up runs in one run; setup_s is their median
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "op_p90_s": "s",
    "items_per_s": "1/s",
}

#: layers timed by share of the measured wall and counted per call; a
#: layer a workload does not call reads 0 there
CALL_LAYERS = {
    **{
        f"queries.{fam}": ("wall_pct", "spark_jobs", "task_util", "driver_gap_pct")
        for fam in (
            "ivm", "stream", "dedup", "similarity", "text", "tpch", "join",
            "agg", "func", "window", "other",
        )
    },
    "catalog.activate_project_incremental": (
        "wall_pct", "spark_jobs", "spark_stages", "spark_tasks", "task_util",
        "shuffle_bytes", "driver_gap_pct",
    ),
    "catalog.send_events": ("wall_pct", "spark_jobs"),
    "catalog.activate_pipeline": ("wall_pct", "spark_jobs", "driver_gap_pct"),
    "plans.preview.run": ("wall_pct", "spark_jobs", "spark_stages", "driver_gap_pct"),
    "plans.tests_sql.run_test": ("wall_pct", "spark_jobs"),
    "dialect.normalize": ("wall_pct",),
}

_UNITS = {
    "wall_pct": "%", "driver_gap_pct": "%", "spark_jobs": "count",
    "spark_stages": "count", "spark_tasks": "count", "task_util": "cores",
    "shuffle_bytes": "bytes",
}

#: per-layer figures a workload observes itself (0 where it has none)
OBSERVED = {
    "streaming.changelog.pending_deltas": "count",
    "streaming.changelog.log_bytes": "bytes",
    "streaming.changelog.compactions": "count",
    "operators.ivm_dag.watermark_lag": "count",
    "operators.ivm_log.state_bytes": "bytes",
    "catalog.send_events.rows_rewritten": "count",
}

PER_LAYER = {
    "session.get_spark.wall_s": "s",
    "spark.driver_gap_pct": "%",
    "trace.overhead_pct": "%",
    "trace.jobs_unattributed": "count",
    **{f"{layer}.{m}": _UNITS[m] for layer, ms in CALL_LAYERS.items() for m in ms},
    **OBSERVED,
}


def _cpu_canary() -> float:
    """Fixed single-thread work (PBKDF2), median of three timings."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        hashlib.pbkdf2_hmac("sha256", b"perfbench", b"canary", 100_000)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class Sessions:
    """Starts SparkSessions with the engine's own ``get_spark`` and times
    every start; keeps every file the JVM writes inside the work dir."""

    def __init__(self, work: str):
        self.work = work
        self.get_spark_s: list[float] = []
        self.spark = None
        self.master = None

    def start(self, eventlog_dir: str | None = None):
        """A new session from ``get_spark`` with this run's confs (the live
        one is stopped first)."""
        from dbt_decodable_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog_dir:
            os.makedirs(eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.time()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.get_spark_s.append(time.time() - t0)
        sc = self.spark.sparkContext
        self.master = (sc.master, sc.defaultParallelism)
        return self.spark

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _phase(cls, args, sessions: Sessions, work: str, seconds: float,
           setups: int, eventlog_dir: str | None = None):
    """Inputs, ``setups`` timed set-ups, prepare, the measured loop, and
    the output check. Returns (workload, spans, setup walls, loop wall,
    wrong ops)."""
    from spans import Spans

    marks = [("start", time.time())]
    wl = cls(args.seed, args.size, os.path.join(work, "inputs"))
    wl.inputs()
    marks.append(("inputs", time.time()))
    setup_s = []
    for i in range(setups):
        t0 = time.time()
        if i == 0:  # later set-ups reuse the session, as a second project would
            spark = sessions.start(eventlog_dir)
        wl.setup(spark, os.path.join(work, f"setup{i}"))
        setup_s.append(time.time() - t0)
    marks.append(("setups", time.time()))
    wl.prepare()
    marks.append(("prepare", time.time()))
    spans = Spans(spark)
    t0 = time.time()
    wl.run(spans, t0 + seconds)
    loop_s = time.time() - t0
    marks.append(("loop", time.time()))
    wrong = wl.check()
    marks.append(("check", time.time()))
    wl.phase_s = {k: t - marks[i][1] for i, (k, t) in enumerate(marks[1:])}
    return wl, spans, setup_s, loop_s, wrong


def _end_to_end(wl, setup_s: list[float]) -> dict[str, float]:
    from workloads import p50, p90

    ops = wl.op_times()
    return {
        "setup_s": statistics.median(setup_s),
        "op_geomean_s": statistics.geometric_mean(ops) if ops else 0.0,
        "op_p50_s": p50(ops),
        "op_p90_s": p90(ops),
        "items_per_s": wl.items / sum(ops) if ops else 0.0,
        "op_walls_s": ops,
    }


def _per_layer(spans, loop_s: float, totals: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    program = [s for s in spans.spans if not s.layer.startswith("perfbench.")]
    wall = sum(s.wall_s for s in program)
    gap = sum(s.counters.get("driver_gap_s", 0.0) for s in program)
    out["spark.driver_gap_pct"] = 100.0 * gap / wall if wall else 0.0
    out["trace.jobs_unattributed"] = totals["jobs_in_window"] - totals["jobs_attributed"]
    for layer, metrics in CALL_LAYERS.items():
        calls = spans.of(layer)
        w = sum(s.wall_s for s in calls)
        n = len(calls)

        def total(key):
            return sum(s.counters.get(key, 0) for s in calls)

        figures = {
            "wall_pct": 100.0 * w / loop_s,
            "spark_jobs": total("n_jobs") / n if n else 0,
            "spark_stages": total("n_stages") / n if n else 0,
            "spark_tasks": total("n_tasks") / n if n else 0,
            "task_util": total("task_time_s") / w if w else 0.0,
            "shuffle_bytes": 1e6 * (total("shuffle_read_mb") + total("shuffle_write_mb")) / n
            if n else 0,
            "driver_gap_pct": 100.0 * total("driver_gap_s") / w if w else 0.0,
        }
        for m in metrics:
            out[f"{layer}.{m}"] = figures[m]
    return out


def _metric_block(values: dict[str, float], units: dict[str, str]) -> dict:
    block = {}
    for name, unit in units.items():
        v = values.get(name, 0)
        if isinstance(v, float) and not math.isfinite(v):
            v = 0.0
        block[name] = {"value": v, "unit": unit}
    return block


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs, for the smoke test")
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    sessions = Sessions(work)
    try:
        return _run(args, WORKLOADS[args.workload], sessions, work)
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cls, sessions: Sessions, work: str) -> int:
    host = {"loadavg_before": os.getloadavg(), "cpu_canary_before_s": _cpu_canary()}
    # a traced run measures two halves, each from a fresh JVM: untraced,
    # then traced; the per-layer figures come from the traced half and
    # the gap between the halves is the tracing overhead
    seconds = args.seconds / 2 if args.trace else args.seconds
    wl, spans, setup_s, loop_s, wrong = _phase(
        cls, args, sessions, os.path.join(work, "a"), seconds,
        1 if args.trace else SETUPS,
    )
    e2e = _end_to_end(wl, setup_s)
    attempted, failed = wl.attempted(), wl.failed + wrong
    detail = {
        "workload": args.workload, "seed": args.seed, **e2e, **wl.detail(),
        "setups_s": setup_s, "phase_s": wl.phase_s,
    }
    if args.trace:
        from spans import slice_eventlog

        sys.path.insert(0, os.path.join(REPO, "tools"))
        from query_profile import parse_eventlog

        sessions.close()
        evlog = os.path.join(work, "eventlog")
        wl_t, spans_t, _, loop_t, wrong_t = _phase(
            cls, args, sessions, os.path.join(work, "b"), seconds, 1, evlog
        )
        sessions.spark.stop()
        sessions.spark = None
        totals = slice_eventlog(evlog, spans_t.spans, parse_eventlog)
        values = _per_layer(spans_t, loop_t, totals)
        values.update(wl_t.layer_counters())
        values["session.get_spark.wall_s"] = statistics.median(sessions.get_spark_s)
        traced = _end_to_end(wl_t, [0.0])
        if e2e["op_geomean_s"]:
            values["trace.overhead_pct"] = 100.0 * (
                traced["op_geomean_s"] / e2e["op_geomean_s"] - 1.0
            )
        attempted += wl_t.attempted()
        failed += wl_t.failed + wrong_t
        detail["traced"] = {**traced, **wl_t.detail(), **totals, "phase_s": wl_t.phase_s}
        detail["calls"] = [
            [s.layer, s.label, s.counters.get("n_jobs"), s.counters.get("n_stages")]
            for s in spans_t.spans
            if not s.layer.startswith("perfbench.") and s.layer != "dialect.normalize"
        ]
        metrics = _metric_block(values, PER_LAYER)
    else:
        metrics = _metric_block(e2e, END_TO_END)
    detail["error_rate"] = failed / attempted if attempted else 1.0
    host.update(
        {
            "loadavg_after": os.getloadavg(),
            "cpu_canary_after_s": _cpu_canary(),
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "master_parallelism": sessions.master,
        }
    )
    detail["host"] = host
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.path.insert(0, REPO)
    try:
        import dbt_decodable_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        raise SystemExit(2)
    raise SystemExit(main())
