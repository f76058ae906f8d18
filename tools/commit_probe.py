"""Decompose ivm_dag_depth3's wall into (a) durable-commit filesystem time
(sweeps, `_SUCCESS` checks, stage→final renames, record writes, listings
of committed dirs), (b) the Spark write jobs that fill the stages, and
(c) everything else (folds, collects, planning). VERDICT r13 item 4 gates
the idea of batching the per-stage `_SUCCESS` fsyncs into a single
manifest write on this split: if (a) is milliseconds, the idea cannot buy
anything and the accepted protocol floor stands with evidence.

Every durable write goes through `dbt_decodable_spark/commit.py` and every
caller looks its primitives up on that module at call time, so patching
the module's attributes once times every call site.

Usage: SPARK_GRAFT_SF_DIR=... python tools/commit_probe.py [repeat]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(sys.argv[1]) if len(sys.argv) > 1 else 2

    from dbt_decodable_spark import commit
    from dbt_decodable_spark.queries import load_all
    from dbt_decodable_spark.session import get_spark

    registry = load_all()
    spark = get_spark(app_name="commit_probe")

    keys = ("publish_dir", "stage_write", "committed", "write_atomic",
            "swap_dir")
    stats = {k: [0.0, 0] for k in keys}
    in_publish = [0]

    def timed(key, fn):
        def w(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                # listings inside a publish are already in its time
                if key != "committed" or not in_publish[0]:
                    stats[key][0] += time.perf_counter() - t0
                    stats[key][1] += 1

        return w

    real_publish = commit.publish_dir

    def publish_dir(root, write, next_name):
        in_publish[0] += 1
        try:
            return real_publish(root, timed("stage_write", write), next_name)
        finally:
            in_publish[0] -= 1

    commit.publish_dir = timed("publish_dir", publish_dir)
    for k in ("committed", "write_atomic", "swap_dir"):
        setattr(commit, k, timed(k, getattr(commit, k)))

    q = registry["ivm_dag_depth3"]
    walls = []
    for i in range(repeat):
        for v in stats.values():
            v[:] = [0.0, 0]
        t0 = time.time()
        df = q.fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
        print(f"run {i}: wall={walls[-1]:.2f}s")
        for k in keys:
            s, n = stats[k]
            print(f"  {k:>16}: {s*1000:9.1f} ms over {n} calls")
        spark_s = stats["stage_write"][0]
        fs_only = (
            stats["publish_dir"][0] - spark_s + stats["committed"][0]
            + stats["write_atomic"][0] + stats["swap_dir"][0]
        )
        print(f"  stage writes (Spark jobs): {spark_s:.2f}s; pure-fs "
              f"commit/listing time: {fs_only*1000:.1f} ms; other "
              f"(folds/collects/planning): "
              f"{walls[-1] - spark_s - fs_only:.2f}s")


if __name__ == "__main__":
    main()
