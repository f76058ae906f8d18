"""Cascaded incremental view maintenance — an aggregate view maintained
over a JOIN view's change log (the two-stage dbt model DAG ``sources →
enriched join → grouped rollup``, run the way the reference platform's
managed Flink service runs a model chain: every stage is a continuously
maintained materialization and downstream stages consume the upstream
stage's CHANGE STREAM, never a recompute; see
``/root/reference/dbt/include/decodable/macros/adapters.sql`` — each model
is a pipeline over streams, and a model's source may be another model's
sink — and ``/root/reference/decodable/apply/handler.py:89-94`` for the
keyed change-stream contract the stages hand each other).

Why this composes without new state math: the join arm's view log
(``catalog.activate_pipeline_join_incremental``) is itself a keyed change
stream — one row per fact key carrying ``__seq`` (the total application
order) and ``__deleted`` (tombstones) — which is exactly the input shape
the aggregate arm (:mod:`.ivm_log`) maintains over. The downstream
aggregate therefore consumes view-log deltas with
:func:`.ivm_log.ivm_log_append`, keyed by the fact keys and ordered by
``__seq``; batching is free because aggregate maintenance only needs the
(old image, FINAL new image) pair per key — intermediate images telescope
away, so folding any suffix of the log to last-images and applying it once
equals applying every micro-batch sequentially.

Consumption protocol (the watermark dance):

- The downstream root records a consumed watermark ``W`` = the highest
  view ``__seq`` folded into its state. It is not a separate ledger: ``W``
  is recoverable from the downstream delta log itself (every downstream
  append is tagged with the max ``__seq`` it consumed, and compaction
  carries the max folded tag in the generation meta) plus the init floor
  file — so there is no second piece of state to keep transactional.
- One maintenance step reads the pending view rows (``__seq > W``) from
  the view log's delta files, reconstructs the upstream state AS OF ``W``
  (base ∪ delta rows with ``__seq ≤ W``, folded), and lands a single
  :func:`.ivm_log.ivm_log_append` tagged ``max __seq`` consumed.
- Replay converges: a crash after the downstream append and before
  anything else re-runs the step with the same pending set → the same
  integer tag → the append no-ops (pending-tag dedup, then ``max_tag``
  after a fold). A crash BEFORE the append re-runs it against unchanged
  state. Counter deltas are never applied twice.

Compaction coupling (the one cross-stage invariant): reconstructing
"as of ``W``" requires that the view log's BASE snapshot contain no row
with ``__seq > W`` — i.e. the view log must not be compacted past the
downstream watermark. The catalog's node runner
(``catalog.activate_project_incremental``) enforces the ordering (every
consumer step BEFORE its producer's compaction in the same activation);
:func:`pending_changes` independently verifies it
with a cheap ``max(__seq)`` probe of the base and raises
:class:`DownstreamLagError` instead of silently double- or under-counting
— the honest recovery is a downstream rebuild (drop the root; init folds
the current view). At 100 TB the probe is a parquet column-stats max on
the snapshot, and the reconstruction cost is bounded by the snapshot plus
the retained delta horizon — the same LSM read amplification every
merge-on-read consumer of the log already pays.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from dbt_decodable_spark.operators.ivm import AggViewSpec
from dbt_decodable_spark.operators.ivm_log import (
    _agg_root,
    _latest_gen,
    _pending,
    ivm_log_append,
    ivm_log_compact,
    ivm_log_init,
)
from dbt_decodable_spark.operators.versions import list_versions
from dbt_decodable_spark.streaming.changelog import (
    CompactionLockHeld,
    fold_last_image,
    list_deltas,
)

SEQ = "__seq"
DEL = "__deleted"
_FLOOR_FILE = "_dag_floor"


class DownstreamLagError(RuntimeError):
    """The upstream view log was compacted past the downstream watermark:
    rows this downstream never consumed were folded into the base snapshot,
    so the as-of-watermark upstream state is no longer reconstructible.
    Rebuild the downstream root (drop it and re-init from the current
    view)."""


def _delta_tag(path: str) -> int | None:
    """Integer tag of a ``delta-<seq>-<tag>`` directory, else None."""
    parts = os.path.basename(path).split("-", 2)
    if len(parts) == 3:
        try:
            return int(parts[2])
        except ValueError:
            return None
    return None


def _write_floor(root: str, floor: int) -> None:
    """Atomically advance the root's floor record (never backwards).

    The read/compare/replace runs under a short mkdir mutex (the same
    put-if-absent primitive the compaction lock uses, at the root itself):
    without it, two concurrent writers — e.g. a maintenance step racing a
    rebuild — can both read the same current floor and the SMALLER value
    can ``os.replace`` last, regressing the floor despite the documented
    monotonicity contract; a regressed floor makes
    :func:`downstream_watermark` under-report and the same seqs
    re-process (ADVICE r10). The lock is held for one stat+read+rename —
    microseconds — so waiters spin; a crashed holder's lock goes stale at
    60 s and is broken by the lock's own protocol."""
    import time

    from dbt_decodable_spark.streaming.changelog import _compaction_lock

    ffile = os.path.join(root, _FLOOR_FILE)
    while True:
        try:
            with _compaction_lock(root, stale_lock_seconds=60.0):
                cur = 0
                if os.path.exists(ffile):
                    with open(ffile) as fh:
                        cur = int(fh.read().strip() or 0)
                if floor <= cur:
                    return
                with open(ffile + ".tmp", "w") as fh:
                    fh.write(str(floor))
                os.replace(ffile + ".tmp", ffile)
                return
        except CompactionLockHeld:
            time.sleep(0.02)


def downstream_watermark(root: str) -> int:
    """Highest view ``__seq`` folded into the downstream state: the max of
    the init floor, the committed downstream delta tags, and the latest
    generation's ``max_tag``. Purely filesystem metadata — no data read."""
    floor = 0
    ffile = os.path.join(root, _FLOOR_FILE)
    if os.path.exists(ffile):
        with open(ffile) as fh:
            floor = int(fh.read().strip() or 0)
    agg_root = _agg_root(root)
    cands = [floor]
    if list_versions(agg_root):
        _, meta = _latest_gen(agg_root)
        if meta.get("max_tag") is not None:
            try:
                cands.append(int(meta["max_tag"]))
            except (TypeError, ValueError):
                pass
    for p in list_deltas(agg_root):
        t = _delta_tag(p)
        if t is not None:
            cands.append(t)
    return max(cands)


def _log_compaction_floor(view_log: str) -> int:
    """Highest Kafka-style compaction floor committed to a PURE-DELTA
    change log: ``changelog.compact_change_log`` tags its floor-image
    delta ``compacted-<floor>-<uuid>``, so the floor is recoverable from
    the retained dir names alone — no data read. 0 when never compacted.

    This is the deltas-only twin of the base ``max(__seq)`` probe: a
    consumer whose watermark sits BELOW the floor has lost the tombstones
    the fold dropped (the documented ``compact_change_log`` consumer
    contract) and must rebuild."""
    import re

    from dbt_decodable_spark.streaming.changelog import log_compaction_floor

    # the durable record first (compact_change_log writes it under the
    # compaction lock — survives the marker delta being folded away or
    # holding zero live rows, ADVICE r11), max-ed with the dir-name scan
    # for logs compacted before the record existed
    floor = log_compaction_floor(view_log)
    for p in list_deltas(view_log):
        m = re.search(r"compacted-(\d+)-", os.path.basename(p))
        if m:
            floor = max(floor, int(m.group(1)))
    return floor


def _base_max_seq(view_log: str) -> int | None:
    """Max ``__seq`` in the view base from parquet FOOTER statistics —
    O(#files) metadata reads, no data scan, so the per-step lag guard does
    not pay a column scan of the view (at 100 TB the footers are the only
    thing touched). Returns None when any file lacks ``__seq`` stats (the
    caller falls back to a Spark scan). Every writer of this layout
    (``write_hash_partitioned`` / ``merge_into_hash_partitioned``) emits
    Spark-written parquet, which always carries min/max column stats."""
    mx, ok = _walk_max_seq(view_log)
    return mx if ok else None


def _walk_max_seq(path: str) -> tuple[int | None, bool]:
    """(max ``__seq`` from parquet footer stats under ``path``, stats_ok).
    ``stats_ok`` False ⇔ some file lacks usable ``__seq`` min/max (caller
    must fall back to a Spark scan); a zero-row file (no row groups)
    contributes nothing but does not invalidate the walk."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked into the env
        return None, False
    mx: int | None = None
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(dirpath, fn)).metadata
            try:
                ci = md.schema.names.index(SEQ)
            except ValueError:
                return None, False
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None, False
                mx = st.max if mx is None else max(mx, st.max)
    return mx, True


def _deltas_max_seq(delta_paths: Sequence[str]) -> int | None:
    """Max ``__seq`` across the LISTED committed delta directories, from
    parquet footer statistics only (r14, guide §6 — metadata over data):
    replaces the per-step ``pending.agg(max(__seq))`` Spark job, which at
    100 TB scans every pending delta row to learn one integer the footers
    already carry. Operates on an explicit path list so the caller can pin
    ONE delta listing for both this probe and the fold input — computing it
    from a second listing would race a concurrent append (a delta landing
    between the listings would be folded into state but excluded from the
    watermark, and its seqs would re-apply on the next step). Returns None
    when any listed file lacks stats — callers fall back to the Spark
    aggregate over the same frame."""
    mx: int | None = None
    for p in delta_paths:
        m, ok = _walk_max_seq(p)
        if not ok:
            return None
        if m is not None:
            mx = m if mx is None else max(mx, m)
    return mx


def _has_parquet(path: str) -> bool:
    """Base-snapshot detector for :func:`_view_rows`: an existing dir with
    at least one parquet file. A bare ``isdir`` would misread a
    parquet-less debris dir (a tool's mkdir, a crashed writer's empty
    staging) as a base snapshot and crash the read with an
    unable-to-infer-schema error instead of falling through to the
    deltas-only path."""
    if not os.path.isdir(path):
        return False
    for _dirpath, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _view_rows(
    spark: SparkSession,
    view_log: str,
    deltas: Sequence[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(base rows, committed delta rows) of an upstream change log, both
    carrying ``__seq``/``__deleted``; the internal ``__bucket`` layout
    column is stripped. ``deltas`` pins an ALREADY-LISTED committed delta
    set so the caller can derive filesystem-metadata probes (watermarks,
    floors) from exactly the file set this read folds — a second listing
    would race a concurrent append (see :func:`_deltas_max_seq`).

    Two upstream shapes, auto-detected by the base directory's existence:

    - the join arm's view log — a hash-partitioned BASE snapshot at
      ``view_log`` plus committed deltas (the original 2-stage shape);
    - a PURE-DELTA change log (the shape a maintained rollup EMITS as
      ``out/`` — only ``<view_log>.__deltas__`` exists) — the depth-3+
      composition surface: a downstream aggregate consumes another
      maintained aggregate's change stream. The base is then an empty
      frame with the deltas' schema (the log's Kafka-style compaction
      keeps every retained row's ORIGINAL ``__seq``, so base-vs-delta is
      purely a storage split; the fold semantics are identical).
    """
    if deltas is None:
        deltas = list_deltas(view_log)
    if _has_parquet(view_log):
        base = spark.read.parquet(view_log)
        if "__bucket" in base.columns:
            base = base.drop("__bucket")
        if deltas:
            drows = spark.read.parquet(*deltas).select(*base.columns)
        else:
            drows = spark.createDataFrame([], base.schema)
        return base, drows
    if not deltas:
        from dbt_decodable_spark.streaming.changelog import _deltas_root

        if os.path.isdir(_deltas_root(view_log)):
            # the log EXISTED but retains zero committed deltas — the
            # compaction always leaves a schema-anchor marker, so this is
            # external sweeping / a pre-fix fully-tombstoned fold. The
            # schema is unknowable here; callers that can no-op instead
            # (a caught-up maintain_downstream) check before calling.
            raise FileNotFoundError(
                f"change log {view_log!r} exists but retains no committed "
                "delta (externally swept, or compacted to zero rows before "
                "the schema-anchor fix) — its schema is unrecoverable; "
                "re-emit from the upstream root"
            )
        raise FileNotFoundError(
            f"change log {view_log!r} has neither a base snapshot nor any "
            "committed delta — nothing was ever emitted"
        )
    drows = spark.read.parquet(*deltas)
    if "__bucket" in drows.columns:
        drows = drows.drop("__bucket")
    return spark.createDataFrame([], drows.schema), drows


def view_as_of(
    spark: SparkSession,
    view_log: str,
    keys: Sequence[str],
    watermark: int,
) -> DataFrame:
    """The join view's state as of ``watermark``: fold of the base snapshot
    plus every delta row with ``__seq ≤ watermark``, TOMBSTONES INCLUDED —
    the maintenance old-image lookup must see a key's tombstone so a stale
    replayed image older than the delete cannot win (``change_pairs``
    treats a missing key as "batch wins"). Callers must have verified the
    base holds no row past the watermark (:func:`maintain_downstream`
    raises :class:`DownstreamLagError` otherwise)."""
    base, drows = _view_rows(spark, view_log)
    rows = base.unionByName(drows.filter(F.col(SEQ) <= F.lit(watermark)))
    return fold_last_image(rows, list(keys), [F.col(SEQ)])


def init_view(
    spark: SparkSession, view_log: str, keys: Sequence[str]
) -> tuple[DataFrame, int]:
    """(folded current upstream state, consumed floor) — the ONE init read
    every log consumer (a downstream aggregate, a mid-graph join's fact
    side) starts from: base ∪ all committed deltas, tombstones included so
    the floor state matches what :func:`view_as_of` reconstructs.

    One listing feeds both the fold and the floor, so a delta landing after
    it is simply not read and is consumed by the next maintenance step. The
    fold is lazily checkpointed so the caller's first write materializes it
    once. The floor comes from parquet FOOTER statistics over exactly the
    listed files (metadata, not a column scan; the Spark aggregate is the
    fallback for stats-less files), max-ed with the log's durable
    compaction floor: the fold consumed the ENTIRE listed log, and a
    compaction fold keeps only live images, whose max seq sits BELOW the
    compaction floor when the newest folded batch only tombstoned groups —
    a floor from the retained rows alone would trip the consumer's own lag
    guard on its very next step."""
    dpaths = list_deltas(view_log)
    base, drows = _view_rows(spark, view_log, deltas=dpaths)
    snap = fold_last_image(
        base.unionByName(drows), list(keys), [F.col(SEQ)]
    ).localCheckpoint(eager=False)
    has_base = _has_parquet(view_log)
    fmax = _deltas_max_seq(dpaths)
    bmax = _base_max_seq(view_log) if has_base else None
    if (fmax is None and dpaths) or (bmax is None and has_base):
        floor_row = snap.agg(F.max(SEQ).alias("m")).collect()[0]
        floor = int(floor_row["m"]) if floor_row["m"] is not None else 0
    else:
        floor = max((int(v) for v in (fmax, bmax) if v is not None), default=0)
    return snap, max(floor, _log_compaction_floor(view_log))


def init_downstream(
    spark: SparkSession,
    root: str,
    view_log: str,
    keys: Sequence[str],
    spec: AggViewSpec,
    bucket_expr: str | None = None,
    n_buckets: int = 64,
) -> int:
    """Generation 0 of the downstream state from :func:`init_view`, with
    the consumed floor pinned first. Fully redo-safe — the caller gates on
    a marker written last and clears the root before re-running (no
    downstream delta can exist before the marker, so a re-init can never
    double-count)."""
    snap, floor = init_view(spark, view_log, keys)
    os.makedirs(root, exist_ok=True)
    _write_floor(root, floor)
    ivm_log_init(
        spark, root, snap, spec,
        delete_col=DEL, bucket_expr=bucket_expr, n_buckets=n_buckets,
    )
    return floor


def emit_floor_image(
    spark: SparkSession,
    root: str,
    spec: AggViewSpec,
    emit_log: str,
    seq: int,
    tag: str,
) -> None:
    """Seed an emitting root's change log with its state image at ``seq``:
    the log's first batch, so ``fold(out log)`` equals the rollup view from
    that floor onward."""
    from dbt_decodable_spark.operators.ivm_log import ivm_log_read
    from dbt_decodable_spark.streaming.changelog import append_delta

    img = (
        ivm_log_read(spark, root, spec)
        .withColumn(SEQ, F.lit(seq).cast("long"))
        .withColumn(DEL, F.lit(False))
    )
    append_delta(spark, emit_log, img, tag=tag)


def rebuild_downstream(
    spark: SparkSession,
    root: str,
    view_log: str,
    keys: Sequence[str],
    spec: AggViewSpec,
    bucket_expr: str | None = None,
    n_buckets: int = 64,
    emit_log: str | None = None,
) -> int:
    """The :class:`DownstreamLagError` recovery: drop the downstream root
    and re-initialize from the current view. O(|view|), not O(history) —
    the view log IS the upstream state, so nothing upstream re-runs.

    Pass the SAME ``bucket_expr``/``n_buckets`` the root was initialized
    with (a rebuild is not the place to silently change the state layout)
    and, for an emitting root, its ``emit_log``: the out log lives under
    the root and dies with it, so the rebuild re-seeds the new floor
    image — ``fold(out log) == the rollup view`` holds from the new floor
    onward, exactly the init contract. Omitting ``emit_log`` on an
    emitting root would leave a change log that silently lost every
    untouched group."""
    shutil.rmtree(root, ignore_errors=True)
    floor = init_downstream(
        spark, root, view_log, keys, spec, bucket_expr, n_buckets
    )
    if emit_log is not None:
        emit_floor_image(spark, root, spec, emit_log, floor, str(floor))
    return floor


def snapshot_slice(
    base: DataFrame,
    older: DataFrame,
    keys: Sequence[str],
    pending: DataFrame,
    broadcast_keys: bool = True,
) -> DataFrame:
    """The as-of-watermark upstream state RESTRICTED to the pending keys —
    all ``change_pairs`` ever reads from the snapshot side (it left-joins
    the batch against it; rows for untouched keys are dead weight). The
    restriction is a broadcast LEFT SEMI join probing the base scan
    map-side, so the per-step cost is one SCAN of the view base with NO
    shuffle of it (plan-pinned in ``tests/test_ivm_dag.py``); the last-image
    fold then runs on the batch-sized slice only. Without this, every
    downstream step would pay a full key-shuffle of the view to
    reconstruct as-of state it immediately discards — the difference
    between O(|changes|) and O(|view|) shuffle per step at 100 TB.

    ``broadcast_keys=False`` drops the broadcast hint for a backlog too
    large to ship to every executor (the semi join then shuffles both
    sides — still bounded by |view| + |backlog|, the general fallback)."""
    return fold_last_image(
        _slice_rows(base, older, keys, pending, broadcast_keys),
        list(keys),
        [F.col(SEQ)],
    )


def _slice_rows(
    base: DataFrame,
    older: DataFrame,
    keys: Sequence[str],
    pending: DataFrame,
    broadcast_keys: bool,
) -> DataFrame:
    """Pre-fold stage of :func:`snapshot_slice` — split out so the no-shuffle
    contract on the base scan is plan-pinnable on the real code path (the
    fold above it shuffles the batch-sized slice, which is expected)."""
    kdf = pending.select(*keys).distinct()
    probe = F.broadcast(kdf) if broadcast_keys else kdf
    return base.join(probe, on=list(keys), how="left_semi").unionByName(
        older.join(probe, on=list(keys), how="left_semi")
    )


def pending_changes(
    spark: SparkSession, root: str, view_log: str
) -> tuple[int, int, DataFrame | None, DataFrame | None]:
    """``(w, new_w, base, drows)`` for one consumer step over an upstream
    change log — the lag guard and the pending watermark every log consumer
    (a downstream aggregate, a mid-graph join's fact side) runs. ``w`` is
    the root's consumed watermark; ``new_w`` the max committed delta
    ``__seq`` (``== w`` when nothing is pending; ``base``/``drows`` are
    None when the log retains no delta at all).

    The guard raises :class:`DownstreamLagError` when the upstream was
    compacted past ``w``: a base row with ``__seq > w`` (the view-log
    shape), or a committed Kafka floor above ``w`` (the pure-delta shape —
    tombstones the consumer never saw were dropped by the fold). The
    pending max comes from parquet footer statistics over the SAME delta
    listing the fold reads (no Spark job, no delta-row scan at 100 TB); the
    Spark aggregate stays as the stats-less fallback."""
    w = downstream_watermark(root)
    hint = (
        f"delete the root {root!r} to re-initialize it from the current "
        "upstream state (operators.ivm_dag.rebuild_downstream rebuilds an "
        "aggregate root; consumers of its own change log rebuild with it)"
    )
    dpaths = list_deltas(view_log)
    if _has_parquet(view_log):
        base, drows = _view_rows(spark, view_log, deltas=dpaths)
        base_max = _base_max_seq(view_log)
        if base_max is None:
            # footer stats unavailable (exotic writer) — fall back to the
            # column scan; correctness first
            base_max = base.agg(F.max(SEQ).alias("m")).collect()[0]["m"]
        if base_max is not None and int(base_max) > w:
            raise DownstreamLagError(
                f"view log {view_log!r} base snapshot holds "
                f"__seq={base_max} > consumer watermark {w} — it was "
                f"compacted past this consumer; {hint}"
            )
    else:
        # the durable floor record survives zero retained deltas, so the
        # guard runs before the empty-log no-op below
        log_floor = _log_compaction_floor(view_log)
        if log_floor > w:
            raise DownstreamLagError(
                f"change log {view_log!r} was compacted to floor "
                f"{log_floor} > consumer watermark {w} — tombstones this "
                f"consumer never saw are gone; {hint}"
            )
        if not dpaths:
            from dbt_decodable_spark.streaming.changelog import _deltas_root

            if os.path.isdir(_deltas_root(view_log)):
                # the log exists (externally swept, or compacted to zero
                # rows before the schema-anchor fix): nothing is pending
                return w, w, None, None
        # raises for a log that never existed
        base, drows = _view_rows(spark, view_log, deltas=dpaths)
    fmax = _deltas_max_seq(dpaths)
    if fmax is None and dpaths:
        fmax = (
            drows.filter(F.col(SEQ) > F.lit(w))
            .agg(F.max(SEQ).alias("m"))
            .collect()[0]["m"]
        )
    new_w = w if fmax is None or int(fmax) <= w else int(fmax)
    return w, new_w, base, drows


def maintain_downstream(
    spark: SparkSession,
    root: str,
    view_log: str,
    keys: Sequence[str],
    spec: AggViewSpec,
    compact_every: int = 4,
    broadcast_keys: bool = True,
    emit_log: str | None = None,
) -> int:
    """One downstream maintenance step: consume every pending view change
    (``__seq`` past the consumed watermark, :func:`pending_changes`) into
    the downstream aggregate state, as ONE :func:`ivm_log_append` — correct
    for any batching because the fold-to-last-image inside ``change_pairs``
    telescopes intermediate images away, and the signed old/new
    contributions equal the sequential per-batch sum. The old-image lookup
    reads a pending-keys SLICE of the as-of state (:func:`snapshot_slice`),
    never the whole view. Returns the new watermark (unchanged when nothing
    is pending). Compaction of the DOWNSTREAM log runs on the aggregate
    arm's pending-delta trigger (``compact_every``)."""
    w, new_w, base, drows = pending_changes(spark, root, view_log)
    if new_w == w:
        return w
    pending = drows.filter(F.col(SEQ) > F.lit(w))
    snap_before = snapshot_slice(
        base, drows.filter(F.col(SEQ) <= F.lit(w)), keys, pending,
        broadcast_keys=broadcast_keys,
    )
    if emit_log is not None:
        # the downstream aggregate's OWN change stream (group-keyed
        # upserts/tombstones) so the DAG composes one level further —
        # emitted BEFORE the state append, from committed state + local
        # delta, so a crash in between replays to bit-identical changes
        # and the out-log append dedupes on the tag (the join arm's
        # view-delta-before-state-delta order, one stage down). FUSED
        # with the state append: one maintenance-shaped pass feeds both
        # (r12 — the emitting stages' per-batch cost, halved).
        from dbt_decodable_spark.operators.ivm_log import (
            ivm_log_append_with_changes,
        )

        appended = ivm_log_append_with_changes(
            spark, root, snap_before, pending,
            list(keys), [F.col(SEQ)], spec, seq=new_w,
            out_log=emit_log, tag=str(new_w),
        )
    else:
        appended = ivm_log_append(
            spark, root, snap_before, pending,
            list(keys), [F.col(SEQ)], spec, tag=str(new_w),
        )
    if not appended:
        # the slice folded to ZERO contributions (e.g. the join arm's
        # redundant tombstones for keys dead on both sides of a batch) —
        # no delta carries the tag, so the consumed seqs must be recorded
        # in the floor file or this same slice re-processes on every step
        # forever, and the stage-3 view-log compaction (delta-count
        # triggered) eventually folds the stuck seqs into the base —
        # a spurious DownstreamLagError and an O(|view|) rebuild for rows
        # that changed nothing
        _write_floor(root, new_w)
    agg_root = _agg_root(root)
    _, meta = _latest_gen(agg_root)
    if compact_every and len(_pending(agg_root, meta["watermark"])) >= (
        compact_every
    ):
        try:
            ivm_log_compact(spark, root, spec)
        except CompactionLockHeld:
            # another process is compacting (or a crashed one's lock is
            # not yet stale): skip the cycle, never stall the step — the
            # state append above already landed
            pass
    return new_w
