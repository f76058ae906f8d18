"""Merge-on-read persistence for incremental view maintenance.

``operators/ivm.py`` maintains a GROUP BY materialization with O(|batch|)
SHUFFLE — but rewriting the state tables per micro-batch still costs
O(|state|) write I/O, and even a shuffle-free bucketed merge SCANS every
state file (measured in SCALING.md's IVM probe). This module removes both:
a maintenance step only APPENDS — one small counter-delta file per state
table per batch — and readers fold base + pending deltas. The durable
O(|state|) work happens only at compaction, amortized over many batches.
This is the LSM shape every lakehouse streaming-aggregate engine uses, and
the continuous-materialization behavior of the reference platform's
pipelines (``dbt/adapters/decodable/handler.py:89-94`` change-stream fold;
the adapter's rejected ``incremental`` materialization) re-expressed over
Spark + parquet.

Layout under one view root::

    root/agg/v=NNNNNNNN/          aggregate-state generations (atomic,
                                  _SUCCESS-gated, partitioned by __gbucket,
                                  carrying _ivm_meta.json)
    root/agg.__deltas__/delta-*   counter/extreme delta files
    root/sup_<col>/v=.../         support-table generations (same shape)
    root/sup_<col>.__deltas__/

Why counter deltas need machinery last-image deltas don't: the CDC delta
log (``streaming/changelog.py``) is safe to re-fold — winners are decided
by the data's order tuple, so folding a delta twice is idempotent. Counter
deltas are NOT idempotent: folding one twice double-counts. Three
mechanisms restore the same safety:

- **Watermarked generations.** Each generation's ``_ivm_meta.json`` records
  the highest delta sequence folded into it; readers use the latest
  generation plus only deltas with seq > watermark. Compaction publishes
  the new generation ATOMICALLY (stage → rename, the ``versions.py``
  protocol) before vacuuming — a crash between the two leaves stale deltas
  that every reader skips by watermark, so re-folding can never happen.
- **Sequence anchoring.** ``append_delta`` numbers deltas max(existing)+1,
  so vacuuming everything would reset sequences below the watermark and
  readers would skip live data. Compaction therefore always KEEPS the
  highest-sequence delta as a floor (vacuumed by a later compaction once a
  higher one exists).
- **Exactly-once appends.** The batch tag (``foreachBatch`` batch_id)
  dedupes replays at two levels: ``append_delta``'s committed-tag check
  while the delta is pending, and the generation's ``max_tag`` after it was
  compacted away. Tags must be monotonically increasing integers per view —
  exactly what Structured Streaming provides; with non-integer tags only
  the first level applies (documented, not hidden).

Ordering contract (same reason the counter arithmetic exists at all): call
:func:`ivm_log_append` with the snapshot image the batch is about to merge
into, BEFORE advancing the snapshot. On crash-replay the append no-ops by
tag and the snapshot merge is idempotent by its own contract; the reverse
order would replay the batch against an already-merged snapshot and
compute zero contributions, silently losing the batch from the view.

One maintenance pass: :func:`ivm_log_append` is the whole per-batch step —
change pairs, contributions, extremes, counter delta — and, given an
``out_log``, also emits the view's own group-keyed change stream from the
same frames. Every durable write follows the pass's computation, in the
order out log → support logs → agg log, so a crash between any two
replays against unchanged committed state and the landed writes dedupe on
the tag.

Concurrent readers vs vacuum: a reader resolves a generation and lazily
opens delta files later, so deltas (and old generations) are reclaimed only
past a retention horizon (``vacuum_horizon_seconds`` / ``keep_gens``) —
the same snapshot-isolation-by-retention stance as ``vacuum_versions``.

Single maintainer per view: counter deltas are computed against
snapshot-before and support-before, so appends for one view must be
sequential (a streaming query's foreachBatch is). The underlying commit
protocol still tolerates a concurrent duplicate replay (tags).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from dbt_decodable_spark import commit
from dbt_decodable_spark.operators.ivm import (
    GKEY,
    SKEY,
    AggViewSpec,
    _contributions,
    _counter_delta,
    _ext_aggs,
    _support_delta,
    change_pairs,
    init_state,
    project_view,
)
from dbt_decodable_spark.operators.versions import (
    _publish,
    _vdir,
    list_versions,
)
from dbt_decodable_spark.streaming.changelog import (
    append_delta,
    int_tag,
    list_deltas,
    parse_delta_name,
)

META_NAME = "_ivm_meta.json"
BUCKET = "__gbucket"


# ------------------------------------------------------------ table paths


def _agg_root(root: str) -> str:
    return os.path.join(root.rstrip("/"), "agg")


def _sup_root(root: str, c: str) -> str:
    return os.path.join(root.rstrip("/"), f"sup_{c}")


def _counter_cols(spec: AggViewSpec) -> list[str]:
    cols = ["__cnt"]
    for c in spec.delta_cols():
        cols += [f"__sum_{c}", f"__nn_{c}"]
    return cols


def _ext_state_cols(spec: AggViewSpec) -> list[str]:
    return [e for c in spec.support_cols() for e in spec.ext_cols(c)]


def _with_bucket(df: DataFrame, meta: dict, key: str) -> DataFrame:
    """Attach the partition-directory column. ``bucket_expr`` (stored in the
    generation meta, SQL over the group struct ``__g``) is the same layout
    lever as ``write_hash_partitioned``'s ``partition_expr``: the default
    hash form gives uniform directory sizes but scatters correlated groups
    across every directory, while a range/entity-aligned expression (e.g.
    ``__g.tenant`` or ``__g.day div 7``) keeps a locality-bearing batch's
    touched groups in a few directories — measured in SCALING.md's IVM
    probe. Must be a pure function of ``__g`` and is fixed at init."""
    expr = F.expr(meta["bucket_expr"])
    if key == GKEY:
        return df.withColumn(BUCKET, expr)
    return (
        df.withColumn(GKEY, F.col(key).getField("g"))
        .withColumn(BUCKET, expr)
        .drop(GKEY)
    )


# ------------------------------------------------- generation commit/read


def _publish_gen(df: DataFrame, table_root: str, meta: dict) -> int:
    """Generation commit (the ``versions.publish_version`` protocol) with
    two IVM extras: the data is directory-partitioned by ``__gbucket``
    (append-time slice pruning) and ``_ivm_meta.json`` is written INTO the
    stage so meta commits atomically with the data."""
    table_root = table_root.rstrip("/")

    def write(stage: str) -> None:
        df.repartition(BUCKET).write.partitionBy(BUCKET).parquet(stage)
        # a zero-row partitioned write leaves no part files and hence no
        # parquet schema (the empty-view init case) — persist the schema in
        # the meta document so readers can materialize the empty table
        with open(os.path.join(stage, META_NAME), "w") as fh:
            json.dump({**meta, "schema": df.schema.json()}, fh)

    return _publish(table_root, write)


def _latest_gen(table_root: str) -> tuple[str, dict]:
    versions = list_versions(table_root)
    if not versions:
        raise FileNotFoundError(f"no committed generations under {table_root}")
    gdir = _vdir(table_root, versions[-1])
    with open(os.path.join(gdir, META_NAME)) as fh:
        return gdir, json.load(fh)


def _read_gen(spark: SparkSession, gdir: str, meta: dict) -> DataFrame:
    """Read a generation; a zero-row one (no partition dirs, hence no
    parquet footers) materializes as an empty DataFrame from the schema
    stored in its meta document."""
    if any(d.startswith(f"{BUCKET}=") for d in os.listdir(gdir)):
        return spark.read.parquet(gdir)
    from pyspark.sql.types import StructType

    return spark.createDataFrame([], StructType.fromJson(json.loads(meta["schema"])))


def _pending(table_root: str, watermark: int) -> list[tuple[int, str]]:
    """Committed deltas newer than the generation's watermark, seq order."""
    return [
        (s, p)
        for p in list_deltas(table_root)
        if (s := parse_delta_name(p)[0]) > watermark
    ]


def _fold(
    spark: SparkSession,
    table_root: str,
    key: str,
    counter_cols: Sequence[str],
    ext_cols: Sequence[str],
    base_filter: Column | None = None,
) -> DataFrame:
    """base(latest generation) ∪ deltas(seq > watermark) folded to one row
    per key: counters sum; extremes last-writer-wins by delta sequence
    (every delta row carries ABSOLUTE extremes for its group, recomputed at
    append time). Rows whose primary counter folds to ≤0 disappear.
    ``base_filter`` prunes the generation read (partition directories)."""
    gdir, meta = _latest_gen(table_root)
    base = _read_gen(spark, gdir, meta)
    if base_filter is not None:
        base = base.filter(base_filter)
    cols = [key, *counter_cols, *ext_cols]
    view = base.select(*cols).withColumn("__eseq", F.lit(-1).cast("long"))
    for seq, p in _pending(table_root, meta["watermark"]):
        d = spark.read.parquet(p).select(*cols)
        view = view.unionByName(d.withColumn("__eseq", F.lit(seq).cast("long")))
    aggs: list[Column] = [F.sum(c).alias(c) for c in counter_cols]
    if ext_cols:
        aggs.append(
            F.max_by(F.struct(*ext_cols), F.col("__eseq")).alias("__ext")
        )
    folded = view.groupBy(key).agg(*aggs).filter(F.col(counter_cols[0]) > 0)
    if ext_cols:
        folded = folded.select(
            key, *counter_cols, *[F.col(f"__ext.{e}").alias(e) for e in ext_cols]
        )
    return folded


def _collect_touched_buckets(touched: DataFrame, meta: dict) -> list:
    """The touched groups' distinct partition-bucket values — ONE Spark
    action that doubles as the batch emptiness probe (an empty list ⇔ no
    touched group ⇔ zero contributions), so callers that need the bucket
    prune don't pay a separate ``isEmpty`` job (r12 — the emitting
    stages' fixed per-batch action count)."""
    return [
        r[0]
        for r in touched.select(F.expr(meta["bucket_expr"]).alias("b"))
        .distinct()
        .collect()
    ]


def _bucket_filter(tbuckets: list) -> Column:
    """Partition-directory prune for the touched groups' state slice —
    shared by the state-append and emission paths (the same fix must land
    on both). NULL-safe: a custom ``bucket_expr`` over a nullable group
    field buckets the NULL group into a NULL partition value, and plain
    ``isin()`` never matches NULL (SQL IN semantics) — without the isNull
    arm the group's compacted base rows would silently drop out of the
    extreme recompute."""
    non_null = [b for b in tbuckets if b is not None]
    bf = F.col(BUCKET).isin(non_null) if non_null else F.lit(False)
    if len(non_null) < len(tbuckets):
        bf = bf | F.col(BUCKET).isNull()
    return bf


def _tag_folded(meta: dict, tag) -> bool:
    """True when an integer ``tag`` is at or below the generation's
    ``max_tag`` — the batch was already folded into that generation (the
    replay level that outlives compaction). Non-integer tags never match:
    only the pending-delta dedup applies to them."""
    t, folded = int_tag(tag), int_tag(meta["max_tag"])
    return t is not None and folded is not None and t <= folded


def _tag_in_log(table_root: str, tag) -> bool:
    """True when ``table_root`` already carries this batch's delta — folded
    into the latest generation (:func:`_tag_folded`) or still pending as a
    committed ``delta-<seq>-<tag>`` directory. :func:`_ext_recompute` uses
    this to recognize a crash replay whose support deltas already landed:
    ``_fold`` reads the landed delta, so splicing the batch's support
    contributions in AGAIN would double them — a doubled ``-1`` can drive a
    (group, value) support count from net 1 to 0 and drop a still-present
    value from the extreme recompute."""
    if tag is None:
        return False
    if _tag_folded(_latest_gen(table_root)[1], tag):
        return True
    return any(parse_delta_name(p)[1] == str(tag) for p in list_deltas(table_root))


def _ext_recompute(
    spark: SparkSession,
    root: str,
    spec: AggViewSpec,
    contrib: DataFrame,
    touched: DataFrame,
    bf: Column,
    tag,
) -> DataFrame:
    """Absolute extremes for the touched groups after the batch: the
    committed support fold (touched-bucket pruned) spliced with the batch's
    unwritten support delta — unioning is equivalent to folding after the
    support append because dropped zero-count rows are the additive
    identity, and it lets the emission run before any state write. A
    column whose log already holds the batch's tag (crash replay — see
    :func:`_tag_in_log`) is not spliced: the fold covers it."""
    ext: DataFrame | None = None
    for c in spec.support_cols():
        sup = _fold(
            spark, _sup_root(root, c), SKEY, ["__cnt"], [], base_filter=bf
        )
        if not _tag_in_log(_sup_root(root, c), tag):
            sup = (
                sup.unionByName(_support_delta(contrib, c))
                .groupBy(SKEY)
                .agg(F.sum("__cnt").alias("__cnt"))
                .filter(F.col("__cnt") > 0)
            )
        probe = F.broadcast(touched)
        slice_c = sup.join(
            probe, on=sup[SKEY].getField("g") == probe[GKEY], how="left_semi"
        )
        part = slice_c.groupBy(
            F.col(SKEY).getField("g").alias(GKEY)
        ).agg(*_ext_aggs(spec, c, F.col(SKEY).getField("v")))
        ext = part if ext is None else ext.join(part, on=[GKEY], how="full_outer")
    return ext


def _with_extremes(
    counters: DataFrame, ext: DataFrame | None, spec: AggViewSpec
) -> DataFrame:
    """Per-group counter rows with the recomputed absolute extremes riding
    on the same row (a count-distinct of a group with no live value is 0,
    not NULL) — the agg delta's and the emitted post image's shape."""
    if ext is None:
        return counters
    a, e = counters.alias("__a"), F.broadcast(ext).alias("__e")
    sel: list[Column] = [a[GKEY]] + [a[c].alias(c) for c in _counter_cols(spec)]
    for x in _ext_state_cols(spec):
        col = F.coalesce(e[x], F.lit(0)) if x.startswith("__cd_") else e[x]
        sel.append(col.alias(x))
    return a.join(e, on=[GKEY], how="left").select(*sel)


def _emission(
    spark: SparkSession,
    agg_root: str,
    spec: AggViewSpec,
    touched: DataFrame,
    bf: Column,
    agg_delta: DataFrame,
    ext: DataFrame | None,
    seq: int,
) -> DataFrame:
    """The group-level change rows one batch induces on the view: per
    touched group the post-batch view row (``__deleted`` false), or a
    tombstone with NULL aggregate outputs when the group's live count
    reaches zero. The post image is the committed pre-image (pruned fold)
    plus the signed counter delta, with the recomputed extremes — nothing
    is read back after a write, so it is computed before any state
    append."""
    counter_cols = _counter_cols(spec)
    pre = _fold(
        spark, agg_root, GKEY, counter_cols, [], base_filter=bf
    ).join(F.broadcast(touched), on=[GKEY], how="left_semi")
    d, p = agg_delta.alias("__d"), F.broadcast(pre).alias("__p")
    post = _with_extremes(
        d.join(p, on=[GKEY], how="left").select(
            d[GKEY],
            *[(F.coalesce(p[c], F.lit(0)) + d[c]).alias(c) for c in counter_cols],
        ),
        ext,
        spec,
    )
    out_cols = list(spec.outputs())
    img = project_view(post.filter(F.col("__cnt") > 0), spec).withColumn(
        "__deleted", F.lit(False)
    )
    img_types = {f.name: f.dataType for f in img.schema.fields}
    gone = post.filter(F.col("__cnt") <= 0).select(
        *[F.col(GKEY).getField(g).alias(g) for g in spec.group_cols],
        *[
            F.lit(None).cast(img_types[c]).alias(c)
            for c in out_cols
            if c not in spec.group_cols
        ],
    ).select(*out_cols).withColumn("__deleted", F.lit(True))
    return (
        img.unionByName(gone)
        .withColumn("__seq", F.lit(seq).cast("long"))
        .select(*out_cols, "__seq", "__deleted")
    )


# ------------------------------------------------------------- operations


def ivm_log_init(
    spark: SparkSession,
    root: str,
    snapshot: DataFrame,
    spec: AggViewSpec,
    delete_col: str | None = None,
    n_buckets: int = 64,
    bucket_expr: str | None = None,
) -> None:
    """One full pass over the snapshot → generation 0 of every state table.
    ``bucket_expr`` picks the state-partitioning layout (see
    :func:`_with_bucket`); the default is a uniform hash over ``n_buckets``
    directories. Refuses a root that already holds committed generations:
    re-initializing would publish a fresh ``watermark=-1`` generation whose
    state already includes the retained deltas' effects, and readers would
    then re-apply those deltas on top — double-counted counters (the
    catalog's node runner clears a root without its init marker before
    re-initializing it)."""
    if list_versions(_agg_root(root)):
        raise RuntimeError(
            f"{root!r} already has committed generations — re-initializing "
            "would reset the watermark and re-apply retained deltas "
            "(double-counted counters); remove the root to rebuild"
        )
    state = init_state(snapshot, spec, delete_col)
    meta = {
        "watermark": -1,
        "max_tag": None,
        "bucket_expr": bucket_expr
        or f"pmod(xxhash64({GKEY}), {int(n_buckets)})",
        "delete_col": delete_col,
    }
    _publish_gen(_with_bucket(state.agg, meta, GKEY), _agg_root(root), meta)
    for c, sup in state.supports.items():
        _publish_gen(_with_bucket(sup, meta, SKEY), _sup_root(root, c), meta)


def ivm_log_append(
    spark: SparkSession,
    root: str,
    snapshot_before: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column | str],
    spec: AggViewSpec,
    tag: str | None = None,
    out_log: str | None = None,
    seq: int | None = None,
) -> bool:
    """Land one micro-batch's maintenance as delta appends — O(|batch| +
    touched groups' support slice) work, no state rewrite. Returns False
    for a recognized replay or a batch with no contribution (nothing
    appended). MUST be called with the snapshot image the batch merges
    into, BEFORE the snapshot advances (see the module ordering contract).

    ``out_log`` also emits the view's OWN group-keyed change stream into
    that log (:func:`_emission`, ``__seq`` = ``seq``) — the
    retraction-bearing output that lets another maintained stage consume
    this view, as a GROUP BY pipeline's sink is itself a change stream
    keyed by the group (``decodable/client/schema.py:109-111``).

    One pass: change pairs and contributions once, then the extremes
    (committed support + the batch's unwritten support delta), the
    counter delta, the emission, and the durable writes in the order
    out log → support logs → agg log, each tagged with ``tag``. A crash
    anywhere replays against unchanged committed state: the emission
    recomputes bit-identical rows and its append dedupes on the tag,
    landed support deltas dedupe (pending) or are skipped (folded into a
    generation), and the agg append proceeds. A replay of a batch already
    folded into the agg generation returns False without re-emitting — its
    emission landed first."""
    if out_log is not None and seq is None:
        raise ValueError("out_log needs the emitted __seq (seq=)")
    agg_root = _agg_root(root)
    _, meta = _latest_gen(agg_root)
    if _tag_folded(meta, tag):
        return False  # replay of a batch already folded into a generation

    pairs = change_pairs(snapshot_before, changes, keys, order, prune_target=True)
    contrib = _contributions(
        pairs, list(snapshot_before.columns), spec, meta["delete_col"]
    ).persist()
    try:
        touched = contrib.select(GKEY).distinct()
        # the emptiness probe: when the extremes or the emission consume
        # the touched buckets, their collect is the probe (one action
        # serves both); a counter-only, non-emitting spec keeps the plain
        # isEmpty
        bf: Column | None = None
        if spec.support_cols() or out_log is not None:
            tbuckets = _collect_touched_buckets(touched, meta)
            if not tbuckets:
                return False
            bf = _bucket_filter(tbuckets)
        elif contrib.isEmpty():
            return False

        ext = (
            _ext_recompute(spark, root, spec, contrib, touched, bf, tag)
            if spec.support_cols()
            else None
        )
        agg_delta = _counter_delta(contrib, spec)
        if out_log is not None:
            append_delta(
                spark, out_log,
                _emission(spark, agg_root, spec, touched, bf, agg_delta, ext, seq),
                tag=tag,
            )
        # support deltas before the agg delta. Each table checks its OWN
        # generation's max_tag: after a crash between the support and agg
        # appends, a compaction may fold the support deltas away (their
        # pending-tag dedup with them) while the agg-level check above
        # still passes — without this guard the replay would re-land the
        # folded support rows and double-count multiplicities
        for c in spec.support_cols():
            if not _tag_folded(_latest_gen(_sup_root(root, c))[1], tag):
                append_delta(
                    spark, _sup_root(root, c), _support_delta(contrib, c), tag=tag
                )
        agg_delta = _with_extremes(agg_delta, ext, spec)
        return append_delta(spark, agg_root, agg_delta, tag=tag) is not None
    finally:
        contrib.unpersist(False)


def ivm_log_read(spark: SparkSession, root: str, spec: AggViewSpec) -> DataFrame:
    """The continuously-maintained view: fold the aggregate table's latest
    generation with its pending deltas and project the user-facing columns
    (same output contract as ``ivm.read_view``)."""
    folded = _fold(
        spark, _agg_root(root), GKEY, _counter_cols(spec), _ext_state_cols(spec)
    )
    return project_view(folded, spec)


def maintain_view_batch(
    root: str,
    snapshot_path: str,
    keys: Sequence[str],
    order: Sequence[Column | str],
    spec: AggViewSpec,
    compact_every: int = 4,
    vacuum_horizon_seconds: float = 600.0,
    snapshot_n_buckets: int = 64,
    snapshot_partition_expr: Column | None = None,
    emit_log: str | None = None,
):
    """Structured-Streaming front door: the ``foreachBatch`` handler that
    keeps a GROUP BY view of a CDC stream continuously maintained — run it
    as ``stream_df.writeStream.foreachBatch(maintain_view_batch(...))``,
    picking trigger and checkpoint. Per micro-batch the handler

    1. maintains the view FIRST (:func:`ivm_log_append`, tagged with the
       batch id — the module's ordering contract), reading the pre-merge
       snapshot as the snapshot table's own merge-on-read view
       (``read_merged``, tombstones included so order comparisons see
       them);
    2. lands the batch in the snapshot's delta log (``append_delta``, same
       tag — both sides replay exactly-once after a crash anywhere
       between);
    3. compacts whichever log crossed ``compact_every`` pending deltas,
       skipping (never stalling) when another process holds that table's
       compaction lock.

    The snapshot must already be laid out by ``write_hash_partitioned``
    and the view initialized by :func:`ivm_log_init` (one-time setup, like
    every managed table here).

    This is the reference's pipeline model made literal: a SQL aggregate
    over a change stream that stays current forever without a recompute
    (``handler.py:89-94`` change-stream fold; the platform behavior behind
    the dbt adapter's rejected ``incremental`` materialization).

    ``emit_log`` maintains the rollup's OWN group-keyed change log
    alongside the state (``ivm_log_append``'s ``out_log``) — the
    composition surface that lets ANOTHER maintained stage consume this
    rollup (the reference allows any model's sink to source the next
    model, ``impl.py:419-447``). Emitted ``__seq`` is ``batch_id + 1`` so
    the init image's floor seq 0 sorts strictly below every batch."""
    from dbt_decodable_spark.streaming.changelog import (
        compact_and_vacuum,
        read_merged,
    )

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        snapshot_before = read_merged(
            sp, snapshot_path, keys, order, include_tombstones=True,
            prune_fold=True,
        ).select(*batch_df.columns)
        ivm_log_append(
            sp, root, snapshot_before, batch_df, keys, order, spec,
            tag=str(batch_id), out_log=emit_log, seq=batch_id + 1,
        )
        append_delta(sp, snapshot_path, batch_df, tag=str(batch_id))
        # count PENDING (seq > watermark) deltas, not every committed file:
        # folded deltas are retained for vacuum_horizon_seconds plus the
        # permanent sequence-floor delta, so a list_deltas() threshold
        # stays crossed after the first compaction and every subsequent
        # batch would pay the full O(|state|) generation publish
        _, ameta = _latest_gen(_agg_root(root))
        if len(_pending(_agg_root(root), ameta["watermark"])) >= compact_every:
            try:
                ivm_log_compact(
                    sp, root, spec,
                    vacuum_horizon_seconds=vacuum_horizon_seconds,
                )
            except commit.LockHeld:
                pass
        if len(list_deltas(snapshot_path)) >= compact_every:
            try:
                compact_and_vacuum(
                    sp, snapshot_path, keys, order,
                    n_buckets=snapshot_n_buckets,
                    partition_expr=snapshot_partition_expr,
                )
            except commit.LockHeld:
                pass

    return _handle


def ivm_log_compact(
    spark: SparkSession,
    root: str,
    spec: AggViewSpec,
    keep_gens: int = 2,
    vacuum_horizon_seconds: float = 600.0,
) -> dict:
    """Fold each state table's pending deltas into a new generation, then
    reclaim folded deltas and old generations past the retention horizon.
    The one amortized O(|state|) step; appends stay O(|batch|). Takes the
    view's compaction lock (raises ``commit.LockHeld`` if another
    process is compacting — callers skip the cycle, never stall a batch).

    Crash-safety by ordering: the new generation (data + watermark meta)
    commits atomically FIRST; vacuum runs after. A crash in between leaves
    deltas every reader skips by watermark — re-folding (the counter
    double-count hazard) is impossible. The highest-sequence delta is kept
    as the sequence floor (see module docstring)."""
    agg_root = _agg_root(root)
    tables = [(agg_root, GKEY, _counter_cols(spec), _ext_state_cols(spec))] + [
        (_sup_root(root, c), SKEY, ["__cnt"], []) for c in spec.support_cols()
    ]
    out: dict = {"tables": {}, "vacuumed": []}
    with commit.lock(agg_root + ".__deltas__"):
        for table_root, key, counters, exts in tables:
            _, tmeta = _latest_gen(table_root)
            pend = _pending(table_root, tmeta["watermark"])
            if pend:
                max_seq = max(s for s, _ in pend)
                tags = [int_tag(parse_delta_name(p)[1]) for _, p in pend]
                new_tag = max(
                    [t for t in [tmeta["max_tag"], *tags] if t is not None],
                    default=None,
                )
                folded = _fold(spark, table_root, key, counters, exts)
                gen = _publish_gen(
                    _with_bucket(folded, tmeta, key),
                    table_root,
                    {**tmeta, "watermark": max_seq, "max_tag": new_tag},
                )
                out["tables"][os.path.basename(table_root)] = gen
                watermark = max_seq
            else:
                out["tables"][os.path.basename(table_root)] = None
                watermark = tmeta["watermark"]
            # reclaim — runs even when nothing was folded, so leftovers from
            # a crash between a previous publish and its vacuum are swept:
            # folded deltas older than the horizon (never the overall
            # max-sequence one — the sequence floor) and generations beyond
            # keep_gens (same horizon)
            now = time.time()
            all_deltas = list_deltas(table_root)
            seq_of = {p: parse_delta_name(p)[0] for p in all_deltas}
            floor = max(all_deltas, key=seq_of.get, default=None)
            for p in all_deltas:
                if (
                    p != floor
                    and seq_of[p] <= watermark
                    and now - os.path.getmtime(p) > vacuum_horizon_seconds
                ):
                    shutil.rmtree(p, ignore_errors=True)
                    out["vacuumed"].append(p)
            gens = list_versions(table_root)
            for g in gens[:-keep_gens] if keep_gens > 0 else []:
                gdir = _vdir(table_root, g)
                try:
                    if now - os.path.getmtime(gdir) > vacuum_horizon_seconds:
                        shutil.rmtree(gdir, ignore_errors=True)
                        out["vacuumed"].append(gdir)
                except OSError:
                    pass
    return out
