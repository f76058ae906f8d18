"""Incremental view maintenance (IVM) for GROUP BY aggregates over keyed
change streams.

The reference platform's pipelines are *continuously maintained* SQL
materializations: an aggregate model over a change stream stays current
without recomputing from scratch (the dbt adapter rejects dbt's own
``incremental`` materialization precisely because the platform maintains
everything continuously —
``/root/reference/dbt/include/decodable/macros/materializations/unsupported/incremental.sql``;
change-stream semantics are declared per ``decodable/client/schema.py:109-111``
with the last-after-image fold of ``dbt/adapters/decodable/handler.py:89-94``).

Spark-first re-expression: Structured Streaming covers append-mode windowed
aggregation, but a *keyed upsert/delete* stream feeding an arbitrary
``GROUP BY`` needs retraction arithmetic — when a key's row changes, its old
contribution must leave the aggregate and the new one enter, possibly in a
different group. This module implements counting IVM as pure DataFrame ops,
usable inside ``foreachBatch`` or standalone:

- ``count(*)`` / ``sum`` / ``avg`` are maintained by signed per-group deltas
  (multiplicity −1 for the replaced old image, +1 for the new image);
- ``min`` / ``max`` / ``count(distinct)`` are maintained through a *support
  table* per source column — ``(group, value) → multiplicity`` — and their
  results are MATERIALIZED into the aggregate table: each batch re-derives
  extremes for the touched groups only, from the support rows of those
  groups, never from the base snapshot. Reading the view is a projection.

Cost model per micro-batch (the 100 TB argument), with the snapshot bucketed
on the primary key and the state tables bucketed on their keys
(``operators/bucketing.py``):

- one LEFT join of the folded batch probing the snapshot — state side
  shuffle-free (bucketed scan satisfies the join distribution);
- one full-outer merge per state table — state side shuffle-free (agg
  bucketed on the group struct ``__g``; supports on the composite ``__k``);
- extreme re-derivation: a BROADCAST semi-join of the touched-group set
  (≤ |batch| groups) against the support table, then an aggregation whose
  shuffle moves only the touched groups' support rows;
- the patch of recomputed extremes back onto the aggregate is a broadcast
  left join (≤ |batch| rows).

Total per batch: O(|batch| + support rows of touched groups) shuffled,
independent of |snapshot| and |view|; a recompute is O(|snapshot|). The
state-side no-shuffle contract is plan-pinned in ``tests/test_ivm.py``.

Caveat (documented, not hidden): ``sum``/``avg`` over floating-point columns
re-associate differently than a recompute, so bit-equality holds for
integer/decimal columns only — the repo-wide exact-money policy
(``queries/money.py``) applies here too.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from dbt_decodable_spark.streaming.changelog import fold_last_image

GKEY = "__g"  # struct of the group columns: a single non-null join key whose
# struct equality is null-safe field-wise, so NULL groups join correctly AND
# the key buckets/co-partitions (a <=> join key would defeat bucket reuse)
SKEY = "__k"  # support key: struct(g: __g, v: value)


@dataclass(frozen=True)
class AggViewSpec:
    """A supported aggregate view shape: ``SELECT <groups>, <aggs> FROM t
    GROUP BY <groups>``. Each agg dict maps *output column name* → *source
    column name*; ``count_star`` is the output name for ``count(*)`` (or
    None). ``output_order`` pins the user-facing column order (defaults to
    groups, then aggs in declaration order). At least one group column is
    required (a global aggregate has no key to maintain by — wrap it in a
    constant group if needed)."""

    group_cols: tuple[str, ...]
    count_star: str | None = None
    sums: dict[str, str] = field(default_factory=dict)
    avgs: dict[str, str] = field(default_factory=dict)
    mins: dict[str, str] = field(default_factory=dict)
    maxs: dict[str, str] = field(default_factory=dict)
    count_distincts: dict[str, str] = field(default_factory=dict)
    output_order: tuple[str, ...] = ()
    # derived group columns (time-bucketed continuous aggregates etc.):
    # group name → SQL expression over the snapshot image's columns. The
    # name must also appear in group_cols. The expression MUST be a pure
    # deterministic function of the image (retraction recomputes the OLD
    # image's group — a nondeterministic expression silently corrupts the
    # view; the obvious offenders are rejected in _apply_group_exprs).
    group_exprs: dict[str, str] = field(default_factory=dict)

    def support_cols(self) -> list[str]:
        """Source columns that need a (group, value, multiplicity) support
        table: min/max (extreme re-derivation under deletes) and
        count(distinct) (0↔positive multiplicity transitions)."""
        seen: list[str] = []
        for d in (self.mins, self.maxs, self.count_distincts):
            for c in d.values():
                if c not in seen:
                    seen.append(c)
        return seen

    def delta_cols(self) -> list[str]:
        """Source columns maintained by signed sums in the agg state."""
        seen: list[str] = []
        for d in (self.sums, self.avgs):
            for c in d.values():
                if c not in seen:
                    seen.append(c)
        return seen

    def ext_cols(self, c: str) -> list[str]:
        """Materialized extreme/distinct state columns for source col ``c``."""
        cols = []
        if c in self.mins.values():
            cols.append(f"__min_{c}")
        if c in self.maxs.values():
            cols.append(f"__max_{c}")
        if c in self.count_distincts.values():
            cols.append(f"__cd_{c}")
        return cols

    def outputs(self) -> tuple[str, ...]:
        if self.output_order:
            return self.output_order
        cols = list(self.group_cols)
        if self.count_star:
            cols.append(self.count_star)
        for d in (self.sums, self.avgs, self.mins, self.maxs, self.count_distincts):
            cols.extend(d.keys())
        return tuple(cols)


@dataclass(frozen=True)
class IvmState:
    """Materialized maintenance state: the aggregate table (keyed by the
    group struct ``__g``, carrying counters AND materialized extremes) plus
    one support table per extreme/distinct source column (keyed by the
    composite struct ``__k``). Persist both bucketed on their key columns
    (``bucketing.materialize_bucketed``) to make every maintenance merge
    state-side shuffle-free."""

    agg: DataFrame
    supports: dict[str, DataFrame]


def _live(df: DataFrame, delete_col: str | None) -> DataFrame:
    if delete_col is None:
        return df
    return df.filter(~F.coalesce(F.col(delete_col), F.lit(False)))


def compute_agg_view(
    snapshot: DataFrame, spec: AggViewSpec, delete_col: str | None = None
) -> DataFrame:
    """Full recompute of the view from a snapshot — initialization and the
    ground truth the incremental path is tested against."""
    live = _apply_group_exprs(_live(snapshot, delete_col), spec)
    aggs: list[Column] = []
    if spec.count_star:
        aggs.append(F.count(F.lit(1)).alias(spec.count_star))
    for out, c in spec.sums.items():
        aggs.append(F.sum(c).alias(out))
    for out, c in spec.avgs.items():
        aggs.append(F.avg(c).alias(out))
    for out, c in spec.mins.items():
        aggs.append(F.min(c).alias(out))
    for out, c in spec.maxs.items():
        aggs.append(F.max(c).alias(out))
    for out, c in spec.count_distincts.items():
        aggs.append(F.count_distinct(F.col(c)).alias(out))
    if not aggs:
        raise ValueError("AggViewSpec declares no aggregates")
    return live.groupBy(*spec.group_cols).agg(*aggs).select(*spec.outputs())


def _sum0(c: str) -> Column:
    """Null-as-zero sum contribution (NULL-ness is tracked separately in the
    non-null counter so the read side can emit SQL's NULL sum-of-no-rows)."""
    return F.when(F.col(c).isNotNull(), F.col(c)).otherwise(F.lit(0))


def _gkey(spec: AggViewSpec) -> Column:
    if not spec.group_cols:
        raise ValueError("AggViewSpec needs at least one group column")
    return F.struct(*spec.group_cols).alias(GKEY)


_NONDETERMINISTIC = re.compile(
    r"\b(rand|randn|random|uuid|now|current_timestamp|current_date|"
    r"current_timezone|monotonically_increasing_id|spark_partition_id|"
    r"input_file_name)\s*\(",
    re.IGNORECASE,
)


def _apply_group_exprs(df: DataFrame, spec: AggViewSpec) -> DataFrame:
    """Attach derived group columns to an image frame. Applied identically
    to the snapshot (init/recompute) and to every old/new image in the
    retraction path, so both sides of an update land in the same group."""
    for name, expr in spec.group_exprs.items():
        if name not in spec.group_cols:
            raise ValueError(
                f"derived group {name!r} missing from group_cols {spec.group_cols}"
            )
        if name in df.columns:
            raise ValueError(
                f"derived group {name!r} collides with a snapshot column"
            )
        if _NONDETERMINISTIC.search(expr):
            raise ValueError(
                f"derived group expression {expr!r} is not a pure function "
                "of the image — retraction would recompute a different "
                "group for the old image"
            )
        df = df.withColumn(name, F.expr(expr))
    return df


def _ext_aggs(spec: AggViewSpec, c: str, val: Column) -> list[Column]:
    aggs: list[Column] = []
    if c in spec.mins.values():
        aggs.append(F.min(val).alias(f"__min_{c}"))
    if c in spec.maxs.values():
        aggs.append(F.max(val).alias(f"__max_{c}"))
    if c in spec.count_distincts.values():
        aggs.append(F.count_distinct(val).alias(f"__cd_{c}"))
    return aggs


def init_state(
    snapshot: DataFrame, spec: AggViewSpec, delete_col: str | None = None
) -> IvmState:
    """Build maintenance state by one full pass over the snapshot."""
    live = _apply_group_exprs(_live(snapshot, delete_col), spec).withColumn(
        GKEY, _gkey(spec)
    )
    aggs: list[Column] = [F.count(F.lit(1)).alias("__cnt")]
    for c in spec.delta_cols():
        aggs.append(F.coalesce(F.sum(_sum0(c)), F.lit(0)).alias(f"__sum_{c}"))
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
    for c in spec.support_cols():
        aggs.extend(_ext_aggs(spec, c, F.col(c)))
    agg = live.groupBy(GKEY).agg(*aggs)
    # count(distinct) of an all-NULL group is 0, not NULL; min/max stay NULL
    for out_c in spec.count_distincts.values():
        agg = agg.withColumn(
            f"__cd_{out_c}", F.coalesce(F.col(f"__cd_{out_c}"), F.lit(0))
        )
    supports = {
        c: (
            live.filter(F.col(c).isNotNull())
            .groupBy(
                F.struct(
                    F.col(GKEY).alias("g"), F.col(c).alias("v")
                ).alias(SKEY)
            )
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        for c in spec.support_cols()
    }
    return IvmState(agg=agg, supports=supports)


def change_pairs(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column | str],
    prune_target: bool = True,
) -> DataFrame:
    """Per touched primary key, the (old image, winning new image) pair.

    Left join of the folded batch against the snapshot. With
    ``prune_target`` (default — r12, the merge-on-read slope fix) the
    snapshot side is first restricted to the batch's keys by a BROADCAST
    left-semi probe, so the state side is SCANNED map-side and never
    shuffled: without it, the left join plans as a sort-merge join that
    re-shuffles O(|state|) on every micro-batch — the measured
    super-linear step slope at 20x state (SCALING.md r11/r12). The
    restriction is exact (the left join can only ever match batch keys).
    Pass ``prune_target=False`` for a batch too large to broadcast its
    key set (bulk backfill — the general shuffle fallback).

    Winner follows the same order-tuple rule as the MERGE: ties go to the
    batch; a batch row older than the snapshot row is a no-op
    (``__changed`` false). Primary keys are non-null by the module
    contract (``changelog.py``), so a plain key-equi join is exact.

    Output: key cols, ``__old`` struct (null when the key is new),
    ``__new`` struct (the post-merge image), ``__changed`` boolean.
    """
    cols = list(target.columns)
    ordc = [F.col(c) if isinstance(c, str) else c for c in order]
    folded = fold_last_image(changes, keys, order).select(*cols)
    if prune_target:
        target = target.join(
            F.broadcast(folded.select(*keys).distinct()),
            on=list(keys),
            how="left_semi",
        )
    b = folded.select(
        *keys,
        F.struct(*ordc).alias("__ord_b"),
        F.struct(*cols).alias("__row_b"),
    )
    t = target.select(
        *keys,
        F.struct(*ordc).alias("__ord_t"),
        F.struct(*cols).alias("__row_t"),
    )
    j = b.join(t, on=list(keys), how="left")
    batch_wins = F.col("__ord_t").isNull() | (F.col("__ord_b") >= F.col("__ord_t"))
    return j.select(
        *keys,
        F.col("__row_t").alias("__old"),
        F.when(batch_wins, F.col("__row_b")).otherwise(F.col("__row_t")).alias("__new"),
        batch_wins.alias("__changed"),
    )


def _contributions(
    pairs: DataFrame,
    snapshot_cols: Sequence[str],
    spec: AggViewSpec,
    delete_col: str | None,
) -> DataFrame:
    """Signed row multiset: the replaced old images at multiplicity −1, the
    applied new images at +1, each tagged with its group struct ``__g``.
    Tombstoned images contribute nothing; unchanged keys (stale batch rows)
    contribute nothing."""

    def alive(side: str) -> Column:
        col = F.col(side)
        live = col.isNotNull()
        if delete_col is not None:
            live = live & ~F.coalesce(col.getField(delete_col), F.lit(False))
        return live

    changed = pairs.filter(F.col("__changed"))
    rem = (
        changed.filter(alive("__old"))
        .select([F.col("__old").getField(c).alias(c) for c in snapshot_cols])
        .withColumn("__mult", F.lit(-1))
    )
    add = (
        changed.filter(alive("__new"))
        .select([F.col("__new").getField(c).alias(c) for c in snapshot_cols])
        .withColumn("__mult", F.lit(1))
    )
    return _apply_group_exprs(rem.unionByName(add), spec).withColumn(
        GKEY, _gkey(spec)
    )


def _counter_delta(contrib: DataFrame, spec: AggViewSpec) -> DataFrame:
    """Signed counter deltas per touched group — the one place the
    count/sum/non-null arithmetic lives. The in-memory maintain path and
    the log path (``ivm_log_append``, whose state delta and emitted post
    image both derive from this one frame) MUST aggregate identically or
    state and emitted changes silently diverge; they all call this."""
    delta_aggs: list[Column] = [F.sum("__mult").alias("__cnt")]
    for c in spec.delta_cols():
        delta_aggs.append(F.sum(F.col("__mult") * _sum0(c)).alias(f"__sum_{c}"))
        delta_aggs.append(
            F.sum(
                F.when(F.col(c).isNotNull(), F.col("__mult")).otherwise(F.lit(0))
            ).alias(f"__nn_{c}")
        )
    return contrib.groupBy(GKEY).agg(*delta_aggs)


def _support_delta(contrib: DataFrame, c: str) -> DataFrame:
    """One support column's count-delta for a batch: (group, value) → Σ__mult,
    keyed by the composite ``__k`` struct. Shared by the same callers as
    :func:`_counter_delta`, for the same reason."""
    return (
        contrib.filter(F.col(c).isNotNull())
        .groupBy(
            F.struct(F.col(GKEY).alias("g"), F.col(c).alias("v")).alias(SKEY)
        )
        .agg(F.sum("__mult").alias("__cnt"))
    )


def _merge_counted(
    state: DataFrame,
    delta: DataFrame,
    on_cols: list[str],
    counter_cols: Sequence[str],
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Full-outer merge of signed counters on the (non-null struct) key;
    rows whose primary counter (first of ``counter_cols``) reaches zero
    leave the state — an emptied group/value disappears exactly like SQL's.
    ``carry_cols`` pass through from the state side (NULL for new keys)."""
    s, d = state.alias("__s"), delta.alias("__d")
    j = s.join(d, on=on_cols, how="full_outer")  # USING-join: keys coalesced
    out_cols: list[Column] = [F.col(c) for c in on_cols]
    for c in counter_cols:
        out_cols.append(
            (F.coalesce(s[c], F.lit(0)) + F.coalesce(d[c], F.lit(0))).alias(c)
        )
    for c in carry_cols:
        out_cols.append(s[c].alias(c))
    merged = j.select(*out_cols)
    return merged.filter(F.col(counter_cols[0]) != 0)


def maintain(
    state: IvmState,
    snapshot_before: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column | str],
    spec: AggViewSpec,
    delete_col: str | None = None,
) -> IvmState:
    """Advance the maintenance state by one micro-batch of keyed changes.

    ``snapshot_before`` is the keyed snapshot the batch merges into (at most
    one row per key, tombstones carried with their order columns — the
    ``merge_changes_ordered``/``merge_changes_keyed`` shape); the caller
    advances it separately via the MERGE of its choice and feeds the merged
    snapshot to the next ``maintain`` call. Convergence under arbitrary
    micro-batch splits/reorders follows from the winner rule being the same
    associative fold the MERGE uses (hypothesis-tested). The touched-group
    set and the recomputed extremes are hinted as broadcast sides (both
    are ≤ |batch| groups)."""
    snapshot_cols = list(snapshot_before.columns)
    pairs = change_pairs(snapshot_before, changes, keys, order)
    # the contributions subplan embeds the snapshot-probe LEFT join — the
    # expensive step of the batch — and is consumed by the counter delta,
    # every support delta and the touched set; Spark does not dedupe
    # common subplans, so without the lazy checkpoint the probe re-runs
    # 2+k times inside the one returned plan (the log paths persist
    # contrib for exactly this reason)
    contrib = _contributions(pairs, snapshot_cols, spec, delete_col).localCheckpoint(
        eager=False
    )

    # 1. counter deltas → merged aggregate (extremes carried, patched below)
    agg_delta = _counter_delta(contrib, spec)
    counter_cols = ["__cnt"]
    for c in spec.delta_cols():
        counter_cols += [f"__sum_{c}", f"__nn_{c}"]
    carry = [e for c in spec.support_cols() for e in spec.ext_cols(c)]
    new_agg = _merge_counted(state.agg, agg_delta, [GKEY], counter_cols, carry)

    # 2. support merges (state-side shuffle-free on the composite key)
    new_supports: dict[str, DataFrame] = {}
    for c in spec.support_cols():
        new_supports[c] = _merge_counted(
            state.supports[c], _support_delta(contrib, c), [SKEY], ["__cnt"]
        )

    # 3. re-derive extremes for the touched groups only and patch them in.
    # The semi-join probe and the patch side are both bounded by the batch's
    # group count; the aggregation shuffles only the touched groups' support
    # rows — never the untouched 100 TB tail.
    touched = contrib.select(GKEY).distinct()
    if spec.support_cols():
        ext: DataFrame | None = None
        for c in spec.support_cols():
            sup = new_supports[c]
            probe = F.broadcast(touched)
            slice_c = sup.join(
                probe,
                on=sup[SKEY].getField("g") == probe[GKEY],
                how="left_semi",
            )
            part = slice_c.groupBy(
                F.col(SKEY).getField("g").alias(GKEY)
            ).agg(*_ext_aggs(spec, c, F.col(SKEY).getField("v")))
            ext = part if ext is None else ext.join(part, on=[GKEY], how="full_outer")
        marked = touched.withColumn("__touched", F.lit(True))
        patch = marked.join(ext, on=[GKEY], how="left")
        a, p = new_agg.alias("__a"), F.broadcast(patch).alias("__p")
        j = a.join(p, on=[GKEY], how="left")
        out_cols: list[Column] = [F.col(GKEY)] + [
            a[c].alias(c) for c in counter_cols
        ]
        for c in spec.support_cols():
            for e in spec.ext_cols(c):
                patched = F.coalesce(p[e], F.lit(0)) if e.startswith("__cd_") else p[e]
                out_cols.append(
                    F.when(F.coalesce(p["__touched"], F.lit(False)), patched)
                    .otherwise(a[e])
                    .alias(e)
                )
        new_agg = j.select(*out_cols)
    return IvmState(agg=new_agg, supports=new_supports)


def project_view(agg: DataFrame, spec: AggViewSpec) -> DataFrame:
    """The ONE user-facing output contract over an aggregate-state frame
    (grouping fields out of the GKEY struct; __nn-gated sum/avg NULL
    semantics; count_distinct coalesced to 0) — shared by the batch arm
    (:func:`read_view`) and the log arm (``ivm_log.ivm_log_read``) so the
    two can never silently diverge."""
    final: list[Column] = [
        F.col(GKEY).getField(g).alias(g) for g in spec.group_cols
    ]
    if spec.count_star:
        final.append(F.col("__cnt").alias(spec.count_star))
    for out_name, c in spec.sums.items():
        final.append(
            F.when(F.col(f"__nn_{c}") > 0, F.col(f"__sum_{c}")).alias(out_name)
        )
    for out_name, c in spec.avgs.items():
        final.append(
            F.when(
                F.col(f"__nn_{c}") > 0, F.col(f"__sum_{c}") / F.col(f"__nn_{c}")
            ).alias(out_name)
        )
    for out_name, c in spec.mins.items():
        final.append(F.col(f"__min_{c}").alias(out_name))
    for out_name, c in spec.maxs.items():
        final.append(F.col(f"__max_{c}").alias(out_name))
    for out_name, c in spec.count_distincts.items():
        final.append(F.coalesce(F.col(f"__cd_{c}"), F.lit(0)).alias(out_name))
    return agg.select(*final).select(*spec.outputs())


def read_view(state: IvmState, spec: AggViewSpec) -> DataFrame:
    """User-facing view from the maintenance state: a pure projection of the
    aggregate table (extremes are materialized at maintenance time), so a
    100 TB view reads at scan speed with no joins."""
    return project_view(state.agg, spec)


def check_invariants(state: IvmState, spec: AggViewSpec) -> list[str]:
    """Structural invariants the maintenance arithmetic guarantees; a
    violation means images were fed that never matched the snapshot (e.g.
    maintain() called with the wrong snapshot_before). Test/debug helper —
    runs actions, not for hot paths."""
    problems: list[str] = []
    if state.agg.filter(F.col("__cnt") <= 0).limit(1).count() > 0:
        problems.append("agg row with non-positive __cnt")
    for c in spec.delta_cols():
        if state.agg.filter(F.col(f"__nn_{c}") < 0).limit(1).count() > 0:
            problems.append(f"negative non-null counter __nn_{c}")
        if (
            state.agg.filter(F.col(f"__nn_{c}") > F.col("__cnt")).limit(1).count()
            > 0
        ):
            problems.append(f"__nn_{c} exceeds __cnt")
    for c, sup in state.supports.items():
        if sup.filter(F.col("__cnt") <= 0).limit(1).count() > 0:
            problems.append(f"support[{c}] row with non-positive __cnt")
        if sup.filter(F.col(SKEY).getField("v").isNull()).limit(1).count() > 0:
            problems.append(f"support[{c}] row with NULL value")
    return problems


_AGG_ITEM = re.compile(
    r"""^(?:
        (?P<cstar>count\(\s*\*\s*\))
      | (?P<cd>count\(\s*distinct\s+(?P<cdcol>[A-Za-z_][A-Za-z_0-9]*)\s*\))
      | (?P<fn>sum|avg|min|max)\(\s*(?P<col>[A-Za-z_][A-Za-z_0-9]*)\s*\)
      | (?P<plain>[A-Za-z_][A-Za-z_0-9]*)
    )\s*(?:as\s+(?P<alias>[A-Za-z_][A-Za-z_0-9]*))?$""",
    re.IGNORECASE | re.VERBOSE,
)


def _split_items(items: str) -> list[str]:
    """Split a SELECT list on top-level commas (parens and single-quoted
    strings respected), so ``date_trunc('day', ts) AS day`` stays one item."""
    out, depth, quote, cur = [], 0, False, []
    for ch in items:
        if quote:
            cur.append(ch)
            if ch == "'":
                quote = False
            continue
        if ch == "'":
            quote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
            continue
        cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [s for s in out if s]


_AGG_FN_IN_EXPR = re.compile(
    r"\b(sum|avg|min|max|count)\s*\(", re.IGNORECASE
)
_EXPR_ALIAS = re.compile(
    r"^(?P<expr>.+?)\s+as\s+(?P<alias>[A-Za-z_][A-Za-z_0-9]*)$",
    re.IGNORECASE | re.DOTALL,
)


def agg_spec_from_sql(sql: str) -> tuple[AggViewSpec, str]:
    """Parse the supported view shape — ``SELECT <items> FROM <table> GROUP
    BY <cols>`` with items drawn from plain group columns, DERIVED group
    expressions (``date_trunc('day', ts) AS day`` — any deterministic
    scalar expression aliased to a GROUP BY name), ``count(*)``,
    ``sum/avg/min/max(col)`` and ``count(distinct col)``, each optionally
    aliased — into an :class:`AggViewSpec` plus the source table name.
    Anything outside the shape (WHERE, HAVING, joins, aggregate
    expressions) raises: this is the reference-idiom SQL front door for
    pipelines whose maintenance we can prove, not a general SQL parser."""
    m = re.match(
        r"^\s*select\s+(?P<items>.*?)\s+from\s+(?P<tbl>[A-Za-z_][\w.]*)\s+"
        r"group\s+by\s+(?P<groups>[\w\s,]+?)\s*;?\s*$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(
            "unsupported view shape: need SELECT <items> FROM <table> GROUP BY <cols>"
        )
    groups = tuple(g.strip() for g in m.group("groups").split(","))
    count_star = None
    sums: dict[str, str] = {}
    avgs: dict[str, str] = {}
    mins: dict[str, str] = {}
    maxs: dict[str, str] = {}
    cds: dict[str, str] = {}
    group_exprs: dict[str, str] = {}
    order: list[str] = []
    for item in _split_items(m.group("items")):
        im = _AGG_ITEM.match(item)
        if not im:
            em = _EXPR_ALIAS.match(item)
            if em and em.group("alias") in groups:
                expr = em.group("expr").strip()
                if _AGG_FN_IN_EXPR.search(expr):
                    raise ValueError(
                        f"unsupported aggregate expression: {item!r} — only "
                        "bare sum/avg/min/max/count(distinct) over a column "
                        "are maintainable"
                    )
                group_exprs[em.group("alias")] = expr
                order.append(em.group("alias"))
                continue
            raise ValueError(f"unsupported select item: {item!r}")
        alias = im.group("alias")
        if im.group("plain"):
            col = im.group("plain")
            if alias and alias != col:
                raise ValueError(f"group column {col!r} cannot be aliased")
            if col not in groups:
                raise ValueError(f"non-aggregated column {col!r} not in GROUP BY")
            order.append(col)
        elif im.group("cstar"):
            count_star = alias or "count_star"
            order.append(count_star)
        elif im.group("cd"):
            out = alias or f"count_distinct_{im.group('cdcol')}"
            cds[out] = im.group("cdcol")
            order.append(out)
        else:
            fn = im.group("fn").lower()
            col = im.group("col")
            out = alias or f"{fn}_{col}"
            {"sum": sums, "avg": avgs, "min": mins, "max": maxs}[fn][out] = col
            order.append(out)
    dup = sorted({o for o in order if order.count(o) > 1})
    if dup:
        # two aggregates aliased to one name would silently drop the
        # first (dict overwrite) while output_order keeps both slots —
        # the front door's job is rejecting what it cannot prove
        raise ValueError(f"duplicate output name(s) in SELECT: {dup}")
    spec = AggViewSpec(
        group_cols=groups,
        count_star=count_star,
        sums=sums,
        avgs=avgs,
        mins=mins,
        maxs=maxs,
        count_distincts=cds,
        output_order=tuple(order),
        group_exprs=group_exprs,
    )
    for g in groups:
        if g not in order:
            raise ValueError(f"GROUP BY column {g!r} missing from SELECT items")
    return spec, m.group("tbl")
