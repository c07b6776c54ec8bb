"""Incremental materialized-view maintenance (delta apply).

A warehouse MV over an append-heavy fact table must not be rebuilt from
scratch per batch: at 100 TB the base scan dwarfs any delta. For
DISTRIBUTIVE aggregates (COUNT, SUM — and anything derivable from them:
AVG = SUM/COUNT, ratios, rates) the view state is a partial-aggregate
table, and applying a change batch is pure aggregate algebra:

    MV' = re-agg( MV  UNION ALL  signed-partial-agg(delta) )

where deletes contribute with weight -1 and inserts with +1 (the classic
"delta rule" of incremental view maintenance — inserts/deletes as signed
multiset changes; see Gupta & Mumick, "Maintenance of Materialized Views:
Problems, Techniques, and Applications", IEEE DE Bulletin 1995 — public
literature, re-expressed on the DataFrame API).

Scale shape: ONE shuffle keyed on the view grain, sized |MV| + |delta
partials| — never the base table. Store the MV bucketed by the grain keys
and the union re-agg co-partitions with zero extra exchange on the MV
side; the delta side map-side pre-aggregates to one partial row per
touched group. Groups whose count reaches zero are dropped (the view
never carries tombstones). MIN/MAX are NOT maintainable this way under
deletes (not invertible) — ``mv_apply_delta`` rejects them;
``mv_apply_delta_minmax`` maintains them via targeted re-aggregation of
only the affected groups instead. JOIN views over a static dimension
compose for free: delta(A JOIN B) = deltaA JOIN B, so join the change
batch to the broadcast dim and fold with ``mv_apply_delta``
(op_mv_join_agg in queries_etl); dim-side changes are the symmetric
A JOIN deltaB term — ``mv_dim_delta`` builds that signed fact-level
delta with the fact scan pruned to the changed dim keys, and for
distributive aggregates it folds through ``mv_apply_delta`` with no
re-aggregation at all (MIN/MAX views would still need the
``mv_apply_delta_minmax`` affected-group recompute). A streaming twin
folds signed-delta micro-batches into a published state sink
(streaming/mv.py).

Reference semantics twin: the reference keeps summary tables current with
INSERT ... ON CONFLICT DO UPDATE accumulation (TablesCreated-Imported.sql
upsert idiom); this is the same contract expressed as distributed
aggregate algebra instead of row-at-a-time conflict handlers.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fence

#: partial-state column suffixes: every measure m is carried as m (the sum)
#: plus the shared group row count __mv_cnt
_CNT = "__mv_cnt"


def _balanced_or(terms: list) -> "F.Column":
    """OR of ``terms`` as a BALANCED tree (log depth): a reduce-built
    left-deep Or chain overflows the JVM analyzer stack past a few
    hundred terms (the dedup store probe hit it at 656), and the literal
    key filter here can carry up to ``max_pruned_groups`` terms."""
    while len(terms) > 1:
        it = iter(terms)
        terms = [a | b for a, b in zip(it, it)] + (
            [terms[-1]] if len(terms) % 2 else []
        )
    return terms[0]


def mv_build(base: DataFrame, keys: list[str], sums: dict[str, str]) -> DataFrame:
    """Materialize the partial-aggregate state of a SUM/COUNT view.

    ``sums`` maps output column name -> source column; the state carries
    each as SUM(source) plus one shared COUNT(*) per group (``__mv_cnt``),
    from which AVG-style readouts derive at query time.
    """
    return base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(_CNT),
        *[F.sum(src).alias(dst) for dst, src in sums.items()],
    )


def mv_apply_delta(
    mv: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sums: dict[str, str],
    op_col: str = "__op",
) -> DataFrame:
    """Apply a signed change batch to a ``mv_build`` state table.

    ``delta`` rows are BASE-table rows plus ``op_col`` = +1 (insert) or
    -1 (delete of a previously-inserted row); the caller guarantees
    deletes match rows actually present (the usual CDC contract). Returns
    the new state table with empty groups dropped — exactly
    ``mv_build(base_after_changes)`` (asserted by the oracle and pytest).
    """
    if op_col in (set(keys) | set(sums)):
        raise ValueError(f"mv: op column {op_col!r} collides with a view column")
    signed = delta.groupBy(*keys).agg(
        F.sum(F.col(op_col)).cast("long").alias(_CNT),
        *[
            F.sum(F.col(src) * F.col(op_col)).alias(dst)
            for dst, src in sums.items()
        ],
    )
    # align the delta partials to the MV state dtypes (decimal widening from
    # the signed product would otherwise make the union ambiguous); a delta
    # partial is bounded by the group's base-side aggregate, so the narrow
    # cast cannot overflow under the CDC contract above
    mv_types = dict(mv.dtypes)
    signed = signed.select(
        *keys, _CNT, *[F.col(d).cast(mv_types[d]).alias(d) for d in sums]
    )
    merged = (
        mv.unionByName(signed)
        .groupBy(*keys)
        .agg(
            F.sum(_CNT).cast("long").alias(_CNT),
            # cast the re-aggregated sums back to the MV dtypes too (ADVICE
            # r6): SUM over decimal widens p -> p+10 per apply, so without
            # this each apply drifts the schema until DECIMAL(38) — a
            # persisted MV table would hit write-time schema drift. The
            # narrow cast is safe for the same reason as the delta-side
            # cast: MV' values are aggregates of post-change base rows.
            *[F.sum(dst).cast(mv_types[dst]).alias(dst) for dst in sums],
        )
    )
    return merged.filter(F.col(_CNT) > 0)


def mv_build_minmax(
    base: DataFrame,
    keys: list[str],
    mins: dict[str, str],
    maxs: dict[str, str],
) -> DataFrame:
    """Materialize a MIN/MAX view state: keys, ``__mv_cnt``, then one
    MIN(source) per ``mins`` entry and one MAX(source) per ``maxs`` entry
    (both map output column name -> source column)."""
    return base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(_CNT),
        *[F.min(src).alias(dst) for dst, src in mins.items()],
        *[F.max(src).alias(dst) for dst, src in maxs.items()],
    )


def mv_apply_delta_minmax(
    mv: DataFrame,
    delta: DataFrame,
    base_after: DataFrame,
    keys: list[str],
    mins: dict[str, str],
    maxs: dict[str, str],
    op_col: str = "__op",
    max_pruned_groups: int = 1000,
) -> DataFrame:
    """Apply a signed change batch to a ``mv_build_minmax`` state table.

    MIN/MAX are NOT invertible under deletes (``mv_apply_delta`` rejects
    them), but they ARE maintainable with the standard warehouse answer:
    re-aggregate ONLY the groups a delete might have invalidated, against
    the post-change base, and merge every other group algebraically
    (Gupta & Mumick's "self-maintainability" boundary — when it fails,
    fall back to a TARGETED base recompute, never a full rebuild):

    - inserts are always algebraic: min' = LEAST(min, min(inserted)),
      max' = GREATEST(max, max(inserted)), cnt' = cnt + n_inserted;
    - a delete only threatens a group's MIN if the deleted value ties the
      current MIN (<= used for safety), symmetrically for MAX; such
      "affected" groups are recomputed from ``base_after`` — the base
      AFTER the batch is applied, which production maintains anyway —
      restricted to exactly those groups;
    - groups whose count reaches zero drop (no tombstones).

    Scale shape: the algebraic arm is one shuffle sized |MV| + |delta
    partials| (same as ``mv_apply_delta``); the recompute arm scans the
    base pruned to the affected groups — when the affected key set is
    metadata-sized (<= ``max_pruned_groups``, the common case: only ties
    with the current extreme qualify) it is collected and inlined as a
    literal key filter, so a base table partitioned/bucketed/z-ordered by
    the view grain prunes at the scan (the same static-pruning lever as
    dedup's ``minhash_store_probe``); past the cap it degrades to a
    broadcast LEFT SEMI join — correct, just without static pruning.

    ``delta`` rows follow the ``mv_apply_delta`` CDC contract: base-table
    rows plus ``op_col`` = +1 / -1, deletes matching rows present in the
    pre-batch base. Result == ``mv_build_minmax(base_after)`` exactly
    (the oracle and pytest assert it).
    """
    if op_col in (set(keys) | set(mins) | set(maxs)):
        raise ValueError(f"mv: op column {op_col!r} collides with a view column")
    overlap = set(mins) & set(maxs)
    if overlap:
        raise ValueError(f"mv: min/max output names collide: {sorted(overlap)}")
    mv_types = dict(mv.dtypes)
    op = F.col(op_col)
    partials = delta.groupBy(*keys).agg(
        F.sum(op).cast("long").alias("__d_cnt"),
        *[
            F.min(F.when(op == 1, F.col(src))).alias(f"__ins_{dst}")
            for dst, src in mins.items()
        ],
        *[
            F.min(F.when(op == -1, F.col(src))).alias(f"__del_{dst}")
            for dst, src in mins.items()
        ],
        *[
            F.max(F.when(op == 1, F.col(src))).alias(f"__ins_{dst}")
            for dst, src in maxs.items()
        ],
        *[
            F.max(F.when(op == -1, F.col(src))).alias(f"__del_{dst}")
            for dst, src in maxs.items()
        ],
    )
    m = mv.alias("m")
    d = partials.alias("d")
    cond = functools.reduce(
        lambda a, b: a & b, [F.col(f"m.{k}").eqNullSafe(F.col(f"d.{k}")) for k in keys]
    )
    joined = m.join(d, cond, "full_outer")
    # a delete threatens MIN iff it can reach the current minimum (ties
    # included); NULL-safe: no deletes / no MV row -> not affected
    threat = [
        F.coalesce(F.col(f"__del_{dst}") <= F.col(f"m.{dst}"), F.lit(False))
        for dst in mins
    ] + [
        F.coalesce(F.col(f"__del_{dst}") >= F.col(f"m.{dst}"), F.lit(False))
        for dst in maxs
    ]
    affected_col = functools.reduce(lambda a, b: a | b, threat, F.lit(False))
    keyed = joined.select(
        *[F.coalesce(F.col(f"d.{k}"), F.col(f"m.{k}")).alias(k) for k in keys],
        (F.coalesce(F.col(f"m.{_CNT}"), F.lit(0)) + F.coalesce(F.col("__d_cnt"), F.lit(0)))
        .cast("long")
        .alias(_CNT),
        *[
            F.least(F.col(f"m.{dst}"), F.col(f"__ins_{dst}"))
            .cast(mv_types[dst])
            .alias(dst)
            for dst in mins
        ],
        *[
            F.greatest(F.col(f"m.{dst}"), F.col(f"__ins_{dst}"))
            .cast(mv_types[dst])
            .alias(dst)
            for dst in maxs
        ],
        affected_col.alias("__affected"),
    )
    # group-grain pin: `keyed` (the |MV|+|delta| full-outer join) feeds the
    # affected-keys collect below AND the algebraic arm of the returned
    # plan — without it the dominant shuffle join is computed twice (three
    # times on the semi-arm path). Evictable: loss degrades to recompute.
    keyed = fence.persist(keyed)
    algebraic = keyed.filter(~F.col("__affected") & (F.col(_CNT) > 0)).drop("__affected")

    affected_keys = keyed.filter(F.col("__affected")).select(*keys)
    # metadata-sized affected set -> literal key filter (static pruning on a
    # grain-partitioned base); past the cap -> broadcast semi join
    rows = affected_keys.limit(max_pruned_groups + 1).collect()
    if not rows:
        return algebraic
    pruned = base_after
    if len(rows) <= max_pruned_groups:
        terms = [
            functools.reduce(
                lambda a, b: a & b,
                [F.col(k).eqNullSafe(F.lit(r[k])) for k in keys],
            )
            for r in rows
        ]
        pruned = base_after.filter(_balanced_or(terms))
    else:
        # null-safe semi join: plain `on=keys` equality would silently drop
        # an affected group whose grouping key contains NULL (the literal
        # arm above uses eqNullSafe for the same reason)
        ak = affected_keys.select(*[F.col(k).alias(f"__ak_{k}") for k in keys])
        cond = functools.reduce(
            lambda a, b: a & b,
            [F.col(k).eqNullSafe(F.col(f"__ak_{k}")) for k in keys],
        )
        pruned = base_after.join(F.broadcast(ak), cond, "left_semi")
    recomputed = pruned.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(_CNT),
        *[F.min(src).cast(mv_types[dst]).alias(dst) for dst, src in mins.items()],
        *[F.max(src).cast(mv_types[dst]).alias(dst) for dst, src in maxs.items()],
    )
    return algebraic.unionByName(recomputed)


def mv_dim_delta(
    fact: DataFrame,
    dim_delta: DataFrame,
    on: str,
    op_col: str = "__op",
    max_pruned_keys: int = 1000,
) -> DataFrame:
    """The dim-side term of JOIN-view maintenance: turn a DIMENSION change
    batch into a signed FACT-level delta ready for ``mv_apply_delta``.

    For a view agg(A JOIN B) the bilinear rule's second term is
    A JOIN deltaB: a deleted dim row removes its matching facts from the
    view (op -1), an inserted one adds them (+1), and an UPDATE is the
    delete+insert pair — which is exactly how it moves fact rows between
    groups keyed on dim attributes. ``dim_delta`` rows are B-table rows
    plus ``op_col`` (+1/-1, the ``mv_apply_delta`` CDC contract);
    ``fact`` must be the fact table AS OF before fact-side changes in
    the same batch are applied (apply fact deltas separately with the
    first term).

    Scale shape: the fact scan is PRUNED to the changed dim keys — a
    metadata-sized change set (<= ``max_pruned_keys``) inlines as one
    flat ``isin`` (static pruning / row-group skipping on a fact table
    partitioned or z-ordered by the key); larger sets degrade to a
    broadcast semi join. The join itself broadcasts the change batch.
    The fact table is never fully rescanned, and the folded result is
    |touched facts| before ``mv_apply_delta`` collapses it to partials.
    """
    if op_col not in dim_delta.columns:
        raise ValueError(f"mv: dim_delta lacks op column {op_col!r}")
    # the final inner join would silently produce ambiguous duplicate
    # columns for any shared non-join name (audit/ts columns are common),
    # failing only later in the downstream groupBy — reject it here where
    # the cause is nameable (ADVICE r7)
    overlap = (set(fact.columns) & set(dim_delta.columns)) - {on}
    if overlap:
        raise ValueError(
            "mv: fact and dim_delta share non-join columns "
            f"{sorted(overlap)}; project dim_delta to {on!r}, {op_col!r} "
            "and the dim attributes the view needs before calling"
        )
    keys = [r[0] for r in dim_delta.select(on).distinct().limit(max_pruned_keys + 1).collect()]
    pruned = fact
    if 0 < len(keys) <= max_pruned_keys:
        # plain (non-null-safe) isin is CORRECT here, unlike
        # mv_apply_delta_minmax's eqNullSafe arms: a NULL dim key can never
        # match any fact row in the final inner equi-join below either, so
        # dropping it from the prune loses nothing — the two arms and the
        # join agree that NULL-keyed dim rows contribute no fact delta.
        # (minmax prunes by GROUP key, where NULL is a real group.)
        pruned = fact.filter(F.col(on).isin(keys))
    else:
        pruned = fact.join(
            F.broadcast(dim_delta.select(on).distinct()), on=on, how="left_semi"
        )
    return pruned.join(F.broadcast(dim_delta), on=on)
