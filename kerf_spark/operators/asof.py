"""As-of and interval (window) joins — the tick-database core operators.

The reference's whole temporal type system (enums.h:166-185) exists to
serve queries like "for each trade, the most recent quote at or before
it"; kerf1 ships ``asof`` for this and the reference plants the hooks
(SQL ``on`` token lexer.h:104, SORT_INDEX enums.h:265).  Spark has no
built-in as-of join, so this is genuinely custom (SURVEY.md §2.3, §4).

Implementation: the **union-tag + forward-fill** plan.

    1. tag left rows (is_left=1) and right rows (is_left=0), union
    2. single shuffle: partition by the ``by`` keys
    3. single sort within partitions: (ts, is_left, tiebreak)
    4. last(right_col, ignorenulls) over rows-unbounded-preceding
       forward-fills each right column onto subsequent left rows
    5. keep left rows

Why this shape at 100 TB: exactly ONE shuffle of left+right on the join
key and ONE within-partition sort — the same cost profile as a
sort-merge join, with no row explosion (contrast the naive
``left.join(right, r.ts <= l.ts)`` + max, which is quadratic per key).
Skewed keys are handled by AQE skew-split since the heavy op is a
window, and the plan stays fully JVM-side (no Python).  Inputs already
clustered on ``by`` (both saved with ``Workspace.save_bucketed`` on
``by``, one bucket count, equal non-floating key types) keep that
clustering through the union, and step 2 disappears: no exchange at
all.

Tie semantics: right rows sort *before* left rows at equal timestamps
(is_left ascending with right=0), so an exactly-simultaneous quote IS
visible to the trade — kerf's ``<=`` convention.  Among right rows with
identical timestamps the last by ``tiebreak`` wins deterministically.

Filters and the window: Spark pushes a filter through the window only
on its partition keys, so a time filter applied to the joined result
still sorts every row of both inputs.  Callers that know the filter
apply it to the inputs first.  The kerf-SQL front end
(``plans.kerfsql``, backward only) does: a WHERE conjunct that names no
right column, is deterministic and holds no aggregate, window, verb,
``fby`` or subquery filters the left input, because a left row's match
depends only on its own ``by``/``on`` values and the right rows.  A literal upper bound on ``on`` (``on < X``, ``on <= X``,
``on between ... and X``) also filters the right input to ``on <op> X
or on is null`` when both ``on`` types are equal: no kept left row can
match a later right row, and NULL-``on`` right rows sort first and can
match.  A conjunct on a right column never moves, because it changes
which right row is the latest.

:func:`asof_join_merge` is the same plan under a keyed entry point.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ArgsError
from ..functions.temporal import _divfloor

_L = "__kf_is_left"
_TB = "__kf_tiebreak"
_RV = "__kf_right_val"  # struct(__on, carried right cols) — filled atomically
_RVB = "__kf_rv_bwd"
_RVF = "__kf_rv_fwd"


def _q(name: str) -> str:
    """``name`` as a backtick-quoted identifier for expression text."""
    return "`" + name.replace("`", "``") + "`"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] | str | None = None,
    right_cols: Sequence[str] | None = None,
    tolerance_ns: int | None = None,
    tiebreak: str | None = None,
    suffix: str = "_r",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.on <= left.on`` within the same ``by`` group — or, with
    ``direction="forward"``, the earliest right row with
    ``right.on >= left.on`` (ties: backward takes the *last* right row
    at equal ``on``/tiebreak order, forward the *first*).

    ``direction="nearest"`` takes the right row with the smallest
    |right.on - left.on|; ties (equidistant before/after, or an exact
    equal-``on`` match) prefer the backward row, pandas-style.  Still
    ONE union, ONE exchange, ONE sort: the backward fill (last over
    unboundedPreceding..current) and the forward fill (first over
    current..unboundedFollowing) are two frames over the SAME
    partitioning and ordering, so Catalyst plans a single Exchange +
    Sort feeding both Window frames (plan-asserted).  Equal-``on``
    right rows sort before left rows and are therefore seen only by
    the backward frame — harmless, because an equal match has distance
    0 and backward wins ties anyway.

    Parameters
    ----------
    on : ordering column name, present in both frames (epoch-ns long or
        any orderable type).
    by : equi-key column(s) present in both frames (e.g. ``sym``).
    right_cols : right columns to carry (default: all non-key columns).
        Name collisions with left get ``suffix``.
    tolerance_ns : if set, matches older than ``on - tolerance_ns`` are
        nulled out (kerf window-limited asof).
    tiebreak : right column ordering ties at equal ``on`` (last wins);
        defaults to arbitrary-but-deterministic by all carried columns.

    The plan is built as expression text, one ``selectExpr`` per
    projection: a Column-API chain costs several py4j round trips per
    column (about 2500 per call on a 19-column right side, against 64).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ArgsError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    by = [by] if isinstance(by, str) else list(by or [])
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in by and c != on]
    out_names = {
        c: (c + suffix if c in left.columns else c) for c in right_cols
    }
    # the by keys cross the union under fresh internal names: Spark 4.1's
    # union keeps its children's hash partitioning only where they are
    # equal, column qualifiers included, and a projected catalog column
    # carries its table's qualifier while the bucketed scan's
    # partitioning does not — co-bucketed inputs would pay one hash
    # exchange.  An alias is unqualified on both sides: no exchange.
    keys = {c: f"__kf_by{i}" for i, c in enumerate(by)}
    # the union widens a by/on column to both sides' common type (an
    # int key against a double one comes back double, and long -> double
    # loses precision above 2^53): a left column whose type differs
    # from right's crosses the union twice — its widened copy under the
    # internal name orders and partitions the window, and the original
    # travels under its own name to the result.  Equal types cross once.
    ltypes, rtypes = dict(left.dtypes), dict(right.dtypes)
    wide = {c for c in (*by, on) if rtypes.get(c) != ltypes.get(c)}
    order = "__kf_on" if on in wide else on
    lnames = [c if c in wide else keys.get(c, c) for c in left.columns]
    # the right payload travels as ONE nullable struct (timestamp +
    # carried columns), so the window fill picks a whole right ROW
    # atomically — filling each column independently with ignorenulls
    # would let a NULL in a carried column fall through to an older
    # (possibly tolerance-violating) row's value, diverging from the
    # row semantics of merge_asof and of the SQL oracles.  Each side
    # lacks the other's columns; the union fills them with typed NULLs.
    rv = ", ".join(
        [f"CAST({_q(on)} AS BIGINT) AS `__on`"]
        + [f"{_q(c)} AS {_q(out_names[c])}" for c in right_cols]
    )
    tb = _q(tiebreak) if tiebreak else (
        f"struct({', '.join(_q(c) for c in right_cols)})"
    )
    rhs = right.selectExpr(
        *[f"{_q(c)} AS {_q(k)}" for c, k in keys.items()],
        f"{_q(on)} AS {_q(order)}",
        f"0 AS {_L}", f"struct({rv}) AS {_RV}", f"{tb} AS {_TB}",
    )
    lhs = left.selectExpr(
        *[f"{_q(c)} AS {_q(n)}" for c, n in zip(left.columns, lnames)],
        *[f"{_q(c)} AS {_q(keys.get(c, order))}" for c in (*by, on)
          if c in wide],
        f"1 AS {_L}",
    )
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)

    # forward: left rows sort before equal-on right rows so the
    # (currentRow, following) frame still sees them; fill = first match
    fwd = direction == "forward"
    part = ", ".join(_q(k) for k in keys.values())
    spec = (f"PARTITION BY {part} " if part else "") + (
        f"ORDER BY {_q(order)} ASC, {_L} {'DESC' if fwd else 'ASC'}, {_TB} ASC"
    )
    last = (
        f"last({_RV}, true) OVER ({spec} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    first = (
        f"first({_RV}, true) OVER ({spec} "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    )
    on_l = f"CAST({_q(on)} AS BIGINT)"
    if direction == "nearest":
        fills = [f"{last} AS {_RVB}", f"{first} AS {_RVF}"]
        rtb, rtf = f"{_RVB}.__on", f"{_RVF}.__on"
        bdist, fdist = f"({on_l} - {rtb})", f"({rtf} - {on_l})"
        use_b = f"({rtb} IS NOT NULL AND ({rtf} IS NULL OR {bdist} <= {fdist}))"
        dist = f"CASE WHEN {use_b} THEN {bdist} ELSE {fdist} END"
        keep = f"({dist}) IS NOT NULL"
        if tolerance_ns is not None:
            keep = f"{keep} AND ({dist}) <= {int(tolerance_ns)}"
        chosen = f"CASE WHEN {use_b} THEN {_RVB} ELSE {_RVF} END"
    else:
        fills = [f"{first if fwd else last} AS {_RV}"]
        keep = f"{_RV} IS NOT NULL"
        if tolerance_ns is not None:
            stale = (
                f"{_RV}.__on > ({on_l} + {int(tolerance_ns)})"
                if fwd
                else f"{_RV}.__on < ({on_l} - {int(tolerance_ns)})"
            )
            keep = f"{keep} AND NOT ({stale})"
        chosen = _RV
    filled = unioned.selectExpr(*map(_q, lnames), _L, *fills).where(
        f"{_L} = 1"
    )
    return filled.selectExpr(
        *[f"{_q(n)} AS {_q(c)}" for c, n in zip(left.columns, lnames)],
        *[
            f"CASE WHEN {keep} THEN ({chosen}).{_q(out_names[c])} "
            f"ELSE NULL END AS {_q(out_names[c])}"
            for c in right_cols
        ],
    )


# bound at import, so a wrapper installed on the public ``asof_join``
# name sees one call per asof_join_merge, not two
_asof_window = asof_join


def asof_join_merge(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] | str,
    right_cols: Sequence[str] | None = None,
    tolerance_ns: int | None = None,
    suffix: str = "_r",
    direction: str = "backward",
) -> DataFrame:
    """The keyed entry point of :func:`asof_join`: the same plan and
    semantics (all three directions), with at least one ``by`` key
    required.

    There is no per-key cogrouped ``pandas.merge_asof`` behind it: the
    window plan beat one on every input measured (4 cores) — with a
    19-column right side (``perfbench`` ``asof_wide``, 3 warm runs)
    0.22-0.26 s against 0.76-0.79 s, and on inputs co-bucketed on
    ``by`` (``asof_bucketed_colocated`` at sf0.1: 100k events against
    150k orders in 8 buckets, 8 interleaved warm rounds) 0.225 s
    against 8.97 s median, with no exchange in either plan.
    """
    by = [by] if isinstance(by, str) else list(by)
    if not by:
        raise ArgsError("asof_join_merge requires at least one `by` key")
    return _asof_window(
        left, right, on, by, right_cols, tolerance_ns,
        suffix=suffix, direction=direction,
    )


def window_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    lo_ns: int,
    hi_ns: int,
    by: Sequence[str] | str | None = None,
    bucket_ns: int | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Interval join: all right rows with ``r.on in [l.on+lo, l.on+hi]``
    per ``by`` group (kerf window-join; SURVEY.md §2.3).

    Scale strategy: a raw range predicate inside an equi-join on ``by``
    is fine when ``by`` is selective, but degenerates toward
    nested-loops for hot keys.  When ``bucket_ns`` is given, both sides
    are bucketed to span-sized buckets and the left side explodes to the
    covered bucket range, turning the range join into an equi-join on
    (by, bucket) + residual filter — bounded fan-out, shuffle-friendly.
    ``bucket_ns`` should be >= (hi-lo) for a fan-out of at most 2-3
    buckets per row.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    ln, rn = left.alias("l"), right.alias("r")
    renames = {
        c: (c + suffix if c in left.columns else c)
        for c in right.columns
        if c not in by
    }

    key_eq = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in by]
    lo = F.col(f"l.{on}").cast("long") + F.lit(lo_ns)
    hi = F.col(f"l.{on}").cast("long") + F.lit(hi_ns)
    in_range = (F.col(f"r.{on}").cast("long") >= lo) & (
        F.col(f"r.{on}").cast("long") <= hi
    )

    if bucket_ns is None:
        joined = ln.join(rn, [*key_eq, in_range], "inner")
    else:
        # exact integer floor for buckets: double division near a bucket
        # boundary (epoch-ns > 2^53) can disagree between the left
        # coverage range and the right bucket, silently dropping matches
        lb = ln.withColumn(
            "__kf_bucket",
            F.explode(
                F.sequence(
                    _divfloor(F.col(f"{on}").cast("long") + F.lit(lo_ns), bucket_ns),
                    _divfloor(F.col(f"{on}").cast("long") + F.lit(hi_ns), bucket_ns),
                )
            ),
        ).alias("l")
        rb = rn.withColumn(
            "__kf_bucket", _divfloor(F.col(on).cast("long"), bucket_ns)
        ).alias("r")
        joined = lb.join(
            rb,
            [
                F.col("l.__kf_bucket") == F.col("r.__kf_bucket"),
                *[F.col(f"l.{c}") == F.col(f"r.{c}") for c in by],
                in_range,
            ],
            "inner",
        )

    return joined.select(
        *[F.col(f"l.{c}").alias(c) for c in left.columns],
        *[F.col(f"r.{c}").alias(renames[c]) for c in right.columns if c not in by],
    )


def window_count(
    left: DataFrame,
    right: DataFrame,
    on: str,
    lo_ns: int,
    hi_ns: int,
    by: Sequence[str] | str | None = None,
    out: str = "n_in_window",
) -> DataFrame:
    """For each left row, COUNT right rows with ``r.on`` in
    ``[l.on+lo, l.on+hi]`` per ``by`` group — the aggregate twin of
    :func:`window_join` that never materializes the matched pairs.

    Rank-difference plan: each left row emits two probe rows (one at
    the window's lower edge ordered *before* right rows at equal time,
    one at the upper edge ordered *after*), unioned with the right rows
    carrying weight 1.  One shuffle on ``by``, one in-partition sort, a
    running sum of weights, then the per-left-row difference of the two
    probe counts (signs +1/-1, summed per left row).

    Why this shape at 100 TB: :func:`window_join` + groupBy computes the
    same answer but its intermediate row count is the number of MATCHES
    — a hot anchor with a million right rows in its window explodes a
    million joined rows just to count them.  Here rows through the
    shuffle are |left|·2 + |right| regardless of window density, there
    is no join, and both closed bounds are exact (probe ordering, not a
    residual filter).  Same cost profile as the union-tag as-of join.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    kf_lid, kf_ts, kf_kind, kf_sign, kf_w = (
        "__kf_lid", "__kf_ts", "__kf_kind", "__kf_sign", "__kf_w"
    )
    # one scan of left: both probes explode from the same row, so the
    # synthetic id (unique, layout-dependent — internal only) is
    # consistent across the pair by construction
    probes = (
        left.withColumn(kf_lid, F.monotonically_increasing_id())
        .select(
            *left.columns,
            kf_lid,
            F.explode(
                F.array(
                    # kind 0 sorts before right rows (kind 1): its running
                    # count excludes rows AT the closed lower bound
                    F.struct(
                        (F.col(on).cast("long") + F.lit(lo_ns)).alias(kf_ts),
                        F.lit(0).alias(kf_kind),
                        F.lit(-1).alias(kf_sign),
                    ),
                    # kind 2 sorts after right rows: count includes the
                    # closed upper bound
                    F.struct(
                        (F.col(on).cast("long") + F.lit(hi_ns)).alias(kf_ts),
                        F.lit(2).alias(kf_kind),
                        F.lit(1).alias(kf_sign),
                    ),
                )
            ).alias("__kf_p"),
        )
        .select(
            *left.columns, kf_lid,
            F.col(f"__kf_p.{kf_ts}").alias(kf_ts),
            F.col(f"__kf_p.{kf_kind}").alias(kf_kind),
            F.col(f"__kf_p.{kf_sign}").alias(kf_sign),
            F.lit(0).cast("long").alias(kf_w),
        )
    )
    ltypes = dict(left.dtypes)
    rhs = right.select(
        *[
            F.col(c).cast(ltypes[c]).alias(c) if c in by
            else F.lit(None).cast(t).alias(c)
            for c, t in left.dtypes
        ],
        F.lit(None).cast("long").alias(kf_lid),
        F.col(on).cast("long").alias(kf_ts),
        F.lit(1).alias(kf_kind),
        F.lit(0).alias(kf_sign),
        F.lit(1).cast("long").alias(kf_w),
    )
    w = (
        Window.partitionBy(*[F.col(c) for c in by])
        .orderBy(F.col(kf_ts).asc(), F.col(kf_kind).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    counted = (
        probes.unionByName(rhs)
        .withColumn("__kf_cnt", F.sum(kf_w).over(w))
        .where(F.col(kf_kind) != 1)
    )
    return (
        counted.groupBy(kf_lid, *[F.col(c) for c in left.columns])
        .agg(F.sum(F.col(kf_sign) * F.col("__kf_cnt")).alias(out))
        .drop(kf_lid)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    start: str,
    end: str,
    bucket_ns: int,
    by: Sequence[str] | str | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Interval×interval overlap join: pairs where
    ``l.start <= r.end AND r.start <= l.end`` (+ equal ``by`` keys).

    The interval-interval generalization of :func:`window_join`
    (point-in-window): both sides explode to the span-sized buckets
    they cover, the overlap test becomes an equi-join on (by, bucket)
    plus the exact residual predicate, and duplicate hits from spanning
    multiple buckets collapse by synthetic per-row id — NOT full-row
    distinct, so two genuinely identical input rows still yield two
    output pairs (bag semantics, matching SQL join behavior).  Choose
    ``bucket_ns`` near the typical interval length: fan-out stays at
    2-3 buckets per row and no pair is ever compared outside a shared
    bucket — the standard distributed overlap-join (no nested loop, no
    cross).

    Adds ``overlap`` — the overlap length ``min(ends) - max(starts)``.
    """
    by = [by] if isinstance(by, str) else list(by or [])

    def bucketed(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.withColumn(f"__kf_{alias}id", F.monotonically_increasing_id())
            .withColumn(
                "__kf_bucket",
                F.explode(
                    F.sequence(
                        _divfloor(F.col(start).cast("long"), bucket_ns),
                        _divfloor(F.col(end).cast("long"), bucket_ns),
                    )
                ),
            )
            .alias(alias)
        )

    lb, rb = bucketed(left, "l"), bucketed(right, "r")
    overlap_ok = (F.col(f"l.{start}") <= F.col(f"r.{end}")) & (
        F.col(f"r.{start}") <= F.col(f"l.{end}")
    )
    renames = {
        c: (c + suffix if c in left.columns else c)
        for c in right.columns
        if c not in by
    }
    joined = lb.join(
        rb,
        [
            F.col("l.__kf_bucket") == F.col("r.__kf_bucket"),
            *[F.col(f"l.{c}") == F.col(f"r.{c}") for c in by],
            overlap_ok,
        ],
        "inner",
    )
    out = (
        joined.select(
            F.col("l.__kf_lid"),
            F.col("r.__kf_rid"),
            *[F.col(f"l.{c}").alias(c) for c in left.columns],
            *[
                F.col(f"r.{c}").alias(renames[c])
                for c in right.columns
                if c not in by
            ],
        )
        .dropDuplicates(["__kf_lid", "__kf_rid"])
        .drop("__kf_lid", "__kf_rid")
    )
    return out.withColumn(
        "overlap",
        F.least(F.col(end), F.col(renames[end]))
        - F.greatest(F.col(start), F.col(renames[start])),
    )


def resample(
    df: DataFrame,
    on: str,
    step: int,
    by: Sequence[str] | str | None = None,
    val_cols: Sequence[str] | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Regular-grid resample with as-of fill (the kerf/kdb "align ticks
    to bars and carry the last observation" idiom; the grid twin of
    xbar bucketing, SURVEY.md §2.4/§2.5 — stamp-bucket lattice
    enums.h:167-175).

    Per ``by`` group, emits one row for every ``step``-aligned grid
    point between the group's min and max ``on`` (a long — epoch-ns/µs
    or any integer axis), each carrying the latest observation at or
    before that point (``val_cols``, forward-filled by :func:`asof_join`).

    Scale strategy: the grid is built from a per-group (min, max)
    aggregate — one partial-aggregated shuffle over the keys, then a
    narrow ``sequence``+``explode`` that never materializes more than
    span/step rows per group; the fill reuses the single-shuffle
    union-tag as-of join, so the whole op is two key-partitioned
    exchanges regardless of input size.  Grid density is the caller's
    dial: step must be sized so span/step per group stays sane (a 1s
    grid over a year is 31M rows per key — intended, but loud in the
    row count, never a hidden blowup).

    ``tiebreak``: with multiple source rows at one grid-aligned ``on``
    value the fill is still deterministic via asof_join's tiebreak
    ordering (last wins); pre-aggregate to one row per (by, on) when
    the source needs an explicit reduction first.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    aligned = lambda c: c - F.pmod(c, F.lit(step))  # noqa: E731 — pmod:
    # true floor for negative (pre-1970) stamps too, not trunc-to-zero
    grid = (
        df.groupBy(*by)
        .agg(F.min(on).alias("__kf_mn"), F.max(on).alias("__kf_mx"))
        .select(
            *by,
            F.explode(
                F.sequence(
                    aligned(F.col("__kf_mn").cast("long")),
                    aligned(F.col("__kf_mx").cast("long")),
                    F.lit(step).cast("long"),
                )
            ).alias(on),
        )
    )
    return asof_join(
        grid, df, on=on, by=by, right_cols=val_cols, tiebreak=tiebreak
    )


def resample_interp(
    df: DataFrame,
    on: str,
    step: int,
    by: Sequence[str] | str | None,
    val_col: str,
    out: str = "interp",
) -> DataFrame:
    """Regular-grid resample with *linear interpolation* between the
    surrounding observations — the smooth twin of :func:`resample`'s
    carry-last fill (kerf/kdb tick-alignment family, SURVEY.md §2.5).

    Per ``by`` group and ``step``-aligned grid point ``t``: find the
    latest observation at-or-before ``t`` and the earliest at-or-after,
    and emit ``pv + (nv - pv) * (t - pt) / (nt - pt)`` (the value
    itself when the grid point lands on a tick; NULL outside the
    observed span).  Multiple observations at one ``on`` value are
    pre-averaged so the interpolant is tiebreak-free and
    engine-portable.

    Scale shape: one partial-agg shuffle to collapse duplicate stamps,
    the grid build from per-group (min, max), then TWO chained
    union-tag as-of passes (backward, then forward over the backward
    result) — every exchange hash-partitions on the same ``by`` keys,
    so AQE reuses the partitioning and the whole plan stays
    key-parallel regardless of input size.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    src = df.groupBy(*by, on).agg(F.avg(val_col).alias(val_col))
    aligned = lambda c: c - F.pmod(c, F.lit(step))  # noqa: E731
    grid = (
        src.groupBy(*by)
        .agg(F.min(on).alias("__kf_mn"), F.max(on).alias("__kf_mx"))
        .select(
            *by,
            F.explode(
                F.sequence(
                    aligned(F.col("__kf_mn").cast("long")),
                    aligned(F.col("__kf_mx").cast("long")),
                    F.lit(step).cast("long"),
                )
            ).alias(on),
        )
    )
    prev = src.select(
        *by,
        F.col(on),
        F.col(val_col).alias("__kf_pv"),
        F.col(on).cast("long").alias("__kf_pt"),
    )
    nxt = src.select(
        *by,
        F.col(on),
        F.col(val_col).alias("__kf_nv"),
        F.col(on).cast("long").alias("__kf_nt"),
    )
    back = asof_join(grid, prev, on=on, by=by, right_cols=["__kf_pv", "__kf_pt"])
    both = asof_join(
        back, nxt, on=on, by=by, right_cols=["__kf_nv", "__kf_nt"],
        direction="forward",
    )
    t = F.col(on).cast("double")
    pv, pt = F.col("__kf_pv"), F.col("__kf_pt")
    nv, nt = F.col("__kf_nv"), F.col("__kf_nt")
    interp = (
        F.when(pt.isNull() | nt.isNull(), F.lit(None).cast("double"))
        .when(nt == pt, pv)
        .otherwise(
            pv + (nv - pv) * ((t - pt.cast("double")) / (nt.cast("double") - pt.cast("double")))
        )
    )
    return both.select(*by, F.col(on), interp.alias(out))


def merge_intervals(
    df: DataFrame,
    start: str,
    end: str,
    by: Sequence[str] | str | None = None,
) -> DataFrame:
    """Coalesce overlapping-or-touching intervals per key: the classic
    gaps-and-islands merge.  Returns one row per merged island with
    ``start`` = min start and ``end`` = running-max end.

    ONE keyed shuffle: a running max of ``end`` over the start order
    marks island breaks (a new island begins where a start exceeds
    every previous end), a running sum of the breaks numbers the
    islands, and a groupBy on (key, island) — all three sharing the
    same partitioning — emits the merged spans.  The coverage measure
    of a union of intervals falls out as sum(end - start) over the
    result, with double-counted overlaps already removed.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(
        F.col(start).asc(), F.col(end).asc()
    )
    prev_max = F.max(end).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = df.withColumn(
        "__kf_new",
        F.when(
            prev_max.isNull() | (F.col(start) > prev_max), 1
        ).otherwise(0),
    )
    islands = marked.withColumn(
        "__kf_island",
        F.sum("__kf_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy(*by, "__kf_island")
        .agg(F.min(start).alias(start), F.max(end).alias(end))
        .drop("__kf_island")
    )


def interval_gaps(
    df: DataFrame,
    start: str,
    end: str,
    by: Sequence[str] | str | None = None,
) -> DataFrame:
    """The complement of :func:`merge_intervals`: the gaps BETWEEN a
    key's merged islands — (key..., gap_start, gap_end), one row per
    downtime window.  Composes as merge + one lead() over the same key
    partitioning (the merge's final groupBy already hash-partitioned
    on the key, so the window reuses that exchange)."""
    by = [by] if isinstance(by, str) else list(by or [])
    merged = merge_intervals(df, start, end, by)
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(
        F.col(start).asc()
    )
    nxt = F.lead(start).over(w)
    return (
        merged.select(
            *by,
            F.col(end).alias("gap_start"),
            nxt.alias("gap_end"),
        )
        .where(F.col("gap_end").isNotNull())
    )
