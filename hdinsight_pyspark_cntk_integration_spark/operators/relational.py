"""Relational operators: the reference's evaluation semantics, distributed.

The reference computes accuracy, distinct labels, a label-name lookup and
a confusion matrix in driver-side pandas after a full ``collect()``
(reference README.md:204-249). Here each is one distributed DataFrame
query (SURVEY.md §2.5 R1-R7), plus the join/window helpers the reference
lacks (§2.7): top-n per group, as-of join, range join.

Scale notes are attached per operator — every helper is designed to be a
single shuffle (or zero, via broadcast) at 100 TB.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType


def accuracy(scores: DataFrame, true_col: str = "true_label", pred_col: str = "predicted_label") -> DataFrame:
    """R1-R4: correct count, total, accuracy percent — one partial+final
    hash aggregate, no shuffle of raw rows beyond the 1-row combine.

    Mirrors reference README.md:204-211 (``num_correct/num_total``,
    printed as e.g. '91.65%'), but distributed: sum-of-boolean instead of
    a driver loop.
    """
    return scores.agg(
        F.sum((F.col(true_col) == F.col(pred_col)).cast("long")).alias("num_correct"),
        F.count(F.lit(1)).alias("num_total"),
        (
            F.lit(100.0)
            * F.sum((F.col(true_col) == F.col(pred_col)).cast("long"))
            / F.count(F.lit(1))
        ).alias("accuracy_pct"),
    )


def distinct_sorted(df: DataFrame, col: str) -> DataFrame:
    """R5: ``np.sort(df[col].unique())`` distributed — partial-agg dedup
    then a tiny sort (reference README.md:247)."""
    return df.select(col).distinct().orderBy(col)


def dim_lookup(df: DataFrame, dim: DataFrame, on: str | Column, how: str = "inner") -> DataFrame:
    """R6: the reference's ``label_to_name_dict`` indexing
    (README.md:236-248) as an explicit broadcast hash join — zero
    shuffle of the fact side."""
    return df.join(F.broadcast(dim), on=on, how=how)


def confusion_counts(
    scores: DataFrame, true_col: str = "true_label", pred_col: str = "predicted_label"
) -> DataFrame:
    """R7 (long form): group-by-2-keys count. Map-side partial agg then a
    shuffle of at most |labels|² rows."""
    return scores.groupBy(true_col, pred_col).agg(F.count(F.lit(1)).alias("n"))


def confusion_matrix(
    scores: DataFrame,
    labels: Sequence,
    true_col: str = "true_label",
    pred_col: str = "predicted_label",
) -> DataFrame:
    """R7 (dense form): confusion matrix via pivot with an explicit label
    list, missing cells filled with 0 (reference fixes ``labels=`` the
    same way — README.md:249; explicit values avoid the extra
    distinct-scan and unbounded-column risk, SURVEY.md §7).
    """
    wide = (
        confusion_counts(scores, true_col, pred_col)
        .groupBy(true_col)
        .pivot(pred_col, list(labels))
        .sum("n")
        .orderBy(true_col)
    )
    return wide.na.fill(0)


def topn_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column],
    n: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-n rows per group via ``row_number``. Single shuffle on the
    partition keys; Spark's WindowExec applies the limit per-group after
    an in-partition sort. Pass deterministic ``order_cols`` (include a
    unique tie-break key) so results are stable."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_value_cols: Sequence[str],
    strict: bool = False,
    dedup_right: bool = False,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    null_safe: bool = False,
) -> DataFrame:
    """As-of join: for each left row, the nearest right row with the same
    keys at-or-before its timestamp (``direction='backward'``, default:
    ``right_ts <= left_ts``, ``<`` when strict) or at-or-after it
    (``direction='forward'``: ``right_ts >= left_ts``, ``>`` when strict).
    ``tolerance_seconds`` additionally nulls the matched value columns
    when the matched row is further than the tolerance away — the same
    surface as pandas ``merge_asof(direction=..., tolerance=...)``, kept
    distributed.

    Implementation is the union + last-value-carry trick: tag both
    sides, union, and window ``last(value, ignorenulls=True)`` ordered by
    timestamp (descending for forward — carrying the last-seen right row
    down a descending ordering IS the nearest at-or-after match). Exactly
    ONE shuffle (on the keys) and no range-join row explosion — this is
    the 100 TB-safe plan; a naive ``ON key AND r.ts <= l.ts`` inequality
    join degenerates to a per-key cross product.

    Ties: at equal timestamps the right row sorts before the left row
    (side 0 < side 1) so non-strict semantics include same-instant
    matches; ``strict=True`` orders the left row first instead (this
    holds in both directions — only the timestamp sort flips). If the
    right side has duplicate (keys, ts) rows, the last one in its sort
    order wins — nondeterministic unless the right side is pre-deduped.
    ``dedup_right=True`` does that here: one row per (keys, right_ts),
    keeping the max of each value column (deterministic, and one extra
    shuffle on the same keys that AQE can often coalesce with the window's).

    NULL caveat: the carry uses ``last(..., ignorenulls=True)`` per value
    column, so a matched row whose value is legitimately NULL would pick
    up a STALE value from an earlier right row. ``null_safe=True`` packs
    all value columns into one (never-NULL) struct before the carry and
    unpacks after — exact per-row semantics at the cost of one struct
    wrap; use it whenever right value columns can hold NULLs (e.g. SCD2
    open-interval ``valid_to``).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward' (got {direction!r})")
    keys = list(keys)
    if dedup_right:
        # right_ts (and the keys) are grouping columns — aggregating them
        # again would alias a duplicate/ambiguous column into the result.
        dedup_agg_cols = [c for c in right_value_cols if c != right_ts and c not in keys]
        right = right.groupBy(*keys, right_ts).agg(
            *[F.max(c).alias(c) for c in dedup_agg_cols]
        )
    if null_safe:
        user_value_cols = list(right_value_cols)
        right = right.withColumn(
            "__packed", F.struct(*[F.col(c) for c in user_value_cols])
        )
        right_value_cols = ["__packed"]
    lcols = left.columns
    side_right, side_left = (0, 1) if not strict else (1, 0)
    rts_type = right.schema[right_ts].dataType

    l_tagged = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("__ts"),
        F.lit(side_left).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_value_cols],
        F.lit(None).cast(rts_type).alias("__r___mts"),
    )
    r_tagged = right.select(
        *[F.col(k) for k in keys],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(side_right).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in right_value_cols],
        F.col(right_ts).alias("__r___mts"),
    ).select(*lcols, "__ts", "__side", *[f"__r_{c}" for c in right_value_cols], "__r___mts")

    unioned = l_tagged.unionByName(r_tagged)
    ts_order = F.col("__ts") if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        F.col("__ts"),
        F.col("__side"),
        *[
            F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(c)
            for c in right_value_cols
        ],
        F.last(F.col("__r___mts"), ignorenulls=True).over(w).alias("__mts"),
    )
    out = carried.filter(F.col("__side") == side_left)
    if tolerance_seconds is not None:
        from pyspark.sql.types import TimestampType

        if isinstance(unioned.schema["__ts"].dataType, TimestampType) and isinstance(
            rts_type, TimestampType
        ):
            # Exact integer-microsecond comparison — a boundary-exact match
            # must not flip on double rounding of ~1e9-second epochs.
            within = F.abs(
                F.unix_micros(F.col("__ts")) - F.unix_micros(F.col("__mts"))
            ) <= int(round(float(tolerance_seconds) * 1_000_000))
        elif isinstance(unioned.schema["__ts"].dataType, IntegralType) and isinstance(
            rts_type, IntegralType
        ):
            # Integer ordering keys (e.g. epoch-nanos longs) stay in the
            # native long domain: a double round-trip loses precision past
            # 2^53 and can flip boundary-exact tolerance decisions.
            # greatest-least keeps the difference non-negative without an
            # abs() (abs(Long.MIN_VALUE) itself overflows); try_subtract
            # yields NULL if the span overflows int64, and a NULL `within`
            # nulls the value — a span that wide is never inside tolerance.
            l_long = F.col("__ts").cast("long")
            r_long = F.col("__mts").cast("long")
            diff = F.try_subtract(F.greatest(l_long, r_long), F.least(l_long, r_long))
            # Integer diff <= fractional tolerance  <=>  diff <= floor(tol).
            within = diff <= int(math.floor(float(tolerance_seconds)))
        else:
            # Genuinely fractional ordering keys: compare as double.
            within = (
                F.abs(F.col("__ts").cast("double") - F.col("__mts").cast("double"))
                <= float(tolerance_seconds)
            )
        out = out.select(
            *lcols,
            F.col("__ts"),
            F.col("__side"),
            *[F.when(within, F.col(c)).alias(c) for c in right_value_cols],
            "__mts",
        )
    out = out.drop("__ts", "__side", "__mts")
    if null_safe:
        out = out.select(
            *lcols,
            *[F.col("__packed")[c].alias(c) for c in user_value_cols],
        )
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: the (skewed) left side gets a
    deterministic salt derived from its full row hash; the right side is
    replicated ``salt_buckets`` times; the join key becomes (key, salt).

    A hot key's rows now spread over ``salt_buckets`` reducers instead of
    one. Cost: right side inflated by the bucket count — use when the
    right side is modest but too big to broadcast, and AQE's runtime skew
    split (on by default in the engine session) isn't enough.

    Only left-preserving joins are allowed — ``inner``, ``left`` (and its
    Spark aliases ``left_outer``/``leftouter``), ``left_semi``,
    ``left_anti``: for those
    the result equals the plain join row-for-row (every left row carries
    exactly one salt, and each right replica can only match that salt). A
    ``right``/``full`` join would emit every unmatched right row once per
    replica (``salt_buckets`` duplicates), so those types raise.
    """
    norm = how.lower().replace("_", "")
    if norm not in ("inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti"):
        raise ValueError(
            f"salted_join supports inner/left/left_outer/left_semi (got {how!r}): "
            "right/full would duplicate unmatched right rows once per salt bucket"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_buckets))
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<bigint>"))
    )
    return l_salted.join(r_salted, on=[key, "__salt"], how=how).drop("__salt")


def range_join_broadcast(
    fact: DataFrame,
    dim: DataFrame,
    value: Column,
    lo_col: str,
    hi_col: str,
    how: str = "inner",
) -> DataFrame:
    """Band/range join of a fact value into small-dim [lo, hi] buckets.

    The dim side is broadcast, so this is a BroadcastNestedLoopJoin with a
    cheap per-row predicate — no shuffle of the fact table. Only valid
    when the dim is small (bucket tables, tier tables); a big-big range
    join should bucket both sides on a coarse grid first.
    """
    cond = value.between(F.col(lo_col), F.col(hi_col))
    return fact.join(F.broadcast(dim), on=cond, how=how)


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    op_col: str = "op",
) -> DataFrame:
    """CDC MERGE compaction without a table format: apply a change feed
    (insert/update/delete rows tagged in ``op_col``, ordered by
    ``ts_col``) to a snapshot. The latest change per key wins ('D'
    deletes the key, anything else upserts the change's values); keys
    with no change pass through unchanged. Output schema = snapshot
    schema.

    Shape: one shuffle on the key for the latest-change window (state =
    one counter per key), then a full-outer join — both sides hashed on
    the same key, so at scale the exchange from the window reuses its
    partitioning for the join side. This is the maintenance loop for any
    mutable dimension kept as plain parquet.
    """
    value_cols = [c for c in snapshot.columns if c != key_col]
    missing = [c for c in value_cols if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing snapshot columns: {missing}")
    w = Window.partitionBy(key_col).orderBy(F.desc(ts_col))
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(key_col).alias("__k"),
            F.col(op_col).alias("__op"),
            *[F.col(c).alias(f"__c_{c}") for c in value_cols],
        )
    )
    joined = snapshot.join(
        latest, snapshot[key_col] == latest["__k"], "full_outer"
    )
    alive = joined.filter(
        F.col("__op").isNull() | (F.col("__op") != F.lit("D"))
    )
    return alive.select(
        F.coalesce(F.col(key_col), F.col("__k")).alias(key_col),
        *[
            F.when(F.col("__op").isNull(), F.col(c))
            .otherwise(F.col(f"__c_{c}"))
            .alias(c)
            for c in value_cols
        ],
    )


def _slot_observations(
    df: DataFrame, ts_col: str, key_col: str, value_col: str, step_seconds: int
) -> DataFrame:
    """(key, __slot, value): each key's observations bucketed into
    ``step_seconds`` slots, the latest in a slot winning (value as
    tiebreak), after ONE explicit repartition on the key that the
    callers' key-partitioned windows reuse."""
    if step_seconds < 1:
        raise ValueError(f"step_seconds must be >= 1 (got {step_seconds})")
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    secs = F.unix_timestamp(F.col(ts_col))
    obs = df.select(
        F.col(key_col),
        F.floor(secs / step_seconds).cast("long").alias("__slot"),
        F.col(value_col),
        secs.alias("__secs"),
    ).repartition(n_shuffle, key_col)
    w_slot = Window.partitionBy(key_col, "__slot").orderBy(
        F.desc("__secs"), F.desc(value_col)
    )
    return (
        obs.withColumn("__rn", F.row_number().over(w_slot))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__secs")
    )


def _fill_range() -> Column:
    """The slots an observation covers: its own through the one before
    the next observation's (``__next``, NULL for the last)."""
    return F.sequence(
        F.col("__slot"), F.coalesce(F.col("__next") - 1, F.col("__slot"))
    )


def resample_ffill(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    step_seconds: int = 3600,
) -> DataFrame:
    """Regular-grid time-series resampling with forward fill per key:
    bucket observations into ``step_seconds`` slots (the latest
    observation in a slot wins, value as tiebreak), then fill every empty
    slot between consecutive observations with the earlier observation's
    value. The grid spans each key's observed range — first to last slot.

    Gaps-and-islands shape, chosen over the grid-generate + left-join +
    fill-window form because it needs ONE scan and ONE shuffle: after an
    explicit repartition on the key, the slot-dedup window, the
    lead(slot) window, and the per-row ``sequence`` explode that emits
    each observation's fill range all run on that same partitioning —
    there is no grid relation to join, so nothing forks the lineage into
    twin subtrees (the join form plans the scan twice). Per-row explode
    size is bounded by gap length / step, never by corpus size.

    Returns (key, slot, grid_ts, value, is_observed).
    """
    last_obs = _slot_observations(df, ts_col, key_col, value_col, step_seconds)
    w_key = Window.partitionBy(key_col).orderBy("__slot")
    with_next = last_obs.withColumn("__next", F.lead("__slot").over(w_key))
    return (
        with_next.select(
            F.col(key_col),
            F.col(value_col),
            F.col("__slot"),
            F.explode(_fill_range()).alias("slot"),
        )
        .select(
            key_col,
            "slot",
            F.timestamp_seconds(F.col("slot") * step_seconds).alias("grid_ts"),
            value_col,
            (F.col("slot") == F.col("__slot")).alias("is_observed"),
        )
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Data profile — per column: row count, null count, exact distinct
    count, and the string form of the typed min/max. One aggregate job:
    the multi-column count_distinct rewrites into a single Expand pass
    (n_cols copies map-side, partial-aggregated before the one shuffle),
    so the input is scanned once however many columns are profiled. The
    min/max are computed on the NATIVE type (so numeric columns order
    numerically) and stringified only in the output row.

    Returns one row per column: (column, n_rows, n_nulls, n_distinct,
    min_str, max_str) — the ingest-time sanity report that catches a
    broken upstream feed before it poisons a corpus build.
    """
    cols = columns or df.columns
    aggs: list[Column] = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).cast("bigint").alias(f"__n_{c}"),
            F.sum(col.isNull().cast("long")).cast("bigint").alias(f"__nulls_{c}"),
            F.count_distinct(col).cast("bigint").alias(f"__dist_{c}"),
            F.min(col).cast("string").alias(f"__min_{c}"),
            F.max(col).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args: list[str] = []
    for c in cols:
        stack_args += [
            f"'{c}'", f"__n_{c}", f"__nulls_{c}", f"__dist_{c}",
            f"__min_{c}", f"__max_{c}",
        ]
    return one.selectExpr(
        f"stack({len(cols)}, {', '.join(stack_args)}) AS "
        "(column, n_rows, n_nulls, n_distinct, min_str, max_str)"
    )


def scd2_history(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Slowly-changing-dimension type-2 historization: turn a change feed
    into validity intervals per key — valid_from = the change's
    timestamp, valid_to = the next change's timestamp (NULL while
    current), is_current on the open row. One shuffle on the key; the
    lead window is the entire computation, so this composes with
    ``apply_changes`` (latest-state compaction) as the "keep the full
    history" alternative."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    return (
        changes.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def point_in_time_join(
    facts: DataFrame,
    history: DataFrame,
    keys: Sequence[str],
    fact_ts: str,
    attr_cols: Sequence[str],
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Feature-store point-in-time join: each fact row picks up the
    attribute values whose SCD2 validity interval covers its timestamp
    (``valid_from <= fact_ts < valid_to``, open ``valid_to`` = current).
    Facts before a key's first interval — or inside a gap of a
    non-contiguous history — get NULL attributes; every fact row is
    preserved. This is the leakage-safe way to attach dimension state to
    training examples: never the attribute value from the future.

    Implementation: backward as-of join on ``valid_from`` (union +
    last-value carry — ONE shuffle on the keys) plus a ``valid_to`` gap
    check. The naive ``BETWEEN``-interval join is a per-key cross product
    that explodes exactly when a key's history is long; this form is
    O(n log n) within each key regardless of interval count.
    """
    attr_cols = list(attr_cols)
    out = asof_join(
        facts,
        history,
        keys=keys,
        left_ts=fact_ts,
        right_ts=valid_from,
        right_value_cols=attr_cols + [valid_to],
        # valid_to is NULL on every open interval — without struct packing
        # the carry would replace it with the previous interval's bound.
        null_safe=True,
    )
    live = F.col(valid_to).isNull() | (F.col(valid_to) > F.col(fact_ts))
    return out.select(
        *facts.columns,
        *[F.when(live, F.col(c)).alias(c) for c in attr_cols],
    )


def histogram_fixed(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int,
) -> DataFrame:
    """Exact equi-width histogram: bucket i covers
    [lo + i·(hi−lo)/n, lo + (i+1)·(hi−lo)/n), out-of-range values clamp
    into the edge buckets. Unlike ``histogram_numeric`` (approximate,
    engine-specific bin placement) this is a deterministic projection —
    the bucket id is floor(((v−lo)/span)·n) in basic IEEE ops, identical
    in any engine — followed by ONE partial-agg shuffle carrying at most
    ``n_buckets`` rows per map partition. The distribution profile you
    actually want before choosing partition bounds at 100 TB.
    """
    if not hi > lo:
        raise ValueError(f"need hi > lo (got lo={lo}, hi={hi})")
    if n_buckets < 1:
        raise ValueError(f"need n_buckets >= 1 (got {n_buckets})")
    span = float(hi) - float(lo)
    v = F.col(value_col).cast("double")
    raw = F.floor(((v - F.lit(float(lo))) / F.lit(span)) * F.lit(float(n_buckets))).cast(
        "long"
    )
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1))
    return (
        df.select(bucket.alias("bucket"), v.alias("__v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("__v").alias("min_v"),
            F.max("__v").alias("max_v"),
        )
    )


def interpolate_linear(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    step_seconds: int = 3600,
) -> DataFrame:
    """Regular-grid resampling with LINEAR interpolation per key: like
    ``resample_ffill`` but interior gap slots get the straight-line value
    between the surrounding observations (v_prev + (v_next−v_prev) ·
    (slot−prev)/(next−prev)) instead of a carried copy — the standard
    time-series upsampling for continuously-varying measures.

    Same single-scan, single-shuffle gaps-and-islands shape as
    ``resample_ffill`` (slot-dedup window, lead(slot, value) window, gap
    explode bounded by gap length); no extrapolation — the grid spans
    each key's observed range, so every emitted slot has both endpoints.
    The lerp is basic IEEE arithmetic from exact integer slots + observed
    doubles, written with the identical operation tree in the oracle —
    bit-reproducible cross-engine.

    Returns (key, slot, grid_ts, value, is_observed).
    """
    last_obs = _slot_observations(df, ts_col, key_col, value_col, step_seconds)
    w_key = Window.partitionBy(key_col).orderBy("__slot")
    with_next = last_obs.select(
        F.col(key_col),
        F.col("__slot"),
        F.col(value_col),
        F.lead("__slot").over(w_key).alias("__next"),
        F.lead(value_col).over(w_key).alias("__next_v"),
    )
    exploded = with_next.select(
        F.col(key_col),
        F.col("__slot"),
        F.col(value_col),
        F.col("__next"),
        F.col("__next_v"),
        F.explode(_fill_range()).alias("slot"),
    )
    lerp = F.col(value_col) + (F.col("__next_v") - F.col(value_col)) * (
        (F.col("slot") - F.col("__slot")).cast("double")
        / (F.col("__next") - F.col("__slot")).cast("double")
    )
    return exploded.select(
        key_col,
        "slot",
        F.timestamp_seconds(F.col("slot") * step_seconds).alias("grid_ts"),
        F.when(F.col("slot") == F.col("__slot"), F.col(value_col))
        .otherwise(lerp)
        .alias("value"),
        (F.col("slot") == F.col("__slot")).alias("is_observed"),
    )


def cohort_retention(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    period_seconds: int = 604_800,
) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity
    period (the cohort), counted in each later period they return —
    the (cohort, offset) → distinct-users triangle behind every
    retention curve. All exact integer arithmetic (epoch floor-division
    periods, exact count_distinct).

    Shape: one groupBy(key) for first-activity, one distinct over
    (key, period) — both partial-agg shuffles on the key — then a
    key-co-located join and a final (cohort, offset) aggregate whose
    cardinality is O(periods²), tiny at any corpus scale. The raw event
    table is scanned twice but never joined to itself row-to-row.
    """
    if period_seconds < 1:
        raise ValueError(f"period_seconds must be >= 1 (got {period_seconds})")
    period = F.floor(F.unix_timestamp(F.col(ts_col)) / period_seconds).cast("long")
    firsts = df.groupBy(key_col).agg(F.min(period).alias("cohort_period"))
    active = df.select(F.col(key_col), period.alias("period")).distinct()
    return (
        active.join(firsts, key_col)
        .groupBy(
            "cohort_period",
            (F.col("period") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(F.count_distinct(F.col(key_col)).cast("long").alias("n_users"))
    )


def ewma_bounded(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    value_col: str,
    alpha: float = 0.5,
    depth: int = 8,
) -> DataFrame:
    """Bounded-depth exponentially-weighted moving average per key.

    The textbook EWMA recursion ``s_t = a*x_t + (1-a)*s_{t-1}`` is not a
    window aggregate (each row's weight depends on its distance from the
    current row), so engines either run it as a serial per-key scan or
    truncate it. Here it is truncated at ``depth`` terms — the weight of
    the (depth+1)-th-oldest observation is ``(1-a)^depth``, below 0.4 %
    of the newest at the defaults — which turns it into a *closed-form
    lag chain*::

        ewma_t = sum_{i=0..d-1} a*(1-a)^i * x_{t-i}  /  (normalizer)

    built programmatically as ``lag(value, i)`` terms over one ordered
    window. The normalizer divides by the weight actually present, so
    the head of each series (fewer than ``depth`` rows back) is an exact
    average of what exists rather than biased toward 0.

    Shape: ONE shuffle (window partition on the key); the ``depth`` lag
    terms all share the single sorted pass — no self-join, no UDF, fully
    whole-stage-codegen. Safe at 100 TB for any depth that fits a
    projection (tested to 64).

    Reference scope: the reference has no time-series smoothing at all
    (SURVEY.md §2.7); this is part of the engine's superset.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1] (got {alpha})")
    if depth < 1:
        raise ValueError(f"depth must be >= 1 (got {depth})")
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    v = F.col(value_col).cast("double")
    # Left-fold the terms newest-first so the fp64 summation tree is the
    # fixed chain ((t0 + t1) + t2) ... — identical in any engine that
    # evaluates the same expression, which is what lets a SQL oracle
    # hash-match this exactly.
    num: Column = v * F.lit(alpha)
    den: Column = F.lit(alpha)
    decay = 1.0 - alpha
    for i in range(1, depth):
        coef = alpha * (decay**i)
        lagged = F.lag(v, i).over(w)
        num = num + F.coalesce(lagged * F.lit(coef), F.lit(0.0))
        den = den + F.when(lagged.isNull(), F.lit(0.0)).otherwise(F.lit(coef))
    return df.select(
        key_col,
        *[c for c in order_cols if c != key_col],
        v.alias(value_col),
        (num / den).alias("ewma"),
    )


def skyline_2d(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
    partition_cols: Sequence[str] | None = None,
) -> DataFrame:
    """2-D skyline (Pareto front): rows not dominated by any other row,
    where B dominates A iff B is <= on the minimized axis, >= on the
    maximized axis, and strictly better on at least one.

    The naive formulation is a quadratic NOT EXISTS self-join — fine for
    an oracle at sf0.01, fatal at 100 TB. The 2-D case collapses to a
    LINEAR scan over one sort order: sort by (min_col asc, max_col desc);
    a row is dominated iff some strictly-cheaper earlier row reaches its
    max_col value, i.e. iff ``max(max_col) over cheaper rows >= max_col``
    — one running-max window. Ties on both axes are co-skyline (neither
    strictly dominates), handled by computing the running max over the
    *previous distinct min_col value* (a range frame on a dense rank).

    Shape: one global sort (Spark range-partitions it — no single-task
    bottleneck for the sort itself) + one window. The window over ONE
    unpartitioned ordering is the scale caveat: the running max is
    computed per partition after a range repartition, which Spark
    handles, but the final window pass is sequential per range chunk;
    for 100 TB use the standard two-phase trick (per-partition skyline
    candidates first — the skyline of a union is a subset of the union
    of skylines — then this operator on the ~tiny candidate set). The
    per-partition pre-filter is applied below whenever the input has
    >1 partition, so the global window only ever sees local survivors.

    ``partition_cols`` computes an INDEPENDENT skyline per group ("the
    Pareto front per category") — the common production ask, and the
    better scale shape besides: every phase-2 window is then partitioned
    on the group key, so no global ordering exists anywhere in the plan
    and the sequential-final-pass caveat above disappears entirely.
    """
    prepared = (
        df
        # rows with NULL on either axis can neither dominate nor be
        # compared; dropping them up front keeps the window ordering
        # and the NOT-EXISTS oracle semantics aligned
        .filter(F.col(minimize_col).isNotNull() & F.col(maximize_col).isNotNull())
        .withColumn("__min", F.col(minimize_col).cast("double"))
        .withColumn("__neg_max", -F.col(maximize_col).cast("double"))
    )

    # Phase 1 — per-partition skyline via mapInPandas: dominated rows are
    # dominated by *somebody in their own partition or not at all* only in
    # the final pass; this pass merely prunes, keeping correctness with
    # any partitioning (skyline(U parts) ⊆ U skyline(parts)). With
    # partition_cols the prune runs per group within each physical
    # partition (a row can only be dominated by a same-group row).
    schema = prepared.schema
    gcols = list(partition_cols) if partition_cols else []

    def _local_skyline(batches):
        for pdf in batches:
            if pdf.empty:
                yield pdf
                continue
            s = pdf.sort_values(gcols + ["__min", "__neg_max"], kind="mergesort")
            if gcols:
                keys = [s[c] for c in gcols]
                run = s["__neg_max"].groupby(keys, sort=False, dropna=False).cummin()
                prev_run = run.groupby(keys, sort=False, dropna=False).shift(1)
                prev_min = s["__min"].groupby(keys, sort=False, dropna=False).shift(1)
            else:
                run = s["__neg_max"].cummin()
                prev_run = run.shift(1)
                prev_min = s["__min"].shift(1)
            # survivor iff no STRICTLY cheaper row had >= max; approximate
            # locally by keeping rows whose neg_max improves the running
            # min or that tie the previous row on the min axis (ties are
            # resolved exactly in phase 2).
            keep = (
                prev_run.isna()
                | (s["__neg_max"] <= prev_run)
                | (s["__min"] == prev_min)
            )
            yield s[keep]

    if prepared.rdd.getNumPartitions() > 1:
        prepared = prepared.mapInPandas(_local_skyline, schema=schema)

    # Phase 2 — exact global pass on the pruned set. "Strictly cheaper"
    # must NOT be expressed as rangeBetween(..., -1) on the raw double
    # (that frame means value <= current-1.0, silently excluding rows
    # within 1.0); instead a dense_rank over __min gives consecutive
    # integers per distinct cost, and a range frame ending at -1 on THAT
    # ordering is exactly "all rows with a strictly smaller __min".
    gkey = [F.col(c) for c in gcols]
    dr = F.dense_rank().over(Window.partitionBy(*gkey).orderBy(F.col("__min")))
    strict_window = (
        Window.partitionBy(*gkey)
        .orderBy(F.col("__dr"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    best_cheaper = F.min(F.col("__neg_max")).over(strict_window)
    same_cost_better = F.min(F.col("__neg_max")).over(
        Window.partitionBy(*gkey, F.col("__min"))
    )
    return (
        prepared.withColumn("__dr", dr)
        .withColumn("__best_cheaper", best_cheaper)
        .withColumn("__best_same", same_cost_better)
        .filter(
            # dominated by strictly-cheaper iff its best max >= ours
            # (negated: best __neg_max <= ours); survive on > or none.
            (
                F.col("__best_cheaper").isNull()
                | (F.col("__best_cheaper") > F.col("__neg_max"))
            )
            # a same-cost row with strictly larger max dominates too —
            # but if it merely ties, both stay (A itself is in the
            # partition, so best_same <= own; equality means no same-cost
            # row beats it).
            & (F.col("__best_same") >= F.col("__neg_max"))
        )
        .drop("__min", "__neg_max", "__dr", "__best_cheaper", "__best_same")
    )


def run_lengths(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    state_col: str,
) -> DataFrame:
    """Run-length encoding of a state column per key: consecutive rows
    with the same state collapse to one row with the run's length and
    span — the gaps-and-islands *value-change* variant (the gap-based
    variant is ``sessionize``; SURVEY.md §2.7 windows family).

    Island id = row_number − row_number-within-(key, state): constant
    inside a run, distinct across runs. All-integer arithmetic, so
    exact under any partitioning.

    Shape: ONE shuffle on the key (both row_numbers and the final
    groupBy share the key-partitioned sort; AQE coalesces). Output
    cardinality = number of runs ≤ input rows.
    """
    order = [F.col(c) for c in order_cols]
    w_key = Window.partitionBy(key_col).orderBy(*order)
    w_state = Window.partitionBy(key_col, state_col).orderBy(*order)
    marked = df.withColumn(
        "__island", F.row_number().over(w_key) - F.row_number().over(w_state)
    )
    return marked.groupBy(key_col, state_col, "__island").agg(
        F.count(F.lit(1)).cast("long").alias("run_len"),
        *[F.min(c).alias(f"{c}_first") for c in order_cols[:1]],
        *[F.max(c).alias(f"{c}_last") for c in order_cols[:1]],
    ).drop("__island")


def zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Per-group z-score outlier flagging with DECIMAL-exact moments.

    Mean and population variance are computed from exact decimal Σx and
    Σx² (order-independent under any partitioning — the same trick as
    the corr/stddev family), then each row's z-score is one
    deterministic fp64 expression. Rows with \\|z\\| > threshold are
    returned with their score.

    Shape: one partial-agg shuffle for the moments (output = one row
    per group, broadcast back), then a broadcast join + stateless
    projection over the full table — two scans, zero large shuffles.

    Constant groups: sxx/n − mean² can round to a tiny NEGATIVE in fp64,
    and sqrt of that is NaN — under Spark's NaN ordering, abs(NaN) > t
    is TRUE, which would flag EVERY row of a constant group. Guarded the
    same way as rolling_zscore: z is NULL unless var > 0, and NULL never
    passes the threshold filter.
    """
    x = F.col(value_col).cast("decimal(18,2)")
    moments = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("__sxx"),
    )
    joined = df.join(F.broadcast(moments), group_col)
    mean = F.col("__sx") / F.col("__n")
    var = F.col("__sxx") / F.col("__n") - mean * mean
    z = F.when(var > 0.0, (F.col(value_col).cast("double") - mean) / F.sqrt(var))
    return (
        joined.withColumn("zscore", z)
        .filter(F.col("zscore").isNotNull() & (F.abs(F.col("zscore")) > float(threshold)))
        .drop("__n", "__sx", "__sxx")
    )


def contingency_cells(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Chi-square contingency table with per-cell expected counts and
    contributions ((O−E)²/E) — returned as CELLS, not a single summed
    statistic, deliberately: the per-cell values are each ONE
    deterministic fp64 expression over exact integer counts (hash-safe
    cross-engine), whereas summing them is partitioning-order-dependent.
    A caller that wants the scalar χ² sums the column (and accepts
    ~1 ulp nondeterminism); the oracle-gated contract is the cell table.

    Shape: one groupBy(row,col) partial-agg shuffle for observed counts;
    the row/column marginals are tiny re-aggregations of THAT result
    (cells ≤ \\|rows\\|×\\|cols\\|, never the raw table), joined broadcast.
    """
    obs = df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("observed"))
    row_tot = obs.groupBy(row_col).agg(F.sum("observed").alias("__rt"))
    col_tot = obs.groupBy(col_col).agg(F.sum("observed").alias("__ct"))
    n = obs.agg(F.sum("observed").alias("__n"))
    o = (
        obs.join(F.broadcast(row_tot), row_col)
        .join(F.broadcast(col_tot), col_col)
        .crossJoin(F.broadcast(n))
    )
    expected = (
        F.col("__rt").cast("double")
        * F.col("__ct").cast("double")
        / F.col("__n").cast("double")
    )
    dev = F.col("observed").cast("double") - expected
    return o.select(
        row_col,
        col_col,
        F.col("observed").cast("long").alias("observed"),
        expected.alias("expected"),
        (dev * dev / expected).alias("contribution"),
    )


def rolling_zscore(
    df: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    value_col: str,
    window_rows: int = 20,
    min_periods: int = 10,
    threshold: float = 2.5,
    scale: int = 2,
) -> DataFrame:
    """Rolling-window anomaly detection: each row scored against the
    mean/stddev of its own trailing ``window_rows`` observations per
    key, flagged when |z| exceeds ``threshold`` — the streaming-shaped
    data-quality monitor (a fixed global z-score, see
    ``zscore_outliers``, can't follow drifting series).

    Determinism: the windowed Σx and Σx² run in DECIMAL (exact integer
    arithmetic — frame accumulation order can't change them), and only
    the final mean/var/z is fp64, one fixed expression tree, so an ANSI
    oracle matches bit-for-bit including the threshold boundary. The
    variance guard emits NULL (not NaN) when the trailing window is
    constant: ``sxx/n − mean²`` can round to a tiny negative on a
    constant window, and sqrt(negative) is engine-dependent.

    Shape: ONE shuffle (window partition on the key); both sums, the
    count, and the projection share one sorted pass. Row-frame windows
    stream in Spark — no per-group buffering beyond the frame.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    v = F.col(value_col).cast("double")
    dec = F.col(value_col).cast(f"decimal(18,{scale})")
    n = F.count(F.lit(1)).over(w)
    sx = F.sum(dec).over(w).cast("double")
    sxx = F.sum((dec * dec).cast(f"decimal(38,{2 * scale})")).over(w).cast("double")
    n_d = n.cast("double")
    mean = sx / n_d
    var = sxx / n_d - mean * mean
    z = F.when(var > F.lit(0.0), (v - mean) / F.sqrt(var))
    return (
        df.select(
            *df.columns,
            n.alias("__n"),
            z.alias("roll_z"),
        )
        .filter(
            (F.col("__n") >= min_periods)
            & F.col("roll_z").isNotNull()
            & (F.abs(F.col("roll_z")) > float(threshold))
        )
        .drop("__n")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bin_seconds: int = 3600,
) -> DataFrame:
    """Interval-OVERLAP join (half-open: ``l_start < r_end AND r_start <
    l_end``) — the two-sided generalization of the point-in-range join.
    A naive inequality join degenerates to a per-key cross product; here
    each interval explodes to the grid bins it covers and the join runs
    on (keys, bin) equality, so the work is Σ|bin-bucket|² — bounded by
    temporal co-location, not key cardinality. A pair spanning several
    shared bins is emitted once by CONSTRUCTION: only the canonical bin
    — the one containing max(l_start, r_start), which any overlapping
    pair shares — produces output, so no post-join distinct is needed.
    (A whole-row ``.distinct()`` here would also collapse genuinely
    duplicate input rows, silently changing the result multiplicity vs
    the SQL inequality join; the canonical-bin filter preserves exact
    bag semantics and saves the distinct's shuffle besides.) The EXACT
    overlap predicate then verifies.
    Binning is a complete candidate generator UNCONDITIONALLY: two
    overlapping intervals share some instant t, and both cover t's bin —
    so no bin width can lose a pair. Width only trades candidate-set
    false-positive rate (too wide: unrelated intervals co-bucket)
    against explode fan-out (too narrow: long intervals span many
    bins); pick it near the typical interval length.

    NULL semantics: a row with a NULL endpoint has no bins
    (``sequence`` of NULL is NULL, which ``explode`` drops), so
    NULL-interval rows silently leave the result — same as the SQL
    inequality predicate, which is never TRUE on NULL.

    Returns all left columns + right columns (caller should pre-select /
    alias to avoid collisions). Timestamps are compared in exact integer
    epoch-micros.
    """
    if bin_seconds < 1:
        raise ValueError(f"bin_seconds must be >= 1 (got {bin_seconds})")
    binw = int(bin_seconds) * 1_000_000

    def bins(start: str, end: str) -> Column:
        s = F.unix_micros(F.col(start))
        e = F.unix_micros(F.col(end))
        return F.sequence(
            F.floor(s / binw).cast("long"),
            # half-open end: an interval ending exactly on a bin edge
            # does not cover that next bin
            F.floor((e - 1) / binw).cast("long"),
        )

    l = left.withColumn("__bin", F.explode(bins(left_start, left_end)))
    r = right.withColumn("__bin", F.explode(bins(right_start, right_end)))
    joined = l.join(r, [*keys, "__bin"])
    # canonical bin = the bin of max(l_start, r_start); computed with the
    # SAME floor-division expression as bins() so the two can never
    # disagree on a boundary.
    canon = F.floor(
        F.greatest(
            F.unix_micros(F.col(left_start)), F.unix_micros(F.col(right_start))
        )
        / binw
    ).cast("long")
    joined = joined.filter(F.col("__bin") == canon).drop("__bin")
    overlap = (
        F.unix_micros(F.col(left_start)) < F.unix_micros(F.col(right_end))
    ) & (F.unix_micros(F.col(right_start)) < F.unix_micros(F.col(left_end)))
    return joined.filter(overlap)


def running_distinct(
    df: DataFrame,
    group_col: str,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Cumulative distinct count per group per day — "distinct users seen
    so far" — WITHOUT any windowed COUNT(DISTINCT) (which Spark doesn't
    support and which couldn't partial-aggregate anyway). Identity:
    cumulative distinct at day d = Σ first-appearances on days ≤ d. One
    groupBy finds each key's FIRST day per group (partial-agg min), one
    tiny aggregate counts first-appearances per (group, day), and the
    running sum windows over the per-day aggregate — |groups|×|days|
    rows, never the fact table. All integers: exact and oracle-provable.
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    firsts = df.groupBy(group_col, key_col).agg(F.min(day).alias("first_day"))
    news = firsts.groupBy(group_col, F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return news.select(
        group_col,
        F.col("day").cast("string").alias("day"),
        F.sum("n_new").over(w).cast("long").alias("cum_distinct"),
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_value_cols: Sequence[str],
    left_id: str,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join, ``direction='nearest'`` (completing the pandas
    ``merge_asof`` direction surface next to backward/forward): each
    left row matches the right row with the SMALLEST absolute timestamp
    distance, ties broken backward (the at-or-before row wins), and a
    tolerance beyond which the match is nulled.

    Built as the composition of the two verified single-direction
    carries joined on ``left_id`` (a caller-provided UNIQUE left key —
    required because picking the closer of two independently-computed
    matches needs row identity; a generated id would not survive two
    plan executions deterministically). Cost: two one-shuffle as-of
    joins + one co-keyed join on the id — still no inequality-join
    explosion anywhere.
    """
    # The matched right timestamp rides along as one more carried value
    # column (null-safe struct packing keeps per-row exactness), so each
    # directional result self-reports its match distance.
    vcols = [c for c in right_value_cols if c != right_ts] + [right_ts]
    b = asof_join(
        left, right, keys, left_ts, right_ts, vcols,
        direction="backward", tolerance_seconds=tolerance_seconds,
        null_safe=True,
    )
    f = asof_join(
        left, right, keys, left_ts, right_ts, vcols,
        direction="forward", tolerance_seconds=tolerance_seconds,
        null_safe=True,
    )
    bsel = b.select(
        F.col(left_id).alias("__id"),
        *[F.col(c).alias(f"__b_{c}") for c in vcols],
    )
    fsel = f.select(
        F.col(left_id).alias("__id"),
        *[F.col(c).alias(f"__f_{c}") for c in vcols],
    )
    lts = F.col(left_ts)

    def dist(mts: Column) -> Column:
        return F.abs(F.unix_micros(lts) - F.unix_micros(mts))

    bts = F.col(f"__b_{right_ts}")
    fts = F.col(f"__f_{right_ts}")
    use_b = F.when(bts.isNull(), F.lit(False)).otherwise(
        fts.isNull() | (dist(bts) <= dist(fts))
    )
    out_cols = [
        F.when(use_b, F.col(f"__b_{c}")).otherwise(F.col(f"__f_{c}")).alias(c)
        for c in vcols
        if c != right_ts
    ]
    matched = F.when(use_b, bts).otherwise(fts)
    return (
        left.join(bsel, left[left_id] == bsel["__id"]).drop("__id")
        .join(fsel, left[left_id] == fsel["__id"]).drop("__id")
        .select(*left.columns, *out_cols, matched.alias("matched_ts"))
    )


def differential_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    top_k: int = 50,
    min_count: int = 0,
) -> DataFrame:
    """Differential (hot/cold split) inner join — the production skew
    pattern that neither salting nor AQE fully covers: DETECT the hot
    keys (one bounded partial-agg profile, top_k rows collected), then
    route hot-key rows through a BROADCAST join of just the right
    side's hot slice while cold keys take the normal shuffle join;
    union. Hot keys never enter the shuffle, so no reducer ever
    receives a skewed partition — the straggler is gone, not merely
    split (salting) or re-planned after materialization (AQE skew
    join).

    The driver holds only ``top_k`` key values (an ``isin`` literal
    filter both sides prune on). Inner-join semantics; keys are routed
    exclusively (hot XOR cold), so result multiplicity is exactly the
    plain join's.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1 (got {top_k})")
    hot_rows = (
        left.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), key)
        .limit(top_k)
        .filter(F.col("__n") >= min_count)
        .select(key)
        .collect()
    )
    hot_keys = [r[key] for r in hot_rows]
    if not hot_keys:
        return left.join(right, key)
    is_hot = F.col(key).isin(hot_keys)
    hot = left.filter(is_hot).join(F.broadcast(right.filter(is_hot)), key)
    cold = left.filter(~is_hot).join(right.filter(~is_hot), key)
    return hot.unionByName(cold)


def gini_coefficient(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 2,
) -> DataFrame:
    """Per-group Gini concentration index via the sorted-rank identity
    ``G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n`` (xᵢ ascending) — how unequally a
    measure is distributed across a group (revenue per customer, tokens
    per document), the inequality summary dashboards actually plot.

    Exactness: Σx and Σ(i·xᵢ) run in DECIMAL (rank·value products are
    exact), so any partitioning hash-matches; within equal values the
    rank assignment is arbitrary but Σ(i·xᵢ) is INVARIANT (equal x
    multiplies an unchanged rank total), so no tiebreak column is
    needed for determinism. One window shuffle on the group key; the
    final arithmetic is one fp64 expression per group.
    """
    w = Window.partitionBy(group_col).orderBy(F.col(value_col))
    x = F.col(value_col).cast(f"decimal(18,{scale})")
    ranked = df.select(
        group_col,
        x.alias("__x"),
        F.row_number().over(w).cast("long").alias("__i"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__x").cast("double").alias("sx"),
        F.sum((F.col("__i") * F.col("__x")).cast(f"decimal(38,{scale})"))
        .cast("double")
        .alias("six"),
    )
    n, sx, six = F.col("n"), F.col("sx"), F.col("six")
    return agg.select(
        group_col,
        n.cast("long").alias("n_rows"),
        (F.lit(2.0) * six / (n * sx) - (n + F.lit(1.0)) / n).alias("gini"),
    )


def interpolate_segments(
    obs: DataFrame,
    queries: DataFrame,
    key_col: str,
    obs_ts_col: str,
    value_col: str,
    query_ts_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Relational linear interpolation: for each (key, query_ts), the
    linearly interpolated value between the two surrounding
    observations — the continuous-measure cousin of ``asof_join``
    (which carries the nearest value instead). Exact-integer end to
    end, so an ANSI oracle replays every cell:

    - observation values quantize AT BIRTH to ``floor(value * scale)``
      BIGINT micro-units; duplicate (key, ts) observations collapse to
      their MAX micro-value (a deterministic tie rule both engines share);
    - per key, consecutive observations form half-open segments
      [t0, t1) via one ``lead`` window (micros since epoch — integers);
    - a query at ``t0 <= q < t1`` gets
      ``v0m + ((v1m - v0m) * (q - t0)) DIV (t1 - t0)`` — one integer
      multiply + truncating division (Spark ``DIV`` and DuckDB ``//``
      both truncate toward zero, verified including negatives);
    - a query exactly at a key's LAST observation gets that value
      (the half-open segments cover every earlier observation point);
    - out-of-range queries are DROPPED (no extrapolation; keeps the
      output hash-stable).

    Scale shape: both sides shuffle once on the key; the segment join is an equi-join
    on the key with the range test as a residual filter, so Catalyst
    plans a plain shuffled hash/sort-merge join — no cartesian, no
    range explosion. Per-key observation counts bound the window state.

    Returns (key, query_ts, value_micro).
    """
    k, ts, v, qts = key_col, obs_ts_col, value_col, query_ts_col
    dedup = (
        obs.select(
            F.col(k),
            F.unix_micros(F.col(ts)).alias("__t"),
            F.floor(F.col(v).cast("double") * scale).cast("long").alias("__vm"),
        )
        .groupBy(k, "__t")
        .agg(F.max("__vm").alias("__vm"))
    )
    w = Window.partitionBy(k).orderBy("__t")
    seg = dedup.select(
        F.col(k),
        F.col("__t").alias("__t0"),
        F.col("__vm").alias("__v0"),
        F.lead("__t").over(w).alias("__t1"),
        F.lead("__vm").over(w).alias("__v1"),
    )
    q = queries.select(F.col(k), F.col(qts), F.unix_micros(F.col(qts)).alias("__q"))
    inner = (
        q.join(
            seg.filter(F.col("__t1").isNotNull()),
            on=[
                q[k] == seg[k],
                F.col("__q") >= F.col("__t0"),
                F.col("__q") < F.col("__t1"),
            ],
        )
        .select(
            q[k].alias(k),
            F.col(qts),
            F.expr(
                "CAST(CAST(__v0 AS DECIMAL(38,0))"
                " + ((CAST(__v1 AS DECIMAL(38,0)) - __v0) * (__q - __t0))"
                " DIV (__t1 - __t0) AS BIGINT)"
            ).alias("value_micro"),
        )
    )
    last = dedup.groupBy(k).agg(
        F.max("__t").alias("__t"),
    ).join(dedup, [k, "__t"]).select(F.col(k), "__t", "__vm")
    at_last = q.join(
        last, on=[q[k] == last[k], F.col("__q") == F.col("__t")]
    ).select(q[k].alias(k), F.col(qts), F.col("__vm").alias("value_micro"))
    return inner.unionByName(at_last)
