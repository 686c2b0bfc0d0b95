"""Joins — SURVEY.md §2.3, plus the join types Spark adds for free and the
as-of/range joins a timeseries/training pipeline needs.

The reference has exactly two joins, both broadcast-hash with an
in-memory right side cloned into every task (par_stream/join.rs:14-125):
``inner_join`` and ``left_join``. At 100 TB that only works when the right
side fits in executor memory — Spark's planner picks broadcast vs
shuffled-hash vs sort-merge by size (plus AQE runtime demotion), so our
wrappers *hint* broadcast for known-small dims and otherwise let Catalyst
choose. Null keys never match (reference key equality is Eq+Hash on
non-null values ≈ Spark's null-unsafe equi-join).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def inner_join(
    left: DataFrame, right: DataFrame, on, broadcast_right: bool = True
) -> DataFrame:
    """Reference ``inner_join`` (par_stream.rs:118-126, join.rs:71-125).
    broadcast_right=True reproduces the reference's physical strategy;
    set False for fact-fact joins so Catalyst/AQE picks shuffle-side."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how="inner")


def left_join(
    left: DataFrame, right: DataFrame, on, broadcast_right: bool = True
) -> DataFrame:
    """Reference ``left_join`` (par_stream.rs:107-115, join.rs:14-67)."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how="left")


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS — beyond the reference (Spark-native left_semi)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS — beyond the reference (left_anti)."""
    return left.join(right, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on_keys: Sequence[str],
    left_time: str,
    right_time: str,
    direction: str = "backward",
    left_id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_time <= left_time (direction='backward'; 'forward' = earliest
    right_time >= left_time), per key. Not in the reference; standard in
    timeseries engines.

    Implementation: the **union-merge plan** — tag both sides, union
    them, and run ONE window per key ordered by (time, side) carrying
    ``last(right_row, ignorenulls=True)``; each left row then reads the
    most recent right row directly off the running carry. Right rows
    sort *before* left rows at equal timestamps so the inclusive bound
    (<= / >=) holds. Cost is O(L+R) rows through a single shuffle (the
    window's partitionBy) — no join node at all. The previous
    conditional-join formulation (kept as ``asof_join_conditional`` for
    small right sides) materialized every left×earlier-right pair per
    key before rank-1 pruning: O(L×R) per key.

    ``left_id_cols`` is accepted for API compatibility but unused — the
    union-merge never collapses duplicate left rows (each flows through
    the window as its own row).
    """
    from pyspark.sql import Window

    del left_id_cols  # not needed: no dedup risk in the union-merge plan
    keys = list(on_keys)
    asc = direction == "backward"
    lpay = [c for c in left.columns if c not in keys]
    lu = left.select(
        *keys,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in lpay]).alias("__l"),
        F.lit(None).cast(
            "struct<" + ", ".join(f"{c}: {right.schema[c].dataType.simpleString()}" for c in right.columns) + ">"
        ).alias("__r"),
    )
    ru = right.select(
        *keys,
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(
            "struct<" + ", ".join(f"{c}: {left.schema[c].dataType.simpleString()}" for c in lpay) + ">"
        ).alias("__l"),
        F.struct(*[F.col(c) for c in right.columns]).alias("__r"),
    )
    both = lu.unionByName(ru)
    # backward: ascending time, right(0) before left(1) at equal t so the
    # carry includes right rows AT the left timestamp (inclusive bound).
    # forward: descending time, same tie order — carry = earliest >= t.
    order = [F.col("__t").asc(), F.col("__is_left").asc()] if asc else [
        F.col("__t").desc(),
        F.col("__is_left").asc(),
    ]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = both.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    keep = (
        [F.col(k) for k in keys if k in left.columns]
        + [F.col(f"__l.{c}").alias(c) for c in lpay]
        + [F.col(f"__m.{c}").alias(f"r_{c}") for c in right.columns]
    )
    out = carried.filter(F.col("__is_left") == 1).select(*keep)
    # restore left's column order (keys may appear anywhere in it)
    return out.select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"r_{c}") for c in right.columns],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    on_keys: Sequence[str] = (),
    bin_width: float = 1.0,
) -> DataFrame:
    """Interval/range join: each ``points`` row joins every ``intervals``
    row with ``lo_col <= point_col <= hi_col`` (inclusive), optionally
    also matching ``on_keys`` equi-keys. Not in the reference; standard
    in timeseries/geo engines.

    OSS Spark plans a pure non-equi join as BroadcastNestedLoopJoin —
    O(points x intervals) compares and a mandatory broadcast, a
    scale-killer on two fact tables. This is the **binned plan**: pick a
    bin width, explode each interval to the bins it overlaps, map each
    point to its single bin, equi-join on (keys..., bin), then apply the
    exact predicate. Each matching (point, interval) pair meets in
    exactly one bin (the point's), so multiplicity is exact — no dedup
    stage. Cost: one shuffle on the bin key; the interval side inflates
    by ~ceil(interval_length / bin_width), so set ``bin_width`` near the
    typical interval length (2-3 bins per interval).

    Monotonicity of IEEE division guarantees bin(point) lies within
    [bin(lo), bin(hi)] whenever lo <= point <= hi, so the binning never
    drops a true match, including at boundaries.

    Columns ``point_col``/``lo_col``/``hi_col`` must be numeric (cast
    dates to epoch days first, e.g. ``datediff(d, '1970-01-01')``).
    """
    keys = list(on_keys)
    w = float(bin_width)
    p = points.withColumn(
        "__bin", F.floor(F.col(point_col).cast("double") / w).cast("bigint")
    )
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col).cast("double") / w).cast("bigint"),
                F.floor(F.col(hi_col).cast("double") / w).cast("bigint"),
            )
        ),
    )
    out = p.join(iv, on=keys + ["__bin"], how="inner").filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
    )
    return out.drop("__bin")


def asof_join_conditional(
    left: DataFrame,
    right: DataFrame,
    on_keys: Sequence[str],
    left_time: str,
    right_time: str,
    direction: str = "backward",
    left_id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Conditional-join as-of (the small-right-side fallback): SMJ on the
    keys with the time predicate as a post-join filter, then one window
    per left row keeps the closest match. O(L×R_key) pre-rank — fine when
    the right side is small or sparse per key; use ``asof_join`` (union-
    merge, O(L+R)) otherwise."""
    from pyspark.sql import Window

    lt, rt = F.col(f"l.{left_time}"), F.col(f"r.{right_time}")
    cond = rt <= lt if direction == "backward" else rt >= lt
    for k in on_keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    # a synthetic row id guarantees 1:1 output with left input even when
    # the left side contains fully-duplicate rows (partitioning on all
    # left columns would collapse them to one output row)
    if left_id_cols:
        left_keyed = left
        part_cols = list(left_id_cols)
    else:
        left_keyed = left.withColumn("__lid", F.monotonically_increasing_id())
        part_cols = ["__lid"]
    l, r = left_keyed.alias("l"), right.alias("r")
    joined = l.join(r, on=cond, how="left")
    order = rt.desc() if direction == "backward" else rt.asc()
    w = Window.partitionBy(*[F.col(f"l.{c}") for c in part_cols]).orderBy(order)
    ranked = joined.withColumn("__rn", F.row_number().over(w))
    keep = [F.col(f"l.{c}").alias(c) for c in left.columns] + [
        F.col(f"r.{c}").alias(f"r_{c}") for c in right.columns
    ]
    return ranked.filter(F.col("__rn") == 1).select(*keep)


def temporal_join(
    fact: DataFrame,
    versions: DataFrame,
    on_keys: Sequence[str],
    fact_time: str,
    version_start: str,
) -> DataFrame:
    """Validity-interval (temporal) join: each fact row picks the
    dimension VERSION that was current at its timestamp — the consumer
    side of SCD type 2 (operators/scd.py produces the versions; this
    reads them). A version is current for [its start, next start), so
    "current at t" == "latest version with start <= t", which is
    exactly the backward as-of join — the O(L+R) union-merge plan, one
    shuffle, no interval BETWEEN join (the naive
    fact x versions ON t BETWEEN start AND end plans as a
    BroadcastNestedLoopJoin and is quadratic inside hot keys).

    Facts earlier than every version get NULL dimension columns (no
    version was current yet) — the same cold-start semantics as the
    stream-static enrichment."""
    return asof_join(
        fact, versions, on_keys, fact_time, version_start, direction="backward"
    )


def bucket_pairs(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str,
    payload: Sequence[str] = (),
    cap: int | None = None,
) -> DataFrame:
    """Every pair of rows sharing a bucket (equal ``keys``) — the
    candidate stage of the banded near-dup operators (minhash, simhash,
    fuzzy deletion blocking, embedding LSH).

    Returns ``{id_col}_a, {id_col}_b`` plus ``{p}_a, {p}_b`` for each
    ``payload`` column, distinct, with ``{id_col}_a < {id_col}_b`` and
    each payload value kept with its own id. Rows with EQUAL ids never
    pair: a repeated id (or two blocking variants of one key colliding
    in a bucket) is not a candidate. ``cap`` drops buckets holding more
    than that many rows whole, before any pair is emitted (None = off).

    Plan: ONE groupBy collects each bucket into the list ``ds`` and the
    pairs explode out of it (posexplode + slice) — one Exchange, where a
    ``bucket ⋈ bucket`` self-join computed the bucket subtree once per
    side and shuffled both. Output is O(d²) per bucket of d rows either
    way; the list sits in one agg buffer, so ``cap`` is the at-scale
    guard against a hot bucket. Without payload the list holds bare ids.

    Two pair generators stay on their self-join because the bucket-group
    measured WORSE there (OPTIMIZATION_r16): ngram_jaccard_pairs (a far
    denser pair multiset that only feeds a COUNT — the join's streamed
    partial aggregation beat per-hash doc lists, 20.4 s vs 14.5 s on the
    perturbed 10× probe) and semantic_dedup_stats (its lists would carry
    the embeddings; collecting vectors cost more than the cell self-join
    at sampled-cell scale)."""
    cols = [id_col, *payload]
    elem = F.struct(*cols) if payload else F.col(id_col)
    size_ok = F.size("ds") >= 2
    if cap is not None:
        size_ok = size_ok & (F.size("ds") <= cap)
    x_id, y_id = (
        (F.col(f"__x.{id_col}"), F.col(f"__y.{id_col}"))
        if payload
        else (F.col("__x"), F.col("__y"))
    )
    # least/greatest order whole elements: ids differ after the filter
    # and lead each struct, so the id alone decides which side is _a
    pairs = (
        df.groupBy(*keys)
        .agg(F.collect_list(elem).alias("ds"))
        .where(size_ok)
        .select(F.posexplode("ds").alias("__i", "__x"), "ds")
        .select(
            "__x",
            F.explode(F.expr("slice(ds, __i + 2, size(ds))")).alias("__y"),
        )
        .where(x_id != y_id)
        .select(
            F.least("__x", "__y").alias("__lo"),
            F.greatest("__x", "__y").alias("__hi"),
        )
    )
    if not payload:
        out = [F.col("__lo").alias(f"{id_col}_a"), F.col("__hi").alias(f"{id_col}_b")]
    else:
        out = [F.col(f"__lo.{c}").alias(f"{c}_a") for c in cols] + [
            F.col(f"__hi.{c}").alias(f"{c}_b") for c in cols
        ]
    return pairs.select(*out).distinct()
