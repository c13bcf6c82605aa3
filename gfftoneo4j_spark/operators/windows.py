"""Ordered operators: stable ordering, consecutive pairing, event-time
windows and joins.

Reference analogues (SURVEY.md §2.5):
- W1 sort-within-group  (GenesToNeo4j.scala:22)  -> window orderBy
- W2 zip-with-tail pair (Neo4JUtils.scala:45-51) -> lead() + filter; the
  pipeline pairs in plans/pipeline.py, mega-groups via segmented_lead
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _with_segment(df: DataFrame, seg_source: str, segment_rows: int) -> DataFrame:
    return df.withColumn(
        "__seg", F.floor(F.col(seg_source) / F.lit(segment_rows)).cast("long")
    )


def _segmented_shift(df, part, order, cols, segment_rows, prefix, shift, pick):
    """Shared body of segmented_lead (``shift=F.lead``, ``pick=F.min``:
    boundaries filled from the next segment's first row) and
    segmented_lag (``F.lag``, ``F.max``: from the previous segment's
    last row)."""
    seg = _with_segment(df, order[0], segment_rows)
    w_in = Window.partitionBy(part, "__seg").orderBy(*order)
    out = seg.withColumns({prefix + c: shift(c).over(w_in) for c in cols})
    # order fields first (lexicographic min/max = first/last row in
    # window order), carried cols aliased uniquely (a col may also be
    # an order key)
    row_struct = F.struct(
        *[F.col(o).alias(f"__o{i}") for i, o in enumerate(order)],
        *[F.col(c).alias(f"__c_{c}") for c in cols],
    )
    ends = seg.groupBy(part, "__seg").agg(pick(row_struct).alias("__end"))
    w_seg = Window.partitionBy(part).orderBy("__seg")
    boundary = ends.select(part, "__seg", shift("__end").over(w_seg).alias("__nb"))
    out = out.join(boundary, [part, "__seg"], "left")
    # the in-segment shift is null exactly on the segment's edge row;
    # fill it from the neighbouring segment's end row
    fill = {prefix + c: F.coalesce(prefix + c, f"__nb.__c_{c}") for c in cols}
    return out.withColumns(fill).drop("__seg", "__nb")


def segmented_lead(
    df: DataFrame,
    part: str,
    order: Sequence[str],
    cols: Sequence[str],
    segment_rows: int,
    prefix: str = "next_",
) -> DataFrame:
    """lead(c) over (partitionBy(part) orderBy(order)) for each c in
    ``cols`` — computed WITHOUT ever materializing a whole partition in
    one task, so a mega-conversation holding 10^10 turns cannot produce
    a straggler/OOM window task (the north_rule's mega-conversation
    skew; plain windows cannot be salted without breaking lead chains).

    Mechanics: rows are range-segmented on floor(order[0]/segment_rows)
    (ties on order keys share a segment by construction); an in-segment
    window produces every lead except the segment-last row, and a tiny
    per-segment "first row" table — |partition|/segment_rows rows,
    min-struct aggregated, so map-side combinable — is lead()-ed over
    segments and joined back to stitch the boundaries. The stitch join
    is keyed (part, __seg), the same partitioning the in-segment window
    already established.

    Requirements: order keys unique per partition (plain lead is
    ill-defined under ties anyway) and ``cols`` non-null (boundary fill
    uses coalesce). order[0] must be numeric and roughly dense."""
    return _segmented_shift(df, part, order, cols, segment_rows, prefix, F.lead, F.min)


def segmented_lag(
    df: DataFrame,
    part: str,
    order: Sequence[str],
    cols: Sequence[str],
    segment_rows: int,
    prefix: str = "prev_",
) -> DataFrame:
    """lag() twin of segmented_lead (same contract; boundary fill comes
    from the previous segment's LAST row via a max-struct)."""
    return _segmented_shift(df, part, order, cols, segment_rows, prefix, F.lag, F.max)


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Event-time sessionization: a new session starts whenever the gap
    to the previous event of the same key exceeds ``gap_seconds``.

    One window exchange on the key does everything: lag for the gap,
    a running sum of session-start flags for the session index — then
    one map-side-combinable groupBy rolls sessions up. Returns
    (key, session_id, n_events, t_start, t_end) with epoch-second
    bounds (integers travel across engines; raw timestamps don't
    hash portably).

    The batch twin of Structured Streaming's session_window: the same
    assignment logic a stream job applies with a watermark, expressed
    over history. Skew note: partitions by key only — a single
    pathological key serializes its own timeline (inherent to the
    semantics); AQE splits the rest.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    ep = F.unix_timestamp(F.col(ts_col))
    gap = ep - F.lag(ep).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    with_sess = df.select(
        F.col(key_col).alias("key"),
        ep.alias("ep"),
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int")
        .alias("session_id"),
    )
    return with_sess.groupBy("key", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ep").alias("t_start"),
        F.max("ep").alias("t_end"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str,
    val_col: str,
) -> DataFrame:
    """Distributed as-of join: for every left row, the latest right row
    of the same key with right.ts <= left.ts (inclusive).

    Spark has no ASOF JOIN operator; a range-join would explode to
    |L|x|R| per key before filtering. The union trick does it in ONE
    window exchange: tag right rows 0 and left rows 1, union, sort by
    (key, ts, tag) and carry the last non-null right value forward
    with last(..., ignoreNulls) — right rows at the exact left
    timestamp sort first, so the match is inclusive. Cost is a single
    shuffle of |L|+|R| rows; no pair blow-up at any key cardinality.

    The right side is pre-aggregated to one row per (key, ts) (max of
    ``val_col``) so the matched value is deterministic under
    duplicate timestamps — the same tie rule DuckDB's native ASOF
    JOIN oracle resolves to after the identical pre-aggregation.
    """
    r = right.groupBy(
        F.col(on).alias("key"), F.col(ts_col).alias("ts")
    ).agg(F.max(val_col).alias("r_val"))
    l_tag = left.select(
        F.col(on).alias("key"),
        F.col(ts_col).alias("ts"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("r_ep"),
        F.lit(None).cast(r.schema["r_val"].dataType).alias("r_val"),
    )
    r_tag = r.select(
        "key",
        "ts",
        F.lit(0).alias("tag"),
        F.unix_timestamp("ts").alias("r_ep"),
        "r_val",
    )
    w = (
        Window.partitionBy("key")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = l_tag.unionByName(r_tag).select(
        "key",
        "ts",
        "tag",
        F.last("r_ep", ignorenulls=True).over(w).alias("matched_ep"),
        F.last("r_val", ignorenulls=True).over(w).alias("matched_val"),
    )
    return u.where(F.col("tag") == 1).select(
        "key",
        F.unix_timestamp("ts").alias("l_ep"),
        "matched_ep",
        "matched_val",
    )


def binned_interval_join(
    facts: DataFrame,
    ts_col: str,
    intervals: DataFrame,
    lo_col: str,
    hi_col: str,
    granularity: int,
) -> DataFrame:
    """Range join (fact.ts BETWEEN interval.lo AND interval.hi) as an
    EQUI-join on time bins.

    A naive interval join has no equality key, so Catalyst falls back
    to BroadcastNestedLoopJoin — O(|facts| * |intervals|) comparisons,
    dead at 10^12 facts x 10^6 intervals. The standard fix: bucket
    both sides at a granularity >= the max interval width, explode
    each interval into the (<= 2) buckets it touches, hash-join on the
    bucket, then apply the exact BETWEEN as a cheap post-filter. Work
    becomes O(|facts| + |intervals| + |matches|) with one shuffle per
    side, and AQE handles bucket skew like any other hash join.

    ``granularity`` (seconds) tunes the fan-out: an interval explodes
    into ceil(width/granularity)+1 bucket rows, so pick granularity
    ~= the typical interval width — correctness holds for ANY width
    (wider intervals just emit more bucket rows). Timestamps are
    integer epoch seconds on both sides.

    Returns facts columns + the matched interval's columns.
    """
    ep = F.unix_timestamp(F.col(ts_col)).cast("bigint")
    f = facts.withColumn("_bin", F.floor(ep / granularity))
    iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / granularity),
                F.floor(F.col(hi_col) / granularity),
            )
        ),
    )
    joined = f.join(iv, "_bin").where(
        ep.between(F.col(lo_col), F.col(hi_col))
    )
    return joined.drop("_bin")


def merge_intervals(
    df: DataFrame,
    key: str,
    start: str = "start",
    end: str = "end",
) -> DataFrame:
    """Coalesce overlapping/touching intervals per ``key`` into maximal
    disjoint spans (gaps-and-islands): an interval starts a new island
    iff its start exceeds the running max end of everything before it.

    The span-merge primitive behind session stitching, duplicate-span
    consolidation (operators/dedup.py uses the same pattern inline),
    and availability/uptime rollups.

    Scale shape: two windows over the SAME (key, ordering) partition —
    one running max-end (lag'd) to flag island starts, one running sum
    to number islands — then one combinable groupBy. Spark evaluates
    both windows in a single sort+exchange on the key (same
    partitioning, same ordering), so the whole operator is ONE shuffle.
    Per-key skew follows the window-family story: a mega-key serializes
    its own sort, the segmented-window variants exist for that regime.

    Returns (key, island start, island end, n_merged), bit-stable for
    any input order: the window ordering ties are broken by (start,
    end), making islands a pure function of the interval SET.
    """
    w = Window.partitionBy(key).orderBy(start, end)
    prev_max_end = F.max(F.col(end)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.select(key, start, end).withColumn(
        "_new",
        F.when(
            prev_max_end.isNull() | (F.col(start) > prev_max_end), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "_island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return islands.groupBy(key, "_island").agg(
        F.min(start).alias(start),
        F.max(end).alias(end),
        F.count(F.lit(1)).alias("n_merged"),
    ).select(key, start, end, "n_merged")


def segmented_running_sum(
    df: DataFrame,
    part: str,
    order: Sequence[str],
    value: str,
    segment_rows: int,
    out_col: str = "running_sum",
) -> DataFrame:
    """Running sum over (partitionBy(part) orderBy(order)) computed
    WITHOUT a whole-partition window task — the mega-user hardening
    for cumulative features (cusum_changepoints' scale path, the
    running twin of segmented_lead/lag). A plain running window puts
    one user's entire history in one task; here rows are
    range-segmented on order[0], the in-segment running sum is a
    bounded window (<= segment_rows rows per task), and the
    cross-segment carry is a running sum over the per-segment TOTALS —
    |partition| / segment_rows rows, map-side-combinable aggregation
    first. The stitch join reuses the (part, __seg) partitioning the
    in-segment window established.

    Exactness: bit-exact for integer/decimal values (addition is
    associative); for doubles the re-association can differ from the
    sequential window in the last ulps — the parity pytest pins
    integers exactly and doubles to 1e-9.

    Same contract as segmented_lead: order keys unique per partition,
    order[0] numeric and roughly dense."""
    seg = _with_segment(df, order[0], segment_rows)
    w_in = (
        Window.partitionBy(part, "__seg")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seg = (
        Window.partitionBy(part)
        .orderBy("__seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = seg.groupBy(part, "__seg").agg(F.sum(value).alias("__segtot"))
    offsets = totals.select(
        part,
        "__seg",
        F.coalesce(F.sum("__segtot").over(w_seg), F.lit(0)).alias("__off"),
    )
    return (
        seg.withColumn("__in", F.sum(value).over(w_in))
        .join(offsets, [part, "__seg"])
        .withColumn(out_col, F.col("__in") + F.col("__off"))
        .drop("__seg", "__in", "__off")
    )
