"""Genomic-window predicate and coordinate helpers.

Reference: helpers.py:118-142 check_genomic_location — the de-facto
partition-pruning predicate (15 adapter call sites). Expressed as a plain
Column so Catalyst pushes it into the parquet/Iceberg scan; when the
triple/node tables are partitioned by `chr` this prunes partitions too.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def genomic_window(chr_col: Column, start_col: Column, end_col: Column,
                   chr: str | None = None,
                   start: int | None = None,
                   end: int | None = None) -> Column:
    """Column twin of check_genomic_location(chr, start, end, cur...).

    chr None  -> pass-all (import every chromosome)
    else      -> chr equality AND (start given => cur_start >= start)
                              AND (end given   => cur_end   <= end)
    """
    if chr is None:
        return F.lit(True)
    pred = chr_col == F.lit(chr)
    if start is not None and end is not None:
        pred = pred & (start_col.cast("long") >= start) & (end_col.cast("long") <= end)
    elif start is not None:
        pred = pred & (start_col.cast("long") >= start)
    elif end is not None:
        pred = pred & (end_col.cast("long") <= end)
    return pred


def interval_point_join(intervals, points, bucket: int = 10_000,
                        chrom: str = "chrom", start: str = "start",
                        end: str = "end", pos: str = "pos"):
    """Range join Spark has no native form of: every (chrom, pos) point
    paired with every half-open interval [start, end) containing it —
    variants-in-enhancers, reads-in-genes, the genomic workhorse.

    Scale shape (the standard binning strategy): intervals explode to
    the fixed-width buckets they cover, points map to their single
    bucket, the join is an EQUI-join on (chrom, bucket) — so Catalyst
    shuffles on a uniform composite key instead of falling into a
    broadcast-nested-loop over an inequality predicate — and the exact
    containment filter runs post-join. Each matching pair appears
    exactly once with NO distinct step, because a point owns exactly
    one bucket. Size `bucket` to the typical interval length: buckets
    per interval = len/bucket + 1, candidates per point = intervals
    overlapping its bucket.

    Returns intervals' columns + the point rows' columns (both sides'
    names must not collide apart from `chrom`)."""
    from pyspark.sql import functions as F

    # floor division, not cast-truncation: trunc rounds toward zero, so
    # negative coordinates (liftover deltas, relative offsets) would
    # land in the wrong bucket
    iv = intervals.withColumn(
        "_bkt",
        F.explode(F.sequence(F.floor(F.col(start) / bucket).cast("long"),
                             F.floor((F.col(end) - 1) / bucket)
                             .cast("long"))))
    pt = points.withColumn(
        "_bkt", F.floor(F.col(pos) / bucket).cast("long"))
    joined = iv.join(pt, [chrom, "_bkt"])
    return (joined.filter((F.col(pos) >= F.col(start))
                          & (F.col(pos) < F.col(end)))
            .drop("_bkt"))


def interval_overlap_join(left, right, bucket: int = 10_000,
                          chrom: str = "chrom",
                          l_start: str = "l_start", l_end: str = "l_end",
                          r_start: str = "r_start", r_end: str = "r_end"):
    """Interval-overlap range join: pairs where [l_start, l_end) and
    [r_start, r_end) intersect on the same chrom. Both sides explode to
    covered buckets and equi-join on (chrom, bucket); a pair spanning
    k shared buckets would surface k times, so it is emitted ONLY from
    its canonical bucket — the bucket of max(l_start, r_start) — which
    every overlapping pair shares exactly once (no distinct step, no
    duplicate shuffle volume)."""
    from pyspark.sql import functions as F

    lv = left.withColumn(
        "_bkt",
        F.explode(F.sequence(F.floor(F.col(l_start) / bucket).cast("long"),
                             F.floor((F.col(l_end) - 1) / bucket)
                             .cast("long"))))
    rv = right.withColumn(
        "_bkt",
        F.explode(F.sequence(F.floor(F.col(r_start) / bucket).cast("long"),
                             F.floor((F.col(r_end) - 1) / bucket)
                             .cast("long"))))
    joined = lv.join(rv, [chrom, "_bkt"])
    overlap = (F.col(l_start) < F.col(r_end)) \
        & (F.col(r_start) < F.col(l_end))
    canonical = F.floor(
        F.greatest(F.col(l_start), F.col(r_start)) / bucket
    ).cast("long") == F.col("_bkt")
    return joined.filter(overlap & canonical).drop("_bkt")


def merge_intervals(df, key_cols: list, start_col: str = "start",
                    end_col: str = "end", slack: int = 0):
    """Coalesce overlapping-or-near intervals per key (bedtools merge
    / TimescaleDB range aggregation): intervals whose gap to the
    running merged block is <= `slack` join it; output one row per
    merged block with (key..., start, end, n_merged). Intervals are
    CLOSED ([start, end], the BED-after-rebase convention used by the
    range joins above); end >= start enforced by filter semantics —
    rows with end < start or NULL bounds are dropped, not guessed.

    The recurrence is the classic running-max island detector: order
    per key by (start, end); a row OPENS a new block iff its start
    exceeds the max end seen so far (exclusive of itself) plus slack;
    the block id is the running count of opens. One key shuffle, two
    ordered window passes, one groupBy — all on the same partitioning
    (Catalyst reuses the exchange). A mega-key serializes like any
    per-key ordered recurrence; the as-of bucket pre-pass pattern
    (operators/temporal.py) is the split template if profiled.

    DuckDB twin: interval_merge_sql — same recurrence, DuckDB's
    window spelling."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if slack < 0:
        raise ValueError(f"slack must be >= 0, got {slack}")
    if not key_cols:
        raise ValueError("need at least one key column")
    s, e = F.col(start_col), F.col(end_col)
    base = df.filter(s.isNotNull() & e.isNotNull() & (e >= s))
    w_prev = (Window.partitionBy(*key_cols)
              .orderBy(start_col, end_col)
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy(*key_cols)
             .orderBy(start_col, end_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    prev_max = F.max(e).over(w_prev)
    opens = F.when(prev_max.isNull() | (s > prev_max + slack), 1).otherwise(0)
    return (base
            .withColumn("_open", opens)
            .withColumn("_blk", F.sum("_open").over(w_run))
            .groupBy(*key_cols, "_blk")
            .agg(F.min(start_col).alias(start_col),
                 F.max(end_col).alias(end_col),
                 F.count(F.lit(1)).cast("long").alias("n_merged"))
            .drop("_blk"))


def interval_merge_sql(intervals_sql: str, key_cols: list,
                       start_col: str = "start", end_col: str = "end",
                       slack: int = 0) -> str:
    """DuckDB twin of merge_intervals (same island recurrence)."""
    if slack < 0 or not key_cols:
        raise ValueError("slack must be >= 0 and key_cols non-empty")
    keys = ", ".join(key_cols)
    return f"""WITH im_base AS MATERIALIZED (
  SELECT * FROM (
{intervals_sql.strip()}
  ) WHERE {start_col} IS NOT NULL AND {end_col} IS NOT NULL
        AND {end_col} >= {start_col}
), im_marked AS MATERIALIZED (
  SELECT *,
    CASE WHEN max({end_col}) OVER (
           PARTITION BY {keys} ORDER BY {start_col}, {end_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR {start_col} > max({end_col}) OVER (
           PARTITION BY {keys} ORDER BY {start_col}, {end_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + {slack}
         THEN 1 ELSE 0 END AS im_open
  FROM im_base
), im_blocks AS MATERIALIZED (
  SELECT *, sum(im_open) OVER (
    PARTITION BY {keys} ORDER BY {start_col}, {end_col}
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS im_blk
  FROM im_marked
)
SELECT {keys}, min({start_col}) AS {start_col},
       max({end_col}) AS {end_col},
       CAST(count(*) AS BIGINT) AS n_merged
FROM im_blocks
GROUP BY {keys}, im_blk"""
