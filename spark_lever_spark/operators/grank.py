"""Distributed global ranking — the scale-safe substitute for an
unpartitioned ``Window.orderBy`` over a full table.

An unpartitioned ordered window (reference analog: a global sort feeding
a sequential scan, e.g. Spark's own ``RangePartitioner`` + zipWithIndex
idiom) routes every row through ONE task — the classic
single-partition-sort scale-killer flagged in SURVEY.md §4. This module
implements the textbook 2-pass alternative used by every distributed
ranking engine:

1. **Bin** each row by driver-collected LITERAL quantile bounds of the
   sort key (map-side; see ``_bin_expr`` for why literals, not a lazy
   broadcast subtree). Binning is a pure monotone function of the key, so
   ``(bin, key, tiebreaks)`` sorts identically to ``(key, tiebreaks)``.
2. **Offsets**: aggregate per-bin row counts (and value sums) — a frame
   of ``num_bins`` rows — and prefix-sum it with a window *over that
   tiny aggregate* (its SinglePartition exchange carries ≤ num_bins
   rows, never table data).
3. **Local rank**: ``row_number`` (and running sum) inside a window
   partitioned by ``_bin`` — parallel across bins — plus the broadcast
   bin offset equals the exact global rank (and global running sum).

The result is bit-identical to the single-task form: ranks are exact
integers and running sums add the same longs in the same order. Only the
physical plan changes — no task ever sees more than ~1/num_bins of the
data, so the shape survives a 100×/1000× scale-up (raise ``_NUM_BINS``
toward the cluster's core count). Degenerate input (all keys equal)
collapses to one bin and degrades gracefully to the single-task form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_NUM_BINS = 64


def with_global_rank(
    df: DataFrame,
    key: Column,
    tiebreaks: list[str],
    value: str | None = None,
    num_bins: int = _NUM_BINS,
) -> DataFrame:
    """Attach exact global-order columns to ``df`` without a global sort.

    Rows are ordered by ``(key ASC, *tiebreaks ASC)`` — pass a negated
    key for descending order. Adds:

    - ``_rk``   (long): 1-based global row_number,
    - ``_cum``  (long, when ``value`` given): running sum of ``value``
      up to and including the current row,
    - ``_n_tot`` (long): total row count,
    - ``_s_tot`` (long, when ``value`` given): total sum of ``value``.

    ``key`` must be non-null numeric; ``(key, *tiebreaks)`` must be
    unique for ``_rk`` to be deterministic (same contract as any
    ordered-window tiebreaker in this repo).
    """
    d = df.withColumn("_key", key)
    binned = d.withColumn("_bin", _bin_expr(d, "_key", num_bins))

    # Local ranks/cumsums FIRST; per-bin totals then derive from the
    # WINDOWED frame (max of the local rank = bin count; max_by on the
    # sort key = bin net sum, sign-safe), so the group-by rides the
    # window's partitioning with no new exchange and AQE reuses the one
    # data exchange — the input is scanned/binned once, not per pass.
    w_loc = Window.partitionBy("_bin").orderBy("_key", *tiebreaks)
    local = binned.withColumn(
        "_lrk", F.row_number().over(w_loc).cast("long")
    )
    if value is not None:
        local = local.withColumn(
            "_lcum",
            F.sum(value)
            .over(w_loc.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
    key_struct = F.struct(F.col("_key"), *[F.col(c) for c in tiebreaks])
    aggs = [F.max("_lrk").alias("_bn")]
    if value is not None:
        aggs.append(F.max_by("_lcum", key_struct).alias("_bs"))
    per_bin = local.groupBy("_bin").agg(*aggs)
    # prefix offsets over <= num_bins aggregated rows — the ONLY
    # unpartitioned window in the plan, and it never touches table data
    w_off = Window.orderBy("_bin").rowsBetween(Window.unboundedPreceding, -1)
    sel = [
        F.col("_bin"),
        F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_rk_off"),
        F.sum("_bn").over(
            Window.orderBy("_bin").rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n_tot"),
    ]
    drop = ["_key", "_bin", "_rk_off", "_lrk"]
    if value is not None:
        sel.append(F.coalesce(F.sum("_bs").over(w_off), F.lit(0)).alias("_cum_off"))
        sel.append(
            F.sum("_bs")
            .over(
                Window.orderBy("_bin").rangeBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("_s_tot")
        )
        drop.extend(["_cum_off", "_lcum"])
    offsets = per_bin.select(*sel)

    out = local.join(F.broadcast(offsets), "_bin").withColumn(
        "_rk", F.col("_lrk") + F.col("_rk_off")
    )
    if value is not None:
        out = out.withColumn("_cum", F.col("_lcum") + F.col("_cum_off"))
    return out.drop(*drop)


def ntile_from_rank(rk: Column, n: Column, k: int) -> Column:
    """SQL ``ntile(k)`` bucket as a pure function of (global rank, n).

    ntile gives the first ``n mod k`` buckets ``ceil(n/k)`` rows and the
    rest ``floor(n/k)`` — exactly: with base = n div k, rem = n mod k,
    rank r (1-based) lands in bucket ``ceil(r/(base+1))`` while
    r <= rem*(base+1), else ``rem + ceil((r-rem*(base+1))/base)``.
    Ceil-division runs through floor(double) — exact for n < 2^53
    (documented headroom; promote to DECIMAL beyond).
    """
    base = F.floor(n / F.lit(k)).cast("long")
    rem = (n % k).cast("long")
    big = rem * (base + 1)
    # ceil(a/b) over positive longs via floor((a + b - 1) / b)
    bucket_big = F.floor((rk + base) / (base + 1)).cast("long")
    bucket_small = rem + F.floor((rk - big + base - 1) / base).cast("long")
    return F.when((base == 0) | (rk <= big), bucket_big).otherwise(bucket_small)


def with_grouped_cumsum(
    df: DataFrame,
    part_cols: list[str],
    bin_key: Column,
    order_cols: list[str],
    value: str | list[str],
) -> DataFrame:
    """Running sum of ``value`` within each ``part_cols`` group,
    ordered by ``order_cols`` — 2-passed so a LOW-cardinality group key
    (a handful of sources/types) never routes a whole group through one
    task.

    ``bin_key`` must be a numeric column expression monotone
    non-decreasing in the group's sort order (e.g. the first order
    column itself, or a numeric prefix of a hash sort key): rows are
    bucketed by broadcast quantile bounds of ``bin_key``, the running
    sum is computed inside each (group, bucket) window — parallel
    across buckets — and broadcast per-bucket net offsets restore the
    exact global-within-group prefix sum (``_cum``, inclusive of the
    current row). Bit-identical to the single-task window: same longs
    added in the same order. ``part_cols`` may be empty (a global
    cumulative sum); ``value`` may be a list, yielding one
    ``_cum_<name>`` column per entry instead of ``_cum``.
    """
    binned = _quantile_binned(df, bin_key)
    single = isinstance(value, str)
    values = [value] if single else list(value)
    w_loc = (
        Window.partitionBy(*part_cols, "_cbin")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = binned.withColumns(
        {f"_lcum_{v}": F.sum(v).over(w_loc) for v in values}
    )
    # Per-bin nets come from the WINDOWED frame, not the raw input: the
    # bin net equals the LAST row's inclusive cumsum (max_by on the
    # order key — correct for negative values too), the group-by's
    # clustering is already satisfied by the window's partitioning (no
    # new exchange), and both consumers of `local` share one
    # ReusedExchange — the expensive input projection (e.g. a text
    # split) is scanned ONCE, not once per pass.
    key_struct = F.struct(*[F.col(c) for c in order_cols])
    per_bin = local.groupBy(*part_cols, "_cbin").agg(
        *[
            F.max_by(f"_lcum_{v}", key_struct).alias(f"_net_{v}")
            for v in values
        ]
    )
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_cbin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bin.select(
        *part_cols,
        "_cbin",
        *[
            F.coalesce(F.sum(f"_net_{v}").over(w_off), F.lit(0)).alias(
                f"_coff_{v}"
            )
            for v in values
        ],
    )
    out = local.join(F.broadcast(offsets), [*part_cols, "_cbin"]).withColumns(
        {
            ("_cum" if single else f"_cum_{v}"): F.col(f"_lcum_{v}")
            + F.col(f"_coff_{v}")
            for v in values
        }
    )
    return out.drop(
        "_cbin",
        *[f"_lcum_{v}" for v in values],
        *[f"_coff_{v}" for v in values],
    )


def _bin_expr(d: DataFrame, keycol: str, num_bins: int) -> Column:
    """Bucket expression over DRIVER-COLLECTED quantile bounds.

    The bounds are collected once and embedded as an array LITERAL (the
    repo's 'LSH plane literals' pattern — a sanctioned bounded collect)
    rather than broadcast-joined as a lazy aggregate subtree: the binned
    lineage feeds BOTH the local-rank/cumsum side and the per-bin
    offsets side of every 2-pass helper, and ``percentile_approx`` is
    not merge-order deterministic — with exchange reuse disabled (or a
    refactor that breaks it) the two branches could otherwise bin under
    DIFFERENT bounds and join on ``_bin`` silently wrong. A literal is
    provably evaluated once. One sketch answers all cut points: the
    array-percentile form builds a single QuantileSummaries pass
    (num_bins separate percentile_approx calls each re-sketch the full
    input — measured 15x slower at 4.5M rows).
    """
    bounds = d.agg(
        F.percentile_approx(
            keycol, [i / num_bins for i in range(1, num_bins)], 100
        )
    ).first()[0]
    if not bounds:  # empty input: type-stable zero bucket
        return F.lit(0)
    lit_bounds = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(lit_bounds, lambda b: F.col(keycol) > b))


def _quantile_binned(df: DataFrame, bin_key: Column) -> DataFrame:
    """Attach ``_cbin``: one of ``_NUM_BINS`` literal-quantile-bounds
    buckets of ``bin_key`` — monotone in the key, balanced by
    construction."""
    d = df.withColumn("_ckey", bin_key)
    return d.withColumn("_cbin", _bin_expr(d, "_ckey", _NUM_BINS)).drop("_ckey")


def with_grouped_prefix_max(
    df: DataFrame,
    part_cols: list[str],
    bin_key: Column,
    order_cols: list[str],
    value: str,
) -> DataFrame:
    """EXCLUSIVE running max of ``value`` within each ``part_cols``
    group ordered by ``order_cols`` — the prefix-max companion to
    ``with_grouped_cumsum`` (max is associative, so the same 2-pass
    applies): adds ``_pmax`` = max of ``value`` over all STRICTLY
    earlier rows in the group (null when there are none — matching the
    single-task ``rowsBetween(unboundedPreceding, -1)`` window
    exactly). Same binning/broadcast-offset shape; parallel across
    buckets."""
    binned = _quantile_binned(df, bin_key)
    w_loc = (
        Window.partitionBy(*part_cols, "_cbin")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = binned.withColumn("_lmax", F.max(value).over(w_loc))
    per_bin = binned.groupBy(*part_cols, "_cbin").agg(
        F.max(value).alias("_bmax")
    )
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_cbin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bin.select(
        *part_cols,
        "_cbin",
        F.max("_bmax").over(w_off).alias("_moff"),
    )
    return (
        local.join(F.broadcast(offsets), [*part_cols, "_cbin"])
        # greatest() skips nulls: first row of first bin -> null
        .withColumn("_pmax", F.greatest(F.col("_lmax"), F.col("_moff")))
        .drop("_cbin", "_lmax", "_moff")
    )
