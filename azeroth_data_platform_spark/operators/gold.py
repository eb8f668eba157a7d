"""Gold-layer analytics operators (SURVEY.md §2.5/§2.8, A1–A7 + F7).

The reference declares these via its serving-layer ORM schemas — the gold
asset files are one-line stubs — so the column lists below ARE the spec:

  A1 daily market summary      /root/reference/backend_api/app/models.py:30-44
  A2 hourly OHLC candles       /root/reference/backend_api/app/models.py:46-58
  A3 7-day rolling z-score     /root/reference/backend_api/app/models.py:60-72
                               (stub: data_pipeline/assets/gold/gold_safe_investments.py:1)
  A4 demand / sales velocity   /root/reference/backend_api/app/models.py:74-84
                               (stub: data_pipeline/assets/gold/gold_sales_velocity.py:1)
  A5 market concentration      /root/reference/backend_api/app/models.py:86-97
  A6 market index + inflation  /root/reference/backend_api/app/models.py:99-105
  A7 sector trends             (stub: data_pipeline/assets/gold/gold_sector_trends.py:1,
                               item_class from data_pipeline/utils/database.py:35)

Semantics choices (reference is silent; fixed here and mirrored in the
oracle SQL — see SURVEY.md §7):
  * median is exact (interpolated), not approximate;
  * "current_price" for A3 is the day's min price (the floor a buyer faces);
  * the 7-day frame is calendar days: rangeBetween(-6, 0) over a day number,
    so gap days shrink the window rather than stretching it;
  * z thresholds: z <= -2 → BUY, z >= +2 → SELL, else HOLD;
  * first-day lag-nulls stay NULL (A4 sales, A6 inflation);
  * all floor ties count toward floor quantity (A5);
  * stddev is the sample flavor;
  * gold values do not depend on silver retention: a pipeline refresh
    derives A3/A4/A6 from the persisted daily summary (A1) through the
    `*_from_daily` / `index_*` kernels below, which the silver-fed
    operators share, so a lookback sees the item's earlier days whether
    or not silver still holds them (plans/pipeline.py);
  * A7 takes item_class from the dim as of the day's own refresh: a
    later enrichment does not move past days' rows.

Scale design: every operator is a single groupBy or window over the fact
table — one shuffle each, partial aggregation map-side, no driver
collection, no UDFs (whole-stage codegen end-to-end). The shuffle key is
(item_id[, date]) — high cardinality, naturally skew-free; AQE handles
residual skew. Aggregates that feed results use deterministic decimal /
integer-space accumulation (functions/numerics.py) so output is
bit-reproducible at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numerics import davg, dec, dstddev_samp, int_units

def _denormalize(
    gold: DataFrame,
    dim: DataFrame | None,
    key: str = "item_id",
    with_icon: bool = True,
) -> DataFrame:
    """J2 denormalization the ORM gold schemas require: copy item_name
    (and icon_url, where the model declares it) from the dimension into the
    gold output (models.py:36-37,52,66-67,80-81,92-93). Broadcast left
    join — the dim is catalog-sized, the gold side never reshuffles; pass
    dim=None to skip (unit-test convenience)."""
    if dim is None:
        return gold
    cols = [F.col(key), F.col("name").alias("item_name")]
    if with_icon:
        cols.append(F.col("icon_url"))
    d = dim.select(*cols)
    joined = gold.join(F.broadcast(d), key, "left")
    # ORM column order: keys, then the denormalized strings, then measures.
    keys = [key] + [k for k in ("snapshot_date", "snapshot_hour") if k in gold.columns]
    rest = [c for c in gold.columns if c not in keys]
    return joined.select(
        *keys, "item_name", *(["icon_url"] if with_icon else []), *rest
    )


def _market_cap() -> Column:
    """Σ price×quantity with exact decimal accumulation.

    decimal(18,2) × decimal(10,0) → decimal(29,2): stays under Spark's
    38-digit cap with no precision-loss rules, and sums identically in any
    engine (functions/numerics.py rationale).
    """
    return (
        F.sum(F.col("unit_price").cast("decimal(18,2)") * F.col("quantity").cast("decimal(10,0)"))
        .cast("double")
    )


def _with_median_rank(df: DataFrame, keys: list[str], value: str = "unit_price") -> DataFrame:
    """Tag each row with its in-group rank and the group's non-null count —
    the ingredients for an exact interpolated median computed inside a
    regular (codegen'd) hash aggregate instead of the slower
    ObjectHashAggregate that `median()` forces (it also drags every sibling
    aggregate off codegen).

    Caller must pre-partition `df` so the windows add no exchange. NULL
    values sort last and `_n` counts only non-null, so they fall outside
    the median positions — matching `median()`'s null handling.
    """
    wo = Window.partitionBy(*keys).orderBy(F.col(value).asc_nulls_last())
    wp = Window.partitionBy(*keys)
    return df.withColumn("_rn", F.row_number().over(wo)).withColumn(
        "_n", F.count(value).over(wp)
    )


def _median_agg(value: str = "unit_price") -> Column:
    """Exact interpolated median from `_with_median_rank` tags. (lo+hi)/2 is
    the interpolation both `median()` and DuckDB use — verified bit-equal on
    the full test corpus."""
    lo = F.max(F.when(F.col("_rn") == F.expr("(_n + 1) DIV 2"), F.col(value)))
    hi = F.max(F.when(F.col("_rn") == F.expr("(_n + 2) DIV 2"), F.col(value)))
    return (lo + hi) / F.lit(2.0)


# ---------------------------------------------------------------------------
# A1 — daily market summary


def daily_market_summary(silver: DataFrame, dim: DataFrame | None = None) -> DataFrame:
    """Per (item_id, snapshot_date) price/liquidity stats.

    Columns mirror gold_daily_market_summary (models.py:30-44) including
    the item_name/icon_url denormalization (models.py:36-37) when a dim is
    passed; avg_price additionally covers the gold_market_history sibling
    (database.py:40-52).

    Single-shuffle plan: repartition on item_id; the (item_id, date) median
    windows and the final groupBy are both satisfied by that partitioning
    (partition keys ⊆ clustering keys), so the whole aggregate is one
    exchange + one sort + one codegen'd HashAggregate — ~1.5× faster than
    the `median()` ObjectHashAggregate plan at sf0.1 and the gap widens
    with group size.
    """
    keys = ["item_id", "snapshot_date"]
    tagged = _with_median_rank(silver.repartition("item_id"), keys)
    out = tagged.groupBy(*keys).agg(
        F.min("unit_price").alias("min_buyout"),
        F.max("unit_price").alias("max_buyout"),
        _median_agg().alias("median_buyout"),
        davg("unit_price", 2).alias("avg_price"),
        F.sum("quantity").alias("quantity_available"),
        _market_cap().alias("market_cap"),
        dstddev_samp("unit_price").alias("price_volatility"),
        F.count(F.lit(1)).alias("auction_count"),
    )
    return _denormalize(out, dim)


# ---------------------------------------------------------------------------
# A2 — hourly OHLC candles


def hourly_ohlc(ticks: DataFrame, dim: DataFrame | None = None) -> DataFrame:
    """Per (item_key, hour) OHLC candle from a tick stream.

    Columns mirror gold_price_history (models.py:46-58, including its
    'avarage_price' [sic] corrected to average_price, and the item_name
    denormalization of models.py:52 — gold_price_history carries item_name
    but not icon_url — when a dim keyed by item_key is passed). open/close
    use min_by/max_by on a (ts, tick_id) struct — deterministic tie-break,
    one aggregation pass, no window shuffle. Expects columns
    (tick_id, item_key, ts, price, quantity).
    """
    hour = F.date_trunc("hour", F.col("ts")).alias("snapshot_hour")
    order_key = F.struct(F.col("ts"), F.col("tick_id"))
    out = ticks.groupBy("item_key", hour).agg(
        F.min_by("price", order_key).alias("open_price"),
        F.max_by("price", order_key).alias("close_price"),
        F.max("price").alias("high_price"),
        F.min("price").alias("low_price"),
        davg("price", 2).alias("average_price"),
        F.sum("quantity").alias("volume"),
    )
    return _denormalize(out, dim, key="item_key", with_icon=False)


# ---------------------------------------------------------------------------
# A3 — 7-day rolling stats + z-score + BUY/SELL label (F7)

Z_BUY = -2.0
Z_SELL = 2.0
LOOKBACK_DAYS = 6  # the "7-day" frames of A3 and A4 are [date - 6, date]


def _day_number(col: str = "snapshot_date") -> Column:
    """Days since epoch — numeric order key for calendar rangeBetween."""
    return F.datediff(F.col(col), F.lit("1970-01-01").cast("date"))


def rolling_zscore(
    silver: DataFrame, decimals: int = 2, dim: DataFrame | None = None
) -> DataFrame:
    """Per (item_id, snapshot_date): 7-day rolling mean/stddev of the daily
    floor price, z-score of today's price against that window, and the
    BUY/SELL/HOLD recommendation (models.py:60-72 — gold_market_opportunities,
    including its item_name/icon_url denormalization when a dim is passed;
    threshold discussion in SURVEY.md §7).

    Single-shuffle plan: repartition by item_id up front; the daily-grain
    reduction (window min + duplicate-drop, clustering keys ⊇ partition
    key) and the rolling item window all reuse that one exchange.
    """
    daily = (
        silver.repartition("item_id")
        .withColumn(
            "current_price",
            F.min("unit_price").over(Window.partitionBy("item_id", "snapshot_date")),
        )
        .select("item_id", "snapshot_date", "current_price")
        .dropDuplicates()
    )
    return _denormalize(zscore_from_daily(daily, decimals), dim)


def zscore_from_daily(daily: DataFrame, decimals: int = 2) -> DataFrame:
    """A3's rolling kernel over the daily grain
    (item_id, snapshot_date, current_price): the rolling_zscore columns
    for every row of `daily`. A row's value depends only on the item's
    rows in its own [date - 6, date] calendar frame."""
    w = (
        Window.partitionBy("item_id")
        .orderBy(_day_number())
        .rangeBetween(-LOOKBACK_DAYS, Window.currentRow)
    )
    x0 = int_units("current_price", decimals)
    n = F.count("current_price").over(w).cast("double")
    sx = F.sum(x0).over(w).cast("double")
    sxx = F.sum(x0 * x0).over(w).cast("double")
    var = (sxx - sx * sx / n) / (n - F.lit(1.0))
    scale = float(10**decimals)

    return (
        daily.withColumn(
            "avg_price_7d",
            F.sum(dec("current_price", 2)).over(w).cast("double")
            / F.count("current_price").over(w),
        )
        .withColumn(
            "std_dev_7d",
            F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0))) / F.lit(scale)).otherwise(
                F.lit(None).cast("double")
            ),
        )
        .withColumn(
            "z_score",
            (F.col("current_price") - F.col("avg_price_7d"))
            / F.nullif(F.col("std_dev_7d"), F.lit(0.0)),
        )
        .withColumn(
            "recommendation",
            F.when(F.col("z_score") <= Z_BUY, "BUY")
            .when(F.col("z_score") >= Z_SELL, "SELL")
            .otherwise("HOLD"),
        )
    )


# ---------------------------------------------------------------------------
# A4 — demand / sales velocity


def sales_velocity(silver: DataFrame, dim: DataFrame | None = None) -> DataFrame:
    """Per (item_id, snapshot_date): stock that disappeared since the
    previous snapshot (floored at 0), trailing 7-day average stock, and
    turnover percentage (models.py:74-84 — gold_item_demand, including its
    item_name/icon_url denormalization when a dim is passed; stub intent
    gold_sales_velocity.py:1). First snapshot has no predecessor → NULLs.

    Same single-shuffle shape as rolling_zscore: one repartition on
    item_id feeds the daily reduction and both analytic windows.
    """
    daily = (
        silver.repartition("item_id")
        .withColumn(
            "stock_on_book",
            F.sum("quantity").over(Window.partitionBy("item_id", "snapshot_date")),
        )
        .select("item_id", "snapshot_date", "stock_on_book")
        .dropDuplicates()
    )
    return _denormalize(velocity_from_daily(daily), dim)


def velocity_from_daily(daily: DataFrame) -> DataFrame:
    """A4's kernel over the daily grain (item_id, snapshot_date,
    stock_on_book): the sales_velocity columns for every row of `daily`.
    A row's lag is the item's previous row in `daily`, however old, so
    `daily` must hold the item's whole history up to the rows wanted."""
    w_ord = Window.partitionBy("item_id").orderBy(_day_number())
    w_range = (
        Window.partitionBy("item_id")
        .orderBy(_day_number())
        .rangeBetween(-LOOKBACK_DAYS, Window.currentRow)
    )
    prev = F.lag("stock_on_book").over(w_ord)
    sales = F.when(
        prev.isNull(), F.lit(None).cast("bigint")
    ).otherwise(F.greatest(prev - F.col("stock_on_book"), F.lit(0).cast("bigint")))
    avg_stock = (
        F.sum(F.col("stock_on_book").cast("decimal(28,0)")).over(w_range).cast("double")
        / F.count("stock_on_book").over(w_range)
    )
    return (
        daily.withColumn("estimated_daily_sales", sales)
        .withColumn("avg_daily_stock", avg_stock)
        .withColumn(
            "turnover_percentage",
            F.col("estimated_daily_sales").cast("double")
            / F.nullif(F.col("avg_daily_stock"), F.lit(0.0))
            * 100.0,
        )
    )


# ---------------------------------------------------------------------------
# A5 — market concentration

CONCENTRATION_BUCKETS = ((80.0, "MONOPOLIZED"), (50.0, "CONCENTRATED"), (20.0, "COMPETITIVE"))


def market_concentration(silver: DataFrame, dim: DataFrame | None = None) -> DataFrame:
    """Per (item_id, snapshot_date): how much supply sits at the floor price
    (models.py:86-97 — gold_market_concentration, including its
    item_name/icon_url denormalization when a dim is passed). All rows tied
    at the exact floor count toward it.

    Single aggregation pass: min + conditional sum via a window-free
    two-phase agg (min computed per group, floor quantity via sum of
    quantity where price equals the group min — expressed with a window min
    so Catalyst plans one shuffle).
    """
    w = Window.partitionBy("item_id", "snapshot_date")
    floored = silver.withColumn("floor_price", F.min("unit_price").over(w))
    out = floored.groupBy("item_id", "snapshot_date").agg(
        F.sum("quantity").alias("total_market_quantity"),
        F.min("floor_price").alias("floor_price"),
        F.sum(
            F.when(F.col("unit_price") == F.col("floor_price"), F.col("quantity")).otherwise(
                F.lit(0)
            )
        ).alias("quantity_at_floor"),
    )
    pct = (
        F.col("quantity_at_floor").cast("double")
        / F.nullif(F.col("total_market_quantity").cast("double"), F.lit(0.0))
        * 100.0
    )
    status = F.when(F.lit(False), F.lit(None).cast("string"))
    for threshold, label in CONCENTRATION_BUCKETS:
        status = status.when(F.col("floor_concentration_pct") >= threshold, label)
    out = out.withColumn("floor_concentration_pct", pct).withColumn(
        "market_status", status.otherwise("DISPERSED")
    )
    return _denormalize(out, dim)


# ---------------------------------------------------------------------------
# A6 — market index + daily inflation


def market_index(silver: DataFrame) -> DataFrame:
    """Per snapshot_date across all items: equal-weighted index of per-item
    median prices, and its day-over-day percent change (models.py:99-105).

    The day-over-day lag runs on a single-partition window — fine, because
    by then the data is one row per date (thousands of rows at most).
    """
    # First stage shuffles on the composite (snapshot_date, item_id) key:
    # parallelism scales with items × dates and no task ever holds a whole
    # day of the fact table (a date-only key caps parallelism at #dates and
    # OOMs on a hot day at scale). The per-date rollup then re-shuffles
    # only the tiny per-item medians.
    tagged = _with_median_rank(
        silver.repartition("snapshot_date", "item_id"), ["snapshot_date", "item_id"]
    )
    per_item = tagged.groupBy("snapshot_date", "item_id").agg(
        _median_agg().alias("median_price")
    )
    return index_with_inflation(index_from_medians(per_item))


def index_from_medians(per_item: DataFrame) -> DataFrame:
    """A6's daily rollup: (snapshot_date, item_id, median_price) rows to
    one (snapshot_date, items_in_index, index_value) row per date."""
    return per_item.groupBy("snapshot_date").agg(
        F.count(F.lit(1)).alias("items_in_index"),
        (F.sum(dec("median_price")).cast("double") / F.count(F.lit(1))).alias("index_value"),
    )


def index_with_inflation(per_day: DataFrame) -> DataFrame:
    """A6's day-over-day kernel: inflation_pct_daily of each date against
    the previous date in `per_day`."""
    w = Window.orderBy("snapshot_date")
    return per_day.withColumn(
        "inflation_pct_daily",
        (F.col("index_value") / F.lag("index_value").over(w) - 1.0) * 100.0,
    )


# ---------------------------------------------------------------------------
# A7 — sector trends (needs the J2 dim join)


def sector_trends(silver: DataFrame, dim_items: DataFrame) -> DataFrame:
    """Per (item_class, snapshot_date) sector aggregates
    (gold_sector_trends.py:1 intent; item_class via the J2 broadcast join,
    database.py:35).

    The dim side is broadcast (reference caps its growth at 100 rows/run —
    postgres_client.py:68-80 — and even a full item catalog is ~1e5 rows);
    the fact side never shuffles for the join, only for the groupBy.
    """
    joined = silver.join(
        F.broadcast(dim_items.select("item_id", "item_class")), "item_id", "left"
    )
    # Broadcast join adds no exchange, so the repartition on the grouping
    # key is the plan's only shuffle (median windows + groupBy both reuse it).
    keys = ["item_class", "snapshot_date"]
    tagged = _with_median_rank(joined.repartition(*keys), keys)
    return tagged.groupBy(*keys).agg(
        F.sum("quantity").alias("total_quantity"),
        _market_cap().alias("market_cap"),
        davg("unit_price").alias("avg_price"),
        _median_agg().alias("median_price"),
        F.count(F.lit(1)).alias("auction_count"),
        F.countDistinct("item_id").alias("distinct_items"),
    )


# ---------------------------------------------------------------------------
# Gini concentration — the distributional partner of A5's floor-share and
# the per-date HHI: "how unequal is revenue across items today?"


def gini_concentration(silver: DataFrame) -> DataFrame:
    """Per snapshot_date: exact Gini coefficient of per-item revenue.

    G = Σ_i (2i − n − 1)·x_i / (n·Σx) over items sorted ascending by
    revenue — the sorted-rank identity, computed entirely in integers:
    x_i is revenue in cent-units (int_units(price)·quantity, BIGINT),
    ranks come from one per-date window, the weighted sum accumulates in
    DECIMAL(38,0), and gini_ppm is the exact truncated rational
    1e6·NUM DIV (n·TOT). The (revenue, item_id) tiebreak pins a total
    order for engine determinism; the Σ over a tie block is
    x·Σ(2i−n−1), independent of intra-block order, so the tiebreak
    never changes the value. n = 1 → NUM = 0 → gini 0; all-zero revenue
    days → NULL (0/0).

    Scale shape: one map-combinable (date, item) revenue aggregate, one
    window PARTITIONED BY date (parallel across dates; width = items per
    day, the same bound a5/a6 live with), one date rollup. NUM headroom:
    2n·x·n ≤ 2·(1e6)²·1e12 = 2e24 « 1e38."""
    rev = (
        silver.select(
            "snapshot_date",
            "item_id",
            (int_units("unit_price") * F.col("quantity"))
            .cast("bigint")
            .alias("xu"),
        )
        .groupBy("snapshot_date", "item_id")
        .agg(F.sum("xu").cast("bigint").alias("x"))
    )
    w = Window.partitionBy("snapshot_date").orderBy(
        F.col("x").asc(), F.col("item_id").asc()
    )
    wn = Window.partitionBy("snapshot_date")
    ranked = rev.select(
        "snapshot_date",
        "x",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    agg = ranked.groupBy("snapshot_date").agg(
        F.max("n").alias("n_items"),
        F.sum("x").cast("bigint").alias("total_units"),
        F.sum(
            F.expr("CAST(2 * i - n - 1 AS DECIMAL(38,0)) * x")
        ).alias("_num"),
    )
    gini_ppm = (
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * _num"
        " DIV (CAST(n_items AS DECIMAL(38,0)) * total_units) AS BIGINT)"
    )
    return agg.select(
        "snapshot_date",
        "n_items",
        "total_units",
        F.expr(
            f"CASE WHEN total_units > 0 THEN {gini_ppm} END"
        ).alias("gini_ppm"),
        F.expr(
            f"CASE WHEN total_units > 0"
            f" THEN CAST({gini_ppm} AS DOUBLE) / 1e6 END"
        ).alias("gini"),
    ).orderBy("snapshot_date")


def gini_concentration_sql(silver_cte: str) -> str:
    """DuckDB twin of :func:`gini_concentration` (expects `silver`)."""
    from ..functions.numerics import int_units_sql

    gini_ppm = (
        "CAST(CAST(1000000 AS HUGEINT) * _num"
        " // (CAST(n_items AS HUGEINT) * total_units) AS BIGINT)"
    )
    return f"""{silver_cte},
  rev AS (SELECT snapshot_date, item_id,
                 CAST(SUM(CAST({int_units_sql("unit_price")} AS BIGINT)
                          * quantity) AS BIGINT) AS x
          FROM silver GROUP BY snapshot_date, item_id),
  ranked AS (SELECT snapshot_date, x,
                    CAST(row_number() OVER (PARTITION BY snapshot_date
                                            ORDER BY x ASC, item_id ASC)
                         AS BIGINT) AS i,
                    CAST(COUNT(*) OVER (PARTITION BY snapshot_date)
                         AS BIGINT) AS n
             FROM rev),
  agg AS (SELECT snapshot_date,
                 CAST(MAX(n) AS BIGINT) AS n_items,
                 CAST(SUM(x) AS BIGINT) AS total_units,
                 SUM(CAST(2 * i - n - 1 AS HUGEINT) * x) AS _num
          FROM ranked GROUP BY snapshot_date)
SELECT snapshot_date, n_items, total_units,
       CASE WHEN total_units > 0 THEN {gini_ppm} END AS gini_ppm,
       CASE WHEN total_units > 0
            THEN CAST({gini_ppm} AS DOUBLE) / 1e6 END AS gini
FROM agg ORDER BY snapshot_date"""
