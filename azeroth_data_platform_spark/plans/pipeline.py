"""End-to-end pipeline composition (SURVEY.md §2.11 X1–X5, §3.1).

Replaces the reference's Dagster asset graph
(/root/reference/data_pipeline/definitions.py:6-11 and the dependency edges
transformation.py:13-15, dimensions.py:11) with plain composed jobs:
lineage is the DataFrame plan, run metadata is the returned dict, and
idempotency comes from the merge semantics (sources/merge.py).

One run refreshes one day D, in the reference's materialization order:
  1. silver merge: the day's bronze dump, insert-if-absent on `id`;
  2. dim enrichment: items in silver missing from `dim_items`;
  3. gold, computed and written for D only (plus, for a day older than
     gold's newest, the later dates the windowed tables depend on):
       gold_market_summary (A1), gold_market_concentration (A5) and
       gold_sector_trends (A7) from silver rows with snapshot_date = D;
       A7 joins the dim as of this run, so a past day keeps the item
       class it had on its own refresh;
       gold_safe_investments (A3) from A1's min_buyout over [D-6, D];
       gold_sales_velocity (A4) from A1's quantity_available, its lag
       being the item's previous A1 row;
       gold_market_index (A6) from A1's median_buyout on D, its lag
       being the previous gold_market_index row;
  4. retention: silver rows older than `retention_days` are deleted.

A1 is the persisted daily grain and is never dropped, so gold values do
not depend on `retention_days` or on how many refreshes came before: a
refresh equals a full `GOLD_JOBS` build over the complete silver history,
restricted to the dates it writes. `GOLD_JOBS` is that full build, used
to bulk-load a warehouse and by the SQL catalog.

At a daily batch's size a refresh costs Spark jobs, not rows, so it runs
as few as it can. The day's bronze is parsed once: the silver batch is
materialized (lifecycle pool, released on every path) and the empty
guard, the merge's prune bound, anti-join and append read its blocks.
Tables are read with declared schemas (silver with the batch's, the dim
with `DIM_SCHEMA`, gold with the schema of the frame written), so no job
reads parquet footers to infer one. The enriched dim rows become a local
relation (`dim_frame`), which Catalyst sizes and broadcasts without
Python workers, and whose naive `last_updated` stamps read as UTC
whatever the process's time zone.

A refresh is also priced in generated classes: Spark compiles each
physical plan's Java with Janino, about 17 ms a class, and caches the
classes by source text (sized in `session.get_spark`).
`meta["codegen_compiles"]` counts the classes compiled during a run. Once
a first refresh has filled the cache, a new day still compiles 16 (eight
stages, each compiled once for the driver and once for the executors),
because codegen inlines a date or id literal into the source of these
stages: `silver_transform`'s date column, the insert's id prune bound,
the day-slice filter (`snapshot_date = D`) feeding A1/A5 and, joined
with the dim, A7, the `snapshot_date = D` filter on A3's, A4's and A6's
output, and the retention cutoff. A3's `p_date` floor costs no class: it
is a partition filter, applied when the scan is planned.
"""

from __future__ import annotations

import datetime as dt
import logging
import os
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from ..functions import lifecycle
from ..operators import gold, joins, silver
from ..sources import merge, rest
from ..sources.readers import read_bronze_auctions

log = logging.getLogger(__name__)

ZSCORE_DECIMALS = 0  # A3 accumulates whole-copper price units

DIM_SCHEMA = StructType(
    [StructField("item_id", LongType())]
    + [
        StructField(name, StringType())
        for name in ("name", "quality", "item_class", "item_subclass", "icon_url")
    ]
    + [StructField("last_updated", TimestampType())]
)

GOLD_JOBS = {
    "gold_market_summary": lambda s, dim: gold.daily_market_summary(s),
    "gold_safe_investments": lambda s, dim: gold.rolling_zscore(s, decimals=ZSCORE_DECIMALS),
    "gold_sales_velocity": lambda s, dim: gold.sales_velocity(s),
    "gold_market_concentration": lambda s, dim: gold.market_concentration(s),
    "gold_market_index": lambda s, dim: gold.market_index(s),
    "gold_sector_trends": gold.sector_trends,
}


def run_pipeline(
    spark: SparkSession,
    bronze_path: str,
    warehouse: str,
    snapshot_date: dt.date,
    item_fetch: rest.Fetch | None = None,
    retention_days: int = 30,
) -> dict[str, Any]:
    """Materialize one snapshot end-to-end; returns run metadata (the
    reference emits the same counts as Dagster metadata —
    ingestion.py:44-51, transformation.py:77-84). ``meta["gold_dates"]``
    maps each gold table to the ISO dates this run wrote;
    ``meta["codegen_compiles"]`` is the number of classes Spark's codegen
    compiled while it ran. That counter is process-wide, so queries run
    concurrently from other threads are counted too."""
    meta: dict[str, Any] = {"snapshot_date": str(snapshot_date)}
    compiled = _codegen_compiles(spark)
    silver_path = os.path.join(warehouse, "silver_auctions")
    dim_path = os.path.join(warehouse, "dim_items")

    # --- silver (S5 + P* + S6 idempotent merge) ---
    # The day's JSON is parsed once: the empty guard, the prune bound, the
    # anti-join and the append all read the materialized blocks.
    batch = lifecycle.materialize(
        silver.silver_transform(read_bronze_auctions(spark, bronze_path), snapshot_date)
    )
    silver_schema = batch.schema
    try:
        if batch.isEmpty():  # F5 empty-input guard (transformation.py:28-30)
            log.warning("empty bronze batch for %s — skipping", snapshot_date)
            meta["silver_inserted"] = 0
            return meta
        # The reference's conflict target is `id` ALONE (on_conflict_do_nothing,
        # postgres_client.py:39) — a composite (id, snapshot_date) key would
        # re-insert persisting auctions daily, changing semantics. So the
        # scale-safe bounded probe prunes on `id` itself: exact (id IS the key),
        # and the existing-side scan reads only row groups whose id min/max
        # stats overlap the batch's id range — a bounded probe, not a
        # full-table pass, since auction ids correlate with write order.
        meta["silver_inserted"] = merge.insert_if_absent(
            spark, silver_path, batch, key="id", prune_col="id"
        )
    finally:
        lifecycle.release(batch)
    silver_df = spark.read.schema(silver_schema).parquet(silver_path)

    # --- dim enrichment (J1 → S11 → S7), driver-side by design ---
    if item_fetch is not None:
        dim = (
            spark.read.schema(DIM_SCHEMA).parquet(dim_path)
            if os.path.exists(dim_path)
            else dim_frame(spark, [])
        )
        missing = [
            r.item_id
            for r in joins.missing_item_ids(silver_df, dim, limit=100).collect()
        ]
        enriched = rest.enrich_items(item_fetch, missing)
        meta["dim_enriched"] = len(enriched)
        if enriched:
            merge.upsert(spark, dim_path, dim_frame(spark, enriched), key="item_id")

    # --- gold materializations ---
    dim_df = (
        spark.read.schema(DIM_SCHEMA).parquet(dim_path)
        if os.path.exists(dim_path)
        else None
    )
    day_slice = silver_df.where(F.col("snapshot_date") == F.lit(snapshot_date))
    meta["gold_dates"] = _refresh_gold(spark, warehouse, snapshot_date, day_slice, dim_df)

    # --- retention (S9) ---
    cutoff = snapshot_date - dt.timedelta(days=retention_days)
    meta["retention_deleted"] = merge.retention_delete(
        spark, silver_path, f"snapshot_date < DATE '{cutoff}'", schema=silver_schema
    )
    meta["codegen_compiles"] = _codegen_compiles(spark) - compiled
    return meta


def _codegen_compiles(spark: SparkSession) -> int:
    """Classes compiled by Spark's codegen in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def dim_frame(spark: SparkSession, rows: list[dict[str, Any]]) -> DataFrame:
    """`dim_items` rows as a local relation (Arrow from pandas), which
    Catalyst can size and broadcast; ``createDataFrame(list)`` would plan
    a Python RDD instead. Naive ``last_updated`` stamps are read in the
    session time zone (UTC), not the process's."""
    return spark.createDataFrame(pd.DataFrame(rows, columns=DIM_SCHEMA.names), DIM_SCHEMA)


def _partition_dates(table: str) -> list[dt.date]:
    """The p_date partitions a gold table holds, sorted."""
    if not os.path.isdir(table):
        return []
    return sorted(
        dt.date.fromisoformat(name.split("=", 1)[1])
        for name in os.listdir(table)
        if name.startswith("p_date=")
    )


def _refresh_gold(
    spark: SparkSession,
    warehouse: str,
    day: dt.date,
    day_slice: DataFrame,
    dim_df: DataFrame | None,
) -> dict[str, list[str]]:
    """Compute and write gold for `day` from `day_slice` (silver rows with
    snapshot_date = day); returns the dates written, per table.

    A day older than the newest one in gold also rewrites the windowed
    tables (A3, A4, A6) for every later date gold holds, since their
    lookback now includes `day`."""
    written: dict[str, list[str]] = {}
    schemas: dict[str, StructType] = {}

    def table(name: str) -> str:
        return os.path.join(warehouse, name)

    def partitioned(df: DataFrame) -> DataFrame:
        return df.withColumn("p_date", F.col("snapshot_date"))

    def write(name: str, df: DataFrame, dates: list[dt.date]) -> None:
        out = partitioned(df)
        merge.overwrite_partitions(spark, table(name), out, "p_date")
        schemas[name] = out.schema
        written[name] = [str(d) for d in dates]

    dates = sorted(
        {day, *(d for d in _partition_dates(table("gold_market_summary")) if d > day)}
    )
    for name in ("gold_market_summary", "gold_market_concentration", "gold_sector_trends"):
        if name == "gold_sector_trends" and dim_df is None:
            continue
        write(name, GOLD_JOBS[name](day_slice, dim_df), [day])

    summary = spark.read.schema(schemas["gold_market_summary"]).parquet(
        table("gold_market_summary")
    )
    wanted = F.col("snapshot_date").isin(dates)
    first = day - dt.timedelta(days=gold.LOOKBACK_DAYS)
    floor = summary.where(F.col("p_date") >= F.lit(first)).select(
        "item_id", "snapshot_date", F.col("min_buyout").alias("current_price")
    )
    write(
        "gold_safe_investments",
        gold.zscore_from_daily(floor, ZSCORE_DECIMALS).where(wanted),
        dates,
    )
    stock = summary.select(
        "item_id", "snapshot_date", F.col("quantity_available").alias("stock_on_book")
    )
    write("gold_sales_velocity", gold.velocity_from_daily(stock).where(wanted), dates)

    per_day = gold.index_from_medians(
        summary.where(F.col("p_date").isin(dates)).select(
            "snapshot_date", "item_id", F.col("median_buyout").alias("median_price")
        )
    )
    before = [d for d in _partition_dates(table("gold_market_index")) if d < day]
    if before:
        # read with the schema of the frame this call writes
        stored = partitioned(gold.index_with_inflation(per_day)).schema
        per_day = per_day.unionByName(
            spark.read.schema(stored)
            .parquet(table("gold_market_index"))
            .where(F.col("p_date") == F.lit(before[-1]))
            .select("snapshot_date", "items_in_index", "index_value")
        )
    write("gold_market_index", gold.index_with_inflation(per_day).where(wanted), dates)
    return written
