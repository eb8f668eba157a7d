"""End-to-end pipeline tests on synthetic bronze fixtures (SURVEY.md §5.3/5.4
and FIXTURES.md §B1 coverage: commodity vs item auctions, missing fields,
bad numerics, empty batches, idempotent re-runs, dim upsert)."""

from __future__ import annotations

import calendar
import datetime as dt
import json
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from azeroth_data_platform_spark.functions import lifecycle
from azeroth_data_platform_spark.operators.silver import silver_transform
from azeroth_data_platform_spark.plans.pipeline import GOLD_JOBS, run_pipeline
from azeroth_data_platform_spark.sources import merge, rest
from azeroth_data_platform_spark.sources.readers import read_bronze_auctions

SNAP = dt.date(2026, 2, 1)

BRONZE_DOC = {
    "_links": {"self": {"href": "..."}},
    "auctions": [
        # item-style: buyout only, nested modifiers → P6 imputation
        {
            "id": 101,
            "item": {"id": 19019, "modifiers": [{"type": 9, "value": 70}]},
            "buyout": 1250000,
            "quantity": 1,
            "time_left": "VERY_LONG",
        },
        # commodity-style: unit_price only, no modifiers
        {"id": 102, "item": {"id": 2589}, "unit_price": 150, "quantity": 200, "time_left": "SHORT"},
        # bad numeric string → coerce to NULL (P4)
        {"id": 103, "item": {"id": 2589}, "unit_price": "garbage", "quantity": 3, "time_left": "LONG"},
        # missing quantity → default 1 (P5); buyout imputation uses it
        {"id": 104, "item": {"id": 777}, "buyout": 500, "time_left": "MEDIUM"},
    ],
}


@pytest.fixture()
def bronze_path(tmp_path):
    p = tmp_path / "2026-02-01"
    p.mkdir()
    (p / "raw_auctions_2026-02-01.json").write_text(json.dumps(BRONZE_DOC))
    return str(p)


def test_silver_transform_defensive_paths(spark, bronze_path):
    out = {
        r.id: r
        for r in silver_transform(read_bronze_auctions(spark, bronze_path), SNAP).collect()
    }
    assert len(out) == 4
    # P6: buyout/quantity imputation for item auctions
    assert out[101].unit_price == 1250000
    assert out[101].modifiers[0].asDict() == {"type": 9, "value": 70}
    # commodity keeps its unit_price
    assert out[102].unit_price == 150 and out[102].buyout is None
    # P4: bad numeric → NULL survives (no buyout to impute from)
    assert out[103].unit_price is None
    # P5 + P6: missing quantity defaults to 1 → 500 DIV 1
    assert out[104].quantity == 1 and out[104].unit_price == 500
    assert all(r.snapshot_date == SNAP for r in out.values())


def test_bronze_missing_auctions_key_yields_empty(spark, tmp_path):
    (tmp_path / "bad.json").write_text(json.dumps({"no_auctions": True}))
    df = read_bronze_auctions(spark, str(tmp_path))
    assert df.isEmpty()


def test_insert_if_absent_is_idempotent(spark, tmp_path, bronze_path):
    target = str(tmp_path / "silver")
    batch = silver_transform(read_bronze_auctions(spark, bronze_path), SNAP)
    assert merge.insert_if_absent(spark, target, batch, key="id") == 4
    # same batch again → 0 inserts, count unchanged (S6 ON CONFLICT DO NOTHING)
    assert merge.insert_if_absent(spark, target, batch, key="id") == 0
    assert spark.read.parquet(target).count() == 4


def test_upsert_type1_overwrites_in_place(spark, tmp_path):
    target = str(tmp_path / "dim")
    schema = "item_id long, name string, quality string"
    v1 = spark.createDataFrame([(1, "Old Name", "Poor"), (2, "Stays", "Rare")], schema)
    merge.upsert(spark, target, v1, key="item_id")
    v2 = spark.createDataFrame([(1, "New Name", "Epic"), (3, "Added", "Common")], schema)
    merge.upsert(spark, target, v2, key="item_id")
    out = {r.item_id: r for r in spark.read.parquet(target).collect()}
    assert len(out) == 3
    assert out[1].name == "New Name" and out[1].quality == "Epic"  # updated
    assert out[2].name == "Stays"  # untouched
    assert out[3].name == "Added"  # inserted


def test_retention_delete(spark, tmp_path):
    """A row whose predicate is NULL (NULL snapshot_date) is deleted and
    counted, with or without a declared schema."""
    df = spark.createDataFrame(
        [(1, dt.date(2026, 1, 1)), (2, dt.date(2026, 2, 1)), (3, None)],
        "id long, snapshot_date date",
    )
    for k, kw in enumerate(({}, {"schema": df.schema})):
        target = str(tmp_path / f"t{k}")
        df.write.parquet(target)
        assert merge.retention_delete(
            spark, target, "snapshot_date < DATE '2026-01-15'", **kw
        ) == 2
        assert [r.id for r in spark.read.parquet(target).collect()] == [2]


def test_retention_delete_older_than_created_at(spark, tmp_path):
    """The primary (reference-faithful) rule: created_at < now - 30 days,
    with the anchor pinned for reproducibility."""
    target = str(tmp_path / "t")
    spark.createDataFrame(
        [
            (1, dt.datetime(2026, 1, 1, 12, 0)),   # 45 days before anchor
            (2, dt.datetime(2026, 2, 10, 12, 0)),  # 5 days before anchor
        ],
        "id long, created_at timestamp",
    ).write.parquet(target)
    n = merge.retention_delete_older_than(
        spark, target, days=30, now="2026-02-15 12:00:00"
    )
    assert n == 1
    assert [r.id for r in spark.read.parquet(target).collect()] == [2]
    # idempotent: a second run with the same anchor deletes nothing
    assert (
        merge.retention_delete_older_than(
            spark, target, days=30, now="2026-02-15 12:00:00"
        )
        == 0
    )


def _fake_item_fetch(url: str):
    item_id = int(url.rsplit("/", 1)[1])
    if item_id == 777:
        return 404, None  # the reference skips 404s (dimensions.py:55-57)
    return 200, {
        "name": f"Item {item_id}",
        "quality": {"name": "Epic"},
        "item_class": {"name": "Trade Goods"},
        # item_subclass absent → default "Junk" (dimensions.py:49-52)
    }


def test_run_pipeline_end_to_end(spark, tmp_path, bronze_path):
    wh = str(tmp_path / "warehouse")
    meta = run_pipeline(spark, bronze_path, wh, SNAP, item_fetch=_fake_item_fetch)
    assert meta["silver_inserted"] == 4
    assert meta["dim_enriched"] == 2  # 19019 + 2589 enriched; 777 was a 404
    dim = {r.item_id: r for r in spark.read.parquet(f"{wh}/dim_items").collect()}
    assert dim[2589].item_subclass == "Junk"  # default applied
    gold = spark.read.parquet(f"{wh}/gold_market_summary")
    assert gold.count() == 3  # three distinct items on the snapshot date
    before = _gold_rows(spark, wh)
    # re-run the same day: silver unchanged (idempotent), gold recomputed
    # to the same values
    meta2 = run_pipeline(spark, bronze_path, wh, SNAP, item_fetch=_fake_item_fetch)
    assert meta2["silver_inserted"] == 0
    assert meta2["gold_dates"] == meta["gold_dates"] == {t: [str(SNAP)] for t in GOLD_JOBS}
    assert _gold_rows(spark, wh) == before


GOLD_TABLES = tuple(GOLD_JOBS)


def _gold_rows(spark, wh: str) -> dict[str, list[tuple]]:
    """Every gold table's rows, sorted, without the partition column."""
    return {
        t: sorted(
            (tuple(r) for r in spark.read.parquet(f"{wh}/{t}").drop("p_date").collect()),
            key=repr,
        )
        for t in GOLD_TABLES
    }


def _gold_files(wh: str) -> dict[str, bytes]:
    """Relative path -> bytes of every file under the gold tables."""
    out = {}
    for t in GOLD_TABLES:
        root = os.path.join(wh, t)
        for d, _, files in os.walk(root):
            for f in files:
                full = os.path.join(d, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, wh)] = fh.read()
    return out


def _bronze_day(root, day: dt.date, auctions: list[dict]) -> str:
    p = root / str(day)
    p.mkdir()
    (p / f"raw_auctions_{day}.json").write_text(json.dumps({"auctions": auctions}))
    return str(p)


def _auctions(day_no: int, items: list[int]) -> list[dict]:
    return [
        {"id": 1000 * day_no + k, "item": {"id": iid}, "unit_price": 100 * day_no + 7 * k,
         "quantity": 1 + k, "time_left": "LONG"}
        for k, iid in enumerate(items)
    ]


def test_refresh_leaves_older_gold_partitions_untouched(spark, tmp_path, monkeypatch):
    """A refresh writes one new partition per gold table and leaves every
    older partition byte-identical; A3's history read of the daily
    summary is a partition-pruned slice, not the whole table."""
    from azeroth_data_platform_spark.operators import gold

    wh = str(tmp_path / "wh")
    days = [SNAP + dt.timedelta(days=k) for k in range(3)]
    for k, day in enumerate(days[:2]):
        run_pipeline(spark, _bronze_day(tmp_path, day, _auctions(k + 1, [19019, 2589, 2589])),
                     wh, day, item_fetch=_fake_item_fetch)
    old = _gold_files(wh)
    assert any("p_date=" in f for f in old)

    seen = []
    real_kernel = gold.zscore_from_daily

    def spy(daily, *a, **kw):
        seen.append(daily)
        return real_kernel(daily, *a, **kw)

    monkeypatch.setattr(gold, "zscore_from_daily", spy)
    meta = run_pipeline(spark, _bronze_day(tmp_path, days[2], _auctions(3, [19019, 777])),
                        wh, days[2], item_fetch=_fake_item_fetch)
    assert meta["gold_dates"] == {t: [str(days[2])] for t in GOLD_TABLES}
    new = _gold_files(wh)
    assert {f: new[f] for f in old} == old
    added_parts = {os.path.dirname(f) for f in set(new) - set(old)}
    assert added_parts == {f"{t}/p_date={days[2]}" for t in GOLD_TABLES}

    [history] = seen
    plan = history._jdf.queryExecution().executedPlan().toString()
    assert "p_date" in plan.split("PartitionFilters: [")[1].split("]")[0]


def test_sector_trends_keep_the_class_of_their_own_refresh(spark, tmp_path):
    """An item unknown to the item API on day 1 and enriched on day 2
    keeps its day-1 sector row under the NULL class; day 2 files it
    under its class."""
    known: set[int] = {2589}

    def fetch(url: str):
        item_id = int(url.rsplit("/", 1)[1])
        if item_id not in known:
            return 404, None
        return 200, {"name": f"Item {item_id}", "item_class": {"name": "Gem"}}

    wh = str(tmp_path / "wh")
    d1, d2 = SNAP, SNAP + dt.timedelta(days=1)
    run_pipeline(spark, _bronze_day(tmp_path, d1, _auctions(1, [2589, 5000])), wh, d1,
                 item_fetch=fetch)
    known.add(5000)
    meta = run_pipeline(spark, _bronze_day(tmp_path, d2, _auctions(2, [2589, 5000])), wh, d2,
                        item_fetch=fetch)
    assert meta["dim_enriched"] == 1
    rows = {
        (r.snapshot_date, r.item_class): r.distinct_items
        for r in spark.read.parquet(f"{wh}/gold_sector_trends").collect()
    }
    assert rows == {(d1, "Gem"): 1, (d1, None): 1, (d2, "Gem"): 2}


def test_failed_refresh_leaves_no_cached_data(spark, tmp_path, bronze_path):
    """A successful, an empty-batch and a raising refresh each leave the
    materialization pool and the persisted RDDs as they found them."""
    def state():
        rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        return lifecycle.pool_size(), rdds

    def fetch(url: str):
        raise ConnectionError("item API down")

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "raw.json").write_text(json.dumps({"auctions": []}))
    held = state()
    run_pipeline(spark, bronze_path, str(tmp_path / "ok"), SNAP, item_fetch=_fake_item_fetch)
    assert state() == held
    meta = run_pipeline(spark, str(empty), str(tmp_path / "ok"), SNAP, item_fetch=_fake_item_fetch)
    assert meta["silver_inserted"] == 0
    assert state() == held
    with pytest.raises(ConnectionError):
        run_pipeline(spark, bronze_path, str(tmp_path / "wh"), SNAP, item_fetch=fetch)
    assert state() == held


def test_dim_last_updated_does_not_shift_with_the_process_time_zone(
    spark, tmp_path, bronze_path, monkeypatch
):
    """enrich_items stamps a naive UTC time; the dim stores that instant
    whatever the local zone of the Python process is."""
    stamp = dt.datetime(2026, 2, 1, 12, 0)
    real = rest.enrich_items
    monkeypatch.setattr(
        rest, "enrich_items", lambda fetch, ids, **kw: real(fetch, ids, now=lambda: stamp)
    )
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        run_pipeline(spark, bronze_path, str(tmp_path / "wh"), SNAP, item_fetch=_fake_item_fetch)
    finally:
        monkeypatch.undo()
        time.tzset()
    stored = spark.read.parquet(str(tmp_path / "wh" / "dim_items")).select(
        F.col("last_updated").cast("long")
    )
    assert {r[0] for r in stored.collect()} == {calendar.timegm(stamp.timetuple())}


# Spark jobs of the second-day refresh below, counted when the day's JSON
# came to be parsed once and tables read with declared schemas.
SECOND_DAY_JOBS = 35


def test_second_day_refresh_job_ceiling(spark, tmp_path, monkeypatch):
    """A second-day refresh (relisted auctions, a new item to enrich into
    an existing dim, a retention delete) stays within its Spark job count,
    and the dim batch reaches the upsert as a local relation."""
    wh = str(tmp_path / "wh")
    d1, d2 = SNAP, SNAP + dt.timedelta(days=1)
    day1 = _auctions(1, [19019, 2589, 2589])
    run_pipeline(spark, _bronze_day(tmp_path, d1, day1), wh, d1, item_fetch=_fake_item_fetch)

    plans = []
    real_upsert = merge.upsert

    def spy(spark_, target, batch, *a, **kw):
        plans.append(batch._jdf.queryExecution().analyzed().toString())
        return real_upsert(spark_, target, batch, *a, **kw)

    monkeypatch.setattr(merge, "upsert", spy)
    bronze = _bronze_day(tmp_path, d2, day1[:2] + _auctions(2, [19019, 5000, 777]))
    sc = spark.sparkContext
    group = f"second-day-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "second-day refresh")
    try:
        meta = run_pipeline(spark, bronze, wh, d2, item_fetch=_fake_item_fetch, retention_days=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert (meta["silver_inserted"], meta["dim_enriched"], meta["retention_deleted"]) == (3, 1, 3)
    [plan] = plans
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert len(jobs) <= SECOND_DAY_JOBS, len(jobs)


# Classes Spark compiled on each of the third and fourth refreshes below:
# 14-16 measured once the codegen cache held the program's working set,
# 157-160 when its default 100 entries evicted them every refresh.
LATER_DAY_COMPILES = 20


def test_later_day_refreshes_reuse_generated_code(spark, tmp_path):
    """Once two refreshes have run, a new day compiles only the classes
    whose source inlines that day's date or id literals, not the whole
    refresh again."""
    from azeroth_data_platform_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    wh = str(tmp_path / "wh")
    compiles = []
    for k in range(4):
        day = dt.date(2026, 3, 1) + dt.timedelta(days=k)
        bronze = _bronze_day(tmp_path, day, _auctions(k + 1, [19019, 2589, 5000]))
        meta = run_pipeline(spark, bronze, wh, day, item_fetch=_fake_item_fetch)
        compiles.append(meta["codegen_compiles"])
    assert max(compiles[2:]) <= LATER_DAY_COMPILES, compiles


def test_dim_stays_one_file_across_refreshes(spark, tmp_path):
    """Three refreshes that each enrich new items leave dim_items as one
    parquet file holding every enriched item once."""
    wh = str(tmp_path / "wh")
    for k in range(3):
        day = SNAP + dt.timedelta(days=k)
        items = [2589, 5000 + 2 * k, 5001 + 2 * k]
        meta = run_pipeline(spark, _bronze_day(tmp_path, day, _auctions(k + 1, items)), wh, day,
                            item_fetch=_fake_item_fetch)
        assert meta["dim_enriched"] == (3 if k == 0 else 2)
    dim = os.path.join(wh, "dim_items")
    assert len([f for f in os.listdir(dim) if f.endswith(".parquet")]) == 1
    ids = [r.item_id for r in spark.read.parquet(dim).collect()]
    assert sorted(ids) == [2589, 5000, 5001, 5002, 5003, 5004, 5005]


def test_overwrite_partitions_leaves_full_overwrites_full(spark, tmp_path):
    """The dynamic mode of a gold write is per write: a later
    write_partitioned still replaces the whole table."""
    from azeroth_data_platform_spark.sources.writers import write_partitioned

    gold_t, t = str(tmp_path / "gold"), str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "v long, p string")
    merge.overwrite_partitions(spark, gold_t, df.where("p = 'a'"), "p")
    merge.overwrite_partitions(spark, gold_t, df.where("p = 'b'"), "p")
    assert sorted(d for d in os.listdir(gold_t) if d.startswith("p=")) == ["p=a", "p=b"]
    write_partitioned(df.where("p IN ('a', 'b')"), t, "p")
    write_partitioned(df.where("p = 'c'"), t, "p")
    assert sorted(d for d in os.listdir(t) if d.startswith("p=")) == ["p=c"]
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"


def test_run_pipeline_empty_batch_guard(spark, tmp_path):
    p = tmp_path / "empty"
    p.mkdir()
    (p / "raw.json").write_text(json.dumps({"auctions": []}))
    meta = run_pipeline(spark, str(p), str(tmp_path / "wh"), SNAP)
    assert meta["silver_inserted"] == 0


def test_token_cache_reuses_until_expiry():
    calls = []

    def fetch_token():
        calls.append(1)
        return f"tok{len(calls)}", 100.0

    tc = rest.TokenCache(fetch_token)
    assert tc.get(now=0.0) == "tok1"
    assert tc.get(now=50.0) == "tok1"  # still fresh
    assert tc.get(now=71.0) == "tok2"  # within 30s of expiry → refresh
    assert len(calls) == 2


def test_prune_old_day_keys(tmp_path):
    from azeroth_data_platform_spark.sources.writers import prune_old_day_keys, write_json_blob

    for day in ("2026-01-01", "2026-01-20", "2026-02-01"):
        write_json_blob({"auctions": []}, str(tmp_path), f"{day}/raw_{day}.json")
    removed = prune_old_day_keys(str(tmp_path), cutoff_day="2026-01-15")
    assert removed == ["2026-01-01"]
    import os

    assert sorted(os.listdir(tmp_path)) == ["2026-01-20", "2026-02-01"]


def test_corrupt_bronze_file_does_not_poison_batch(spark, tmp_path):
    """A malformed JSON blob alongside good ones yields its rows as NULLs
    (PERMISSIVE mode), which the id-null filter drops — the batch survives."""
    p = tmp_path / "mixed"
    p.mkdir()
    (p / "good.json").write_text(json.dumps(BRONZE_DOC))
    (p / "corrupt.json").write_text('{"auctions": [ {"id": 7, "item"')  # truncated
    out = silver_transform(read_bronze_auctions(spark, str(p)), SNAP)
    assert out.count() == 4  # the four good auctions; corruption skipped


def test_staged_rewrite_failure_keeps_old_table(spark, tmp_path, monkeypatch):
    """The atomic swap must never lose the target: if renaming staging into
    place fails, the previous table is restored intact."""
    import os as _os

    target = str(tmp_path / "dim")
    schema = "item_id long, name string"
    merge.upsert(spark, target, spark.createDataFrame([(1, "v1")], schema), key="item_id")

    real_rename = _os.rename

    def failing_rename(src, dst):
        if src.startswith(str(target) + ".staging-"):
            raise OSError("simulated rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(merge.os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated"):
        merge.upsert(spark, target, spark.createDataFrame([(1, "v2")], schema), key="item_id")
    monkeypatch.undo()
    out = spark.read.parquet(target).collect()
    assert [(r.item_id, r.name) for r in out] == [(1, "v1")]
    assert not [p for p in _os.listdir(tmp_path) if ".old-" in p]


def test_insert_if_absent_composite_key(spark, tmp_path):
    target = str(tmp_path / "candles")
    schema = "item_key string, snapshot_hour timestamp, close_price double"
    t0 = dt.datetime(2026, 2, 1, 12)
    b1 = spark.createDataFrame([("ore", t0, 1.0), ("ore", t0 + dt.timedelta(hours=1), 2.0)], schema)
    assert merge.insert_if_absent(spark, target, b1, key=["item_key", "snapshot_hour"]) == 2
    b2 = spark.createDataFrame([("ore", t0, 9.0), ("herb", t0, 3.0)], schema)
    assert merge.insert_if_absent(spark, target, b2, key=["item_key", "snapshot_hour"]) == 1
    out = spark.read.parquet(target)
    assert out.count() == 3
    assert out.columns == ["item_key", "snapshot_hour", "close_price"]


def test_insert_if_absent_prune_col(spark, tmp_path):
    """prune_col bounds the existing-side read to the batch's key range;
    idempotency and conflict detection are unchanged within that range."""
    target = str(tmp_path / "candles")
    schema = "item_key string, snapshot_hour timestamp, close_price double"
    t0 = dt.datetime(2026, 2, 1, 12)
    b1 = spark.createDataFrame(
        [("ore", t0, 1.0), ("ore", t0 + dt.timedelta(hours=1), 2.0)], schema
    )
    key = ["item_key", "snapshot_hour"]
    assert merge.insert_if_absent(spark, target, b1, key=key, prune_col="snapshot_hour") == 2
    # replay: no inserts (the pruned read still sees the conflicting keys)
    assert merge.insert_if_absent(spark, target, b1, key=key, prune_col="snapshot_hour") == 0
    # a later-hour batch with one overlap inserts only the new key
    b2 = spark.createDataFrame(
        [("ore", t0 + dt.timedelta(hours=1), 9.0), ("herb", t0 + dt.timedelta(hours=2), 3.0)],
        schema,
    )
    assert merge.insert_if_absent(spark, target, b2, key=key, prune_col="snapshot_hour") == 1
    assert spark.read.parquet(target).count() == 3
    # prune_col outside the key is rejected: pruning there could miss conflicts
    with pytest.raises(ValueError, match="must be one of the key columns"):
        merge.insert_if_absent(spark, target, b2, key=["item_key"], prune_col="close_price")


def test_insert_if_absent_prune_hits_partition_filter(spark, tmp_path):
    """With a target partitioned on prune_col, the bounded existing-side
    read shows a non-empty PartitionFilters on the scan — the anti-join
    probes a partition slice, not the whole table (the 100 TB point)."""
    target = str(tmp_path / "gold_daily")
    schema = "id long, snapshot_date date, v double"
    d = dt.date(2026, 2, 1)
    hist = spark.createDataFrame(
        [(i, d - dt.timedelta(days=i % 5), float(i)) for i in range(20)], schema
    )
    hist.write.partitionBy("snapshot_date").parquet(target)
    batch = spark.createDataFrame([(100, d, 1.0), (101, d, 2.0)], schema)
    keys = ["id", "snapshot_date"]
    lo, hi = d, d
    existing = spark.read.parquet(target).select(*keys)
    pruned = existing.where(
        (existing["snapshot_date"] >= lo) & (existing["snapshot_date"] <= hi)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the filter is ON the partition column, not just pushed data filters
    assert "snapshot_date" in plan.split("PartitionFilters:")[1].split("]")[0]
    # and the public API inserts correctly through the pruned path,
    # preserving the hive layout on append
    kw = dict(key=keys, prune_col="snapshot_date", partition_by="snapshot_date")
    assert merge.insert_if_absent(spark, target, batch, **kw) == 2
    assert merge.insert_if_absent(spark, target, batch, **kw) == 0
    assert spark.read.parquet(target).count() == 22


def test_flagship_silver_merge_prunes_on_id(spark, tmp_path):
    """VERDICT r5 #7: the flagship pipeline's silver merge passes
    prune_col='id' (the reference's conflict key is `id` ALONE —
    postgres_client.py:39 — so a (id, snapshot_date) composite would change
    semantics; pruning on the key itself stays exact). Pin that the bounded
    existing-side read pushes an id-range filter to the parquet scan:
    row-group min/max stats skip everything outside the batch's id range."""
    target = str(tmp_path / "silver_auctions")
    schema = "id long, item_id long, unit_price double"
    hist = spark.createDataFrame([(i, i % 7, float(i)) for i in range(100)], schema)
    hist.write.parquet(target)
    existing = spark.read.parquet(target).select("id")
    pruned = existing.where((existing["id"] >= 200) & (existing["id"] <= 210))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "id" in pushed and ("GreaterThanOrEqual" in pushed or "IsNotNull" in pushed)
    # and the public path: disjoint batch inserts fully, replay is a no-op
    batch = spark.createDataFrame([(200, 1, 5.0), (210, 2, 6.0)], schema)
    assert merge.insert_if_absent(spark, target, batch, key="id", prune_col="id") == 2
    assert merge.insert_if_absent(spark, target, batch, key="id", prune_col="id") == 0
    assert spark.read.parquet(target).count() == 102


def test_silver_zero_quantity_does_not_divide_by_zero(spark, tmp_path):
    doc = {"auctions": [{"id": 9, "item": {"id": 5}, "buyout": 400, "quantity": 0,
                        "time_left": "SHORT"}]}
    p = tmp_path / "2026-02-02"
    p.mkdir()
    (p / "raw_auctions_2026-02-02.json").write_text(json.dumps(doc))
    row = silver_transform(read_bronze_auctions(spark, str(p)), SNAP).collect()[0]
    assert row.quantity == 0  # explicit zero is preserved (only NULL defaults to 1)
    assert row.unit_price == 400  # divisor clamped to 1, no DIVIDE_BY_ZERO


def test_training_shard_layout_roundtrip(spark, tmp_path):
    """write_training_shards must produce one shard=N directory per shard,
    preserve every row through the partitioned layout, and keep packs
    readable in (pack_id, pack_offset) order within each shard."""
    import os

    from azeroth_data_platform_spark.operators import corpus
    from azeroth_data_platform_spark.sources.writers import write_training_shards

    sampled = spark.createDataFrame(
        [(i, "hi" if i % 2 else "lo", 40 + i, "en", i % 3) for i in range(30)],
        "doc_id long, band string, n_tokens long, lang_pred string, shard long",
    )
    packed = corpus.pack_sequences(sampled, budget=100)
    out = str(tmp_path / "shards")
    write_training_shards(packed, out)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == ["shard=0", "shard=1", "shard=2"]
    back = spark.read.parquet(out)
    assert back.count() == 30
    a = sorted(map(tuple, packed.collect()))
    b = sorted(map(tuple, back.select(packed.columns).collect()))
    assert a == b
    # re-run is idempotent (overwrite semantics)
    write_training_shards(packed, out)
    assert spark.read.parquet(out).count() == 30


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Many small appended files must compact to the computed count with
    zero row loss, and a re-run must be a no-op-shaped rewrite."""
    import os

    from azeroth_data_platform_spark.sources.writers import compact_parquet

    target = str(tmp_path / "t")
    for batch in range(5):  # 5 appends × 4 partitions = 20 small files
        spark.range(batch * 100, (batch + 1) * 100).repartition(4).write.mode(
            "append"
        ).parquet(target)
    before = sum(f.endswith(".parquet") for f in os.listdir(target))
    assert before >= 20
    n = compact_parquet(spark, target, target_bytes=10**9)
    after = [f for f in os.listdir(target) if f.endswith(".parquet")]
    assert len(after) == n == 1
    assert spark.read.parquet(target).count() == 500
    assert set(r.id for r in spark.read.parquet(target).collect()) == set(range(500))
    compact_parquet(spark, target, target_bytes=10**9)  # idempotent re-run
    assert spark.read.parquet(target).count() == 500


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    """The composed corpus run must be internally consistent: counts
    monotone through the filters, packed token mass exactly equal to the
    sampled mass, shard layout + report on disk, and a re-run idempotent."""
    from azeroth_data_platform_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )

    out = str(tmp_path / "corpus")
    meta = run_corpus_pipeline(
        spark, "/root/testdata/sf0.001/documents.parquet", out, budget=256
    )
    assert meta["docs_in"] == 500
    assert 0 < meta["train_pool_docs"] <= meta["docs_in"]
    assert 0 < meta["sampled_docs"] <= meta["train_pool_docs"]
    assert meta["packed_tokens"] == meta["sampled_tokens"]  # conservation
    assert meta["packs"] > 0 and meta["report_sources"] == 20
    assert meta["order_rows"] == meta["sampled_docs"]
    assert meta["seqlen_buckets"] > 0
    import os

    assert os.path.isdir(os.path.join(out, "packs"))
    assert os.path.isdir(os.path.join(out, "pack_layout"))
    assert os.path.isdir(os.path.join(out, "order"))
    assert os.path.isdir(os.path.join(out, "seqlen"))
    # idempotent re-run (overwrite semantics end to end) — stage_sec is a
    # wall-clock diagnostic, not a pipeline output; everything else must
    # be bit-identical across re-runs
    meta2 = run_corpus_pipeline(
        spark, "/root/testdata/sf0.001/documents.parquet", out, budget=256
    )
    drop = lambda m: {k: v for k, v in m.items() if k != "stage_sec"}  # noqa: E731
    assert drop(meta2) == drop(meta)


def test_packed_corpus_roundtrip_conserves_tokens(spark, tmp_path):
    """End-to-end packing over the real corpus: materialize pack contents,
    write the shard layout, read it back — total token mass equals the
    sampled corpus exactly, every non-final pack per shard is full, and
    each pack's text really contains its claimed token count."""
    import os

    from azeroth_data_platform_spark.operators import corpus
    from azeroth_data_platform_spark.sources import readers
    from azeroth_data_platform_spark.sources.writers import write_packed_corpus

    docs = readers.read_table(spark, "/root/testdata/sf0.001", "documents")
    sampled = corpus.stratified_sample(corpus.clean_corpus(docs))
    budget = 256
    packs = corpus.pack_contents(sampled, docs, budget=budget)
    out = str(tmp_path / "packs")
    write_packed_corpus(packs, out)
    back = spark.read.parquet(out).collect()
    total = sampled.groupBy().sum("n_tokens").collect()[0][0]
    assert sum(r.n_tokens_in_pack for r in back) == total
    last_per_shard = {}
    for r in back:
        last_per_shard[r.shard] = max(last_per_shard.get(r.shard, -1), r.pack_id)
    for r in back:
        if r.pack_id < last_per_shard[r.shard]:
            assert r.n_tokens_in_pack == budget, (r.shard, r.pack_id)
        assert len(r.pack_text.split()) == r.n_tokens_in_pack
    assert sorted(d for d in os.listdir(out) if d.startswith("shard=")) == [
        f"shard={i}" for i in sorted({r.shard for r in back})
    ]


def test_export_manifest_is_layout_invariant(spark, sf_dir):
    """The manifest checksum must not depend on row order or partitioning —
    two exports of the same packs produce identical manifests; changing
    ONE pack's content changes exactly that shard's checksum."""
    from azeroth_data_platform_spark import harness
    from azeroth_data_platform_spark.operators import corpus
    from azeroth_data_platform_spark.sources.writers import export_manifest
    from pyspark.sql import functions as F

    docs = harness._docs(spark, sf_dir)
    packs = corpus.pack_contents(
        corpus.stratified_sample(corpus.clean_corpus(docs)), docs
    ).cache()
    try:
        m1 = {r.shard: tuple(r) for r in export_manifest(packs).collect()}
        m2 = {
            r.shard: tuple(r)
            for r in export_manifest(packs.repartition(17).sortWithinPartitions("pack_text")).collect()
        }
        assert m1 == m2
        tampered = packs.withColumn(
            "pack_text",
            F.when(
                (F.col("shard") == 0) & (F.col("pack_id") == 0),
                F.concat(F.col("pack_text"), F.lit(" tampered")),
            ).otherwise(F.col("pack_text")),
        )
        m3 = {r.shard: tuple(r) for r in export_manifest(tampered).collect()}
        assert m3[0] != m1[0]
        assert all(m3[s] == m1[s] for s in m1 if s != 0)
    finally:
        packs.unpersist()


def test_chunk_documents_window_semantics(spark):
    """Sliding-window chunking: exact window math on crafted docs —
    single-chunk short doc, exact-boundary doc (no empty trailing chunk),
    overlap reconstruction (every consecutive pair shares exactly
    `overlap` tokens), and full token coverage."""
    from azeroth_data_platform_spark.operators import corpus

    toks = [f"w{i}" for i in range(25)]
    rows = [
        (1, " ".join(toks[:5]), "en", "s", 0),     # n=5  <= size -> 1 chunk
        (2, " ".join(toks[:10]), "en", "s", 0),    # n=10 == size -> 1 chunk
        (3, " ".join(toks[:18]), "en", "s", 0),    # n=18: chunks @0,8 -> 2
        (4, " ".join(toks[:24]), "en", "s", 0),    # n=24: @0,8,16 exact end
        (5, "", "en", "s", 0),                     # empty -> dropped
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = corpus.chunk_documents(docs, size=10, overlap=2)
    got = {(r.doc_id, r.chunk_id): r for r in out.collect()}

    assert {d for d, _ in got} == {1, 2, 3, 4}
    assert sum(1 for d, _ in got if d == 1) == 1
    assert sum(1 for d, _ in got if d == 2) == 1
    assert sum(1 for d, _ in got if d == 3) == 2
    assert sum(1 for d, _ in got if d == 4) == 3

    # window math: begin_tok = chunk_id * stride; stride = 8
    for (d, c), r in got.items():
        assert r.begin_tok == c * 8
    # doc 3: chunk 0 covers toks[0:10], chunk 1 covers toks[8:18]
    assert got[(3, 0)].chunk_text == " ".join(toks[0:10])
    assert got[(3, 1)].chunk_text == " ".join(toks[8:18])
    assert got[(3, 1)].n_tokens_in_chunk == 10
    # overlap reconstruction: consecutive chunks share exactly 2 tokens
    assert got[(3, 0)].chunk_text.split()[-2:] == got[(3, 1)].chunk_text.split()[:2]
    # doc 4 ends exactly at a window boundary: last chunk is full, no 4th
    assert got[(4, 2)].chunk_text == " ".join(toks[16:24])
    assert got[(4, 2)].n_tokens_in_chunk == 8
    # coverage: union of windows reconstructs the full token sequence
    seen = []
    for c in range(3):
        t = got[(4, c)].chunk_text.split()
        seen.extend(t if c == 0 else t[2:])
    assert seen == toks[:24]


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest

    from azeroth_data_platform_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with pytest.raises(ValueError):
        corpus.chunk_documents(docs, size=10, overlap=10)


def _perfbench_gen():
    """The benchmark's seeded bronze generator, loaded from its file."""
    import importlib.util
    import sys

    name = "perfbench_gen"
    if name not in sys.modules:
        path = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "gen.py")
        spec = importlib.util.spec_from_file_location(name, path)
        sys.modules[name] = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(sys.modules[name])
    return sys.modules[name]


def test_gold_does_not_depend_on_retention(spark, tmp_path):
    """Replaying generated days, one of them backfilled out of order, at a
    2-day and at a 1000-day silver retention leaves the same six gold
    tables, equal to a full GOLD_JOBS build over the complete silver."""
    gen = _perfbench_gen()
    days = gen.generate_bronze(
        str(tmp_path / "bronze"), 7,
        gen.BronzeSpec(history_days=4, auctions_per_day=40, catalog_items=25,
                       new_items_per_day=2),
    )
    order = days[:2] + [days[3], days[2], days[4]]  # day 2 arrives after day 3
    got = {}
    for retention in (2, 1000):
        wh = str(tmp_path / f"wh{retention}")
        for d in order:
            meta = run_pipeline(spark, d.path, wh, d.day, item_fetch=gen.item_fetch,
                                retention_days=retention)
        got[retention] = _gold_rows(spark, wh)
    assert meta["gold_dates"]["gold_market_summary"] == [str(days[4].day)]

    silver = spark.read.parquet(str(tmp_path / "wh1000" / "silver_auctions"))
    dim = spark.read.parquet(str(tmp_path / "wh1000" / "dim_items"))
    full = {
        t: sorted((tuple(r) for r in job(silver, dim).collect()), key=repr)
        for t, job in GOLD_JOBS.items()
    }
    assert len(full["gold_market_index"]) == len(days)
    for t in GOLD_TABLES:
        assert got[2][t] == full[t], t
        assert got[1000][t] == full[t], t
