"""The benchmark's workloads: set-up, timed loop and output checks.

Both workloads start from the same set-up: a warehouse holding the
silver history of a generated auction house (one retention window plus
the day the next refresh drops), the item dimension and the six gold
tables built over it, as the previous day's pipeline run would have left
them. ``daily_refresh`` times the next day's ``run_pipeline`` on copies
of that warehouse; ``api_serving`` times dashboard reads of its gold
tables from a closed loop of client threads.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb

import gen
from spans import Tracer

SPEC = gen.BronzeSpec()
CLK_TCK = os.sysconf("SC_CLK_TCK")
DIM_SCHEMA = ("item_id long, name string, quality string, item_class string, "
              "item_subclass string, icon_url string, last_updated timestamp")
# HotSpot's JIT-compiler and garbage-collector threads, by their (15-letter) thread name
JIT_GC_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread", "G1 ", "GC Thread")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as f:
        s = f.read()
    return s[s.index("(") + 1: s.rindex(")")], s[s.rindex(")") + 2:].split()


class CpuMeter:
    """CPU time of this process and every live descendant: the driver JVM,
    which also runs the local executors, and any Python workers it forks.
    Each process counts the children it has reaped too (cutime, cstime),
    so work done in a worker that has exited is kept. Unlike wall time it
    leaves out time the host gave to other tenants.

    The JVM's JIT-compiler and GC threads are counted apart: how much they
    run follows how warm the JVM is and the heap heuristics more than the
    program's work. HotSpot starts and ends compiler threads as its queue
    grows and drains, so :meth:`watch` polls the JVM's threads; a thread
    that exits leaves only its CPU since the last poll in the work figure."""

    POLL_S = 0.5

    def __init__(self) -> None:
        self._jit_gc: dict[int, int] = {}  # thread id -> CPU ticks, last seen
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._poller: threading.Thread | None = None

    def _scan_threads(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            try:
                comm, f = _stat(f"/proc/{pid}/task/{tid}/stat")
            except (OSError, ValueError):
                continue  # exited while we looked
            if comm.startswith(JIT_GC_THREADS):
                with self._lock:
                    self._jit_gc[int(tid)] = int(f[11]) + int(f[12])

    def watch(self, pid: int) -> None:
        """Poll ``pid``'s threads every ``POLL_S`` until :meth:`close`."""
        def poll() -> None:
            while not self._stop.wait(self.POLL_S):
                self._scan_threads(pid)

        self._poller = threading.Thread(target=poll, name="cpu-meter", daemon=True)
        self._poller.start()

    def close(self) -> None:
        self._stop.set()
        if self._poller is not None:
            self._poller.join()

    def sample(self) -> tuple[float, float]:
        """(work CPU seconds, JIT and GC CPU seconds) used so far."""
        procs: dict[int, tuple[int, int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    _, f = _stat(f"/proc/{entry}/stat")
                except (OSError, ValueError):
                    continue
                procs[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]))
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += procs.get(pid, (0, 0))[1]
            todo.extend(children.get(pid, []))
            self._scan_threads(pid)
        with self._lock:
            jit_gc = sum(self._jit_gc.values())
        return (total - jit_gc) / CLK_TCK, jit_gc / CLK_TCK


@dataclass
class Ctx:
    program: Any  # the program's modules, as run.import_program returns them
    spark: Any
    work: str
    seed: int
    seconds: float
    cores: int
    meter: CpuMeter
    cpu0: tuple[float, float]  # the meter just before get_spark started the JVM
    tracer: Tracer | None = None


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup_s: float = 0.0  # wall time of the warehouse build
    setup_cpu_s: float = 0.0  # CPU time of get_spark and the warehouse build
    latencies_s: list[float] = field(default_factory=list)
    work_per_s: float = 0.0
    cpu_s_per_op: float = 0.0
    jit_gc_s_per_op: float = 0.0  # JIT-compiler and GC CPU, left out of cpu_s_per_op
    stored_bytes_per_bronze_byte: float = 0.0
    # figures printed for people, under the names the workloads are discussed with
    report: dict[str, tuple[float, str]] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


# ---------------------------------------------------------------------------
# set-up: the warehouse the previous day's run left behind


@dataclass
class Warehouse:
    path: str
    days: list[gen.BronzeDay]

    def table(self, name: str) -> str:
        return os.path.join(self.path, name)


def build_warehouse(P, spark, root: str, seed: int) -> Warehouse:
    """Generate the bronze dumps, bulk-load the history days into silver
    in one pass, enrich every item seen, and materialize the gold tables
    the way ``run_pipeline`` does. Independent tables are written from
    concurrent threads, which shortens the cold start of a fresh JVM."""
    F = P.F
    days = gen.generate_bronze(os.path.join(root, "bronze"), seed, SPEC)
    wh = Warehouse(os.path.join(root, "warehouse"), days)
    history = days[:-1]

    def load_silver() -> None:
        day_of_file = F.to_date(F.regexp_extract(
            F.input_file_name(), r"raw_auctions_(\d{4}-\d{2}-\d{2})", 1))
        rows = P.silver.silver_transform(
            P.readers.read_bronze_auctions(spark, [d.path for d in history]), None
        ).withColumn("snapshot_date", day_of_file)
        # insert-if-absent keeps an auction's first listing
        first = P.Window.partitionBy("id").orderBy("snapshot_date")
        (rows.withColumn("_r", F.row_number().over(first)).where("_r = 1").drop("_r")
         .write.parquet(wh.table("silver_auctions")))

    def load_dim() -> None:
        item_ids = sorted({iid for d in history for _, iid in d.first_listed if iid is not None})
        spark.createDataFrame(P.rest.enrich_items(gen.item_fetch, item_ids), DIM_SCHEMA) \
            .write.parquet(wh.table("dim_items"))

    def load_gold(name: str, job) -> None:
        P.merge.overwrite_partitions(
            spark, wh.table(name),
            job(silver_df, dim_df).withColumn("p_date", F.col("snapshot_date")), "p_date")

    with ThreadPoolExecutor(len(P.pipeline.GOLD_JOBS)) as pool:
        for f in [pool.submit(load_silver), pool.submit(load_dim)]:
            f.result()
        silver_df = spark.read.parquet(wh.table("silver_auctions"))
        dim_df = spark.read.parquet(wh.table("dim_items"))
        for f in [pool.submit(load_gold, name, job)
                  for name, job in P.pipeline.GOLD_JOBS.items()]:
            f.result()
    return wh


def set_up(ctx: Ctx, out: Outcome) -> Warehouse:
    """Build the warehouse once; a second build would not fit the run's
    time budget (perfbench/README.md)."""
    t0 = time.perf_counter()
    wh = build_warehouse(ctx.program, ctx.spark, os.path.join(ctx.work, "setup"), ctx.seed)
    out.setup_s = time.perf_counter() - t0
    out.setup_cpu_s = ctx.meter.sample()[0] - ctx.cpu0[0]
    out.stored_bytes_per_bronze_byte = (
        dir_bytes(wh.path) / sum(d.nbytes for d in wh.days[:-1]))
    return wh


# ---------------------------------------------------------------------------
# daily_refresh


def check_refresh(run_dir: str, meta: dict, exp: dict, gold_tables: list[str]) -> list[str]:
    """Generator-derived counts, plus the daily summary recomputed by
    DuckDB over the same silver."""
    bad = []
    silver = os.path.join(run_dir, "silver_auctions", "*.parquet")
    gold = os.path.join(run_dir, "gold_market_summary", "**", "*.parquet")
    con = duckdb.connect()
    try:
        n = con.execute(f"SELECT count(*) FROM read_parquet('{silver}')").fetchone()[0]
        if n != exp["silver_rows"]:
            bad.append(f"silver rows {n} != {exp['silver_rows']}")
        if meta.get("silver_inserted") != exp["inserted"]:
            bad.append(f"inserted {meta.get('silver_inserted')} != {exp['inserted']}")
        if meta.get("retention_deleted") != exp["retention_deleted"]:
            bad.append(f"retention deleted {meta.get('retention_deleted')} "
                       f"!= {exp['retention_deleted']}")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{gold}', hive_partitioning=1)"
                        ).fetchone()[0]
        if n != exp["gold_pairs"]:
            bad.append(f"gold summary rows {n} != {exp['gold_pairs']} (item, day) pairs")
        for name in gold_tables:
            path = os.path.join(run_dir, name, "**", "*.parquet")
            n = con.execute(
                f"SELECT count(*) FROM read_parquet('{path}', hive_partitioning=1) "
                f"WHERE snapshot_date = DATE '{exp['snapshot']}'").fetchone()[0]
            if n == 0:
                bad.append(f"{name} has no rows for the refreshed day")
        diff = con.execute(f"""
            WITH ref AS (
              SELECT item_id, snapshot_date, min(unit_price) AS mn, max(unit_price) AS mx,
                     median(unit_price) AS med, sum(quantity) AS q, count(*) AS n
              FROM read_parquet('{silver}') GROUP BY ALL),
            got AS (
              SELECT item_id, snapshot_date, min_buyout AS mn, max_buyout AS mx,
                     median_buyout AS med, quantity_available AS q, auction_count AS n
              FROM read_parquet('{gold}', hive_partitioning=1)
              WHERE snapshot_date >= DATE '{exp['cutoff']}')
            SELECT count(*) FROM (
              (SELECT * FROM ref EXCEPT ALL SELECT * FROM got)
              UNION ALL (SELECT * FROM got EXCEPT ALL SELECT * FROM ref))""").fetchone()[0]
        if diff:
            bad.append(f"daily summary differs from DuckDB on {diff} rows")
    finally:
        con.close()
    return bad


def _gold_replay(ctx: Ctx, run_dir: str) -> None:
    """Traced run only: rebuild each gold table into the noop sink on the
    refreshed silver, so gold compute is timed apart from its write."""
    spark, P = ctx.spark, ctx.program
    silver_df = spark.read.parquet(os.path.join(run_dir, "silver_auctions"))
    dim_df = spark.read.parquet(os.path.join(run_dir, "dim_items"))
    for name, job in P.pipeline.GOLD_JOBS.items():
        with ctx.tracer.span(f"operators.gold.{name}.compute"):
            job(silver_df, dim_df).write.format("noop").mode("overwrite").save()


def daily_refresh(ctx: Ctx) -> Outcome:
    P = ctx.program
    out = Outcome()
    wh = set_up(ctx, out)
    day = wh.days[-1]
    exp = gen.expected_refresh(wh.days, SPEC)
    exp["snapshot"] = day.day
    exp["inserted"] = sum(1 for _, iid in day.first_listed if iid is not None)
    bronze_bytes = sum(d.nbytes for d in wh.days)
    if ctx.tracer is not None:
        install_refresh_probes(ctx.tracer, P)
    measured, cpus, jit_gc, run_dir = 0.0, [], 0.0, None
    while measured < ctx.seconds:
        if run_dir is not None:
            shutil.rmtree(run_dir)
        run_dir = os.path.join(ctx.work, f"run-{out.attempted}")
        shutil.copytree(wh.path, run_dir)
        out.attempted += 1
        t0, c0 = time.perf_counter(), ctx.meter.sample()
        try:
            meta = P.pipeline.run_pipeline(
                ctx.spark, day.path, run_dir, day.day,
                item_fetch=gen.item_fetch, retention_days=SPEC.retention_days)
        except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
            out.fail("run_pipeline raised:\n" + traceback.format_exc(limit=3))
            meta = None
        took = time.perf_counter() - t0
        c1 = ctx.meter.sample()
        cpus.append(c1[0] - c0[0])
        jit_gc += c1[1] - c0[1]
        measured += took
        out.latencies_s.append(took)
        if meta is not None:
            bad = check_refresh(run_dir, meta, exp, list(P.pipeline.GOLD_JOBS))
            if bad:
                out.fail("; ".join(bad))
        if ctx.tracer is not None:
            _gold_replay(ctx, run_dir)
    out.work_per_s = SPEC.auctions_per_day * len(out.latencies_s) / measured
    out.cpu_s_per_op = statistics.median(cpus)
    out.jit_gc_s_per_op = jit_gc / len(cpus)
    out.stored_bytes_per_bronze_byte = dir_bytes(run_dir) / bronze_bytes
    out.report.update({
        "refresh_auctions_per_s": (out.work_per_s, "auctions/s"),
        "refresh_day_p50_ms": (statistics.median(out.latencies_s) * 1e3,
                               f"ms, n={len(out.latencies_s)}"),
        "auctions_per_day": (SPEC.auctions_per_day, "count"),
    })
    return out


def install_refresh_probes(tr: Tracer, P) -> None:
    M = P.merge

    def files_since(span: dict, target: str) -> int:
        return sum(1 for d, _, files in os.walk(target) for f in files
                   if f.endswith(".parquet")
                   and os.path.getmtime(os.path.join(d, f)) >= span["t0"])

    tr.wrap(M, "insert_if_absent", "sources.merge.insert_if_absent",
            probe=lambda spark, target, batch, *a, **kw: {"rows_in": batch.count()},
            counts=lambda n, s, *a, **kw: {"inserted": n})
    tr.wrap(M, "upsert", "sources.merge.upsert")
    tr.wrap(M, "overwrite_partitions", "sources.merge.overwrite_partitions",
            counts=lambda r, s, spark, target, *a, **kw: {"files": files_since(s, target)})
    tr.wrap(M, "retention_delete", "sources.merge.retention_delete",
            counts=lambda n, s, *a, **kw: {"rows_deleted": n})
    tr.wrap(P.joins, "missing_item_ids", "operators.joins.missing_item_ids", lazy=True)
    tr.wrap(P.rest, "enrich_items", "sources.rest.enrich_items",
            counts=lambda r, s, fetch, ids, *a, **kw: {"calls": len(ids)})
    tr.wrap(P.pipeline, "run_pipeline", "plans.pipeline.run_pipeline")

    def cached_bytes(r, s, df, *a, **kw):
        infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
        return {"cached_bytes": sum(i.memSize() + i.diskSize() for i in infos)}

    tr.wrap(P.lifecycle, "materialize", "functions.lifecycle.materialize", counts=cached_bytes)


# ---------------------------------------------------------------------------
# api_serving

CLIENT_LIMIT = 100
PAGE = 50
HOT_ITEMS = 40  # item keys are drawn Zipf-skewed from the most listed items
WARMUP_S = 12.0


@dataclass(frozen=True)
class Endpoint:
    weight: int
    table: str
    build: Callable[[Any, Any], Any]  # (frame, param) -> DataFrame
    sql: Callable[[str, Any], str]  # (table scan, param) -> DuckDB twin
    params: Callable[[random.Random, "ServeKeys"], Any]


@dataclass
class ServeKeys:
    hot_items: list[int]
    item_cdf: list[float]
    dim_ids: list[int]


def _endpoints(P) -> dict[str, Endpoint]:
    S, F = P.serving, P.F
    rec = lambda r, k: r.choice([None, "buy", "sell", "hold"])  # noqa: E731
    status = lambda r, k: r.choice(  # noqa: E731
        [None, "MONOPOLIZED", "CONCENTRATED", "COMPETITIVE", "DISPERSED"])
    page = lambda r, k: r.randrange(6)  # noqa: E731
    item = lambda r, k: k.hot_items[gen.pick(r, k.item_cdf)]  # noqa: E731
    after = lambda r, k: k.dim_ids[PAGE * r.randrange(6)]  # noqa: E731

    def where(col: str, value: str | None, fn: str = "") -> str:
        return f" WHERE {col} = {fn}('{value}')" if value else ""

    return {
        "o1_latest_summaries": Endpoint(
            3, "gold_market_summary",
            lambda t, p: S.latest_daily_summaries(t, CLIENT_LIMIT),
            lambda t, p: f"FROM {t} ORDER BY snapshot_date DESC, item_id LIMIT {CLIENT_LIMIT}",
            lambda r, k: None),
        "o1_item_summaries": Endpoint(
            4, "gold_market_summary",
            lambda t, p: S.latest_daily_summaries(t.where(F.col("item_id") == p), CLIENT_LIMIT),
            lambda t, p: (f"FROM {t} WHERE item_id = {p} "
                          f"ORDER BY snapshot_date DESC, item_id LIMIT {CLIENT_LIMIT}"),
            item),
        "o3_opportunities": Endpoint(
            2, "gold_safe_investments",
            lambda t, p: S.opportunities(t, p).limit(CLIENT_LIMIT),
            lambda t, p: (f"FROM {t}{where('recommendation', p, 'upper')} "
                          "ORDER BY z_score ASC NULLS LAST, item_id, snapshot_date "
                          f"LIMIT {CLIENT_LIMIT}"),
            rec),
        "o4_latest_demand": Endpoint(
            2, "gold_sales_velocity",
            lambda t, p: S.latest_daily_summaries(t, CLIENT_LIMIT),
            lambda t, p: f"FROM {t} ORDER BY snapshot_date DESC, item_id LIMIT {CLIENT_LIMIT}",
            lambda r, k: None),
        "o5_top_concentration": Endpoint(
            2, "gold_market_concentration",
            lambda t, p: S.top_concentration(t, p, CLIENT_LIMIT),
            lambda t, p: (f"FROM {t}{where('market_status', p)} ORDER BY "
                          "floor_concentration_pct DESC NULLS LAST, item_id, snapshot_date "
                          f"LIMIT {CLIENT_LIMIT}"),
            status),
        "o6_latest_index": Endpoint(
            1, "gold_market_index",
            lambda t, p: t.orderBy(F.col("snapshot_date").desc()).limit(30),
            lambda t, p: f"FROM {t} ORDER BY snapshot_date DESC LIMIT 30",
            lambda r, k: None),
        "o9_best_opportunity": Endpoint(
            1, "gold_safe_investments",
            lambda t, p: S.best_opportunity(t),
            lambda t, p: (f"FROM {t} WHERE z_score IS NOT NULL "
                          "ORDER BY z_score, item_id, snapshot_date LIMIT 1"),
            lambda r, k: None),
        "o7_items_page": Endpoint(
            2, "dim_items",
            lambda t, p: S.paginate_items(t, PAGE * p, PAGE),
            lambda t, p: f"FROM {t} ORDER BY item_id LIMIT {PAGE} OFFSET {PAGE * p}",
            page),
        "o11_items_keyset": Endpoint(
            2, "dim_items",
            lambda t, p: S.keyset_paginate_items(t, p, PAGE),
            lambda t, p: f"FROM {t} WHERE item_id > {p} ORDER BY item_id LIMIT {PAGE}",
            after),
    }


def serve_keys(wh: Warehouse) -> ServeKeys:
    counts: dict[int, int] = {}
    for d in wh.days[:-1]:
        for _, iid in d.first_listed:
            if iid is not None:
                counts[iid] = counts.get(iid, 0) + 1
    hot = sorted(counts, key=lambda i: (-counts[i], i))[:HOT_ITEMS]
    dim_ids = sorted(counts)
    return ServeKeys(hot, gen.zipf_cdf(len(hot), SPEC.zipf_s), dim_ids)


def _comparable(row: tuple, columns: list[str], skip: set[str]) -> tuple:
    return tuple(v for c, v in zip(columns, row) if c not in skip)


def api_serving(ctx: Ctx) -> Outcome:
    out = Outcome()
    wh = set_up(ctx, out)
    eps = _endpoints(ctx.program)
    keys = serve_keys(wh)
    names = list(eps)
    spark, tracer = ctx.spark, ctx.tracer
    columns: dict[str, list[str]] = {}

    def request(name: str, param: Any) -> list[tuple]:
        ep = eps[name]
        if tracer is None:
            df = ep.build(spark.read.parquet(wh.table(ep.table)), param)
            rows = df.collect()
        else:
            with tracer.span(f"operators.serving.{name}") as s:
                with tracer.span("serving.resolve") as r:
                    frame = spark.read.parquet(wh.table(ep.table))
                t0 = time.perf_counter()
                df = ep.build(frame, param)
                df._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
                s["counts"].update(plan_ms=(t1 - t0) * 1e3, exec_ms=(t2 - t1) * 1e3,
                                   rows_out=len(rows))
                r["counts"]["resolve_ms"] = (r["t1"] - r["t0"]) * 1e3
        columns.setdefault(name, df.columns)
        return [tuple(row) for row in rows]

    def closed_loop(seconds: float, stream: int) -> tuple[list[tuple], float]:
        """Each of ``ctx.cores`` clients sends its next request when the
        previous one has returned, until ``seconds`` have passed."""
        results: list[list[tuple]] = [[] for _ in range(ctx.cores)]
        deadline = time.perf_counter() + seconds
        # The clients draw endpoints from one shuffled deck holding each
        # endpoint `weight` times, so every 19 requests follow the mix
        # exactly and every seed sends the same mix: independent draws
        # would vary the mix of a run's few dozen requests from seed to seed.
        deck_rng, deck, deck_lock = random.Random(f"{ctx.seed}-{stream}"), [], threading.Lock()

        def next_endpoint() -> str:
            with deck_lock:
                if not deck:
                    deck.extend(n for n in names for _ in range(eps[n].weight))
                    deck_rng.shuffle(deck)
                return deck.pop()

        def client(i: int) -> None:
            rng = random.Random(f"{ctx.seed}-{stream}-{i}")
            mine = results[i]
            while time.perf_counter() < deadline:
                name = next_endpoint()
                param = eps[name].params(rng, keys)
                t0 = time.perf_counter()
                try:
                    rows, err = request(name, param), None
                except Exception:  # noqa: BLE001 — a failed request is counted
                    rows, err = None, traceback.format_exc(limit=3)
                mine.append((name, param, time.perf_counter() - t0, rows, err))

        t_start = time.perf_counter()
        threads = [threading.Thread(target=client, args=(i,)) for i in range(ctx.cores)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [r for rs in results for r in rs], time.perf_counter() - t_start

    # Warm-up, untimed: the same loop for WARMUP_S, so the timed loop
    # starts past the steepest part of the serving path's JIT warm-up.
    warm = closed_loop(WARMUP_S, 1)[0]
    if tracer is not None:
        tracer.forget()
    c0 = ctx.meter.sample()
    done, wall = closed_loop(ctx.seconds, 0)
    c1 = ctx.meter.sample()
    out.cpu_s_per_op = (c1[0] - c0[0]) / len(done)
    out.jit_gc_s_per_op = (c1[1] - c0[1]) / len(done)

    out.latencies_s = [r[2] for r in done]
    out.work_per_s = len(done) / wall
    done += warm
    out.attempted = len(done)
    check_serving(wh, eps, columns, done, out)
    lat_ms = sorted(x * 1e3 for x in out.latencies_s)
    out.report.update({
        "serve_p50_ms": (percentile(lat_ms, 50), f"ms, n={len(lat_ms)}"),
        "serve_p90_ms": (percentile(lat_ms, 90), f"ms, n={len(lat_ms)}"),
        "serve_qps": (out.work_per_s, f"requests/s, {ctx.cores} closed-loop clients"),
    })
    return out


def check_serving(wh: Warehouse, eps: dict[str, Endpoint], columns: dict[str, list[str]],
                  done: list[tuple], out: Outcome) -> None:
    """Every response must equal the DuckDB twin of its request over the
    same parquet; each distinct request is computed once."""
    con = duckdb.connect()
    refs: dict[tuple[str, Any], list[tuple]] = {}
    try:
        for name, param, _, rows, err in done:
            if err is not None:
                out.fail(f"{name}({param}) raised:\n{err}")
                continue
            ep, cols = eps[name], columns[name]
            # timestamps (dim last_updated) are compared by neither side's
            # driver conversion rules; every other column is compared
            skip = {"last_updated"}
            key = (name, param)
            if key not in refs:
                path = wh.table(ep.table)
                scan = (f"read_parquet('{path}/**/*.parquet', hive_partitioning=1)"
                        if ep.table != "dim_items" else f"read_parquet('{path}/*.parquet')")
                sel = ", ".join(c for c in cols if c not in skip)
                refs[key] = con.execute(f"SELECT {sel} {ep.sql(scan, param)}").fetchall()
            got = [_comparable(r, cols, skip) for r in rows]
            if got != refs[key]:
                out.fail(f"{name}({param}) differs from its reference "
                         f"({len(got)} vs {len(refs[key])} rows)")
    finally:
        con.close()


WORKLOADS = {"daily_refresh": daily_refresh, "api_serving": api_serving}


# ---------------------------------------------------------------------------
# per-layer metrics of the traced run

COUNTED_SPANS = ("plans.pipeline.run_pipeline", "sources.merge.insert_if_absent",
                 "sources.merge.overwrite_partitions", "sources.merge.retention_delete",
                 "operators.serving")


def layer_metrics(tr: Tracer, counters: dict, cores: int, ops: int) -> dict[str, float]:
    """The per-layer metrics the spans give; run.py reads 0 for a layer the
    workload does not run. Times are medians per call; counts and bytes are
    per timed operation (one refresh, or one request)."""
    from spans import median, rollup

    def dur(name: str) -> list[float]:
        return [s["t1"] - s["t0"] for s in tr.named(name)]

    def per_op_sum(name: str, key: str) -> float:
        return sum(s["counts"].get(key, 0) for s in tr.named(name)) / max(ops, 1)

    def ctr(name: str, key: str) -> float:
        return sum(counters.get(s["id"], {}).get(key, 0.0) for s in tr.named(name))

    def families(prefix: str) -> list[str]:
        return sorted({s["name"] for s in tr.spans if s["name"].startswith(prefix)})

    m: dict[str, float] = {}
    runs = tr.named("plans.pipeline.run_pipeline")
    m["plans.pipeline.run_pipeline.s"] = median(dur("plans.pipeline.run_pipeline"))
    m["plans.pipeline.self_s"] = median([tr.self_time(s) for s in runs])
    ins = "sources.merge.insert_if_absent"
    rows_in = sum(s["counts"].get("rows_in", 0) for s in tr.named(ins))
    m[f"{ins}.s"] = median(dur(ins))
    if rows_in:
        m[f"{ins}.inserted_frac"] = sum(s["counts"]["inserted"] for s in tr.named(ins)) / rows_in
        m[f"{ins}.rows_read_per_row_in"] = ctr(ins, "records_read") / rows_in
    m["sources.merge.upsert.s"] = median(dur("sources.merge.upsert"))
    ret = "sources.merge.retention_delete"
    m[f"{ret}.s"] = median(dur(ret))
    m[f"{ret}.rows_deleted"] = per_op_sum(ret, "rows_deleted")
    m[f"{ret}.bytes_rewritten"] = ctr(ret, "bytes_written") / max(ops, 1)
    ow = "sources.merge.overwrite_partitions"
    m[f"{ow}.s"] = sum(dur(ow)) / max(len(runs), 1) if runs else 0.0
    m[f"{ow}.files_written"] = per_op_sum(ow, "files") if runs else 0.0
    m[f"{ow}.bytes_written"] = ctr(ow, "bytes_written") / max(len(runs), 1) if runs else 0.0
    for name in families("operators.gold."):
        m[f"{name}_s"] = median(dur(name))
    m["operators.joins.missing_item_ids.s"] = median(dur("operators.joins.missing_item_ids"))
    m["sources.rest.enrich_items.s"] = median(dur("sources.rest.enrich_items"))
    m["sources.rest.enrich_items.calls"] = per_op_sum("sources.rest.enrich_items", "calls")
    m["functions.lifecycle.cached_bytes_peak"] = max(
        [s["counts"].get("cached_bytes", 0) for s in tr.named("functions.lifecycle.materialize")],
        default=0)
    m["serving.resolve_ms"] = median([s["counts"]["resolve_ms"]
                                      for s in tr.named("serving.resolve")])
    for name in families("operators.serving."):
        spans = tr.named(name)
        rows_out = sum(s["counts"]["rows_out"] for s in spans)
        m[f"{name}.plan_ms"] = median([s["counts"]["plan_ms"] for s in spans])
        m[f"{name}.exec_ms"] = median([s["counts"]["exec_ms"] for s in spans])
        req = rollup(tr, counters, name, cores)
        m[f"{name}.rows_scanned_per_row_out"] = req["records_read"] / max(rows_out, 1)
        m[f"{name}.files_read"] = req["files_read"] / len(spans)
        m[f"{name}.jobs"] = req["jobs"] / len(spans)
    for span in COUNTED_SPANS:
        if not any(s["name"].startswith(span) for s in tr.spans):
            continue
        r = rollup(tr, counters, span, cores)
        for key in ("tasks", "shuffle_bytes", "spill_bytes"):
            m[f"{span}.{key}"] = r[key] / max(ops, 1)
        m[f"{span}.core_busy_frac"] = r["core_busy_frac"]
    waits = [c.get("job_wait_ms_sum", 0.0) for c in counters.values()]
    n_wait = sum(c.get("job_wait_n", 0) for c in counters.values())
    m["spark.job_wait_ms"] = sum(waits) / n_wait if n_wait else 0.0
    return m
