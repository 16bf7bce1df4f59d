"""The benchmark's workloads, their operations and answer checks.

Every workload runs one closed-loop client (the next operation starts
when the previous one returns) on one Spark session. Inputs come from
``mtslake.datagen.generate_pages`` with the url hosts salted by the
seed, so url hashes, partition placement and each url's signal family
change with the seed; the seed also drives every random choice of the
client. The engine only sees the generated inputs.

Answers are checked after the timed loop against the same question
asked of the persisted uncompressed series in plain Spark (for LTTB:
``lttb_downsample`` over the raw series). A wrong answer fails its op.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from statistics import median
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, functions as F

from mtslake import catalog, chunk, downsample, gapfill, lineage, read, retention, rollup
from mtslake.catalog import ChunkStore
from mtslake.config import DEFAULT, EngineConfig, US_PER_DAY, US_PER_HOUR
from mtslake.datagen import START_EPOCH_S, generate_pages
from mtslake.series import pages_to_series

from spans import Tracer, force

EPOCH_DAY = START_EPOCH_S * 1_000_000 // US_PER_DAY  # chunk_id of day 0
SNAPS_PER_DAY = 24 * 4  # datagen's 15-minute grid
PLOT_POINTS = 64  # LTTB target; below every url's history length
TIER_WEEK_US = 7 * US_PER_DAY
VSUM = "decimal(18,9)"  # rollup's exact-sum quantization
PARTITIONS = 8  # of the persisted series, and the session's shuffle width
# incremental: days in the store before the first append, and the raw
# retention horizon. At least a week, so every 1m tier partition (one
# week) a refresh rebuilds still has all its raw days.
HISTORY_DAYS = 7
SAMPLE_URLS = 8  # ingest: urls whose every point is checked bit-exact

# per-size inputs. "full" is the measured size; "smoke" is the tiny
# size the benchmark's own tests run.
SIZES = {
    "full": {"ingest_urls": 400, "incremental_urls": 120,
             "setup_reps": 3, "refreshes": 2},
    "smoke": {"ingest_urls": 20, "incremental_urls": 10,
              "setup_reps": 1, "refreshes": 1},
}
QUERY_KINDS = ("point", "scan", "tier", "plot")


@dataclass
class Op:
    kind: str
    seconds: float
    params: dict
    answer: object = None
    ok: bool | None = None  # set by the answer checks


@dataclass
class Ctx:
    spark: SparkSession
    tr: Tracer
    rng: random.Random
    size: dict
    seed: int
    root: str
    cfg: EngineConfig = DEFAULT
    store: ChunkStore | None = None
    raw: DataFrame | None = None
    n_points: int = 0
    urls: list = field(default_factory=list)  # (url, host, first, last day)
    days: list = field(default_factory=list)  # data days (0-based) in store
    day_points: dict = field(default_factory=dict)  # data day → raw points
    day_urls: dict = field(default_factory=dict)  # data day → urls with data
    next_day: int = 0  # incremental: the next day to append
    ops: list = field(default_factory=list)  # timed ops, checked
    refreshes: list = field(default_factory=list)  # dashboard latencies


# -- inputs ---------------------------------------------------------------


def host_of(url: str) -> str:
    return url.split("://", 1)[1].split("/", 1)[0]


def day_col():
    return F.floor(F.col("ts_us") / F.lit(US_PER_DAY)) - F.lit(EPOCH_DAY)


def make_series(ctx: Ctx, n_urls: int, snaps: int, n_hot: int, hot_factor: int):
    """Seeded pages → persisted uncompressed series (the answer key)."""
    pages = generate_pages(ctx.spark, n_urls=n_urls, snapshots_per_url=snaps,
                           n_hot=n_hot, hot_factor=hot_factor)
    pages = pages.withColumn(
        "url", F.regexp_replace("url", "^https://", f"https://s{ctx.seed}-"))
    series = ctx.tr.lazy("series.pages_to_series", pages_to_series, pages)
    if ctx.raw is not None:
        ctx.raw.unpersist()
    ctx.raw = series.repartition(PARTITIONS, "url").persist()
    ctx.n_points = ctx.raw.count()


def describe_inputs(ctx: Ctx) -> None:
    spans: dict = {}
    for url, day, n in ctx.raw.groupBy("url", day_col()).count().collect():
        ctx.day_points[day] = ctx.day_points.get(day, 0) + n
        ctx.day_urls[day] = ctx.day_urls.get(day, 0) + 1
        d0, d1 = spans.get(url, (day, day))
        spans[url] = (min(d0, day), max(d1, day))
    ctx.urls = [(u, host_of(u), *spans[u]) for u in sorted(spans)]


def full_days(ctx: Ctx) -> list[int]:
    """Days in the store on which at least half the urls have data
    (hot urls run on for weeks after the others end)."""
    return [d for d in ctx.days if 2 * ctx.day_urls.get(d, 0) >= len(ctx.urls)]


def build_store(ctx: Ctx, series: DataFrame, pre_partitioned: bool) -> None:
    """compress → write_chunks(overwrite) → read_range → materialize_tiers."""
    tr = ctx.tr
    chunks = chunk.compress_series(series, ctx.cfg, pre_partitioned=pre_partitioned)
    if tr.enabled:
        # traced: the encode is cached in its own span, so the write
        # span holds the write alone instead of re-running the encode
        chunks = chunks.persist()
        with tr.span("chunk.compress_series") as rec:
            rec.update(force(chunks))
    before = file_sizes(ctx.store)
    tr.call("catalog.write_chunks", ctx.store.write_chunks, chunks,
            mode="overwrite", cfg=ctx.cfg)
    note_write(ctx, tr.last, before, None)
    if tr.enabled:
        chunks.unpersist()
    decoded = read_traced(ctx, "full", columns=["value"])
    tr.call("rollup.materialize_tiers", rollup.materialize_tiers, ctx.store,
            decoded)


# -- store accounting -----------------------------------------------------


def file_sizes(store: ChunkStore) -> dict:
    out = {}
    for table in ("chunks", "catalog"):
        for dirpath, _, files in os.walk(store.path(table)):
            for f in files:
                if f.startswith("part-") and not f.endswith(".crc"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getsize(p)
    return out


def note_write(ctx: Ctx, rec: dict, before: dict, chunk_ids) -> None:
    """Traced run: attach what a write produced to its span ``rec``."""
    if not ctx.tr.enabled:
        return
    new = {p: n for p, n in file_sizes(ctx.store).items() if p not in before}
    cat = ctx.store.catalog()
    if chunk_ids is not None:
        cat = cat.filter(F.col("chunk_id").isin([int(c) for c in chunk_ids]))
    r = cat.agg(F.count(F.lit(1)), F.sum("n_points")).first()
    rec.update(files_written=len(new), bytes_written=sum(new.values()),
               chunks_written=r[0], points_written=r[1] or 0)


def stored_bytes_per_point(store: ChunkStore) -> float:
    size = sum(n for p, n in file_sizes(store).items()
               if os.sep + "chunks" + os.sep in p)
    points = store.catalog().agg(F.sum("n_points")).first()[0]
    return size / points


# -- reads ----------------------------------------------------------------


def read_traced(ctx: Ctx, kind: str, t0=None, t1=None, url=None, columns=None):
    """``read.read_range``; traced, its prune and decode layers are also
    called on their own (same arguments) so each gets a span."""
    tr, store = ctx.tr, ctx.store
    decoded_points = 0
    if tr.enabled:
        cfg = store.cfg_for_store(DEFAULT)
        with tr.span("catalog.prune_chunks") as rec:
            pruned = catalog.prune_chunks(store.chunks(), t0, t1, url=url, cfg=cfg)
            rec.update(force(pruned, points=F.sum("n_points")))
            rec["chunks_kept"] = rec.pop("rows")
            rec["chunks_total"] = store.chunks().count()
            decoded_points = rec["points"]
        chans = chunk.ALL_CHANNELS if columns is None else tuple(
            c for c in chunk.ALL_CHANNELS if c in columns)
        tr.lazy("chunk.decompress_chunks", chunk.decompress_chunks,
                catalog.prune_chunks(store.chunks(), t0, t1, url=url, cfg=cfg),
                channels=chans)
    df = tr.lazy("read.read_range", read.read_range, store, t0, t1, url=url,
                 columns=columns)
    if tr.enabled:
        tr.last.update(kind=kind, points_decoded=decoded_points)
    return df


def day_window(day: int) -> tuple[int, int]:
    t0 = (EPOCH_DAY + day) * US_PER_DAY
    return t0, t0 + US_PER_DAY - 1


def timed(ctx: Ctx, kind: str, fn, params: dict, phase: str = "op") -> Op:
    """Run one op under its root span ``<phase>:<kind>``; records its
    latency. Only phase "op" ops are checked and measured."""
    with ctx.tr.span(f"{phase}:{kind}"):
        t = time.monotonic()
        answer = fn()
        op = Op(kind, time.monotonic() - t, params, answer)
    if phase == "op":
        ctx.ops.append(op)
    return op


def op_point(ctx: Ctx, phase: str = "op", days=None) -> Op:
    url, _, d0, d1 = ctx.rng.choice(ctx.urls)
    day = ctx.rng.choice([d for d in (days or ctx.days) if d0 <= d <= d1])
    t0, t1 = day_window(day)

    def run():
        rows = read_traced(ctx, "point", t0, t1, url=url).select(
            "ts_us", "n_chars", "value", "text_sha1").collect()
        return sorted(tuple(r) for r in rows)
    return timed(ctx, "point", run, {"url": url, "t0": t0, "t1": t1}, phase)


def _lang_aggs(df: DataFrame) -> DataFrame:
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.sum(F.col("value").cast(VSUM)).alias("vsum"))


def op_scan(ctx: Ctx, phase: str = "op") -> Op:
    day = ctx.rng.choice(full_days(ctx))
    t0, t1 = day_window(day)

    def run():
        rows = _lang_aggs(read_traced(ctx, "scan", t0, t1, columns=["value"])).collect()
        return {r["lang"]: (r["cnt"], r["vmin"], r["vmax"], r["vsum"]) for r in rows}
    return timed(ctx, "scan", run, {"t0": t0, "t1": t1}, phase)


TIER_COLS = ("lang", "bucket_us", "cnt", "vmin", "vmax", "vsum", "is_filled")


def op_tier(ctx: Ctx, phase: str = "op") -> Op:
    host = ctx.rng.choice(sorted({u[1] for u in ctx.urls}))
    w0 = (EPOCH_DAY + ctx.rng.choice(full_days(ctx))) * US_PER_DAY
    # a week, cut at the end of the last day ingested so far
    w1 = min(w0 + TIER_WEEK_US, day_window(max(ctx.days))[1] + 1) - 1
    tr = ctx.tr

    def run():
        tier = ctx.spark.read.parquet(ctx.store.path("rollup_1h")).where(
            (F.col("url_prefix") == host) & F.col("bucket_us").between(w0, w1))
        filled = tr.lazy("gapfill.gapfill_locf", gapfill.gapfill_locf, tier, "1h")
        span = tr.last
        rows = [tuple(r) for r in filled.select(*TIER_COLS).collect()]
        if tr.enabled:
            span["filled"] = sum(1 for r in rows if r[-1])
        return sorted(rows)
    return timed(ctx, "tier", run, {"host": host, "w0": w0, "w1": w1}, phase)


def op_plot(ctx: Ctx, phase: str = "op") -> Op:
    url, _, d0, d1 = ctx.rng.choice(ctx.urls)
    tr = ctx.tr
    # the store holds the url's history between these days (retention)
    t0 = day_window(max(d0, min(ctx.days)))[0]
    t1 = day_window(min(d1, max(ctx.days)))[1]

    def run():
        series = read_traced(ctx, "plot", url=url, columns=["value"])
        pts = tr.lazy("downsample.lttb_downsample", downsample.lttb_downsample,
                      series, n_out=PLOT_POINTS)
        rows = pts.select("pt_seq", "ts_us", "value").collect()
        return sorted(tuple(r) for r in rows)
    return timed(ctx, "plot", run, {"url": url, "t0": t0, "t1": t1}, phase)


QUERY_OPS = {"point": op_point, "scan": op_scan, "tier": op_tier, "plot": op_plot}


def op_cycle(ctx: Ctx, day: int, job_id: str, phase: str = "op") -> Op:
    """One nightly append: lineage.run → refresh_tiers → apply_retention.
    Its latency is the freshness of the day in every tier."""
    tr, store = ctx.tr, ctx.store
    cid = EPOCH_DAY + day
    now_us = (cid + 1) * US_PER_DAY
    day_series = ctx.raw.filter(day_col() == day)
    with tr.span(f"{phase}:cycle"):
        before = file_sizes(store)
        t = time.monotonic()
        job = lineage.ResumableCompressJob(store, job_id, cfg=ctx.cfg,
                                           units_per_batch=1)
        tr.call("lineage.run", job.run, day_series)
        t_append = time.monotonic() - t
        run_span = tr.last
        parts = tr.call("rollup.refresh_tiers", rollup.refresh_tiers, store,
                        [cid], ctx.cfg)
        if tr.enabled:
            tr.last["parts"] = sum(len(v) for v in parts.values())
        stats = tr.call("retention.apply_retention", retention.apply_retention,
                        store, now_us, ctx.cfg)
        seconds = time.monotonic() - t
        if tr.enabled:
            tr.last["dropped"] = stats["raw_partitions_dropped"]
            note_write(ctx, run_span, before, [cid])
    # the op's answer: which raw partitions survived retention
    op = Op("cycle", seconds,
            {"day": day, "append_s": t_append, "points": ctx.day_points[day]},
            answer=retention.list_chunk_partitions(store))
    if phase == "op":
        ctx.ops.append(op)
    return op


# -- workloads ------------------------------------------------------------

# Each loop iteration is one write op (a backfill pass, or one nightly
# cycle) followed by one dashboard refresh: the four request types once
# each, in seeded order, against the store the write op just left.
#
# Set-up (run several times; setup_s counts the median) generates and
# persists the inputs. Warm-up (once) builds what the timed loop needs
# and runs one iteration untimed, so JIT compilation and Python worker
# start-up stay out of the timed region.


def data_days(ctx: Ctx) -> list[int]:
    return sorted(c - EPOCH_DAY for c in retention.list_chunk_partitions(ctx.store))


def dashboard(ctx: Ctx, phase: str = "op", point_day: int | None = None) -> None:
    """``refreshes`` dashboard refreshes; each issues the four request
    types once, in seeded order."""
    for _ in range(ctx.size["refreshes"] if phase == "op" else 1):
        kinds = list(QUERY_KINDS)
        ctx.rng.shuffle(kinds)
        t = time.monotonic()
        for kind in kinds:
            if kind == "point" and point_day is not None:
                op_point(ctx, phase, days=[point_day])
            else:
                QUERY_OPS[kind](ctx, phase)
        if phase == "op":
            ctx.refreshes.append(time.monotonic() - t)


def backfill(ctx: Ctx, phase: str = "op") -> None:
    op = timed(ctx, "ingest",
               lambda: build_store(ctx, ctx.raw, pre_partitioned=True), {}, phase)
    # the pass's answer: tier point counts, read outside its timing
    op.answer = tier_counts(ctx)
    ctx.days = data_days(ctx)


def tier_counts(ctx: Ctx) -> dict:
    parts = [ctx.spark.read.parquet(ctx.store.path(f"rollup_{t}")).select(
        F.lit(t).alias("t"), "cnt") for t in DEFAULT.tiers]
    union = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return {r[0]: r[1] for r in union.groupBy("t").agg(F.sum("cnt")).collect()}


def setup_ingest(ctx: Ctx) -> None:
    n = ctx.size["ingest_urls"]
    make_series(ctx, n, 192, max(n // 500, 1), 20)


def warm_ingest(ctx: Ctx) -> None:
    describe_inputs(ctx)
    ctx.store = ChunkStore(ctx.spark, os.path.join(ctx.root, "store"))
    backfill(ctx, "warm")
    dashboard(ctx, "warm")


def step_ingest(ctx: Ctx) -> bool:
    backfill(ctx)
    dashboard(ctx)
    return True


def setup_incremental(ctx: Ctx) -> None:
    """History of HISTORY_DAYS days in the store; raw retention of the
    same length, so each appended day expires the oldest day."""
    h = HISTORY_DAYS
    ctx.cfg = DEFAULT.with_overrides(retention_us={"raw": h * US_PER_DAY})
    days = h + ctx.size["append_days"]
    make_series(ctx, ctx.size["incremental_urls"], SNAPS_PER_DAY * days, 0, 1)


def warm_incremental(ctx: Ctx) -> None:
    describe_inputs(ctx)
    h = HISTORY_DAYS
    ctx.store = ChunkStore(ctx.spark, os.path.join(ctx.root, "store"))
    with ctx.tr.span("warm:build"):
        build_store(ctx, ctx.raw.filter(day_col() < h), pre_partitioned=False)
    ctx.next_day = h
    step_incremental(ctx, "warm")


def step_incremental(ctx: Ctx, phase: str = "op") -> bool:
    day = ctx.next_day
    if day >= HISTORY_DAYS + ctx.size["append_days"]:
        return False  # generated days used up
    op_cycle(ctx, day, "nightly", phase)
    ctx.next_day += 1
    ctx.days = data_days(ctx)
    dashboard(ctx, phase, point_day=day)  # is the new day queryable?
    return True


def census(ctx: Ctx, workload: str) -> None:
    """Traced run only: after the checks, call each layer the workload
    bypasses once (ingest: lineage, refresh, retention), so every
    per-layer metric is measured on every workload. Census ops are not
    checked and not in any end-to-end metric."""
    if workload == "ingest":
        op_cycle(ctx, ctx.rng.choice(ctx.days), "census", phase="census")


# -- answer checks ----------------------------------------------------------


def host_col():
    return F.regexp_extract("url", "^[a-z]+://([^/]+)", 1)


def _reqs(ctx: Ctx, rows: list, schema: str) -> DataFrame:
    return F.broadcast(ctx.spark.createDataFrame(rows, schema))


def check_points(ctx: Ctx, ops: list) -> None:
    if not ops:
        return
    reqs = _reqs(ctx, [(i, o.params["url"], o.params["t0"], o.params["t1"])
                       for i, o in enumerate(ops)],
                 "rid int, rurl string, t0 long, t1 long")
    got: dict = {}
    for r in ctx.raw.join(reqs, (F.col("url") == F.col("rurl"))
                          & F.col("ts_us").between(F.col("t0"), F.col("t1"))
                          ).select("rid", "ts_us", "n_chars", "value",
                                   "text_sha1").collect():
        got.setdefault(r[0], []).append(tuple(r[1:]))
    for i, o in enumerate(ops):
        o.ok = o.answer == sorted(got.get(i, []))


def check_scans(ctx: Ctx, ops: list) -> None:
    if not ops:
        return
    reqs = _reqs(ctx, [(i, o.params["t0"], o.params["t1"])
                       for i, o in enumerate(ops)], "rid int, t0 long, t1 long")
    j = ctx.raw.crossJoin(reqs).where(
        F.col("ts_us").between(F.col("t0"), F.col("t1")))
    got: dict = {}
    for r in j.groupBy("rid", "lang").agg(
            F.count(F.lit(1)), F.min("value"), F.max("value"),
            F.sum(F.col("value").cast(VSUM))).collect():
        got.setdefault(r[0], {})[r[1]] = tuple(r[2:])
    for i, o in enumerate(ops):
        o.ok = o.answer == got.get(i, {})


def locf(observed: dict, step: int) -> list:
    """Plain LOCF over each lang's observed span: (lang, bucket, cnt,
    vmin, vmax, vsum, is_filled)."""
    out = []
    for lang, buckets in observed.items():
        b, last = min(buckets), None
        while b <= max(buckets):
            if b in buckets:
                last = buckets[b]
                out.append((lang, b, *last, False))
            else:
                out.append((lang, b, *last, True))
            b += step
    return sorted(out)


def check_tiers(ctx: Ctx, ops: list) -> None:
    if not ops:
        return
    reqs = _reqs(ctx, [(i, o.params["host"], o.params["w0"], o.params["w1"])
                       for i, o in enumerate(ops)],
                 "rid int, rhost string, w0 long, w1 long")
    j = ctx.raw.join(reqs, (host_col() == F.col("rhost"))
                     & F.col("ts_us").between(F.col("w0"), F.col("w1")))
    bucket = F.col("ts_us") - F.pmod("ts_us", F.lit(US_PER_HOUR))
    got: dict = {}
    for r in j.groupBy("rid", "lang", bucket.alias("b")).agg(
            F.count(F.lit(1)), F.min("value"), F.max("value"),
            F.sum(F.col("value").cast(VSUM))).collect():
        got.setdefault(r[0], {}).setdefault(r[1], {})[r[2]] = (
            r[3], r[4], r[5], Decimal(r[6]))
    for i, o in enumerate(ops):
        o.ok = o.answer == locf(got.get(i, {}), US_PER_HOUR)


def check_plots(ctx: Ctx, ops: list) -> None:
    if not ops:
        return
    reqs = _reqs(ctx, [(i, o.params["url"], o.params["t0"], o.params["t1"])
                       for i, o in enumerate(ops)],
                 "rid int, rurl string, t0 long, t1 long")
    raw = ctx.raw.join(reqs, (F.col("url") == F.col("rurl"))
                       & F.col("ts_us").between(F.col("t0"), F.col("t1")))
    ref = downsample.lttb_downsample(raw, n_out=PLOT_POINTS, key_cols=("rid",))
    got: dict = {}
    for r in ref.select("rid", "pt_seq", "ts_us", "value").collect():
        got.setdefault(r[0], []).append(tuple(r[1:]))
    for i, o in enumerate(ops):
        o.ok = o.answer == sorted(got.get(i, []))


def check_ingest(ctx: Ctx, ops: list) -> None:
    """Tier counts equal the point count at every tier after every
    pass; a seeded url sample decodes bit-exact from the final store."""
    sample = F.col("url").isin(
        [u[0] for u in ctx.rng.sample(ctx.urls, SAMPLE_URLS)])
    cols = ("url", "ts_us", "n_chars", "value", "text_sha1")
    want = sorted(tuple(r) for r in ctx.raw.filter(sample).select(*cols).collect())
    have = sorted(tuple(r) for r in chunk.decompress_chunks(
        ctx.store.chunks().filter(sample)).select(*cols).collect())
    for o in ops:
        o.ok = all(o.answer[t] == ctx.n_points for t in DEFAULT.tiers)
    if ops:
        ops[-1].ok = ops[-1].ok and want == have


def tier_reference(ctx: Ctx, tier_us: int, last_day: int) -> DataFrame:
    bucket = F.col("ts_us") - F.pmod("ts_us", F.lit(tier_us))
    return ctx.raw.filter(day_col() <= last_day).groupBy(
        host_col().alias("url_prefix"), "lang", bucket.alias("bucket_us")
    ).agg(F.count(F.lit(1)).alias("cnt"), F.min("value").alias("vmin"),
          F.max("value").alias("vmax"),
          F.sum(F.col("value").cast(VSUM)).cast("decimal(38,18)").alias("vsum"))


def check_incremental(ctx: Ctx, ops: list) -> None:
    """Every tier equals a plain aggregate of the raw series over all
    days ingested so far (the raw horizon covers every refreshed
    1m partition's window), and after each cycle the surviving raw
    partitions are exactly the retention horizon."""
    if not ops:
        return
    h = HISTORY_DAYS
    last = max(o.params["day"] for o in ops)
    # one pass: each side's rows per tier as (count, sum of row hashes),
    # an order-free fingerprint of the row multiset
    sides = []
    for tier, us in (("1m", 60_000_000), ("1h", US_PER_HOUR), ("1d", US_PER_DAY)):
        ref = tier_reference(ctx, us, last)
        have = ctx.spark.read.parquet(ctx.store.path(f"rollup_{tier}"))
        for side, df in (("ref", ref), ("have", have.select(*ref.columns))):
            sides.append(df.select(
                F.lit(tier).alias("tier"), F.lit(side).alias("side"),
                F.xxhash64(*ref.columns).cast("decimal(38,0)").alias("h")))
    union = sides[0]
    for df in sides[1:]:
        union = union.unionByName(df)
    prints: dict = {}
    for r in union.groupBy("tier", "side").agg(
            F.count(F.lit(1)), F.sum("h")).collect():
        prints.setdefault(r[0], {})[r[1]] = (r[2], r[3])
    tiers_ok = len(prints) == 3 and all(
        p.get("ref") == p.get("have") for p in prints.values())
    for o in ops:
        d = o.params["day"]
        horizon = [EPOCH_DAY + x for x in range(d + 1 - h, d + 1)]
        o.ok = tiers_ok and o.answer == horizon


def check_all(ctx: Ctx, workload: str) -> None:
    by_kind: dict = {}
    for o in ctx.ops:
        by_kind.setdefault(o.kind, []).append(o)
    # ops whose kind has no check here (an op that raised) stay failed
    check_points(ctx, by_kind.get("point", []))
    check_scans(ctx, by_kind.get("scan", []))
    check_tiers(ctx, by_kind.get("tier", []))
    check_plots(ctx, by_kind.get("plot", []))
    if workload == "ingest":
        check_ingest(ctx, by_kind.get("ingest", []))
    if workload == "incremental":
        check_incremental(ctx, by_kind.get("cycle", []))


WORKLOADS = {
    "ingest": (setup_ingest, warm_ingest, step_ingest),
    "incremental": (setup_incremental, warm_incremental, step_incremental),
}


# -- metrics ----------------------------------------------------------------


def e2e_metrics(ctx: Ctx, workload: str) -> dict:
    """The timed-loop part of the end-to-end metrics (setup_s and
    peak_rss_mb are added by the runner)."""
    writes = [o for o in ctx.ops if o.kind in ("ingest", "cycle")]
    m = {"write_p50_ms": 1e3 * median(o.seconds for o in writes)}
    if workload == "ingest":
        m["points_per_s"] = ctx.n_points / median(o.seconds for o in writes)
    else:
        m["points_per_s"] = median(
            o.params["points"] / o.params["append_s"] for o in writes)
    m["stored_bytes_per_point"] = stored_bytes_per_point(ctx.store)
    m["dashboard_p50_ms"] = 1e3 * median(ctx.refreshes)
    return m


def named_metrics(ctx: Ctx, workload: str, e2e: dict) -> dict:
    """Per-request and workload-specific figures, printed by name
    (name → (value, unit)). Each rests on a few samples per run."""
    lat: dict = {}
    for o in ctx.ops:
        lat.setdefault(o.kind, []).append(o.seconds)
    out = {f"{k}_p50_ms": (1e3 * median(lat[k]), "ms") for k in QUERY_KINDS}
    reqs = [x for k in QUERY_KINDS for x in lat[k]]
    out["queries_per_s"] = (len(reqs) / sum(reqs), "req/s")
    # fewer than 10 requests lie above p90 in a run: a rough figure
    out["query_p90_ms"] = (1e3 * statistics.quantiles(reqs, n=10)[-1], "ms")
    if workload == "ingest":
        out["ingest_points_per_s"] = (e2e["points_per_s"], "points/s")
    else:
        out["append_p50_s"] = (median(o.params["append_s"] for o in ctx.ops
                                      if o.kind == "cycle"), "s")
        out["freshness_p50_s"] = (e2e["write_p50_ms"] / 1e3, "s")
    return out
