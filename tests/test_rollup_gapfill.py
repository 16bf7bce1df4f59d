"""Rollup tier-equality, LOCF gap-fill, retention, checkpoint-resume."""

import os

import pytest
from pyspark.sql import functions as F

from mtslake import chunk, gapfill, read, retention, rollup
from mtslake.catalog import ChunkStore
from mtslake.config import DEFAULT, US_PER_DAY
from mtslake.datagen import generate_pages
from mtslake.lineage import ResumableCompressJob
from mtslake.series import pages_to_series, TS_COL


@pytest.fixture(scope="module")
def series(spark):
    pages = generate_pages(spark, n_urls=30, snapshots_per_url=96, n_hot=2,
                           hot_factor=10)
    return pages_to_series(pages).cache()


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_tier_from_tier_exact(series):
    """1d computed from raw == 1d computed via 1m → 1h → 1d (exact —
    sum/count carried, never means; SURVEY §7 risk 4)."""
    tiers = rollup.build_all_tiers(series)
    direct_1h = rollup.rollup_from_series(series, "1h")
    direct_1d = rollup.rollup_from_series(series, "1d")
    assert _rows(tiers["1h"]) == _rows(direct_1h)
    assert _rows(tiers["1d"]) == _rows(direct_1d)


def test_rollup_over_decoded_equals_rollup_over_raw(spark, series, tmp_path):
    """The flagship invariant: aggregates over decompressed chunks are
    IDENTICAL to aggregates over the raw series — codec bit-exactness
    propagated through the rollup (≙ check(), mtscomp.py:866-888)."""
    st = ChunkStore(spark, str(tmp_path / "store"))
    st.write_chunks(chunk.compress_series(series, DEFAULT), mode="overwrite")
    decoded = read.read_range(st)
    assert _rows(rollup.rollup_from_series(decoded, "1h")) == _rows(
        rollup.rollup_from_series(series, "1h")
    )


def test_mean_derivation(series):
    r = rollup.with_mean(rollup.rollup_from_series(series, "1d"))
    bad = r.filter(F.abs(F.col("vmean") * F.col("cnt") - F.col("vsum")) > 1e-9)
    assert bad.count() == 0


def test_gapfill_locf(spark):
    H = 3_600_000_000
    rows = [
        ("h1", "en", 0 * H, 5, 1.0, 2.0, 7.5),
        ("h1", "en", 3 * H, 2, 0.5, 0.9, 1.0),
        ("h2", "de", 1 * H, 1, 4.0, 4.0, 4.0),
    ]
    rolled = spark.createDataFrame(
        rows,
        "url_prefix string, lang string, bucket_us long, cnt long, "
        "vmin double, vmax double, vsum double",
    )
    out = gapfill.gapfill_locf(rolled, "1h").orderBy("url_prefix", "bucket_us")
    got = out.collect()
    h1 = [r for r in got if r["url_prefix"] == "h1"]
    assert len(h1) == 4  # 00,01,02,03
    assert [r["is_filled"] for r in h1] == [False, True, True, False]
    assert h1[1]["vsum"] == 7.5 and h1[2]["cnt"] == 5  # carried forward
    assert h1[3]["vmin"] == 0.5  # real observation resumes
    h2 = [r for r in got if r["url_prefix"] == "h2"]
    assert len(h2) == 1 and not h2[0]["is_filled"]


def test_gapfill_leading_gap_stays_null(spark):
    H = 3_600_000_000
    rolled = spark.createDataFrame(
        [
            ("h1", "en", 0 * H, None, None, None, None),
            ("h1", "en", 2 * H, 3, 1.0, 1.0, 3.0),
        ],
        "url_prefix string, lang string, bucket_us long, cnt long, "
        "vmin double, vmax double, vsum double",
    ).filter(F.col("cnt").isNotNull())
    # spine starts at the key's first observation, so a leading hole
    # before any data simply isn't fabricated
    out = gapfill.gapfill_locf(rolled, "1h")
    assert out.filter(F.col("cnt").isNull()).count() == 0
    assert out.count() == 1


def test_retention_and_chop(spark, series, tmp_path):
    st = ChunkStore(spark, str(tmp_path / "store"))
    st.write_chunks(chunk.compress_series(series, DEFAULT), mode="overwrite")
    parts = retention.list_chunk_partitions(st)
    assert len(parts) > 3
    # retention: keep 30 days from "now" = last point
    now = series.agg(F.max(TS_COL)).first()[0]
    stats = retention.apply_retention(st, now_us=now, cfg=DEFAULT)
    # horizon (30 d) exceeds fixture span -> nothing dropped, idempotent
    assert stats["raw_partitions_dropped"] == 0
    # tighter horizon via config override
    cfg2 = DEFAULT.with_overrides(
        retention_us={**DEFAULT.retention_us, "raw": 3 * US_PER_DAY}
    )
    stats2 = retention.apply_retention(st, now_us=now, cfg=cfg2)
    assert stats2["raw_partitions_dropped"] > 0
    # idempotent re-run
    stats3 = retention.apply_retention(st, now_us=now, cfg=cfg2)
    assert stats3["raw_partitions_dropped"] == 0
    # surviving chunks: payloads untouched, catalog consistent
    left = retention.list_chunk_partitions(st)
    assert min(left) >= (now - 3 * US_PER_DAY) // DEFAULT.chunk_duration_us
    assert st.catalog().select("chunk_id").distinct().count() == len(left)
    # chop: suffix truncation without decode
    cut = left[len(left) // 2]
    dropped = retention.chop(st, keep_chunks_before=cut)
    assert dropped == len([c for c in left if c >= cut])


def test_checkpoint_resume_idempotent(spark, series, tmp_path):
    """Kill between partition batches, resume, and the result equals a
    single clean run — no duplicates, no holes (SURVEY §7 risk 7)."""
    st = ChunkStore(spark, str(tmp_path / "resume"))
    job = ResumableCompressJob(st, "job-1", units_per_batch=3)
    with pytest.raises(RuntimeError, match="simulated"):
        job.run(series, fail_after_batches=2)
    done_mid = job.done_units()
    assert 0 < len(done_mid)
    res = job.run(series)  # resume
    assert res["units_already_done"] == len(done_mid)
    assert res["units_already_done"] + res["units_processed"] == res["units_total"]
    # round-trip equality vs raw after resume
    decoded = read.read_range(st)
    assert decoded.count() == series.count()
    got = {tuple(r) for r in decoded.select("url", TS_COL, "value").collect()}
    exp = {tuple(r) for r in series.select("url", TS_COL, "value").collect()}
    assert got == exp
    # re-running the whole job is a no-op
    res2 = job.run(series)
    assert res2["units_processed"] == 0
    assert read.read_range(st).count() == series.count()
    # lineage covers every unit
    assert job.lineage().select("unit").distinct().count() == res["units_total"]


def _parquet_files(root):
    return [f for _, _, fs in os.walk(root) for f in fs
            if f.startswith("part-") and f.endswith(".parquet")]


def test_resume_recompresses_unit_without_lineage_row(
    spark, series, tmp_path
):
    """Older stores marked units done in a ``checkpoints/`` table and
    appended the lineage rows after it, so a crash between the two
    appends left a unit checkpointed with no lineage row. Resume reads
    only lineage: that unit is recompressed and gains its row. A
    current run writes no checkpoints table and one lineage file per
    batch."""
    st = ChunkStore(spark, str(tmp_path / "older"))
    job = ResumableCompressJob(st, "job-l", units_per_batch=2)
    with pytest.raises(RuntimeError, match="simulated"):
        job.run(series, fail_after_batches=2)
    assert not os.path.exists(st.path("checkpoints"))
    assert len(_parquet_files(st.path("lineage"))) == 2
    done = job.done_units()
    assert len(done) == 4
    # the older layout: every done unit checkpointed, one unit's
    # lineage row lost to a crash between the two appends
    spark.createDataFrame(
        [("job-l", int(u)) for u in done], "job_id string, unit long"
    ).write.parquet(st.path("checkpoints"))
    lost = min(done)
    ln = st.table("lineage")
    kept = [r for r in ln.collect() if r["unit"] != lost]
    spark.createDataFrame(kept, ln.schema).write.mode("overwrite") \
        .parquet(st.path("lineage"))
    assert job.done_units() == done - {lost}
    res = job.run(series)
    assert res["units_already_done"] == len(done) - 1
    assert res["units_processed"] == res["units_total"] - len(done) + 1
    assert job.done_units() == set(job.plan_units(series))
    assert job.lineage().filter(F.col("unit") == lost).count() == 1
    got = {tuple(r) for r in read.read_range(st).select(
        "url", TS_COL, "value").collect()}
    assert got == {tuple(r) for r in series.select(
        "url", TS_COL, "value").collect()}


def test_lineage_row_alone_marks_unit_done(spark, series, tmp_path):
    """A unit with a lineage row is done: the lineage append is the one
    done marker, so a crash can never leave a unit marked done without
    its lineage row."""
    st = ChunkStore(spark, str(tmp_path / "ln_only"))
    job = ResumableCompressJob(st, "job-m")
    units = job.plan_units(series)
    spark.createDataFrame(
        [("job-m", int(units[0]), 1, 1, 1, 1, 1.0, 1, 1),
         ("other", int(units[1]), 1, 1, 1, 1, 1.0, 1, 1)],
        "job_id string, unit long, n_chunks long, n_points long, "
        "raw_nbytes long, comp_nbytes long, ratio double, "
        "batch_wall_ms long, units_in_batch long",
    ).write.parquet(st.path("lineage"))
    assert job.done_units() == {units[0]}
    res = job.run(series)
    assert res["units_already_done"] == 1
    assert res["units_processed"] == len(units) - 1


def _file_state(root):
    import os
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith("part-"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_incremental_catalog_append_leaves_history_untouched(
    spark, series, tmp_path
):
    """An append derives catalog rows from the incoming batch only:
    pre-existing chunk AND catalog partition files must be byte- and
    mtime-identical afterwards (no O(table) rebuild per ingest)."""
    st = ChunkStore(spark, str(tmp_path / "store"))
    early = series.filter(F.pmod(F.xxhash64("url"), 2) == 0)
    late = series.filter(F.pmod(F.xxhash64("url"), 2) == 1)
    assert early.count() > 0 and late.count() > 0
    st.write_chunks(chunk.compress_series(early, DEFAULT), mode="overwrite")
    before_chunks = _file_state(st.path("chunks"))
    before_cat = _file_state(st.path("catalog"))
    assert before_chunks and before_cat
    st.write_chunks(chunk.compress_series(late, DEFAULT), mode="append")
    after_chunks = _file_state(st.path("chunks"))
    after_cat = _file_state(st.path("catalog"))
    for p, sig in before_chunks.items():
        assert after_chunks.get(p) == sig, f"chunk file rewritten: {p}"
    for p, sig in before_cat.items():
        assert after_cat.get(p) == sig, f"catalog file rewritten: {p}"
    assert len(after_cat) > len(before_cat)
    # catalog stays consistent with the chunks table
    assert (
        st.catalog().count()
        == st.chunks().count()
    )
    # and equals what a full rebuild would produce
    cat_rows = _rows(st.catalog().select("url", "chunk_id", "n_points", "sha1"))
    st.rebuild_catalog()
    assert cat_rows == _rows(
        st.catalog().select("url", "chunk_id", "n_points", "sha1")
    )


def test_tier_retention_drops_partitions_not_rows(
    spark, series, tmp_path, monkeypatch
):
    """Tier retention = partition drop: surviving rollup files are
    untouched (mtime+size identical — the SHA1-identity analogue of the
    chop property), expired counts come from doomed partitions only.
    Daily 1m partitions here so the small fixture spans several — the
    machinery under test is granularity-independent."""
    monkeypatch.setitem(rollup.ROLLUP_PART_US, "1m", 24 * 3_600_000_000)
    st = ChunkStore(spark, str(tmp_path / "store"))
    rollup.materialize_tiers(st, series)
    now = series.agg(F.max(TS_COL)).first()[0]
    one_m = st.path("rollup_1m")
    parts = retention._list_partitions(one_m, "part_id")
    assert len(parts) > 2, "fixture must span several daily partitions"
    # horizon that dooms all but the last two daily partitions
    keep_days = 2
    cfg = DEFAULT.with_overrides(
        retention_us={
            **DEFAULT.retention_us,
            "1m": now - parts[-keep_days] * rollup.ROLLUP_PART_US["1m"],
        }
    )
    doomed = [
        p for p in parts
        if (p + 1) * rollup.ROLLUP_PART_US["1m"]
        <= now - cfg.retention_us["1m"]
    ]
    expected_rows = (
        spark.read.parquet(one_m).filter(F.col("part_id").isin(doomed)).count()
    )
    survivors_before = {
        p: s for p, s in _file_state(one_m).items()
        if not any(f"part_id={d}/" in p or p.endswith(f"part_id={d}") for d in doomed)
    }
    stats = retention.apply_retention(st, now_us=now, cfg=cfg)
    assert stats["1m_partitions_dropped"] == len(doomed) > 0
    assert stats["1m_rows_expired"] == expected_rows > 0
    left = retention._list_partitions(one_m, "part_id")
    assert left == [p for p in parts if p not in doomed]
    survivors_after = {
        p: s for p, s in _file_state(one_m).items()
    }
    assert survivors_before == survivors_after
    # idempotent re-run
    stats2 = retention.apply_retention(st, now_us=now, cfg=cfg)
    assert stats2["1m_partitions_dropped"] == 0
    assert stats2["1m_rows_expired"] == 0


def test_vsum_overflow_raises_not_nulls(spark):
    """A value outside the long-backed decimal domain must FAIL the
    rollup loudly — a silent NULL would drop it from vsum while cnt
    still counts it (review finding)."""
    import pytest

    bad = spark.createDataFrame(
        [("https://h/x", 1_700_000_000_000_000, 2.5e9, "en")],
        "url string, ts_us long, value double, lang string",
    )
    with pytest.raises(Exception, match="vsum overflow"):
        rollup.rollup_from_series(bad, "1m").collect()
    ok = spark.createDataFrame(
        [("https://h/x", 1_700_000_000_000_000, 123456.789, "en")],
        "url string, ts_us long, value double, lang string",
    )
    row = rollup.rollup_from_series(ok, "1m").collect()[0]
    assert float(row["vsum"]) == 123456.789


def test_gapfill_interpolate_linear(spark):
    """Hand-computed line: observations at buckets 0 (vmin=1, vmax=10)
    and 3H (vmin=4, vmax=40): interior gaps get 2,3 / 20,30."""
    H = 3_600_000_000
    rolled = spark.createDataFrame(
        [
            ("h1", "en", 0 * H, 5, 1.0, 10.0, 7.5),
            ("h1", "en", 3 * H, 2, 4.0, 40.0, 1.0),
        ],
        "url_prefix string, lang string, bucket_us long, cnt long, "
        "vmin double, vmax double, vsum double",
    )
    out = gapfill.gapfill_interpolate(rolled, "1h", ("vmin", "vmax"))
    got = {r["bucket_us"]: (r["vmin"], r["vmax"], r["is_filled"])
           for r in out.collect()}
    assert got == {
        0 * H: (1.0, 10.0, False),
        1 * H: (2.0, 20.0, True),
        2 * H: (3.0, 30.0, True),
        3 * H: (4.0, 40.0, False),
    }


def test_retention_dry_run_plans_without_deleting(spark, series, tmp_path):
    """dry_run=True returns the doomed-partition plan and touches
    nothing; a real run then drops exactly the planned partitions."""
    st = ChunkStore(spark, str(tmp_path / "dr_store"))
    st.write_chunks(chunk.compress_series(series, DEFAULT), mode="overwrite")
    now = series.agg(F.max(TS_COL)).first()[0]
    cfg2 = DEFAULT.with_overrides(
        retention_us={**DEFAULT.retention_us, "raw": 3 * US_PER_DAY}
    )
    before = set(retention.list_chunk_partitions(st))

    plan = retention.apply_retention(st, now_us=now, cfg=cfg2, dry_run=True)
    assert plan["dry_run"] is True
    assert plan["raw_partitions_dropped"] == len(plan["raw_partitions"]) > 0
    # nothing deleted
    assert set(retention.list_chunk_partitions(st)) == before

    real = retention.apply_retention(st, now_us=now, cfg=cfg2)
    assert real["raw_partitions"] == plan["raw_partitions"]
    assert real["raw_partitions_dropped"] == plan["raw_partitions_dropped"]
    assert set(retention.list_chunk_partitions(st)) == before - set(
        plan["raw_partitions"]
    )


def test_spine_two_level_explode_exact_grid(spark):
    """The segmented spine must produce exactly the arithmetic grid
    min..max step tier_us per key — including spans that are not a
    multiple of the segment width, single-bucket spans, and spans
    crossing many segments."""
    from mtslake import gapfill
    from mtslake.config import TIER_US

    us = TIER_US["1m"]
    seg = gapfill._SPINE_SEGMENT
    cases = {
        "a": (0, 0),                      # single bucket
        "b": (0, (seg - 1) * us),         # exactly one segment
        "c": (7 * us, (seg + 5) * us),    # crosses a boundary, offset start
        "d": (0, (3 * seg + 1) * us),     # many segments + ragged tail
    }
    rolled = spark.createDataFrame(
        [(k, "en", b) for k, (b0, b1) in cases.items() for b in (b0, b1)],
        "url_prefix string, lang string, bucket_us long",
    )
    got = {
        (r["url_prefix"], r["bucket_us"])
        for r in gapfill.spine(rolled, "1m").collect()
    }
    exp = {
        (k, b)
        for k, (b0, b1) in cases.items()
        for b in range(b0, b1 + 1, us)
    }
    assert got == exp


def test_refresh_tiers_incremental_equals_full_rebuild(
    spark, series, tmp_path
):
    """Incremental continuous-aggregate refresh: after appending new
    chunk units, refresh_tiers(new_units) must make every tier
    bit-identical to a from-scratch materialize over the full series,
    while rollup partitions OUTSIDE the affected windows keep their
    exact files (mtime+size — no O(history) rewrite)."""
    split = series.approxQuantile(TS_COL, [0.7], 0.0)[0]
    early = series.filter(F.col(TS_COL) < split)
    late = series.filter(F.col(TS_COL) >= split)
    assert early.count() > 0 and late.count() > 0

    st = ChunkStore(spark, str(tmp_path / "inc_store"))
    st.write_chunks(chunk.compress_series(early, DEFAULT), mode="overwrite")
    rollup.materialize_tiers(st, read.read_range(st, columns=["value"]))

    # nightly ingest: new units land, tiers refreshed incrementally
    st.write_chunks(chunk.compress_series(late, DEFAULT), mode="append")
    new_units = sorted(
        r[0] for r in chunk.compress_series(late, DEFAULT)
        .select("chunk_id").distinct().collect()
    )
    before = _file_state(st.path("rollup_1m"))
    refreshed = rollup.refresh_tiers(st, new_units)
    assert refreshed["1m"]

    # untouched 1m partitions keep their exact files
    touched = {f"part_id={p}" for p in refreshed["1m"]}
    after = _file_state(st.path("rollup_1m"))
    for p, sig in before.items():
        if not any(t in p for t in touched):
            assert after.get(p) == sig, f"untouched partition rewritten: {p}"

    # every tier == full rebuild over the union series
    full = ChunkStore(spark, str(tmp_path / "full_store"))
    full.write_chunks(chunk.compress_series(series, DEFAULT),
                      mode="overwrite")
    rollup.materialize_tiers(full, read.read_range(full, columns=["value"]))
    for tier in ("1m", "1h", "1d"):
        got = _rows(spark.read.parquet(st.path(f"rollup_{tier}")))
        exp = _rows(spark.read.parquet(full.path(f"rollup_{tier}")))
        assert got == exp, f"tier {tier} diverged from full rebuild"


def test_refresh_tiers_deletes_stale_empty_partitions(
    spark, series, tmp_path, monkeypatch
):
    """A refreshed window whose recompute yields ZERO rows (its raw data
    was expired/chopped) must not leave the stale rollup partition on
    disk: dynamic overwrite only replaces partitions present in the
    output, so refresh_tiers deletes the absentees explicitly.

    1m partition granularity is pinned to 1 day for the test so the
    short fixture series spans several partitions and a chop boundary
    leaves some fully stale."""
    import os

    monkeypatch.setitem(rollup.ROLLUP_PART_US, "1m", US_PER_DAY)
    st = ChunkStore(spark, str(tmp_path / "stale_store"))
    st.write_chunks(chunk.compress_series(series, DEFAULT), mode="overwrite")
    rollup.materialize_tiers(st, read.read_range(st, columns=["value"]))

    units = sorted(
        r[0] for r in st.chunks().select("chunk_id").distinct().collect()
    )
    # chop away the tail chunks entirely, then refresh over those units
    cut = units[len(units) // 2]
    retention.chop(st, keep_chunks_before=cut)
    removed = [u for u in units if u >= cut]
    # the stale 1m partitions only covered by removed chunks
    kept_parts = set(rollup._affected_parts(
        [u for u in units if u < cut], DEFAULT.chunk_duration_us,
        rollup.ROLLUP_PART_US["1m"],
    ))
    doomed = [
        p for p in rollup._affected_parts(
            removed, DEFAULT.chunk_duration_us, rollup.ROLLUP_PART_US["1m"]
        )
        if p not in kept_parts
    ]
    assert doomed, "fixture must produce at least one fully-stale partition"
    for p in doomed:
        assert os.path.isdir(
            os.path.join(st.path("rollup_1m"), f"part_id={p}")
        )

    rollup.refresh_tiers(st, removed)
    for p in doomed:
        assert not os.path.isdir(
            os.path.join(st.path("rollup_1m"), f"part_id={p}")
        ), f"stale rollup partition survived refresh: part_id={p}"

    # surviving tiers equal a full rebuild over the surviving series
    full = ChunkStore(spark, str(tmp_path / "stale_full"))
    full.write_chunks(
        chunk.compress_series(
            series.filter(
                F.col(TS_COL) < cut * DEFAULT.chunk_duration_us
            ),
            DEFAULT,
        ),
        mode="overwrite",
    )
    rollup.materialize_tiers(full, read.read_range(full, columns=["value"]))
    for tier in ("1m", "1h", "1d"):
        got = _rows(spark.read.parquet(st.path(f"rollup_{tier}")))
        exp = _rows(spark.read.parquet(full.path(f"rollup_{tier}")))
        assert got == exp, f"tier {tier} diverged after stale-refresh"


def test_histogram_tiers_merge_exactly_and_percentiles(spark, series):
    """Histogram tiers must compose exactly (1d from raw == merge of 1h
    histograms) and hist_percentile must agree with numpy percentiles
    to within one bin width."""
    import numpy as np

    h1h = rollup.histogram_rollup(series, "1h")
    h1d_direct = rollup.histogram_rollup(series, "1d")
    h1d_merged = rollup.histogram_from_tier(h1h, "1d")
    a = {(r["url_prefix"], r["lang"], r["bucket_us"], tuple(r["hist"]))
         for r in h1d_direct.collect()}
    b = {(r["url_prefix"], r["lang"], r["bucket_us"], tuple(r["hist"]))
         for r in h1d_merged.collect()}
    assert a == b

    # percentile sanity on one bucket: within a bin width of numpy
    out = h1d_direct.withColumn(
        "p50", rollup.hist_percentile("hist", 0.5)
    ).withColumn("p95", rollup.hist_percentile("hist", 0.95))
    row = out.orderBy("url_prefix", "bucket_us").first()
    from mtslake.series import url_prefix

    vals = (
        series.select(url_prefix(), "lang", "ts_us", "value")
        .filter(
            (F.col("url_prefix") == row["url_prefix"])
            & (F.col("lang") == row["lang"])
            & (rollup.bucket_expr("ts_us", "1d") == row["bucket_us"])
        )
        .select("value").toPandas()["value"].to_numpy()
    )
    width = 200.0 / 32
    assert abs(row["p50"] - np.percentile(vals, 50)) <= width + 1e-9
    assert abs(row["p95"] - np.percentile(vals, 95)) <= width + 1e-9
    # histogram counts the bucket's rows exactly
    hist_total = sum(row["hist"])
    assert hist_total == len(vals)


def test_lttb_matches_scalar_reference_and_shape(spark):
    """LTTB kernel vs a direct scalar transcription of the published
    algorithm on random series (several sizes incl. n_out ~ n), and the
    Spark operator keeps endpoints, order, and per-key independence."""
    import numpy as np

    from mtslake.downsample import _lttb_kernel, lttb_downsample

    def scalar_lttb(ts, vs, n_out):
        n = len(ts)
        if n_out >= n or n_out < 3:
            return list(range(n))
        edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
        kept = [0]
        a = 0
        for b in range(n_out - 2):
            lo, hi = int(edges[b]), int(edges[b + 1])
            if hi <= lo:
                continue
            nlo = int(edges[b + 1])
            nhi = int(edges[b + 2]) if b + 2 < len(edges) else n
            if nhi <= nlo:
                nlo, nhi = n - 1, n
            cx = float(np.mean(ts[nlo:nhi]))
            cy = float(np.mean(vs[nlo:nhi]))
            best, best_area = lo, -1.0
            for i in range(lo, hi):
                area = abs((ts[a] - cx) * (vs[i] - vs[a])
                           - (ts[a] - ts[i]) * (cy - vs[a]))
                if area > best_area:
                    best, best_area = i, area
            kept.append(best)
            a = best
        kept.append(n - 1)
        return kept

    rng = np.random.default_rng(23)
    for n, n_out in [(500, 50), (100, 10), (40, 35), (10, 3), (5, 8)]:
        ts = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(
            np.float64)
        vs = rng.normal(size=n)
        got = _lttb_kernel(ts, vs, n_out).tolist()
        want = scalar_lttb(ts, vs, n_out)
        assert got == want, (n, n_out)

    # Spark operator: two keys, endpoints kept, sorted output per key
    rows = []
    for key in ("a", "b"):
        t = 0
        for i in range(300):
            t += 1 + int(rng.integers(0, 5))
            rows.append((f"https://{key}/", t, float(rng.normal())))
    df = spark.createDataFrame(rows, "url string, ts_us long, value double")
    out = lttb_downsample(df, n_out=40)
    by_key = {}
    for r in out.collect():
        by_key.setdefault(r["url"], []).append(
            (r["pt_seq"], r["ts_us"], r["value"]))
    for key, pts in by_key.items():
        pts.sort()
        assert len(pts) == 40
        src = sorted((t, v) for u, t, v in rows if u == key)
        assert (pts[0][1], pts[0][2]) == src[0]
        assert (pts[-1][1], pts[-1][2]) == src[-1]
        ts_seq = [t for _, t, _ in pts]
        assert ts_seq == sorted(ts_seq)


def test_m4_downsample_matches_pandas_reference(spark):
    """M4 (Jugel et al. 2014) vs an independent pandas computation:
    per (key, bucket) the kept rows are exactly those realizing
    first/last ts and min/max value — including duplicate-extreme
    ties, which M4 keeps once per distinct row."""
    import numpy as np
    import pandas as pd

    from mtslake.downsample import m4_downsample

    rng = np.random.RandomState(7)
    rows = []
    for url in ("a", "b"):
        ts = np.sort(rng.choice(np.arange(0, 40_000, 7), 900,
                                replace=False))
        vs = np.round(rng.randn(900), 3)
        # plant duplicate extremes inside one bucket
        vs[10:14] = vs[10]
        rows += [(url, int(t), float(v)) for t, v in zip(ts, vs)]
    pdf = pd.DataFrame(rows, columns=["url", "ts_us", "value"])
    df = spark.createDataFrame(pdf)

    got = {
        tuple(r)
        for r in m4_downsample(df, bucket_us=1000, key_cols=("url",))
        .collect()
    }

    want = set()
    pdf["bucket_us"] = pdf.ts_us - pdf.ts_us % 1000
    for (url, b), g in pdf.groupby(["url", "bucket_us"]):
        keep = g[
            (g.ts_us == g.ts_us.min()) | (g.ts_us == g.ts_us.max())
            | (g.value == g.value.min()) | (g.value == g.value.max())
        ]
        for _, r in keep.iterrows():
            want.add((url, int(b), int(r.ts_us), float(r.value)))
    assert got == want
    # M4 output is bounded: ≤ 4 distinct rows per (key, bucket) would
    # hold only without ties — with planted ties it's still ≪ input
    assert len(got) < len(rows) / 3


def test_hll_distinct_tiers_merge_losslessly(spark):
    """Mergeable distinct-count tiers: union of 1h HLL sketches gives
    BIT-IDENTICAL estimates to sketching the day directly (register
    max-merge is lossless), and small cardinalities are exact."""
    from mtslake import rollup
    from mtslake.datagen import generate_pages
    from mtslake.series import pages_to_series

    series = pages_to_series(
        generate_pages(spark, n_urls=15, snapshots_per_url=60)
    )
    h1 = rollup.distinct_rollup(series, "1h", distinct_col="text_sha1")
    merged = rollup.distinct_estimate(rollup.distinct_from_tier(h1, "1d"))
    direct = rollup.distinct_estimate(
        rollup.distinct_rollup(series, "1d", distinct_col="text_sha1")
    )
    keys = ("url_prefix", "lang", "bucket_us", "distinct_est")
    m = {tuple(r) for r in merged.select(*keys).collect()}
    d = {tuple(r) for r in direct.select(*keys).collect()}
    assert m == d and len(m) > 0

    # HLL is exact in sparse mode: per-url-prefix daily cardinalities
    # here are far below 2^12 registers, so estimates == exact
    from mtslake.series import url_prefix
    ex = {
        tuple(r) for r in series.groupBy(
            url_prefix(), "lang",
            rollup.bucket_expr("ts_us", "1d").alias("bucket_us"),
        ).agg(F.countDistinct("text_sha1").alias("distinct_est")).collect()
    }
    assert m == ex


def test_theta_overlap_exact_on_small_sets(spark):
    """Theta-sketch consecutive-bucket overlap: below k=4096 members
    the sketch is exact, so intersection/union estimates equal the
    planted set sizes exactly."""
    import pandas as pd

    from mtslake import rollup

    day = 86_400_000_000
    rows = []
    # day 0: urls 0..99; day 1: urls 50..129  -> ∩=50, ∪=130
    for u in range(100):
        rows.append((f"u{u}", 10 * 3_600_000_000 + u))
    for u in range(50, 130):
        rows.append((f"u{u}", day + 10 * 3_600_000_000 + u))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "ts_us"])
    )
    est = rollup.overlap_consecutive(
        rollup.active_sketches(df, "1d"), "1d"
    ).collect()
    assert len(est) == 1
    r = est[0]
    assert r["bucket_us"] == 0
    assert float(r["est_returning"]) == 50.0
    assert float(r["est_either"]) == 130.0


def test_seasonal_profile_folds_exactly(spark):
    """Hour-of-day fold: phases collect the right buckets; counts fold
    as integers; mean_value is vsum/points, never a mean of means."""
    from decimal import Decimal

    from mtslake.rollup import seasonal_profile

    h = 3_600_000_000
    rows = [
        # (bucket, cnt, vsum): hours 0, 24, 48 -> phase 0; hour 1 -> 1
        ("p", "en", 0 * h, 2, Decimal("10.5")),
        ("p", "en", 24 * h, 4, Decimal("1.5")),
        ("p", "en", 48 * h, 3, Decimal("3.0")),
        ("p", "en", 1 * h, 5, Decimal("2.0")),
    ]
    df = spark.createDataFrame(
        rows,
        "url_prefix string, lang string, bucket_us long, cnt long,"
        " vsum decimal(38,18)",
    )
    got = {r["phase"]: r for r in seasonal_profile(df, h, 24).collect()}
    p0 = got[0]
    assert (p0["n_buckets"], p0["total_cnt"]) == (3, 9)
    assert p0["mean_cnt"] == 3.0
    assert p0["mean_value"] == round(15.0 / 9, 6)
    assert got[1]["total_cnt"] == 5 and got[1]["mean_value"] == 0.4


def _tw_series(spark, rows):
    return spark.createDataFrame(rows, "url string, ts_us long, value double")


HOUR = 3_600_000_000


def test_time_weighted_hand_case(spark):
    """Two points inside one hour: p1 covers [15m, 45m) at 2.0, p2
    covers [45m, hour end) at 4.0 -> twa = (2*30 + 4*15)/45."""
    df = _tw_series(spark, [
        ("a", HOUR // 4, 2.0),          # 15m
        ("a", (HOUR * 3) // 4, 4.0),    # 45m
    ])
    r = gapfill.time_weighted(df, "1h").collect()
    assert len(r) == 1
    row = r[0]
    assert row["bucket_us"] == 0
    assert row["covered_us"] == (HOUR * 3) // 4  # 45 min observed
    want = (2.0 * 30 + 4.0 * 15) / 45
    assert row["twa"] == pytest.approx(want, abs=1e-9)


def test_time_weighted_gap_carries_across_buckets(spark):
    """A 3h gap: the last value before the gap fully covers the two
    interior buckets (LOCF), and the final point covers to its own
    bucket end."""
    df = _tw_series(spark, [
        ("a", 0, 1.0),
        ("a", 3 * HOUR + HOUR // 2, 5.0),   # next obs at 3.5h
    ])
    got = {r["bucket_us"] // HOUR: (r["covered_us"], r["twa"])
           for r in gapfill.time_weighted(df, "1h").collect()}
    assert got[0] == (HOUR, 1.0)
    assert got[1] == (HOUR, 1.0)            # carried
    assert got[2] == (HOUR, 1.0)            # carried
    # bucket 3: 1.0 for [3h, 3.5h) then 5.0 for [3.5h, 4h)
    assert got[3][0] == HOUR
    assert got[3][1] == pytest.approx(3.0)


def test_time_weighted_duplicate_ts_larger_value_wins(spark):
    """(ts, value) ordering: of two observations at the same instant
    the LARGER value carries forward; the zero-length segment drops
    out of the weighting."""
    df = _tw_series(spark, [
        ("a", 0, 9.0),
        ("a", 0, 1.0),
    ])
    [row] = gapfill.time_weighted(df, "1h").collect()
    assert row["covered_us"] == HOUR
    assert row["twa"] == pytest.approx(9.0)


def test_time_weighted_long_gap_segment_bound(spark):
    """A gap longer than the 1440-bucket inner-array bound at the 1m
    tier still produces one row per covered bucket (the two-level
    explode), each fully covered."""
    minute = 60_000_000
    n_buckets = 3000  # > 1440 forces a second outer segment
    df = _tw_series(spark, [
        ("a", 0, 2.0),
        ("a", n_buckets * minute, 7.0),
    ])
    out = gapfill.time_weighted(df, "1m")
    rows = out.where(F.col("bucket_us") < n_buckets * minute).collect()
    assert len(rows) == n_buckets
    assert all(r["covered_us"] == minute and r["twa"] == 2.0 for r in rows)


def test_time_weighted_matches_arithmetic_mean_when_regular(spark):
    """On a perfectly regular grid TWA degenerates to the arithmetic
    mean of the covering values — a consistency check against the
    rollup's vmean on the same input."""
    vals = [1.0, 5.0, 3.0, 7.0]
    df = _tw_series(spark, [
        ("a", i * (HOUR // 4), v) for i, v in enumerate(vals)
    ])
    [row] = gapfill.time_weighted(df, "1h").collect()
    assert row["twa"] == pytest.approx(sum(vals) / len(vals))


def _cms_series(spark, rows):
    return spark.createDataFrame(rows, "url string, ts_us long")


def test_cms_never_underestimates_and_exact_when_wide(spark):
    """With width >> keys the sketch is collision-free: every estimate
    equals the true count. With a tiny width collisions overestimate,
    but NEVER underestimate — the CMS hard guarantee."""
    rows = ([("a", i) for i in range(5)] + [("b", i) for i in range(3)]
            + [("c", 7)])
    df = _cms_series(spark, rows)
    true = {"a": 5, "b": 3, "c": 1}
    for width in (512, 2):
        cms = rollup.cms_rollup(df, "1h", key_col="url", width=width)
        probes = df.select("url").distinct()
        est = {r["url"]: r["est"]
               for r in rollup.cms_estimate(cms, probes, key_col="url",
                                            width=width).collect()}
        for k, t in true.items():
            assert est[k] >= t, (width, k)
            if width == 512:
                assert est[k] == t, k


def test_cms_merge_is_bit_exact(spark):
    """SUM-merging hourly sketches to a day equals sketching the day
    directly — counter-level equality (the linearity claim)."""
    HOUR = 3_600_000_000
    rows = [("a", i * HOUR // 4) for i in range(16)] + \
           [("b", 5 * HOUR + 17), ("b", 30 * HOUR)]
    df = _cms_series(spark, rows)
    merged = rollup.cms_from_tier(
        rollup.cms_rollup(df, "1h", key_col="url"), "1d")
    direct = rollup.cms_rollup(df, "1d", key_col="url")
    a = {(r["bucket_us"], r["d"], r["slot"]): r["cnt"]
         for r in merged.collect()}
    b = {(r["bucket_us"], r["d"], r["slot"]): r["cnt"]
         for r in direct.collect()}
    assert a == b


def test_cms_absent_key_sparse_zero_read(spark):
    """A probe key that never appeared in a bucket reads 0 whenever
    any of its depth counters is absent (no zero rows are stored) —
    and its estimate can only exceed 0 through genuine collisions."""
    df = _cms_series(spark, [("a", 0)])
    cms = rollup.cms_rollup(df, "1h", key_col="url", width=512)
    probes = spark.createDataFrame([("zzz-never-seen",)], "url string")
    out = rollup.cms_estimate(cms, probes, key_col="url").collect()
    assert all(r["est"] == 0 for r in out)


def test_cms_bounded_rows_per_bucket(spark):
    """The sketch's point: rows per bucket are capped by depth·width
    regardless of key cardinality."""
    rows = [(f"u{i}", 0) for i in range(500)]
    df = _cms_series(spark, rows)
    cms = rollup.cms_rollup(df, "1h", key_col="url", width=16, depth=4)
    assert cms.count() <= 4 * 16


def _st_series(spark, rows):
    return spark.createDataFrame(rows, "url string, ts_us long, state string")


def test_state_durations_hand_case(spark):
    """up [15m,45m) then down [45m, bucket end): dwell splits 30/15."""
    df = _st_series(spark, [
        ("a", HOUR // 4, "up"),
        ("a", (HOUR * 3) // 4, "down"),
    ])
    got = {(r["state"], r["bucket_us"]): (r["dur_us"], r["n_segments"])
           for r in gapfill.state_durations(df, "1h").collect()}
    assert got == {
        ("up", 0): (HOUR // 2, 1),
        ("down", 0): (HOUR // 4, 1),
    }


def test_state_durations_partition_the_timeline(spark):
    """Within each (key, bucket), Σ dur over states equals uptime's
    covered time — states partition the timeline exactly."""
    m = 60_000_000
    rows = [("a", i * 17 * m, ["up", "down", "degraded"][i % 3])
            for i in range(25)]
    df = _st_series(spark, rows)
    dur = gapfill.state_durations(df, "1h")
    per_bucket = {r["bucket_us"]: r["s"] for r in
                  dur.groupBy("bucket_us").agg(F.sum("dur_us").alias("s"))
                  .collect()}
    # time_weighted over the same instants gives the covered-time base
    tw = gapfill.time_weighted(
        _tw_series(spark, [(u, t, 1.0) for u, t, _ in rows]), "1h")
    covered = {r["bucket_us"]: r["covered_us"] for r in tw.collect()}
    assert per_bucket == covered


def test_state_durations_gap_carries_state_across_buckets(spark):
    """A state observed before a long gap owns every spanned bucket."""
    df = _st_series(spark, [
        ("a", 0, "up"),
        ("a", 3 * HOUR, "down"),
    ])
    got = {(r["state"], r["bucket_us"] // HOUR): r["dur_us"]
           for r in gapfill.state_durations(df, "1h").collect()}
    assert got == {("up", 0): HOUR, ("up", 1): HOUR, ("up", 2): HOUR,
                   ("down", 3): HOUR}


def test_state_durations_duplicate_ts_deterministic(spark):
    """(ts, state) ordering: the lexicographically LATER state wins
    the carry at a duplicated instant."""
    df = _st_series(spark, [
        ("a", 0, "zz"), ("a", 0, "aa"),
    ])
    got = {r["state"]: r["dur_us"]
           for r in gapfill.state_durations(df, "1h").collect()}
    assert got == {"zz": HOUR}


def test_explode_bucket_overlaps_property(spark):
    """Property: for ANY interval set, per-interval overlaps are in
    (0, us], bucket-aligned, and sum EXACTLY to the interval length —
    the invariant time_weighted / uptime / state_durations all ride
    on. Randomized with seeded adversarial cases (boundary-aligned,
    sub-bucket, multi-segment-spanning, zero/negative length)."""
    import random

    from mtslake.gapfill import explode_bucket_overlaps

    rng = random.Random(4242)
    us = 1000
    rows = []
    for i in range(200):
        kind = i % 5
        s = rng.randrange(0, 10_000_000)
        if kind == 0:        # boundary-aligned
            s -= s % us
            e = s + us * rng.randrange(0, 4)
        elif kind == 1:      # sub-bucket
            e = s + rng.randrange(0, us)
        elif kind == 2:      # spans more than one inner segment (1440)
            e = s + us * (1440 + rng.randrange(1, 50))
        elif kind == 3:      # zero / negative
            e = s - rng.randrange(0, 2 * us)
        else:                # generic
            e = s + rng.randrange(0, 20 * us)
        rows.append((i, s, e))
    df = spark.createDataFrame(rows, "iid long, s long, e long")
    out = explode_bucket_overlaps(df, us, "s", "e").collect()
    by_iid = {}
    for r in out:
        assert 0 < r["_overlap"] <= us, r
        assert r["_b"] % us == 0
        # bucket must intersect the interval
        s, e = rows[r["iid"]][1], rows[r["iid"]][2]
        assert r["_b"] + us > s and r["_b"] < e
        by_iid.setdefault(r["iid"], 0)
        by_iid[r["iid"]] += r["_overlap"]
    for iid, s, e in rows:
        want = max(0, e - s)
        assert by_iid.get(iid, 0) == want, (iid, s, e)


def test_sax_equi_depth_and_determinism(spark):
    """rank-SAX invariants: (1) symbols are non-decreasing in value,
    (2) equi-depth — each symbol's bin size is n//a or n//a+1,
    (3) ties split deterministically by bucket order, (4) integer
    `div` exactness (the bin boundary at an exact multiple), and the
    alphabet guard."""
    import pytest as _pytest

    from mtslake.downsample import sax_symbolize

    rows = [("p", "en", i * 10, c) for i, c in
            enumerate([5, 1, 9, 1, 7, 3, 3, 8, 2, 6, 4, 0])]
    tier = spark.createDataFrame(
        rows, "url_prefix string, lang string, bucket_us long, cnt long")
    out = sax_symbolize(tier, alphabet=4).collect()
    by_val = sorted(out, key=lambda r: (r["cnt"], r["bucket_us"]))
    syms = [r["sym"] for r in by_val]
    assert syms == sorted(syms)                    # monotone in value
    n, a = len(rows), 4
    import collections
    sizes = collections.Counter(syms)
    assert all(v in (n // a, n // a + 1) for v in sizes.values())
    assert {r["sym_char"] for r in out} <= set("abcd")
    # ties: the two 1s and two 3s get symbols by bucket order
    ones = sorted((r for r in out if r["cnt"] == 1),
                  key=lambda r: r["bucket_us"])
    assert [r["sym"] for r in ones] == sorted(r["sym"] for r in ones)
    # exact boundary: 12 rows / 4 letters -> rank 4 (0-based 3) is 'a'
    # iff (3*4)//12 == 1 boundary lands exactly; replay in python
    for r in out:
        rn = by_val.index(r) + 1
        assert r["sym"] == ((rn - 1) * a) // n
    with _pytest.raises(ValueError):
        sax_symbolize(tier, alphabet=1)


def test_grouping_sets_subtotals_consistent(spark):
    """The driver-contract GROUPING SETS query's invariant: every
    lang subtotal equals the sum of its detail rows, and the grand
    total equals the sum of subtotals — one pass, exact decimals."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entry_gs", "__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    rows = m.queries()["ts_rollup_sets_1d"](
        spark, "/root/testdata/sf0.001").collect()
    detail = [r for r in rows if r["gid"] == 0]
    sub = [r for r in rows if r["gid"] == 4]      # url_prefix rolled up
    grand = [r for r in rows if r["gid"] == 6]    # only bucket kept
    assert detail and sub and grand
    from collections import defaultdict
    agg = defaultdict(int)
    for r in detail:
        agg[(r["lang"], r["bucket_us"])] += r["cnt"]
    for r in sub:
        assert agg[(r["lang"], r["bucket_us"])] == r["cnt"]
    agg2 = defaultdict(int)
    for r in sub:
        agg2[r["bucket_us"]] += r["cnt"]
    for r in grand:
        assert agg2[r["bucket_us"]] == r["cnt"]


def test_rollup_drops_nan_keeps_null_and_never_aborts(spark):
    """Regression: a single NaN observation aborted every rollup —
    NaN fails |v| < 1e9 (NaN compares greater in Spark), so vsum_cast
    raised its OVERFLOW error on data the storage layer round-trips
    bit-exactly. Semantics now: NaN rows are dropped before the tier
    aggregate (Prometheus stale-marker convention — stored, but not a
    sample); NULL rows still count in cnt as before (min/max/sum skip
    NULLs natively)."""
    rows = [
        ("https://a.example.com/x", "en", 1_000_000, 2.0),
        ("https://a.example.com/x", "en", 2_000_000, float("nan")),
        ("https://a.example.com/x", "en", 3_000_000, 4.0),
        ("https://a.example.com/x", "en", 4_000_000, None),
    ]
    series = spark.createDataFrame(
        rows, "url string, lang string, ts_us long, value double")
    [r] = rollup.rollup_from_series(series, "1h").collect()
    assert r["cnt"] == 3            # NaN dropped, NULL counted
    assert r["vmin"] == 2.0 and r["vmax"] == 4.0
    assert float(r["vsum"]) == 6.0


def test_vsum_cast_nan_error_is_accurate(spark):
    """When NaN reaches vsum_cast directly (operators that do not
    pre-filter), the error must say NaN — not the misleading
    'overflow' message."""
    import pytest as _pytest

    df = spark.createDataFrame([(float("nan"),)], "v double")
    with _pytest.raises(Exception, match="NaN value reached"):
        df.select(rollup.vsum_cast("v").alias("q")).collect()


def test_lttb_preserves_key_column_types(spark):
    """Regression: the applyInPandas output schema hardcoded every key
    column as string, so a LONG key (user_id) hit an Arrow schema
    mismatch. Key columns now copy their input types."""
    from mtslake.downsample import lttb_downsample

    rows = [(7, i * 1000, float(i % 5)) for i in range(50)]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, value double")
    out = lttb_downsample(df, n_out=10, key_cols=("user_id",))
    assert dict(out.dtypes)["user_id"] == "bigint"
    assert out.count() == 10
    assert out.select("user_id").distinct().first()[0] == 7


def test_ohlc_null_ts_rows_excluded(spark):
    """Regression: only NULL values were filtered; a NULL timestamp
    entered the ordering struct (NULL orders first) and hijacked
    'open' from a timestamp-less row."""
    from mtslake.series import ohlc

    df = spark.createDataFrame(
        [("k", None, 5.0), ("k", 1, 7.0), ("k", 9, 2.0)],
        "k string, ts_us long, value double")
    [row] = ohlc(df, ["k"]).collect()
    assert (row["n"], row["open"], row["close"]) == (2, 7.0, 2.0)


def test_counter_rate_null_prev_is_not_a_reset(spark):
    """Regression: a NULL counter observation made x >= prev NULL at
    the next row, firing the OTHERWISE (reset) branch — a phantom
    reset reporting the full counter value as increase. NULL
    observations are now excluded up front."""
    from mtslake.series import counter_rate

    df = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 2, None), ("k", 3, 1_000_000.0)],
        "k string, ts_us long, counter double")
    rows = counter_rate(df, key="k", ts_col="ts_us",
                        value_col="counter").collect()
    incs = {r["ts_us"]: r["increase"] for r in rows}
    assert incs[3] == 1_000_000.0 - 10.0   # growth, not a reset


def test_lineage_wall_time_is_batch_scoped(spark, tmp_path):
    """Regression: the whole batch's wall time was recorded per UNIT
    under a per-unit name, overstating SUM(wall) by the batch factor.
    It is now batch_wall_ms alongside units_in_batch, so job cost =
    SUM(batch_wall_ms / units_in_batch)."""
    from mtslake.catalog import ChunkStore
    from mtslake.datagen import generate_pages
    from mtslake.series import pages_to_series

    series = pages_to_series(
        generate_pages(spark, n_urls=4, snapshots_per_url=32))
    st = ChunkStore(spark, str(tmp_path / "st"))
    job = ResumableCompressJob(st, job_id="w1", units_per_batch=3)
    job.run(series)
    rows = job.lineage().collect()
    assert rows and "batch_wall_ms" in rows[0].asDict()
    # one lineage row per unit, and units_in_batch consistent: summing
    # 1/units_in_batch over rows recovers exactly the number of batches
    assert len({r["unit"] for r in rows}) == len(rows)
    n_batches = sum(1 / r["units_in_batch"] for r in rows)
    assert abs(n_batches - round(n_batches)) < 1e-9
    assert all(r["batch_wall_ms"] >= 0 for r in rows)


def test_gapfill_locf_equals_spine_join_reference(spark):
    """The generator-based gapfill_locf (r6 optimization) must be
    row-identical to the original spine-join + LOCF-window shape on
    tier-shaped input — including a NULL-valued observed bucket (old
    semantics: it reads as filled and its columns carry forward) and a
    non-value passenger column (NULL on generated rows)."""
    from pyspark.sql import Window as W

    H = 3_600_000_000
    rows = [
        # h1: gaps of 2 and 1 buckets; one observation with NULL values
        ("h1", "en", 0 * H, 5, 1.0, 2.0, 7.5, 10),
        ("h1", "en", 3 * H, None, None, None, None, 11),
        ("h1", "en", 5 * H, 2, 0.5, 0.9, 1.0, 12),
        # h2: single observation
        ("h2", "de", 1 * H, 1, 4.0, 4.0, 4.0, 13),
        # h3: adjacent observations, no gap
        ("h3", "fr", 2 * H, 7, 0.0, 0.0, 0.0, 14),
        ("h3", "fr", 3 * H, 8, 9.0, 9.0, 9.0, 15),
    ]
    schema = (
        "url_prefix string, lang string, bucket_us long, cnt long, "
        "vmin double, vmax double, vsum double, part_id int"
    )
    rolled = spark.createDataFrame(rows, schema)
    value_cols = ("cnt", "vmin", "vmax", "vsum")
    keys = ["url_prefix", "lang"]

    # reference: the pre-r6 spine-join implementation, inlined
    sp = gapfill.spine(rolled, "1h", keys)
    joined = sp.join(rolled, [*keys, "bucket_us"], "left")
    w = (
        W.partitionBy(*keys)
        .orderBy("bucket_us")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ref = joined.withColumn("is_filled", F.col(value_cols[0]).isNull())
    for c in value_cols:
        ref = ref.withColumn(c, F.last(c, ignorenulls=True).over(w))

    got = gapfill.gapfill_locf(rolled, "1h", value_cols, keys)
    cols = sorted(got.columns)
    assert sorted(ref.columns) == cols
    a = {tuple(r) for r in got.select(*cols).collect()}
    b = {tuple(r) for r in ref.select(*cols).collect()}
    assert a == b


def test_gapfill_interpolate_equals_spine_join_reference(spark):
    """The generator-based gapfill_interpolate (r6 optimization, second
    session) must be row- and BIT-identical to the original spine-join
    + two-window shape on tier-shaped input — including torn rows
    (NULL probe but non-NULL other value column: the inclusive frames
    anchor the row's own value), boundary gaps (no prior/next probe
    observation stay NULL), a single-observation key, and a non-value
    passenger column (NULL on generated rows)."""
    from pyspark.sql import Window as W

    H = 3_600_000_000
    rows = [
        # h1: interior gaps; a torn row at 3h (vmin NULL, vmax set)
        ("h1", "en", 0 * H, 1.0, 2.0, 10),
        ("h1", "en", 3 * H, None, 8.0, 11),
        ("h1", "en", 6 * H, 4.0, 5.0, 12),
        # h2: single observation (tn==tp edge on its own row)
        ("h2", "de", 1 * H, 4.0, 4.5, 13),
        # h3: leading/trailing all-NULL rows -> boundary gaps stay NULL
        ("h3", "fr", 0 * H, None, None, 14),
        ("h3", "fr", 2 * H, 1.0, 1.5, 15),
        ("h3", "fr", 5 * H, None, None, 16),
    ]
    schema = (
        "url_prefix string, lang string, bucket_us long, "
        "vmin double, vmax double, part_id int"
    )
    rolled = spark.createDataFrame(rows, schema)
    value_cols = ("vmin", "vmax")
    keys = ["url_prefix", "lang"]

    # reference: the pre-r6 spine-join implementation, inlined
    sp = gapfill.spine(rolled, "1h", keys)
    joined = sp.join(rolled, [*keys, "bucket_us"], "left")
    wb = (W.partitionBy(*keys).orderBy("bucket_us")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wf = (W.partitionBy(*keys).orderBy("bucket_us")
          .rowsBetween(W.currentRow, W.unboundedFollowing))
    probe = value_cols[0]
    ref = joined.withColumn("is_filled", F.col(probe).isNull())
    obs_ts = F.when(F.col(probe).isNotNull(), F.col("bucket_us"))
    ref = ref.withColumn("_tp", F.last(obs_ts, ignorenulls=True).over(wb))
    ref = ref.withColumn("_tn", F.first(obs_ts, ignorenulls=True).over(wf))
    frac = F.when(F.col("_tn") == F.col("_tp"), F.lit(0.0)).otherwise(
        (F.col("bucket_us") - F.col("_tp")).cast("double")
        / (F.col("_tn") - F.col("_tp")).cast("double"))
    for c in value_cols:
        prev = F.last(c, ignorenulls=True).over(wb).cast("double")
        nxt = F.first(c, ignorenulls=True).over(wf).cast("double")
        ref = ref.withColumn(
            c, F.when(~F.col("is_filled"), F.col(c).cast("double")).otherwise(
                prev + (nxt - prev) * frac))
    ref = ref.drop("_tp", "_tn")

    got = gapfill.gapfill_interpolate(rolled, "1h", value_cols, keys)
    assert got.columns == ref.columns  # order too, not just the set
    cols = sorted(got.columns)
    # repr-compare doubles: bit-exact, not approximate — the contract
    # query hashes these doubles UNROUNDED
    a = sorted(tuple(repr(r[c]) for c in cols) for r in got.collect())
    b = sorted(tuple(repr(r[c]) for c in cols) for r in ref.collect())
    assert a == b
