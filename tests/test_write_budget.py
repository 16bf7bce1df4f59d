"""The nightly append's write tail: payload columns without Parquet
statistics, a bounded number of Spark jobs per append and refresh, one
verified pass that writes the catalog, and read-backs that open with a
known schema. Each test pins that answers stay the same."""

import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mtslake import chunk, codec, read, rollup
from mtslake.catalog import ChunkStore
from mtslake.compact import compact
from mtslake.config import DEFAULT
from mtslake.datagen import generate_pages
from mtslake.lineage import ResumableCompressJob
from mtslake.series import pages_to_series, TS_COL

ALL_COLS = ["url", "lang", TS_COL, *chunk.ALL_CHANNELS]


@pytest.fixture(scope="module")
def series(spark):
    """Six urls over three chunk days, no hot url."""
    pages = generate_pages(spark, n_urls=6, snapshots_per_url=192, n_hot=0)
    return pages_to_series(pages).cache()


def _units(series):
    u = F.floor(F.col(TS_COL) / DEFAULT.chunk_duration_us)
    return sorted(r[0] for r in series.select(u).distinct().collect())


def _of_units(series, units):
    u = F.floor(F.col(TS_COL) / DEFAULT.chunk_duration_us)
    return series.filter(u.isin([int(x) for x in units]))


def _rows(df):
    return sorted(tuple(r) for r in df.select(*ALL_COLS).collect())


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _footer_columns(table_root):
    """{column: [has min/max per column chunk]} over every data file."""
    out = {}
    files = glob.glob(os.path.join(table_root, "*", "part-*.parquet"))
    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                out.setdefault(c.path_in_schema, []).append(
                    c.is_stats_set and c.statistics.has_min_max
                )
    return out


def _assert_payload_stats_off(table_root):
    cols = _footer_columns(table_root)
    payload = [c for c in cols if c.startswith("p_")]
    assert sorted(payload) == ["p_n_chars", "p_sha1", "p_ts", "p_value"]
    for c in payload:
        assert not any(cols[c]), f"{c} carries min/max statistics"
    for c in ("url", "ts_min", "ts_max", "value_min", "value_max"):
        assert all(cols[c]), f"{c} lost its min/max statistics"


def test_chunk_writers_drop_payload_statistics(spark, series, tmp_path):
    """All three chunk-table writers write no min/max on the p_*
    payload columns and keep them on the pruning columns."""
    st = ChunkStore(spark, str(tmp_path / "write_chunks"))
    st.write_chunks(chunk.compress_series(series, DEFAULT), mode="overwrite")
    _assert_payload_stats_off(st.path("chunks"))

    st2 = ChunkStore(spark, str(tmp_path / "lineage"))
    ResumableCompressJob(st2, "j", units_per_batch=8).run(series)
    _assert_payload_stats_off(st2.path("chunks"))

    # compact rewrites a fragmented store (hot-chunk segments of 40)
    st3 = ChunkStore(spark, str(tmp_path / "compact"))
    seg = DEFAULT.with_overrides(hot_chunk_points=40)
    st3.write_chunks(chunk.compress_series(series, seg), mode="overwrite",
                     cfg=DEFAULT)
    assert compact(st3)["chunk_ids"]
    _assert_payload_stats_off(st3.path("chunks"))
    assert _rows(read.read_range(st3)) == _rows(series)


def test_store_with_payload_statistics_reads_bit_identically(
    spark, series, tmp_path
):
    """A store written with statistics on every column (the layout
    before payload statistics were dropped) decodes to the same rows,
    alone and with a statistics-free append in the same table."""
    units = _units(series)
    old = ChunkStore(spark, str(tmp_path / "old"))
    old.write_meta(DEFAULT)
    ch = chunk.compress_series(_of_units(series, units[:-1]), DEFAULT)
    ch.write.partitionBy("chunk_id").parquet(old.path("chunks"))
    ch.select(*[c for c in ch.columns if not c.startswith("p_")]) \
        .write.partitionBy("chunk_id").parquet(old.path("catalog"))
    assert all(all(v) for v in _footer_columns(old.path("chunks")).values())
    early = _of_units(series, units[:-1])
    assert _rows(read.read_range(old)) == _rows(early)

    old.write_chunks(
        chunk.compress_series(_of_units(series, units[-1:]), DEFAULT),
        mode="append",
    )
    assert _rows(read.read_range(old)) == _rows(series)
    t0 = series.agg(F.min(TS_COL)).first()[0]
    t1 = t0 + DEFAULT.chunk_duration_us
    assert _rows(read.read_range(old, t0, t1)) == _rows(
        series.filter(F.col(TS_COL).between(t0, t1))
    )


def test_nightly_append_and_refresh_job_budget(spark, series, tmp_path):
    """A one-unit append with the check on runs at most 7 Spark jobs
    (plan, resume set, encode + chunk write, verified catalog write),
    and the refresh of its tiers at most 6 (two per tier): no
    read-back pays a schema-inference job, the unit stats need no
    collect, and the lineage row needs no Spark write."""
    units = _units(series)
    assert len(units) >= 2
    st = ChunkStore(spark, str(tmp_path / "budget"))
    cfg = DEFAULT.with_overrides(check_after_compress=True)
    ResumableCompressJob(st, "nightly", cfg, units_per_batch=1).run(
        _of_units(series, units[:-1])
    )
    rollup.materialize_tiers(st, read.read_range(st, columns=["value"]))

    job = ResumableCompressJob(st, "nightly", cfg, units_per_batch=1)
    day = _of_units(series, units[-1:])
    res, n_run = _jobs(spark, lambda: job.run(day))
    assert res["units_processed"] == 1
    assert n_run <= 7, f"lineage.run ran {n_run} jobs"
    parts, n_refresh = _jobs(
        spark, lambda: rollup.refresh_tiers(st, units[-1:])
    )
    assert parts["1m"]
    assert n_refresh <= 6, f"refresh_tiers ran {n_refresh} jobs"

    # the answers: chunks, catalog, lineage and tiers are whole
    assert _rows(read.read_range(st)) == _rows(series)
    assert st.catalog().count() == st.chunks().count()
    ln = {r["unit"]: r for r in job.lineage().collect()}
    assert set(ln) == set(units)
    row = ln[units[-1]]
    exp = st.chunks().filter(F.col("chunk_id") == units[-1]).agg(
        F.count("*"), F.sum("n_points"), F.sum("raw_nbytes"),
        F.sum("comp_nbytes")).first()
    assert (row["n_chunks"], row["n_points"], row["raw_nbytes"],
            row["comp_nbytes"]) == tuple(exp)
    assert row["units_in_batch"] == 1
    full = ChunkStore(spark, str(tmp_path / "full"))
    full.write_chunks(chunk.compress_series(series, DEFAULT),
                      mode="overwrite")
    rollup.materialize_tiers(full, read.read_range(full, columns=["value"]))
    for tier in ("1m", "1h", "1d"):
        got = spark.read.parquet(st.path(f"rollup_{tier}"))
        exp = spark.read.parquet(full.path(f"rollup_{tier}"))
        assert sorted(map(tuple, got.drop("part_id").collect())) == sorted(
            map(tuple, exp.drop("part_id").collect())
        ), tier


def _tamper_unit(store, unit):
    """Re-encode one chunk's p_value with its first value changed: a
    well-formed payload whose SHA1 no longer matches the ledger."""
    spec = {c.name: c for c in chunk.DEFAULT_CHANNELS}["value"]
    f = sorted(glob.glob(
        os.path.join(store.path("chunks"), f"chunk_id={unit}", "*.parquet")
    ))[0]
    t = pq.read_table(f)
    pays = t.column("p_value").to_pylist()
    v = codec.decode_column(pays[0]).copy()
    v[0] += 1.0
    pays[0] = codec.encode_column(v, spec.resolved_codec(), DEFAULT.comp_level)
    t = t.set_column(t.schema.get_field_index("p_value"), "p_value",
                     pa.array(pays, pa.binary()))
    pq.write_table(t, f)
    # drop the Hadoop checksum, or the read fails on it before the check
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_tampered_batch_leaves_no_catalog_or_lineage_row(
    spark, series, tmp_path
):
    """The check runs before the catalog write, so a batch whose chunk
    rows fail it leaves no catalog row and no lineage row for its unit;
    a rerun without the tamper recompresses the unit and reads
    bit-exact."""
    units = _units(series)
    bad = units[-1]
    st = ChunkStore(spark, str(tmp_path / "tamper"))
    cfg = DEFAULT.with_overrides(check_after_compress=True)
    ResumableCompressJob(st, "t", cfg, units_per_batch=1).run(
        _of_units(series, units[:-1])
    )
    with pytest.raises(Exception, match="integrity"):
        ResumableCompressJob(
            st, "t", cfg, units_per_batch=1,
            before_check=lambda job: _tamper_unit(job.store, bad),
        ).run(series)
    assert st.catalog().filter(F.col("chunk_id") == bad).count() == 0
    assert st.catalog().count() > 0
    job = ResumableCompressJob(st, "t", cfg, units_per_batch=1)
    assert job.done_units() == set(units[:-1])
    res = job.run(series)
    assert res["units_processed"] == 1
    assert job.done_units() == set(units)
    assert _rows(read.read_range(st)) == _rows(series)
    assert st.catalog().count() == st.chunks().count()


def test_table_rewritten_with_other_columns_reopens_with_them(
    spark, series, tmp_path
):
    """Read-backs that pass a known schema never make a table keep a
    stale column set: a table overwritten wholesale with other columns
    reopens with the new ones, through a plain handle, through a
    handle given the new schema, and through materialize_tiers over
    tier tables left with another layout."""
    st = ChunkStore(spark, str(tmp_path / "cols"))
    p = st.path("t")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(p)
    assert st.table("t").columns == ["k", "v"]
    assert st.table("t", schema="k long, v string").columns == ["k", "v"]
    spark.createDataFrame([(2, 2.0, 3)], "k long, w double, z int") \
        .write.mode("overwrite").parquet(p)
    spark.catalog.refreshByPath(p)
    assert st.table("t").columns == ["k", "w", "z"]
    assert st.table("t").collect()[0]["w"] == 2.0
    new = st.table("t", schema="k long, w double, z int")
    assert new.columns == ["k", "w", "z"]
    assert new.collect()[0]["z"] == 3

    # tiers left by another layout: materialize_tiers replaces them and
    # each coarser tier reads the finer one as just written
    st.write_chunks(chunk.compress_series(series, DEFAULT), mode="overwrite")
    for tier in ("1m", "1h", "1d"):
        spark.createDataFrame(
            [("h", 5, 1)], "url_prefix string, legacy long, part_id long"
        ).write.partitionBy("part_id").parquet(st.path(f"rollup_{tier}"))
        assert "legacy" in st.table(f"rollup_{tier}").columns
    rollup.materialize_tiers(st, read.read_range(st, columns=["value"]))
    exp = rollup.build_all_tiers(series)
    for tier in ("1m", "1h", "1d"):
        got = st.table(f"rollup_{tier}")
        assert "legacy" not in got.columns
        assert sorted(got.columns) == sorted(exp[tier].columns + ["part_id"])
        assert sorted(map(tuple, got.drop("part_id").select(
            *exp[tier].columns).collect())) == sorted(
            map(tuple, exp[tier].collect())
        ), tier
