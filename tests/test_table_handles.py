"""Store table handles and one-url reads.

``ChunkStore.table`` reuses one opened DataFrame per table while the
table's files are unchanged, and reopens on any change; ``read_range``
decodes a one-url read on one task. Both are read-path optimizations,
so every test pins that answers stay the same."""

import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mtslake import chunk, read, retention
from mtslake.catalog import ChunkStore, prune_chunks
from mtslake.config import DEFAULT
from mtslake.datagen import generate_pages
from mtslake.series import pages_to_series, TS_COL


@pytest.fixture(scope="module")
def series(spark):
    pages = generate_pages(spark, n_urls=6, snapshots_per_url=96)
    return pages_to_series(pages).cache()


def _store(spark, tmp_path, series):
    st = ChunkStore(spark, str(tmp_path / "store"))
    st.write_chunks(chunk.compress_series(series, DEFAULT), mode="overwrite")
    return st


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, series):
    """A store the read-only tests share (the others mutate their own)."""
    return _store(spark, tmp_path_factory.mktemp("handles"), series)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    group = f"handle-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _ids(st):
    return sorted(
        r[0] for r in st.chunks().select("chunk_id").distinct().collect()
    )


def test_reopen_is_free_while_files_are_unchanged(spark, store):
    first = store.chunks()
    again, n_jobs = _jobs(spark, store.chunks)
    assert again is first
    assert n_jobs == 0
    # each table has its own handle
    assert store.catalog() is not first
    assert store.catalog() is store.catalog()


def test_handle_reopens_after_append(spark, tmp_path, series):
    st = _store(spark, tmp_path, series)
    old = st.chunks()
    n_old = old.count()
    extra = series.withColumn("url", F.concat(F.col("url"), F.lit("/x")))
    st.write_chunks(chunk.compress_series(extra, DEFAULT), mode="append")
    new, n_jobs = _jobs(spark, st.chunks)
    assert new is not old
    assert n_jobs >= 1  # reopened through Spark
    assert new.count() == 2 * n_old
    assert st.catalog().count() == 2 * n_old


def test_handle_reopens_after_partition_drop(spark, tmp_path, series):
    st = _store(spark, tmp_path, series)
    ids = _ids(st)
    n_all = st.chunks().count()
    n_doomed = st.chunks().filter(F.col("chunk_id") == ids[0]).count()
    assert retention.drop_chunk_partitions(st, [ids[0]]) == 1
    assert _ids(st) == ids[1:]
    assert st.chunks().count() == n_all - n_doomed
    assert st.catalog().count() == n_all - n_doomed


def test_handle_reopens_after_same_name_rewrite(spark, tmp_path, series):
    st = _store(spark, tmp_path, series)
    old = st.chunks()
    n_all = old.count()
    part = os.path.join(st.path("chunks"), f"chunk_id={_ids(st)[0]}")
    name = sorted(f for f in os.listdir(part) if f.startswith("part-"))[0]
    path = os.path.join(part, name)
    t = pq.read_table(path)
    assert t.num_rows > 1
    pq.write_table(t.slice(0, 1), path)  # same name, fewer rows
    os.remove(os.path.join(part, f".{name}.crc"))  # stale checksum
    new = st.chunks()
    assert new is not old
    assert new.count() == n_all - (t.num_rows - 1)


def _url_on_split_days(spark, series, tmp_path):
    """A store where one url's chunks sit on non-contiguous days: its
    middle chunk_ids are removed from its history only."""
    cid = F.floor(F.col(TS_COL) / DEFAULT.chunk_duration_us)
    n_ids = series.groupBy("url").agg(F.countDistinct(cid).alias("n"))
    url = n_ids.orderBy(F.desc("n"), "url").first()["url"]
    ids = sorted(r[0] for r in series.filter(F.col("url") == url)
                 .select(cid).distinct().collect())
    assert len(ids) >= 3
    gap = ids[1:-1]
    holed = series.filter((F.col("url") != url) | ~cid.isin(gap))
    st = ChunkStore(spark, str(tmp_path / "holed"))
    st.write_chunks(chunk.compress_series(holed, DEFAULT), mode="overwrite")
    return st, url, [ids[0], ids[-1]]


def test_url_read_on_noncontiguous_days_equals_plain_decode(
    spark, tmp_path, series
):
    st, url, url_ids = _url_on_split_days(spark, series, tmp_path)
    got = read.read_range(st, url=url)
    plain = chunk.decompress_chunks(prune_chunks(st.chunks(), url=url))
    rows = {tuple(r) for r in got.collect()}
    assert rows
    assert rows == {tuple(r) for r in plain.select(*got.columns)
                    .collect()}
    # a bounded window spanning the gap reads the same rows
    t0 = url_ids[0] * DEFAULT.chunk_duration_us
    t1 = (url_ids[1] + 1) * DEFAULT.chunk_duration_us - 1
    assert {tuple(r) for r in read.read_range(st, t0, t1, url=url)
            .collect()} == rows


def test_absent_url_reads_empty_frame_with_schema(store, series):
    present = read.read_range(store, url=series.select("url").first()[0])
    absent = read.read_range(store, url="https://absent.example.com/none")
    assert absent.schema == present.schema
    assert absent.count() == 0
