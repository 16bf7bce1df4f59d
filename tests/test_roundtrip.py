"""End-to-end compress → store → read → verify slice.

≙ the reference's round-trip workhorse (_round_trip, tests.py:130-139)
and byte-identity E2E (tests.py:381-410), over the pages fixture."""

import pytest
from pyspark.sql import functions as F

from mtslake import chunk, read
from mtslake.catalog import ChunkStore
from mtslake.config import DEFAULT
from mtslake.datagen import generate_pages
from mtslake.series import pages_to_series, TS_COL


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    pages = generate_pages(spark, n_urls=40, snapshots_per_url=48, n_hot=2,
                           hot_factor=20)
    series = pages_to_series(pages)
    chunks = chunk.compress_series(series, DEFAULT)
    st = ChunkStore(spark, str(tmp_path_factory.mktemp("store")))
    st.write_chunks(chunks, mode="overwrite")
    return st, series


def _canon(df):
    return {tuple(r) for r in df.select(
        "url", TS_COL, "n_chars", "value", "text_sha1").collect()}


def test_roundtrip_bit_exact(store):
    st, series = store
    decoded = read.read_range(st, verify=True)
    # bit-exact: compare doubles via their exact values (Python floats
    # preserve the 64 bits; NaN-free fixture)
    assert _canon(decoded) == _canon(series)


def test_counts_and_catalog_consistent(store):
    st, series = store
    n_raw = series.count()
    cat = st.catalog()
    assert cat.agg(F.sum("n_points")).first()[0] == n_raw
    # every chunk's span lies inside its chunk_id bucket
    dur = DEFAULT.chunk_duration_us
    bad = cat.filter(
        (F.floor(F.col("ts_min") / dur) != F.col("chunk_id"))
        | (F.floor(F.col("ts_max") / dur) != F.col("chunk_id"))
    ).count()
    assert bad == 0


def test_compression_actually_compresses(store):
    st, _ = store
    row = st.describe().first()
    # total ratio includes the full-entropy sha1 ledger (20 B/pt); the
    # signal streams (ts + channels) are what the codec is judged on
    assert row["ratio"] < 1.0
    assert row["signal_ratio"] < 0.6, f"signal ratio {row['signal_ratio']}"


def test_range_read_pruning_and_trim(store):
    st, series = store
    # mid-horizon 3-day window (≙ randomized slice oracle tests,
    # tests.py:246-299 — range vs the uncompressed oracle)
    t0 = series.agg(F.min(TS_COL)).first()[0] + 5 * 86_400_000_000
    t1 = t0 + 3 * 86_400_000_000
    got = read.read_range(st, t0, t1)
    exp = series.filter((F.col(TS_COL) >= t0) & (F.col(TS_COL) <= t1))
    assert _canon(got) == _canon(exp)


def test_randomized_range_oracle(store):
    """≙ the reference's randomized slice oracle (tests.py:246-299):
    seeded random + degenerate time ranges, every read_range result
    (pruned scan → decode → trim) must equal the uncompressed oracle
    on values bit-for-bit."""
    import numpy as np

    st, series = store
    pdf = series.toPandas()
    lo, hi = int(pdf[TS_COL].min()), int(pdf[TS_COL].max())
    span = hi - lo
    rng = np.random.default_rng(42)
    ranges = []
    for _ in range(30):  # randomized windows, mixed widths
        a = int(rng.integers(lo - span // 10, hi + span // 10))
        b = a + int(rng.integers(0, span // 2))
        ranges.append((a, b))
    exact_ts = int(pdf[TS_COL].iloc[17])
    ranges += [
        (hi + 1, hi + span),      # fully after horizon -> empty
        (lo - span, lo - 1),      # fully before horizon -> empty
        (hi, lo),                 # inverted -> empty
        (exact_ts, exact_ts),     # zero-width on an existing point
        (lo, hi),                 # full horizon
        (lo, lo),                 # boundary point
    ]
    for t0, t1 in ranges:
        got = {
            tuple(r)
            for r in read.read_range(st, t0, t1)
            .select("url", TS_COL, "n_chars", "value").collect()
        }
        sub = pdf[(pdf[TS_COL] >= t0) & (pdf[TS_COL] <= t1)]
        exp = {
            (r.url, int(r.ts_us), int(r.n_chars), float(r.value))
            for r in sub.itertuples(index=False)
        }
        assert got == exp, f"range ({t0},{t1}): {len(got)} vs {len(exp)}"


def test_url_filtered_read(store):
    st, series = store
    url = series.select("url").first()[0]
    got = read.read_range(st, url=url)
    exp = series.filter(F.col("url") == url)
    assert _canon(got) == _canon(exp)


def test_empty_range_returns_empty(store):
    st, _ = store
    assert read.read_range(st, 0, 1000).count() == 0  # pre-horizon


def test_tampered_chunk_fails_verify(store, spark, tmp_path):
    # ≙ tamper test (tests.py:345-379): corrupt one payload byte ⇒
    # verification must raise, silent corruption is forbidden
    st, _ = store
    import pyspark.sql.functions as F2
    bad = st.chunks().limit(1).withColumn(
        "p_value",
        F2.concat(F2.expr("substring(p_value, 1, 20)"),
                  F2.lit(b"\xff\xff\xff\xff"),
                  F2.expr("substring(p_value, 25, 1000000)")),
    )
    with pytest.raises(Exception):
        chunk.decompress_chunks(bad, verify=True).count()


def test_text_sha1_invariant_roundtrip(store):
    """byte-identical extracted text per url (input_hint invariant):
    the per-row text_sha1 survives the codec bit-exactly."""
    st, series = store
    got = read.read_range(st).select("url", TS_COL, "text_sha1")
    exp = series.select("url", TS_COL, "text_sha1")
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


@pytest.mark.parametrize("dur_us", [
    60_000_000,            # 1 min  (tiny chunks, many groups)
    3_600_000_000,         # 1 hour
    86_400_000_000,        # 1 day  (default)
    7 * 86_400_000_000,    # 1 week (few huge chunks, ragged tail)
])
def test_chunk_duration_sweep_roundtrip(spark, store, dur_us):
    """≙ reference chunk_duration sweep (tests.py:499-501): the codec
    round-trips bit-exact at every chunking granularity."""
    _, series = store
    cfg = DEFAULT.with_overrides(chunk_duration_us=dur_us)
    decoded = chunk.decompress_chunks(
        chunk.compress_series(series, cfg), verify=True
    )
    assert _canon(decoded) == _canon(series)


def test_pre_partitioned_compress_equivalent(spark, store):
    """pre_partitioned=True (shuffle-skipping) must produce the same
    decoded multiset as the default path."""
    _, series = store
    from mtslake import chunk as ch
    pre = series.repartition(4, "url")
    chunks = ch.compress_series(pre, DEFAULT, pre_partitioned=True)
    decoded = ch.decompress_chunks(chunks, verify=True)
    assert _canon(decoded) == _canon(series)


def test_generic_channel_spec_roundtrip(spark):
    """Channel genericity (≙ the reference's dtype/n_channels matrix,
    mtscomp.py:286,300-303; tests.py:100-102,240-243): a DECLARED
    4-numeric-channel mixed int/float spec plus a raw fixed-width
    binary channel round-trips bit-exactly through the same
    compress/decompress engine — no engine edits, just the spec."""
    import numpy as np

    from mtslake.chunk import (ChannelSpec, compress_series,
                               decompress_chunks)

    spec = (
        ChannelSpec("temp", "float32"),
        ChannelSpec("hum", "int16"),
        ChannelSpec("count", "int64"),
        ChannelSpec("press", "float64"),
        ChannelSpec("tag", width=8),  # raw binary, non-hex
    )
    rng = np.random.default_rng(3)
    n = 4000
    rows = []
    for i in range(n):
        rows.append((
            f"https://s{i % 7}.example.com/x",
            "en",
            int(rng.integers(0, 5)) * 86_400_000_000
            + int(rng.integers(0, 86_400_000_000)),
            float(np.float32(rng.normal() * 30)),
            int(rng.integers(-300, 300)),
            int(rng.integers(-2**40, 2**40)),
            float(rng.normal() * 1e5),
            bytes(rng.integers(0, 256, size=8, dtype=np.uint8)),
        ))
    series = spark.createDataFrame(
        rows,
        "url string, lang string, ts_us long, temp float, hum short, "
        "count long, press double, tag binary",
    )
    chunks = compress_series(series, DEFAULT, channels=spec)
    decoded = decompress_chunks(chunks, verify=True, spec=spec,
                                channels=tuple(c.name for c in spec))
    got = {tuple(r) for r in decoded.select(
        "url", TS_COL, "temp", "hum", "count", "press", "tag").collect()}
    want = {tuple(r) for r in series.select(
        "url", TS_COL, "temp", "hum", "count", "press", "tag").collect()}
    assert got == want

    # projection pushdown holds for generic specs too: a two-channel
    # read over the stored table must not scan the other payload columns
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        chunks.write.parquet(f"{tmp}/chunks")
        stored = spark.read.parquet(f"{tmp}/chunks")
        narrow = decompress_chunks(stored, spec=spec,
                                   channels=("hum", "tag"))
        plan = narrow._jdf.queryExecution().executedPlan().toString()
        assert "p_temp" not in plan and "p_press" not in plan
        assert set(narrow.columns) == {"url", "lang", "ts_us", "hum", "tag"}
        got2 = {tuple(r) for r in narrow.select("url", TS_COL, "hum",
                                                "tag").collect()}
        want2 = {tuple(r) for r in series.select("url", TS_COL, "hum",
                                                 "tag").collect()}
        assert got2 == want2


def test_generic_spec_matches_default_layout(spark):
    """The DEFAULT_CHANNELS spec routed through the generic machinery
    must produce byte-identical chunk rows to itself across runs (the
    spec IS the fixed layout — regression guard for the genericization
    refactor)."""
    from mtslake.chunk import DEFAULT_CHANNELS, compress_series

    pages = generate_pages(spark, n_urls=6, snapshots_per_url=24)
    series = pages_to_series(pages)
    a = {tuple(r) for r in compress_series(series, DEFAULT).collect()}
    b = {tuple(r) for r in compress_series(
        series, DEFAULT, channels=DEFAULT_CHANNELS).collect()}
    assert a == b


def test_generic_channel_spec_randomized_property(spark):
    """Property: randomized channel specs (dtype mix, widths, counts)
    round-trip bit-exactly through compress/decompress."""
    import random

    import numpy as np

    from mtslake.chunk import (ChannelSpec, compress_series,
                               decompress_chunks)

    rng = random.Random(13)
    nprng = np.random.default_rng(13)
    dtypes = ["int8", "int16", "int32", "int64", "float32", "float64"]
    for trial in range(3):
        n_ch = rng.randint(1, 4)
        spec = []
        for ci in range(n_ch):
            if rng.random() < 0.25:
                spec.append(ChannelSpec(f"c{ci}", width=rng.choice([4, 12])))
            else:
                spec.append(ChannelSpec(f"c{ci}", rng.choice(dtypes)))
        spec = tuple(spec)
        n = 600
        cols, types = [], []
        data_rows = []
        for i in range(n):
            row = [
                f"https://s{i % 5}.example.com/", "en",
                int(nprng.integers(0, 3)) * 86_400_000_000
                + int(nprng.integers(0, 86_400_000_000)),
            ]
            for c in spec:
                if c.is_binary:
                    row.append(bytes(nprng.integers(0, 256, size=c.width,
                                                    dtype=np.uint8)))
                elif c.dtype.startswith("float"):
                    row.append(float(
                        np.dtype(c.dtype).type(nprng.normal() * 100)))
                else:
                    info = np.iinfo(c.dtype)
                    row.append(int(nprng.integers(info.min, info.max)))
            data_rows.append(tuple(row))
        spark_types = {"int8": "tinyint", "int16": "smallint",
                       "int32": "int", "int64": "long",
                       "float32": "float", "float64": "double"}
        schema = "url string, lang string, ts_us long, " + ", ".join(
            f"c{ci} binary" if c.is_binary
            else f"c{ci} {spark_types[c.dtype]}"
            for ci, c in enumerate(spec)
        )
        series = spark.createDataFrame(data_rows, schema)
        chunks = compress_series(series, DEFAULT, channels=spec)
        decoded = decompress_chunks(
            chunks, verify=True, spec=spec,
            channels=tuple(c.name for c in spec),
        )
        names = [c.name for c in spec]
        got = {tuple(r) for r in decoded.select("url", TS_COL,
                                                *names).collect()}
        want = {tuple(r) for r in series.select("url", TS_COL,
                                                *names).collect()}
        assert got == want, (trial, spec)


def test_binary_channel_rejects_wrong_width_values(spark):
    """A fixed-width binary channel must reject any value of another
    width. The byte TOTAL here is right (3 + 5 = 2 × 4), so a
    total-only check would encode the rows as b"abcd"/b"efgh" and
    silently corrupt both."""
    from mtslake.chunk import ChannelSpec, compress_series

    spec = (ChannelSpec("tag", width=4),)
    series = spark.createDataFrame(
        [("https://a.example.com/", "en", 1, b"abc"),
         ("https://a.example.com/", "en", 2, b"defgh")],
        "url string, lang string, ts_us long, tag binary",
    )
    with pytest.raises(Exception, match="binary channel tag is not "
                                        "fixed-width 4"):
        compress_series(series, DEFAULT, channels=spec).collect()


def test_read_range_pins_store_layout_for_pruning(spark, tmp_path):
    """Regression: read_range pruned chunk_id with the CALLER's cfg
    (default DEFAULT), so a store written with a non-default
    chunk_duration_us silently dropped in-range partitions — e.g. an
    hourly-chunked store read with the 1-day default computes
    chunk_id <= t1 // 1d, a bound orders of magnitude below the
    store's hourly chunk ids. read_range must pin the store's layout
    via cfg_for_store."""
    pages = generate_pages(spark, n_urls=6, snapshots_per_url=24,
                           n_hot=1, hot_factor=4)
    series = pages_to_series(pages)
    cfg = DEFAULT.with_overrides(chunk_duration_us=3_600_000_000)
    st = ChunkStore(spark, str(tmp_path / "hourly"))
    st.write_chunks(chunk.compress_series(series, cfg), mode="overwrite",
                    cfg=cfg)
    t0 = series.agg(F.min(TS_COL)).first()[0]
    lo, hi = t0 + 3_600_000_000, t0 + 10 * 3_600_000_000
    # NO cfg passed — the store's pinned layout must still apply
    got = read.read_range(st, lo, hi).count()
    want = series.filter(
        (F.col(TS_COL) >= lo) & (F.col(TS_COL) <= hi)
    ).count()
    assert want > 0 and got == want


def test_apply_retention_pins_store_layout(spark, tmp_path):
    """Regression twin on the DELETE path: apply_retention computed the
    cutoff CHUNK ID from the caller's cfg; with a store chunked hourly
    and the 1-day default the cutoff divides by the wrong duration and
    expires the wrong partitions. The store's pinned duration must
    win (retention horizons stay caller-controlled)."""
    from mtslake.retention import apply_retention

    pages = generate_pages(spark, n_urls=4, snapshots_per_url=24,
                           n_hot=1, hot_factor=4)
    series = pages_to_series(pages)
    dur = 3_600_000_000
    cfg = DEFAULT.with_overrides(chunk_duration_us=dur)
    st = ChunkStore(spark, str(tmp_path / "hourly"))
    st.write_chunks(chunk.compress_series(series, cfg), mode="overwrite",
                    cfg=cfg)
    cids = sorted(r[0] for r in st.chunks().select("chunk_id")
                  .distinct().collect())
    # choose now so the first two hourly partitions are past the raw
    # horizon UNDER THE PINNED DURATION
    now_us = (cids[2] * dur) + DEFAULT.retention_us["raw"]
    plan = apply_retention(st, now_us, dry_run=True)
    assert plan["raw_partitions"] == [c for c in cids if c < cids[2]]


def test_decode_flush_bound_splits_batches_bit_exact(spark, store,
                                                     monkeypatch):
    """The decode kernel flushes an output batch every
    _DECODE_FLUSH_POINTS decoded points (Arrow var-size arrays carry
    int32 offsets — one unbounded concatenation would overflow them
    silently on large inputs). Force a tiny flush bound and assert the
    multi-batch output is bit-identical."""
    _, series = store
    monkeypatch.setattr(chunk, "_DECODE_FLUSH_POINTS", 97)
    decoded = chunk.decompress_chunks(
        chunk.compress_series(series, DEFAULT), verify=True
    )
    assert _canon(decoded) == _canon(series)


def test_read_range_unknown_column_raises(store):
    st, _ = store
    with pytest.raises(ValueError, match="unknown channel"):
        read.read_range(st, columns=["vlaue"])


def test_write_chunks_custom_spec_catalogs_custom_stats(spark, tmp_path):
    """Channel genericity must reach the CATALOG layer: a store written
    from a custom ChannelSpec catalogs that spec's min/max stat
    columns (write_chunks previously selected the default spec's
    hardcoded stat names and failed on custom chunks)."""
    import numpy as np

    from mtslake.chunk import ChannelSpec, compress_series

    spec = (ChannelSpec("temp", "float32"), ChannelSpec("hum", "int16"))
    rng = np.random.default_rng(5)
    rows = [(
        f"https://s{i % 3}.example.com/x", "en",
        int(rng.integers(0, 2)) * 86_400_000_000
        + int(rng.integers(0, 86_400_000_000)),
        float(np.float32(rng.normal() * 30)),
        int(rng.integers(-300, 300)),
    ) for i in range(500)]
    series = spark.createDataFrame(
        rows, "url string, lang string, ts_us long, temp float, hum short")
    st = ChunkStore(spark, str(tmp_path / "custom"))
    st.write_chunks(compress_series(series, DEFAULT, channels=spec),
                    mode="overwrite")
    cat_cols = set(st.catalog().columns)
    assert {"temp_min", "temp_max", "hum_min", "hum_max"} <= cat_cols
    assert "value_min" not in cat_cols
