"""Reference-format interop: distributed .cbin/.ch read + write, raw
binary scan, npy scan — cross-checked against the reference itself
when it imports, else against the independent format twin
(tests/cbin_twin.py), so every assertion runs on every host."""

import sys
import types

import numpy as np
import pytest
from pyspark.sql import functions as F

from mtslake import sources


def _ref():
    if "tqdm" not in sys.modules:
        t = types.ModuleType("tqdm")
        t.tqdm = lambda it=None, **k: it
        sys.modules["tqdm"] = t
    sys.path.insert(0, "/root/reference")
    try:
        import mtscomp
    except ImportError:
        import cbin_twin as mtscomp

    return mtscomp


RNG = np.random.default_rng(3)


def _collect_matrix(df, n, c):
    rows = df.orderBy("sample", "channel").collect()
    return np.array([r["value"] for r in rows]).reshape(n, c)


def test_read_cbin_decodes_reference_file(spark, tmp_path):
    """Our distributed reader must decode a file the REFERENCE wrote."""
    mts = _ref()
    arr = RNG.integers(-5000, 5000, (4321, 5)).astype(np.int16)
    p = str(tmp_path / "x.bin")
    arr.tofile(p)
    mts.compress(p, p + ".cbin", p + ".ch", sample_rate=1000.0,
                 n_channels=5, dtype=np.int16, n_threads=2)
    got = sources.read_cbin(spark, p + ".cbin", p + ".ch")
    assert got.count() == arr.size
    mat = _collect_matrix(got, *arr.shape)
    assert np.array_equal(mat.astype(np.int16), arr)


def test_write_cbin_readable_by_reference(spark, tmp_path):
    """The REFERENCE must decode a file OUR sink wrote (byte-level
    format compatibility, incl. the sha1 ledger)."""
    mts = _ref()
    arr = RNG.integers(-999, 999, (2500, 3)).astype(np.int16)
    df = spark.createDataFrame(
        [
            (int(s), int(c), float(arr[s, c]))
            for s in range(arr.shape[0]) for c in range(arr.shape[1])
        ],
        "sample long, channel int, value double",
    )
    cb, ch = str(tmp_path / "o.cbin"), str(tmp_path / "o.ch")
    meta = sources.write_cbin(df, cb, ch, sample_rate=1000.0, dtype="int16")
    assert meta["chunk_bounds"][-1] == arr.shape[0]
    r = mts.decompress(cb, ch)
    assert np.array_equal(r[:], arr)
    # reference's own integrity check path also passes
    assert r.shape == arr.shape


def test_write_cbin_byte_identical_to_reference_compress(spark, tmp_path):
    """Determinism parity (≙ chop sha1-identity, tests.py:451-492): for
    the same input and params, our .cbin bytes EQUAL the reference's."""
    import hashlib

    mts = _ref()
    arr = RNG.integers(-100, 100, (3000, 2)).astype(np.int16)
    p = str(tmp_path / "r.bin")
    arr.tofile(p)
    mts.compress(p, p + ".cbin", p + ".ch", sample_rate=1000.0,
                 n_channels=2, dtype=np.int16, n_threads=1)
    df = spark.createDataFrame(
        [
            (int(s), int(c), float(arr[s, c]))
            for s in range(arr.shape[0]) for c in range(arr.shape[1])
        ],
        "sample long, channel int, value double",
    )
    cb, ch = str(tmp_path / "ours.cbin"), str(tmp_path / "ours.ch")
    meta = sources.write_cbin(df, cb, ch, sample_rate=1000.0, dtype="int16")
    ref_bytes = open(p + ".cbin", "rb").read()
    our_bytes = open(cb, "rb").read()
    assert hashlib.sha1(ref_bytes).hexdigest() == hashlib.sha1(our_bytes).hexdigest()
    ref_meta = sources.read_ch_meta(p + ".ch")
    assert meta["sha1_compressed"] == ref_meta["sha1_compressed"]
    assert meta["sha1_uncompressed"] == ref_meta["sha1_uncompressed"]
    assert meta["chunk_bounds"] == ref_meta["chunk_bounds"]
    assert meta["chunk_offsets"] == ref_meta["chunk_offsets"]


def test_read_raw_bin(spark, tmp_path):
    arr = RNG.integers(0, 60000, (5000, 4)).astype(np.uint16)
    p = str(tmp_path / "raw.bin")
    arr.tofile(p)
    got = sources.read_raw_bin(spark, p, n_channels=4, dtype="uint16",
                               samples_per_split=1024)
    assert got.count() == arr.size
    mat = _collect_matrix(got, *arr.shape)
    assert np.array_equal(mat.astype(np.uint16), arr)


def test_read_raw_bin_rejects_bad_size(spark, tmp_path):
    p = str(tmp_path / "bad.bin")
    with open(p, "wb") as f:
        f.write(b"\x00" * 7)  # not a multiple of the row size
    with pytest.raises(ValueError, match="multiple"):
        sources.read_raw_bin(spark, p, n_channels=2, dtype="int16")


def test_read_npy_3d_flattened(spark, tmp_path):
    arr = RNG.normal(size=(100, 4, 3))
    p = str(tmp_path / "a.npy")
    np.save(p, arr)
    got = sources.read_npy(spark, p)
    assert got.count() == arr.size
    assert got.agg(F.max("channel")).first()[0] == 11  # 4*3 flattened


def test_full_pipeline_from_reference_file(spark, tmp_path):
    """reference .cbin → our engine: read, re-compress with OUR codec,
    round-trip, and match the original matrix."""
    from mtslake import chunk as ch_mod
    from mtslake.config import DEFAULT
    from mtslake.series import TS_COL

    mts = _ref()
    arr = RNG.integers(-5000, 5000, (3000, 3)).astype(np.int16)
    p = str(tmp_path / "z.bin")
    arr.tofile(p)
    mts.compress(p, p + ".cbin", p + ".ch", sample_rate=1000.0,
                 n_channels=3, dtype=np.int16, n_threads=2)
    melted = sources.read_cbin(spark, p + ".cbin", p + ".ch")
    series = sources.matrix_to_series(melted, "file://z.bin", 1000.0)
    decoded = ch_mod.decompress_chunks(
        ch_mod.compress_series(series, DEFAULT), verify=True
    )
    got = (
        decoded.withColumn("channel",
                           F.split("url", "#ch").getItem(1).cast("int"))
        .withColumn("sample",
                    (F.col(TS_COL) / F.lit(1000.0)).cast("long"))
        .orderBy("sample", "channel")
        .select("value")
        .collect()
    )
    mat = np.array([r["value"] for r in got]).reshape(arr.shape)
    assert np.array_equal(mat.astype(np.int16), arr)


def test_write_cbin_rejects_non_dense_samples(spark, tmp_path):
    """Regression: chunk_bounds assume zero-based gap-free samples; a
    non-zero-based input used to write a CORRUPT .ch (bounds [0, max+1]
    against a shorter payload) that only failed at read time. The
    writer must reject it loudly instead."""
    df = spark.createDataFrame(
        [(int(s), 0, float(s)) for s in range(100, 200)],
        "sample long, channel int, value double",
    )
    with pytest.raises(ValueError, match="dense zero-based"):
        sources.write_cbin(df, str(tmp_path / "x.cbin"),
                           str(tmp_path / "x.ch"),
                           sample_rate=100.0, dtype="int16")
