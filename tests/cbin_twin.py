"""Independent twin of the mtscomp ``.cbin``/``.ch`` format, written
from the format description in SURVEY.md §1 with plain ``zlib`` and
NumPy only (no ``mtslake`` code), so the interop tests keep checking
our reader and writer against a second implementation on hosts where
the reference package is not installed.

Format, as compressed by ``compress``:

* ``chunk_bounds``: sample bounds ``[0, cs, 2·cs, …, n_samples]`` with
  ``cs = round(chunk_duration · sample_rate)``; the ragged tail is kept.
* each chunk ``data[b_i:b_{i+1}]`` is time-differenced along axis 0
  (row 0 kept as the anchor), laid out in Fortran order and
  ``zlib``-compressed at level -1; the streams are concatenated into
  the ``.cbin``.
* ``chunk_offsets``: running byte offsets of the streams (``[0, …,
  file size]``).
* ``sha1_compressed`` / ``sha1_uncompressed``: running SHA1s over the
  compressed streams and over the raw C-order chunk bytes (so the
  latter equals the SHA1 of the raw input file).
* the ``.ch`` sidecar is JSON holding those fields plus ``version``,
  ``algorithm``, ``comp_level``, ``do_time_diff``, ``do_spatial_diff``,
  ``dtype``, ``n_channels``, ``sample_rate`` and ``shape``.

Decompression inverts it: locate chunks by binary search on
``chunk_bounds``, read the byte range, inflate, reshape in
``chunk_order`` and cumulative-sum along time. Spatial differencing
(``do_spatial_diff``, off by default in the format) is not
implemented.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import zlib

import numpy as np


def _chunk_bounds(n_samples: int, chunk_size: int) -> list[int]:
    if n_samples <= 0 or chunk_size <= 0:
        raise ValueError("need n_samples > 0 and chunk_size > 0")
    bounds = list(range(0, n_samples, chunk_size))
    return bounds + [n_samples]


def compress(
    path: str,
    out: str,
    outmeta: str,
    sample_rate: float,
    n_channels: int,
    dtype,
    chunk_duration: float = 1.0,
    n_threads=None,
    check_after_compress: bool = True,
) -> float:
    """Compress a flat ``(n_samples, n_channels)`` binary file into
    ``out`` (.cbin) + ``outmeta`` (.ch); returns the compression ratio.
    ``n_threads`` is accepted for call compatibility: chunks are
    independent, so the output does not depend on it."""
    dtype = np.dtype(dtype)
    data = np.fromfile(path, dtype=dtype)
    if data.size % n_channels:
        raise ValueError("file size is not a multiple of the row size")
    data = data.reshape(-1, n_channels)
    bounds = _chunk_bounds(data.shape[0],
                           int(round(chunk_duration * sample_rate)))
    sha_c, sha_u = hashlib.sha1(), hashlib.sha1()
    offsets = [0]
    with open(out, "wb") as f:
        for b0, b1 in zip(bounds[:-1], bounds[1:]):
            chunk = data[b0:b1]
            diffed = np.concatenate([chunk[:1], np.diff(chunk, axis=0)])
            comp = zlib.compress(diffed.tobytes(order="F"), -1)
            f.write(comp)
            sha_c.update(comp)
            sha_u.update(np.ascontiguousarray(chunk).tobytes())
            offsets.append(offsets[-1] + len(comp))
    meta = {
        "version": "1.0",
        "algorithm": "zlib",
        "comp_level": -1,
        "do_time_diff": True,
        "do_spatial_diff": False,
        "dtype": str(dtype),
        "n_channels": int(n_channels),
        "sample_rate": float(sample_rate),
        "chunk_bounds": bounds,
        "chunk_offsets": offsets,
        "chunk_order": "F",
        "sha1_compressed": sha_c.hexdigest(),
        "sha1_uncompressed": sha_u.hexdigest(),
        "shape": list(data.shape),
    }
    with open(outmeta, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    if check_after_compress:
        got = decompress(out, outmeta)[:]
        same = (np.allclose(got, data, atol=1e-16) if dtype.kind == "f"
                else np.array_equal(got, data))
        if not same:
            raise RuntimeError("decompressed data differs from the input")
    return offsets[-1] / max(data.nbytes, 1)


class Reader:
    """Chunk-indexed random access to a ``.cbin``: slicing decodes only
    the chunks that overlap the requested sample range."""

    def __init__(self, cdata: str, cmeta: str):
        with open(cmeta) as f:
            meta = json.load(f)
        self.cdata = cdata
        self.dtype = np.dtype(meta["dtype"])
        self.n_channels = int(meta["n_channels"])
        self.chunk_bounds = [int(b) for b in meta["chunk_bounds"]]
        self.chunk_offsets = [int(o) for o in meta["chunk_offsets"]]
        self.chunk_order = meta.get("chunk_order", "F")
        self.do_time_diff = bool(meta.get("do_time_diff", True))
        if meta.get("do_spatial_diff"):
            raise NotImplementedError("spatial differencing")
        self.shape = (self.chunk_bounds[-1], self.n_channels)

    def read_chunk(self, i: int) -> np.ndarray:
        with open(self.cdata, "rb") as f:
            f.seek(self.chunk_offsets[i])
            raw = f.read(self.chunk_offsets[i + 1] - self.chunk_offsets[i])
        n = self.chunk_bounds[i + 1] - self.chunk_bounds[i]
        chunk = np.frombuffer(zlib.decompress(raw), dtype=self.dtype)
        chunk = chunk.reshape((n, self.n_channels), order=self.chunk_order)
        if self.do_time_diff:
            chunk = np.cumsum(chunk, axis=0, dtype=self.dtype)
        return np.ascontiguousarray(chunk)

    def __getitem__(self, rows: slice) -> np.ndarray:
        """Sample-range slice (``r[:]``, ``r[i0:i1]``), every channel."""
        i0, i1, _ = rows.indices(self.shape[0])
        if i1 <= i0:
            return np.empty((0, self.n_channels), self.dtype)
        first = bisect.bisect_right(self.chunk_bounds, i0) - 1
        last = bisect.bisect_left(self.chunk_bounds, i1)
        block = np.concatenate(
            [self.read_chunk(i) for i in range(first, last)], axis=0
        )
        base = self.chunk_bounds[first]
        return block[i0 - base:i1 - base]


def decompress(cdata: str, cmeta: str) -> Reader:
    return Reader(cdata, cmeta)
