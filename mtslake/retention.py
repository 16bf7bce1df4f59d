"""Tiered retention: raw → 1h → 1d (north_rule), as metadata-only
partition drops.

The chunks table is partitioned by ``chunk_id`` (a time bucket), so
expiring raw data = dropping whole partition directories — no payload
is ever read or rewritten. This is the distributed generalization of the
reference's ``chop`` (mtscomp.py:750-796), which truncates a prefix of
compressed chunks by byte-copy without decoding; both rely on chunks
being immutable and independently addressable.

Idempotent by construction: a second run finds nothing left to drop
(≙ chop determinism, tests.py:451-492). With a real Iceberg catalog this
becomes ``expire_snapshots`` / ``DELETE WHERE`` on partition predicates.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import functions as F

from .catalog import ChunkStore
from .config import EngineConfig, DEFAULT

def _list_partitions(root: str, key: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    pat = re.compile("^" + re.escape(key) + r"=(-?\d+)$")
    out = []
    for d in os.listdir(root):
        m = pat.match(d)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def list_chunk_partitions(store: ChunkStore) -> list[int]:
    return _list_partitions(store.path("chunks"), "chunk_id")


def drop_chunk_partitions(store: ChunkStore, chunk_ids: list[int]) -> int:
    """Metadata-only drop of whole chunk_id partitions.

    The catalog is partitioned by chunk_id in lockstep with the chunks
    table (catalog.write_chunks), so expiring a chunk also expires its
    catalog rows by directory drop — O(dropped), never a catalog
    rebuild (which would rescan the whole chunks table). The refresh is
    gated on EITHER side having been removed: a catalog-only drop (e.g.
    healing an orphan left by a crash between the two rmtrees of an
    earlier run) must still invalidate Spark's FileStatusCache."""
    dropped = 0
    removed_any = False
    for cid in chunk_ids:
        p = os.path.join(store.path("chunks"), f"chunk_id={cid}")
        if os.path.isdir(p):
            shutil.rmtree(p)
            dropped += 1
            removed_any = True
        cp = os.path.join(store.path("catalog"), f"chunk_id={cid}")
        if os.path.isdir(cp):
            shutil.rmtree(cp)
            removed_any = True
    if removed_any:
        # Spark's global FileStatusCache still lists the deleted files;
        # refresh so later scans of the path re-list
        store.spark.catalog.refreshByPath(store.path("chunks"))
        store.spark.catalog.refreshByPath(store.path("catalog"))
    return dropped


def apply_retention(
    store: ChunkStore, now_us: int, cfg: EngineConfig = DEFAULT,
    dry_run: bool = False,
) -> dict:
    """Expire raw chunks past the raw horizon and rollup partitions past
    their tier horizons. Safe to re-run (idempotent no-op).

    ``dry_run=True`` returns the full doomed-partition plan —
    ``raw_partitions`` / ``{tier}_partitions`` lists plus the same
    counts a real run would report — without deleting anything: the
    operational look-before-you-leap the reference's ``mtschop``
    overwrite prompt (mtscomp.py:1170-1174) gestures at, made queryable.

    Tier retention is **partition-granular** (like the raw tier): a
    rollup partition is dropped only once its entire span is past the
    horizon, so rows linger at most one ``ROLLUP_PART_US[tier]`` beyond
    it — the price of making retention a metadata-only directory drop
    instead of a full tier rewrite (at 100 TB a nightly retention run
    must not rewrite every surviving row). The expired-row count scans
    only the doomed partitions (partition-pruned), never the survivors.
    """
    from .rollup import ROLLUP_PART_US

    # pin the store's layout fields over the caller's base config: the
    # cutoff CHUNK ID divides by chunk_duration_us, and a duration that
    # differs from the store's layout would expire the wrong partitions
    # — on a DELETE path (the read-side twin of read_range's pinning)
    cfg = store.cfg_for_store(cfg)
    stats: dict = {"dry_run": dry_run}
    cutoff_chunk = (now_us - cfg.retention_us["raw"]) // cfg.chunk_duration_us
    # union of chunk AND catalog partitions: a crash between the two
    # rmtrees of a previous run can leave a catalog-only orphan, which
    # must still be expired (it would otherwise overcount forever)
    known = set(list_chunk_partitions(store)) | set(
        _list_partitions(store.path("catalog"), "chunk_id")
    )
    expired = sorted(c for c in known if c < cutoff_chunk)
    stats["raw_partitions"] = expired
    if dry_run:
        # count only partitions that exist on the CHUNKS side — the
        # number drop_chunk_partitions would report
        stats["raw_partitions_dropped"] = sum(
            os.path.isdir(os.path.join(store.path("chunks"),
                                       f"chunk_id={c}"))
            for c in expired
        )
    else:
        stats["raw_partitions_dropped"] = drop_chunk_partitions(store, expired)

    for tier in cfg.tiers:
        name = f"rollup_{tier}"
        stats[f"{tier}_partitions"] = []
        stats[f"{tier}_partitions_dropped"] = 0
        stats[f"{tier}_rows_expired"] = 0
        if not store.has(name):
            continue
        part_us = ROLLUP_PART_US[tier]
        horizon = cfg.retention_us.get(tier)
        if horizon is None:
            # defensive twin of with_overrides' retention_us merge: a
            # missing tier horizon skips that tier — it must never
            # KeyError mid-run with raw partitions already dropped
            continue
        cutoff_ts = now_us - horizon
        doomed = [
            p for p in _list_partitions(store.path(name), "part_id")
            if (p + 1) * part_us <= cutoff_ts
        ]
        if not doomed:
            continue
        stats[f"{tier}_partitions"] = doomed
        # one count over ONLY the partitions being dropped (pruned scan)
        stats[f"{tier}_rows_expired"] = (
            store.table(name)
            .filter(F.col("part_id").isin(doomed)).count()
        )
        stats[f"{tier}_partitions_dropped"] = len(doomed)
        if dry_run:
            continue
        for p in doomed:
            shutil.rmtree(os.path.join(store.path(name), f"part_id={p}"))
        store.spark.catalog.refreshByPath(store.path(name))
    return stats


def chop(store: ChunkStore, keep_chunks_before: int) -> int:
    """Suffix truncation without decode (≙ Reader.chop keeping the
    first n chunks, mtscomp.py:750-796): drop every chunk_id partition
    >= the cutoff. Payload bytes of surviving chunks are untouched —
    the analogue of chop's SHA1-identity property (tests.py:451-492)."""
    known = set(list_chunk_partitions(store)) | set(
        _list_partitions(store.path("catalog"), "chunk_id")
    )
    doomed = sorted(c for c in known if c >= keep_chunks_before)
    return drop_chunk_partitions(store, doomed)
