"""Chunk compaction — the lakehouse maintenance operator (Iceberg's
``rewrite_data_files`` analogue) the reference never needs because its
file layout is written once, in order.

Two processes fragment a chunk into several payload rows:

* hot-chunk segmentation (``hot_chunk_points`` bounds encoder/state
  memory — chunk.py, streaming.py), and
* streaming sealing of a chunk whose rows arrived across micro-batches
  out of order (each flush is its own segment row).

Reads are correct either way (chunk rows are independently decodable),
but fragmented chunks cost extra per-row codec headers, weaker
compression (smaller payloads), and more rows to scan. ``compact``
re-encodes fragmented chunks into the canonical batch layout —
decode → sort → encode under the store's pinned config — touching ONLY
the chunk_id partitions that contain fragmentation, via dynamic
partition overwrite (O(fragmented partitions), never O(table)).

Round-trip safety: compaction is decode → re-encode with the bit-exact
codec, so the decoded point set is unchanged (tested); the post-compact
rows equal what ``compress_series`` would produce from scratch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .catalog import ChunkStore, _catalog_cols, chunk_write_options
from .chunk import compress_series, decompress_chunks
from .ckpt import eager_checkpoint, release as release_ckpt
from .config import EngineConfig, DEFAULT


def id_range_predicate(col: str, ids: list[int]) -> F.Column:
    """Membership predicate for a sorted id list, as an OR of
    ``BETWEEN`` range filters over contiguous runs.

    Maintenance jobs (compact, refresh_tiers) select the partitions
    they touch by an id list collected on the driver. Replaying that
    list as ``isin`` literals is O(ids) expression size — fine at
    nightly-ingest cardinalities, but a full-history compaction after a
    config change would build a million-term predicate. Partition ids
    are time buckets, so affected sets are overwhelmingly contiguous
    runs: collapsing them makes the predicate O(runs), and each range
    still drives directory-level partition pruning (plan-asserted in
    tests/test_plans.py)."""
    ids = sorted({int(i) for i in ids})
    if not ids:
        return F.lit(False)
    runs: list[tuple[int, int]] = []
    lo = prev = ids[0]
    for i in ids[1:]:
        if i == prev + 1:
            prev = i
            continue
        runs.append((lo, prev))
        lo = prev = i
    runs.append((lo, prev))
    c = F.col(col)
    terms = [
        (c == lo) if lo == hi else c.between(lo, hi) for lo, hi in runs
    ]
    # balanced OR: a left-chained fold is O(runs) deep and overflows
    # Catalyst's recursive converters past a few hundred terms
    while len(terms) > 1:
        terms = [
            terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def fragmented_chunk_ids(store: ChunkStore,
                         max_points: int | None = None) -> list[int]:
    """chunk_id partitions containing any non-canonical (url, chunk_id)
    layout. Canonical (what the encoder emits) = full ``max_points``
    segments plus AT MOST ONE remainder row — so a chunk is fragmented
    when it has two or more partial rows (streaming flush fragments
    that a rewrite would merge), or any row EXCEEDING ``max_points``
    (sealed under an older, larger layout; a rewrite re-segments it).
    The test is per-row, not ``max(n_points) < max_points``: that
    older form exempted any chunk whose largest row happened to be a
    full segment, leaving its flush fragments unmergeable forever.
    Catalog-only scan; never touches payloads."""
    agg = store.catalog().groupBy("url", "chunk_id")
    if max_points:
        frag = agg.agg(
            F.count("*").alias("_n"),
            F.count(F.when(F.col("n_points") != max_points, 1))
            .alias("_npart"),
            F.max("n_points").alias("_mx"),
        ).filter(
            ((F.col("_n") > 1) & (F.col("_npart") > 1))
            | (F.col("_mx") > max_points)
        )
    else:
        frag = agg.agg(F.count("*").alias("_n")).filter(F.col("_n") > 1)
    return sorted(
        r[0] for r in frag.select("chunk_id").distinct().collect()
    )


def compact(
    store: ChunkStore,
    cfg: EngineConfig | None = None,
    chunk_ids: list[int] | None = None,
) -> dict:
    """Re-encode fragmented chunks into the canonical layout.

    Returns {"chunk_ids": [...], "rows_before": n, "rows_after": m}.
    Idempotent: a second run finds nothing fragmented.
    """
    cfg = store.cfg_for_store(cfg if cfg is not None else DEFAULT)
    if chunk_ids is None:
        chunk_ids = fragmented_chunk_ids(store, cfg.hot_chunk_points)
    if not chunk_ids:
        return {"chunk_ids": [], "rows_before": 0, "rows_after": 0}

    ids = [int(c) for c in chunk_ids]
    affected = store.chunks().filter(id_range_predicate("chunk_id", ids))
    rows_before = affected.count()
    series = decompress_chunks(affected)
    # SEVER the lineage before the destructive write: the rewrite's
    # input is the very partitions the dynamic overwrite replaces, and
    # a cache (persist) can be evicted or lost mid-write, making Spark
    # recompute from the partially-overwritten source — duplicated or
    # lost chunk rows. localCheckpoint materializes the rewrite to
    # executor-local blocks with NO recompute path (the same pattern
    # cluster_pairs uses for its frontier).
    rewritten = eager_checkpoint(compress_series(series, cfg))
    try:
        rows_after = rewritten.count()
        # dynamic overwrite scoped to this write: replaces exactly the
        # affected chunk_id partitions in BOTH tables
        rewritten.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).options(**chunk_write_options(rewritten)).partitionBy(
            "chunk_id"
        ).parquet(store.path("chunks"))
        rewritten.select(*_catalog_cols(rewritten)).coalesce(1).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "chunk_id"
        ).parquet(store.path("catalog"))
        store.spark.catalog.refreshByPath(store.path("chunks"))
        store.spark.catalog.refreshByPath(store.path("catalog"))
    finally:
        # free the checkpoint blocks even when a write fails — a
        # compaction daemon retrying transient failures would
        # otherwise pin executor storage per attempt (ckpt.py)
        release_ckpt(rewritten)
    return {
        "chunk_ids": ids,
        "rows_before": rows_before,
        "rows_after": rows_after,
    }
