"""Chunk catalog + store layout (Iceberg-manifest-style, Parquet-backed).

The reference's ``.ch`` sidecar (mtscomp.py:341-358) — chunk_bounds,
chunk_offsets, dtype, sha1s — becomes a **catalog table**: one row per
chunk carrying ``(url, chunk_id, ts_min, ts_max, n_points, nbytes,
sha1)``. The min/max columns play the role of ``chunk_bounds`` for
pruning, exactly like Iceberg manifest column stats; byte offsets
disappear because Parquet row groups are the addressing unit.

No Iceberg runtime jar exists offline (SURVEY §7), so the layout is
plain Parquet with the same semantics; a real Iceberg catalog drops in
behind this class when jars exist. Chunks are **partitioned by
chunk_id** (time bucket): retention then drops whole partitions —
metadata-only deletes, the distributed analogue of the reference's
byte-copy ``chop`` (mtscomp.py:750-796).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType, StructType

from .config import EngineConfig, DEFAULT

CATALOG_COLS = [
    "url", "chunk_id", "lang", "ts_min", "ts_max",
    "n_points", "raw_nbytes", "comp_nbytes",
    "raw_signal_nbytes", "comp_signal_nbytes", "sha1",
    # per-channel value stats (Iceberg-manifest-style column stats):
    # value predicates prune chunks from the catalog alone. These four
    # are the DEFAULT ChannelSpec's stats; the write path derives the
    # actual stat set from the chunk frame (``_catalog_cols``) so a
    # custom channel spec persists without editing the engine.
    "n_chars_min", "n_chars_max", "value_min", "value_max",
]


def _catalog_cols(chunks: DataFrame) -> list:
    """Catalog projection for a chunk frame: the fixed metadata columns
    plus every per-channel ``*_min``/``*_max`` stat column the frame
    actually carries — chunk rows from a CUSTOM ChannelSpec (the
    declared-channel contract, chunk.py module docstring) catalog their
    own stats instead of failing on the default spec's column names."""
    base = CATALOG_COLS[:11]  # the spec-independent metadata columns
    stats = sorted(
        c for c in chunks.columns
        if (c.endswith("_min") or c.endswith("_max"))
        and c not in ("ts_min", "ts_max")
    )
    return base + stats


def chunk_write_options(chunks: DataFrame) -> dict[str, str]:
    """Parquet write options for every chunk-table write: no min/max
    statistics (and so no page index) on the payload columns — every
    binary column of a chunk row is a payload (``p_ts`` and one per
    channel). No reader filters on payload bytes, yet their statistics
    were most of each file's footer (the ``p_sha1`` minimum alone is
    1.8 KB, measured 42.7 → 37.2 B per stored point). Statistics stay
    on ``url``, ``ts_min``/``ts_max`` and the ``*_min``/``*_max`` value
    columns, which ``prune_chunks`` and ``prune_chunks_by_value`` push
    down."""
    return {
        f"parquet.column.statistics.enabled#{f.name}": "false"
        for f in chunks.schema.fields
        if isinstance(f.dataType, BinaryType)
    }


class ChunkStore:
    """Filesystem layout of one engine instance.

    root/
      chunks/        compressed chunk rows, partitioned by chunk_id
      catalog/       per-chunk stats (the .ch analogue)
      rollup_1m|1h|1d/  continuous-aggregate tiers
      lineage/       per-unit metrics rows; a unit's row is its
                     resumable-job done marker

    Tables are read through ``table(name)``, which reuses one opened
    DataFrame per table while the table's files are unchanged.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._tables: dict = {}  # table() key -> (files, DataFrame)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    # -- store-pinned layout config ---------------------------------------

    META_FILE = "_engine_meta.json"

    def write_meta(self, cfg: EngineConfig, overwrite: bool = False) -> None:
        """Pin layout-defining config in the store itself (first write
        wins; ``overwrite=True`` re-pins — used when the data itself is
        replaced). chunk_duration_us DEFINES the chunk_id partition
        layout: sourcing it from a mutable site file would let a later
        ``--set-default`` silently mis-prune every chunk_id filter
        against data written under the old duration."""
        p = os.path.join(self.root, self.META_FILE)
        if os.path.exists(p) and not overwrite:
            return
        os.makedirs(self.root, exist_ok=True)
        with open(p, "w") as f:
            json.dump({"chunk_duration_us": cfg.chunk_duration_us}, f)

    def _pin_or_validate_meta(self, cfg: EngineConfig | None,
                              mode: str) -> None:
        """Guard the pinned layout on every write:

        * overwrite replaces ALL data → the pin is re-written too (a
          stale pin would mis-prune every later read against the new
          layout);
        * append with an explicit cfg that CONFLICTS with the pin is the
          mixed-layout corruption the class docstring warns about —
          hard error, never silent;
        * append with cfg omitted trusts the pin (nothing to validate
          against; the chunk rows themselves don't carry the duration).
        """
        if mode == "overwrite":
            self.write_meta(cfg if cfg is not None else DEFAULT,
                            overwrite=True)
            return
        pinned = self.load_meta()
        if not pinned:
            self.write_meta(cfg if cfg is not None else DEFAULT)
        elif (cfg is not None
              and cfg.chunk_duration_us != pinned["chunk_duration_us"]):
            raise ValueError(
                f"append with chunk_duration_us={cfg.chunk_duration_us} "
                f"conflicts with the store's pinned layout "
                f"{pinned['chunk_duration_us']}: chunks compressed under "
                "a different duration would corrupt chunk_id pruning. "
                "Use a new store, or mode='overwrite' to replace the "
                "layout wholesale."
            )

    def load_meta(self) -> dict:
        p = os.path.join(self.root, self.META_FILE)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def cfg_for_store(self, base: EngineConfig = DEFAULT) -> EngineConfig:
        """base config with the store's pinned layout fields forced —
        always use this for read/prune/retention paths against an
        existing store."""
        return base.with_overrides(**self.load_meta())

    # -- write ------------------------------------------------------------

    def write_chunks(self, chunks: DataFrame, mode: str = "append",
                     cfg: EngineConfig | None = None) -> None:
        """Persist chunk rows + derive the catalog (≙ Writer.write's
        ordered sink + .ch dump, mtscomp.py:425-507 — here two writes,
        ordering by keys).

        Rows are clustered on (chunk_id, url-bucket) before the
        partitioned write so each chunk_id directory gets a bounded
        number of well-sized files instead of one sliver per shuffle
        task (small-file storm at scale); the url bucket keeps a single
        hot day from serializing through one task.

        Catalog maintenance is **incremental**: catalog rows are derived
        from the incoming batch (cached once — the encode lineage runs
        exactly once, never twice) and appended to a catalog that is
        itself partitioned by chunk_id. An append therefore does O(batch)
        work — it never re-reads or rewrites pre-existing chunk or
        catalog partitions (at 100 TB a nightly ingest must not rescan
        all history).

        Crash window: the two writes are not one transaction (plain
        Parquet has no snapshot commit — with an Iceberg catalog this
        becomes atomic), so a failure between them leaves the catalog
        missing the batch, and retrying a plain append duplicates it.
        ``jobs/verify.py`` detects the divergence (row-count check) and
        ``rebuild_catalog`` repairs it; the resumable compress path
        (lineage.py) avoids the window entirely via per-unit dynamic
        partition overwrite of BOTH tables."""
        self._pin_or_validate_meta(cfg, mode)
        clustered = chunks.repartition(
            F.col("chunk_id"), F.pmod(F.xxhash64("url"), F.lit(16))
        )
        # The chunks table is written WITHOUT a parquet compression
        # codec: its bytes are dominated by the p_* payload columns,
        # which the chunk codec already entropy-coded — snappy re-chews
        # them for ~5% file size (measured 485 → 509 MB at sf0.1) while
        # costing ~25-30% of the write wall and a decompress on every
        # read. Parquet dictionary/RLE encoding of the url/stat columns
        # is independent of the codec and still applies. The catalog
        # (tiny, metadata-only, compresses well) keeps the default.
        # deploy knob (env, default uncompressed — see comment above):
        # a store on costlier storage can flip the container codec back
        chunks_codec = os.environ.get("MTSLAKE_CHUNKS_CODEC",
                                      "uncompressed")
        if mode == "overwrite":
            # overwrite replaces the whole table, so the catalog can be
            # re-derived from the parquet just written: the encode
            # lineage still runs exactly once (for the chunk write),
            # and the catalog pass is a payload-pruned column scan of
            # the finished files — Parquet never reads the p_* payload
            # columns. This drops the persist() the append path needs:
            # caching a batch of compressed payload rows costs a full
            # extra memcpy of the payload bytes purely to keep the
            # second (tiny) projection from re-encoding.
            clustered.write.mode(mode).option(
                "compression", chunks_codec
            ).options(**chunk_write_options(clustered)).partitionBy(
                "chunk_id"
            ).parquet(self.path("chunks"))
            self.spark.catalog.refreshByPath(self.path("chunks"))
            # the schema just written: the read-back runs no inference
            src = self.table("chunks", schema=clustered.schema)
        else:
            # append cannot re-derive from a read-back (it would see
            # pre-existing rows too) — cache the batch so the encode
            # lineage runs once across the two writes
            src = clustered.persist()
            src.write.mode(mode).option(
                "compression", chunks_codec
            ).options(**chunk_write_options(src)).partitionBy(
                "chunk_id"
            ).parquet(self.path("chunks"))
        try:
            # catalog rows are tiny (one per chunk): funnel to one task
            # per write so each batch adds O(1) files per touched
            # partition, not one sliver per shuffle task.
            # repartition(1), NOT coalesce(1): coalesce folds the
            # single-task boundary INTO the scan, so one task reads
            # every split serially; repartition keeps the (pruned,
            # payload-free) scan parallel and ships only the tiny
            # catalog rows to the writer (measured 1.7 -> 1.2 s at
            # sf0.1)
            cat = src.select(*_catalog_cols(src)).repartition(1)
            cat.write.mode(mode).partitionBy("chunk_id").parquet(
                self.path("catalog")
            )
        finally:
            if mode != "overwrite":
                src.unpersist()

    def rebuild_catalog(self) -> None:
        """Repair tool: re-derive the whole catalog from the chunks
        table (O(table) — not part of the ingest path)."""
        chunks = self.chunks()
        cat = chunks.select(*_catalog_cols(chunks))
        cat.write.mode("overwrite").partitionBy("chunk_id").parquet(
            self.path("catalog")
        )
        self.spark.catalog.refreshByPath(self.path("catalog"))

    # -- read -------------------------------------------------------------

    def _listing(self, name: str) -> frozenset:
        """(relative path, size, mtime_ns) of every file Spark would
        read under the table: ``_``/``.`` names are skipped, as Spark's
        own listing skips them (``_SUCCESS``, ``.crc``, ``_temporary``)."""
        root = self.path(name)
        out = []
        for dirpath, dirs, files in os.walk(root):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:  # removed while walking
                    continue
                out.append((os.path.relpath(p, root), st.st_size,
                            st.st_mtime_ns))
        return frozenset(out)

    def table(self, name: str, schema: StructType | str | None = None,
              **options: str) -> DataFrame:
        """The store table ``name`` as a DataFrame, read with the given
        Parquet ``options``, opened once and reused while its files are
        unchanged.

        ``schema`` is a schema the caller already knows (a writer's
        read-back of what it just wrote): Spark then opens the table
        without a schema-inference job. Without it Spark infers the
        schema from the files, so a table rewritten with other columns
        reopens with them.

        Opening a partitioned table costs Spark a listing job (past 32
        partition directories the listing itself runs as a job) and a
        schema-inference job; a dashboard read pays both before any
        data moves. The handle keeps the opened plan and its file
        listing, and a driver-side walk checks on every call that the
        same files (relative path, size, mtime_ns) are still there. Any
        difference — an append, a dropped partition, a file rewritten
        in place — reopens through Spark, so a reader never scans a
        stale file set. Nothing is cached but the plan; the walk is
        O(files) like Spark's own listing, but runs no Spark job."""
        skey = schema.json() if isinstance(schema, StructType) else schema
        key = (name, skey, tuple(sorted(options.items())))
        files = self._listing(name)
        hit = self._tables.get(key)
        if hit is not None and hit[0] == files:
            return hit[1]
        reader = self.spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(self.path(name))
        self._tables[key] = (files, df)
        return df

    def chunks(self) -> DataFrame:
        return self.table("chunks")

    def catalog(self) -> DataFrame:
        return self.table("catalog")

    def has(self, name: str) -> bool:
        p = self.path(name)
        return os.path.exists(p) and any(
            f.endswith(".parquet") or f.startswith("part-")
            for _, _, fs in os.walk(p) for f in fs
        )

    # -- snapshots / time travel ------------------------------------------
    #
    # Iceberg-style snapshot isolation over the plain-Parquet layout:
    # a snapshot is a JSON manifest in ``snapshots/`` pinning the exact
    # set of data files that made up chunks/ + catalog/ at commit time
    # (≙ Iceberg's manifest list; the .ch offset table frozen per
    # version, mtscomp.py:341-358). Appends add files and never rewrite
    # old ones (write_chunks), so an old manifest keeps reading the old
    # table state byte-for-byte. With a real Iceberg catalog this whole
    # section is the `snapshots` metadata table + VERSION AS OF; the
    # manifest walk here is O(files) per commit where Iceberg's is
    # O(delta) — fine for the sandbox, swapped out with the runtime jar.
    #
    # Retention/chop physically drops partitions, which expires any
    # snapshot referencing them — exactly Iceberg's expire-snapshots
    # contract; `snapshot_status` reports which manifests are whole.

    SNAP_DIR = "snapshots"

    def _data_files(self, name: str) -> list[str]:
        """Sorted relative paths of the table's current data files."""
        return sorted(rel for rel, _, _ in self._listing(name))

    def commit_snapshot(self, operation: str = "append") -> int:
        """Freeze the current table state as snapshot N (monotonic)."""
        snap_root = self.path(self.SNAP_DIR)
        os.makedirs(snap_root, exist_ok=True)
        sid = max(self.snapshot_ids(), default=0) + 1
        manifest = {
            "snapshot_id": sid,
            "operation": operation,
            "files": {
                "chunks": self._data_files("chunks"),
                "catalog": self._data_files("catalog"),
            },
        }
        tmp = os.path.join(snap_root, f".v{sid}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        # atomic publish: readers never observe a half-written manifest
        os.replace(tmp, os.path.join(snap_root, f"v{sid}.json"))
        return sid

    def snapshot_ids(self) -> list[int]:
        snap_root = self.path(self.SNAP_DIR)
        if not os.path.isdir(snap_root):
            return []
        return sorted(
            int(f[1:-5]) for f in os.listdir(snap_root)
            if f.startswith("v") and f.endswith(".json")
        )

    def _manifest(self, snapshot_id: int) -> dict:
        p = os.path.join(self.path(self.SNAP_DIR), f"v{snapshot_id}.json")
        if not os.path.exists(p):
            raise ValueError(f"unknown snapshot {snapshot_id}; "
                             f"have {self.snapshot_ids()}")
        with open(p) as f:
            return json.load(f)

    def _read_at(self, name: str, snapshot_id: int) -> DataFrame:
        files = self._manifest(snapshot_id)["files"][name]
        root = self.path(name)
        missing = [f for f in files
                   if not os.path.exists(os.path.join(root, f))]
        if missing:
            raise ValueError(
                f"snapshot {snapshot_id} is expired: {len(missing)} of "
                f"its {name} files were removed (retention/compaction). "
                f"First missing: {missing[0]}"
            )
        if not files:
            return self.spark.read.parquet(root).limit(0)
        # basePath keeps the chunk_id partition column in the schema
        return (
            self.spark.read.option("basePath", root)
            .parquet(*[os.path.join(root, f) for f in files])
        )

    def chunks_at(self, snapshot_id: int) -> DataFrame:
        """Time-travel read: the chunks table AS OF snapshot N."""
        return self._read_at("chunks", snapshot_id)

    def catalog_at(self, snapshot_id: int) -> DataFrame:
        return self._read_at("catalog", snapshot_id)

    def snapshot_status(self) -> list[dict]:
        """Per-snapshot liveness: a snapshot is expired when retention
        or compaction removed files it pins."""
        out = []
        for sid in self.snapshot_ids():
            m = self._manifest(sid)
            live = all(
                os.path.exists(os.path.join(self.path(n), f))
                for n in ("chunks", "catalog") for f in m["files"][n]
            )
            out.append({"snapshot_id": sid, "operation": m["operation"],
                        "n_chunk_files": len(m["files"]["chunks"]),
                        "live": live})
        return out

    def rollback_to(self, snapshot_id: int) -> None:
        """Restore the table to snapshot N by deleting every data file
        a later append added (the manifest-pinned files themselves are
        untouched, so the restored state is byte-identical). Later
        snapshots become expired; their manifests stay for audit."""
        m = self._manifest(snapshot_id)
        for name in ("chunks", "catalog"):
            keep = set(m["files"][name])
            root = self.path(name)
            for f in self._data_files(name):
                if f not in keep:
                    os.remove(os.path.join(root, f))
            # drop now-empty partition dirs so listings stay clean
            for dirpath, dirs, files in os.walk(root, topdown=False):
                if dirpath != root and not dirs and not files:
                    os.rmdir(dirpath)
            self.spark.catalog.refreshByPath(root)

    # -- metadata ops -----------------------------------------------------

    def describe(self) -> DataFrame:
        """≙ mtsdesc (mtscomp.py:1131-1150): dataset stats from catalog
        only — never touches payloads."""
        return self.catalog().agg(
            F.countDistinct("url").alias("n_series"),
            F.count("*").alias("n_chunks"),
            F.sum("n_points").alias("n_points"),
            F.min("ts_min").alias("ts_min"),
            F.max("ts_max").alias("ts_max"),
            F.sum("raw_nbytes").alias("raw_nbytes"),
            F.sum("comp_nbytes").alias("comp_nbytes"),
            (F.sum("comp_nbytes") / F.sum("raw_nbytes")).alias("ratio"),
            (F.sum("comp_signal_nbytes") / F.sum("raw_signal_nbytes")).alias(
                "signal_ratio"
            ),
        )


def save_series_bucketed(
    series: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Write the series table url-bucketed (Spark native bucketing).

    The warehouse co-location pattern for the 100-TB compress path: pay
    the url shuffle ONCE at ingest; every later ``compress_series(...,
    pre_partitioned=True)`` over ``spark.table(table)`` is shuffle-free
    because a bucketed scan hands each bucket's files to exactly one
    task (plan-asserted in tests/test_plans.py)."""
    (
        series.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "url")
        .saveAsTable(table)
    )


def compress_bucketed(spark: SparkSession, table: str, cfg=DEFAULT):
    """Shuffle-free compress over a ``save_series_bucketed`` table."""
    from .chunk import compress_series

    return compress_series(spark.table(table), cfg, pre_partitioned=True)


def prune_chunks(
    chunks: DataFrame,
    t0_us: int | None = None,
    t1_us: int | None = None,
    url: str | None = None,
    url_prefix: str | None = None,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Interval-overlap pruning: ``ts_min <= t1 AND ts_max >= t0``.

    ≙ Reader._chunks_for_interval's bisect on chunk_bounds
    (mtscomp.py:661-684). Expressed as plain filters so Parquet min/max
    row-group stats + partition pruning on chunk_id do the skipping
    (PushedFilters in the physical plan)."""
    out = chunks
    if cfg is not None and "chunk_id" in chunks.columns:
        # directory-level partition pruning on chunk_id — strictly
        # cheaper than row-group stats (never reads pruned files at all)
        if t0_us is not None:
            out = out.filter(
                F.col("chunk_id") >= int(t0_us) // cfg.chunk_duration_us
            )
        if t1_us is not None:
            out = out.filter(
                F.col("chunk_id") <= int(t1_us) // cfg.chunk_duration_us
            )
    if t1_us is not None:
        out = out.filter(F.col("ts_min") <= F.lit(int(t1_us)))
    if t0_us is not None:
        out = out.filter(F.col("ts_max") >= F.lit(int(t0_us)))
    if url is not None:
        out = out.filter(F.col("url") == url)
    if url_prefix is not None:
        out = out.filter(F.col("url").startswith(url_prefix))
    return out


def prune_chunks_by_value(
    chunks: DataFrame,
    channel: str,
    lower=None,
    upper=None,
) -> DataFrame:
    """Value-stat pruning (Iceberg-manifest column stats, one level
    deeper than the reference's time-only chunk_bounds): keep only
    chunk rows whose [``{channel}_min``, ``{channel}_max``] interval
    can contain a row matching ``lower <= value <= upper`` — the
    pruned-out chunks are never read (Parquet row-group stats on the
    stat columns) and never decoded. Rows inside surviving chunks
    still need the exact post-decode filter (``read.read_range``
    applies it)."""
    out = chunks
    if lower is not None:
        out = out.filter(F.col(f"{channel}_max") >= lower)
    if upper is not None:
        out = out.filter(F.col(f"{channel}_min") <= upper)
    return out


def register_views(store: "ChunkStore", prefix: str = "mtslake") -> list[str]:
    """SQL surface: register every existing store table as a temp view
    (``{prefix}_chunks``, ``{prefix}_catalog``, ``{prefix}_rollup_1m/
    1h/1d``, ``{prefix}_pages`` when present) so the whole lake is
    queryable through ``spark.sql`` — the engine's DataFrame API and
    its SQL API read the same storage through the same pruned scans
    (filters on chunk_id / bucket ranges still push down; views add no
    materialization). Returns the view names it registered.

    The reference exposes a Python-only API (mtscomp.py:798-856); the
    lakehouse form of that surface is "it's a table" — this is the
    affordance that makes it one.
    """
    names = []
    for tbl in ("chunks", "catalog", "rollup_1m", "rollup_1h",
                "rollup_1d", "pages", "lineage"):
        if store.has(tbl):
            view = f"{prefix}_{tbl}"
            store.table(tbl).createOrReplaceTempView(view)
            names.append(view)
    return names
