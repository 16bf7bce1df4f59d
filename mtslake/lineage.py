"""Checkpoint-resumable jobs with per-partition lineage + metrics
(north_rule).

Work is planned in **partition units** (chunk_id time buckets). For each
unit the job writes:

* the chunk rows themselves — via **dynamic partition overwrite**, so
  re-processing a unit replaces exactly its partition (idempotent:
  deterministic chunk ids + overwrite ⇒ a re-run after a mid-job kill
  neither duplicates nor skips — SURVEY §7 risk 7);
* its catalog rows, by the same dynamic overwrite;
* a **lineage row** (job_id, unit, n_chunks, n_points, bytes, ratio,
  batch_wall_ms, units_in_batch) — ≙ the reference's per-chunk ratio
  logging (mtscomp.py:490-492) promoted to a queryable table; stores
  written before the batch_wall_ms rename (one wall_ms per unit) are
  read back schema-merged with wall_ms coalesced in.

A batch runs in this order, ≙ the reference writer's one pass that
writes the chunks, then checks them once, then dumps the ``.ch``
sidecar (mtscomp.py:425-507):

1. chunk write;
2. the ``before_check`` hook;
3. the verified catalog: one Arrow pass over the batch's chunk rows as
   they are on disk recomputes each chunk's SHA1 (a mismatch fails the
   job) and emits its catalog row, and the catalog write observes the
   per-unit stats (``check_after_compress=False``: a plain projection,
   same observation) — a tampered batch leaves no catalog row;
4. the lineage rows, written by the driver as one Parquet file.

The lineage row is also the unit's **done marker** — the .ch-style
manifest reborn as a snapshot log; resume = anti-join(all units, done
units). The batch's rows land in one atomic file rename after every
other write, so no crash can leave a unit done without its chunks,
catalog rows and lineage row. A ``checkpoints/`` table left by older
versions is not read: a unit it marks done without a lineage row is
one such crash cut short, and resume recompresses it (idempotent,
above) and writes its row.

The driver loop iterates over partition units (metadata-scale), never
over rows — each unit is one distributed Spark job.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, functions as F

from . import chunk
from .catalog import ChunkStore, _catalog_cols, chunk_write_options
from .config import EngineConfig, DEFAULT
from .series import TS_COL

# wall time is measured ONCE per batch; recording it per unit under a
# per-unit name overstated SUM(wall) by the batch factor. batch_wall_ms
# repeats per unit row with units_in_batch alongside, so job cost =
# SUM(batch_wall_ms / units_in_batch) and per-unit throughput uses the
# same division.
LINEAGE_SCHEMA = pa.schema([
    ("job_id", pa.string()), ("unit", pa.int64()),
    ("n_chunks", pa.int64()), ("n_points", pa.int64()),
    ("raw_nbytes", pa.int64()), ("comp_nbytes", pa.int64()),
    ("ratio", pa.float64()), ("batch_wall_ms", pa.int64()),
    ("units_in_batch", pa.int64()),
])
_UNIT_STATS = ("n_chunks", "n_points", "raw_nbytes", "comp_nbytes")


class ResumableCompressJob:
    def __init__(
        self,
        store: ChunkStore,
        job_id: str,
        cfg: EngineConfig = DEFAULT,
        units_per_batch: int = 8,
        before_check=None,
    ):
        self.store = store
        self.job_id = job_id
        # layout fields pinned in the store win over caller config (a
        # second job with a different chunk_duration_us would corrupt
        # the partition layout); first job pins them
        store.write_meta(cfg)
        self.cfg = store.cfg_for_store(cfg)
        self.units_per_batch = units_per_batch
        self.spark = store.spark
        # ≙ Writer(before_check=...) (mtscomp.py:241,253,498-499): a
        # caller-supplied callback invoked with the job just before each
        # batch's automatic post-write verification — the seam the
        # reference's own tamper tests use (mutate payloads, then prove
        # the check hard-fails). Receives `self`; the batch's chunk rows
        # are at store.path("chunks") when it runs.
        self.before_check = before_check or (lambda job: None)

    # -- done markers -----------------------------------------------------

    def done_units(self) -> set[int]:
        if not self.store.has("lineage"):
            return set()
        # the set is built here: a distinct() would run its shuffle as
        # a second Spark job under AQE
        return {
            r[0]
            for r in self.store.table(
                "lineage", schema="job_id string, unit long"
            )
            .filter(F.col("job_id") == self.job_id)
            .select("unit")
            .collect()
        }

    def _mark_done(self, meta: list[dict]) -> None:
        """Append the batch's lineage rows as one file: the rows are
        the units' done markers (see the module docstring). The driver
        writes the few rows itself under a ``.``-prefixed name, which
        no reader lists, and renames the finished file into place, so
        a reader sees all of the batch's rows or none. A Spark write of
        the rows costs a job (measured 0.33 s; a ``coalesce(1)`` over
        ``createDataFrame`` 1.1 s, on 4 cores). The store is a local
        POSIX directory (``ChunkStore._listing``)."""
        root = self.store.path("lineage")
        os.makedirs(root, exist_ok=True)
        rows = pa.Table.from_pylist(
            [{"job_id": self.job_id, **m} for m in meta],
            schema=LINEAGE_SCHEMA,
        )
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(root, f".{name}.tmp")
        pq.write_table(rows, tmp)
        os.replace(tmp, os.path.join(root, name))
        self.spark.catalog.refreshByPath(root)

    # -- planning + execution ------------------------------------------------

    def plan_units(self, series: DataFrame) -> list[int]:
        units = [
            r[0]
            for r in series.select(
                F.floor(F.col(TS_COL) / self.cfg.chunk_duration_us).alias("u")
            )
            .distinct()
            .collect()
        ]
        return sorted(units)

    def _write_catalog(self, batch: list[int], schema) -> list[dict]:
        """Write the batch's catalog rows from its chunk rows as they
        are on disk now, verified first when ``check_after_compress``
        is on, and return the per-unit stats the write observed.

        The read-back opens the chunks table with ``schema``, the
        schema of the chunk rows just written (no inference job), and
        prunes to the batch's partitions, so the check and the catalog
        do O(batch) work, never O(table)."""
        written = self.store.table("chunks", schema=schema).filter(
            F.col("chunk_id").isin(batch)
        )
        cols = _catalog_cols(written)
        if self.cfg.check_after_compress:
            # ≙ automatic integrity check after compression
            # (mtscomp.py:497-506): the catalog rows come out of the
            # check, so only verified chunks are cataloged
            cat = chunk.verify_chunks(written, cols)
        else:
            cat = written.select(*cols)
        # per-unit stats as aggregates observed by the write itself
        # (a batch holds at most units_per_batch units)
        obs = Observation()
        cid = F.col("chunk_id")
        cat = cat.observe(obs, *[
            (F.count(F.when(cid == u, 1)) if s == "n_chunks"
             else F.sum(F.when(cid == u, F.col(s)))).alias(f"{i}:{s}")
            for i, u in enumerate(batch) for s in _UNIT_STATS
        ])
        # catalog rows are tiny: one task writes them, so each batch
        # adds one file per touched partition. repartition(1), NOT
        # coalesce(1): coalesce would fold the one-task boundary into
        # the scan and run the Python check on one task
        # (ChunkStore.write_chunks). Dynamic partition overwrite
        # replaces exactly the batch's catalog partitions (idempotent
        # on re-run, like the chunk write)
        cat.repartition(1).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("chunk_id").parquet(self.store.path("catalog"))
        self.spark.catalog.refreshByPath(self.store.path("catalog"))
        got = obs.get
        stats = []
        for i, u in enumerate(batch):
            m = {s: int(got[f"{i}:{s}"] or 0) for s in _UNIT_STATS}
            if m["n_chunks"]:
                stats.append({"unit": u, **m})
        return stats

    def run(self, series: DataFrame, fail_after_batches: int | None = None) -> dict:
        """Process all pending units; fail_after_batches simulates a
        mid-job kill (tests). Returns run metrics.

        The per-batch ``series.filter(unit ∈ batch)`` re-scans the
        source ONLY when the source is not partitioned on time: against
        a date-partitioned pages/series table (the warehouse layout)
        the chunk-unit predicate is a partition filter and each batch
        reads just its own partitions."""
        all_units = self.plan_units(series)
        done = self.done_units()
        pending = [u for u in all_units if u not in done]
        batches = [
            pending[i : i + self.units_per_batch]
            for i in range(0, len(pending), self.units_per_batch)
        ]
        n_done = 0
        for bi, batch in enumerate(batches):
            if fail_after_batches is not None and bi >= fail_after_batches:
                raise RuntimeError("simulated mid-job kill")
            t0 = time.monotonic()
            batch = [int(u) for u in batch]
            chunks = chunk.compress_series(
                series.filter(
                    F.floor(F.col(TS_COL) / self.cfg.chunk_duration_us)
                    .isin(batch)
                ),
                self.cfg,
            )
            # dynamic overwrite scoped to THIS write (not the session
            # conf): replaces exactly the batch's chunk_id partitions,
            # while an unrelated later write_chunks(mode='overwrite') in
            # the same session keeps static truncate semantics
            chunks.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).options(**chunk_write_options(chunks)).partitionBy(
                "chunk_id"
            ).parquet(self.store.path("chunks"))
            # the overwrite may DELETE files the session's shared
            # FileStatusCache still lists; the read-back must see the
            # committed state (same rule as
            # retention.drop_chunk_partitions / compact)
            self.spark.catalog.refreshByPath(self.store.path("chunks"))
            if self.cfg.check_after_compress:
                # callback before the check, ≙ mtscomp.py:498-499; the
                # check reads the store after it, so it verifies the
                # bytes on disk now and hook-injected tampering is
                # caught
                self.before_check(self)
            stats = self._write_catalog(batch, chunks.schema)
            # wall covers the chunk write, the check and the catalog
            # write — the batch's full cost, not just the first write
            wall = int((time.monotonic() - t0) * 1000)
            self._mark_done([
                {
                    **m,
                    "ratio": m["comp_nbytes"] / max(m["raw_nbytes"], 1),
                    "batch_wall_ms": wall,
                    "units_in_batch": len(stats),
                }
                for m in stats
            ])
            n_done += len(batch)
        return {
            "job_id": self.job_id,
            "units_total": len(all_units),
            "units_already_done": len(done),
            "units_processed": n_done,
        }

    def lineage(self) -> DataFrame:
        # mergeSchema: a store resumed across the wall_ms →
        # batch_wall_ms rename holds files of both schemas in one
        # directory; a plain read would take whichever file Spark
        # happens to infer from and silently drop the other's column.
        ln = self.store.table("lineage", mergeSchema="true")
        cols = set(ln.columns)
        if "wall_ms" in cols:
            # legacy rows recorded one wall per UNIT (units_in_batch=1)
            bw = (
                F.coalesce("batch_wall_ms", "wall_ms")
                if "batch_wall_ms" in cols
                else F.col("wall_ms")
            )
            ln = ln.withColumn("batch_wall_ms", bw.cast("long")).drop(
                "wall_ms"
            )
            if "units_in_batch" in cols:
                ln = ln.withColumn(
                    "units_in_batch",
                    F.coalesce("units_in_batch", F.lit(1)).cast("long"),
                )
            else:
                ln = ln.withColumn(
                    "units_in_batch", F.lit(1).cast("long")
                )
        return ln
