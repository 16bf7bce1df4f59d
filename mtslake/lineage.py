"""Checkpoint-resumable jobs with per-partition lineage + metrics
(north_rule).

Work is planned in **partition units** (chunk_id time buckets). For each
unit the job writes:

* the chunk rows themselves — via **dynamic partition overwrite**, so
  re-processing a unit replaces exactly its partition (idempotent:
  deterministic chunk ids + overwrite ⇒ a re-run after a mid-job kill
  neither duplicates nor skips — SURVEY §7 risk 7);
* a **lineage row** (job_id, unit, n_chunks, n_points, bytes, ratio,
  batch_wall_ms, units_in_batch) — ≙ the reference's per-chunk ratio
  logging (mtscomp.py:490-492) promoted to a queryable table; stores
  written before the batch_wall_ms rename (one wall_ms per unit) are
  read back schema-merged with wall_ms coalesced in.

The lineage row is also the unit's **done marker** — the .ch-style
manifest reborn as a snapshot log; resume = anti-join(all units, done
units). One append per batch marks its units done together with their
metrics, so no crash can leave a unit done without its lineage row.
A ``checkpoints/`` table left by older versions is not read: a unit it
marks done without a lineage row is one such crash cut short, and
resume recompresses it (idempotent, above) and writes its row.

The driver loop iterates over partition units (metadata-scale), never
over rows — each unit is one distributed Spark job.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from .catalog import ChunkStore
from .chunk import compress_series
from .config import EngineConfig, DEFAULT
from .series import TS_COL


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
            for r in self.store.table("lineage")
            .filter(F.col("job_id") == self.job_id)
            .select("unit")
            .collect()
        }

    def _mark_done(self, meta: list[dict]) -> None:
        """Append the batch's lineage rows as one file: the rows are
        the units' done markers (see the module docstring). The rows
        are parallelized into one slice; a ``coalesce(1)`` over the
        default slices costs twice the write (measured 1.1 s vs
        0.45 s on 4 cores)."""
        ln = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize([
                (
                    self.job_id, int(m["unit"]), int(m["n_chunks"]),
                    int(m["n_points"]), int(m["raw_nbytes"]),
                    int(m["comp_nbytes"]), float(m["ratio"]),
                    int(m["batch_wall_ms"]), int(m["units_in_batch"]),
                )
                for m in meta
            ], 1),
            "job_id string, unit long, n_chunks long, n_points long, "
            "raw_nbytes long, comp_nbytes long, ratio double, "
            # wall time is measured ONCE per batch (the write is one
            # Spark job); recording it per unit under a per-unit name
            # overstated SUM(wall) by the batch factor. batch_wall_ms
            # repeats per unit row with units_in_batch alongside, so
            # job cost = SUM(batch_wall_ms / units_in_batch) and
            # per-unit throughput uses the same division.
            "batch_wall_ms long, units_in_batch long",
        )
        ln.write.mode("append").parquet(self.store.path("lineage"))

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

    def run(self, series: DataFrame, fail_after_batches: int | None = None) -> dict:
        """Process all pending units; fail_after_batches simulates a
        mid-job kill (tests). Returns run metrics.

        The per-batch ``series.filter(unit ∈ batch)`` re-scans the
        source ONLY when the source is not partitioned on time: against
        a date-partitioned pages/series table (the warehouse layout)
        the chunk-unit predicate is a partition filter and each batch
        reads just its own partitions."""
        spark = self.spark
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
            sub = series.filter(
                F.floor(F.col(TS_COL) / self.cfg.chunk_duration_us).isin(
                    [int(u) for u in batch]
                )
            )
            chunks = compress_series(sub, self.cfg)
            # dynamic overwrite scoped to THIS write (not the session
            # conf): replaces exactly the batch's chunk_id partitions,
            # while an unrelated later write_chunks(mode='overwrite') in
            # the same session keeps static truncate semantics
            chunks.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("chunk_id").parquet(self.store.path("chunks"))
            # the overwrite may DELETE files the session's shared
            # FileStatusCache still lists; the re-read below (unit
            # stats + integrity check) must see the committed state
            # (same rule as retention.drop_chunk_partitions / compact)
            spark.catalog.refreshByPath(self.store.path("chunks"))
            # this read prunes to the batch's partitions only — unit
            # stats, catalog maintenance, and the automatic post-write
            # check all do O(batch) work, never O(table)
            written = self.store.chunks().filter(
                F.col("chunk_id").isin([int(u) for u in batch])
            )
            # incremental catalog: dynamic partition overwrite replaces
            # exactly this batch's catalog partitions (idempotent on
            # re-run, like the chunk write itself)
            from .catalog import _catalog_cols

            written.select(*_catalog_cols(written)).coalesce(1).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").partitionBy(
                "chunk_id"
            ).parquet(self.store.path("catalog"))
            spark.catalog.refreshByPath(self.store.path("catalog"))
            if self.cfg.check_after_compress:
                # callback before the check, ≙ mtscomp.py:498-499
                self.before_check(self)
                # ≙ automatic integrity check after compression
                # (mtscomp.py:497-506): decode what was just written,
                # recomputing each chunk's SHA1 — a mismatch raises
                # inside the decode tasks and fails the job. The check
                # re-lists the store AFTER the hook (a fresh scan, not
                # the pre-hook plan): it verifies the bytes actually on
                # disk now, so hook-injected tampering is caught
                from .chunk import decompress_chunks

                check_df = self.store.chunks().filter(
                    F.col("chunk_id").isin([int(u) for u in batch])
                )
                decompress_chunks(check_df, verify=True).count()
            # wall covers the chunk write, catalog mirror, and the
            # post-write integrity check — the batch's full cost, not
            # just the first write
            wall = int((time.monotonic() - t0) * 1000)
            stats = (
                written
                .groupBy("chunk_id")
                .agg(
                    F.count("*").alias("n_chunks"),
                    F.sum("n_points").alias("n_points"),
                    F.sum("raw_nbytes").alias("raw_nbytes"),
                    F.sum("comp_nbytes").alias("comp_nbytes"),
                )
                .collect()
            )
            meta = [
                {
                    "unit": r["chunk_id"],
                    "n_chunks": r["n_chunks"],
                    "n_points": r["n_points"],
                    "raw_nbytes": r["raw_nbytes"],
                    "comp_nbytes": r["comp_nbytes"],
                    "ratio": r["comp_nbytes"] / max(r["raw_nbytes"], 1),
                    "batch_wall_ms": wall,
                    "units_in_batch": len(stats),
                }
                for r in stats
            ]
            self._mark_done(meta)
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
