"""Spans for the traced benchmark run, and the per-layer summary.

A span wraps one call the benchmark makes into an ``mtslake`` module's
public function (``module.function``), or one benchmark operation (the
root of its calls). Nothing inside the engine is traced. Spans stay in
memory and are written out when the run ends.

Each span runs its Spark jobs under its own job group, so the status
tracker attributes jobs, stages and tasks to the span that ran them
(``spark.ui.enabled=false`` does not disable the tracker). A public
function that returns a lazy DataFrame is forced inside its own span
with Spark's ``noop`` sink.

With ``enabled=False`` every method is a plain pass-through: the
untraced run sets no job groups and forces nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import Observation, functions as F

# every public function the benchmark calls, by layer (module); each
# gets <name>.s/.jobs/.stages/.tasks/.failed_tasks in the traced run
LAYER_FUNCS = (
    "series.pages_to_series",
    "chunk.compress_series",
    "chunk.decompress_chunks",
    "catalog.write_chunks",
    "catalog.prune_chunks",
    "read.read_range",
    "rollup.materialize_tiers",
    "rollup.refresh_tiers",
    "gapfill.gapfill_locf",
    "downsample.lttb_downsample",
    "lineage.run",
    "retention.apply_retention",
)
READ_KINDS = ("full", "point", "scan", "plot")
_GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1
        # the span that ended last; ops attach counts they learn after
        # the call (e.g. from the collected answer) to it
        self.last: dict = {}

    # -- recording -------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its dict so the caller can attach
        counts (rows, bytes, ...) measured at this boundary."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else self._next_id,
            **attrs,
        }
        self._next_id += 1
        self._stack.append(rec)
        sc.setJobGroup(f"{_GROUP_PREFIX}{rec['id']}", name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{_GROUP_PREFIX}{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self.last = rec

    def call(self, name: str, fn, *args, **kwargs):
        """An eager public function: one span around the call."""
        with self.span(name):
            return fn(*args, **kwargs)

    def lazy(self, name: str, fn, *args, **kwargs):
        """A public function returning a lazy DataFrame. Traced, it is
        forced with the noop sink inside its span and the span records
        the rows it produced; the caller gets the (unforced) frame.
        Building the frame can run jobs too (file listing), so that
        happens inside the span."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name) as rec:
            df = fn(*args, **kwargs)
            rec.update(force(df))
        return df

    # -- engine counts, read once the run is over -----------------------

    def attach_engine_counts(self) -> None:
        """Jobs, stages and tasks per span from the status tracker.
        Read at the end (the listener bus updates the tracker
        asynchronously), from each span's own job group."""
        if not self.enabled:
            return
        time.sleep(1.0)  # let the listener bus drain the last events
        st = self.spark.sparkContext.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(f"{_GROUP_PREFIX}{rec['id']}")
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped (reused shuffle) or evicted
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks,
                       failed_tasks=failed)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


def force(df, **aggs) -> dict:
    """Run a lazy frame to completion through the noop sink. Returns
    its row count and any extra aggregates, observed in the same pass."""
    obs = Observation("perfbench_force")
    cols = [F.count(F.lit(1)).alias("rows")]
    cols += [c.alias(k) for k, c in aggs.items()]
    df.observe(obs, *cols).write.format("noop").mode("overwrite").save()
    return {k: (v if v is not None else 0) for k, v in obs.get.items()}


# -- summary ------------------------------------------------------------


def self_seconds(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """The per-layer metrics (BENCHMARK.json ``per_layer``) from the
    written spans. Times and counts are medians per call; failed tasks
    are summed so a single failure shows."""
    selfs = self_seconds(spans)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    m: dict[str, float] = {}
    for name in LAYER_FUNCS:
        calls = by_name.get(name, [])
        m[f"{name}.s"] = _median([selfs[s["id"]] for s in calls])
        for k in ("jobs", "stages", "tasks"):
            m[f"{name}.{k}"] = _median([s.get(k, 0) for s in calls])
        m[f"{name}.failed_tasks"] = sum(s.get("failed_tasks", 0) for s in calls)

    writes = [s for s in spans if "chunks_written" in s]
    m["chunk.chunks_written"] = _median([s["chunks_written"] for s in writes])
    m["chunk.points_per_chunk"] = _median([
        s["points_written"] / s["chunks_written"]
        for s in writes if s["chunks_written"]
    ])
    m["catalog.files_written"] = _median([s["files_written"] for s in writes])
    m["catalog.bytes_written"] = _median([s["bytes_written"] for s in writes])

    # ratios over the workload's own reads, not set-up or warm-up reads
    root = {s["id"]: s["name"] for s in spans if s["parent"] is None}
    in_ops = [s for s in spans
              if not root[s["op"]].startswith(("setup", "warm"))]
    prunes = [s for s in in_ops if s["name"] == "catalog.prune_chunks"]
    total = sum(s["chunks_total"] for s in prunes)
    m["catalog.prune_chunks.kept_ratio"] = (
        sum(s["chunks_kept"] for s in prunes) / total if total else 0.0)

    reads = [s for s in in_ops if s["name"] == "read.read_range"]
    for kind in READ_KINDS:
        m[f"read.read_range.{kind}.s"] = _median(
            [selfs[s["id"]] for s in by_name.get("read.read_range", [])
             if s.get("kind") == kind])
    returned = sum(s.get("rows", 0) for s in reads)
    m["read.points_decoded_per_returned"] = (
        sum(s.get("points_decoded", 0) for s in reads) / returned
        if returned else 0.0)

    m["rollup.refresh_tiers.parts"] = _median(
        [s["parts"] for s in by_name.get("rollup.refresh_tiers", [])])
    fills = by_name.get("gapfill.gapfill_locf", [])
    out_rows = sum(s.get("rows", 0) for s in fills)
    m["gapfill.filled_ratio"] = (
        sum(s.get("filled", 0) for s in fills) / out_rows if out_rows else 0.0)
    m["retention.partitions_dropped"] = _median(
        [s["dropped"] for s in by_name.get("retention.apply_retention", [])])
    return m
