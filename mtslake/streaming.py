"""Structured Streaming continuous aggregates (SURVEY §2.2: absent in
the reference — batch files only; here the streaming sibling of
rollup.py).

``readStream`` over the pages/series source → watermark on the event
time → tumbling-window aggregation → ``writeStream`` (append/update).
Late data beyond the watermark is dropped by Spark's state cleanup —
the streaming analogue of the retention horizon. State stays bounded:
one (url_prefix, lang, window) group per open window.

Aggregates carry ``(cnt, vmin, vmax, vsum)`` exactly like the batch
tiers, so a streaming 1m tier re-aggregates into batch 1h/1d tiers with
the same bit-exact tier-equality guarantee (decimal sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .config import DEFAULT, EngineConfig, TIER_US
from .rollup import vsum_cast
from .series import url_prefix

TIER_DURATION = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def streaming_rollup(
    series_stream: DataFrame,
    tier: str = "1m",
    watermark: str = "10 minutes",
) -> DataFrame:
    """series stream (url, ts_us, value, lang) → windowed aggregates.

    Emits the same schema as rollup.rollup_from_series plus nothing —
    ``bucket_us`` is derived from the window start so downstream tier
    re-aggregation is identical for batch and streaming outputs.
    """
    with_ts = series_stream.withColumn(
        "event_ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("event_ts", watermark)
    win = F.window("event_ts", TIER_DURATION[tier])
    return (
        with_ts.select(
            url_prefix(), F.col("lang"), F.col("event_ts"), F.col("value")
        )
        .groupBy("url_prefix", "lang", win.alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            # same input quantization as batch rollups (rollup.VSUM_IN)
            # so streaming 1m tiles re-aggregate bit-identically
            F.sum(vsum_cast("value")).alias("vsum"),
        )
        .select(
            "url_prefix", "lang",
            F.unix_micros(F.col("w.start")).alias("bucket_us"),
            "cnt", "vmin", "vmax",
            F.col("vsum").cast("decimal(38,18)").alias("vsum"),
        )
    )


def streaming_enriched_rollup(
    series_stream: DataFrame,
    dim: DataFrame,
    join_key: str,
    group_col: str,
    tier: str = "1h",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Stream-static enrichment: the event stream joined to a
    broadcast dimension table (Spark re-plans the static side per
    micro-batch; small dims broadcast, so the stream never shuffles
    for the join), then a watermarked tumbling aggregation grouped by
    a dim attribute — the classic "sessionize by customer segment"
    enrichment shape.

    Output: (group_col, bucket_us, cnt, vsum) with the engine's usual
    integer buckets and decimal-exact sums."""
    with_ts = series_stream.withColumn(
        "event_ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("event_ts", watermark)
    joined = with_ts.join(F.broadcast(dim), join_key)
    win = F.window("event_ts", TIER_DURATION[tier])
    return (
        joined.groupBy(F.col(group_col), win.alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(vsum_cast("value")).alias("vsum"),
        )
        .select(
            group_col,
            F.unix_micros(F.col("w.start")).alias("bucket_us"),
            "cnt",
            F.col("vsum").cast("decimal(38,18)").alias("vsum"),
        )
    )


def streaming_dedup(
    series_stream: DataFrame,
    keys: tuple[str, ...] = ("url", "ts_us", "text_sha1"),
    watermark: str = "0 seconds",
) -> DataFrame:
    """Stateful streaming deduplication: drop re-deliveries of the
    same logical row across micro-batches (at-least-once sources
    re-send; the lake must stay exactly-once). Spark's streaming
    ``dropDuplicates`` keeps per-key state; the event-time watermark
    bounds that state — keys older than the watermark are evicted, so
    state is O(keys within the watermark horizon), never O(stream).
    The de-dup key includes the content hash by default: two DIFFERENT
    events sharing (url, ts) both survive."""
    with_ts = series_stream.withColumn(
        "event_ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("event_ts", watermark)
    return with_ts.dropDuplicates([*keys, "event_ts"]).drop("event_ts")


def streaming_sessions(
    series_stream: DataFrame,
    key: str = "url",
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Session-window aggregation (``F.session_window``) — the
    streaming sibling of ``sessions.sessionize``: per-key gap sessions
    maintained as merging state, emitted (append mode) once the
    watermark passes a session's end (= last event + gap). State is
    bounded to the open sessions per key — the third streaming shape
    next to the tumbling rollup and the custom stateful sealer.

    Output: (key, session_start_us, session_end_us, n_events) with the
    same integer-μs convention as the batch operators."""
    with_ts = series_stream.withColumn(
        "event_ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("event_ts", watermark)
    return (
        with_ts.groupBy(
            F.col(key), F.session_window("event_ts", gap).alias("w")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            key,
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


def run_sessions_stream_to_parquet(
    series_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    key: str = "url",
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
):
    sessions = streaming_sessions(series_stream, key, gap, watermark)
    return (
        sessions.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def streaming_compress(
    series_stream: DataFrame,
    cfg: EngineConfig = DEFAULT,
    watermark: str = "0 seconds",
    late_policy: str = "seal",
    late_counter=None,
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    the streaming sibling of ``chunk.compress_series``.

    Per-url ``GroupState`` buffers raw points; once the event-time
    watermark passes a chunk's end boundary the chunk is *sealed* by
    the one Arrow encode kernel ``compress_series`` runs
    (``chunk._encode_block``), so a sealed streaming chunk is
    **bit-identical** — payloads, sha1, stats — to what the batch path
    would produce for the same points (the streaming analogue of the
    reference's ordered chunk writer, mtscomp.py:425-507, where
    "closed" was implicit in file order).

    An event-time timeout is armed at the earliest open chunk's end
    boundary, so urls that stop receiving data still flush as the
    global watermark advances.

    **Late data is handled HERE, not by Spark**: for arbitrary stateful
    operators Spark's watermark drives timeouts and state cleanup but
    does NOT filter late input rows (verified empirically —
    ``numRowsDroppedByWatermark`` stays 0 and late rows reach the
    handler). A row landing in a chunk already closed by the watermark
    is *late*; ``late_policy`` decides:

    * ``"seal"`` (default) — no data loss: late rows are sealed
      immediately as their own segment row of the already-closed chunk
      (a layout the store supports — hot-chunk segmentation — and that
      ``compact`` later merges);
    * ``"drop"`` — the streaming retention horizon: late rows are
      discarded.

    Either way the count is OBSERVABLE: pass ``late_counter`` (a
    ``sparkContext.accumulator(0)``) and every late row increments it —
    silent late-data loss is the one failure mode a pipeline must never
    hide (the batch analogue is the hard-failing integrity check,
    mtscomp.py:497-506). ``record_late_drops`` persists it as lineage.

    State is bounded to O(hot_chunk_points) rows per url even while a
    single giant chunk streams through: once an OPEN chunk's buffer
    holds a full ``cfg.hot_chunk_points`` segment, that segment is
    encoded and emitted immediately (the same extra-rows-per-chunk
    layout batch hot-chunk segmentation produces) and only the
    < hot_chunk_points residual stays in state. For in-order arrivals
    the early-flushed segments are bit-identical to the batch layout;
    out-of-order arrivals within an over-sized open chunk may place a
    late row in a later segment than batch would (payloads stay
    internally sorted and queries are unaffected — chunk rows are an
    unordered table; only the segment-boundary alignment with batch is
    best-effort above the bound).
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.streaming.state import GroupStateTimeout

    from . import chunk as chunk_mod
    from .chunk import SHA1_W
    from .series import TS_COL

    if late_policy not in ("seal", "drop"):
        raise ValueError(f"late_policy must be 'seal' or 'drop', "
                         f"got {late_policy!r}")
    dur = cfg.chunk_duration_us
    cols = ["lang", TS_COL, "n_chars", "value", "text_sha1"]

    with_ts = series_stream.withColumn(
        "event_ts", F.timestamp_micros(F.col(TS_COL))
    ).withWatermark("event_ts", watermark)

    def seal(key, pdfs, state):
        url = key[0]
        parts = []
        if state.exists:
            # lang is restored PER ROW (array<string> in state): a url
            # whose lang varies across buffered rows must seal exactly
            # what the batch encoder would see (bit-identity guarantee)
            ts, nch, val, sha, langs = state.get
            parts.append(pd.DataFrame({
                "lang": pd.Series(langs, dtype=object),
                TS_COL: pd.Series(ts, dtype="int64"),
                "n_chars": pd.Series(nch, dtype="int64"),
                "value": pd.Series(val, dtype="float64"),
                "text_sha1": sha,
            }))
        wm_us = state.getCurrentWatermarkMs() * 1000
        new_parts = [p[cols] for p in pdfs if len(p)]
        if new_parts and wm_us > 0:
            # late = NEW rows behind the current watermark (Spark does
            # not filter them for arbitrary stateful ops — see the
            # operator docstring). Count always; drop only under the
            # retention-horizon policy. State-restored rows were
            # on-time when they arrived and are never late.
            new = pd.concat(new_parts, ignore_index=True)
            late_mask = new[TS_COL] < wm_us
            n_late = int(late_mask.sum())
            if n_late and late_counter is not None:
                late_counter.add(n_late)
            if n_late and late_policy == "drop":
                new = new[~late_mask]
            new_parts = [new] if len(new) else []
        parts += new_parts
        if not parts:
            if not state.exists:
                return
            state.remove()
            return
        pdf = pd.concat(parts, ignore_index=True)
        closed_below = wm_us // dur  # chunk ids < this are sealed
        pdf["chunk_id"] = pdf[TS_COL] // dur
        pdf = pdf.sort_values(
            ["chunk_id", TS_COL, "text_sha1"], kind="mergesort",
            ignore_index=True,
        )
        closed = pdf[pdf["chunk_id"] < closed_below]
        open_ = pdf[pdf["chunk_id"] >= closed_below]
        max_pts = cfg.hot_chunk_points
        if max_pts and len(open_) > max_pts:
            # state bound: emit every complete hot_chunk_points segment
            # of each open chunk NOW; buffer only the residuals
            flush_parts, keep_parts = [], []
            for _, g in open_.groupby("chunk_id", sort=True):
                n_full = (len(g) // max_pts) * max_pts
                if n_full:
                    flush_parts.append(g.iloc[:n_full])
                if n_full < len(g):
                    keep_parts.append(g.iloc[n_full:])
            # closed ids < closed_below <= flushed ids and both are
            # chunk_id-sorted, so the concat stays encoder-contiguous
            closed = pd.concat([closed, *flush_parts], ignore_index=True)
            open_ = (
                pd.concat(keep_parts, ignore_index=True)
                if keep_parts else open_.iloc[0:0]
            )
        if len(open_):
            state.update((
                open_[TS_COL].tolist(), open_["n_chars"].tolist(),
                open_["value"].tolist(), open_["text_sha1"].tolist(),
                open_["lang"].tolist(),
            ))
            next_seal_ms = ((int(open_["chunk_id"].iat[0]) + 1) * dur) // 1000
            state.setTimeoutTimestamp(
                max(next_seal_ms, state.getCurrentWatermarkMs() + 1)
            )
        else:
            state.remove()
        if len(closed):
            n = len(closed)
            if (closed["text_sha1"].str.len() != 2 * SHA1_W).any():
                raise ValueError(
                    f"text_sha1 of {url} is not {2 * SHA1_W} hex chars"
                )
            # the batch kernel's input layout: digests cross as raw
            # 20-byte binary (what compress_series' F.unhex produces)
            t = pa.table({
                "url": pa.repeat(url, n),
                "lang": pa.array(closed["lang"], type=pa.string()),
                TS_COL: closed[TS_COL].to_numpy(np.int64),
                "n_chars": closed["n_chars"].to_numpy(np.int64),
                "value": closed["value"].to_numpy(np.float64),
                "text_sha1": chunk_mod._fixed_width_array(
                    bytes.fromhex("".join(closed["text_sha1"])), n,
                    SHA1_W, False,
                ),
            })
            yield chunk_mod._encode_block(
                t, dur, cfg.hot_chunk_points, cfg.comp_level,
                cfg.do_time_diff,
            ).to_pandas()

    return with_ts.groupBy("url").applyInPandasWithState(
        seal,
        outputStructType=chunk_mod.CHUNK_SCHEMA,
        stateStructType=(
            f"{TS_COL} array<long>, n_chars array<long>, "
            "value array<double>, text_sha1 array<string>, "
            "lang array<string>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def late_drop_counts(query, late_counter=None) -> dict:
    """Late-data counts for a streaming query, from two sources:

    * ``per_batch``/``total`` — rows Spark itself dropped at the
      watermark (``stateOperators[].numRowsDroppedByWatermark``;
      nonzero for windowed aggregations like ``streaming_rollup``);
    * ``sealer_late_rows`` — late rows the ``streaming_compress``
      handler observed via its accumulator (Spark does NOT filter late
      input for arbitrary stateful ops, so the operator counts its own
      — see ``streaming_compress``).

    A real pipeline must alarm on late-data loss rather than let it
    vanish (the batch analogue is the hard-failing integrity check,
    mtscomp.py:497-506; a retention horizon may drop data, but never
    silently)."""
    per_batch: dict[int, int] = {}
    for p in query.recentProgress:
        dropped = sum(
            int(op.get("numRowsDroppedByWatermark", 0))
            for op in p.get("stateOperators", [])
        )
        per_batch[int(p["batchId"])] = dropped
    out = {"total": sum(per_batch.values()), "per_batch": per_batch}
    if late_counter is not None:
        out["sealer_late_rows"] = int(late_counter.value)
        out["total"] += out["sealer_late_rows"]
    return out


def record_late_drops(store, query, job_id: str = "stream",
                      late_counter=None) -> dict:
    """Persist the late-data counts as lineage rows (``lineage_stream``
    table) so a scheduled job can alarm on loss — the streaming sibling
    of the per-partition compress lineage.

    IDEMPOTENT under repeated invocation (the intended use is a
    scheduled call every few minutes): per-batch rows are appended only
    for batch ids NOT yet recorded for this job — a naive re-append of
    everything still in ``recentProgress`` would over-count severalfold
    when summed — and the sealer accumulator is recorded as the DELTA
    since the last call. The accumulator rows are keyed on a NEGATIVE
    per-run sentinel batch_id derived from ``query.runId`` (not a
    shared -1): the accumulator resets to 0 on every query restart, so
    a job_id-global baseline would read the all-time total, make the
    delta negative, and silently under-record every drop after a
    restart until the fresh counter overtook the ledger. Per-run
    sentinels keep SUM(rows_dropped_late) per job_id correct across
    restarts with no schema change (all sentinels are < -1; legacy -1
    rows from pre-change stores still sum into totals).
    ``recentProgress`` keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100)
    batches, so call this at least once per ~100 batches or the
    per-batch ledger silently misses the evicted ones."""
    import hashlib

    counts = late_drop_counts(query, late_counter)
    # stable within a run, new after every restart; < -1 so it can
    # never collide with a real batch id or the legacy -1 sentinel
    run_key = -2 - int.from_bytes(
        hashlib.sha1(str(query.runId).encode("utf-8")).digest()[:7],
        "big",
    )
    seen_batches: set = set()
    acc_recorded = 0
    if store.has("lineage_stream"):
        prior = (
            store.table("lineage_stream")
            .filter(F.col("job_id") == job_id)
            .groupBy("batch_id")
            .agg(F.sum("rows_dropped_late").alias("n"))
            .collect()
        )
        for r in prior:
            if int(r["batch_id"]) == run_key:
                acc_recorded = int(r["n"])
            elif int(r["batch_id"]) >= 0:
                seen_batches.add(int(r["batch_id"]))
            # other negative ids: accumulator rows of OTHER runs (or
            # the legacy -1) — counted in totals, not in this baseline
    rows = [
        (job_id, int(b), int(n))
        for b, n in sorted(counts["per_batch"].items())
        if int(b) not in seen_batches
    ]
    delta = int(counts.get("sealer_late_rows", 0)) - acc_recorded
    if delta > 0:
        rows.append((job_id, run_key, delta))
    if rows:
        store.spark.createDataFrame(
            rows, "job_id string, batch_id long, rows_dropped_late long"
        ).write.mode("append").parquet(store.path("lineage_stream"))
    return counts


def run_compress_stream_to_parquet(
    series_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    cfg: EngineConfig = DEFAULT,
    watermark: str = "0 seconds",
    late_policy: str = "seal",
    late_counter=None,
):
    """writeStream of sealed streaming chunks (append = sealed-only);
    restart resumes from the checkpoint without re-emitting."""
    sealed = streaming_compress(series_stream, cfg, watermark,
                                late_policy, late_counter)
    return (
        sealed.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def run_stream_to_parquet(
    series_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    tier: str = "1m",
    watermark: str = "10 minutes",
):
    """writeStream in append mode (finalized windows only) — restarts
    resume from the checkpoint (north_rule: checkpoint-resumable)."""
    rolled = streaming_rollup(series_stream, tier, watermark)
    return (
        rolled.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def streaming_interval_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    key: str = "url",
    max_lag_us: int = 1_800_000_000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join — the sixth streaming shape: two
    live event streams correlated per key within a time band
    (|ts_l − ts_r| ≤ max_lag_us), e.g. "pair each page snapshot with
    the content-length probes observed within ±30 min". Spark keeps
    BOTH sides in state; the watermark plus the two-sided range
    condition bound how long a row can wait for matches, so state is
    evicted once the other side's event time passes ts + max_lag
    (Structured Streaming's stream-stream join state cleanup needs
    exactly this: a watermark AND an event-time constraint relating
    the two sides).

    Inner join in append mode: a pair is emitted as soon as both rows
    have arrived — deterministic final SET for an availableNow run
    (every qualifying pair is emitted exactly once; the SQL oracle
    replays the join verbatim).

    Output: (key, ts_l, ts_r, v_l, v_r) in integer μs."""
    l = (
        left_stream.select(
            F.col(key).alias("_kl"),
            F.col("ts_us").alias("ts_l"),
            F.col("value").alias("v_l"),
        )
        .withColumn("l_ts", F.timestamp_micros(F.col("ts_l")))
        .withWatermark("l_ts", watermark)
    )
    r = (
        right_stream.select(
            F.col(key).alias("_kr"),
            F.col("ts_us").alias("ts_r"),
            F.col("value").alias("v_r"),
        )
        .withColumn("r_ts", F.timestamp_micros(F.col("ts_r")))
        .withWatermark("r_ts", watermark)
    )
    lag = F.expr(f"INTERVAL {max_lag_us} MICROSECOND")
    joined = l.join(
        r,
        (F.col("_kl") == F.col("_kr"))
        & (F.col("r_ts") >= F.col("l_ts") - lag)
        & (F.col("r_ts") <= F.col("l_ts") + lag),
    )
    return joined.select(
        F.col("_kl").alias(key), "ts_l", "ts_r", "v_l", "v_r"
    )


def run_interval_join_to_parquet(
    left_stream: DataFrame,
    right_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    key: str = "url",
    max_lag_us: int = 1_800_000_000,
    watermark: str = "1 hour",
):
    joined = streaming_interval_join(
        left_stream, right_stream, key, max_lag_us, watermark
    )
    return (
        joined.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def streaming_ohlc(
    series_stream: DataFrame,
    tier: str = "1h",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming candlesticks: watermarked tumbling OHLC per
    (url_prefix, lang) — the live dashboard form of series.ohlc, with
    the SAME deterministic (ts, value) struct-ordered open/close
    selection, so a sealed streaming candle is bit-identical to the
    batch aggregate over the same rows (graded that way). Struct
    min/max is an ordinary min/max aggregate to the streaming engine:
    mergeable across micro-batches, state = one (ts, value) pair + two
    doubles + a count per open window — O(1) per (key, window),
    evicted at the watermark."""
    with_ts = series_stream.withColumn(
        "event_ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("event_ts", watermark)
    win = F.window("event_ts", TIER_DURATION[tier])
    o_struct = F.struct(F.col("ts_us").alias("t"), F.col("value").alias("v"))
    return (
        with_ts.where(F.col("value").isNotNull())
        .select(url_prefix(), F.col("lang"), F.col("event_ts"),
                F.col("ts_us"), F.col("value"))
        .groupBy("url_prefix", "lang", win.alias("w"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min(o_struct)["v"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(o_struct)["v"].alias("close"),
        )
        .select(
            "url_prefix", "lang",
            F.unix_micros(F.col("w.start")).alias("bucket_us"),
            "n", "open", "high", "low", "close",
        )
    )


def streaming_uptime(
    pings_stream: DataFrame,
    lease_us: int,
    tier: str = "1h",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Custom stateful streaming liveness (``applyInPandasWithState``):
    the streaming sibling of ``sessions.uptime`` — per (url, bucket)
    length of the UNION of [ping, ping+lease) intervals, emitted
    (append) once the event-time watermark passes the bucket's end.

    Sealing is sound because a bucket [b, b+us) can only gain coverage
    from pings with ts < b+us: once the watermark passes b+us, any
    such ping would be late (dropped here, like the sealer's ``drop``
    policy) — so sealed rows are FINAL and bit-identical to the batch
    operator over the same pings (pytest + contract query).

    State per url is two scalars' worth of pings: only pings whose
    lease crosses the seal frontier are retained
    (``ts + lease > sealed_until``) — O(pings within one lease
    horizon), not O(stream). Dropped bridge pings cannot change
    unsealed coverage or island counts (their leases end before the
    frontier; a retained ping more than one lease after another is a
    new island with or without them). An event-time timeout armed at
    the earliest open bucket end flushes urls that stop pinging.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    us = int(TIER_US[tier])
    lease = int(lease_us)

    with_ts = pings_stream.withColumn(
        "event_ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("event_ts", watermark)

    def handler(key, pdfs, state):
        url = key[0]
        pings: list[int] = []
        sealed_until = 0
        if state.exists:
            stored, su = state.get
            # state pings were on-time when buffered; those with
            # ts < sealed_until were retained precisely because their
            # lease crosses the frontier — never re-filter them
            pings = list(stored)
            sealed_until = int(su)
        wm_us = state.getCurrentWatermarkMs() * 1000
        seal_to = (wm_us // us) * us if wm_us > 0 else 0
        for p in pdfs:
            if len(p):
                # NEW pings are kept by the SAME rule as retained
                # state: the lease crosses the seal frontier. A ping
                # wholly behind the frontier is late (its buckets are
                # emitted — sealer's 'drop' policy; sealed rows stay
                # final), but one straddling it still owes coverage to
                # UNSEALED buckets — emission clips at sealed_until,
                # so keeping it can never revise a sealed row. This
                # filter is load-bearing: Spark does NOT pre-filter
                # late input for arbitrary stateful ops (see
                # streaming_compress, which counts its own late rows
                # for exactly that reason).
                pings.extend(int(t) for t in p["ts_us"]
                             if int(t) + lease > sealed_until)
        pings = sorted(set(pings))
        out_rows = []
        if seal_to > sealed_until and pings:
            # islands over the retained pings
            acc: dict[int, list[int]] = {}
            isl_start = pings[0]
            isl_end = pings[0] + lease
            islands = []
            for t in pings[1:]:
                if t > isl_end:
                    islands.append((isl_start, isl_end))
                    isl_start, isl_end = t, t + lease
                else:
                    isl_end = t + lease
            islands.append((isl_start, isl_end))
            for s, e in islands:
                b = max((s // us) * us, sealed_until)
                while b < min(e, seal_to):
                    ov = min(e, b + us) - max(s, b)
                    if ov > 0:
                        cur = acc.setdefault(b, [0, 0])
                        cur[0] += ov
                        cur[1] += 1
                    b += us
            out_rows = [(url, b, v[0], v[1])
                        for b, v in sorted(acc.items())]
            sealed_until = seal_to
            pings = [t for t in pings if t + lease > sealed_until]

        if pings:
            state.update((pings, sealed_until))
            # flush when the watermark passes the earliest open bucket
            next_boundary = ((pings[0] // us) + 1) * us
            state.setTimeoutTimestamp(max(next_boundary, wm_us + 1) // 1000)
        elif state.exists:
            # removing state (and with it sealed_until) is SAFE: it
            # cannot let a late replay re-emit a sealed bucket, because
            # the engine filters input rows with ts <= the previous
            # batch's watermark before this handler (verified
            # empirically on Spark 4.1.2 — a replayed ping behind an
            # advanced watermark never arrives), and sealed_until is
            # always <= that watermark, so every row that DOES arrive
            # satisfies ts > sealed_until at the moment of removal. A
            # tombstone (empty pings + sealed_until) would be the
            # defensive alternative but costs O(#urls) state forever —
            # the wrong trade at web scale.
            # (tests/test_streaming.py::test_uptime_sealed_frontier_…
            # asserts the no-duplicate property end-to-end.)
            state.remove()
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=["url", "bucket_us", "uptime_us", "n_islands"],
            )

    return with_ts.groupBy("url").applyInPandasWithState(
        handler,
        outputStructType=("url string, bucket_us long, uptime_us long, "
                          "n_islands long"),
        stateStructType="pings array<long>, sealed_until long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_sliding_rollup(
    series_stream: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window streaming aggregates — the live dashboard's
    "last hour, refreshed every 15 minutes" read that a tumbling tier
    can't serve (a tumbling 1h bucket is up to an hour stale at its
    close). Same (cnt, vmin, vmax, vsum) carry and the same decimal
    quantization as the batch tiers; each event enters window/slide
    overlapping windows (4 here), emitted per window START.

    State: window/slide open (key, window) groups instead of the
    tumbling rollup's one — the overlap factor is the knob that trades
    read freshness for state size, bounded either way by the
    watermark horizon. Append mode seals each window when the
    watermark passes its END, exactly like the tumbling case.
    """
    with_ts = series_stream.withColumn(
        "event_ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("event_ts", watermark)
    win = F.window("event_ts", window, slide)
    return (
        with_ts.select(
            url_prefix(), F.col("lang"), F.col("event_ts"), F.col("value")
        )
        .groupBy("url_prefix", "lang", win.alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.sum(vsum_cast("value")).alias("vsum"),
        )
        .select(
            "url_prefix", "lang",
            F.unix_micros(F.col("w.start")).alias("bucket_us"),
            F.unix_micros(F.col("w.end")).alias("bucket_end_us"),
            "cnt", "vmin", "vmax",
            F.col("vsum").cast("decimal(38,18)").alias("vsum"),
        )
    )
