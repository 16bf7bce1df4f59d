"""Physical-plan checks: the optimizations we design for must be
visible in the plan, not assumed (predicate pushdown into the chunk
scan, directory-level partition pruning on chunk_id, broadcast joins on
the probe side)."""

import pytest
from pyspark.sql import functions as F

from mtslake import chunk, read
from mtslake.catalog import ChunkStore
from mtslake.config import DEFAULT
from mtslake.datagen import generate_pages
from mtslake.series import pages_to_series


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    pages = generate_pages(spark, n_urls=10, snapshots_per_url=200, n_hot=1,
                           hot_factor=2)
    st = ChunkStore(spark, str(tmp_path_factory.mktemp("planstore")))
    st.write_chunks(chunk.compress_series(pages_to_series(pages), DEFAULT),
                    mode="overwrite")
    return st


def test_read_range_pushes_filters_to_scan(store):
    t0, t1 = 1_704_100_000_000_000, 1_704_200_000_000_000
    df = read.read_range(store, t0, t1, cfg=DEFAULT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "ts_min" in plan and "ts_max" in plan
    # chunk_id is a partition column: pruning shows up as PartitionFilters
    assert "PartitionFilters" in plan
    assert plan.count("Exchange") == 0, "decode path must be shuffle-free"


def test_partition_pruning_reads_fewer_files(spark, store):
    # count scanned partitions via the pruned plan's partition count
    all_chunks = store.chunks()
    n_all = all_chunks.select("chunk_id").distinct().count()
    t0 = 1_704_067_200_000_000 + 86_400_000_000  # day 2 only
    pruned = read.read_range(store, t0, t0 + 1000, cfg=DEFAULT)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert n_all > 1
    assert "PartitionFilters: []" not in plan


def test_channel_projection_prunes_payload_columns(store):
    df = read.read_range(store).select("url", "ts_us")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # full decode still needs payloads, but catalog-only queries must not
    cat = store.catalog().select("url", "n_points")
    cplan = cat._jdf.queryExecution().executedPlan().toString()
    assert "p_value" not in cplan and "p_ts" not in cplan


def test_url_read_decodes_on_one_task(store):
    """A one-url read coalesces its scan into one task before the
    decode, shuffle-free, while the same read without a url spreads
    over the scan's splits."""
    url = store.chunks().select("url").orderBy("url").first()[0]
    df = read.read_range(store, url=url)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce 1" in plan
    assert plan.count("Exchange") == 0
    assert df.rdd.getNumPartitions() == 1
    assert read.read_range(store).rdd.getNumPartitions() > 1


def test_describe_never_touches_payloads(store):
    plan = store.describe()._jdf.queryExecution().executedPlan().toString()
    assert "p_ts" not in plan and "p_value" not in plan


def test_brute_force_topk_broadcasts_probes(spark, sf_dir):
    from mtslake.simsearch import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.limit(2).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    out = brute_force_topk(emb, probes, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_minhash_band_shuffle_excludes_shingles(spark, sf_dir):
    """The LSH band explode / candidate self-join must shuffle ONLY
    (_id, band, bucket) — at web scale the shingle arrays dominate the
    table, and carrying them through the ×bands explode would move
    ~bands× that payload. The exact-Jaccard verify joins candidates
    back to the shingle base instead."""
    from mtslake.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = minhash_lsh_pairs(docs, jaccard_threshold=0.7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    saw_generate = False
    for line in plan.splitlines():
        # the band explode must retain only _id — shingles stay behind
        if "Generate explode" in line:
            saw_generate = True
            assert "_sh#" not in line, line
        # projections that carry (band, bucket) toward the candidate
        # join must not also carry the shingle array
        if "Project [" in line and "band#" in line and "bucket#" in line:
            assert "_sh#" not in line, line
    assert saw_generate


def test_minhash_no_head_shuffle_when_input_is_split(spark, sf_dir):
    """When the scan already yields >= defaultParallelism splits, the
    dedup entry points must NOT open with a round-robin repartition —
    at web scale that is an avoidable full-corpus shuffle with the text
    payload riding it. (When the input IS a single split, a narrow
    (_id, text) spread is allowed — that path is what the sf-dir tests
    exercise.)"""
    from mtslake.dedup import minhash_lsh_pairs, simhash64

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        par = spark.sparkContext.defaultParallelism
        assert docs.rdd.getNumPartitions() >= par, "fixture: need many splits"
        for out in (
            minhash_lsh_pairs(docs, jaccard_threshold=0.7),
            simhash64(docs),
        ):
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "RoundRobinPartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)


def test_minhash_self_join_reuses_banded_exchange(spark, sf_dir):
    """The bucket-cap-as-window restructure puts the whole banded
    subtree (including the CPU-dominant 64-way minhash transform)
    under ONE (band, bucket) exchange that both candidate-join sides
    share — Spark must plan a ReusedExchange, or the minhash runs
    twice."""
    from mtslake.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # AQE defers exchange reuse to runtime; disable it so the static
    # plan shows the reuse decision directly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = minhash_lsh_pairs(docs, jaccard_threshold=0.7)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_maintenance_id_lists_become_range_predicates(spark, store):
    """compact/refresh select their partitions via driver-collected id
    lists; 500 fragmented ids must collapse to O(runs) BETWEEN range
    filters that still drive partition pruning — never a 500-term
    isin."""
    from mtslake.compact import id_range_predicate

    # 250 runs of 2: [0,1], [4,5], [8,9], ...
    ids = [4 * i + j for i in range(250) for j in (0, 1)]
    pred = id_range_predicate("chunk_id", ids)
    df = store.chunks().filter(pred)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "PartitionFilters: []" not in plan
    # the predicate is ranges, not literals: no isin/IN over the ids
    assert " IN (" not in plan and "isin" not in plan
    # semantic check on a contiguous list: one BETWEEN covers all
    chunk_ids = sorted(
        r[0] for r in store.chunks().select("chunk_id").distinct().collect()
    )
    got = sorted(
        r[0] for r in store.chunks()
        .filter(id_range_predicate("chunk_id", chunk_ids))
        .select("chunk_id").distinct().collect()
    )
    assert got == chunk_ids


def test_rollup_is_partial_aggregated(spark, store):
    from mtslake import rollup

    decoded = read.read_range(store)
    r = rollup.rollup_from_series(decoded, "1h")
    plan = r._jdf.queryExecution().executedPlan().toString()
    # hash aggregate with a partial (map-side) phase before the exchange
    assert plan.count("HashAggregate") >= 2


def test_bucketed_series_compress_is_shuffle_free(spark, tmp_path):
    """The warehouse co-location pattern: compress over a url-bucketed
    table must plan ZERO exchanges (the ingest-time bucketing replaces
    the per-run repartition), and decode to exactly what the shuffling
    path produces."""
    from mtslake.catalog import compress_bucketed, save_series_bucketed

    pages = generate_pages(spark, n_urls=8, snapshots_per_url=48)
    series = pages_to_series(pages)
    save_series_bucketed(series, "t_series_bucketed", n_buckets=8)
    try:
        bucketed = compress_bucketed(spark, "t_series_bucketed", DEFAULT)
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        normal = chunk.compress_series(series, DEFAULT)
        a = {tuple(r) for r in chunk.decompress_chunks(bucketed).collect()}
        b = {tuple(r) for r in chunk.decompress_chunks(normal).collect()}
        assert a == b
    finally:
        spark.sql("DROP TABLE IF EXISTS t_series_bucketed")


def test_refresh_tiers_scans_are_partition_pruned(spark, tmp_path):
    """Incremental refresh must be O(affected windows): the chunk
    decode scan carries a chunk_id partition filter and the finer-tier
    re-aggregation scan carries a part_id partition filter — never a
    full-table read."""
    from mtslake import read as read_mod
    from mtslake import rollup
    from mtslake.catalog import ChunkStore

    pages = generate_pages(spark, n_urls=8, snapshots_per_url=96)
    series = pages_to_series(pages)
    st = ChunkStore(spark, str(tmp_path / "prstore"))
    st.write_chunks(chunk.compress_series(series, DEFAULT),
                    mode="overwrite")
    rollup.materialize_tiers(st, read_mod.read_range(st, columns=["value"]))

    units = sorted(
        r[0] for r in st.chunks().select("chunk_id").distinct().collect()
    )[:2]

    # probe the two scans refresh_tiers builds, with its exact filters
    chunks_scan = st.chunks().filter(F.col("chunk_id").isin(units))
    plan = chunks_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "chunk_id" in plan
    assert "PartitionFilters: []" not in plan

    parts_1m = rollup._affected_parts(
        units, DEFAULT.chunk_duration_us, rollup.ROLLUP_PART_US["1m"]
    )
    tier_scan = spark.read.parquet(st.path("rollup_1m")).filter(
        F.col("part_id").isin(parts_1m)
    )
    tplan = tier_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in tplan and "part_id" in tplan
    assert "PartitionFilters: []" not in tplan


def test_value_stat_pruning_skips_chunks(spark, store):
    """Per-chunk channel min/max stats must prune the chunk scan for
    value predicates (PushedFilters on the stat columns) and return
    exactly the rows the unpruned read + exact filter returns."""
    from mtslake.catalog import prune_chunks_by_value

    chunks = store.chunks()
    lo = chunks.agg(F.expr("percentile(value_max, 0.9)")).first()[0]
    pruned = prune_chunks_by_value(chunks, "value", lower=lo)
    assert pruned.count() < chunks.count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "value_max" in plan and "PushedFilters" in plan

    got = read.read_range(store, channel_range={"value": (lo, None)})
    full = read.read_range(store).filter(F.col("value") >= lo)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in full.collect()
    }
    # filter-only channel decode: projecting other columns still works
    slim = read.read_range(store, columns=["n_chars"],
                           channel_range={"value": (lo, None)})
    assert set(slim.columns) == {"url", "lang", "ts_us", "n_chars"}
    assert slim.count() == got.count()


def test_id_range_predicate_equals_isin_property(spark):
    """Property: the balanced range predicate selects exactly the id
    set, for randomized fragmented lists."""
    import random

    from mtslake.compact import id_range_predicate

    rng = random.Random(77)
    universe = list(range(0, 400))
    df = spark.createDataFrame([(i,) for i in universe], "chunk_id long")
    for _ in range(6):
        ids = sorted(rng.sample(universe, rng.randint(1, 120)))
        got = sorted(
            r[0] for r in df.filter(
                id_range_predicate("chunk_id", ids)
            ).collect()
        )
        assert got == ids


def test_pack_chunks_coverage_property(spark):
    """Property: disjoint packing partitions the token list exactly;
    overlapping packing covers every token and consecutive chunks
    overlap by k - stride — randomized doc lengths."""
    import random

    from mtslake.textops import pack_chunks

    rng = random.Random(31)
    rows = []
    for i in range(40):
        n = rng.randint(0, 57)
        rows.append((i, " ".join(f"t{i}w{j}" for j in range(n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for k, stride in [(8, 8), (8, 4), (5, 5), (5, 2)]:
        out = pack_chunks(docs, k=k, stride=stride)
        by_doc = {}
        for r in out.collect():
            by_doc.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["chunk_text"])
            )
        for i, text in rows:
            toks = text.split() if text else []
            chunks = [t for _, t in sorted(by_doc[i])]
            if not toks:
                assert chunks == [""]
                continue
            if stride == k:  # disjoint: exact partition
                assert " ".join(c for c in chunks if c) == " ".join(toks)
            covered = set()
            for c in chunks:
                for w in c.split():
                    covered.add(w)
            assert covered == set(toks), (i, k, stride)


def test_nan_values_do_not_poison_pruning_stats(spark, tmp_path):
    """A float channel containing NaN must not lose VALID rows to
    stat pruning. Spark and DuckDB order NaN larger than any numeric
    in comparisons (NaN >= x true, NaN <= x false), so the
    order-consistent chunk bounds are min = nanmin (finite when any
    finite value exists) and max = plain max (NaN when any NaN
    present). Before the fix, one NaN poisoned value_min to NaN and
    `value_min <= upper` pruned the whole chunk — silent data loss."""
    import math

    from mtslake.catalog import prune_chunks_by_value

    day = 86_400_000_000
    rows = []
    # chunk 0: finite values 1..5 plus two NaNs (the hazard chunk)
    for i, v in enumerate([1.0, float("nan"), 3.0, float("nan"), 5.0]):
        rows.append(("https://a.example.com/x", i * 3_600_000_000,
                     10, v, "00" * 20, "en"))
    # chunk 1: all-NaN (prunable for <= upper, kept for >= lower)
    for i in range(3):
        rows.append(("https://a.example.com/x", day + i * 3_600_000_000,
                     10, float("nan"), "00" * 20, "en"))
    # chunk 2: plain finite chunk far out of range
    for i in range(3):
        rows.append(("https://a.example.com/x", 2 * day + i * 3_600_000_000,
                     10, 100.0 + i, "00" * 20, "en"))
    series = spark.createDataFrame(
        rows,
        "url string, ts_us long, n_chars long, value double, "
        "text_sha1 string, lang string",
    )
    st = ChunkStore(spark, str(tmp_path / "nanstore"))
    st.write_chunks(chunk.compress_series(series, DEFAULT),
                    mode="overwrite")

    stats = {r["chunk_id"]: (r["value_min"], r["value_max"])
             for r in st.chunks().select(
                 "chunk_id", "value_min", "value_max").collect()}
    assert stats[0][0] == 1.0          # nanmin: finite lower bound
    assert math.isnan(stats[0][1])     # engine-order max of the chunk
    assert math.isnan(stats[1][0]) and math.isnan(stats[1][1])
    assert stats[2] == (100.0, 102.0)

    def canon(df):
        return {
            (r["ts_us"], "NaN" if (r["value"] is not None
                                   and math.isnan(r["value"]))
             else r["value"])
            for r in df.collect()
        }

    full = read.read_range(st)
    # upper-bound predicate: the mixed chunk's finite rows survive
    # (pre-fix they were silently pruned); NaN rows correctly excluded
    got = read.read_range(st, channel_range={"value": (None, 4.0)})
    exp = full.filter(F.col("value") <= 4.0)
    assert canon(got) == canon(exp) == {(0, 1.0), (2 * 3_600_000_000, 3.0)}
    # the all-NaN chunk is stat-pruned for <= upper (nothing matches)
    pruned = prune_chunks_by_value(st.chunks(), "value", upper=4.0)
    assert {r["chunk_id"] for r in pruned.select("chunk_id").collect()} \
        == {0}
    # lower-bound predicate: engine semantics keep NaN rows (NaN >= x)
    got_lo = read.read_range(st, channel_range={"value": (2.0, None)})
    exp_lo = full.filter(F.col("value") >= 2.0)
    assert canon(got_lo) == canon(exp_lo)
    assert ("NaN" in {v for _, v in canon(got_lo)})


def test_rate_keeps_zero_delta_rows_with_null_rate(spark):
    """Duplicate timestamps: rate() must KEEP those rows with a null
    rate (try_divide) so the caller sees the collision — under ANSI
    mode (Spark 4 default) a plain Divide would hard-fail the job on
    the zero divisor instead. Only each key's first observation (no
    predecessor) is dropped."""
    from mtslake.series import rate

    df = spark.createDataFrame(
        [("k", 0, 1.0), ("k", 1_000_000, 3.0),
         ("k", 1_000_000, 9.0), ("k", 2_000_000, 10.0)],
        "url string, ts_us long, value double",
    )
    out = rate(df, key="url", tiebreak="value").orderBy("ts_us", "value")
    got = [(r["ts_us"], r["value"], r["rate"]) for r in out.collect()]
    assert len(got) == 3                      # first row dropped, rest kept
    assert got[0] == (1_000_000, 3.0, 2.0)
    assert got[1][2] is None                  # zero delta: explicit null
    assert got[2] == (2_000_000, 10.0, 1.0)


def test_time_weighted_plan_shape(spark):
    """The interval ops' final (key, bucket) aggregation must be
    partial-aggregated (map-side combine above the explode), and the
    whole operator costs exactly ONE exchange: hash(key) from the lead
    window already CLUSTERS (key, bucket), so Catalyst plans the
    bucket aggregation without a second shuffle and the explode is
    narrow."""
    from mtslake import gapfill

    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 7_200_000_000, 2.0)],
        "url string, ts_us long, value double",
    )
    plan = gapfill.time_weighted(df, "1h")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange") == 1, plan


def test_uptime_plan_shape(spark):
    """uptime stacks sessionize (window) + island agg + bucket agg —
    every stage groups on a superset of the window's hash(key)
    partitioning, so the whole three-stage operator costs ONE
    exchange."""
    from mtslake.sessions import uptime

    df = spark.createDataFrame(
        [("a", 0), ("a", 7_200_000_000)], "url string, ts_us long")
    plan = uptime(df, 1_800_000_000, "1h")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange") == 1, plan


def test_register_views_sql_surface(spark, store):
    """The SQL surface reads the same storage with the same pruning:
    a chunk_id-filtered SQL query over the registered view must show
    partition filters in its plan, and SQL results must equal the
    DataFrame API's."""
    from mtslake.catalog import register_views

    names = register_views(store)
    assert "mtslake_chunks" in names and "mtslake_catalog" in names
    # only existing tables are registered — this fixture store has no tiers
    assert not any(n.endswith("rollup_1h") for n in names)
    sql_cnt = spark.sql("SELECT count(*) FROM mtslake_chunks").first()[0]
    assert sql_cnt == store.chunks().count()
    plan = spark.sql(
        "SELECT * FROM mtslake_chunks WHERE chunk_id = 1"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "chunk_id" in plan, plan


def test_cusum_plan_single_exchange(spark):
    """cusum_flags stacks four window specs (full-frame totals,
    row_number, running sum, running min/max) — all partitioned by the
    SAME key, so the whole operator costs exactly ONE exchange and the
    sort is planned once per distinct ordering."""
    from mtslake.series import cusum_flags

    tier = spark.createDataFrame(
        [("a", "en", 0, 5), ("a", "en", 3_600_000_000, 6)],
        "url_prefix string, lang string, bucket_us long, cnt long",
    )
    plan = cusum_flags(tier)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_mad_plan_single_exchange(spark):
    """mad_flags' four windows (two cume_dist sorts + two full-frame
    medians) all hash on the key: one exchange, the two value/dev
    sorts are partition-local."""
    from mtslake.series import mad_flags

    tier = spark.createDataFrame(
        [("a", "en", 0, 5), ("a", "en", 3_600_000_000, 6)],
        "url_prefix string, lang string, bucket_us long, cnt long",
    )
    plan = mad_flags(tier)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_acf_join_is_co_partitioned_and_partial_aggregated(spark):
    """acf_stats' lag self-join hashes both sides on (keys, bucket) —
    no broadcast of a big side, no extra exchange beyond the two join
    inputs — and the corr aggregation is map-side partial."""
    from mtslake.series import acf_stats

    tier = spark.createDataFrame(
        [("a", "en", i * 3_600_000_000, i) for i in range(4)],
        "url_prefix string, lang string, bucket_us long, cnt long",
    )
    plan = acf_stats(tier, 3_600_000_000, lag=1)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_multimodal_kernels_spread_to_shuffle_width(spark):
    """Every multimodal Python kernel must sit above an explicit-N
    round-robin exchange (exempt from AQE coalescing): media rows are
    byte-small next to their kernel cost, so a tiny source's split
    math — or AQE's byte-based coalescing below a join — would
    otherwise run the kernel on a handful of tasks (measured 8x-sweep
    regression class, round 6 §11)."""
    from mtslake.multimodal import extract_features, synthesize_media

    docs = spark.createDataFrame(
        [(i, f"text {i}", 10) for i in range(20)],
        "doc_id long, text string, n_chars long",
    )
    feats = extract_features(synthesize_media(docs))
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "RoundRobinPartitioning" in plan, plan


def test_embedding_near_dup_all_pairs_spreads_stream_side(spark):
    """The all-pairs variant's inequality join nest-loops with the
    STREAM side's parallelism = the scan's split count; a one-split
    input must be spread so the quadratic cosine verify does not
    serialize on one task (round 6 §12). The conditional _spread only
    fires when splits < cores, so a wide table pays no shuffle."""
    from mtslake.dedup import embedding_near_dupes

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)  # model the one-split scan that serialized the verify
    out = embedding_near_dupes(emb, threshold=0.99, dim=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("BroadcastNestedLoopJoin" in plan
            or "CartesianProduct" in plan), plan
    assert "RoundRobinPartitioning" in plan, plan
    # and with a wide input the spread must NOT add a shuffle
    wide = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    plan_w = embedding_near_dupes(wide, threshold=0.99, dim=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan_w, plan_w
