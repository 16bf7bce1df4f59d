"""spark-submit job smoke tests (≙ the reference CLI pipeline test,
tests.py:533-712: compress → desc → decomp via entry points)."""

import pytest
from pyspark.sql import functions as F

from mtslake.jobs import compress as job_compress
from mtslake.jobs import ingest as job_ingest
from mtslake.jobs import retention as job_retention
from mtslake.jobs import rollup as job_rollup
from mtslake.jobs import verify as job_verify


def test_full_job_pipeline(spark, tmp_path):
    store = str(tmp_path / "lake")
    # --hot 0: hot-url amplification would stretch the span past the
    # 30-day raw retention horizon and make the no-drop assert wrong
    job_ingest.main(["--store", store, "--n-urls", "20", "--snapshots", "48",
                     "--hot", "0"])
    pages = spark.read.parquet(f"{store}/pages")
    assert pages.count() > 0
    assert set(pages.columns) == {"url", "warc_ts", "html", "text", "lang"}

    job_compress.main(["--store", store, "--job-id", "t1"])
    chunks = spark.read.parquet(f"{store}/chunks")
    assert chunks.count() > 0

    job_rollup.main(["--store", store])
    for tier in ("1m", "1h", "1d"):
        assert spark.read.parquet(f"{store}/rollup_{tier}").count() > 0

    # verify must pass on an untampered store
    job_verify.main(["--store", store])

    now = chunks.agg(F.max("ts_max")).first()[0]
    job_retention.main(["--store", store, "--now-us", str(int(now))])
    # default raw horizon (30d) > fixture span -> nothing dropped
    assert spark.read.parquet(f"{store}/chunks").count() == chunks.count()

    # re-running compress is a checkpoint no-op
    job_compress.main(["--store", store, "--job-id", "t1"])
    assert spark.read.parquet(f"{store}/chunks").count() == chunks.count()


def test_verify_job_fails_on_tamper(spark, tmp_path):
    store = str(tmp_path / "lake2")
    job_ingest.main(["--store", store, "--n-urls", "5", "--snapshots", "24"])
    job_compress.main(["--store", store, "--job-id", "t2"])
    # tamper: flip bytes in one chunk payload and rewrite the store
    chunks = spark.read.parquet(f"{store}/chunks")
    bad = chunks.withColumn(
        "p_value",
        F.when(
            F.col("chunk_id") == chunks.select("chunk_id").first()[0],
            F.concat(F.expr("substring(p_value, 1, 18)"), F.lit(b"\x00\x01"),
                     F.expr("substring(p_value, 21, 100000000)")),
        ).otherwise(F.col("p_value")),
    )
    bad.write.mode("overwrite").parquet(f"{store}/chunks_bad")
    import shutil
    shutil.rmtree(f"{store}/chunks")
    shutil.move(f"{store}/chunks_bad", f"{store}/chunks")
    with pytest.raises(Exception):
        job_verify.main(["--store", store])


def test_describe_chop_decompress_jobs(spark, tmp_path, capsys):
    """CLI parity for mtsdesc / mtschop / mtsdecomp
    (mtscomp.py:1085-1179)."""
    from mtslake.jobs import chop as job_chop
    from mtslake.jobs import decompress as job_decompress
    from mtslake.jobs import describe as job_describe

    store = str(tmp_path / "lake3")
    job_ingest.main(["--store", store, "--n-urls", "6", "--snapshots", "24",
                     "--hot", "0"])
    job_compress.main(["--store", store, "--job-id", "t3"])

    job_describe.main(["--store", store])
    out = capsys.readouterr().out
    assert "n_chunks" in out and "ratio" in out

    # decompress sink honors check_after_decompress (on by default)
    dec_path = str(tmp_path / "decoded")
    job_decompress.main(["--store", store, "--out", dec_path])
    assert "check=on" in capsys.readouterr().out
    decoded = spark.read.parquet(dec_path)
    orig = spark.read.parquet(f"{store}/chunks")
    assert decoded.count() == orig.agg(F.sum("n_points")).first()[0]

    # chop: drop the upper half of chunk ids, payloads untouched
    from mtslake import retention as R
    from mtslake.catalog import ChunkStore

    st = ChunkStore(spark, store)
    parts = R.list_chunk_partitions(st)
    cut = parts[len(parts) // 2]
    job_chop.main(["--store", store, "--keep-chunks-before", str(cut)])
    assert R.list_chunk_partitions(st) == [p for p in parts if p < cut]


def test_check_after_compress_knob(spark, tmp_path, monkeypatch):
    """The knob must actually drive the automatic post-write SHA1
    check (≙ mtscomp.py:497-506) — observe the call, both ways."""
    from mtslake import chunk as chunk_mod
    from mtslake import lineage as lineage_mod
    from mtslake.catalog import ChunkStore
    from mtslake.config import DEFAULT
    from mtslake.datagen import generate_pages
    from mtslake.series import pages_to_series

    calls = []
    real = chunk_mod.verify_chunks

    def spy(df, *args, **kw):
        calls.append(df)
        return real(df, *args, **kw)

    monkeypatch.setattr(chunk_mod, "verify_chunks", spy)
    series = pages_to_series(
        generate_pages(spark, n_urls=4, snapshots_per_url=12)
    )
    st = ChunkStore(spark, str(tmp_path / "lk_on"))
    lineage_mod.ResumableCompressJob(
        st, "on", DEFAULT.with_overrides(check_after_compress=True)
    ).run(series)
    assert calls

    calls.clear()
    st2 = ChunkStore(spark, str(tmp_path / "lk_off"))
    lineage_mod.ResumableCompressJob(
        st2, "off", DEFAULT.with_overrides(check_after_compress=False)
    ).run(series)
    assert calls == []


def test_hot_chunk_points_segments_and_roundtrips(spark):
    """hot_chunk_points caps points per encoded chunk row: a hot
    (url, chunk_id) encodes as several segment rows (bounded encoder
    memory), and the decode is bit-identical to the unsegmented path."""
    from mtslake import chunk as chunk_mod
    from mtslake.config import DEFAULT
    from mtslake.datagen import generate_pages
    from mtslake.series import pages_to_series

    series = pages_to_series(
        generate_pages(spark, n_urls=3, snapshots_per_url=200)
    )
    cfg = DEFAULT.with_overrides(hot_chunk_points=40)
    seg = chunk_mod.compress_series(series, cfg)
    assert seg.agg(F.max("n_points")).first()[0] <= 40
    key_rows = seg.groupBy("url", "chunk_id").count()
    assert key_rows.agg(F.max("count")).first()[0] > 1
    dec = {tuple(r) for r in chunk_mod.decompress_chunks(seg).collect()}
    ref = {tuple(r) for r in chunk_mod.decompress_chunks(
        chunk_mod.compress_series(series, DEFAULT)).collect()}
    assert dec == ref


def test_before_check_hook_seam(spark, tmp_path):
    """≙ Writer(before_check=...) (mtscomp.py:241,498-499): the callback
    runs just before each batch's post-write verification — and only
    when the check itself is enabled. A hook that tampers the written
    payloads must make the automatic check hard-fail (the reference's
    own tamper-test pattern, tests.py:345-379)."""
    import shutil

    from mtslake import lineage as lineage_mod
    from mtslake.catalog import ChunkStore
    from mtslake.config import DEFAULT
    from mtslake.datagen import generate_pages
    from mtslake.series import pages_to_series

    series = pages_to_series(
        generate_pages(spark, n_urls=4, snapshots_per_url=12)
    )

    seen = []
    st = ChunkStore(spark, str(tmp_path / "hooked"))
    lineage_mod.ResumableCompressJob(
        st, "h1", DEFAULT.with_overrides(check_after_compress=True),
        units_per_batch=1000, before_check=lambda job: seen.append(job),
    ).run(series)
    assert len(seen) == 1 and seen[0].store is st

    # check disabled -> hook never fires (mirrors the reference: the
    # callback lives inside the check_after_compress branch)
    seen.clear()
    st_off = ChunkStore(spark, str(tmp_path / "hooked_off"))
    lineage_mod.ResumableCompressJob(
        st_off, "h2", DEFAULT.with_overrides(check_after_compress=False),
        units_per_batch=1000, before_check=lambda job: seen.append(job),
    ).run(series)
    assert seen == []

    # tamper via the hook -> the automatic check must hard-fail
    def tamper(job):
        p = job.store.path("chunks")
        chunks = spark.read.parquet(p)
        bad = chunks.withColumn(
            "p_value",
            F.concat(F.expr("substring(p_value, 1, 18)"), F.lit(b"\x00\x01"),
                     F.expr("substring(p_value, 21, 100000000)")),
        )
        bad.write.mode("overwrite").parquet(p + "_bad")
        shutil.rmtree(p)
        shutil.move(p + "_bad", p)
        spark.catalog.refreshByPath(p)

    # the tamper hard-fails the check either at payload decode (corrupt
    # deflate stream) or at the sha1 compare — both are the required
    # loud failure, never a silent pass
    st2 = ChunkStore(spark, str(tmp_path / "tampered"))
    with pytest.raises(Exception,
                       match="integrity|CRITICAL|sha1|zlib|decompress"):
        lineage_mod.ResumableCompressJob(
            st2, "h3", DEFAULT.with_overrides(check_after_compress=True),
            units_per_batch=1000, before_check=tamper,
        ).run(series)


def test_store_meta_pin_guards(spark, tmp_path):
    """The pinned chunk_duration_us must be defended on every write:
    conflicting append -> hard error; overwrite -> re-pin."""
    from mtslake import chunk as chunk_mod
    from mtslake.catalog import ChunkStore
    from mtslake.config import DEFAULT, US_PER_HOUR
    from mtslake.datagen import generate_pages
    from mtslake.series import pages_to_series

    series = pages_to_series(
        generate_pages(spark, n_urls=3, snapshots_per_url=8)
    )
    st = ChunkStore(spark, str(tmp_path / "pinstore"))
    st.write_chunks(chunk_mod.compress_series(series, DEFAULT),
                    mode="overwrite", cfg=DEFAULT)
    assert st.load_meta()["chunk_duration_us"] == DEFAULT.chunk_duration_us

    cfg_h = DEFAULT.with_overrides(chunk_duration_us=US_PER_HOUR)
    with pytest.raises(ValueError, match="pinned layout"):
        st.write_chunks(chunk_mod.compress_series(series, cfg_h),
                        mode="append", cfg=cfg_h)

    # overwrite replaces the data wholesale -> the pin follows
    st.write_chunks(chunk_mod.compress_series(series, cfg_h),
                    mode="overwrite", cfg=cfg_h)
    assert st.load_meta()["chunk_duration_us"] == US_PER_HOUR
    assert st.cfg_for_store(DEFAULT).chunk_duration_us == US_PER_HOUR


def test_compact_merges_fragmented_chunks(spark, tmp_path):
    """Hot-chunk segmentation fragments a chunk into several payload
    rows; compact() must rewrite exactly those partitions back to the
    canonical batch layout — decoded points unchanged, rows equal a
    from-scratch compress, catalog in lockstep, second run a no-op."""
    from mtslake import chunk as chunk_mod
    from mtslake.catalog import ChunkStore
    from mtslake.compact import compact, fragmented_chunk_ids
    from mtslake.config import DEFAULT
    from mtslake.datagen import generate_pages
    from mtslake.series import pages_to_series

    series = pages_to_series(
        generate_pages(spark, n_urls=6, snapshots_per_url=48)
    )
    small = DEFAULT.with_overrides(hot_chunk_points=10)
    st = ChunkStore(spark, str(tmp_path / "fragstore"))
    st.write_chunks(chunk_mod.compress_series(series, small),
                    mode="overwrite", cfg=small)
    assert fragmented_chunk_ids(st, DEFAULT.hot_chunk_points)

    before = st.chunks().count()
    res = compact(st, DEFAULT)
    # rows_before counts only the affected partitions (chunks without
    # fragmentation are never touched or counted)
    assert res["rows_after"] < res["rows_before"] <= before

    canonical = chunk_mod.compress_series(series, DEFAULT)
    # partition column lands last on read — align column order
    assert {
        tuple(r) for r in st.chunks().select(*canonical.columns).collect()
    } == {tuple(r) for r in canonical.collect()}
    assert st.catalog().count() == st.chunks().count()
    decoded = {
        tuple(r)
        for r in chunk_mod.decompress_chunks(st.chunks())
        .select(*series.columns).collect()
    }
    assert decoded == {tuple(r) for r in series.collect()}

    # idempotent
    assert compact(st, DEFAULT)["chunk_ids"] == []


def test_dedup_job_build_and_probe(spark, tmp_path, sf_dir, capsys):
    """jobs/dedup.py smoke: build the index from an old corpus, probe a
    new batch, pairs land in parquet and the index grows."""
    from mtslake.jobs import dedup as job_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    docs.filter(F.col("doc_id") < 300).write.parquet(old_p)
    docs.filter(F.col("doc_id") >= 300).write.parquet(new_p)
    corpus_p = str(tmp_path / "corpus")
    docs.write.parquet(corpus_p)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "pairs")

    common = ["--store", str(tmp_path / "lake"), "--master", "local[4]"]
    job_dedup.main(["build", "--docs", old_p, "--index", idx,
                    "--bands", "64", *common])
    before = spark.read.parquet(idx).count()
    job_dedup.main([
        "probe", "--docs", corpus_p, "--index", idx, "--new-docs", new_p,
        "--out", out, "--jaccard-threshold", "0.5", *common,
    ])
    spark.catalog.refreshByPath(idx)
    after = spark.read.parquet(idx).count()
    assert after > before  # the batch was appended
    pairs = spark.read.parquet(out)
    assert set(pairs.columns) == {"id_a", "id_b", "jaccard"}
    # every pair involves a new doc (old-old pairs belong to build time)
    assert pairs.filter(
        (F.col("id_a") < 300) & (F.col("id_b") < 300)
    ).count() == 0


def test_snapshot_job_commit_list_rollback(spark, tmp_path, capsys):
    """snapshot CLI: commit after the compress job, append a second
    batch (new urls), list shows liveness, rollback restores batch 1.
    (A dynamic-partition OVERWRITE of a pinned partition would expire
    the snapshot — that is Iceberg's contract too; appends are the
    snapshot-safe ingest path.)"""
    from mtslake import chunk as _chunk
    from mtslake.catalog import ChunkStore
    from mtslake.config import DEFAULT
    from mtslake.datagen import generate_pages
    from mtslake.jobs import snapshot as job_snapshot
    from mtslake.series import pages_to_series

    store = str(tmp_path / "lake_snap")
    job_ingest.main(["--store", store, "--n-urls", "4", "--snapshots", "12",
                     "--hot", "0"])
    job_compress.main(["--store", store, "--job-id", "s1"])
    job_snapshot.main(["--store", store, "commit", "--operation", "b1"])
    st = ChunkStore(spark, store)
    n1 = st.catalog().agg(F.sum("n_points")).first()[0]

    # nightly append: urls NOT in batch 1 (deterministic superset diff)
    pages9 = generate_pages(spark, n_urls=9, snapshots_per_url=12, n_hot=0)
    pages4 = generate_pages(spark, n_urls=4, snapshots_per_url=12, n_hot=0)
    fresh = pages_to_series(
        pages9.join(pages4.select("url"), "url", "left_anti")
    )
    st.write_chunks(_chunk.compress_series(fresh, DEFAULT), mode="append")
    job_snapshot.main(["--store", store, "commit", "--operation", "b2"])
    capsys.readouterr()

    job_snapshot.main(["--store", store, "list"])
    out = capsys.readouterr().out
    assert "b1" in out and "b2" in out and "EXPIRED" not in out

    job_snapshot.main(["--store", store, "rollback", "--to", "1"])
    assert st.catalog().agg(F.sum("n_points")).first()[0] == n1
    job_snapshot.main(["--store", store, "list"])
    assert "EXPIRED" in capsys.readouterr().out


def test_webgraph_job(spark, tmp_path, capsys):
    from mtslake.jobs import ingest as job_ingest2
    from mtslake.jobs import webgraph as job_webgraph

    store = str(tmp_path / "lake")
    job_ingest2.main(["--store", store, "--n-urls", "12", "--snapshots", "4",
                      "--hot", "0"])
    # give the fixture pages real out-links: rewrite html with hrefs
    pages = spark.read.parquet(f"{store}/pages")
    linked = pages.withColumn(
        "html",
        F.encode(
            F.concat(
                F.lit('<html><a href="https://hub.example.com/x">hub</a>'),
                F.decode("html", "UTF-8"),
                F.lit("</html>"),
            ),
            "UTF-8",
        ),
    )
    linked.write.mode("overwrite").parquet(str(tmp_path / "linked"))

    out = str(tmp_path / "graph")
    job_webgraph.main([
        "--store", store, "--pages", str(tmp_path / "linked"),
        "--out", out, "--pagerank-iters", "5", "--hits-iters", "3",
    ])
    edges = spark.read.parquet(f"{out}/edges")
    # every source host links to hub.example.com
    assert edges.filter(F.col("dst_host") == "hub.example.com").count() > 0
    pr = {r["host"]: r["pr"]
          for r in spark.read.parquet(f"{out}/pagerank").collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert pr["hub.example.com"] == max(pr.values())
    hs = spark.read.parquet(f"{out}/hits")
    auth = {r["host"]: r["auth"] for r in hs.collect()}
    assert auth["hub.example.com"] == max(auth.values())
    assert "edges" in capsys.readouterr().out


def test_freshness_job(spark, tmp_path, capsys):
    from mtslake.jobs import freshness as job_freshness
    from mtslake.jobs import ingest as job_ingest3

    store = str(tmp_path / "lake")
    job_ingest3.main(["--store", store, "--n-urls", "10", "--snapshots", "5",
                      "--hot", "0"])
    out = str(tmp_path / "fresh")
    job_freshness.main([
        "--store", store, "--pages", f"{store}/pages", "--out", out,
        "--shingle-k", "1", "--lease-minutes", "30",
        "--uptime-tier", "1h",
    ])
    cs = spark.read.parquet(f"{out}/change_stats")
    assert cs.count() == 10
    assert set(cs.columns) >= {"url", "n_snapshots", "n_changes"}
    dr = spark.read.parquet(f"{out}/drift")
    assert dr.count() == 10
    # 5 snapshots -> 4 pairs (the datagen duplicate-ts fixture can
    # collapse one snapshot on one url -> 3)
    assert dr.agg(F.min("n_pairs")).collect()[0][0] >= 3
    assert dr.agg(F.max("n_pairs")).collect()[0][0] == 4
    up = spark.read.parquet(f"{out}/uptime")
    assert up.count() > 0
    # uptime per bucket can never exceed the bucket
    assert up.agg(F.max("uptime_us")).collect()[0][0] <= 3_600_000_000
    assert "uptime buckets" in capsys.readouterr().out


def test_analytics_job(spark, tmp_path, capsys):
    from mtslake.jobs import analytics as job_analytics
    from mtslake.jobs import compress as job_compress2
    from mtslake.jobs import ingest as job_ingest4

    store = str(tmp_path / "lake")
    job_ingest4.main(["--store", store, "--n-urls", "8", "--snapshots", "24",
                      "--hot", "0"])
    job_compress2.main(["--store", store, "--job-id", "a1"])
    out = str(tmp_path / "analytics")
    job_analytics.main(["--store", store, "--out", out, "--tier", "1h",
                        "--quantiles", "0.5,0.9"])
    oh = spark.read.parquet(f"{out}/ohlc")
    assert oh.count() > 0
    assert {"open", "high", "low", "close"} <= set(oh.columns)
    # candles are internally consistent
    bad = oh.where((F.col("low") > F.col("high"))
                   | (F.col("open") > F.col("high"))
                   | (F.col("close") < F.col("low"))).count()
    assert bad == 0
    q = spark.read.parquet(f"{out}/quantiles")
    assert {"p50", "p90"} <= set(q.columns)
    assert q.where(F.col("p50") > F.col("p90")).count() == 0
    tw = spark.read.parquet(f"{out}/twa")
    assert tw.count() > 0 and "twa" in tw.columns
    cr = spark.read.parquet(f"{out}/corr")
    assert {"sxy", "r"} <= set(cr.columns)
    assert "corr groups" in capsys.readouterr().out


def test_analytics_job_m4_surface(spark, tmp_path):
    from mtslake.jobs import analytics as job_analytics2
    from mtslake.jobs import compress as job_compress3
    from mtslake.jobs import ingest as job_ingest5

    store = str(tmp_path / "lake")
    job_ingest5.main(["--store", store, "--n-urls", "4", "--snapshots", "30",
                      "--hot", "0"])
    job_compress3.main(["--store", store, "--job-id", "m1"])
    out = str(tmp_path / "an")
    job_analytics2.main(["--store", store, "--out", out,
                         "--surfaces", "m4", "--m4-width", "16"])
    m4 = spark.read.parquet(f"{out}/m4")
    n = m4.count()
    assert 0 < n
    # ≤ 4 rows per (key, pixel column); all rows carry original values
    assert n <= 4 * 16 * 4 + 4 * 4   # keys * cols * 4 + slack for tail


def test_stream_job(spark, tmp_path, capsys):
    from mtslake.datagen import generate_pages
    from mtslake.jobs import stream as job_stream
    from mtslake.series import pages_to_series

    src = str(tmp_path / "src")
    series = pages_to_series(
        generate_pages(spark, n_urls=6, snapshots_per_url=40, n_hot=0))
    series.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "stream")
    job_stream.main(["--store", str(tmp_path / "lk"), "--src", src,
                     "--out", out, "--surfaces", "rollup,uptime",
                     "--tier", "1m", "--available-now"])
    ro = spark.read.parquet(f"{out}/rollup")
    assert ro.count() > 0 and "vsum" in ro.columns
    up = spark.read.parquet(f"{out}/uptime")
    assert up.count() > 0
    assert up.agg(F.max("uptime_us")).first()[0] <= 3_600_000_000
    assert "rollup" in capsys.readouterr().out

    # restart with the same checkpoints: availableNow drains nothing
    # new -> counts unchanged (checkpoint-resume contract)
    n_ro, n_up = ro.count(), up.count()
    job_stream.main(["--store", str(tmp_path / "lk"), "--src", src,
                     "--out", out, "--surfaces", "rollup,uptime",
                     "--tier", "1m", "--available-now"])
    assert spark.read.parquet(f"{out}/rollup").count() == n_ro
    assert spark.read.parquet(f"{out}/uptime").count() == n_up


def test_hygiene_job(spark, tmp_path, capsys):
    from mtslake.jobs import hygiene as job_hygiene

    docs = spark.createDataFrame(
        [(i, f"doc {i} " + ("alpha beta gamma delta epsilon zeta eta "
                            "theta " * 3 if i % 4 == 0 else
                            f"unique words number {i} spread over tokens "
                            f"row {i} value {i}"),
          "en" if i % 2 else "de", "web")
         for i in range(40)],
        "doc_id long, text string, lang string, source string",
    )
    d = str(tmp_path / "docs")
    docs.write.parquet(d)
    bench = str(tmp_path / "bench")
    docs.where("doc_id % 4 = 0").select("doc_id", "text") \
        .write.parquet(bench)
    out = str(tmp_path / "clean")
    job_hygiene.main([
        "--store", str(tmp_path / "lake"), "--docs", d,
        "--benchmark", bench, "--out", out,
        "--max-contam-frac", "0.3", "--sample-per-stratum", "3",
    ])
    cleaned = spark.read.parquet(f"{out}/clean")
    scores = spark.read.parquet(f"{out}/scores")
    sample = spark.read.parquet(f"{out}/sample")
    # the benchmark-identical docs are contaminated -> filtered out
    assert cleaned.where("doc_id % 4 = 0").count() == 0
    assert cleaned.count() == 30
    assert {"n_paragraphs", "n_dropped", "contam_frac", "n_pairs",
            "ll_score"} <= set(scores.columns)
    assert scores.count() == 40
    # balanced sample: <= 3 per (lang, source)
    mx = sample.groupBy("lang", "source").count() \
        .agg(F.max("count")).first()[0]
    assert mx <= 3
    assert "clean" in capsys.readouterr().out


def test_fragmented_detection_full_segment_plus_fragments(spark, tmp_path):
    """Regression: the old test was max(n_points) < max_points, which
    exempted any chunk whose LARGEST row was a full segment — streaming
    flush fragments sitting beside a full segment were never compacted.
    Canonical = full segments + at most ONE partial row; two partials
    (or any oversized row) mean fragmented."""
    from mtslake import chunk as chunk_mod, read as read_mod
    from mtslake.catalog import ChunkStore
    from mtslake.compact import compact, fragmented_chunk_ids
    from mtslake.config import DEFAULT
    from pyspark.sql import functions as F_

    hot = 100
    cfg = DEFAULT.with_overrides(hot_chunk_points=hot)

    def _series(lo, n):
        rows = [("https://a.example.com/x", "en", (lo + i) * 1_000_000,
                 float(i % 7)) for i in range(n)]
        return spark.createDataFrame(
            rows, "url string, lang string, ts_us long, value double"
        ).select(
            "url", "lang", "ts_us",
            F_.length(F_.lit("x")).cast("long").alias("n_chars"),
            "value",
            F_.sha1(F_.lit("t")).alias("text_sha1"),
        )

    st = ChunkStore(spark, str(tmp_path / "st"))
    # batch 1: 250 points -> rows [100, 100, 50] (canonical: one partial)
    st.write_chunks(chunk_mod.compress_series(_series(0, 250), cfg),
                    mode="overwrite", cfg=cfg)
    assert fragmented_chunk_ids(st, hot) == []
    # batch 2 appends 30 more points into the SAME chunk -> a second
    # partial row beside the full segments: now fragmented
    st.write_chunks(chunk_mod.compress_series(_series(250, 30), cfg),
                    mode="append", cfg=cfg)
    assert fragmented_chunk_ids(st, hot) != []
    res = compact(st, cfg)
    assert res["rows_after"] < res["rows_before"]
    assert fragmented_chunk_ids(st, hot) == []   # idempotent
    # layout is canonical and no point was lost
    pts = st.catalog().agg(F_.sum("n_points")).first()[0]
    assert pts == 280
    assert read_mod.read_range(st).count() == 280


def test_fragmented_detection_oversized_row(spark, tmp_path):
    """A single row sealed under an older, LARGER hot_chunk_points
    exceeds the current bound: _n > 1 never fires for it, so the
    oversized case needs (and has) its own max(n_points) > max_points
    arm; compact re-segments it."""
    from mtslake import chunk as chunk_mod
    from mtslake.catalog import ChunkStore
    from mtslake.compact import compact, fragmented_chunk_ids
    from mtslake.config import DEFAULT
    from pyspark.sql import functions as F_

    big = DEFAULT.with_overrides(hot_chunk_points=10_000)
    rows = [("https://a.example.com/x", "en", i * 1_000_000, float(i % 7))
            for i in range(300)]
    series = spark.createDataFrame(
        rows, "url string, lang string, ts_us long, value double"
    ).select(
        "url", "lang", "ts_us",
        F_.lit(1).cast("long").alias("n_chars"), "value",
        F_.sha1(F_.lit("t")).alias("text_sha1"),
    )
    st = ChunkStore(spark, str(tmp_path / "st"))
    st.write_chunks(chunk_mod.compress_series(series, big),
                    mode="overwrite", cfg=big)
    small = DEFAULT.with_overrides(hot_chunk_points=100)
    assert fragmented_chunk_ids(st, 100) != []
    compact(st, small)
    assert fragmented_chunk_ids(st, 100) == []
    assert st.catalog().agg(F_.max("n_points")).first()[0] <= 100


def test_lineage_reads_pre_rename_rows_schema_merged(spark, tmp_path):
    """ADVICE r5 (lineage.py): resuming a store written before the
    wall_ms -> batch_wall_ms rename mixes two file schemas in one
    lineage/ directory; lineage() must surface BOTH generations (the
    legacy wall coalesced into batch_wall_ms, units_in_batch=1), not
    silently drop whichever column Spark's single-file inference
    missed."""
    from mtslake import lineage as lineage_mod
    from mtslake.catalog import ChunkStore

    st = ChunkStore(spark, str(tmp_path / "store"))
    job = lineage_mod.ResumableCompressJob(st, "mig")
    # legacy-schema file: one wall_ms per unit, no batch columns
    spark.createDataFrame(
        [("mig", 1, 2, 100, 4400, 1100, 0.25, 77)],
        "job_id string, unit long, n_chunks long, n_points long, "
        "raw_nbytes long, comp_nbytes long, ratio double, wall_ms long",
    ).write.mode("append").parquet(st.path("lineage"))
    # current-schema file
    spark.createDataFrame(
        [("mig", 2, 3, 200, 8800, 2200, 0.25, 120, 2)],
        "job_id string, unit long, n_chunks long, n_points long, "
        "raw_nbytes long, comp_nbytes long, ratio double, "
        "batch_wall_ms long, units_in_batch long",
    ).write.mode("append").parquet(st.path("lineage"))
    ln = job.lineage()
    assert "wall_ms" not in ln.columns
    rows = {r["unit"]: r for r in ln.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["batch_wall_ms"] == 77
    assert rows[1]["units_in_batch"] == 1
    assert rows[2]["batch_wall_ms"] == 120
    assert rows[2]["units_in_batch"] == 2
