"""Component tests: queue semantics (t/queue.t analog), distributed seq
assignment, bloom filter and seen set, snapshot store, image codecs/fidelity."""

import numpy as np
import pytest

from wcm_spark.images import (
    LOSSLESS_FMT,
    LOSSY_FMT,
    decode_image,
    encode_image,
    gen_image,
    phash64,
    psnr,
)
from wcm_spark.operators.dedup import NumpyBloom


# -- queue semantics (t/queue.t:15-54) --------------------------------------


def test_frontier_queue_semantics(spark):
    from wcm_spark.frontier import Frontier

    q = Frontier(spark)
    assert q.enqueue("http://example.com/")
    assert q.next()["url"] == "http://example.com/"
    assert q.length() == 1
    q.enqueue("http://example.com/2")
    assert q.next(1)["url"] == "http://example.com/2"
    assert q.length() == 2

    job = q.dequeue()
    assert job["url"] == "http://example.com/"
    # re-enqueue of a seen digest is a no-op...
    assert not q.enqueue(job["url"])
    assert q.length() == 1
    # ...but requeue bypasses the seen check (Queue/Memory.pm:28-30)
    assert q.requeue(job["url"])
    assert q.length() == 2


def test_frontier_cap_drop_not_marked(spark):
    from wcm_spark.frontier import Frontier

    q = Frontier(spark, cap=1)
    q.enqueue("http://example.com/1")
    assert q.length() == 1
    q.enqueue("http://example.com/2")
    assert q.length() == 2  # cap < length is strict: grows to cap+1
    # third drops (cap 1 < length 2) and must NOT be marked seen
    assert not q.enqueue("http://example.com/3")
    assert q.length() == 2
    assert len(q.seen_digests()) == 2  # t/queue.t:54


def test_frontier_fifo_order(spark):
    from wcm_spark.frontier import Frontier

    q = Frontier(spark)
    for i in range(5):
        q.enqueue(f"http://example.com/{i}")
    got = [q.dequeue()["url"] for _ in range(5)]
    assert got == [f"http://example.com/{i}" for i in range(5)]
    assert q.dequeue() is None


def test_frontier_peek_no_spark_job_after_first(spark):
    """Repeated next() peeks are served from the cached head window —
    after the first materialization, NO Spark access happens (VERDICT r3
    item 7: the old path ran an O(offset) collect per peek)."""
    from wcm_spark.frontier import Frontier

    q = Frontier(spark)
    for i in range(6):
        q.enqueue(f"http://example.com/{i}")
    assert q.next(0)["url"] == "http://example.com/0"  # materializes head
    real_df = q._df
    q._df = None  # poison: any Spark access now raises
    try:
        for off in range(6):
            assert q.next(off)["url"] == f"http://example.com/{off}"
        assert q.next(6) is None  # head is complete: definitive answer
        # single-row enqueue extends the cached head in place
        assert q.enqueue("http://example.com/6")
        assert q.next(6)["url"] == "http://example.com/6"
    finally:
        q._df = real_df
    # dequeue drains through the same cache in FIFO order
    assert [q.dequeue()["url"] for _ in range(3)] == [
        f"http://example.com/{i}" for i in range(3)
    ]
    assert q.next(0)["url"] == "http://example.com/3"


def test_frontier_dequeue_of_buffered_row_is_exactly_once(spark):
    """Regression (round-4 review): a row enqueued AFTER the head cache
    was warmed lives in the driver buffer and the cache; dequeueing it
    must flush first, or the done-marking misses it and the row
    resurrects as pending on the next bulk read (double dequeue,
    negative length)."""
    from wcm_spark.frontier import Frontier

    q = Frontier(spark)
    q.enqueue("http://a/")
    assert q.next(0)["url"] == "http://a/"  # warms + flushes
    q.enqueue("http://b/")                  # buffered AND cache-appended
    assert q.dequeue()["url"] == "http://a/"
    assert q.dequeue()["url"] == "http://b/"
    assert q.length() == 0
    wave = q.dequeue_wave()                 # bulk read: nothing resurrects
    assert wave.count() == 0
    assert q.length() == 0
    assert q.dequeue() is None


# -- distributed sequence assignment ----------------------------------------


def test_assign_seq_dense_and_ordered(spark):
    from wcm_spark.operators.seq import assign_seq

    df = spark.range(1000).selectExpr("id", "cast(id * 7 % 1000 as long) as key")
    out = assign_seq(df, ["key"], out_col="seq", start=100, num_partitions=7)
    rows = out.orderBy("key").collect()
    assert [r["seq"] for r in rows] == list(range(100, 1100))


def test_assign_seq_empty(spark):
    from wcm_spark.operators.seq import assign_seq

    df = spark.createDataFrame([], "key long")
    assert assign_seq(df, ["key"]).count() == 0


def _wave_seq(df, bounds, start):
    """Dense seqs for ``(parent_seq, emit_idx)`` rows the way the crawl loop
    numbers a wave's children: arithmetic buckets over the wave's seq range
    ``bounds``, per-bucket ranks and bucket counts on one checkpoint, then
    the literal offset map."""
    from pyspark.sql import functions as F

    from wcm_spark.scheduler import _dense, _pin_ranked

    keyed = df.select(
        "*", F.col("parent_seq").alias("__k1"),
        F.col("emit_idx").alias("__k2"), F.lit(1).alias("__src"),
    )
    pinned, counts, n_parts = _pin_ranked(keyed, bounds, [1])
    rows, n = _dense(pinned, counts, 1, n_parts, start)
    return rows.select("parent_seq", "emit_idx", F.col("__dense").alias("seq")), n


def test_assign_seq_key_bounds_big_start(spark):
    """Offsets past 2^31 must assign exactly (the literal offset map is
    long-typed; an int32 map value would overflow the rank+offset sum)."""
    from pyspark.sql import functions as F

    big = 5_000_000_000
    df = spark.range(100).select(
        F.col("id").alias("parent_seq"), (F.col("id") % 7).alias("emit_idx")
    )
    out, n = _wave_seq(df, (0, 100), big)
    assert n == 100
    assert sorted(r["seq"] for r in out.collect()) == list(range(big, big + 100))


def test_assign_seq_key_bounds_matches_sampled_path(spark):
    """The loop's arithmetic-bucket numbering must emit the EXACT seqs of
    the sampled range-exchange ``assign_seq``: same (parent, emit)
    ordering, dense from `start`, duplicate first keys kept in one bucket,
    out-of-range keys (the retry channel's parent_seq = -1) clamped but
    still ordered first."""
    from wcm_spark.operators.seq import assign_seq

    rows = [
        # (parent_seq, emit_idx) — parents 100..139, ~5 children each,
        # plus retry rows with parent_seq = -1 below the bounds
        (p, e) for p in range(100, 140) for e in range(p % 6 + 1)
    ] + [(-1, 0), (-1, 1)]
    df = spark.createDataFrame(rows, "parent_seq long, emit_idx int")
    want = [
        (p, e, 500 + i)
        for i, (p, e) in enumerate(sorted(rows))
    ]
    out, n = _wave_seq(df, (100, 140), 500)
    got = sorted(tuple(r) for r in out.collect())
    sampled = assign_seq(
        df, ["parent_seq", "emit_idx"], out_col="seq", start=500,
        num_partitions=7,
    )
    assert n == len(rows)
    assert got == want
    assert sorted(tuple(r) for r in sampled.collect()) == want


def test_assign_seq_key_bounds_degenerate_span(spark):
    """hi == lo (single-parent wave) must not divide by zero and still
    rank correctly in one bucket."""
    df = spark.createDataFrame(
        [(7, i) for i in range(25)], "parent_seq long, emit_idx int"
    )
    out, _ = _wave_seq(df, (7, 7), 0)
    assert [r["seq"] for r in out.orderBy("emit_idx").collect()] == list(
        range(25)
    )


# -- bloom / seen set -------------------------------------------------------


def test_numpy_bloom_membership():
    bloom = NumpyBloom.sized(10_000, 0.01)
    rng = np.random.default_rng(7)
    h1 = rng.integers(0, 2**63, 5000, dtype=np.int64)
    h2 = rng.integers(0, 2**63, 5000, dtype=np.int64)
    bloom.add(h1, h2)
    assert bloom.contains(h1, h2).all()  # no false negatives, ever
    o1 = rng.integers(0, 2**63, 5000, dtype=np.int64)
    o2 = rng.integers(0, 2**63, 5000, dtype=np.int64)
    fpp = bloom.contains(o1, o2).mean()
    assert fpp < 0.05


def test_bloom_distributed_build_and_prefilter(spark):
    from pyspark.sql import functions as F

    from wcm_spark.operators.dedup import build_bloom, seen_anti_join

    seen = spark.range(2000).select(F.md5(F.col("id").cast("string")).alias("digest"))
    cand = spark.range(1000, 4000).select(
        F.md5(F.col("id").cast("string")).alias("digest"), F.col("id")
    )
    bloom = NumpyBloom.sized(10_000, 0.01)
    build_bloom(seen, bloom)
    fresh = seen_anti_join(cand, seen, bloom)
    ids = sorted(r["id"] for r in fresh.collect())
    assert ids == list(range(2000, 4000))  # exactness restored by anti-join


def test_seen_set_bloom_keeps_its_fpp_as_it_grows(spark, monkeypatch):
    """Past the bound the seen set's bloom is rebuilt at twice the count
    once it fills: after adding 10x the initial count, the count stays
    within the capacity, no added digest is missed, the empirical fpp
    stays within 2x the 1% target, and ``unseen`` stays exact."""
    from pyspark.sql import functions as F

    from wcm_spark.operators.dedup import SeenSet, with_bloom_hashes

    monkeypatch.setattr(SeenSet, "MIN_CAPACITY", 1024)

    def digests(lo, hi):
        return spark.range(lo, hi).select(
            F.md5(F.col("id").cast("string")).alias("digest")
        )

    def in_bloom(df):
        h = with_bloom_hashes(df).select("__bh1", "__bh2").toPandas()
        return seen._bloom.contains(h["__bh1"].to_numpy(), h["__bh2"].to_numpy())

    n0 = 1000
    seen = SeenSet(digests(0, n0), n0, 0)
    try:
        for w in range(1, 11):
            seen.add(digests(w * n0, (w + 1) * n0).localCheckpoint(eager=True), n0)
        assert seen.n == 11 * n0 <= seen.capacity
        assert in_bloom(digests(0, 11 * n0)).all()
        assert in_bloom(digests(10**6, 10**6 + 20_000)).mean() <= 0.02
        assert seen.unseen(digests(10 * n0, 12 * n0)).count() == n0
    finally:
        seen.close()


# -- snapshot store ----------------------------------------------------------


def test_store_append_overwrite_timetravel(spark, tmp_path):
    from wcm_spark.store import TableStore

    store = TableStore(str(tmp_path))
    v1 = store.commit("t", spark.range(3), mode="append", meta={"wave": 1})
    v2 = store.commit("t", spark.range(3, 5), mode="append", meta={"wave": 2})
    assert store.read(spark, "t").count() == 5
    assert store.read(spark, "t", version=v1).count() == 3  # time travel
    store.commit("t", spark.range(1), mode="overwrite")
    assert store.read(spark, "t").count() == 1
    assert store.latest_meta("t") == {}
    assert [s["version"] for s in store.snapshots("t")] == [1, 2, 3]
    assert store.read(spark, "missing") is None


def test_store_compact_preserves_rows_and_reduces_dirs(spark, tmp_path):
    """Iceberg rewrite_data_files analog: compaction collapses the
    per-commit directory accumulation into one dir without changing a
    row, carries resume meta forward, and keeps history time-travelable
    until expiry."""
    import os

    from wcm_spark.store import TableStore

    store = TableStore(str(tmp_path))
    for w in range(1, 5):
        store.commit(
            "visits", spark.range((w - 1) * 10, w * 10), mode="append",
            meta={"wave": w},
        )
    pre = store.read(spark, "visits")
    pre_rows = sorted(r["id"] for r in pre.collect())
    assert len(store.snapshots("visits")[-1]["dirs"]) == 4
    v = store.compact(spark, "visits")
    assert v == 5
    snap = store.snapshots("visits")[-1]
    assert snap["mode"] == "compact" and len(snap["dirs"]) == 1
    # resume meta carried forward + compaction provenance recorded
    assert snap["meta"]["wave"] == 4
    assert snap["meta"]["compacted_from"] == 4
    assert snap["meta"]["dirs_before"] == 4
    post = store.read(spark, "visits")
    assert sorted(r["id"] for r in post.collect()) == pre_rows
    # time travel to the pre-compact snapshot still works
    assert store.read(spark, "visits", version=4).count() == 40
    # nothing left to compact: single dir at/below the file target
    assert store.compact(spark, "visits") is None

    removed = store.expire_snapshots("visits", keep_last=1)
    assert removed  # the four append dirs are unreferenced now
    assert all(not os.path.exists(d) for d in removed)
    assert store.read(spark, "visits").count() == 40  # current intact
    assert [s["version"] for s in store.snapshots("visits")] == [5]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        store.read(spark, "visits", version=4)


def test_store_compact_is_incremental(spark, tmp_path):
    """Compaction must NOT rewrite already-compacted data: a second
    cycle carries the previous compaction's (large) dir untouched and
    rewrites only the new small append dirs — otherwise maintenance
    write I/O is O(W^2) over the crawl's lifetime."""
    import os

    from wcm_spark.store import TableStore

    store = TableStore(str(tmp_path))
    n_big = 50_000
    for w in range(1, 4):
        store.commit(
            "t", spark.range((w - 1) * n_big, w * n_big), mode="append"
        )
    assert store.compact(spark, "t") == 4
    big_dir = store.snapshots("t")[-1]["dirs"][0]
    big_bytes = store._dir_bytes([big_dir])
    store.commit("t", spark.range(3 * n_big, 3 * n_big + 100), mode="append")
    store.commit(
        "t", spark.range(3 * n_big + 100, 3 * n_big + 200), mode="append"
    )
    # target sized so the earlier compaction output counts as "large"
    # while the two fresh (tiny) append dirs count as "small"
    v = store.compact(spark, "t", target_file_bytes=big_bytes)
    assert v == 7
    snap = store.snapshots("t")[-1]
    assert big_dir in snap["dirs"]  # carried, not rewritten
    assert len(snap["dirs"]) == 2  # big dir + one new compacted dir
    assert snap["meta"]["dirs_carried"] == 1
    assert snap["meta"]["dirs_before"] == 2  # only the small dirs
    mtime_before = os.path.getmtime(big_dir)
    assert store.read(spark, "t").count() == 3 * n_big + 200
    assert os.path.getmtime(big_dir) == mtime_before


def test_store_expire_keeps_shared_dirs(spark, tmp_path):
    """Append snapshots share data dirs with their successors — expiry
    must never delete a dir a retained snapshot still references."""
    import os

    from wcm_spark.store import TableStore

    store = TableStore(str(tmp_path))
    store.commit("t", spark.range(3), mode="append")
    store.commit("t", spark.range(3, 6), mode="append")
    store.commit("t", spark.range(6, 9), mode="append")
    removed = store.expire_snapshots("t", keep_last=2)
    # v1's dir is still referenced by v2 and v3 — nothing deletable
    assert removed == []
    assert store.read(spark, "t").count() == 9
    live = {d for s in store.snapshots("t") for d in s["dirs"]}
    assert all(os.path.exists(d) for d in live)


def test_crawl_store_maintenance_preserves_resume(spark, tmp_path):
    """A crawl with commit-path maintenance on (compact_every_commits=1,
    aggressive expiry) produces the same durable visits as the plain
    store path, and the kill/resume contract survives maintenance."""
    from wcm_spark.corpus import corpus_df, seed_urls
    from wcm_spark.scheduler import CrawlConfig, Crawler

    corpus = corpus_df(spark, 2, 8).cache()
    plain = Crawler(
        spark, corpus,
        CrawlConfig(),
    ).run(seed_urls(2))
    want = sorted(
        (r["wave"], r["seq"], r["url"])
        for r in plain.visits.select("wave", "seq", "url").collect()
    )

    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_every_commits=1, expire_keep_snapshots=1,
        max_waves=2,
    )
    Crawler(spark, corpus, cfg).run(seed_urls(2))
    # resume after maintenance: meta (wave/next_seq) must have survived
    # the compact/expire cycle
    cfg2 = CrawlConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_every_commits=1, expire_keep_snapshots=1,
    )
    Crawler.resume(spark, corpus, cfg2)
    durable = Crawler.read_visits(spark, cfg2)
    got = sorted(
        (r["wave"], r["seq"], r["url"])
        for r in durable.select("wave", "seq", "url").collect()
    )
    assert got == want
    # maintenance actually ran: the visits table's current snapshot is a
    # compact one and history is trimmed to the retention
    from wcm_spark.store import TableStore

    store = TableStore(str(tmp_path / "ckpt"))
    snaps = store.snapshots("visits")
    assert len(snaps) == 1 and snaps[-1]["mode"] == "compact"


# -- image codecs ------------------------------------------------------------


def test_lossless_bit_exact():
    arr = gen_image("test/1", 40, 24)
    out, fmt = decode_image(encode_image(arr, LOSSLESS_FMT))
    assert fmt == LOSSLESS_FMT
    assert np.array_equal(out, arr)
    assert psnr(arr, out) == float("inf")


def test_lossy_psnr_gate():
    for key in ("a", "b", "c"):
        arr = gen_image(f"img/{key}", 64, 64)
        out, fmt = decode_image(encode_image(arr, LOSSY_FMT))
        assert fmt == LOSSY_FMT
        assert psnr(arr, out) >= 40.0, "north-rule lossy fidelity gate"


def test_phash_properties():
    a = gen_image("x/1")
    b = gen_image("x/2")
    pa, pb = phash64(a), phash64(b)
    assert pa != pb
    assert -(2**63) <= pa < 2**63  # fits LongType
    # lossy round trip keeps the perceptual hash close
    lossy, _ = decode_image(encode_image(a, LOSSY_FMT))
    dist = bin((phash64(lossy) ^ pa) & (2**64 - 1)).count("1")
    assert dist <= 4


def test_decode_unknown_format_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\nxxxx")


def test_approx_count_distinct_error_bound(spark):
    """hash/approx coverage (SURVEY §2.6): HLL++ cardinality of the seen
    set stays within its advertised relative error vs the exact count."""
    from pyspark.sql import functions as F

    seen = spark.range(50_000).select(F.md5(F.col("id").cast("string")).alias("digest"))
    exact = seen.distinct().count()
    approx = seen.agg(F.approx_count_distinct("digest", rsd=0.02).alias("a")).collect()[0]["a"]
    assert abs(approx - exact) / exact < 0.06


def test_iceberg_store_when_catalog_present(spark):
    """Exercises the real-Iceberg store branch when (and only when) an
    Iceberg catalog is configured on the session — this sandbox has no
    Iceberg jars, so the body is skipped here and runs on a real cluster
    (spark-submit with iceberg-spark-runtime + spark.sql.catalog.* conf)."""
    import pytest

    from wcm_spark.store import IcebergTableStore

    cat = spark.conf.get("spark.sql.catalog.iceberg", None)
    if not cat:
        # Verified round 3: the pyspark 4.1.2 distribution here ships no
        # iceberg-spark-runtime jar (checked $SPARK_HOME/jars and the
        # pyspark wheel's jars/), there is no local ivy/maven cache, and
        # the sandbox has no network (repo1.maven.org does not resolve) —
        # the jar cannot be installed, so the real-Iceberg branch is
        # structurally untestable in this environment, not merely
        # unconfigured.
        pytest.skip(
            "no Iceberg catalog: iceberg-spark-runtime jar absent and "
            "unfetchable in this sandbox (no network); runs on a real "
            "cluster via spark-submit --packages + spark.sql.catalog.*"
        )
    store = IcebergTableStore(spark, "iceberg")
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    v1 = store.commit("probe", df, mode="overwrite", meta={"wave": 1})
    store.commit("probe", df, mode="append", meta={"wave": 2})
    assert store.read(spark, "probe").count() == 2
    assert store.read(spark, "probe", version=v1).count() == 1
    assert store.latest_meta("probe")["wave"] == 2
    # per-snapshot meta history (snapshot summaries, not table props)
    metas = [s["meta"].get("wave") for s in store.snapshots("probe")]
    assert metas == [1, 2]


def test_drain_pos_fast_path_dense_and_ordered(spark):
    """Drain-mode crawls take the pos=seq fast path (no end-of-crawl rank
    pass); the result must still be a DENSE 0..N-1 position whose order
    equals the (wave, seq) order the rank pass would produce — including
    with error rows and retries in the mix."""
    from wcm_spark.corpus import corpus_df, seed_urls
    from wcm_spark.scheduler import CrawlConfig, Crawler

    corpus = corpus_df(spark, n_sites=3, pages_per_site=8).cache()
    cfg = CrawlConfig(retry_errors=1)
    res = Crawler(spark, corpus, cfg).run(seed_urls(3))
    rows = res.visits.select("pos", "wave", "seq").collect()
    assert rows, "crawl produced no visits"
    assert sorted(r["pos"] for r in rows) == list(range(len(rows)))
    by_pos = [(r["wave"], r["seq"]) for r in sorted(rows, key=lambda r: r["pos"])]
    assert by_pos == sorted(by_pos)


def test_long_chain_crawl_consolidates_seen_broadcast(spark):
    """A 12-wave chain crawl drives the incremental seen-broadcast past
    its 8-piece consolidation point; dedup must stay exact (the chain
    also links BACK to the seed every page, so every wave re-offers
    already-seen URLs to the probe)."""
    from wcm_spark.scheduler import CrawlConfig, Crawler

    n = 12
    rows = []
    for i in range(n):
        nxt = f"<a href='/p{i+1}.html'>n</a>" if i + 1 < n else ""
        body = (f"<a href='/p0.html'>seed</a>{nxt}").encode()
        rows.append((f"http://chain.test/p{i}.html", 200, "text/html",
                     len(body), body, None))
    corpus = spark.createDataFrame(
        rows,
        "url string, status int, content_type string, content_length bigint, "
        "body binary, redirect_to string",
    ).cache()
    cfg = CrawlConfig()
    res = Crawler(spark, corpus, cfg).run(["http://chain.test/p0.html"])
    vis = [r["url"] for r in res.visits.orderBy("pos").collect()]
    assert vis == [f"http://chain.test/p{i}.html" for i in range(n)]
    assert res.waves == n  # one new URL per wave; no duplicate fetches
    assert res.seen.count() == n


def test_priority_crawl_same_coverage_different_order(spark):
    """priority_expr changes the wave-cut ORDER, never the crawl's
    coverage: a capped drain with a shallow-first/url-length priority
    fetches exactly the FIFO crawl's URL set, and the cut genuinely
    reorders at least one capped wave (non-vacuous)."""
    from wcm_spark.corpus import corpus_df, seed_urls
    from wcm_spark.scheduler import CrawlConfig, Crawler

    corpus = corpus_df(spark, 2, 8).cache()
    base = dict(
        max_conn_per_host=3, max_conn=6,
    )
    fifo = Crawler(spark, corpus, CrawlConfig(**base)).run(seed_urls(2))
    fifo_rows = [
        (r["pos"], r["url"])
        for r in fifo.visits.select("pos", "url").orderBy("pos").collect()
    ]
    pri = Crawler(
        spark, corpus,
        CrawlConfig(**base, priority_expr="length(url)"),
    ).run(seed_urls(2))
    pri_rows = [
        (r["pos"], r["url"])
        for r in pri.visits.select("pos", "url").orderBy("pos").collect()
    ]
    assert {u for _, u in fifo_rows} == {u for _, u in pri_rows}
    assert len(fifo_rows) == len(pri_rows)
    assert fifo_rows != pri_rows  # the priority actually reordered waves
