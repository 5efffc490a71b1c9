"""Plan-shape assertions (.explain auditing) + streaming metrics."""

import os
import re

from pyspark.sql import functions as F

SF = os.environ.get("WCM_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_filter_pushdown_reaches_scan(spark):
    from wcm_spark.plans.inspect import pushed_filters, read_schema_columns

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    pf = pushed_filters(q)
    assert any("lang" in f for f in pf), f"lang filter not pushed: {pf}"
    # column pruning: text (the wide column) must NOT be read
    cols = read_schema_columns(q)
    assert "text" not in cols and {"doc_id", "n_chars"} <= cols


def test_small_dim_join_broadcasts(spark):
    from wcm_spark.plans.inspect import has_broadcast_join

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dim = spark.createDataFrame(
        [("en", 1), ("de", 2)], "lang string, lang_id int"
    )
    q = docs.join(F.broadcast(dim), "lang").select("doc_id", "lang_id")
    assert has_broadcast_join(q)


def test_registry_queries_prune_and_push(spark):
    """The frontier queries must scan only doc_id (never text/bodies)."""
    from wcm_spark.datapipe.queries import spark_queries
    from wcm_spark.plans.inspect import read_schema_columns

    q = spark_queries()["wave_cut_politeness"](spark, SF)
    cols = read_schema_columns(q)
    assert cols == {"doc_id"}, f"frontier query reads more than doc_id: {cols}"


def test_scrape_prunes_body_downstream(spark):
    """body (binary) must not survive past the scrape explode stage."""
    from wcm_spark.corpus import corpus_df
    from wcm_spark.operators.scrape import resolve_children, scrape_edges

    pages = corpus_df(spark, 1, 5, with_images=False)
    children = resolve_children(scrape_edges(pages))
    assert "body" not in children.columns


def test_event_window_rollup_batch_semantics(spark):
    """The streaming rollup plan also runs in batch: validate on sf0.001."""
    from wcm_spark.streaming.metrics import event_window_rollup

    events = spark.read.parquet(f"{SF}/events.parquet")
    out = event_window_rollup(events, window="1 day", watermark="1 day")
    rows = out.collect()
    assert rows and all(r["n"] > 0 for r in rows)
    assert {r["event_type"] for r in rows} >= {"click", "view"}


def test_visits_stream_end_to_end(spark, tmp_path):
    """Genuine streaming run: visits parquet dir → host-rate metrics via
    availableNow trigger into a memory sink."""
    from wcm_spark.corpus import corpus_rows, seed_urls
    from wcm_spark.scheduler import CrawlConfig, Crawler
    from wcm_spark.store import TableStore
    from wcm_spark.streaming.metrics import host_rate_metrics, visits_stream

    rows = corpus_rows(2, 6)
    corpus = spark.createDataFrame(
        [(r["url"], r["status"], r["content_type"], r["content_length"], r["body"], r["redirect_to"]) for r in rows],
        "url string, status int, content_type string, content_length bigint, body binary, redirect_to string",
    )
    ckpt = str(tmp_path / "store")
    cfg = CrawlConfig(checkpoint_dir=ckpt)
    res = Crawler(spark, corpus, cfg).run(seed_urls(2))

    visits_dirs = TableStore(ckpt).snapshots("visits")[-1]["dirs"]
    # stream over the first committed dir's parent won't see all snapshots;
    # point the stream at the union glob of snapshot dirs' shared parent
    parent = os.path.dirname(visits_dirs[0])
    stream = visits_stream(spark, parent + "/v*")
    assert stream.isStreaming
    q = (
        host_rate_metrics(stream)
        .writeStream.format("memory")
        .queryName("host_rates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["host_key"]: r["fetched"] for r in spark.sql("select * from host_rates").collect()}
    want = {
        r["host_key"]: r["cnt"]
        for r in res.visits.groupBy("host_key").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == want


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == the batch sessionization
    query for every CLOSED session (the open tail per user stays in
    state when the finite stream ends)."""
    from wcm_spark.datapipe.queries import spark_queries
    from wcm_spark.streaming.stateful import sessionize_stream

    src = f"{SF}/events.parquet"
    # restrict the file stream to a small user subset via a fresh dir
    d = tmp_path / "events_stream"
    d.mkdir()
    spark.read.parquet(src).filter("user_id < 12").coalesce(1).write.parquet(
        str(d / "part")
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    ).parquet(str(d / "part"))

    q = (
        sessionize_stream(stream, flush_ms=3_000)
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # the ProcessingTimeTimeout keeps the availableNow query alive while
    # tail states flush — wait for the data, then stop it explicitly
    q.awaitTermination(40)
    q.stop()
    got = {
        (r["user_id"], r["session_no"]): (r["n_events"], r["session_start"], r["session_end"])
        for r in spark.sql("select * from sessions_stream").collect()
    }

    batch = spark_queries()["sessionization"](spark, SF).filter("user_id < 12").collect()
    last_per_user = {}
    for r in batch:
        last_per_user[r["user_id"]] = max(
            last_per_user.get(r["user_id"], 0), r["session_no"]
        )
    all_batch = {
        (r["user_id"], r["session_no"]): (r["n_events"], r["session_start"], r["session_end"])
        for r in batch
    }
    closed = {
        k: v for k, v in all_batch.items() if k[1] != last_per_user[k[0]]
    }
    # every emitted session matches the batch result exactly; all closed
    # sessions emitted; tail sessions MAY appear too (the processing-time
    # timeout can flush them before the availableNow query drains)
    for k, v in got.items():
        assert all_batch[k] == v, k
    assert set(closed).issubset(got)
    assert got, "closed sessions must exist"


def test_seen_antijoin_broadcasts_when_small(spark):
    """seen_anti_join must pick a broadcast-hash anti-join (no candidate
    shuffle) while the seen set fits the broadcast threshold."""
    from pyspark.sql import functions as F

    from wcm_spark.operators.dedup import seen_anti_join
    from wcm_spark.plans.inspect import formatted_plan

    cand = spark.range(10000).select(F.md5(F.col("id").cast("string")).alias("digest"), "id")
    seen = spark.range(3000).select(F.md5(F.col("id").cast("string")).alias("digest"))
    plan = formatted_plan(seen_anti_join(cand, seen, bloom=None, seen_count=3000))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # above the threshold our code must NOT force a broadcast (Spark's own
    # auto-broadcast is disabled here to expose the shuffle path)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan2 = formatted_plan(seen_anti_join(cand, seen, bloom=None, seen_count=10_000_000))
        assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_neardup_and_jaccard_have_no_pair_explosion(spark):
    """The two near-dup verifiers must route through bucketed candidates:
    no cartesian product / nested-loop join anywhere in the plan, and the
    exact-verify join keys on candidate pairs, not an unbounded self-join
    (VERDICT r1: both were quadratic within their blocking key)."""
    from wcm_spark.datapipe.queries import spark_queries
    from wcm_spark.plans.inspect import formatted_plan

    qs = spark_queries()
    for name in (
        "embedding_neardup",
        "dedup_ngram_jaccard",
        "minhash_est_vs_exact",
        "quality_repetition_signals",
        # PQ/ADC: the query side joins codes on (subspace, code) — raw
        # vectors must never pair-join
        "ann_pq_adc",
        # phash family: candidates key on (band_no, sig); the clusters
        # query propagates labels over the checkpointed pair set only
        "image_phash_neardup",
        "image_phash_clusters",
        # literal-state overrides (round 4): candidates key on bucket /
        # cell ids; the fit itself is join-free (codebooks are literals)
        "ann_lsh_bucketed",
        "ann_ivf",
        # IVF-PQ: candidates equi-join on cell id, ADC joins codes on
        # (query_id, subspace, code) — raw vectors never pair-join
        # (the recall query's exact side is a 10-query broadcast probe)
        "ann_ivfpq_adc",
        "ann_ivfpq_recall_at_k",
        "embedding_int8_quant",
        # decontamination: eval grams broadcast against train grams —
        # never a train-train pairing
        "doc_decontamination",
        "sequence_packing",
        "train_val_split",
        # north-rule image table family (round 4): candidates key on
        # (band_no, sig) sliced off the int64 phash; the pick/curation
        # joins are node-sized label/keeper equi-joins
        "image_cluster_caption_pick",
        "image_curation_pipeline",
        "image_shard_packing",
        # scrub/ingest family (round 4): passage scrub flags first
        # occurrences with a window min over the passage hash (one chain
        # pass, no join at all); incremental dedup is bloom-prefilter +
        # equi anti-join + two node-sized equi-joins
        "passage_dedup_scrub",
        "dedup_incremental",
        # round-4 additions: rep-verify caption scrub (candidates key on
        # (band_no, bucket) against the bucket-min representative);
        # recrawl/budget are window+aggregate only
        "image_caption_neardup",
        "recrawl_due_schedule",
        "crawl_budget_allocate",
    ):
        plan = formatted_plan(qs[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # unigram_logprob_score deliberately cross-joins a ONE-ROW aggregate
    # (the corpus token total) — a broadcast nested-loop against a scalar
    # is the right plan; assert only that no unbounded cartesian exists
    plan = formatted_plan(qs["unigram_logprob_score"](spark, SF))
    assert "CartesianProduct" not in plan, "unigram_logprob_score"
    # bm25_topk / domain_mix_rebalance also cross-join ONE-ROW
    # corpus-stats aggregates (avg len / target size) — same rule: the
    # scalar broadcast is fine, an unbounded cartesian is not, and the
    # scoring join must key on query terms / source
    for name in ("bm25_topk", "domain_mix_rebalance"):
        plan = formatted_plan(qs[name](spark, SF))
        assert "CartesianProduct" not in plan, name
    # pii_redact must stay a single narrow projection: no shuffle at all
    from wcm_spark.plans.inspect import shuffle_count

    pii = qs["pii_redact"](spark, SF)
    assert shuffle_count(pii) == 0, "pii_redact must not shuffle"
    plan = formatted_plan(pii)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the image cluster queries checkpoint their pair chain before the
    # label/keeper joins the loop above sees — assert the production pair
    # frame's OWN plan too (candidates must equi-join on (band_no, sig),
    # never pair the table with itself)
    from wcm_spark.datapipe.queries import _image_pairs_df

    plan = formatted_plan(_image_pairs_df(spark, 8))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"Left keys \[2\]: \[band_no#\d+, sig#\d+L?\]", plan), plan


def test_stream_dedup_first_wins(spark, tmp_path):
    """Streaming D2/D3: watermark-bounded dropDuplicatesWithinWatermark
    keeps exactly the first row per digest within the horizon (real
    streaming run, file source -> availableNow -> memory sink)."""
    from wcm_spark.streaming.metrics import stream_dedup_first_wins

    src = str(tmp_path / "cand")
    rows = [
        ("d1", "http://a/1", "2026-01-01 10:00:00"),
        ("d1", "http://a/1?dup", "2026-01-01 10:00:05"),
        ("d2", "http://a/2", "2026-01-01 10:00:01"),
        ("d2", "http://a/2?dup", "2026-01-01 10:59:00"),  # inside horizon
        ("d3", "http://a/3", "2026-01-01 10:30:00"),
    ]
    spark.createDataFrame(
        rows, "digest string, url string, ts string"
    ).selectExpr("digest", "url", "CAST(ts AS TIMESTAMP) AS event_ts").coalesce(
        1
    ).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("digest string, url string, event_ts timestamp")
        .parquet(src)
    )
    q = (
        stream_dedup_first_wins(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["digest"]: r["url"]
        for r in spark.sql("select * from dedup_stream").collect()
    }
    assert set(got) == {"d1", "d2", "d3"}  # one survivor per digest


def test_stream_scrape_edges_matches_batch(spark, tmp_path):
    """Streaming scrape == batch scrape on the same pages: the fixture
    corpus split across several files streams through the SAME extract +
    resolve operators (availableNow, memory sink) and must yield exactly
    the batch edge set — micro-batching is invisible to the stateless
    parse tier."""
    from wcm_spark.datapipe.fixtures import SCRAPE_FIXTURE, fixture_corpus_path
    from wcm_spark.operators.scrape import resolve_children, scrape_edges
    from wcm_spark.streaming.metrics import pages_stream, stream_scrape_edges

    src = str(tmp_path / "pages")
    pages = spark.read.parquet(fixture_corpus_path(*SCRAPE_FIXTURE))
    pages.repartition(3).write.mode("overwrite").parquet(src)

    cols = ["referrer_url", "emit_idx", "url", "method", "digest"]
    q = (
        stream_scrape_edges(pages_stream(spark, src, max_files_per_trigger=1))
        .select(*cols)
        .writeStream.format("memory")
        .queryName("scrape_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.sql("select * from scrape_stream").collect()))
    want = sorted(
        map(tuple, resolve_children(scrape_edges(spark.read.parquet(src))).select(*cols).collect())
    )
    assert got == want and len(got) > 0


def test_stream_image_ingest_chain(spark, tmp_path):
    """The full continuous image-ingest decomposition: file source →
    watermark-bounded exact-dup on phash (first wins) → curation gates.
    The source holds every fixture row TWICE (second copy under a new
    image_id, same phash), so dedup must halve it; every surviving row's
    verdict must equal the batch gate of that exact row."""
    from wcm_spark.datapipe.fixtures import images_table_path
    from wcm_spark.streaming.metrics import (
        images_stream,
        stream_dedup_first_wins,
        stream_image_gates,
    )

    src = str(tmp_path / "ingest")
    imgs = spark.read.parquet(images_table_path())
    n = imgs.count()
    dup = imgs.withColumn("image_id", F.concat(F.col("image_id"), F.lit("#2")))
    imgs.unionByName(dup).repartition(4).write.mode("overwrite").parquet(src)

    stream = images_stream(spark, src, max_files_per_trigger=2).withColumn(
        "event_ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.crc32("image_id") % 1000),
    )
    chained = stream_image_gates(
        stream_dedup_first_wins(stream, key_col="phash"), min_px=1100
    )
    q = (
        chained.writeStream.format("memory")
        .queryName("image_ingest_chain")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from image_ingest_chain").collect()
    assert len(got) == n  # exactly one survivor per phash
    # each survivor's verdict equals the batch gate of that exact row
    batch = {
        r["image_id"]: r["verdict"]
        for r in stream_image_gates(
            spark.read.parquet(src), min_px=1100
        ).collect()
    }
    assert all(batch[r["image_id"]] == r["verdict"] for r in got)


def test_stream_image_gates_matches_batch(spark, tmp_path):
    """Streaming curation gates == batch gates over the north-rule image
    table: the fixture split across files streams through the SAME
    projection (availableNow, memory sink) and yields exactly the batch
    verdict rows; the fixture override budget makes every verdict class
    non-empty."""
    from wcm_spark.datapipe.fixtures import images_table_path
    from wcm_spark.streaming.metrics import images_stream, stream_image_gates

    src = str(tmp_path / "images")
    imgs = spark.read.parquet(images_table_path())
    imgs.repartition(4).write.mode("overwrite").parquet(src)

    q = (
        stream_image_gates(images_stream(spark, src, max_files_per_trigger=1),
                           min_px=1100)
        .writeStream.format("memory")
        .queryName("image_gates_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.sql("select * from image_gates_stream").collect()))
    want = sorted(
        map(
            tuple,
            stream_image_gates(spark.read.parquet(src), min_px=1100).collect(),
        )
    )
    assert got == want and len(got) > 0
    verdicts = {r[-1] for r in got}
    assert verdicts == {"captionless", "lowres", "kept"}


def test_stream_caption_pii_scrub_matches_batch(spark, tmp_path):
    """Streaming caption PII gate == the batch projection, and both ==
    a Python re replay: fixture captions get deterministic PII appended
    (the fixture itself is PII-free), stream availableNow through the
    scrub, and compare row-for-row."""
    import hashlib
    import re

    from pyspark.sql import functions as F

    from wcm_spark.datapipe.fixtures import images_table_path
    from wcm_spark.streaming.metrics import images_stream, stream_caption_pii_scrub

    src = str(tmp_path / "images")
    imgs = spark.read.parquet(images_table_path()).withColumn(
        "caption",
        F.concat(
            F.coalesce(F.col("caption"), F.lit("")),
            F.when(
                F.col("phash") % 3 == 0,
                F.concat(F.lit(" by user"), F.crc32("image_id") % 100, F.lit("@ex.com")),
            ).otherwise(F.lit("")),
            F.when(F.col("phash") % 5 == 0, F.lit(" at 10.1.2.3")).otherwise(F.lit("")),
            F.when(F.col("phash") % 7 == 0, F.lit(" call 415-555-0199")).otherwise(
                F.lit("")
            ),
        ),
    )
    imgs.repartition(4).write.mode("overwrite").parquet(src)

    q = (
        stream_caption_pii_scrub(images_stream(spark, src, max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName("caption_pii_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.sql("select * from caption_pii_stream").collect()))
    want = sorted(
        map(tuple, stream_caption_pii_scrub(spark.read.parquet(src)).collect())
    )
    assert got == want and len(got) > 0

    # third implementation: Python re over the same written rows
    rules = [
        (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
        (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
        (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ]
    raw = {r["image_id"]: r["caption"] or "" for r in spark.read.parquet(src).collect()}
    saw = [0, 0, 0]
    for image_id, n_emails, n_phones, n_ipv4, scrubbed in got:
        cap = raw[image_id]
        counts = [len(re.findall(p, cap)) for p, _ in rules]
        assert (n_emails, n_ipv4, n_phones) == tuple(counts), image_id
        expect = cap
        for p, rep in rules:
            expect = re.sub(p, rep, expect)
        assert scrubbed == expect, image_id
        saw = [a + b for a, b in zip(saw, counts)]
    assert all(s > 0 for s in saw)  # every PII kind fired in-stream


def test_stream_commit_to_store_exactly_once(spark, tmp_path):
    """foreachBatch -> TableStore sink: every source row lands exactly
    once; re-running the drained query on the same checkpoint commits
    nothing; a REPLAYED batch id (the at-least-once crash window) is
    skipped via the store's committed stream_batch_id meta."""
    from wcm_spark.store import TableStore
    from wcm_spark.streaming.metrics import stream_commit_to_store

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = TableStore(str(tmp_path / "store"))
    spark.createDataFrame(
        [(i, f"http://a/{i}") for i in range(20)], "seq long, url string"
    ).coalesce(2).write.mode("overwrite").parquet(src)

    def run():
        stream = spark.readStream.schema("seq long, url string").parquet(src)
        q = stream_commit_to_store(stream, store, "ingest", ckpt)
        q.awaitTermination(120)

    run()
    v1 = store.current_version("ingest")
    assert v1 >= 1
    got = store.read(spark, "ingest")
    assert got.count() == 20
    assert store.latest_meta("ingest")["stream_batch_id"] is not None

    # drained source + same checkpoint: nothing new to commit
    run()
    assert store.current_version("ingest") == v1

    # simulated at-least-once replay: re-delivering an already-committed
    # batch id must be a no-op; the NEXT id commits
    last = store.latest_meta("ingest")["stream_batch_id"]
    batch = spark.read.parquet(src).limit(3)

    # call the sink body exactly as foreachBatch would
    def sink(df, bid):
        meta = store.latest_meta("ingest") or {}
        lastid = meta.get("stream_batch_id")
        if lastid is not None and bid <= lastid:
            return
        store.commit("ingest", df, mode="append", meta={"stream_batch_id": bid})

    sink(batch, last)          # replay: skipped
    assert store.current_version("ingest") == v1
    sink(batch, last + 1)      # genuinely new batch: commits
    assert store.current_version("ingest") == v1 + 1
    assert store.read(spark, "ingest").count() == 23


def test_recrawl_conditional_fetch_plan_shape(spark):
    """The validator handshake must stay one equi-join: no nested loop /
    cartesian, and at most one join node over the two projections of
    the documents scan (100 TB claim in its docstring)."""
    from wcm_spark.datapipe.queries import spark_queries
    from wcm_spark.plans.inspect import formatted_plan

    df = spark_queries()["recrawl_conditional_fetch"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = sum(plan.count(j) for j in ("SortMergeJoin", "ShuffledHashJoin"))
    broadcasts = plan.count("BroadcastHashJoin")
    assert joins + broadcasts >= 1  # the one full-outer equi-join
    assert plan.count("FULL") >= 1 or "FullOuter" in plan


def test_all_sql_builders_have_no_cartesian(spark):
    """Registry-WIDE scale-safety sweep: every dialect-templated query's
    optimized plan is free of CartesianProduct — the one physical node
    that cannot survive a 100x scale-up. One-row scalar cross joins
    (corpus stats in bm25/unigram/domain_mix) legitimately plan as
    BroadcastNestedLoopJoin against a broadcast scalar, so only the
    unbounded cartesian is banned here; the curated per-family tests
    above keep their stricter BNLJ bans. Engine-native queries (crawl/
    scrape e2e, goldens, multimodal) execute real operators and are
    plan-asserted in their own suites."""
    from wcm_spark.datapipe.queries import _BUILDERS, spark_queries
    from wcm_spark.plans.inspect import formatted_plan

    qs = spark_queries()
    checked = 0
    for name in _BUILDERS:
        plan = formatted_plan(qs[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        checked += 1
    assert checked >= 80  # the sweep must actually cover the registry
