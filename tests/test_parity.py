"""End-to-end ordering + URL-seen parity: Spark engine vs reference loop.

The north-rule contract (BASELINE.json:14): under the same seed list and
politeness budget the crawl emits an identical visit ordering and final
URL-seen set as WWW::Crawler::Mojo. The oracle is the pure-Python
CrawlSimulator (crawlcore.py) which replays the reference's FIFO loop
semantics exactly (dedup-at-enqueue, 5-redirect cap, scheme filter,
scrape emit order).
"""

import pytest

from wcm_spark.corpus import corpus_rows, seed_urls
from wcm_spark.crawlcore import CorpusPage, CrawlSimulator
from wcm_spark.scheduler import CrawlConfig, Crawler

N_SITES = 2
PAGES = 12


@pytest.fixture(scope="module")
def corpus_small():
    rows = corpus_rows(N_SITES, PAGES)
    return rows


@pytest.fixture(scope="module")
def sim_result(corpus_small):
    pages = {
        r["url"]: CorpusPage(
            url=r["url"], status=r["status"], content_type=r["content_type"],
            content_length=r["content_length"], body=r["body"],
            redirect_to=r["redirect_to"],
        )
        for r in corpus_small
    }
    sim = CrawlSimulator(corpus=pages)
    for u in seed_urls(N_SITES):
        sim.enqueue(u)
    return sim.crawl()


@pytest.fixture(scope="module")
def spark_result(spark, corpus_small, seen_max):
    corpus_df = spark.createDataFrame(
        [
            (r["url"], r["status"], r["content_type"], r["content_length"],
             r["body"], r["redirect_to"])
            for r in corpus_small
        ],
        "url string, status int, content_type string, content_length bigint, "
        "body binary, redirect_to string",
    ).cache()
    crawler = Crawler(spark, corpus_df, CrawlConfig(broadcast_seen_max=seen_max))
    return crawler.run(seed_urls(N_SITES))


def test_visit_set_nonempty(sim_result, spark_result):
    # the corpus tree guarantees every page is reachable
    assert len(sim_result.visit_order) >= N_SITES * PAGES


def test_visit_ordering_parity(sim_result, spark_result):
    got = [
        r["url"]
        for r in spark_result.visits.filter("status is not null")
        .orderBy("pos")
        .select("url")
        .collect()
    ]
    assert got == sim_result.visit_order


def test_seen_set_parity(sim_result, spark_result):
    got = {r["digest"] for r in spark_result.seen.collect()}
    assert got == sim_result.seen


def test_error_channel(sim_result, spark_result):
    errs = {
        r["request_url"]
        for r in spark_result.visits.filter("status is null").collect()
    }
    assert errs == set(sim_result.errors)


def test_redirect_history(spark_result):
    rows = spark_result.visits.filter("size(redirect_history) > 0").collect()
    assert rows, "corpus contains redirects — some must surface"
    for r in rows:
        # original_url = last history entry (Job.pm:92-97)
        assert r["original_url"] == r["redirect_history"][-1]
        assert r["url"] != r["request_url"]
        assert r["request_url"] == r["original_url"]


def test_redirect_cap_five_hops(spark_result, sim_result):
    # the 7-hop chain must stop at hop 5 (Mojo.pm:50): final URL chain/5
    chain_visits = [u for u in sim_result.visit_order if "/chain/" in u]
    assert chain_visits and all(u.endswith("/chain/5") for u in chain_visits)
    got = [
        r["url"]
        for r in spark_result.visits.filter("url like '%/chain/%'").collect()
    ]
    assert got and all(u.endswith("/chain/5") for u in got)


def test_politeness_budget_restricts_waves(spark, corpus_small):
    corpus_df = spark.createDataFrame(
        [
            (r["url"], r["status"], r["content_type"], r["content_length"],
             r["body"], r["redirect_to"])
            for r in corpus_small
        ],
        "url string, status int, content_type string, content_length bigint, "
        "body binary, redirect_to string",
    )
    cfg = CrawlConfig(max_conn=4, max_conn_per_host=2, max_waves=3)
    res = Crawler(spark, corpus_df, cfg).run(seed_urls(N_SITES))
    per_wave = (
        res.visits.groupBy("wave", "host_key").count().collect()
    )
    assert all(r["count"] <= 2 for r in per_wave)
    wave_sizes = res.visits.groupBy("wave").count().collect()
    assert all(r["count"] <= 4 for r in wave_sizes)


@pytest.mark.parametrize("cap", [2, 4])
def test_queue_cap_parity(spark, cap):
    """F4 queue cap (Queue/Memory.pm:42-44) in the scheduler: at max_conn=1
    the capped crawl visits pages in the reference loop's order and ends
    with its seen set — newcomers past the cap are dropped and NOT marked,
    so a later route to them still crawls."""
    rows = corpus_rows(2, 5)
    pages = {
        r["url"]: CorpusPage(
            url=r["url"], status=r["status"], content_type=r["content_type"],
            content_length=r["content_length"], body=r["body"],
            redirect_to=r["redirect_to"],
        )
        for r in rows
    }
    sim = CrawlSimulator(corpus=pages, cap=cap)
    for u in seed_urls(2):
        sim.enqueue(u)
    sim.crawl()
    corpus_df = spark.createDataFrame(
        [
            (r["url"], r["status"], r["content_type"], r["content_length"],
             r["body"], r["redirect_to"])
            for r in rows
        ],
        "url string, status int, content_type string, content_length bigint, "
        "body binary, redirect_to string",
    )
    cfg = CrawlConfig(cap=cap, max_conn=1)
    res = Crawler(spark, corpus_df, cfg).run(seed_urls(2))
    got = [
        r["url"]
        for r in res.visits.filter("status is not null").orderBy("pos").collect()
    ]
    assert got == sim.visit_order
    assert {r["digest"] for r in res.seen.collect()} == sim.seen


def test_fused_equals_staged(spark, corpus_small):
    """scrape_resolve_children (one Arrow pass) must emit exactly what the
    staged scrape_edges → resolve_children pipeline emits."""
    from pyspark.sql import functions as F

    from wcm_spark.operators.scrape import (
        resolve_children,
        scrape_edges,
        scrape_resolve_children,
    )

    corpus_df = spark.createDataFrame(
        [
            (r["url"], r["status"], r["content_type"], r["content_length"],
             r["body"], r["redirect_to"])
            for r in corpus_small
        ],
        "url string, status int, content_type string, content_length bigint, "
        "body binary, redirect_to string",
    )
    pages = corpus_df.filter("status is not null").select(
        "url", "content_type", "content_length", "body",
        F.xxhash64("url").alias("seq"), F.lit(0).alias("depth"),
    )
    staged = resolve_children(scrape_edges(pages))
    fused = scrape_resolve_children(pages)
    cols = sorted(fused.columns)
    a = sorted(tuple(r) for r in staged.select(*cols).collect())
    b = sorted(tuple(r) for r in fused.select(*cols).collect())
    assert a == b


def test_min_delay_per_host(spark, corpus_small):
    """F6 min-delay budget: a host fetched at wave w rests for
    min_delay_waves full waves before its next fetch."""
    corpus_df = spark.createDataFrame(
        [
            (r["url"], r["status"], r["content_type"], r["content_length"],
             r["body"], r["redirect_to"])
            for r in corpus_small
        ],
        "url string, status int, content_type string, content_length bigint, "
        "body binary, redirect_to string",
    )
    cfg = CrawlConfig(
        min_delay_waves=1,
        max_conn_per_host=2, max_waves=8,
    )
    res = Crawler(spark, corpus_df, cfg).run(seed_urls(N_SITES))
    waves_by_host = {}
    for r in res.visits.select("host_key", "wave").collect():
        waves_by_host.setdefault(r["host_key"], set()).add(r["wave"])
    assert waves_by_host
    for host, waves in waves_by_host.items():
        ws = sorted(waves)
        gaps = [b - a for a, b in zip(ws, ws[1:])]
        assert all(g > 1 for g in gaps), (host, ws)


def test_url_filter_children_gated_seeds_bypass(spark):
    """CrawlConfig.url_filter_expr (the reference's user-side enqueue
    guards): seeds bypass the gate, discovered children outside the
    allowlist never enqueue (and never mark seen); the filtered visit
    set equals the pure-Python simulator run with the same prefix."""
    from wcm_spark.corpus import seed_urls
    from wcm_spark.datapipe.fixtures import (
        CRAWL_FIXTURE,
        fixture_corpus_path,
        simulate_crawl_waves,
    )
    from wcm_spark.scheduler import CrawlConfig, Crawler

    prefix = "http://site0.example.test/"
    corpus = spark.read.parquet(fixture_corpus_path(*CRAWL_FIXTURE)).cache()
    res = Crawler(
        spark,
        corpus,
        CrawlConfig(
            url_filter_expr=f"url LIKE '{prefix}%'",
        ),
    ).run(seed_urls(CRAWL_FIXTURE[0]))
    got = [
        (r["pos"], r["url"], r["status"], r["depth"])
        for r in res.visits.orderBy("pos").collect()
    ]
    _, sim_visits, _ = simulate_crawl_waves(*CRAWL_FIXTURE, url_prefix=prefix)
    assert got == [(i, u, s, d) for i, (u, s, d) in enumerate(sim_visits)]
    # the site1 seed bypasses the gate but its subtree never enqueues
    site1 = [u for _, u, _, _ in got if not u.startswith(prefix)]
    assert len(site1) == 1 and site1[0].endswith("/p/0.html")
    # the gate actually prunes: the unfiltered crawl visits strictly more
    _, unfiltered, _ = simulate_crawl_waves(*CRAWL_FIXTURE)
    assert len(got) < len(unfiltered)


def test_priority_crawl_visit_order_parity(spark):
    """North-rule priority queue, multi-wave, END-TO-END: a max_conn-capped
    crawl with priority_expr='depth' (deepest-first within the cut) must
    visit exactly what the pure-Python simulator's priority mode visits,
    in the same pos order. Pins the (priority DESC, seq) wave-cut total
    order + (wave, seq) pos keys across >1 wave, not just the one-shot
    frontier_priority_cut oracle."""
    from wcm_spark.corpus import seed_urls
    from wcm_spark.datapipe.fixtures import (
        CRAWL_FIXTURE,
        fixture_corpus_path,
        simulate_crawl_waves,
    )

    corpus = spark.read.parquet(fixture_corpus_path(*CRAWL_FIXTURE)).cache()
    res = Crawler(
        spark,
        corpus,
        CrawlConfig(
            max_conn=4, priority_expr="depth",
        ),
    ).run(seed_urls(CRAWL_FIXTURE[0]))
    got = [
        (r["pos"], r["url"], r["status"], r["depth"])
        for r in res.visits.orderBy("pos").collect()
    ]
    n_waves, sim_visits, _ = simulate_crawl_waves(
        *CRAWL_FIXTURE, max_conn=4,
        priority=lambda url, depth, seq: depth,
    )
    assert got == [(i, u, s, d) for i, (u, s, d) in enumerate(sim_visits)]
    assert res.waves == n_waves > 3  # genuinely multi-wave
    # the priority order is real: some deeper URL is visited before a
    # shallower one (impossible under FIFO's wave-BFS order)
    inversions = [
        1 for (_, _, _, d1), (_, _, _, d2) in zip(got, got[1:]) if d1 > d2
    ]
    assert inversions


def test_priority_seq_reduces_to_fifo(spark):
    """priority_expr='-seq' orders (-seq DESC, seq) = plain seq — the
    priority queue must reproduce the FIFO crawl's visit order exactly
    (the reference's semantics when priority = seq)."""
    from wcm_spark.corpus import seed_urls
    from wcm_spark.datapipe.fixtures import CRAWL_FIXTURE, fixture_corpus_path

    corpus = spark.read.parquet(fixture_corpus_path(*CRAWL_FIXTURE)).cache()

    def run(expr):
        res = Crawler(
            spark, corpus,
            CrawlConfig(max_conn=6, priority_expr=expr),
        ).run(seed_urls(CRAWL_FIXTURE[0]))
        return [
            (r["pos"], r["url"], r["status"], r["depth"])
            for r in res.visits.orderBy("pos").collect()
        ]

    assert run("-seq") == run(None)


def test_chunked_site_generator_equals_whole():
    """gen_site_pages_chunk over a site's chunks must union to exactly
    gen_site_pages (keyed by url — row order across chunks differs)."""
    from wcm_spark.corpus import gen_site_pages, gen_site_pages_chunk

    for site, ps in ((0, 13), (1, 13), (3, 13), (4, 1)):
        whole = {r["url"]: r for r in gen_site_pages(site, 5, ps)}
        chunked = {}
        for st in range(0, ps, 4):
            for r in gen_site_pages_chunk(site, 5, ps, st, min(st + 4, ps)):
                assert r["url"] not in chunked, r["url"]
                chunked[r["url"]] = r
        assert chunked.keys() == whole.keys()
        for u, r in whole.items():
            assert chunked[u] == r, u


def test_skew_crawl_visit_set_matches_uncapped(spark):
    """Zipf-skewed corpus (one host = half the pages): a politeness-capped
    crawl (the salted per-host wave cut's stress shape) must fetch
    exactly the same visit set as the uncapped drain crawl — the cap
    changes scheduling, never reachability."""
    from pyspark.sql import functions as F

    from wcm_spark.corpus import corpus_df_sized, seed_urls

    corpus = corpus_df_sized(spark, [40] + [8] * 4, chunk=16).cache()
    seeds = seed_urls(5)

    def visit_urls(cfg):
        res = Crawler(spark, corpus, cfg).run(seeds)
        return {r["url"] for r in res.visits.select("url").collect()}

    uncapped = visit_urls(CrawlConfig())
    capped = visit_urls(CrawlConfig(max_conn_per_host=12))
    assert capped == uncapped
    # the skew is real: the hot host holds >40% of visits
    hot = sum(1 for u in uncapped if "//site0." in u)
    assert hot / len(uncapped) > 0.4
