"""Bucketed corpus fetch side: the 100 TB analog of the in-memory cache.

Pins two properties of ``CrawlConfig.corpus_prepartitioned`` over a
corpus written with ``write_bucketed_corpus`` (bucketed+sorted by url):

1. plan shape — the fetch join's corpus side is the bucketed scan itself
   (``Bucketed: true``), with NO exchange above it; only the narrow wave
   side shuffles, and
2. result parity — the bucketed crawl produces exactly the plain crawl's
   visit set and ordering.
"""

import shutil
import tempfile

import pytest


@pytest.fixture(scope="module")
def bucketed_table(spark):
    from wcm_spark.corpus import corpus_df, write_bucketed_corpus

    d = tempfile.mkdtemp(prefix="wcm-bucketed-")
    corpus = corpus_df(spark, n_sites=2, pages_per_site=8)
    write_bucketed_corpus(corpus, "bucketed_corpus", buckets=8, path=f"{d}/tbl")
    yield "bucketed_corpus"
    spark.sql("DROP TABLE IF EXISTS bucketed_corpus")
    shutil.rmtree(d, ignore_errors=True)


def test_bucketed_fetch_join_plans_no_corpus_exchange(spark, bucketed_table):
    """With broadcast off (the 100 TB regime — a real corpus never
    broadcasts), the prepartitioned fetch join reads the bucketed scan
    directly (``Bucketed: true``) and plans exactly one fewer hash
    exchange than the repartition+persist path: the corpus side's."""
    from wcm_spark.scheduler import CrawlConfig, Crawler

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        corpus = spark.table(bucketed_table)

        def fetch_plan(prepartitioned: bool) -> str:
            crawler = Crawler(
                spark, corpus,
                CrawlConfig(
                    corpus_prepartitioned=prepartitioned,
                ),
            )
            wave = crawler._seed_frontier(["http://site0.example.test/p/0.html"])
            df = crawler._fetch_wave(wave)
            plan = df._jdf.queryExecution().executedPlan().toString()
            if not prepartitioned:
                crawler._fetch_df.unpersist()
            return plan

        bucketed_plan = fetch_plan(True)
        plain_plan = fetch_plan(False)
        assert "Bucketed: true" in bucketed_plan, bucketed_plan
        assert (
            bucketed_plan.count("Exchange hashpartitioning")
            == plain_plan.count("Exchange hashpartitioning") - 1
        ), (bucketed_plan, plain_plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_crawl_matches_plain(spark, bucketed_table):
    from wcm_spark.corpus import corpus_df, seed_urls
    from wcm_spark.scheduler import CrawlConfig, Crawler

    plain = Crawler(
        spark, corpus_df(spark, n_sites=2, pages_per_site=8).cache(),
        CrawlConfig(),
    ).run(seed_urls(2))
    bucketed = Crawler(
        spark, spark.table(bucketed_table),
        CrawlConfig(corpus_prepartitioned=True),
    ).run(seed_urls(2))
    cols = ["pos", "url", "status", "depth"]
    a = [tuple(r) for r in plain.visits.select(*cols).orderBy("pos").collect()]
    b = [tuple(r) for r in bucketed.visits.select(*cols).orderBy("pos").collect()]
    assert a == b
    assert plain.fetched == bucketed.fetched
