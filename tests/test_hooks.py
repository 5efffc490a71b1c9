"""User extension surface: html_handlers override + wave/error/empty hooks.

Mirrors the reference's user-facing customization: ``html_handlers``
replaces the selector->extractor map (Mojo.pm:14,253-261; custom-handler
usage as in t/collect_urls.t), and the res/error/empty events
(Mojo.pm:306-393) map to per-wave driver callbacks.
"""

from __future__ import annotations

from wcm_spark.htmlkit import extract_links

PAGE = b"""<html><body>
<a href="/a1.html">one</a>
<img src="/i1.png">
<a href="/a2.html">two</a>
<link href="/c.css" rel="stylesheet">
</body></html>"""


def test_custom_handlers_replace_presets():
    only_anchors = {"a[href]": lambda n: n.attrs.get("href")}
    items = extract_links(
        "http://x/", "text/html", len(PAGE), PAGE, handlers=only_anchors
    )
    assert [it["literal_uri"] for it in items] == ["/a1.html", "/a2.html"]
    # bare-string returns are accepted; emit order still document order
    assert [it["emit_idx"] for it in items] == [0, 1]


def test_custom_handler_new_selector():
    # a selector the presets don't have: harvest data-src lazy images
    handlers = {
        "img[data-src]": lambda n: [n.attrs.get("data-src")],
        "a[href]": lambda n: [n.attrs.get("href")],
    }
    page = b'<a href="/x">x</a><img data-src="/lazy.png" src="/eager.png">'
    items = extract_links("http://x/", "text/html", len(page), page, handlers=handlers)
    assert {it["literal_uri"] for it in items} == {"/x", "/lazy.png"}


def test_wave_hooks_and_handler_config(spark):
    from wcm_spark.corpus import corpus_df, seed_urls
    from wcm_spark.scheduler import Crawler, CrawlConfig

    corpus = corpus_df(spark, n_sites=2, pages_per_site=6).cache()

    waves_seen: list[int] = []
    empty_fired: list[bool] = []

    def on_wave(wave_id, pages):
        waves_seen.append(wave_id)
        return None  # observe only

    cfg = CrawlConfig(
        on_wave=on_wave,
        on_empty=lambda: empty_fired.append(True),
        html_handlers={"a[href]": lambda n: n.attrs.get("href")},
    )
    res = Crawler(spark, corpus, cfg).run(seed_urls(2))
    assert waves_seen == list(range(1, res.waves + 1))
    assert empty_fired == [True]

    # anchors-only crawl never visits image/css/js URLs
    urls = [r["request_url"] for r in res.visits.collect()]
    assert urls and not any(
        u.endswith((".png", ".css", ".js")) for u in urls
    )

    # default presets DO discover assets on the same corpus
    res_full = Crawler(
        spark, corpus, CrawlConfig()
    ).run(seed_urls(2))
    full_urls = [r["request_url"] for r in res_full.visits.collect()]
    assert len(full_urls) > len(urls)


def test_on_wave_can_replace_pages(spark):
    from pyspark.sql import functions as F

    from wcm_spark.corpus import corpus_df, seed_urls
    from wcm_spark.scheduler import Crawler, CrawlConfig

    corpus = corpus_df(spark, n_sites=2, pages_per_site=6).cache()

    def drop_all(wave_id, pages):
        return pages.filter(F.lit(False))  # scrape nothing -> 1-wave crawl

    res = Crawler(
        spark, corpus,
        CrawlConfig(on_wave=drop_all),
    ).run(seed_urls(2))
    assert res.waves == 1 and res.fetched == 2


def test_redundancy_replacement(spark):
    """$bot->queue->redundancy(sub {...}) analog (reference
    README.md:158-160): a user key function replaces the md5 digest —
    here, ignoring query strings, so /page?a and /page?b dedup to one
    visit."""
    from wcm_spark.corpus import corpus_df
    from wcm_spark.scheduler import Crawler, CrawlConfig

    corpus = corpus_df(spark, n_sites=1, pages_per_site=4).cache()

    def ignore_query(url, method, params):
        return f"{url.split('?')[0]}|{method}"

    base = {r["url"] for r in corpus.select("url").collect()}
    page0 = sorted(u for u in base if u.endswith("/p/0.html"))[0]

    cfg = CrawlConfig(redundancy=ignore_query)
    res = Crawler(spark, corpus, cfg).run(
        [page0, page0 + "?utm=x", page0 + "?utm=y"]
    )
    # the three query-variant seeds collapse to ONE visit of page0
    first_wave = [r for r in res.visits.collect() if r["wave"] == 1]
    assert len(first_wave) == 1 and first_wave[0]["request_url"] == page0

    # default digest keeps them distinct
    res2 = Crawler(spark, corpus, CrawlConfig()).run(
        [page0, page0 + "?utm=x", page0 + "?utm=y"]
    )
    assert len([r for r in res2.visits.collect() if r["wave"] == 1]) == 3
