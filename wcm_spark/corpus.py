"""Deterministic synthetic web corpus — the engine's test/bench fetch source.

Mirrors the reference's mock-server strategy (t/practical.t:17-35 serves
t/public/, t/empty.t serves t/public2/, xt/memory_usage.t:12-43 generates a
synthetic chain): instead of network IO, the fetch stage joins scheduled
waves against this corpus table (FIXTURES.md §1 schema:
url/status/content_type/content_length/body/redirect_to).

Generation is pure-functional on (site, page) — no RNG state — so the same
rows materialize identically in the pure-Python simulator, in a local
DataFrame, or distributed via mapInPandas over site ids at bench scale
(sites are the parallel unit; no driver materialization).

Content coverage: every handler selector (links, css, script, img, area,
forms GET/POST, meta refresh, sitemap namespace yes/no, style/[style]),
scheme noise (mailto/tel/foo), whitespace-duplicate hrefs, redirect chains
(incl. > 5 hops), 404s/网errors, cp932 pages, image payloads with captions.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from .crawlcore import CorpusPage
from .images import LOSSLESS_FMT, LOSSY_FMT, encode_image, gen_image

__all__ = [
    "site_url", "page_url", "gen_site_pages", "gen_site_pages_chunk",
    "corpus_rows", "seed_urls", "corpus_df", "corpus_df_sized",
    "CORPUS_SCHEMA",
]

CORPUS_SCHEMA = (
    "url string, status int, content_type string, content_length bigint, "
    "body binary, redirect_to string"
)


def _h(key: str) -> int:
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")


def site_url(site: int) -> str:
    return f"http://site{site}.example.test"


def page_url(site: int, page: int) -> str:
    return f"{site_url(site)}/p/{page}.html"


def _page_body(site: int, page: int, n_sites: int, pages_per_site: int) -> str:
    h = _h(f"{site}/{page}")
    parts = ["<html>\n<head>\n"]
    if page == 0:
        parts.append('    <link rel="stylesheet" type="text/css" href="/style.css" />\n')
        parts.append('    <a href="/sitemap.xml">sm</a>\n')  # head-links fine for parser
    if h % 10 == 0:
        parts.append(
            '    <meta http-equiv="Content-Type" content="text/html; charset=cp932" />\n'
        )
    if h % 11 == 0:
        parts.append(
            f'    <meta http-equiv="Refresh" content="5;URL=/p/{(page + 3) % pages_per_site}.html">\n'
        )
    parts.append("</head>\n<body>\n")

    # spanning-tree children guarantee every page is reachable from page 0
    for child in (page * 2 + 1, page * 2 + 2):
        if child < pages_per_site:
            parts.append(f'<a href="/p/{child}.html">c{child}</a>\n')
    # deterministic cross-site link
    if n_sites > 1 and h % 3 == 0:
        other = (site + 1 + h % (n_sites - 1)) % n_sites
        parts.append(f'<a href="{page_url(other, h % pages_per_site)}">x</a>\n')
    # intra-site shortcut with whitespace-duplicate quirk (t/main.t:34-35)
    if h % 4 == 0:
        tgt = (page + 7) % pages_per_site
        parts.append(f'<a href="/p/{tgt}.html">s</a>\n')
        parts.append(f'<a href=" /p/{tgt}.html ">s-dup</a>\n')
    # nav block: realistic link density (real pages carry ~100 links) —
    # most resolve to already-seen URLs, which is exactly the dedup load
    # profile a production frontier sees
    parts.append("<ul>\n")
    for k in range(24):
        tgt = (page * 3 + k * 7 + h % 13) % pages_per_site
        parts.append(f'<li><a href="/p/{tgt}.html">nav{k}</a></li>\n')
    parts.append("</ul>\n")
    # text filler: pushes page size toward realistic parse cost
    filler = hashlib.md5(f"filler/{site}/{page}".encode()).hexdigest()
    parts.append("<p>" + " ".join(filler[i % 28] * 5 for i in range(220)) + "</p>\n")
    # scheme noise — must be filtered out (Mojo.pm:177)
    parts.append('<a href="mailto:x@example.test">m</a>\n')
    if h % 5 == 0:
        parts.append('<a href="tel:000">t</a>\n<a href="foo://x/">f</a>\n')
    # image with caption (the payload pairs for the Iceberg sink)
    if h % 3 == 0:
        parts.append(
            f'<img src="/img/{page}.wci" alt="caption site {site} image {page}">\n'
        )
    # redirect entry points
    if h % 6 == 0:
        parts.append(f'<a href="/r/{page}">r</a>\n')
    # long chain head (tests the 5-redirect cap, Mojo.pm:50)
    if page == 1:
        parts.append('<a href="/chain/0">chain</a>\n')
    # GET form
    if h % 5 == 1:
        parts.append(
            f'<form action="/search?s={site}" method="get">\n'
            f'  <input type="text" name="q" value="page{page}">\n'
            '  <input type="submit" value="go">\n</form>\n'
        )
    # POST form
    if h % 7 == 1:
        parts.append(
            '<form action="/submit" method="post">\n'
            f'  <input type="hidden" name="p" value="{page}">\n'
            '  <textarea name="note">n</textarea>\n'
            '  <input type="submit" value="go">\n</form>\n'
        )
    # inline style attr (css url extraction from [style])
    if h % 8 == 2:
        parts.append(f'<div style="background-image:url(/img/bg{page % 3}.wci)">d</div>\n')
    parts.append("</body>\n</html>\n")
    return "".join(parts)


def gen_site_pages(
    site: int, n_sites: int, pages_per_site: int, with_images: bool = True
) -> Iterator[dict]:
    """All corpus rows of one site, as plain dicts (CORPUS_SCHEMA order)."""
    base = site_url(site)

    for page in range(pages_per_site):
        h = _h(f"{site}/{page}")
        body = _page_body(site, page, n_sites, pages_per_site)
        if h % 10 == 0:
            raw = body.encode("cp932", errors="replace")
            ct = "text/html"  # charset declared in the meta tag
        else:
            raw = body.encode("utf-8")
            ct = "text/html"
        yield dict(
            url=page_url(site, page),
            status=200,
            content_type=ct,
            content_length=len(raw),
            body=raw,
            redirect_to=None,
        )

    # robots.txt: a third of the sites disallow their redirect entry points
    # and one page subtree (exercises the north-rule robots gate; crawls
    # with respect_robots=False never fetch these, matching the reference)
    if site % 3 == 1:
        robots = (
            "User-agent: *\nDisallow: /r/\nDisallow: /r2/\n"
            f"Disallow: /p/{pages_per_site - 1}.html\nAllow: /p/\n"
            "User-agent: evilbot\nDisallow: /\n"
        ).encode()
        yield dict(
            url=f"{base}/robots.txt",
            status=200,
            content_type="text/plain",
            content_length=len(robots),
            body=robots,
            redirect_to=None,
        )

    css = f'@charset "utf-8";\nbody {{ background-image:url(/img/bg0.wci); }}\n/* site {site} */\n'
    yield dict(
        url=f"{base}/style.css",
        status=200,
        content_type="text/css",
        content_length=len(css),
        body=css.encode(),
        redirect_to=None,
    )

    locs = "".join(
        f"    <url>\n        <loc>{page_url(site, p)}</loc>\n    </url>\n"
        for p in range(min(pages_per_site, 5))
    )
    ns = "" if site % 4 == 3 else ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    sm = f'<?xml version="1.0" encoding="utf-8"?>\n<urlset{ns}>\n{locs}</urlset>\n'
    yield dict(
        url=f"{base}/sitemap.xml",
        status=200,
        content_type="text/html",  # reference dispatches on html/xml either way
        content_length=len(sm),
        body=sm.encode(),
        redirect_to=None,
    )

    # redirect hops: /r/{page} -> target page (1-2 hops)
    for page in range(pages_per_site):
        h = _h(f"{site}/{page}")
        if h % 6 == 0:
            tgt = page_url(site, (page + 1) % pages_per_site)
            if h % 12 == 0:  # two-hop chain
                yield dict(
                    url=f"{base}/r/{page}",
                    status=302,
                    content_type=None,
                    content_length=0,
                    body=None,
                    redirect_to=f"{base}/r2/{page}",
                )
                yield dict(
                    url=f"{base}/r2/{page}",
                    status=302,
                    content_type=None,
                    content_length=0,
                    body=None,
                    redirect_to=tgt,
                )
            else:
                yield dict(
                    url=f"{base}/r/{page}",
                    status=302,
                    content_type=None,
                    content_length=0,
                    body=None,
                    redirect_to=tgt,
                )

    # 7-hop chain from page 1 — exceeds the 5-redirect cap
    for i in range(7):
        yield dict(
            url=f"{base}/chain/{i}",
            status=302,
            content_type=None,
            content_length=0,
            body=None,
            redirect_to=f"{base}/chain/{i + 1}" if i < 6 else page_url(site, 0),
        )

    if with_images:
        img_pages = sorted(
            {p for p in range(pages_per_site) if _h(f"{site}/{p}") % 3 == 0}
            | {f"bg{i}" for i in range(3)},
            key=str,
        )
        for tag in img_pages:
            key = f"{site}/img/{tag}"
            arr = gen_image(key)
            fmt = LOSSY_FMT if _h(key) % 2 else LOSSLESS_FMT
            data = encode_image(arr, fmt)
            yield dict(
                url=f"{base}/img/{tag}.wci",
                status=200,
                content_type=f"image/x-{fmt}",
                content_length=len(data),
                body=data,
                redirect_to=None,
            )


def corpus_rows(n_sites: int, pages_per_site: int, with_images: bool = True) -> list[dict]:
    rows = []
    for s in range(n_sites):
        rows.extend(gen_site_pages(s, n_sites, pages_per_site, with_images))
    return rows


def seed_urls(n_sites: int) -> list[str]:
    return [page_url(s, 0) for s in range(n_sites)]


def write_bucketed_corpus(
    df, table: str, buckets: int = 32, path: str | None = None
) -> None:
    """Cluster-scale fetch side: bucket the corpus by the join key.

    The crawl joins every wave against the corpus on ``url``; locally the
    engine pins an in-memory hash-partitioned cache (scheduler._fetch_side)
    so bodies never re-shuffle. At 100 TB the corpus does not fit memory —
    the equivalent is BUCKETED STORAGE: a table bucketed (and sorted) by
    ``url`` makes the scan itself carry the hash partitioning, so the
    fetch join plans ZERO exchange on the corpus side (only the narrow
    wave shuffles, into the bucket count). Pair with
    ``CrawlConfig.corpus_prepartitioned=True`` so the scheduler skips its
    repartition+persist and leaves the bucketed scan's distribution
    intact (plan-asserted in tests/test_bucketed.py)."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, "url")
        .sortBy("url")
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def gen_site_pages_chunk(
    site: int,
    n_sites: int,
    pages_per_site: int,
    start: int,
    end: int,
    with_images: bool = True,
) -> Iterator[dict]:
    """Rows of one site restricted to page indices [start, end).

    Chunked form of gen_site_pages so a SKEWED corpus (one site holding
    half the pages — the real-crawl host distribution) can generate its
    hot site across many tasks instead of one. Per-page rows (pages,
    redirects, page-keyed images) land in their page's chunk; site-level
    rows (robots, css, sitemap, the 7-hop chain, bg images) land in the
    chunk containing page 0. The union over a site's chunks equals
    gen_site_pages row-for-row (pinned in tests)."""
    base = site_url(site)
    for page in range(start, end):
        h = _h(f"{site}/{page}")
        body = _page_body(site, page, n_sites, pages_per_site)
        raw = (
            body.encode("cp932", errors="replace") if h % 10 == 0
            else body.encode("utf-8")
        )
        yield dict(
            url=page_url(site, page), status=200, content_type="text/html",
            content_length=len(raw), body=raw, redirect_to=None,
        )
    if start == 0:
        if site % 3 == 1:
            robots = (
                "User-agent: *\nDisallow: /r/\nDisallow: /r2/\n"
                f"Disallow: /p/{pages_per_site - 1}.html\nAllow: /p/\n"
                "User-agent: evilbot\nDisallow: /\n"
            ).encode()
            yield dict(
                url=f"{base}/robots.txt", status=200,
                content_type="text/plain", content_length=len(robots),
                body=robots, redirect_to=None,
            )
        css = f'@charset "utf-8";\nbody {{ background-image:url(/img/bg0.wci); }}\n/* site {site} */\n'
        yield dict(
            url=f"{base}/style.css", status=200, content_type="text/css",
            content_length=len(css), body=css.encode(), redirect_to=None,
        )
        locs = "".join(
            f"    <url>\n        <loc>{page_url(site, p)}</loc>\n    </url>\n"
            for p in range(min(pages_per_site, 5))
        )
        ns = "" if site % 4 == 3 else ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
        sm = f'<?xml version="1.0" encoding="utf-8"?>\n<urlset{ns}>\n{locs}</urlset>\n'
        yield dict(
            url=f"{base}/sitemap.xml", status=200, content_type="text/html",
            content_length=len(sm), body=sm.encode(), redirect_to=None,
        )
    for page in range(start, end):
        h = _h(f"{site}/{page}")
        if h % 6 == 0:
            tgt = page_url(site, (page + 1) % pages_per_site)
            if h % 12 == 0:
                yield dict(
                    url=f"{base}/r/{page}", status=302, content_type=None,
                    content_length=0, body=None,
                    redirect_to=f"{base}/r2/{page}",
                )
                yield dict(
                    url=f"{base}/r2/{page}", status=302, content_type=None,
                    content_length=0, body=None, redirect_to=tgt,
                )
            else:
                yield dict(
                    url=f"{base}/r/{page}", status=302, content_type=None,
                    content_length=0, body=None, redirect_to=tgt,
                )
    if start == 0:
        for i in range(7):
            yield dict(
                url=f"{base}/chain/{i}", status=302, content_type=None,
                content_length=0, body=None,
                redirect_to=f"{base}/chain/{i + 1}" if i < 6 else page_url(site, 0),
            )
    if with_images:
        tags: list = sorted(
            {p for p in range(start, end) if _h(f"{site}/{p}") % 3 == 0},
            key=str,
        )
        if start == 0:
            tags = sorted(set(tags) | {f"bg{i}" for i in range(3)}, key=str)
        for tag in tags:
            key = f"{site}/img/{tag}"
            arr = gen_image(key)
            fmt = LOSSY_FMT if _h(key) % 2 else LOSSLESS_FMT
            data = encode_image(arr, fmt)
            yield dict(
                url=f"{base}/img/{tag}.wci", status=200,
                content_type=f"image/x-{fmt}", content_length=len(data),
                body=data, redirect_to=None,
            )


def corpus_df_sized(
    spark,
    sizes: list[int],
    with_images: bool = True,
    chunk: int = 4000,
    parts: int | None = None,
):
    """Corpus with PER-SITE page counts — the skew axis.

    ``sizes[i]`` = pages of site i; ``sizes = [N//2] + [k]*rest`` gives
    the zipf-head shape (one host owning half the frontier) the salted
    wave cut exists for. Generation parallelizes over (site, page-chunk)
    tasks so the hot site does not serialize into one generator task.
    Cross-site links from a larger site can point at pages a smaller
    site lacks — those fetch as status-null error rows, exactly like a
    live crawl's dead links."""
    import pandas as pd

    from .session import local_frame

    n_sites = len(sizes)
    tasks = []
    for s, ps in enumerate(sizes):
        for st in range(0, max(ps, 1), chunk):
            tasks.append((s, st, min(st + chunk, ps), ps))
    parts = parts or min(len(tasks), 256)

    def gen(batches):
        for pdf in batches:
            for s, st, en, ps in zip(
                pdf["site"], pdf["start"], pdf["end"], pdf["pages"]
            ):
                rows = list(
                    gen_site_pages_chunk(
                        int(s), n_sites, int(ps), int(st), int(en), with_images
                    )
                )
                if rows:
                    yield pd.DataFrame(rows)

    tdf = local_frame(spark, tasks, "site int, start int, end int, pages int")
    return tdf.repartition(parts).mapInPandas(gen, schema=CORPUS_SCHEMA)


def corpus_df(spark, n_sites: int, pages_per_site: int, with_images: bool = True, parts: int | None = None):
    """Distributed corpus materialization: one generator task per site."""
    import pandas as pd

    parts = parts or min(n_sites, 256)

    def gen(batches):
        for pdf in batches:
            for s in pdf["id"]:
                rows = list(gen_site_pages(int(s), n_sites, pages_per_site, with_images))
                yield pd.DataFrame(rows)

    return (
        spark.range(n_sites)
        .repartition(parts)
        .mapInPandas(gen, schema=CORPUS_SCHEMA)
    )
