"""North-rule gates as pytest: checkpoint resume + image payload fidelity.

BASELINE.json:14-15 — "resumable from checkpoint with per-partition
lineage", "decoded-pixel allclose (PSNR>=40dB for lossy) + caption
equality ... verify with `python -m pytest -x -q`".
"""

import pytest

from wcm_spark.corpus import corpus_rows, seed_urls
from wcm_spark.images import decode_image, gen_image, psnr
from wcm_spark.scheduler import CrawlConfig, Crawler
from wcm_spark.store import TableStore

N_SITES = 2
PAGES = 10


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = corpus_rows(N_SITES, PAGES)
    return spark.createDataFrame(
        [(r["url"], r["status"], r["content_type"], r["content_length"], r["body"], r["redirect_to"]) for r in rows],
        "url string, status int, content_type string, content_length bigint, body binary, redirect_to string",
    ).cache()


def test_kill_resume_equivalence(spark, corpus_df, tmp_path):
    """A crawl killed after 2 waves and resumed matches an uninterrupted
    crawl: same total fetches, same visit set, same seen set."""
    full = Crawler(
        spark, corpus_df, CrawlConfig()
    ).run(seed_urls(N_SITES))
    full_urls = {r["url"] for r in full.visits.collect()}
    full_seen = {r["digest"] for r in full.seen.collect()}

    ckpt = str(tmp_path / "ckpt")
    cfg_partial = CrawlConfig(checkpoint_dir=ckpt, max_waves=2)
    partial = Crawler(spark, corpus_df, cfg_partial).run(seed_urls(N_SITES))
    cfg_resume = CrawlConfig(checkpoint_dir=ckpt)
    resumed = Crawler.resume(spark, corpus_df, cfg_resume)

    assert partial.fetched + resumed.fetched == full.fetched
    got_urls = {r["url"] for r in partial.visits.collect()} | {
        r["url"] for r in resumed.visits.collect()
    }
    assert got_urls == full_urls
    got_seen = {r["digest"] for r in resumed.seen.collect()}
    assert got_seen == full_seen

    # per-wave lineage persisted: the store's visits table carries wave ids
    store = TableStore(ckpt)
    committed = store.read(spark, "visits")
    assert committed is not None
    waves = {r["wave"] for r in committed.select("wave").distinct().collect()}
    # waves 1-2 from the partial run; the resumed run appends its own
    assert {1, 2}.issubset(waves) and max(waves) == resumed.waves


def test_image_payload_fidelity(spark, corpus_df):
    """Per-row invariant (BASELINE.json:15): decoded pixels bit-exact for
    lossless, PSNR >= 40 dB for lossy, caption equality vs the source."""
    res = Crawler(
        spark, corpus_df,
        CrawlConfig(collect_images=True),
    ).run(seed_urls(N_SITES))
    rows = res.images.collect()
    assert rows, "crawl must sink image rows"
    for r in rows:
        arr, fmt = decode_image(r["bytes"])
        assert (r["w"], r["h"]) == (arr.shape[1], arr.shape[0])
        assert r["fmt"] == fmt
        # reconstruct the source image from the deterministic generator
        site = r["image_id"].split("//site")[1].split(".")[0]
        tag = r["image_id"].rsplit("/", 1)[1].replace(".wci", "")
        source = gen_image(f"{site}/img/{tag}")
        p = psnr(source, arr)
        if fmt == "wclz":
            assert p == float("inf"), "lossless must be bit-exact"
        else:
            assert p >= 40.0, f"lossy PSNR gate: {p}"
        if r["caption"] is not None:
            assert r["caption"] == f"caption site {site} image {tag}"
        assert isinstance(r["phash"], int)
    # the sink's schema IS the north-rule input table: the curation
    # gates (and by extension the whole image-table query family)
    # consume it directly, no adaptation layer
    from wcm_spark.streaming.metrics import stream_image_gates

    verdicts = {
        r["image_id"]: r["verdict"]
        for r in stream_image_gates(res.images, min_px=1024).collect()
    }
    assert len(verdicts) == len(rows)
    assert set(verdicts.values()) <= {"kept", "captionless", "lowres"}


def test_kill_resume_live_http_no_refetch(spark, tmp_path):
    """Live-mode kill/resume: a crawl stopped after wave 1 and resumed
    from the checkpoint completes the site WITHOUT refetching the
    committed wave's URLs (hit counters prove it), and the combined
    visit set equals an uninterrupted live crawl's."""
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    hits: Counter = Counter()
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            with lock:
                hits[self.path] += 1
            if self.path == "/index.html":
                body = b'<a href="/a.html">a</a><a href="/b.html">b</a>'
            elif self.path == "/a.html":
                body = b'<a href="/c.html">c</a>'
            else:
                body = b"leaf"
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        ckpt = str(tmp_path / "http-ckpt")
        cfg = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0, checkpoint_dir=ckpt,
        )
        import dataclasses

        partial = Crawler(spark, None, dataclasses.replace(cfg, max_waves=1)).run(
            [f"{base}/index.html"]
        )
        assert partial.waves == 1
        assert hits["/index.html"] == 1
        with lock:
            hits_after_wave1 = dict(hits)

        resumed = Crawler.resume(spark, None, cfg)
        # the committed wave's URL was NOT refetched on resume
        assert hits["/index.html"] == hits_after_wave1["/index.html"] == 1
        got = {r["request_url"] for r in partial.visits.collect()} | {
            r["request_url"] for r in resumed.visits.collect()
        }
        assert got == {
            f"{base}/index.html", f"{base}/a.html", f"{base}/b.html",
            f"{base}/c.html",
        }
        # every URL fetched exactly once across the kill/resume boundary
        assert all(v == 1 for v in hits.values()), hits
    finally:
        srv.shutdown()


def test_kill_resume_priority_crawl_order_parity(spark, corpus_df, tmp_path):
    """S5 x the r5 priority queue: a priority crawl (max_conn cap,
    depth-priority cut) killed after 2 waves and resumed emits exactly
    the uninterrupted crawl's visit sequence — the checkpoint carries
    enough frontier state (seq, depth) for the (priority DESC, seq)
    total order to continue unchanged."""
    cfg_kw = dict(max_conn=6, priority_expr="depth")
    full = Crawler(spark, corpus_df, CrawlConfig(**cfg_kw)).run(seed_urls(N_SITES))
    full_v = [
        (r["pos"], r["url"], r["depth"])
        for r in full.visits.orderBy("pos").collect()
    ]

    ckpt = str(tmp_path / "ckpt_prio")
    partial = Crawler(
        spark, corpus_df,
        CrawlConfig(checkpoint_dir=ckpt, max_waves=2, **cfg_kw),
    ).run(seed_urls(N_SITES))
    resumed = Crawler.resume(
        spark, corpus_df, CrawlConfig(checkpoint_dir=ckpt, **cfg_kw)
    )
    got = [
        (r["pos"], r["url"], r["depth"])
        for r in partial.visits.orderBy("pos").collect()
    ] + [
        (r["pos"], r["url"], r["depth"])
        for r in resumed.visits.orderBy("pos").collect()
    ]
    assert partial.fetched + resumed.fetched == full.fetched
    assert [(u, d) for _, u, d in got] == [(u, d) for _, u, d in full_v]
