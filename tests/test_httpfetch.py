"""Live-crawl e2e: real HTTP fetch against a local server.

Mirrors the reference's t/practical.t:17-35 (Mojo daemon serving a static
tree, crawl from /index.html, assert the visited URL set and depths) with
an original fixture tree exercising the same behaviors: css link, script
src, img src, CSS url() (depth-2 discovery), whitespace-wrapped href,
GET/POST form emulation, a 404 link, and a 302 redirect recorded per
Job::redirect layout (Job.pm:84-90).
"""

from __future__ import annotations

import threading
from http.server import SimpleHTTPRequestHandler, ThreadingHTTPServer

import pytest

INDEX_HTML = """<html>
<head>
    <link href="./css/main.css" rel="stylesheet" type="text/css">
    <script src="./js/app.js" type="text/javascript"></script>
</head>
<body>
    <a href="./missing.html">gone</a>
    <img src="./img/one.png" alt="one">
    <div style="background-image:url(./img/three.png)"></div>
    <a href=" ./space.txt ">spaced</a>
    <a href="/redir">hop</a>
    <form action="/form_receptor1" method="post">
        <input type="text" name="query1" value="default">
    </form>
    <form action="/form_receptor2?a=b" method="get">
        <input type="text" name="query2" value="default">
    </form>
</body>
</html>
"""

FILES = {
    "index.html": INDEX_HTML.encode(),
    "css/main.css": b"body { background: url(../img/two.png); }\n",
    "js/app.js": b"var x = 1;\n",
    "img/one.png": b"\x89PNG-one",
    "img/two.png": b"\x89PNG-two",
    "img/three.png": b"\x89PNG-three",
    "space.txt": b"space\n",
    "final.html": b"<html><body>landed</body></html>",
}


class _Handler(SimpleHTTPRequestHandler):
    def log_message(self, *args):  # quiet
        pass

    def do_GET(self):
        if self.path == "/redir":
            self.send_response(302)
            self.send_header("Location", "/final.html")
            self.end_headers()
            return
        if self.path.startswith("/form_receptor"):
            body = b"received"
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        super().do_GET()

    def do_POST(self):
        self.do_GET()


@pytest.fixture(scope="module")
def server(tmp_path_factory):
    root = tmp_path_factory.mktemp("site")
    for rel, data in FILES.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)

    def handler(*args, **kwargs):
        return _Handler(*args, directory=str(root), **kwargs)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_live_crawl_visit_set_and_depths(spark, server):
    from wcm_spark.scheduler import Crawler, CrawlConfig

    cfg = CrawlConfig(
        fetch_mode="http",
        http_concurrency=4, http_timeout=5.0,
    )
    res = Crawler(spark, None, cfg).run([f"{server}/index.html"])
    rows = {r["request_url"]: r for r in res.visits.collect()}

    expected = {
        f"{server}/index.html": 0,
        f"{server}/css/main.css": 1,
        f"{server}/js/app.js": 1,
        f"{server}/missing.html": 1,
        f"{server}/img/one.png": 1,
        f"{server}/img/three.png": 1,
        f"{server}/space.txt": 1,
        f"{server}/redir": 1,
        f"{server}/form_receptor1": 1,
        f"{server}/form_receptor2?a=b&query2=default": 1,
        f"{server}/img/two.png": 2,  # discovered inside css url()
    }
    assert {u: r["depth"] for u, r in rows.items()} == expected

    # statuses: everything 200 except the dead link
    assert rows[f"{server}/missing.html"]["status"] == 404
    ok = {u for u, r in rows.items() if r["status"] == 200}
    assert f"{server}/css/main.css" in ok and f"{server}/img/two.png" in ok

    # F9: redirect recorded, final url fetched, history = [original]
    hop = rows[f"{server}/redir"]
    assert hop["url"] == f"{server}/final.html"
    assert list(hop["redirect_history"]) == [f"{server}/redir"]
    assert hop["original_url"] == f"{server}/redir"
    assert hop["status"] == 200


def test_live_crawl_error_channel(spark):
    """Unreachable host -> status NULL -> retry channel requeues it."""
    from wcm_spark.scheduler import Crawler, CrawlConfig

    cfg = CrawlConfig(
        fetch_mode="http",
        http_timeout=0.5, retry_errors=1, max_waves=3,
    )
    # RFC 5737 TEST-NET address: connection fails fast
    res = Crawler(spark, None, cfg).run(["http://192.0.2.1:9/x"])
    vis = res.visits.collect()
    # fetched twice (original + one retry), both with NULL status
    assert len(vis) == 2
    assert all(v["status"] is None for v in vis)


def test_non_http_schemes_skipped_in_live_mode(spark, seen_max):
    """The frontier keeps ftp/ws/wss (R2, Mojo.pm:177) but the live
    fetcher speaks only http(s): such rows are SKIPPED at fetch time —
    never requested, never retried, counted in the wave's ``skipped``
    metric — and the crawl still drains cleanly, with or without the exact
    seen mirror."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from wcm_spark.scheduler import Crawler, CrawlConfig

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = (
                b'<a href="ftp://files.example.test/f.txt">ftp</a>'
                b'<a href="wss://rt.example.test/sock">ws</a>'
                b'<a href="/leaf.html">leaf</a>'
                if self.path == "/index.html"
                else b"leaf"
            )
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0, retry_errors=2, broadcast_seen_max=seen_max,
            max_waves=5,  # guard: a skip miscounted as pending would spin
        )
        res = Crawler(spark, None, cfg).run([f"{base}/index.html"])
        urls = {r["request_url"] for r in res.visits.collect()}
        # only the http URLs were ever fetched; no NULL-status error rows
        # for the ftp/wss children (skipped, not errored-and-retried)
        assert urls == {f"{base}/index.html", f"{base}/leaf.html"}
        assert res.visits.filter("status is null").count() == 0
        assert res.waves == 2
        assert res.metrics[-1]["pending"] == 0
        assert res.metrics[-1]["skipped"] == 2  # ftp + wss rows
    finally:
        srv.shutdown()


def test_http_mode_fetches_each_url_exactly_once(spark):
    """The live fetch is pinned per wave: deriving visits, children and
    retry frames from it must NOT re-hit the network (each URL requested
    exactly once for a clean crawl)."""
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from wcm_spark.scheduler import Crawler, CrawlConfig

    hits: Counter = Counter()
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            with lock:
                hits[self.path] += 1
            body = (
                b'<a href="/leaf1.html">1</a><a href="/leaf2.html">2</a>'
                if self.path == "/root.html"
                else b"leaf"
            )
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0,
        )
        res = Crawler(spark, None, cfg).run([f"{base}/root.html"])
        assert res.fetched == 3
        assert dict(hits) == {"/root.html": 1, "/leaf1.html": 1, "/leaf2.html": 1}
    finally:
        srv.shutdown()


def test_min_delay_sec_spaces_same_host_requests(spark):
    """Wall-clock politeness: same-host requests are spaced by
    min_delay_sec while the crawl still completes; request timestamps on
    the server prove the spacing."""
    import threading
    import time as _time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from wcm_spark.scheduler import Crawler, CrawlConfig

    stamps: dict = {}
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            with lock:
                stamps[self.path] = _time.monotonic()
            body = (
                b'<a href="/a.html">a</a><a href="/b.html">b</a>'
                b'<a href="/c.html">c</a>'
                if self.path == "/root.html"
                else b"leaf"
            )
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0, min_delay_sec=0.4,
        )
        res = Crawler(spark, None, cfg).run([f"{base}/root.html"])
        assert res.fetched == 4
        # wave 2 fetches a,b,c on one host: consecutive stamps >= 0.4s apart
        ts = sorted(stamps[p] for p in ("/a.html", "/b.html", "/c.html"))
        gaps = [ts[1] - ts[0], ts[2] - ts[1]]
        assert all(g >= 0.35 for g in gaps), gaps
    finally:
        srv.shutdown()


def test_backoff_status_rests_host_and_retries(spark):
    """F10 backoff: a 429 rests the whole host for backoff_waves waves
    and the row re-queues through the retry channel — the retry lands
    AFTER the cooldown and succeeds; other hosts are unaffected."""
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from wcm_spark.scheduler import Crawler, CrawlConfig

    hits: Counter = Counter()
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            with lock:
                hits[self.path] += 1
                n = hits[self.path]
            if self.path == "/busy.html" and n == 1:
                self.send_response(429)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            body = (
                b'<a href="/busy.html">busy</a><a href="/ok.html">ok</a>'
                if self.path == "/root.html"
                else b"leaf"
            )
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0, retry_errors=2,
            backoff_statuses=(429,), backoff_waves=2, max_waves=12,
        )
        res = Crawler(spark, None, cfg).run([f"{base}/root.html"])
        visits = sorted(
            (r["wave"], r["request_url"], r["status"])
            for r in res.visits.collect()
        )
        busy = [(w, s) for w, u, s in visits if u.endswith("/busy.html")]
        # first attempt 429, retry succeeds
        assert [s for _, s in busy] == [429, 200], busy
        assert hits["/busy.html"] == 2
        # the retry waited out the cooldown: > backoff_waves waves later
        assert busy[1][0] - busy[0][0] > 2, busy
        # the sibling on the same wave was unaffected
        assert any(u.endswith("/ok.html") and s == 200 for _, u, s in visits)
    finally:
        srv.shutdown()


def test_conditional_get_304_with_validators(spark):
    """Conditional-GET recrawl e2e: crawl 1 harvests each URL's ETag from
    the fetched frame; crawl 2 seeds the same URLs with those validators
    (one perturbed = 'content changed'). Unchanged URLs come back 304
    with NO body transfer; the changed one refetches with a 200 — the
    live form of the recrawl_conditional_fetch audit."""
    import hashlib
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from wcm_spark.scheduler import Crawler, CrawlConfig

    pages = {
        "/index.html": b'<a href="/a.html">a</a><a href="/b.html">b</a>',
        "/a.html": b"alpha",
        "/b.html": b"beta",
    }
    etags = {p: '"' + hashlib.md5(b).hexdigest() + '"' for p, b in pages.items()}
    served = Counter()  # path -> full-body transfers

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = pages.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            if self.headers.get("If-None-Match") == etags[self.path]:
                self.send_response(304)
                self.send_header("ETag", etags[self.path])
                self.end_headers()
                return
            served[self.path] += 1
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.send_header("ETag", etags[self.path])
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    harvested: dict[str, str] = {}

    def harvest(wave_id, pages_df):
        for r in pages_df.select("url", "etag").collect():
            harvested[r["url"]] = r["etag"]

    try:
        cfg1 = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0, on_wave=harvest,
        )
        res1 = Crawler(spark, None, cfg1).run([f"{base}/index.html"])
        assert res1.fetched == 3
        assert harvested == {f"{base}{p}": etags[p] for p in pages}
        assert sum(served.values()) == 3

        # recrawl frontier: all three URLs due, a.html's content "changed"
        # (its stored validator no longer matches)
        validators = spark.createDataFrame(
            [
                (u, '"stale"' if u.endswith("/a.html") else e)
                for u, e in harvested.items()
            ],
            "url string, etag string",
        )
        cfg2 = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0, validators=validators, max_depth=1,
        )
        res2 = Crawler(spark, None, cfg2).run(sorted(harvested))
        got = {r["request_url"]: r["status"] for r in res2.visits.collect()}
        assert got == {
            f"{base}/index.html": 304,
            f"{base}/a.html": 200,
            f"{base}/b.html": 304,
        }
        # exactly ONE body crossed the wire in the whole recrawl
        assert sum(served.values()) == 4 and served["/a.html"] == 2
    finally:
        srv.shutdown()
