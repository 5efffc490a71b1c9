"""robots.txt parsing, caching, and engine/simulator parity under robots."""

import pytest

from wcm_spark.robots import RobotsCache, parse_robots

BODY = """
# comments ignored
User-agent: evilbot
Disallow: /

User-agent: *
Disallow: /private/
Disallow: /tmp
Allow: /private/ok/
Disallow: /*.zip$
Disallow:
"""


def test_parse_and_match():
    rules = parse_robots(BODY, agent="wcm-spark")
    assert rules.allowed("/")
    assert rules.allowed("/public/x.html")
    assert not rules.allowed("/private/secret.html")
    assert rules.allowed("/private/ok/fine.html")  # longest-match Allow wins
    assert not rules.allowed("/tmpfile")  # prefix match, no slash needed
    assert not rules.allowed("/download/a.zip")  # wildcard + $ anchor
    assert rules.allowed("/download/a.zip.html")  # $ anchor respected


def test_agent_group_selection():
    evil = parse_robots(BODY, agent="evilbot")
    assert not evil.allowed("/anything")
    other = parse_robots("User-agent: foo\nDisallow: /x\n", agent="bar")
    assert other.allowed("/x")  # no matching group, no * group -> all allowed


def test_cache_roundtrip_and_unknown_host():
    cache = RobotsCache({"http://a": "User-agent: *\nDisallow: /no\n"})
    assert not cache.allowed("http://a", "http://a/no/1")
    assert cache.allowed("http://a", "http://a/yes")
    assert cache.allowed("http://b", "http://b/no/1")  # no robots -> allowed
    state = cache.to_bodies_state()
    back = RobotsCache.from_state(state)
    assert not back.allowed("http://a", "http://a/no/1")


def test_robots_parity_engine_vs_simulator(spark):
    """With respect_robots on, engine and simulator agree on visit order
    and seen set — and both skip the disallowed subtrees."""
    from wcm_spark.corpus import corpus_rows, seed_urls
    from wcm_spark.crawlcore import CorpusPage, CrawlSimulator
    from wcm_spark.scheduler import CrawlConfig, Crawler
    from wcm_spark.urlkit import host_key

    rows = corpus_rows(3, 8)
    pages = {
        r["url"]: CorpusPage(
            url=r["url"], status=r["status"], content_type=r["content_type"],
            content_length=r["content_length"], body=r["body"],
            redirect_to=r["redirect_to"],
        )
        for r in rows
    }
    bodies = {
        host_key(u): p.body.decode()
        for u, p in pages.items()
        if u.endswith("/robots.txt") and p.body
    }
    assert bodies, "corpus must include robots.txt sites"
    sim = CrawlSimulator(corpus=pages, robots=RobotsCache(bodies, agent="wcm-spark"))
    for u in seed_urls(3):
        sim.enqueue(u)
    sim.crawl()

    corpus_df = spark.createDataFrame(
        [(r["url"], r["status"], r["content_type"], r["content_length"], r["body"], r["redirect_to"]) for r in rows],
        "url string, status int, content_type string, content_length bigint, body binary, redirect_to string",
    ).cache()
    cfg = CrawlConfig(respect_robots=True)
    res = Crawler(spark, corpus_df, cfg).run(seed_urls(3))

    got = [r["url"] for r in res.visits.filter("status is not null").orderBy("pos").collect()]
    assert got == sim.visit_order
    assert {r["digest"] for r in res.seen.collect()} == sim.seen
    # disallowed subtree actually skipped (site1 is the robots site)
    assert not any("/r/" in u and "site1" in u for u in got)


def test_live_robots_fetch_and_gate(spark, monkeypatch, seen_max):
    """http mode with no corpus: robots.txt is fetched live once per new
    host, disallowed URLs are never requested, and allowed crawling
    proceeds normally — with or without the exact seen mirror. The fetch
    gate always gets the wave's hosts from the wave's checkpoint, never
    ``hosts=None`` (which costs a distinct-collect of its own)."""
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from wcm_spark.robots import RobotsGate
    from wcm_spark.scheduler import Crawler, CrawlConfig

    gate_hosts = []
    filter_wave = RobotsGate.filter_wave

    def recording_filter_wave(self, wave, hosts=None):
        gate_hosts.append(hosts)
        return filter_wave(self, wave, hosts)

    monkeypatch.setattr(RobotsGate, "filter_wave", recording_filter_wave)

    hits: Counter = Counter()
    robots_agents: list = []
    lock = threading.Lock()

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            with lock:
                hits[self.path] += 1
            if self.path == "/robots.txt":
                robots_agents.append(self.headers.get("User-Agent"))
                body = b"User-agent: *\nDisallow: /private/\n"
                ct = "text/plain"
            elif self.path == "/index.html":
                body = (
                    b'<a href="/private/x.html">no</a>'
                    b'<a href="/pub/y.html">yes</a>'
                )
                ct = "text/html"
            else:
                body, ct = b"leaf", "text/html"
            self.send_response(200)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0, respect_robots=True, broadcast_seen_max=seen_max,
        )
        res = Crawler(spark, None, cfg).run([f"{base}/index.html"])
        urls = {r["request_url"] for r in res.visits.collect()}
        assert urls == {f"{base}/index.html", f"{base}/pub/y.html"}
        assert len(gate_hosts) == res.waves
        assert None not in gate_hosts
        assert hits["/robots.txt"] == 1      # fetched once, cached
        # through the crawl's own client: the robots request carries the
        # crawl's User-Agent
        assert robots_agents == [cfg.robots_agent]
        assert hits.get("/private/x.html", 0) == 0  # never requested
        assert hits["/pub/y.html"] == 1
    finally:
        srv.shutdown()


@pytest.mark.parametrize(
    "queue", [{}, {"cap": 1, "max_conn": 2}], ids=["default", "cap_max_conn"]
)
def test_bounded_robots_cache_spill_same_verdicts(spark, queue):
    """robots_cache_max_hosts bounds the rules the driver and broadcast
    hold: overflow rules spill FIFO to a parquet side table that BOTH
    robots gates (enqueue and fetch) join, so the crawl — visit set, seen
    set, per-wave metrics — is IDENTICAL to the unbounded cache, with or
    without a queue cap and fetch cap, while at most cap hosts' rules are
    held. Two hosts (127.0.0.1 / localhost), cap=1: fetching the second
    host's robots evicts the first's rules; a link to the first host's
    disallowed path discovered AFTER the eviction must still be gated at
    enqueue — never digest-marked, never taking queue room (with cap=1 it
    would crowd /pub/d.html out) — via the spill join, since the
    broadcast no longer has those rules. The spill is gone once run()
    returns."""
    import os
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
                hits[f"{self.headers.get('Host', '')}{self.path}"] += 1
            port = srv.server_address[1]
            if self.path == "/robots.txt":
                body, ct = b"User-agent: *\nDisallow: /private/\n", "text/plain"
            elif self.path == "/index.html":
                # wave 1 (127.0.0.1): one allowed same-host leaf, one
                # disallowed same-host path (gated at enqueue — rules
                # known), and the second host's entry page
                body = (
                    f'<a href="/pub/a.html">a</a>'
                    f'<a href="/private/x.html">x</a>'
                    f'<a href="http://localhost:{port}/pub/b.html">b</a>'
                    .encode()
                )
                ct = "text/html"
            elif self.path == "/pub/b.html":
                # discovered in wave 2, AFTER 127.0.0.1's rules are
                # evicted: links back to the first host's disallowed path
                # (only the spill join still knows those rules), then two
                # allowed leaves
                body = (
                    f'<a href="http://127.0.0.1:{port}/private/w.html">w</a>'
                    f'<a href="/pub/c.html">c</a><a href="/pub/d.html">d</a>'
                    .encode()
                )
                ct = "text/html"
            else:
                body, ct = b"leaf", "text/html"
            self.send_response(200)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def crawl(cap):
        gates = []  # (rules held, spill dir) after each wave's fetch gate

        def snap(_wave, _pages):
            gates.append((len(c._robots.held), c._robots.spill_dir))

        cfg = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0, respect_robots=True, max_waves=6,
            robots_cache_max_hosts=cap, on_wave=snap, **queue,
        )
        c = Crawler(spark, None, cfg)
        res = c.run([f"{base}/index.html"])
        return (
            {r["request_url"] for r in res.visits.collect()},
            {r["digest"] for r in res.seen.collect()},
            [(m["wave"], m["enqueued"], m["skipped"]) for m in res.metrics],
            gates,
        )

    try:
        unbounded = crawl(None)
        hits.clear()
        bounded = crawl(1)
        visits, seen, metrics, gates = bounded
        assert visits == unbounded[0]  # same verdicts, same visit set
        assert f"http://localhost:{srv.server_address[1]}/pub/d.html" in visits
        assert seen == unbounded[1]  # w.html never digest-marked
        assert metrics == unbounded[2]  # no extra wave to skip w.html
        assert max(held for held, _ in gates) <= 1  # driver rules bounded
        spills = {d for _, d in gates if d}
        assert spills  # eviction actually spilled
        assert not any(os.path.exists(d) for d in spills)  # and was cleaned
        # disallowed paths never requested on either host, before or
        # after the eviction
        assert not [k for k in hits if "/private/" in k]
        # the late cross-host discovery exercised the spill path: the
        # allowed leaf on the EVICTED host was fetched in a wave after
        # its rules left the broadcast
        assert any(k.endswith("/pub/a.html") for k in hits)
    finally:
        srv.shutdown()


def test_fetch_time_robots_gate_drains_frontier(spark):
    """Regression: a frontier row gated away at FETCH time (its host's
    robots rules were unknown at enqueue, learned only when the row came
    up for fetching) must still count as having left the frontier —
    pending_count otherwise stays inflated forever and the loop spins on
    empty waves instead of hitting the empty-frontier break."""
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
            if self.path == "/robots.txt":
                body, ct = b"User-agent: *\nDisallow: /private/\n", "text/plain"
            elif self.path == "/index.html":
                # cross-host link: localhost is a DIFFERENT host_key than
                # 127.0.0.1, so its robots are unknown at enqueue time and
                # the disallowed row is only gated when wave 2 fetches it
                body = (
                    f'<a href="http://localhost:{srv.server_address[1]}'
                    f'/private/x.html">other-host</a>'.encode()
                )
                ct = "text/html"
            else:
                body, ct = b"leaf", "text/html"
            self.send_response(200)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0, respect_robots=True,
            max_waves=5,  # guard: pre-fix the loop would spin to this cap
        )
        res = Crawler(spark, None, cfg).run([f"{base}/index.html"])
        # wave 1 fetches index; wave 2's only row is gated away -> frontier
        # empty -> the loop must stop at wave 2, with pending fully drained
        assert res.waves == 2
        assert res.metrics[-1]["pending"] == 0
        assert hits.get("/private/x.html", 0) == 0  # gated, never requested
    finally:
        srv.shutdown()


def test_crawl_delay_parse_and_state():
    body = (
        "User-agent: *\nCrawl-delay: 2\nDisallow: /x\n\n"
        "User-agent: wcm-spark\nCrawl-delay: 0.5\nDisallow: /y\n"
    )
    # matched group's delay wins over *'s
    assert parse_robots(body, agent="wcm-spark").crawl_delay == 0.5
    assert parse_robots(body, agent="otherbot").crawl_delay == 2.0
    # absent / unparsable / negative delays are ignored
    assert parse_robots("User-agent: *\nDisallow: /x\n").crawl_delay is None
    assert parse_robots("User-agent: *\nCrawl-delay: soon\n").crawl_delay is None
    assert parse_robots("User-agent: *\nCrawl-delay: -1\n").crawl_delay is None
    # a crawl-delay-only group still matches (delay without path rules)
    only = parse_robots("User-agent: *\nCrawl-delay: 3\n")
    assert only.crawl_delay == 3.0 and only.allowed("/anything")

    cache = RobotsCache({
        "http://a": "User-agent: *\nCrawl-delay: 1.5\nDisallow: /no\n",
        "http://b": "User-agent: *\nDisallow: /no\n",
    })
    assert cache.delay("http://a") == 1.5
    assert cache.delay("http://b") == 0.0
    assert cache.delay(None) == 0.0
    assert cache.host_delays() == {"http://a": 1.5}
    # delay survives the broadcast state roundtrip (and old states
    # without a delays key still restore)
    back = RobotsCache.from_state(cache.to_bodies_state())
    assert back.host_delays() == {"http://a": 1.5}
    legacy = {"agent": "wcm-spark", "rules": {"http://a": ((False, "/no"),)}}
    assert RobotsCache.from_state(legacy).host_delays() == {}


def test_live_crawl_delay_spaces_requests(spark):
    """robots.txt Crawl-delay drives per-host wall-clock spacing with NO
    global min_delay_sec configured — server timestamps prove the gap."""
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
            if self.path == "/robots.txt":
                body, ct = b"User-agent: *\nCrawl-delay: 0.4\n", "text/plain"
            elif self.path == "/root.html":
                body = (
                    b'<a href="/a.html">a</a><a href="/b.html">b</a>'
                    b'<a href="/c.html">c</a>'
                )
                ct = "text/html"
            else:
                body, ct = b"leaf", "text/html"
            self.send_response(200)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        cfg = CrawlConfig(
            fetch_mode="http",
            http_timeout=5.0, respect_robots=True,
        )
        res = Crawler(spark, None, cfg).run([f"{base}/root.html"])
        assert res.fetched == 4
        ts = sorted(stamps[p] for p in ("/a.html", "/b.html", "/c.html"))
        gaps = [ts[1] - ts[0], ts[2] - ts[1]]
        assert all(g >= 0.35 for g in gaps), gaps
    finally:
        srv.shutdown()
