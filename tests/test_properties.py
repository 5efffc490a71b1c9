"""Property-based hardening (hypothesis) for the pure-Python kernels.

A 100 TB crawl feeds the parse/resolve kernels adversarial bytes; these
properties pin total-function behavior (never throw, structural
invariants) beyond the golden cases.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from wcm_spark.htmlkit import extract_links, parse_html, serialize_node
from wcm_spark.images import LOSSLESS_FMT, LOSSY_FMT, decode_image, encode_image, psnr
from wcm_spark.operators.dedup import NumpyBloom
from wcm_spark.robots import parse_robots
from wcm_spark.urlkit import (
    SCHEME_ALLOW,
    collect_urls_css,
    guess_encoding,
    host_key,
    job_digest,
    resolve_href,
    url_scheme,
)

URLISH = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    max_size=80,
)


@given(base=URLISH, href=URLISH)
@settings(max_examples=300, deadline=None)
def test_resolve_href_total(base, href):
    """resolve never throws, never returns a fragment."""
    try:
        out = resolve_href("http://example.com/" + base, href)
    except ValueError:
        return  # pathological ports etc. may be rejected, never crash hard
    assert isinstance(out, str)
    assert "#" not in out.split("?")[0].split("://")[-1] or "#" not in out


@given(href=st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_resolve_href_absolute_base(href):
    try:
        out = resolve_href("http://a/b/c", href)
    except ValueError:
        return
    sch = url_scheme(out)
    assert sch is None or sch.isalnum() or all(c.isalnum() or c in "+.-" for c in sch)


@given(url=URLISH)
@settings(max_examples=300, deadline=None)
def test_host_key_total(url):
    hk = host_key(url)
    if hk is not None:
        assert hk.startswith(("http://", "https://"))
        assert hk == hk.lower() or ":" in hk  # host part lowercased


@given(u=st.text(max_size=40), m=st.none() | st.sampled_from(["GET", "POST"]), p=st.none() | st.text(max_size=20))
@settings(max_examples=200, deadline=None)
def test_digest_deterministic(u, m, p):
    assert job_digest(u, m, p) == job_digest(u, m, p)
    assert len(job_digest(u, m, p)) == 32


@given(html=st.text(max_size=400))
@settings(max_examples=200, deadline=None)
def test_extract_links_total(html):
    """Arbitrary text through the whole scrape stage: no exceptions,
    emit_idx dense from 0, literal URIs non-empty unless a form."""
    items = extract_links("http://x/", "text/html", len(html) or 1, html)
    for i, it in enumerate(items):
        assert it["emit_idx"] == i
        assert it["method"] is not None or it["literal_uri"]


@given(html=st.text(max_size=300))
@settings(max_examples=100, deadline=None)
def test_parse_serialize_stable(html):
    """serialize(parse(x)) reaches a fixed point after one round."""
    once = serialize_node(parse_html(html))
    twice = serialize_node(parse_html(once))
    assert serialize_node(parse_html(twice)) == twice


@given(css=st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_collect_urls_css_total(css):
    for u in collect_urls_css(css):
        assert isinstance(u, str)


@given(ct=st.none() | st.text(max_size=60), body=st.binary(max_size=200))
@settings(max_examples=200, deadline=None)
def test_guess_encoding_total(ct, body):
    enc = guess_encoding(ct, body)
    assert enc is None or isinstance(enc, str)


@given(body=st.text(max_size=500))
@settings(max_examples=100, deadline=None)
def test_robots_parse_total(body):
    rules = parse_robots(body)
    assert isinstance(rules.allowed("/any/path"), bool)


@given(seed=st.integers(min_value=0, max_value=2**31 - 1), n=st.integers(min_value=1, max_value=2000))
@settings(max_examples=20, deadline=None)
def test_bloom_no_false_negatives(seed, n):
    rng = np.random.default_rng(seed)
    bloom = NumpyBloom.sized(4000, 0.01)
    h1 = rng.integers(0, 2**63, n, dtype=np.int64)
    h2 = rng.integers(0, 2**63, n, dtype=np.int64)
    bloom.add(h1, h2)
    assert bloom.contains(h1, h2).all()


@given(
    w=st.integers(min_value=1, max_value=48),
    h=st.integers(min_value=1, max_value=48),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_image_codecs_roundtrip(w, h, seed):
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    out, _ = decode_image(encode_image(arr, LOSSLESS_FMT))
    assert np.array_equal(out, arr)  # lossless is bit-exact on ANY image
    lossy, _ = decode_image(encode_image(arr, LOSSY_FMT))
    assert psnr(arr, lossy) >= 40.0  # lossy gate holds on noise too


@given(
    base=st.sampled_from(
        ["http://a/b/c/d?q", "http://example.com", "https://h.example.com:8080/x/",
         "http://site0.example.test/p/3.html"]
    ),
    href=st.one_of(
        st.from_regex(r"/[A-Za-z0-9/._~%!$&'()*+,;=:@-]{0,30}", fullmatch=True),
        st.from_regex(r"https?://[a-z0-9.-]{1,20}(/[A-Za-z0-9/._-]{0,20})?(\?[a-z=&]{0,10})?", fullmatch=True),
        st.text(max_size=40),
    ),
)
@settings(max_examples=500, deadline=None)
def test_resolve_fast_path_matches_full(base, href):
    """The fast-path shortcuts in resolve_href must agree with the full
    urljoin-based resolution on every input."""
    from wcm_spark.urlkit import _resolve_full, _strip_fragment, _trim_href

    try:
        got = resolve_href(base, href)
        want = _resolve_full(_strip_fragment(str(base)), _strip_fragment(_trim_href(href)))
    except ValueError:
        return
    assert got == want, (base, href)


@given(
    pendings=st.lists(st.integers(min_value=1, max_value=400),
                      min_size=1, max_size=60),
    budget=st.integers(min_value=1, max_value=2000),
    cap=st.integers(min_value=1, max_value=300),
)
@settings(max_examples=60, deadline=None)
def test_budget_allocate_invariants(pendings, budget, cap):
    """Largest-remainder apportionment invariants on arbitrary pending
    distributions (DuckDB side of crawl_budget_allocate — the same SQL
    text the Spark dialect mirrors token-for-token apart from div/%):
    sum(quota) == min(B, sum(eligible)); 0 <= quota <= eligible;
    proportional bases never under-allocate by more than 1 per host."""
    import duckdb

    from wcm_spark.datapipe.queries import _q_budget_allocate

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (SELECT "
        "unnest(range(%d)) AS doc_id, '' AS text, '' AS lang, '' AS source, "
        "0 AS n_chars)" % 1
    )
    # build a frontier-shaped host/pending table directly and inline it
    # into the allocator's SQL by swapping the counts CTE input
    sql = _q_budget_allocate("duck", None, budget=budget, cap=cap)
    values = ", ".join(
        f"({h}, {p})" for h, p in enumerate(pendings)
    )
    sql = sql.replace(
        sql[sql.index("counts AS ("):sql.index("capped AS (")],
        f"counts(host_id, pending) AS (VALUES {values}),\n",
    )
    rows = con.execute(sql).fetchall()
    assert len(rows) == len(pendings)
    eligible_total = sum(min(p, cap) for p in pendings)
    got_total = sum(r[3] for r in rows)
    assert got_total == min(budget, eligible_total)
    for host_id, pending, eligible, quota in rows:
        assert eligible == min(pending, cap)
        assert 0 <= quota <= eligible
        # largest-remainder never strays more than 1 from the real-valued
        # proportional share (when the budget binds)
        if budget <= eligible_total:
            exact = budget * eligible / eligible_total
            assert quota <= exact + 1
            assert quota >= exact - 1


def test_recrawl_schedule_formula_edges():
    """recrawl_due_schedule branches the fixture can't reach: a
    single-observation entity defaults to change_rate 1.0 (crawl soon),
    a never-changing entity gets the full base interval (168h), an
    always-changing one the minimum (16.8h) — pinned through the
    query's own SQL over an inline events table (DuckDB side; the Spark
    dialect differs only in the micros/json accessors)."""
    import duckdb

    from wcm_spark.datapipe.queries import _q_recrawl

    con = duckdb.connect()
    rows = []
    # entity 1: one observation only
    rows.append((100, "2024-01-01 00:00:00", 1, '{"k": 5}'))
    # entity 2: three observations, fingerprint never changes
    for i, ts in enumerate(
        ["2024-01-01 00:00:00", "2024-01-02 00:00:00", "2024-01-03 00:00:00"]
    ):
        rows.append((200 + i, ts, 2, '{"k": 7}'))
    # entity 3: three observations, changes every time
    for i, ts in enumerate(
        ["2024-01-01 00:00:00", "2024-01-02 00:00:00", "2024-01-03 00:00:00"]
    ):
        rows.append((300 + i, ts, 3, '{"k": %d}' % i))
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({eid}, TIMESTAMP '{ts}', {uid}, 'view', 0.0, '{props}')"
            for eid, ts, uid, props in rows
        )
        + ") t(event_id, ts, user_id, event_type, value, props)"
    )
    got = {
        r[1]: r  # url_id -> row
        for r in con.execute(_q_recrawl("duck", None)).fetchall()
    }
    h = 3_600_000_000  # micros per hour
    base = con.execute("SELECT epoch_us(TIMESTAMP '2024-01-01')").fetchone()[0]
    day = 24 * h
    # single obs: rate 1.0 -> 16.8h after its only fetch
    assert got[1][4] == 1.0
    assert got[1][5] == base + int(16.8 * h)
    # never changes: rate 0.0 -> full 168h after the last fetch
    assert got[2][4] == 0.0
    assert got[2][5] == base + 2 * day + 168 * h
    # always changes: rate 1.0 -> 16.8h after the last fetch
    assert got[3][4] == 1.0
    assert got[3][5] == base + 2 * day + int(16.8 * h)
    # the always-changing entity is due BEFORE the static one
    assert got[3][5] < got[2][5]
