"""Distributed scrape stage: fetched pages → ordered candidate edges.

Spark mapping of the reference's scrape pipeline (Mojo.pm:125-159 +
ScraperUtil presets; SURVEY.md §2.4 P1-P9): an Arrow-batched mapInPandas
over (url, content_type, content_length, body) exploding each page into
candidate link rows, followed by a vectorized resolve/filter/project stage
(R1-R5) that stays columnar.

Emit order is data, not execution: each edge carries (parent_seq,
emit_idx); downstream seq assignment sorts on exactly that, reproducing
the reference's FIFO enqueue order under any parallelism.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..crawlcore import make_child
from ..htmlkit import extract_links
from ..functions.core import digest_col, host_key_udf

__all__ = ["scrape_edges", "resolve_children", "scrape_resolve_children", "EDGE_SCHEMA", "CHILD_SCHEMA"]

CHILD_SCHEMA = (
    "url string, method string, params string, digest string, host_key string, "
    "referrer_url string, depth int, parent_seq long, emit_idx int, "
    "literal_uri string, tag string, context string, context_kind string"
)

EDGE_SCHEMA = (
    "page_url string, page_seq long, page_depth int, emit_idx int, "
    "literal_uri string, method string, params string, tag string, "
    "context string, context_kind string, base string"
)


def parseable_ct_pred():
    """Content types extract_links can draw links from (htmlkit
    ._HTMLISH_CT + _CSS_CT, htmlkit.py:946-947) as a Catalyst predicate —
    reused by the scheduler's fetch-side cache to null bodies no consumer
    will read. A function (not a module constant): building a Column at
    import needs an active session in pyspark 4.1.2."""
    return F.col("content_type").isNotNull() & (
        F.col("content_type").rlike("^(text|application)/(html|xml|xhtml)")
        | F.col("content_type").rlike("text/css")
    )


def _parseable(df: DataFrame) -> DataFrame:
    """JVM-side mirror of extract_links' skip guards (htmlkit.py:1029-1036,
    1139): rows whose content type can never yield links (images, plain
    text) or whose body is empty return [] in Python — filtering them
    BEFORE the Arrow boundary keeps their (large, binary) bodies out of
    the Python workers entirely. On the bench corpus this is ~25% of
    bytes and ~27% of rows per wave. Output-identical by construction:
    the Python gate still runs for whatever passes."""
    return df.filter(
        parseable_ct_pred()
        & F.col("content_length").isNotNull()
        & (F.col("content_length") != 0)
        & F.col("body").isNotNull()
        & (F.length("body") > 0)
    )


def scrape_edges(pages: DataFrame, containers=None) -> DataFrame:
    """Explode fetched pages into candidate edges (P1-P9 + O1 ordering).

    ``pages`` needs columns url, content_type, content_length, body and
    (for lineage) seq, depth — extra columns are pruned here so the binary
    ``body`` column never travels past this stage (memory frugality the
    reference gets from Job::close, Job.pm:66-70).
    """
    cols = ["url", "content_type", "content_length", "body"]
    lineage = [c for c in ("seq", "depth") if c in pages.columns]
    src = _parseable(pages.select(*cols, *lineage))
    if "seq" not in src.columns:
        src = src.withColumn("seq", F.lit(0).cast("long"))
    if "depth" not in src.columns:
        src = src.withColumn("depth", F.lit(0).cast("int"))

    def explode_pages(batches):
        for pdf in batches:
            out = []
            for url, ct, cl, body, seq, depth in zip(
                pdf["url"], pdf["content_type"], pdf["content_length"],
                pdf["body"], pdf["seq"], pdf["depth"],
            ):
                items = extract_links(
                    url, ct, int(cl) if cl is not None else None, body, containers
                )
                for it in items:
                    out.append(
                        (
                            url, int(seq), int(depth), it["emit_idx"],
                            it["literal_uri"], it["method"], it["params"],
                            it["tag"], it["context"], it["context_kind"], it["base"],
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "page_url", "page_seq", "page_depth", "emit_idx",
                    "literal_uri", "method", "params", "tag", "context",
                    "context_kind", "base",
                ],
            )

    return src.mapInPandas(explode_pages, schema=EDGE_SCHEMA)


def scrape_resolve_children(
    pages: DataFrame,
    containers=None,
    seen_bc=None,
    local_first_wins: bool = False,
    handlers=None,
    redundancy=None,
) -> DataFrame:
    """Fused P1-P9 + R1-R5 + D1 + F7 in ONE Arrow pass.

    The staged operators (scrape_edges → resolve_children) cross the
    Python boundary three times (parse UDF, resolve UDF, host-key UDF);
    each crossing is an ArrowEvalPython barrier with per-stage worker
    costs that dominate wall-clock on wide-and-shallow crawl waves. This
    fusion parses, resolves, scheme-filters, digests and host-keys inside
    one mapInPandas, so page bodies and candidate edges never leave the
    Python worker between stages. Same output as the staged pipeline
    (asserted in tests/test_parity.py::test_fused_equals_staged).

    ``seen_bc``: optional broadcast of the exact seen-digest set — either
    one Broadcast[set] or a LIST of them (``SeenSet.probe`` ships the base
    set once and then only per-wave deltas; the probe is the union).
    Pieces should be ordered largest-first: ~97% of candidates on
    link-dense waves hit the base set, so the loop short-circuits on the
    first probe for the common case. While the seen set is at or below
    ``broadcast_seen_max`` the D2 probe runs HERE, before rows ever cross
    the Arrow boundary — this cuts the transferred row count ~30x.
    Exactness is unchanged: the predicate is identical to the anti-join's.
    Past the bound the caller passes None and ``SeenSet.unseen`` runs the
    bloom-prefiltered anti-join instead.

    ``local_first_wins``: additionally keep only the partition-local
    minimum (parent_seq, emit_idx) per digest. The global window dedup
    still runs downstream; dropping non-minimal duplicates early is safe
    because the global minimum is the min over partition minima.
    """
    from ..crawlcore import make_child
    from ..urlkit import host_key as host_key_fn

    cols = ["url", "content_type", "content_length", "body"]
    lineage = [c for c in ("seq", "depth") if c in pages.columns]
    src = _parseable(pages.select(*cols, *lineage))
    if "seq" not in src.columns:
        src = src.withColumn("seq", F.lit(0).cast("long"))
    if "depth" not in src.columns:
        src = src.withColumn("depth", F.lit(0).cast("int"))

    seen_bcs = (
        list(seen_bc) if isinstance(seen_bc, (list, tuple)) else
        ([seen_bc] if seen_bc is not None else None)
    )

    _MISS = object()
    # the schemes the frontier keeps (R2) — any other absolute literal is
    # dropped by make_child regardless of base, so this list is exhaustive
    # for cache-worthy base-independent literals
    _ABS_SCHEMES = ("http://", "https://", "ftp://", "ws://", "wss://")
    # root-relative literals ("/x", not "//x") resolve against the base's
    # scheme+authority ONLY (urljoin takes netloc from base and the whole
    # path from the literal), so (origin, literal) keys a sound memo —
    # the dominant link shape (~93% of bench-corpus links are
    # root-relative site nav repeated across every page of a site). The
    # origin must be a clean scheme://authority prefix: a '?' or '#'
    # before the first '/' would drag base query/fragment state in, so
    # such bases (and authority-less ones) fall through uncached.
    import re as _re

    _ORIGIN_RE = _re.compile(r"[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]+")

    def fused(batches):
        hk_cache: dict = {}
        # absolute nav/footer links repeat across every page of a site —
        # memoize the full resolve+digest for them, and root-relative
        # literals under their base's (origin, literal) key. A PATH-
        # relative literal resolves against its page's base directory,
        # which differs per page, so caching those is all-miss overhead
        # (measured). Bounded as a guard.
        mc_cache: dict = {}
        origin_cache: dict = {}
        seen_sets = [b.value for b in seen_bcs] if seen_bcs else None
        best: dict = {} if local_first_wins else None
        for pdf in batches:
            # columnar accumulation: building pandas from per-column lists
            # skips the row-tuple inference path (measured ~2-3x on the
            # frame-construction share of this stage)
            c_url, c_method, c_params, c_digest, c_hk = [], [], [], [], []
            c_ref, c_depth, c_pseq, c_emit = [], [], [], []
            c_lit, c_tag, c_ctx, c_ck = [], [], [], []
            for url, ct, cl, body, seq, depth in zip(
                pdf["url"], pdf["content_type"], pdf["content_length"],
                pdf["body"], pdf["seq"], pdf["depth"],
            ):
                items = extract_links(
                    url, ct, int(cl) if cl is not None else None, body,
                    containers, handlers,
                )
                child_depth = int(depth) + 1
                pseq = int(seq)
                for it in items:
                    lit = it["literal_uri"]
                    # anchored scheme check: "/redir?to=http://x" is
                    # RELATIVE and must not share a cache slot across
                    # bases — and an EMPTY-authority absolute ("http://",
                    # "http:///x") takes its host from the base, so it is
                    # not base-independent either
                    if lit.startswith(_ABS_SCHEMES) and (
                        (j := lit.index("://") + 3) < len(lit)
                        and lit[j] not in "/?#"
                    ):
                        mk = (lit, it["method"], it["params"])
                        child = mc_cache.get(mk, _MISS)
                        if child is _MISS:
                            child = make_child(
                                lit, it["base"], it["method"], it["params"],
                                redundancy,
                            )
                            if len(mc_cache) < (1 << 20):
                                mc_cache[mk] = child
                    elif lit[:1] == "/" and lit[1:2] != "/":
                        base = it["base"]
                        origin = origin_cache.get(base, _MISS)
                        if origin is _MISS:
                            om = _ORIGIN_RE.match(base)
                            origin = om.group(0) if om else None
                            if len(origin_cache) < (1 << 20):
                                origin_cache[base] = origin
                        if origin is not None:
                            mk = (origin, lit, it["method"], it["params"])
                            child = mc_cache.get(mk, _MISS)
                            if child is _MISS:
                                child = make_child(
                                    lit, base, it["method"], it["params"],
                                    redundancy,
                                )
                                if len(mc_cache) < (1 << 20):
                                    mc_cache[mk] = child
                        else:
                            child = make_child(
                                lit, base, it["method"], it["params"],
                                redundancy,
                            )
                    else:
                        child = make_child(
                            lit, it["base"], it["method"], it["params"],
                            redundancy,
                        )
                    if child is None:
                        continue
                    curl, cmethod, cparams, digest = child
                    if seen_sets is not None:
                        hit = False
                        for s in seen_sets:  # D2 probe at the source (exact)
                            if digest in s:
                                hit = True
                                break
                        if hit:
                            continue
                    if best is not None:
                        prev = best.get(digest)
                        if prev is not None and prev[7] <= pseq:
                            # earlier (parent_seq, emit_idx) already held —
                            # same-parent later emits can't beat it either
                            # (emit order is ascending within a page)
                            continue
                    hk = hk_cache.get(curl)
                    if hk is None:
                        hk = host_key_fn(curl)
                        hk_cache[curl] = hk
                    row = (
                        curl, cmethod, cparams, digest, hk, url, child_depth,
                        pseq, it["emit_idx"], it["literal_uri"], it["tag"],
                        it["context"], it["context_kind"],
                    )
                    if best is not None:
                        best[digest] = row
                        continue
                    c_url.append(curl); c_method.append(cmethod)
                    c_params.append(cparams); c_digest.append(digest)
                    c_hk.append(hk); c_ref.append(url)
                    c_depth.append(child_depth); c_pseq.append(pseq)
                    c_emit.append(it["emit_idx"]); c_lit.append(it["literal_uri"])
                    c_tag.append(it["tag"]); c_ctx.append(it["context"])
                    c_ck.append(it["context_kind"])
            if best is None:
                yield pd.DataFrame(
                    {
                        "url": c_url, "method": c_method, "params": c_params,
                        "digest": c_digest, "host_key": c_hk,
                        "referrer_url": c_ref, "depth": c_depth,
                        "parent_seq": c_pseq, "emit_idx": c_emit,
                        "literal_uri": c_lit, "tag": c_tag, "context": c_ctx,
                        "context_kind": c_ck,
                    }
                )
        if best is not None:
            names = [
                "url", "method", "params", "digest", "host_key",
                "referrer_url", "depth", "parent_seq", "emit_idx",
                "literal_uri", "tag", "context", "context_kind",
            ]
            rows = list(best.values())
            yield pd.DataFrame(
                {n: [r[i] for r in rows] for i, n in enumerate(names)}
            )

    return src.mapInPandas(fused, schema=CHILD_SCHEMA)


def resolve_children(edges: DataFrame) -> DataFrame:
    """R1-R5 + D1: resolve, scheme-filter, form-param routing, lineage.

    The URL resolution itself is one vectorized pandas UDF; digest and
    host-key columns are added afterwards (digest fully JVM-side).
    Output keeps (page_seq, emit_idx) as the deterministic ordering key.
    """

    @F.pandas_udf("struct<url:string, method:string, tx_params:string>")
    def resolve_batch(literal: pd.Series, base: pd.Series, method: pd.Series, params: pd.Series) -> pd.DataFrame:
        urls, methods, txs = [], [], []
        for lu, b, m, p in zip(literal, base, method, params):
            child = make_child(lu, b, m, p)
            if child is None:
                urls.append(None)
                methods.append(None)
                txs.append(None)
            else:
                urls.append(child[0])
                methods.append(child[1])
                txs.append(child[2])
        return pd.DataFrame({"url": urls, "method": methods, "tx_params": txs})

    resolved = edges.withColumn(
        "__r", resolve_batch(F.col("literal_uri"), F.col("base"), F.col("method"), F.col("params"))
    )
    return (
        resolved.filter(F.col("__r.url").isNotNull())  # scheme filter inside make_child (R2)
        .select(
            F.col("__r.url").alias("url"),
            F.col("__r.method").alias("method"),
            F.col("__r.tx_params").alias("params"),
            F.col("page_url").alias("referrer_url"),
            (F.col("page_depth") + 1).alias("depth"),
            F.col("page_seq").alias("parent_seq"),
            "emit_idx", "literal_uri", "tag", "context", "context_kind",
        )
        .withColumn("digest", digest_col(F.col("url"), F.col("method"), F.col("params")))
        .withColumn("host_key", host_key_udf(F.col("url")))
    )
