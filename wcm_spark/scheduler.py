"""The crawl scheduler: iterative DataFrame supersteps over the frontier.

Spark re-expression of the reference's IOLoop tick (Mojo.pm:54-68) per
SURVEY.md §3: each superstep (wave) declaratively selects the fetchable
slice of the pending frontier (politeness cut, F1), fetches it (corpus
join in test/bench mode, F9 redirects via a precomputed closure), scrapes
+ resolves children, dedups against the URL-seen set (bloom-prefiltered
exact anti-join, D2), assigns deterministic sequence numbers (O1) and
commits. Ordering parity: with the reference's default politeness budget
(max_conn=1 ⇒ strict FIFO drain) the visit sequence ordered by
(wave, seq) is *identical* to the reference loop — children enter the
queue in (parent_seq, emit_idx) order, exactly the order the single
-threaded loop appends them (proof sketch in SURVEY.md §3.1; asserted
against the pure-Python simulator in tests/test_parity.py).

Scale notes (the 1000-executor view):
- no global sort anywhere: wave cut = per-host window + TakeOrdered top-K;
  seq and visit pos = arithmetic bucket of the wave's parent-seq range +
  per-bucket ranks + Observation bucket counts, all riding the wave's one
  heavy checkpoint, so both numbers are projections, not extra jobs
- the ``body`` column is pruned out of every stage except scrape/sink
- seen set: ``operators.dedup.SeenSet`` under one bound,
  ``broadcast_seen_max``: an exact driver mirror probed in-UDF while it
  fits; past it a bloom sized from the seen count prefilters an exact
  anti-join that shuffles only bloom-positive rows
- per-wave lineage is cut with eager localCheckpoint (plan growth is the
  silent killer of iterative DataFrame jobs); durable state commits go to
  the TableStore (Iceberg-shaped) for resume, the frontier last as the
  commit point and the seen set as a per-wave delta
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .frontier import cap_keep
from .functions.core import digest_col, host_key_udf, host_salt_col
from .operators.dedup import SeenSet
from .operators.dedup import build_bloom  # noqa: F401 (perfbench wraps this name)
from .operators.scrape import scrape_resolve_children
from .operators.seq import (
    arith_bucket_col,
    arith_n_parts,
    assign_seq,
    offsets_to_col,
)
from .robots import RobotsGate
from .session import local_frame
from .store import TableStore  # noqa: F401 (re-exported)
from .store import for_session as store_for_session

__all__ = ["CrawlConfig", "CrawlResult", "Crawler"]

PENDING_COLS = [
    "seq", "wave", "url", "host_key", "host_salt", "method", "params",
    "digest", "depth", "referrer_url", "literal_uri", "context",
    "context_kind", "retries",
]

# userinfo-bearing URL (F8 credential carrier) — one pattern shared by
# every Spark rlike gate so the carrier count a wave's checkpoint observes
# can never disagree with what the harvest collect would find
UI_PAT = "^[a-z][a-z0-9+.-]*://[^/?#]*@"

# live-fetchable scheme: the frontier keeps ftp/ws/wss (R2, Mojo.pm:177 —
# the reference's Mojo UA can speak them) but sources/httpfetch.py speaks
# only http(s); such rows are SKIPPED at fetch time in http mode (counted
# in the per-wave ``skipped`` metric, never retried) instead of erroring
# into the retry channel
HTTP_PAT = "^https?://"


@dataclass
class CrawlConfig:
    max_conn: int | None = None            # global per-wave fetch cap (F1); None = drain level
    max_conn_per_host: int | None = None   # per-host per-wave cap (F1/F6)
    max_redirects: int = 5                 # Mojo.pm:50
    max_depth: int | None = None
    cap: int | None = None                 # queue capacity (F4, Queue/Memory.pm:42)
    max_waves: int | None = None
    retry_errors: int = 0                  # S2/F10 requeue budget (0 = reference default)
    salts: int = 64                        # host-salt partitioning fanout
    containers: list | None = None         # P4 context scoping
    checkpoint_dir: str | None = None      # TableStore root for durable commits
    commit_every: int = 1                  # waves between durable commits
    compact_every_commits: int | None = None  # store maintenance cadence: every N
                                           # durable commits, compact the append
                                           # tables (small-files rewrite) and expire
                                           # snapshots older than the retained tail.
                                           # Counts every commit of the crawl, across
                                           # resumes (carried in the frontier meta)
    expire_keep_snapshots: int = 2         # snapshots kept by maintenance expiry
    collect_images: bool = False           # S7 image+caption sink
    shuffle_every: int | None = None       # F5 seeded re-sequencing
    credentials: dict | None = None        # F8: host_key -> userinfo (UserAgent.pm:17-31)
    respect_robots: bool = False           # north-rule robots.txt gate (off = reference parity)
    robots_agent: str = "wcm-spark"
    robots_cache_max_hosts: int | None = None  # bound on hosts whose robots rules the
                                           # driver + broadcast hold (live http mode).
                                           # None = unbounded. Overflow rules spill
                                           # FIFO to a parquet side table that both
                                           # robots gates (enqueue and fetch) left-join,
                                           # so visits, seen set and frontier are
                                           # identical at any host count; declared
                                           # Crawl-delays are never evicted
    min_delay_waves: int = 0               # F6 politeness budget: waves a host rests between fetches
    broadcast_seen_max: int = 4_000_000    # D2: the seen set's one bound (SeenSet): at or below it
                                           # an exact mirror probed in-UDF, above it a bloom
                                           # sized from the seen count + shuffle anti-join
    fetch_mode: str = "corpus"             # "corpus" (test/bench join) | "http" (live network fetch)
    corpus_prepartitioned: bool = False    # corpus is a bucketed-by-url table: skip the
                                           # repartition+persist, let the bucketed scan
                                           # carry the join distribution (100 TB path)
    html_handlers: dict | None = None      # selector->extractor override (Mojo.pm:14,253-261); None = presets
    on_wave: object = None                 # callable(wave_id, pages_df) -> pages_df|None ('res' event analog)
    on_error: object = None                # callable(wave_id, errors_df) ('error' event, Mojo.pm:306-393)
    on_empty: object = None                # callable() when the frontier drains ('empty' event)
    redundancy: object = None              # callable(url, method, params) -> key replacing the md5 digest
                                           # (queue->redundancy, reference README.md:158-160)
    http_timeout: float = 10.0             # per-request timeout in http mode
    http_concurrency: int = 16             # sockets per partition in http mode
    min_delay_sec: float = 0.0             # F6 in wall-clock form (http mode): spacing between same-host requests
    backoff_statuses: tuple = ()           # F10 extension: statuses (e.g. 429, 503) that rest the
                                           # whole HOST for backoff_waves waves — the server said
                                           # "slow down"; its pending rows stay in the frontier and
                                           # re-enter the cut when the cooldown lapses. In-memory
                                           # state (advisory politeness): a resume restarts cooldowns
    backoff_waves: int = 4                 # cooldown length for backoff_statuses hosts
    validators: object = None              # conditional-GET validators (http mode): a
                                           # DataFrame (url, etag) from the prior crawl;
                                           # matching URLs fetch with If-None-Match and a
                                           # 304 records a body-less terminal visit (the
                                           # transfer the recrawl loop avoids). The fetched
                                           # frame's etag column carries each response's
                                           # NEW validator — harvest via on_wave to build
                                           # the next snapshot's validator table
    url_filter_expr: str | None = None     # declarative allow/deny gate over discovered
                                           # children (url, host_key, depth, literal_uri, ...)
                                           # applied BEFORE the seen-mark — the reference's
                                           # user-side enqueue guards (example/checkbot.pl:50
                                           # host allowlist, README.md:65-111 path/depth
                                           # filters) as a Catalyst-optimized predicate; a
                                           # filtered URL's digest is never marked (the user
                                           # never called enqueue), so a later allowed route
                                           # to it still crawls
    priority_expr: str | None = None       # north-rule priority queue: a SQL expression over
                                           # frontier columns (url, depth, host_key, seq, ...);
                                           # the wave cut ranks per host by (priority DESC, seq)
                                           # instead of pure FIFO. None (default) = FIFO — the
                                           # reference's queue order, required for visit-order
                                           # parity (Queue/Memory.pm dequeues insertion order)


@dataclass
class CrawlResult:
    visits: DataFrame          # (pos, wave, seq, url, original_url, redirect_history, status, depth, host_key)
    seen: DataFrame            # (digest)
    metrics: list = field(default_factory=list)
    images: DataFrame | None = None
    waves: int = 0
    fetched: int = 0


VISIT_COLS = [
    "wave", "seq", "url", "request_url", "original_url", "redirect_history",
    "status", "depth", "host_key",
]

# durable metrics rows: the column order and types schema inference gave
# earlier commits, so appends to an existing metrics table line up
METRICS_SCHEMA = (
    "enqueued long NOT NULL, fetched long NOT NULL, pending long NOT NULL, "
    "sec double NOT NULL, skipped long NOT NULL, wave long NOT NULL"
)


def _pin_observed(df: DataFrame, *aggs) -> tuple[DataFrame, dict]:
    """Eager localCheckpoint of ``df`` plus the aggregates ``aggs`` over its
    rows, computed by the SAME job through an Observation.

    Under AQE the observed-metrics row of a checkpointed plan can come
    back malformed (PythonSQLUtils.toPyRow assertion, Spark 4.1.2); the
    rows are pinned by then, so the aggregates are recomputed with one
    narrow job over the cached blocks — identical values, one extra cheap
    job only on sessions where the free Observation ride is unavailable."""
    from py4j.protocol import Py4JJavaError

    obs = Observation()
    pinned = df.observe(obs, *aggs).localCheckpoint(eager=True)
    try:
        return pinned, obs.get
    except Py4JJavaError:
        return pinned, pinned.agg(*aggs).first().asDict()


def _unpin(pin: DataFrame) -> None:
    """Drop the blocks of ``pin``, a frame ``localCheckpoint`` returned.
    ``DataFrame.unpersist`` only uncaches ``cache()``d plans, so it leaves a
    checkpoint's RDD persisted; that RDD is the pin's analyzed
    ``LogicalRDD``. Any other frame (a projection of a pin, a plan no
    checkpoint cut) is left alone: its blocks belong to someone else. A
    dropped pin cannot be recomputed, so no live frame may read it."""
    plan = pin._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _pin_ranked(
    df: DataFrame, bounds: tuple[int, int], srcs: list[int], *aggs
) -> tuple[DataFrame, dict, int]:
    """Pin ``df`` (side ``__src``, key (``__k1``, ``__k2``) with ``__k1`` in
    the wave's seq range ``bounds``) in one job, ranked for ``_dense``:
    ``__rk`` is the row's rank in its (``__src``, arithmetic bucket
    ``__pid``), and the bucket counts ``c{src}_{i}`` are observed with
    ``aggs``. Returns the rows, the observed values and the bucket count."""
    n_parts = arith_n_parts(df.sparkSession, bounds[1] - bounds[0])
    ranked = df.withColumn(
        "__pid", arith_bucket_col(F.col("__k1"), *bounds, n_parts)
    ).withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("__src", "__pid").orderBy("__k1", "__k2")
        ),
    )
    pinned, obs = _pin_observed(ranked, *[
        F.sum(((F.col("__src") == src) & (F.col("__pid") == i))
              .cast("long")).alias(f"c{src}_{i}")
        for src in srcs for i in range(n_parts)
    ], *aggs)
    return pinned, obs, n_parts


def _dense(
    ranked: DataFrame, counts: dict, src: int, n_parts: int, start: int
) -> tuple[DataFrame, int]:
    """The ``src`` side of a wave's ranked checkpoint with ``__dense`` =
    start + its rank under its key, and that side's row count: per-bucket
    counts ``c{src}_{i}`` turn into a literal bucket→offset map."""
    offsets, acc = {}, start
    for i in range(n_parts):
        if counts[f"c{src}_{i}"]:
            offsets[i] = acc
            acc += counts[f"c{src}_{i}"]
    rows = ranked.filter(F.col("__src") == src).withColumn(
        "__dense",
        (F.col("__rk") - 1 + offsets_to_col(offsets, start)).cast("long"),
    )
    return rows, acc - start


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _dedup_min(df: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """Keep the first row per key under order_cols (D3: first-emit wins).
    partitionBy windows scale — each key group sorts locally after the
    hash exchange; no global sort."""
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame | None,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.corpus = corpus
        if corpus is None and self.config.fetch_mode != "http":
            raise ValueError("corpus-mode crawl needs a corpus DataFrame")
        # checkpoint_dir accepts a filesystem root (parquet+manifest store)
        # or an iceberg://catalog[/namespace] URI (real Iceberg tables when
        # the runtime jars + catalog conf are present)
        self.store = (
            store_for_session(spark, self.config.checkpoint_dir)
            if self.config.checkpoint_dir
            else None
        )
        self._closure = (
            self._redirect_closure(corpus, self.config.max_redirects)
            if corpus is not None
            else None
        )
        self._fetch_df: DataFrame | None = None
        # F8 credential store: static entries (URL or host_key keys) plus
        # per-wave learn-on-first-sight harvest (UserAgent.pm:17-31,58-63)
        self._creds: dict[str, str] = {
            self._normalize_cred_key(k): v
            for k, v in (self.config.credentials or {}).items()
        }
        # durable commits this crawl has made, across resumes (carried in
        # the frontier meta): the store-maintenance cadence counts them
        self._commits_done = 0
        # every robots decision (rules, Crawl-delays, spill, live fetch,
        # the allow-check) lives behind this gate; off ⇒ a no-op
        self._robots = RobotsGate.for_crawl(spark, corpus, self.config)

    # -- fetch ------------------------------------------------------------

    @staticmethod
    def _redirect_closure(corpus: DataFrame, max_redirects: int) -> DataFrame:
        """Resolve redirect chains once: src -> (final url, history).

        Only redirect rows participate (a small corpus subset), so the
        iterated self-join is cheap and wave fetches stay single-join.
        History layout matches Job::redirect (Job.pm:84-90): newest-first
        intermediates, original last, final excluded.
        """
        red = corpus.filter(F.col("redirect_to").isNotNull()).select(
            F.col("url").alias("r_src"), F.col("redirect_to").alias("r_to")
        )
        closure = red.select(
            F.col("r_src").alias("src"),
            F.col("r_to").alias("cur"),
            F.array(F.col("r_src")).alias("history"),
        )
        step = red.select(F.col("r_src").alias("s_url"), F.col("r_to").alias("s_to"))
        for _ in range(max_redirects - 1):
            j = closure.join(step, closure.cur == step.s_url, "left")
            closure = j.select(
                "src",
                F.coalesce(F.col("s_to"), F.col("cur")).alias("cur"),
                F.when(
                    F.col("s_to").isNotNull(), F.concat(F.array(F.col("cur")), F.col("history"))
                )
                .otherwise(F.col("history"))
                .alias("history"),
            )
        return closure.withColumnRenamed("cur", "final_url").localCheckpoint(eager=False)

    @staticmethod
    def _normalize_cred_key(key: str) -> str:
        """credentials() accepts URLs or host keys (UserAgent.pm:58-63)."""
        from .urlkit import host_key as hk

        return (hk(key) or key) if "://" in key else key

    def _harvest_credentials(self, wave: DataFrame) -> None:
        """F8 learn-on-first-sight (UserAgent.pm:17-31): any wave URL that
        carries userinfo teaches this host's credentials; later same-host
        requests get them re-attached. Userinfo-bearing URLs are rare, so
        the harvest is a driver collect of a tiny filtered slice — and the
        loop calls it only for a wave whose ``ui`` count (observed on the
        checkpoint that pins the wave, see ``_facts``) is nonzero, so the
        common all-clean crawl pays ZERO extra jobs per wave."""
        from .urlkit import host_key as hk

        carriers = wave.filter(F.col("url").rlike(UI_PAT))
        for r in carriers.select("url", "seq").orderBy("seq").collect():
            url = r["url"]
            key = hk(url)
            if key is None:
                continue
            rest = url.split("://", 1)[1]
            userinfo = rest.split("@", 1)[0]
            if userinfo:
                self._creds[key] = userinfo

    def _with_credentials(self, wave: DataFrame) -> DataFrame:
        """F8 (UserAgent.pm:17-31,58-63): attach stored userinfo per host_key
        via a broadcast dimension join; the authorized URL is what a real
        fetch would request, while dedup digests and redirect history keep
        the credential-free URL (Mojo.pm:206 strips userinfo)."""
        creds = self._creds
        if not creds:
            return wave.withColumn("fetch_auth_url", F.col("url"))
        cred_df = F.broadcast(
            local_frame(
                self.spark, creds.items(), "cred_host string, userinfo string"
            )
        )
        joined = wave.join(cred_df, wave.host_key == cred_df.cred_host, "left")
        has_userinfo = F.col("url").rlike(UI_PAT)
        auth = F.when(
            F.col("userinfo").isNotNull() & ~has_userinfo,
            F.regexp_replace(F.col("url"), "^([a-z]+)://", F.concat(F.lit("$1://"), F.col("userinfo"), F.lit("@"))),
        ).otherwise(F.col("url"))
        return joined.withColumn("fetch_auth_url", auth).drop("cred_host", "userinfo")

    def _fetch_side(self) -> DataFrame:
        """Corpus fetch columns, hash-partitioned by url ONCE and cached.

        Every wave joins the frontier against this frame; without a pinned
        partitioning the join re-shuffles the whole corpus (bodies
        included) per wave. Partitioning both sides on the join key makes
        the exchange land on the small frontier slice only — the bodies
        never move after the one-time cache build. (Cluster analog:
        bucketed storage on url, or no join at all in real-fetch mode.)
        """
        if self._fetch_df is None:
            body = F.col("body")
            if (
                self.config.on_wave is None
                and self.config.on_error is None
                and not self.config.collect_images
            ):
                # No consumer ever reads a non-parseable body (the parse
                # UDF's JVM gate drops those rows pre-Arrow, visits are
                # body-free, and there's no image sink or user hook): null
                # them in the CACHED side, so the ~25%-of-bytes image
                # payload is neither cached nor rescanned by every wave's
                # fetch join. Any hook present → keep bodies verbatim.
                from .operators.scrape import parseable_ct_pred

                body = F.when(parseable_ct_pred(), F.col("body"))
            cols = [
                F.col("url").alias("c_url"), F.col("status"),
                F.col("content_type"), F.col("content_length"),
                body.alias("body"),
            ]
            if self.config.corpus_prepartitioned:
                # bucketed-by-url table: the scan itself carries the hash
                # partitioning (ProjectExec is alias-aware, so c_url keeps
                # it); no repartition, no persist — the 100 TB shape where
                # the corpus cannot live in memory
                self._fetch_df = self.corpus.select(*cols)
            else:
                n = self.spark.sparkContext.defaultParallelism
                self._fetch_df = (
                    self.corpus.select(*cols)
                    .repartition(n, F.col("c_url"))
                    .persist()
                )
        return self._fetch_df

    def _fetch_wave(self, wave: DataFrame) -> DataFrame:
        """S3 fetch: live HTTP (fetch_mode='http') or corpus join (test/bench).

        Both modes return the same shape, so the rest of the loop is
        fetch-agnostic. Real-fetch reference: Mojo.pm:83-111 non-blocking
        UA; redirects recorded per Job.pm:84-90 in both modes.
        """
        if self.config.fetch_mode == "http":
            from .sources.httpfetch import http_fetch_wave

            wave = self._with_credentials(wave)
            if self.config.validators is not None:
                # conditional GET: attach each URL's last-crawl validator;
                # the fetcher sends If-None-Match and 304s come back
                # body-less (status 304, a terminal visit — the scrape
                # guard skips body-less rows). One equi-join on url; the
                # validator side is a real table at scale, so no forced
                # broadcast — AQE picks the strategy. The validator side is
                # deduped first: the documented workflow harvests (url, etag)
                # from the fetched frame via on_wave, and that frame can hold
                # duplicate final urls (two request URLs redirecting to the
                # same final URL), which a raw left join would turn into
                # duplicate frontier rows and double fetches.
                vdf = (
                    self.config.validators
                    .select("url", "etag")
                    .dropDuplicates(["url"])
                )
                wave = wave.join(vdf, "url", "left")
            # robots Crawl-delay of the matched agent group raises the
            # per-host request spacing above the global min_delay_sec
            host_delays = self._robots.delays
            if self.config.min_delay_sec > 0 or host_delays:
                # a host must not span partitions, or in-partition request
                # spacing would not be globally polite for the wave
                wave = wave.repartition(
                    self.spark.sparkContext.defaultParallelism, F.col("host_key")
                )
            return http_fetch_wave(
                wave,
                max_redirects=self.config.max_redirects,
                timeout=self.config.http_timeout,
                concurrency=self.config.http_concurrency,
                user_agent=self.config.robots_agent,
                creds=dict(self._creds),
                min_delay_sec=self.config.min_delay_sec,
                host_delays=host_delays,
            )
        wave = self._with_credentials(wave)
        w = wave.join(self._closure, wave.url == self._closure.src, "left").select(
            wave["*"],
            F.coalesce(F.col("final_url"), wave.url).alias("fetch_url"),
            F.coalesce(F.col("history"), F.array().cast("array<string>")).alias("redirect_history"),
        )
        c = self._fetch_side()
        if not self.config.corpus_prepartitioned:
            # repartition the (narrow) frontier side to the corpus
            # partitioning so only the wave shuffles into the join
            w = w.repartition(
                self.spark.sparkContext.defaultParallelism, F.col("fetch_url")
            )
        # prepartitioned (bucketed) corpus: no manual exchange — the
        # planner shuffles the wave side into the bucket count, the
        # bucketed scan side plans NO exchange
        fetched = w.join(c, w.fetch_url == c.c_url, "left")
        return fetched.select(
            wave["seq"], wave["wave"], wave["depth"], wave["retries"],
            wave["method"], wave["params"], wave["host_key"], wave["digest"],
            wave["context"], wave["literal_uri"], wave["fetch_auth_url"],
            F.col("url").alias("request_url"),
            F.col("fetch_url").alias("url"),  # final URL after redirects (F9)
            F.try_element_at(F.col("redirect_history"), F.lit(-1)).alias("original_url_raw"),
            "redirect_history", "status", "content_type", "content_length", "body",
            # http mode emits etag (FETCHED_SCHEMA, conditional GET); keep
            # corpus mode schema-identical so on_wave consumers and
            # unionByName across fetch modes never diverge
            F.lit(None).cast("string").alias("etag"),
        ).withColumn("original_url", F.coalesce(F.col("original_url_raw"), F.col("url"))).drop(
            "original_url_raw"
        )

    # -- seeds ------------------------------------------------------------

    _SEED_SCHEMA = (
        "seq long, wave int, url string, host_key string, method string, "
        "params string, digest string, depth int, referrer_url string, "
        "literal_uri string, context string, context_kind string, retries int"
    )

    def _seed_frontier(self, seeds) -> DataFrame:
        if not isinstance(seeds, DataFrame):
            # driver-side path for any iterable of URLs: digest dedup
            # (first wins) and dense seq assignment are pure Python over
            # the seeds — ONE local frame (host_salt rides as a lazy
            # JVM column on the caller's checkpoint) instead of the ~5
            # Spark jobs the window/range-exchange path costs. DataFrame
            # seeds keep the distributed path below.
            from .urlkit import host_key as hk_fn
            from .urlkit import job_digest

            red = self.config.redundancy
            rows = []
            seen_d = set()
            for u in seeds:
                dig = (
                    str(red(u, None, None)) if red is not None
                    else job_digest(u, None, None)
                )
                if dig in seen_d:
                    continue
                seen_d.add(dig)
                rows.append(
                    (len(rows), 0, u, hk_fn(u), None, None, dig, 0,
                     None, None, None, None, 0)
                )
            return (
                local_frame(self.spark, rows, self._SEED_SCHEMA)
                .withColumn(
                    "host_salt",
                    host_salt_col(F.col("host_key"), self.config.salts),
                )
                .select(*PENDING_COLS)
            )
        df = seeds
        if "seed_order" not in df.columns:
            df = df.withColumn(
                "seed_order", F.row_number().over(Window.orderBy(F.lit(1))) - 1
            )
        if "method" not in df.columns:
            df = df.withColumn("method", F.lit(None).cast("string"))
        if "params" not in df.columns:
            df = df.withColumn("params", F.lit(None).cast("string"))
        if self.config.redundancy is not None:
            # user key function replaces the md5 digest for seeds too
            import pandas as pd

            from pyspark.sql.types import StringType

            red = self.config.redundancy

            @F.pandas_udf(StringType())
            def _red(urls, methods, params):
                return pd.Series(
                    [str(red(u, m, p)) for u, m, p in zip(urls, methods, params)]
                )

            dig = _red(F.col("url"), F.col("method"), F.col("params"))
        else:
            dig = digest_col(F.col("url"), F.col("method"), F.col("params"))
        df = (
            df.withColumn("digest", dig)
            .withColumn("host_key", host_key_udf(F.col("url")))
            .withColumn("host_salt", host_salt_col(F.col("host_key"), self.config.salts))
        )
        df = _dedup_min(df, "digest", ["seed_order"])
        df = assign_seq(df, ["seed_order"], out_col="seq", start=0)
        return df.select(
            "seq",
            F.lit(0).alias("wave"),
            "url", "host_key", "host_salt", "method", "params", "digest",
            F.lit(0).alias("depth"),
            F.lit(None).cast("string").alias("referrer_url"),
            F.lit(None).cast("string").alias("literal_uri"),
            F.lit(None).cast("string").alias("context"),
            F.lit(None).cast("string").alias("context_kind"),
            F.lit(0).alias("retries"),
        )

    # -- politeness cut (F1) ----------------------------------------------

    def _wave_cut(self, pending: DataFrame, host_state: DataFrame | None = None, wave_id: int = 0) -> DataFrame:
        cfg = self.config
        wave = pending
        gates = []
        if cfg.min_delay_waves > 0:
            # F6 min-delay: a host fetched at wave w rests until w + delay
            gates.append(
                F.col("last_wave").isNull()
                | (F.lit(wave_id) - F.col("last_wave") > cfg.min_delay_waves)
            )
        if cfg.backoff_statuses:
            # F10 backoff: a 429/503 host rests until its rest_until wave
            gates.append(
                F.col("rest_until").isNull()
                | (F.lit(wave_id) > F.col("rest_until"))
            )
        if gates and host_state is not None:
            # host_state is one small row per host — broadcast join, no
            # frontier shuffle (the UserAgent active-host analog as data)
            cond = gates[0]
            for g in gates[1:]:
                cond = cond & g
            wave = (
                pending.join(F.broadcast(host_state), "host_key", "left")
                .filter(cond)
                .drop("last_wave", "rest_until")
            )
        # the wave-cut total order: FIFO by default (reference parity),
        # (priority DESC, seq) under the north-rule priority queue —
        # seq stays the tiebreak so the order remains total and the cut
        # deterministic for any priority expression
        order = (
            [F.expr(cfg.priority_expr).desc(), F.col("seq")]
            if cfg.priority_expr
            else [F.col("seq")]
        )
        if cfg.max_conn_per_host is not None:
            k = cfg.max_conn_per_host
            # two-phase per-host top-K (the reason frontier rows carry
            # host_salt): phase 1 caps each (host, salt) shard to K rows,
            # spreading a skewed host over cfg.salts tasks instead of
            # funneling its millions of pending rows through ONE window
            # task; phase 2 ranks the <= K*salts survivors per host. The
            # true per-host top-K is always contained in the union of
            # per-shard top-Ks under the SAME total order, so the result
            # is identical for FIFO and priority cuts alike.
            w1 = Window.partitionBy("host_key", "host_salt").orderBy(*order)
            wave = (
                wave.withColumn("__hs", F.row_number().over(w1))
                .filter(F.col("__hs") <= k)
                .drop("__hs")
            )
            w = Window.partitionBy("host_key").orderBy(*order)
            wave = (
                wave.withColumn("__hr", F.row_number().over(w))
                .filter(F.col("__hr") <= k)
                .drop("__hr")
            )
        if cfg.max_conn is not None:
            # TakeOrdered top-K: per-partition heads merged on one reducer,
            # K rows — not a global sort of the frontier
            wave = wave.orderBy(*order).limit(cfg.max_conn)
        return wave

    # -- main loop ----------------------------------------------------------

    def run(self, seeds) -> CrawlResult:
        pending, pending_count, facts = self._pin_frontier(
            self._seed_frontier(seeds)
        )
        seen = SeenSet(
            pending.select("digest"), pending_count, self.config.broadcast_seen_max
        )
        try:
            # seed seqs are dense [0, n): the next seq to assign is n
            return self._loop(
                pending, pending_count, facts, seen, next_seq=pending_count,
                start_wave=0, seen_durable=False,
            )
        finally:
            seen.close()
            self._robots.close()

    @classmethod
    def resume(cls, spark: SparkSession, corpus: DataFrame, config: CrawlConfig) -> "CrawlResult":
        """Continue a crawl from the last committed wave in checkpoint_dir.

        Restores frontier/seen/next_seq and the commit count (the
        compaction cadence) from the TableStore snapshots the loop commits
        every ``commit_every`` waves. The frontier commit is the commit
        point, so the seen snapshot read is the one whose wave matches the
        frontier's: a seen delta a crash left committed past it is
        ignored, and the resumed loop's first commit rewrites it."""
        assert config.checkpoint_dir, "resume needs checkpoint_dir"
        crawler = cls(spark, corpus, config)
        store = crawler.store
        pending = store.read(spark, "frontier")
        if pending is None:
            raise ValueError("nothing to resume: no committed frontier")
        meta = store.latest_meta("frontier") or {}
        seen_snaps = store.snapshots("seen")
        at_frontier = [
            s for s in seen_snaps if s["meta"].get("wave") == meta.get("wave")
        ]
        seen_snap = at_frontier[-1] if at_frontier else seen_snaps[-1]
        crawler._commits_done = int(meta.get("commits", 0))
        pending, pending_count, facts = crawler._pin_frontier(pending)
        # every seen digest was issued a seq: next_seq bounds their count
        next_seq = int(meta.get("next_seq", 0))
        seen = SeenSet(
            store.read(spark, "seen", version=seen_snap["version"]),
            next_seq, config.broadcast_seen_max,
        )
        try:
            return crawler._loop(
                pending, pending_count, facts, seen, next_seq=next_seq,
                start_wave=int(meta.get("wave", 0)),
                seen_durable=seen_snap is seen_snaps[-1],
            )
        finally:
            seen.close()
            crawler._robots.close()

    def _pin_frontier(self, pending: DataFrame) -> tuple[DataFrame, int, dict]:
        """Checkpoint the starting frontier in ONE job, its row count and
        its ``_facts`` observed on the way. Returns the pinned frontier,
        its count and the facts, which hold for the first wave: that wave
        is the frontier itself or a cut of it."""
        pending, facts = _pin_observed(
            pending, F.count(F.lit(1)).alias("n"), *self._facts()
        )
        return pending, facts.pop("n"), facts

    def _facts(self, rows=None) -> list:
        """What the loop needs to know about a wave before its fetch, as
        aggregates over the rows ``rows`` picks (all when None) that ride
        the checkpoint pinning those rows: ``ui``, the userinfo carriers
        (the credential harvest runs only when it is nonzero), and in live
        robots mode ``hosts``, the host keys (null, so left out, for
        non-http(s) URLs), from which ``RobotsGate.filter_wave`` learns new
        hosts' rules."""
        if rows is None:
            rows = F.lit(True)
        aggs = [F.count(F.when(rows & F.col("url").rlike(UI_PAT), 1)).alias("ui")]
        if self.config.fetch_mode == "http" and self.config.respect_robots:
            aggs.append(F.collect_set(F.when(rows, F.col("host_key"))).alias("hosts"))
        return aggs

    def _loop(
        self, pending, pending_count, facts, seen, next_seq, start_wave,
        seen_durable,
    ) -> CrawlResult:
        """The wave loop over the pinned ``pending`` frontier of
        ``pending_count`` rows, whose ``_facts`` are ``facts``, and the
        ``SeenSet`` ``seen``. ``seen_durable``: ``seen.frame`` is already
        the seen table's current snapshot, so commits append per-wave
        deltas to it; otherwise the first commit overwrites it with
        ``seen.frame`` + delta. Each later wave's
        facts ride the wave-cut checkpoint or, on drain-level crawls (the
        next wave is the whole fresh enqueue), the heavy checkpoint."""
        cfg = self.config
        spark = self.spark
        visit_frames: list[DataFrame] = []
        image_frames: list[DataFrame] = []
        metrics: list[dict] = []
        uncommitted_visits: list[DataFrame] = []
        uncommitted_metrics: list[dict] = []
        uncommitted_seen: list[DataFrame] = [] if seen_durable else [seen.frame]
        seen_mode = "append" if seen_durable else "overwrite"
        pos_base = 0  # dense visit position of this call's next visit
        wave_id = start_wave
        waves_run = 0
        total_fetched = 0
        host_state = None
        if cfg.min_delay_waves > 0 or cfg.backoff_statuses:
            host_state = local_frame(
                spark, [], "host_key string, last_wave int, rest_until int"
            )

        drain_level = (
            cfg.max_conn is None
            and cfg.max_conn_per_host is None
            and cfg.min_delay_waves == 0
            and not cfg.backoff_statuses
        )
        # Drain-level corpus crawls with no durable store can defer the
        # per-wave visits materialization: every wave's visits frame is a
        # narrow 2-join plan over already-checkpointed inputs, so the
        # reader of the visits evaluates ALL of them in one job instead of
        # paying a ranked copy per wave, and pos is plain seq. http mode
        # keeps the eager narrow checkpoint (lazy frames would pin body
        # blocks all crawl), the politeness path must stay eager because
        # it unpersists old frontiers that lazy visits would still
        # reference, and shuffle_every re-sequencing breaks pos = seq.
        lazy_visits = (
            cfg.fetch_mode != "http" and drain_level and self.store is None
            and cfg.shuffle_every is None
        )
        while True:
            if pending_count == 0:
                if cfg.on_empty is not None:
                    cfg.on_empty()  # the 'empty' event (Mojo.pm:38-39,58-60)
                break
            if cfg.max_waves is not None and waves_run >= cfg.max_waves:
                break
            t0 = time.monotonic()
            wave_id += 1
            waves_run += 1

            # bounds: the [lo, hi) seq range of the wave's rows — the
            # parent-seq range its children's seq buckets split. wave_pins:
            # this wave's own checkpoints, which only the heavy checkpoint
            # and the next frontier read
            wave_pins = []
            wave = self._wave_cut(pending, host_state, wave_id)
            if wave is not pending:
                wave, facts = _pin_observed(
                    wave, F.count(F.lit(1)).alias("n"),
                    F.min("seq").alias("lo"), F.max("seq").alias("hi"),
                    *self._facts(),
                )
                wave_pins.append(wave)
                wave_count = facts["n"]
                bounds = (
                    (facts["lo"], facts["hi"] + 1) if wave_count
                    else (next_seq, next_seq + 1)
                )
            else:
                # no politeness gate — pending is already materialized, its
                # cardinality is known and its seqs are the last issued
                wave_count = pending_count
                bounds = (next_seq - pending_count, next_seq)
            if facts["ui"]:
                self._harvest_credentials(wave)
            # wave_taken: the slice leaving the frontier this wave (incl.
            # robots-disallowed and non-http(s) rows, which are skipped,
            # not retried); wave: the slice actually fetched. The carry
            # below must subtract the TAKEN count (what left the frontier),
            # while the fetch metric reports the post-gate count —
            # conflating them inflates pending_count by every skipped row
            # and the loop never sees the frontier drain.
            wave_taken, wave_taken_count = wave, wave_count
            if cfg.fetch_mode == "http":
                # Live fetch gates, both lazy filters on the fetch's own
                # plan: the fetcher speaks only http(s), so ftp/ws/wss rows
                # are skipped (not retried); robots learns the new hosts'
                # rules (hosts from the wave's facts), then drops
                # disallowed rows before any socket opens. Corpus mode
                # gates at enqueue only, where every host's rules are
                # known up front.
                wave = self._robots.filter_wave(
                    wave.filter(F.col("url").rlike(HTTP_PAT)), facts.get("hosts")
                )
            fetched = self._fetch_wave(wave)
            # Corpus mode: the fetch is deliberately NOT persisted — caching
            # would materialize the body column (measured slower than the
            # consumers' re-joins); the heavy checkpoint below prunes body
            # out of its join and the one heavy pass (fetch -> parse ->
            # dedup) happens exactly once. HTTP mode: the fetch has
            # real-world side effects and cost, so it is pinned eagerly —
            # every URL is requested exactly ONCE per wave no matter how
            # many frames derive from it — and the pin counts what passed
            # the gates.
            if cfg.fetch_mode == "http":
                fetched, obs = _pin_observed(fetched, F.count(F.lit(1)).alias("n"))
                wave_pins.append(fetched)
                wave_count = obs["n"]
            if host_state is not None and wave_taken_count:
                # F6/F10 host state, one fold per wave: the wave's hosts
                # were fetched at wave_id; a host that answered a backoff
                # status ("slow down") rests until wave_id + backoff_waves,
                # its unfetched rows staying pending until the cooldown
                # lapses
                touched = wave_taken.select(
                    "host_key", F.lit(wave_id).alias("last_wave"),
                    F.lit(None).cast("int").alias("rest_until"),
                )
                if cfg.backoff_statuses:
                    touched = touched.unionByName(
                        fetched.filter(
                            F.col("status").isin(list(cfg.backoff_statuses))
                        ).select(
                            "host_key", F.lit(None).cast("int").alias("last_wave"),
                            F.lit(wave_id + cfg.backoff_waves).alias("rest_until"),
                        )
                    )
                folded = (
                    host_state.unionByName(touched)
                    .groupBy("host_key")
                    .agg(
                        F.max("last_wave").alias("last_wave"),
                        F.max("rest_until").alias("rest_until"),
                    )
                    .localCheckpoint(eager=True)
                )
                _unpin(host_state)
                host_state = folded

            # 'wave' on a visit = the fetch wave (the enqueue wave lives on
            # the frontier row); pos ordering below needs the fetch wave
            _noui = lambda c: F.regexp_replace(  # noqa: E731
                c, "^([a-z][a-z0-9+.-]*://)[^/?#]*?@", "$1"
            )
            visits = fetched.select(
                F.lit(wave_id).alias("wave"), "seq",
                _noui(F.col("url")).alias("url"),
                _noui(F.col("request_url")).alias("request_url"),
                _noui(F.col("original_url")).alias("original_url"),
                F.transform("redirect_history", _noui).alias("redirect_history"),
                "status", "depth", "host_key",
            )
            # non-lazy paths: visits are NOT checkpointed here — they fold
            # into the heavy-pass checkpoint below (one job per wave, one
            # shared wave-side exchange) instead of paying a separate
            # fetch-join job per wave just to pin the narrow visit rows

            pages = fetched.filter(F.col("status").isNotNull())
            if cfg.max_depth is not None:
                pages = pages.filter(F.col("depth") < cfg.max_depth)

            if cfg.collect_images:
                from .operators.imagesink import extract_image_rows

                image_frames.append(extract_image_rows(fetched).localCheckpoint(eager=True))

            if cfg.on_wave is not None:
                replaced = cfg.on_wave(wave_id, pages)
                if replaced is not None:
                    pages = replaced
            if cfg.on_error is not None:
                cfg.on_error(wave_id, fetched.filter(F.col("status").isNull()))
            # D2 at the source while the seen mirror is on: the fused UDF
            # drops already-seen children BEFORE they cross the Arrow
            # boundary (link-dense waves are ~97% seen rows), and keeps
            # only the partition-local first emit per digest
            probe = seen.probe()
            children = scrape_resolve_children(
                pages.select("url", "content_type", "content_length", "body", "seq", "depth"),
                cfg.containers,
                seen_bc=probe,
                local_first_wins=probe is not None,
                handlers=cfg.html_handlers,
                redundancy=cfg.redundancy,
            )
            # a robots-disallowed child never marks seen (like a cap drop)
            children = self._robots.filter(children)
            if cfg.url_filter_expr:
                # before the digest collect: a denied child never marks
                # seen, exactly like a user who never calls enqueue
                children = children.filter(F.expr(cfg.url_filter_expr))
            # D2 before D3: they commute on digest, and dropping seen rows
            # first leaves the window dedup sorting only the unseen sliver
            # instead of every extracted edge
            fresh = seen.unseen(children)  # D2
            fresh = _dedup_min(fresh, "digest", ["parent_seq", "emit_idx"])  # D3

            # error channel (F10): requeue with retries+1, bypassing seen-check (S2).
            # With backoff configured, backoff statuses (429/503) requeue
            # through the same channel — the row retries after its host's
            # cooldown instead of being recorded as a terminal visit only
            retry = None
            if cfg.retry_errors > 0:
                err_cond = F.col("status").isNull()
                if cfg.backoff_statuses:
                    err_cond = err_cond | F.col("status").isin(
                        list(cfg.backoff_statuses)
                    )
                retry = (
                    fetched.filter(err_cond)
                    .filter(F.col("retries") < cfg.retry_errors)
                    .select(
                        F.col("request_url").alias("url"), "method", "params", "digest",
                        "host_key", "depth",
                        F.lit(None).cast("string").alias("referrer_url"),
                        F.lit(None).cast("string").alias("literal_uri"),
                        F.lit(None).cast("string").alias("context"),
                        F.lit(None).cast("string").alias("context_kind"),
                        (F.col("retries") + 1).alias("retries"),
                        F.lit(-1).cast("long").alias("parent_seq"),
                        F.lit(0).alias("emit_idx"),
                    )
                )

            enqueue = fresh.select(
                "url", "host_key", "method", "params", "digest", "depth",
                "referrer_url", "literal_uri", "context", "context_kind",
                F.lit(0).alias("retries"), "parent_seq", "emit_idx",
            )
            if retry is not None:
                # Requeued jobs bypass the seen-check but NOT the cap —
                # Queue/Memory.pm applies the length check after the
                # requeue-bypassed redundancy check, so retries count
                # against capacity like any enqueue.
                enqueue = enqueue.unionByName(retry)

            # F4: newcomers dropped once length exceeds cap; dropped rows
            # are NOT marked seen. The length is the exact carry: what is
            # left of the frontier once the wave was taken
            enqueue = cap_keep(
                enqueue, cfg.cap, pending_count - wave_taken_count,
                "parent_seq", "emit_idx",
            )

            # THE one heavy materialization per wave: everything upstream
            # (fetch join -> fused parse UDF -> anti-join -> dedup window)
            # executes exactly once here, and the same job ranks the rows
            # the wave's seqs and visit positions come from. Both sides
            # are keyed by a seq in the wave's [lo, hi) range — children
            # by (parent_seq, emit_idx), visits by their own seq; retries
            # carry parent_seq = -1, clamp into bucket 0 and still sort
            # first — so the arithmetic bucket of that key, a per-bucket
            # row_number and Observation bucket counts ride the one
            # checkpoint. The dense seq/pos are then a projection: local
            # rank + a literal bucket→offset map. Visits fold into the
            # same checkpoint (discriminator column __src) unless
            # deferred, so the wave pays ONE checkpoint job for both. On
            # drain-level crawls the enqueue side is the whole next wave,
            # so its facts ride this checkpoint too.
            ranked = enqueue.select(
                "*", F.col("parent_seq").alias("__k1"),
                F.col("emit_idx").alias("__k2"), F.lit(1).alias("__src"),
            )
            srcs = [1]
            if not lazy_visits:
                srcs = [0, 1]
                ranked = visits.select(
                    "*", F.col("seq").alias("__k1"), F.lit(0).alias("__k2"),
                    F.lit(0).alias("__src"),
                ).unionByName(ranked, allowMissingColumns=True)
            pinned, counts, n_parts = _pin_ranked(
                ranked, bounds, srcs,
                *(self._facts(F.col("__src") == 1) if drain_level else []),
            )
            if drain_level:
                facts = counts

            enqueue, enq_count = _dense(pinned, counts, 1, n_parts, next_seq)
            enqueue = (
                enqueue.withColumn("seq", F.col("__dense"))
                .withColumn("wave", F.lit(wave_id))
                .withColumn("host_salt", host_salt_col(F.col("host_key"), cfg.salts))
                .select(*PENDING_COLS)
            )
            if lazy_visits:
                # Drain-mode invariant: every frontier seq is fetched exactly
                # once (no politeness slicing or fetch-time gate in corpus
                # mode) and each wave fetches a strictly higher seq range
                # than the last — so the dense (wave, seq) position IS seq
                visits = visits.withColumn("pos", F.col("seq").cast("long"))
            else:
                visits, n_visits = _dense(pinned, counts, 0, n_parts, pos_base)
                pos_base += n_visits
                visits = visits.select(*VISIT_COLS, F.col("__dense").alias("pos"))
            visit_frames.append(visits)
            next_seq += enq_count
            fresh_seen = enqueue.select("digest")
            seen.add(fresh_seen, enq_count)

            if drain_level:
                # BFS fast path: the wave was the whole pending set, so the
                # next frontier is exactly the fresh enqueue (already
                # materialized) — skip re-materializing remaining ∪ fresh:
                # O(frontier) per wave instead of O(total crawled) per wave
                new_pending = enqueue
            else:
                remaining = pending.join(wave_taken.select("seq"), "seq", "left_anti")
                new_pending = remaining.unionByName(enqueue)
            if cfg.shuffle_every and wave_id % cfg.shuffle_every == 0:
                # F5 (Queue/Memory.pm:32-35): periodic re-sequencing for host
                # diversity. Seeded-deterministic (md5 ordering) where the
                # reference is unseeded; new seqs stay above next_seq so they
                # remain unique. Largely subsumed by the per-host wave cut.
                new_pending = assign_seq(
                    new_pending.withColumn(
                        "__shuffle_key", F.md5(F.concat(F.col("url"), F.lit(str(wave_id))))
                    ),
                    ["__shuffle_key"],
                    out_col="seq",
                    start=next_seq,
                ).drop("__shuffle_key").select(*PENDING_COLS)
                next_seq += pending_count - wave_taken_count + enq_count
                new_pending = new_pending.localCheckpoint(eager=True)
            elif not drain_level:
                new_pending = new_pending.localCheckpoint(eager=True)
            uncommitted_seen.append(fresh_seen)
            # the next frontier is pinned: the old one and the wave's own
            # pins are read by nothing that lives on (the visits ride the
            # heavy checkpoint; on drain-level crawls the old frontier is a
            # projection of the previous heavy checkpoint, left alone)
            if not drain_level:
                _unpin(pending)
            for pin in wave_pins:
                _unpin(pin)
            pending = new_pending
            # exact carry in both paths: remaining = pending - wave_taken
            # (pre-robots-gate — disallowed rows also left the frontier),
            # plus the fresh enqueue — no per-wave recount job needed
            pending_count = pending_count - wave_taken_count + enq_count

            total_fetched += wave_count
            metrics.append(
                dict(
                    wave=wave_id,
                    fetched=wave_count,
                    enqueued=enq_count,
                    pending=pending_count,
                    # rows that left the frontier unfetched this wave:
                    # robots-disallowed + non-http(s) schemes in live mode
                    skipped=wave_taken_count - wave_count,
                    sec=round(time.monotonic() - t0, 3),
                )
            )

            uncommitted_visits.append(visits.select(*VISIT_COLS))
            uncommitted_metrics.append(metrics[-1])
            last_wave = cfg.max_waves is not None and waves_run >= cfg.max_waves
            if self.store and (
                wave_id % cfg.commit_every == 0 or last_wave or not pending_count
            ):
                # every commit_every waves, and on exit so the durable
                # tables cover every wave
                self._commit_batch(
                    uncommitted_visits, uncommitted_metrics, uncommitted_seen,
                    seen_mode, pending, wave_id, next_seq,
                )
                uncommitted_visits, uncommitted_metrics = [], []
                uncommitted_seen, seen_mode = [], "append"

        if not drain_level:
            _unpin(pending)
        if host_state is not None:
            _unpin(host_state)
        visits_all = _union_all(visit_frames) if visit_frames else self._empty_visits()
        images = _union_all(image_frames) if image_frames else None

        return CrawlResult(
            visits=visits_all, seen=seen.frame, metrics=metrics, images=images,
            waves=wave_id, fetched=total_fetched,
        )

    def _commit_batch(
        self, visit_frames, metric_rows, seen_frames, seen_mode, pending,
        wave_id, next_seq,
    ) -> None:
        """Commit every wave since the last boundary in one batch.

        The three staged tables (the visits append, the seen delta and the
        metrics append) are independent, so they commit concurrently, on
        threads that keep the caller's Spark job group. The frontier
        overwrite is the commit point: it starts only once all three have
        returned, and not at all if one raised (the others still finish,
        then the error re-raises). A crash therefore leaves any subset of
        {visits, seen, metrics} staged and never a frontier: duplicate
        visit rows (``read_visits`` dedups by (wave, seq), and the re-run
        is deterministic), a duplicate metrics row for the re-run wave, and
        a seen delta ``resume`` skips because its ``wave`` meta is past the
        frontier's. With commit_every > 1 the batch carries the union of
        all uncommitted per-wave frames, not just the last. ``seen_frames``
        is the seen delta since the last commit (plus the base the table
        does not hold yet when ``seen_mode`` is "overwrite").
        """
        meta = {"wave": wave_id}
        staged = [
            ("visits", _union_all(visit_frames), "append"),
            ("seen", _union_all(seen_frames), seen_mode),
            ("metrics", local_frame(self.spark, metric_rows, METRICS_SCHEMA), "append"),
        ]
        with ThreadPoolExecutor(max_workers=len(staged)) as pool:
            # one wrap per task: each copies the caller's local properties
            futures = [
                pool.submit(
                    inheritable_thread_target(self.spark)(self.store.commit),
                    name, df, mode=mode, meta=meta,
                )
                for name, df, mode in staged
            ]
        for f in futures:
            f.result()
        self.store.commit(
            "frontier", pending, mode="overwrite",
            meta={
                "wave": wave_id, "next_seq": next_seq,
                "commits": self._commits_done + 1,
            },
        )
        self._commits_done += 1
        cfg = self.config
        if (
            cfg.compact_every_commits
            and self._commits_done % cfg.compact_every_commits == 0
        ):
            # Store maintenance on the commit path (Iceberg
            # rewrite_data_files + expire_snapshots shape): the append
            # tables accumulate one tiny-file directory per commit — at
            # 100k-wave scale the visits scan goes metadata-bound
            # without this. Compaction commits a new snapshot (meta
            # carried forward, so resume still reads wave/next_seq);
            # expiry then reclaims directories no retained snapshot
            # references. Crash-safety: manifest swaps atomically
            # before any delete; resume reads the current snapshot
            # (for seen, the newest at the frontier's wave, which
            # compaction carries forward and a one-batch crash window
            # never expires).
            for t in ("visits", "metrics", "seen"):
                self.store.compact(self.spark, t)
            for t in ("visits", "metrics", "frontier", "seen"):
                self.store.expire_snapshots(
                    t, keep_last=cfg.expire_keep_snapshots
                )

    @classmethod
    def read_visits(cls, spark: SparkSession, config: "CrawlConfig") -> DataFrame | None:
        """Durable visits with crash-duplicate rows removed.

        A crash after the visits append but before the frontier overwrite
        makes the resumed run re-append deterministic duplicates; (wave,
        seq) is a crawl-unique key, so dropDuplicates restores exactness.
        """
        from .store import for_session as _store_for_session

        store = _store_for_session(spark, config.checkpoint_dir)
        committed = store.read(spark, "visits")
        return None if committed is None else committed.dropDuplicates(["wave", "seq"])

    def _empty_visits(self) -> DataFrame:
        return local_frame(
            self.spark, [],
            "wave int, seq long, url string, request_url string, original_url string, "
            "redirect_history array<string>, status int, depth int, host_key string, "
            "pos long",
        )
