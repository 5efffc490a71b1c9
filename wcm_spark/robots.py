"""robots.txt: parse, per-host rule cache, and the crawl's one robots gate.

The reference crawler has no robots support; the north rule
(BASELINE.json:6) adds "robots.txt caching" alongside the reference's
politeness throttling. Semantics implemented (the de-facto standard used
by major crawlers): rules from the matching user-agent group (exact agent
token else ``*``), longest-path-prefix match wins, Allow beats Disallow
on equal length, no rule ⇒ allowed. ``$`` end-anchor and ``*`` wildcards
inside paths are supported.

At scale the cache is a broadcast dimension table: one entry per host
(robots bodies are small and hosts ≪ URLs), each body parsed once on the
driver. ``RobotsGate`` owns every robots decision the crawl makes — the
broadcast rules, the Crawl-delays, the bounded cache's spill, the live
fetch of new hosts' robots.txt — and checks URLs with one vectorized
pandas UDF, its own Arrow stage next to the scrape UDF.
"""
from __future__ import annotations

import json
import re
import shutil
import tempfile
from dataclasses import dataclass
from urllib.parse import urlsplit

__all__ = ["RobotsRules", "parse_robots", "RobotsCache", "RobotsGate"]


@dataclass(frozen=True)
class RobotsRules:
    # (allow: bool, path_pattern: str) in file order
    rules: tuple
    # Crawl-delay of the matched agent group (seconds), None when absent
    crawl_delay: float | None = None

    def allowed(self, path: str) -> bool:
        if not path:
            path = "/"
        best_len = -1
        best_allow = True
        for allow, pattern in self.rules:
            m_len = _match_len(pattern, path)
            if m_len is None:
                continue
            if m_len > best_len or (m_len == best_len and allow and not best_allow):
                best_len = m_len
                best_allow = allow
        return best_allow


def _match_len(pattern: str, path: str) -> int | None:
    """Longest-match length if the robots pattern matches, else None."""
    if not pattern:
        return None
    if "*" in pattern or pattern.endswith("$"):
        rx = re.escape(pattern).replace(r"\*", ".*")
        if rx.endswith(r"\$"):
            rx = rx[:-2] + "$"
        return len(pattern) if re.match(rx, path) else None
    return len(pattern) if path.startswith(pattern) else None


def parse_robots(body: str, agent: str = "wcm-spark") -> RobotsRules:
    agent = agent.lower()
    groups: dict[str, list] = {}
    delays: dict[str, float] = {}
    current_agents: list[str] = []
    seen_rule_since_agent = True
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if seen_rule_since_agent:
                current_agents = []
                seen_rule_since_agent = False
            current_agents.append(value.lower())
            for a in current_agents:
                groups.setdefault(a, [])
        elif field in ("allow", "disallow"):
            seen_rule_since_agent = True
            if not current_agents:
                continue
            if field == "disallow" and value == "":
                continue  # empty Disallow = allow all (no rule)
            for a in current_agents:
                groups.setdefault(a, []).append((field == "allow", value))
        elif field == "crawl-delay":
            # non-standard but honored by major crawlers; the matched
            # group's delay feeds per-host wall-clock politeness (F6)
            seen_rule_since_agent = True
            try:
                d = float(value)
            except ValueError:
                continue
            if d >= 0:
                for a in current_agents:
                    groups.setdefault(a, [])
                    delays[a] = d
    best_name: str | None = None
    for name in groups:
        if name != "*" and name in agent:
            if best_name is None or len(name) > len(best_name):
                best_name = name
    if best_name is None and "*" in groups:
        best_name = "*"
    if best_name is None:
        return RobotsRules(())
    return RobotsRules(tuple(groups[best_name]), delays.get(best_name))


class RobotsCache:
    """Per-host parsed-rule cache; broadcast-friendly (plain dict state)."""

    def __init__(self, bodies: dict[str, str] | None = None, agent: str = "wcm-spark"):
        self.agent = agent
        self._rules: dict[str, RobotsRules] = {}
        for host_key, body in (bodies or {}).items():
            self._rules[host_key] = parse_robots(body, agent)

    def allowed(self, host_key: str | None, url: str) -> bool:
        if host_key is None:
            return True
        rules = self._rules.get(host_key)
        if rules is None:
            return True  # no robots.txt ⇒ allowed
        try:
            parts = urlsplit(url)
            path = parts.path or "/"
            if parts.query:
                path += "?" + parts.query
        except ValueError:
            return True
        return rules.allowed(path)

    def delay(self, host_key: str | None) -> float:
        """Matched-group Crawl-delay for the host (seconds; 0.0 = none)."""
        if host_key is None:
            return 0.0
        rules = self._rules.get(host_key)
        return rules.crawl_delay or 0.0 if rules is not None else 0.0

    def host_delays(self) -> dict[str, float]:
        """{host_key: crawl_delay} for hosts that declare one — the
        broadcast-friendly politeness dimension the fetcher consumes."""
        return {
            k: v.crawl_delay
            for k, v in self._rules.items()
            if v.crawl_delay
        }

    def to_bodies_state(self) -> dict:
        return {
            "agent": self.agent,
            "rules": {k: v.rules for k, v in self._rules.items()},
            "delays": {
                k: v.crawl_delay
                for k, v in self._rules.items()
                if v.crawl_delay is not None
            },
        }

    @classmethod
    def from_state(cls, state: dict) -> "RobotsCache":
        out = cls(agent=state["agent"])
        delays = state.get("delays", {})  # absent in pre-delay checkpoints
        out._rules = {
            k: RobotsRules(tuple(map(tuple, v)), delays.get(k))
            for k, v in state["rules"].items()
        }
        return out


# evicted hosts' parsed rules: one row per host, RobotsRules.rules as JSON
SPILL_SCHEMA = "host_key string, robots_rules string"

# one robots.txt request per new host, in the frontier-row shape
# sources/httpfetch.py fetches
_REQUEST_SCHEMA = (
    "seq long, wave int, depth int, retries int, method string, "
    "params string, host_key string, digest string, context string, "
    "literal_uri string, url string, fetch_auth_url string"
)


def _allowed_udf(bc):
    """The allow-check, a pandas UDF over (host_key, url, spilled): rules
    come from the broadcast state ``bc``, or for a host evicted from it
    from the row's ``spilled`` JSON cell (null for every other host)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    @F.pandas_udf(BooleanType())
    def allowed(host_keys, urls, spilled):
        cache = RobotsCache.from_state(bc.value)
        # isinstance, not `is not None`: a null string cell can surface
        # as NaN in some pandas versions
        for hk, rules in zip(host_keys, spilled):
            if isinstance(rules, str) and hk not in cache._rules:
                cache._rules[hk] = RobotsRules(tuple(map(tuple, json.loads(rules))))
        return pd.Series([cache.allowed(hk, u) for hk, u in zip(host_keys, urls)])

    return allowed


class RobotsGate:
    """Every robots decision of a crawl, or of the ``robots_gate`` query.

    - ``held``: the parsed rules per host, shipped to executors as one
      broadcast; each body is parsed once, on the driver;
    - ``delays``: declared Crawl-delays per host (a float each, never
      evicted) — the per-host spacing of the live fetcher;
    - the spill: past ``max_hosts`` held hosts, the oldest rules move FIFO
      to a parquet side table (created on first eviction, deleted by
      ``close``) that every check left-joins, so the crawl — verdicts,
      seen set, frontier — is the same at any bound;
    - live fetch (``fetch``: ``http_fetch_wave`` options): ``filter_wave``
      requests robots.txt once per new host through the crawl's own HTTP
      client and User-Agent; an unreachable or non-200 robots.txt means
      allow-all.

    A gate that knows no rules allows everything and adds no stage.
    """

    def __init__(self, spark, agent="wcm-spark", bodies=None, max_hosts=None, fetch=None):
        self.spark = spark
        self.agent = agent
        self.max_hosts = max_hosts
        self.held: dict[str, RobotsRules] = {}
        self.delays: dict[str, float] = {}
        self.spill_dir: str | None = None
        self._fetch = fetch
        self._known: set[str] = set()    # hosts whose robots.txt is settled
        self._spilled: set[str] = set()  # hosts whose rules live in the spill
        self._bc = None
        self._add(bodies or {})

    @classmethod
    def for_crawl(cls, spark, corpus, cfg) -> "RobotsGate":
        """The gate of a crawl under CrawlConfig ``cfg``: no rules when
        ``respect_robots`` is off; the corpus's robots.txt rows, known up
        front, in corpus mode; live fetch, bounded by
        ``robots_cache_max_hosts``, in http mode."""
        from pyspark.sql import functions as F

        from .functions.core import host_key_udf

        if not cfg.respect_robots:
            return cls(spark, cfg.robots_agent)
        if corpus is None and cfg.fetch_mode != "http":
            raise ValueError("respect_robots without a corpus needs http mode")
        bodies = {}
        if corpus is not None:
            rows = (
                corpus.filter(F.col("url").endswith("/robots.txt"))
                .filter(F.col("status") == 200)
                .select(host_key_udf(F.col("url")).alias("hk"), "body")
                .collect()
            )
            bodies = {
                r["hk"]: bytes(r["body"]).decode("utf-8", errors="replace")
                for r in rows
                if r["hk"] is not None and r["body"] is not None
            }
        if cfg.fetch_mode != "http":
            return cls(spark, cfg.robots_agent, bodies)
        return cls(
            spark, cfg.robots_agent, bodies,
            max_hosts=cfg.robots_cache_max_hosts,
            fetch=dict(
                max_redirects=cfg.max_redirects, timeout=cfg.http_timeout,
                concurrency=cfg.http_concurrency,
            ),
        )

    def _add(self, bodies: dict[str, str]) -> None:
        """Parse each new body once into ``delays`` and ``held``; spill the
        oldest held rules past ``max_hosts``; re-broadcast."""
        if not bodies:
            return
        for hk in sorted(bodies):
            rules = parse_robots(bodies[hk], self.agent)
            self._known.add(hk)
            if rules.crawl_delay:
                self.delays[hk] = rules.crawl_delay
            if rules.rules:
                self.held[hk] = rules
        if self.max_hosts is not None and len(self.held) > self.max_hosts:
            from .session import local_frame

            evicted = list(self.held)[: len(self.held) - self.max_hosts]
            if self.spill_dir is None:
                self.spill_dir = tempfile.mkdtemp(prefix="wcm_robots_spill_")
            local_frame(
                self.spark,
                [(hk, json.dumps(self.held.pop(hk).rules)) for hk in evicted],
                SPILL_SCHEMA,
            ).write.mode("append").parquet(self.spill_dir)
            self._spilled.update(evicted)
        if self._bc is not None:
            self._bc.unpersist()
        self._bc = self.spark.sparkContext.broadcast(
            {"agent": self.agent, "rules": {hk: r.rules for hk, r in self.held.items()}}
        )

    def _learn(self, hosts: set[str]) -> None:
        """Fetch robots.txt for ``hosts`` (live mode), one wave of requests."""
        if not hosts:
            return
        from pyspark.sql import functions as F

        from .session import local_frame
        from .sources.httpfetch import http_fetch_wave

        self._known |= hosts
        requests = local_frame(
            self.spark,
            [
                (i, 0, 0, 0, None, None, hk, None, None, None,
                 hk + "/robots.txt", hk + "/robots.txt")
                for i, hk in enumerate(sorted(hosts))
            ],
            _REQUEST_SCHEMA,
        )
        got = (
            http_fetch_wave(requests, user_agent=self.agent, **self._fetch)
            .filter(F.col("status") == 200)
            .select("host_key", "body")
            .collect()
        )
        self._add({
            r["host_key"]: bytes(r["body"]).decode("utf-8", errors="replace")
            for r in got
            if r["body"]
        })

    def allowed(self, df, name: str = "allowed"):
        """``df`` plus a boolean column ``name``: robots allows the row's
        ``url`` on its ``host_key``."""
        from pyspark.sql import functions as F

        if self._bc is None:
            return df.withColumn(name, F.lit(True))
        src, spilled = df, F.lit(None).cast("string")
        if self.spill_dir is not None:
            spill = self.spark.read.schema(SPILL_SCHEMA).parquet(self.spill_dir)
            src, spilled = df.join(spill, "host_key", "left"), F.col("robots_rules")
        check = _allowed_udf(self._bc)(F.col("host_key"), F.col("url"), spilled)
        # the using-column join moves host_key first; keep df's schema
        return src.select(*df.columns, check.alias(name))

    def filter(self, df):
        """The rows of ``df`` robots allows; ``df`` itself while no rules
        are known."""
        if self._bc is None:
            return df
        return self.allowed(df, "__robots_ok").filter("__robots_ok").drop("__robots_ok")

    def filter_wave(self, wave, hosts=None):
        """The fetch-time gate: in live mode, first learn robots.txt for
        the wave's hosts not seen before (``hosts``: a known superset of
        the wave's host keys, else one distinct-collect over the wave),
        then ``filter``. A row whose host's rules were unknown at enqueue
        is dropped here, before any socket opens."""
        if self._fetch is not None:
            if hosts is None:
                hosts = {
                    r["host_key"]
                    for r in wave.select("host_key").distinct().collect()
                    if r["host_key"]
                }
            self._learn(set(hosts) - self._known)
        return self.filter(wave)

    def close(self) -> None:
        """Delete the spill. Its hosts count as unknown again, so a later
        crawl on this gate fetches their robots.txt anew."""
        if self.spill_dir is not None:
            shutil.rmtree(self.spill_dir, ignore_errors=True)
            self.spill_dir = None
            self._known -= self._spilled
            self._spilled.clear()
