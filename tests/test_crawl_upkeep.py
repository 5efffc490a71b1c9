"""Per-wave upkeep of the crawl loop: the seen mirror→bloom hand-off, the
durable commit (staged tables concurrently, the frontier last as the
commit point, the metrics table's schema, the compaction cadence across
resumes) and the number of Spark jobs a polite durable crawl launches."""

import dataclasses
import os
import threading

import pytest

import wcm_spark.operators.dedup as dedup
import wcm_spark.scheduler as scheduler
from wcm_spark.corpus import corpus_df as make_corpus
from wcm_spark.corpus import seed_urls
from wcm_spark.scheduler import CrawlConfig, Crawler
from wcm_spark.store import TableStore

N_SITES, PAGES = 2, 8
POLITE = dict(max_conn_per_host=3)
STAGED = ("visits", "seen", "metrics")


@pytest.fixture(scope="module")
def corpus(spark):
    return make_corpus(spark, N_SITES, PAGES).cache()


def _visit_rows(visits):
    return [
        (r["pos"], r["wave"], r["seq"], r["url"])
        for r in visits.select("pos", "wave", "seq", "url").orderBy("pos").collect()
    ]


def _digests(seen):
    return {r["digest"] for r in seen.collect()}


def test_mirror_to_bloom_hand_off(spark, corpus, monkeypatch):
    """A crawl whose exact seen mirror is outgrown mid-crawl builds the
    bloom once, at the hand-off, prefilters every later wave's anti-join
    with it, and crawls exactly like the default run, which never builds
    one."""
    builds, prefilters = [], []
    build, prefilter = dedup.build_bloom, dedup.bloom_prefilter

    def counting_build(*args, **kw):
        builds.append(1)
        return build(*args, **kw)

    def counting_prefilter(*args, **kw):
        prefilters.append(1)
        return prefilter(*args, **kw)

    monkeypatch.setattr(dedup, "build_bloom", counting_build)
    monkeypatch.setattr(dedup, "bloom_prefilter", counting_prefilter)
    base = Crawler(spark, corpus, CrawlConfig(**POLITE)).run(seed_urls(N_SITES))
    base_rows = _visit_rows(base.visits)
    assert not builds and not prefilters

    # the mirror holds every digest until the last wave that enqueues,
    # which pushes it one past broadcast_seen_max; later waves still fetch
    # and probe through the anti-join
    n_seen = len(_digests(base.seen))
    last_enqueue = max(m["wave"] for m in base.metrics if m["enqueued"])
    assert last_enqueue < base.waves
    handoff = Crawler(
        spark, corpus, CrawlConfig(**POLITE, broadcast_seen_max=n_seen - 1),
    ).run(seed_urls(N_SITES))
    assert _visit_rows(handoff.visits) == base_rows
    assert _digests(handoff.seen) == _digests(base.seen)
    assert len(builds) == 1
    assert len(prefilters) == handoff.waves - last_enqueue


def test_crawl_destroys_its_broadcasts(spark, corpus, seen_max):
    """Every seen broadcast a crawl makes is destroyed by the time ``run``
    returns (a replaced mirror piece or bloom at once, the rest at
    close), so the driver's broadcast files do not pile up across
    crawls."""
    temp_dir = spark.sparkContext._temp_dir
    before = sorted(os.listdir(temp_dir))
    res = Crawler(
        spark, corpus, CrawlConfig(**POLITE, broadcast_seen_max=seen_max)
    ).run(seed_urls(N_SITES))
    assert res.waves > 1
    assert sorted(os.listdir(temp_dir)) == before


def _checkpoint_pins(sc) -> set:
    rdds = sc._jsc.getPersistentRDDs()
    return {k for k in rdds.keys() if rdds[k].rdd().isLocallyCheckpointed()}


def test_crawl_leaves_only_the_pins_its_results_read(spark, corpus, seen_max):
    """Once a wave's next frontier is pinned, its wave-cut pin and the old
    frontier are dropped (the last frontier when the loop ends). A 7-wave
    polite crawl leaves one heavy checkpoint per wave (the visits read
    them), the seen base (the seen frame reads it) and the redirect
    closure (the crawler holds it). With the mirror off, each wave's
    anti-join also leaves a lazy pin of its bloom-positive
    candidates, which nothing references once the wave's heavy checkpoint
    ran, so Spark's context cleaner reclaims it at some later JVM GC: only
    bounds hold for those. Set ids, not counts: the cleaner may drop
    earlier crawls' unreferenced pins meanwhile."""
    sc = spark.sparkContext
    corpus.count()
    before = _checkpoint_pins(sc)
    crawler = Crawler(spark, corpus, CrawlConfig(**POLITE, broadcast_seen_max=seen_max))
    res = crawler.run(seed_urls(N_SITES))
    left = len(_checkpoint_pins(sc) - before)
    assert res.waves == 7
    kept = res.waves + 2
    if seen_max == 0:
        assert kept <= left <= kept + res.waves
    else:
        assert left == kept
    # every pin the returned frames read is still there
    assert res.visits.count() == res.seen.count() == 35


def _durable_visits(spark, cfg):
    return sorted(
        tuple(r) for r in Crawler.read_visits(spark, cfg)
        .select("wave", "seq", "url").collect()
    )


@pytest.fixture(scope="module")
def uninterrupted(spark, corpus, tmp_path_factory):
    cfg = CrawlConfig(**POLITE, checkpoint_dir=str(tmp_path_factory.mktemp("full")))
    res = Crawler(spark, corpus, cfg).run(seed_urls(N_SITES))
    return _durable_visits(spark, cfg), _digests(res.seen)


@pytest.mark.parametrize("crash_before", range(4))
def test_crash_mid_commit_resumes_exactly(
    spark, corpus, uninterrupted, tmp_path, monkeypatch, crash_before
):
    """A crash before any of wave 2's four table commits (visits, seen,
    metrics, frontier) resumes to the uninterrupted crawl's durable
    visits and seen set: the frontier commit is the commit point, and a
    seen delta staged past it is not read back."""
    want_visits, want_seen = uninterrupted
    commit = TableStore.commit
    wave2 = []

    def crashing_commit(self, name, df, mode="append", meta=None):
        if (meta or {}).get("wave") == 2:
            if len(wave2) == crash_before:
                raise RuntimeError(f"crash before wave 2 {name} commit")
            wave2.append(name)
        return commit(self, name, df, mode=mode, meta=meta)

    cfg = CrawlConfig(**POLITE, checkpoint_dir=str(tmp_path / "crashed"))
    monkeypatch.setattr(TableStore, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="crash before wave 2"):
        Crawler(spark, corpus, cfg).run(seed_urls(N_SITES))
    monkeypatch.setattr(TableStore, "commit", commit)

    resumed = Crawler.resume(spark, corpus, cfg)
    assert _durable_visits(spark, cfg) == want_visits
    assert _digests(resumed.seen) == want_seen
    assert _digests(TableStore(cfg.checkpoint_dir).read(spark, "seen")) == want_seen


@pytest.mark.parametrize("table", STAGED)
def test_staged_write_failure_keeps_frontier(
    spark, corpus, uninterrupted, tmp_path, monkeypatch, table
):
    """Wave 2's staged write to ``table`` fails while the other two land:
    the run raises, the frontier still holds wave 1, and a resume ends
    with the uninterrupted crawl's durable visits and seen set."""
    want_visits, want_seen = uninterrupted
    commit = TableStore.commit
    landed = []

    def failing_commit(self, name, df, mode="append", meta=None):
        wave2 = (meta or {}).get("wave") == 2
        if wave2 and name == table:
            raise RuntimeError(f"wave 2 {name} write failed")
        version = commit(self, name, df, mode=mode, meta=meta)
        if wave2:
            landed.append(name)
        return version

    cfg = CrawlConfig(**POLITE, checkpoint_dir=str(tmp_path / "failed"))
    monkeypatch.setattr(TableStore, "commit", failing_commit)
    with pytest.raises(RuntimeError, match=f"wave 2 {table} write failed"):
        Crawler(spark, corpus, cfg).run(seed_urls(N_SITES))
    monkeypatch.setattr(TableStore, "commit", commit)
    assert sorted(landed) == sorted(set(STAGED) - {table})
    store = TableStore(cfg.checkpoint_dir)
    assert store.latest_meta("frontier")["wave"] == 1

    resumed = Crawler.resume(spark, corpus, cfg)
    assert _durable_visits(spark, cfg) == want_visits
    assert _digests(resumed.seen) == want_seen
    assert _digests(store.read(spark, "seen")) == want_seen


def test_staged_writes_overlap_frontier_last(spark, corpus, tmp_path, monkeypatch):
    """Each wave's three staged writes run at the same time: each waits on
    a 3-party barrier, which times out if they run one after another. The
    frontier write starts only after all three have returned."""
    commit = TableStore.commit
    barrier = threading.Barrier(3, timeout=30)
    lock = threading.Lock()
    events = []

    def traced_commit(self, name, df, mode="append", meta=None):
        wave = meta["wave"]
        if name in STAGED:
            barrier.wait()
        with lock:
            events.append(("start", wave, name))
        version = commit(self, name, df, mode=mode, meta=meta)
        with lock:
            events.append(("end", wave, name))
        return version

    cfg = CrawlConfig(**POLITE, checkpoint_dir=str(tmp_path / "ckpt"))
    monkeypatch.setattr(TableStore, "commit", traced_commit)
    res = Crawler(spark, corpus, cfg).run(seed_urls(N_SITES))
    assert res.waves > 1
    for w in range(1, res.waves + 1):
        wave = [(kind, name) for kind, ew, name in events if ew == w]
        assert len(wave) == 8, wave
        front = wave.index(("start", "frontier"))
        assert {n for k, n in wave[:front] if k == "end"} == set(STAGED), wave


def test_shuffle_every_keeps_sets_and_unique_seqs(spark, corpus, monkeypatch):
    """F5 re-sequencing (``shuffle_every``) changes the order pending rows
    are cut in, never what the crawl reaches: a polite crawl re-sequenced
    every 2 waves fetches the FIFO crawl's visit set and ends with its
    seen set. Each re-sequenced frontier keeps its seqs unique, and every
    seq it re-issues is at least the ``next_seq`` at that wave."""
    issued = []
    assign = scheduler.assign_seq

    def recording_assign(df, order_cols, out_col="seq", start=0, **kw):
        out = assign(df, order_cols, out_col=out_col, start=start, **kw)
        issued.append((start, [r[out_col] for r in out.select(out_col).collect()]))
        return out

    monkeypatch.setattr(scheduler, "assign_seq", recording_assign)
    fifo = Crawler(spark, corpus, CrawlConfig(**POLITE)).run(seed_urls(N_SITES))
    assert issued == []
    shuffled = Crawler(
        spark, corpus, CrawlConfig(**POLITE, shuffle_every=2)
    ).run(seed_urls(N_SITES))
    assert shuffled.waves >= 4 and len(issued) >= 2

    def urls(res):
        return {r["url"] for r in res.visits.select("url").collect()}

    assert urls(shuffled) == urls(fifo)
    assert _digests(shuffled.seen) == _digests(fifo.seen)
    for next_seq, seqs in issued:
        assert len(set(seqs)) == len(seqs)
        assert min(seqs, default=next_seq) >= next_seq
    visit_seqs = [r["seq"] for r in shuffled.visits.select("seq").collect()]
    assert len(set(visit_seqs)) == len(visit_seqs)


def test_durable_metrics_round_trip(spark, corpus, tmp_path):
    """After a run and its resume, the durable metrics table holds exactly
    the per-wave metrics both calls returned, with long counters and a
    double ``sec``."""
    cfg = CrawlConfig(**POLITE, checkpoint_dir=str(tmp_path / "ckpt"), max_waves=2)
    first = Crawler(spark, corpus, cfg).run(seed_urls(N_SITES))
    rest = Crawler.resume(spark, corpus, dataclasses.replace(cfg, max_waves=None))
    durable = TableStore(cfg.checkpoint_dir).read(spark, "metrics")
    assert {f.name: f.dataType.typeName() for f in durable.schema} == {
        "enqueued": "long", "fetched": "long", "pending": "long",
        "sec": "double", "skipped": "long", "wave": "long",
    }
    rows = sorted((r.asDict() for r in durable.collect()), key=lambda m: m["wave"])
    assert rows == first.metrics + rest.metrics


def test_compaction_cadence_survives_resume(spark, corpus, tmp_path):
    """The compaction cadence counts every commit of the crawl: with
    ``compact_every_commits=3``, a run of 2 commits resumed for 4 more
    compacts at commits 3 and 6, so the visits table ends on a compaction
    snapshot (a per-instance count would compact at commit 5 only)."""
    cfg = CrawlConfig(
        **POLITE, checkpoint_dir=str(tmp_path / "ckpt"),
        compact_every_commits=3, max_waves=2,
    )
    Crawler(spark, corpus, cfg).run(seed_urls(N_SITES))
    store = TableStore(cfg.checkpoint_dir)
    assert store.latest_meta("frontier")["commits"] == 2
    rest = Crawler.resume(spark, corpus, dataclasses.replace(cfg, max_waves=4))
    assert len(rest.metrics) == 4
    assert store.snapshots("visits")[-1]["mode"] == "compact"
    assert store.latest_meta("frontier")["commits"] == 6


# Spark jobs of one polite durable crawl, counted in the caller's job
# group (the staged writes run on threads that inherit it). Set-up: the
# frontier checkpoint with its count and first-wave facts observed, the seen
# checkpoint and the seen-mirror collect. Per wave: the wave-cut
# checkpoint, the heavy checkpoint, the next-frontier checkpoint and four
# table writes (visits, seen, metrics, frontier), plus the fresh-digest
# collect on waves that enqueue. A resume's set-up adds the two store
# reads' parquet schema jobs (frontier, seen) to the same three. A
# queue-capped crawl launches the same: its cap room is the exact carry.
SETUP_JOBS = 3
RESUME_SETUP_JOBS = 5
JOBS_PER_WAVE = 7


@pytest.fixture(scope="module")
def no_broadcast(spark):
    """A session with auto-broadcast off and its own cached corpus: a
    broadcast-hash join launches a job of its own, and whether the planner
    picks one depends on the cache state of the corpus, not on the loop."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return ns, make_corpus(ns, N_SITES, PAGES).cache()


def _jobs_in_group(ns, group, fn):
    sc = ns.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def _want_jobs(setup, metrics):
    enqueuing = sum(1 for m in metrics if m["enqueued"])
    return setup + JOBS_PER_WAVE * len(metrics) + enqueuing


def test_polite_durable_wave_job_count(no_broadcast, tmp_path):
    """Pins the Spark jobs the loop's own actions launch in a run."""
    ns, corpus = no_broadcast
    cfg = CrawlConfig(**POLITE, checkpoint_dir=str(tmp_path / "ckpt"), commit_every=1)
    res, jobs = _jobs_in_group(
        ns, "test-run-jobs", lambda: Crawler(ns, corpus, cfg).run(seed_urls(N_SITES))
    )
    want = _want_jobs(SETUP_JOBS, res.metrics)
    print(f"polite durable crawl: {jobs} jobs over {res.waves} waves "
          f"({(jobs - SETUP_JOBS) / res.waves:.2f} per wave)")
    assert jobs == want, f"{jobs} jobs over {res.waves} waves, want {want}"


def test_capped_durable_wave_job_count(no_broadcast, tmp_path):
    """A queue-capped crawl launches the polite crawl's jobs: the cap's
    room comes from the exact carry, so the cap costs no count job."""
    ns, corpus = no_broadcast
    cfg = CrawlConfig(
        cap=6, max_conn=4,
        checkpoint_dir=str(tmp_path / "ckpt"), commit_every=1,
    )
    res, jobs = _jobs_in_group(
        ns, "test-capped-jobs", lambda: Crawler(ns, corpus, cfg).run(seed_urls(N_SITES))
    )
    assert res.waves > 2
    want = _want_jobs(SETUP_JOBS, res.metrics)
    assert jobs == want, f"{jobs} jobs over {res.waves} waves, want {want}"


def test_polite_durable_resume_job_count(no_broadcast, tmp_path):
    """Pins the Spark jobs a resume launches, next to the run's."""
    ns, corpus = no_broadcast
    cfg = CrawlConfig(**POLITE, checkpoint_dir=str(tmp_path / "ckpt"), max_waves=2)
    Crawler(ns, corpus, cfg).run(seed_urls(N_SITES))
    rest, jobs = _jobs_in_group(
        ns, "test-resume-jobs",
        lambda: Crawler.resume(ns, corpus, dataclasses.replace(cfg, max_waves=None)),
    )
    assert len(rest.metrics) > 1
    want = _want_jobs(RESUME_SETUP_JOBS, rest.metrics)
    assert jobs == want, f"{jobs} jobs over {len(rest.metrics)} waves, want {want}"
