"""Per-wave upkeep of the crawl loop: the seen mirror→bloom hand-off, the
commit order that makes the frontier commit the commit point, and the
number of Spark jobs a polite durable wave launches."""

import pytest

import wcm_spark.scheduler as scheduler
from wcm_spark.corpus import corpus_df as make_corpus
from wcm_spark.corpus import seed_urls
from wcm_spark.scheduler import CrawlConfig, Crawler
from wcm_spark.store import TableStore

N_SITES, PAGES = 2, 8
POLITE = dict(expected_urls=10_000, max_conn_per_host=3)


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
    """A use_bloom crawl whose exact seen mirror is outgrown mid-crawl
    builds the bloom exactly once, at the hand-off, and crawls exactly
    like the default run, which never builds one."""
    calls = []
    build = scheduler.build_bloom

    def counting_build(*args, **kw):
        calls.append(1)
        return build(*args, **kw)

    monkeypatch.setattr(scheduler, "build_bloom", counting_build)
    base = Crawler(spark, corpus, CrawlConfig(**POLITE)).run(seed_urls(N_SITES))
    base_rows = _visit_rows(base.visits)
    assert len(calls) == 0

    # the mirror holds every digest until the last wave that enqueues,
    # which pushes it one past broadcast_seen_max; later waves still fetch
    # and probe through the anti-join
    n_seen = len(_digests(base.seen))
    last_enqueue = max(m["wave"] for m in base.metrics if m["enqueued"])
    assert last_enqueue < base.waves
    handoff = Crawler(
        spark, corpus,
        CrawlConfig(**POLITE, use_bloom=True, broadcast_seen_max=n_seen - 1),
    ).run(seed_urls(N_SITES))
    assert _visit_rows(handoff.visits) == base_rows
    assert _digests(handoff.seen) == _digests(base.seen)
    assert len(calls) == 1


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


# Spark jobs of one polite durable crawl: set-up (seed and seen
# checkpoints, the run's and the loop's frontier count, the seen-mirror
# collect) plus, per wave, the wave-cut checkpoint, the heavy checkpoint,
# the next-frontier checkpoint and four table writes (visits, seen,
# metrics, frontier), plus the fresh-digest collect on waves that enqueue
SETUP_JOBS = 5
JOBS_PER_WAVE = 7


def test_polite_durable_wave_job_count(spark, tmp_path):
    """Pins the Spark jobs the loop's own actions launch. Auto-broadcast
    is off in this session: a broadcast-hash join launches a job of its
    own, and whether the planner picks one depends on the cache state of
    the corpus, not on the loop."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    corpus = make_corpus(ns, N_SITES, PAGES).cache()
    cfg = CrawlConfig(**POLITE, checkpoint_dir=str(tmp_path / "ckpt"), commit_every=1)
    sc = ns.sparkContext
    group = "test-polite-durable-jobs"
    sc.setJobGroup(group, group)
    try:
        res = Crawler(ns, corpus, cfg).run(seed_urls(N_SITES))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    enqueuing = sum(1 for m in res.metrics if m["enqueued"])
    want = SETUP_JOBS + JOBS_PER_WAVE * res.waves + enqueuing
    print(f"polite durable crawl: {jobs} jobs over {res.waves} waves "
          f"({(jobs - SETUP_JOBS) / res.waves:.2f} per wave)")
    assert jobs == want, f"{jobs} jobs over {res.waves} waves, want {want}"
