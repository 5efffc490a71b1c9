"""Driver-side frames are JVM local relations, so an application runs one
Python worker pool.

``createDataFrame`` of a Python list analyzes to a ``LogicalRDD`` over a
PythonRDD, whose evaluation forks a second ``pyspark.daemon``;
``wcm_spark.session.local_frame`` builds through an Arrow table, which
analyzes to a ``LocalRelation`` and needs no Python worker. These tests pin
that every engine builder of a driver-side frame goes through it, and that
no other ``createDataFrame`` call can creep back into the package."""

import ast
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "wcm_spark")


def _leaves(df) -> list[str]:
    """Node names of the leaves of ``df``'s analyzed plan."""
    seq = df._jdf.queryExecution().analyzed().collectLeaves()
    return sorted(seq.apply(i).nodeName() for i in range(seq.size()))


def _local(df) -> bool:
    leaves = _leaves(df)
    return bool(leaves) and set(leaves) == {"LocalRelation"}


@pytest.fixture()
def built(monkeypatch):
    """Every frame ``local_frame`` builds while the test runs, as
    (ddl, row count, frame), recorded in each module that calls it."""
    import wcm_spark.frontier
    import wcm_spark.operators.seq
    import wcm_spark.scheduler
    import wcm_spark.session

    real = wcm_spark.session.local_frame
    out = []

    def record(spark, rows, ddl):
        rows = list(rows)
        df = real(spark, rows, ddl)
        out.append((ddl, len(rows), df))
        return df

    for mod in (wcm_spark.session, wcm_spark.scheduler, wcm_spark.frontier,
                wcm_spark.operators.seq):
        monkeypatch.setattr(mod, "local_frame", record)
    return out


def test_no_create_dataframe_outside_local_frame():
    """The one-pool guard: ``createDataFrame(`` appears in the package only
    inside ``session.local_frame``."""
    session_py = os.path.join(PKG, "session.py")
    fn = next(
        n for n in ast.parse(open(session_py).read()).body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    allowed = range(fn.lineno, fn.end_lineno + 1)
    stray = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            for no, line in enumerate(open(path), 1):
                if re.search(r"createDataFrame\(", line) and not (
                    path == session_py and no in allowed
                ):
                    stray.append(f"{os.path.relpath(path, REPO)}:{no}")
    assert not stray, f"createDataFrame outside local_frame: {stray}"


@pytest.mark.parametrize("n", [0, 3])
def test_local_frame_is_a_local_relation(spark, n):
    from wcm_spark.session import local_frame

    ddl = "a long, b string, c array<string>, d binary"
    rows = [(i, None if i % 2 else str(i), ["x"], bytearray(b"\x00\x01"))
            for i in range(n)]
    df = local_frame(spark, rows, ddl)
    assert _leaves(df) == ["LocalRelation"]
    assert df.schema == spark.createDataFrame(rows, ddl).schema
    assert [tuple(r) for r in df.collect()] == [
        (i, None if i % 2 else str(i), ["x"], b"\x00\x01") for i in range(n)
    ]


@pytest.mark.parametrize(
    "seeds",
    [
        [],
        ["http://site0.test/", "http://site1.test/a", "http://site0.test/",
         "http://u:p@site1.test/b", "ftp://files.test/x", "ws://sock.test/"],
    ],
    ids=["empty", "dup_userinfo_nonhttp"],
)
def test_seed_frontier_is_local_and_matches_row_path(spark, seeds):
    """The seed frontier is a local relation, and its rows, types and
    nullability are what the Python-rows route gives the same rows."""
    from pyspark.sql import functions as F

    from wcm_spark.corpus import corpus_df
    from wcm_spark.functions.core import host_salt_col
    from wcm_spark.scheduler import PENDING_COLS, Crawler, CrawlConfig

    cfg = CrawlConfig()
    c = Crawler(spark, corpus_df(spark, 1, 2), cfg)
    got = c._seed_frontier(seeds)
    assert _local(got)
    rows = [tuple(r) for r in got.drop("host_salt").collect()]
    order = [c for c in PENDING_COLS if c != "host_salt"]
    assert len(rows) == len(seeds) - (1 if seeds else 0)  # one duplicate
    ddl_cols = [s.split()[0] for s in Crawler._SEED_SCHEMA.split(", ")]
    want = (
        spark.createDataFrame(
            [tuple(dict(zip(order, r))[k] for k in ddl_cols) for r in rows],
            Crawler._SEED_SCHEMA,
        )
        .withColumn("host_salt", host_salt_col(F.col("host_key"), cfg.salts))
        .select(*PENDING_COLS)
    )
    assert got.schema == want.schema  # nullability included
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_empty_visits_is_local(spark):
    from wcm_spark.corpus import corpus_df
    from wcm_spark.scheduler import Crawler

    c = Crawler(spark, corpus_df(spark, 1, 2))
    assert _local(c._empty_visits())


@pytest.mark.parametrize("n", [0, 2])
def test_metrics_frame_is_local_with_the_durable_schema(spark, n):
    """The wave metrics rows: non-null longs and a double ``sec``, the
    schema earlier commits gave the durable metrics table."""
    from wcm_spark.scheduler import METRICS_SCHEMA
    from wcm_spark.session import local_frame

    rows = [dict(enqueued=i, fetched=2, pending=3, sec=0.5, skipped=0, wave=i)
            for i in range(n)]
    df = local_frame(spark, rows, METRICS_SCHEMA)
    assert _local(df)
    assert df.schema.simpleString() == (
        "struct<enqueued:bigint,fetched:bigint,pending:bigint,sec:double,"
        "skipped:bigint,wave:bigint>"
    )
    assert not any(f.nullable for f in df.schema.fields)
    assert [r.asDict() for r in df.collect()] == rows


def test_credentials_frame_is_local(spark, built):
    from pyspark.sql import functions as F

    from wcm_spark.corpus import corpus_df
    from wcm_spark.scheduler import Crawler, CrawlConfig

    c = Crawler(spark, corpus_df(spark, 1, 2),
                CrawlConfig(credentials={"http://h.x": "u:p"}))
    wave = spark.range(1).select(
        F.lit("http://h.x/a").alias("url"), F.lit("http://h.x").alias("host_key")
    )
    out = c._with_credentials(wave)
    assert [(d, n) for d, n, _ in built] == [("cred_host string, userinfo string", 1)]
    assert _local(built[0][2])
    assert set(_leaves(out)) == {"LocalRelation", "Range"}


def test_host_state_and_wave_frames_are_local(spark, built):
    """A resting-host crawl's first ``host_state`` is an empty local
    relation, and every frame the crawl builds from driver rows (seeds,
    host state, metrics) is one too."""
    from wcm_spark.corpus import corpus_df, seed_urls
    from wcm_spark.scheduler import Crawler, CrawlConfig

    corpus = corpus_df(spark, 2, 4).cache()
    res = Crawler(
        spark, corpus, CrawlConfig(min_delay_waves=1, max_conn_per_host=2, max_waves=2)
    ).run(seed_urls(2))
    assert res.waves == 2
    ddls = [d for d, _, _ in built]
    assert "host_key string, last_wave int, rest_until int" in ddls
    assert Crawler._SEED_SCHEMA in ddls
    for ddl, _n, df in built:
        assert _local(df), ddl


@pytest.mark.parametrize("n", [0, 40])
def test_assign_seq_offsets_are_local(spark, built, n):
    from pyspark.sql import functions as F

    from wcm_spark.operators.seq import assign_seq

    df = spark.range(n).select((F.col("id") * 7 % 11).alias("k"))
    out = assign_seq(df, ["k"])
    assert [(d, _local(f)) for d, _, f in built] == [("__pid int, __off long", True)]
    # the offsets join the range exchange's checkpoint: one of each leaf
    assert _leaves(out) == ["LocalRelation", "LogicalRDD"]
    assert sorted(r["seq"] for r in out.collect()) == list(range(n))


def test_robots_spill_and_requests_are_local(spark, built):
    from wcm_spark.robots import RobotsGate

    gate = RobotsGate(
        spark,
        bodies={
            "http://a.x": "User-agent: *\nDisallow: /p/\n",
            "http://b.x": "User-agent: *\nDisallow: /q/\n",
        },
        max_hosts=1,
        fetch={"timeout": 1.0, "concurrency": 1},
    )
    try:
        assert gate.spill_dir is not None
        # a closed local port: the request fails fast, nothing is learned
        gate._learn({"http://127.0.0.1:9"})
    finally:
        gate.close()
    from wcm_spark.robots import _REQUEST_SCHEMA, SPILL_SCHEMA

    assert [(d, n) for d, n, _ in built] == [(SPILL_SCHEMA, 1), (_REQUEST_SCHEMA, 1)]
    for _d, _n, df in built:
        assert _local(df)


def test_frontier_frames_are_local(spark):
    from wcm_spark.frontier import Frontier

    f = Frontier(spark)
    assert _local(f._df)
    assert f.enqueue("http://a.x/1") and f.enqueue("http://a.x/2")
    f._flush()
    assert _local(f._df)
    assert f.length() == 2


def test_corpus_tasks_are_local(spark):
    from wcm_spark.corpus import corpus_df_sized

    df = corpus_df_sized(spark, [3, 2], with_images=False)
    assert _leaves(df) == ["LocalRelation"]
    assert df.count() > 0


def test_driver_signal_queries_are_local(spark):
    from wcm_spark.datapipe.queries import _q_form_weave, _resolve_spark

    assert _leaves(_resolve_spark(spark, None)) == ["LocalRelation"]
    assert _leaves(_q_form_weave(spark, None)) == ["LocalRelation"]
