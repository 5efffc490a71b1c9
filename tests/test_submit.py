"""North-rule launch evidence: the engine must run under a REAL
``spark-submit --py-files`` (BASELINE.json north_star: "launched via
spark-submit --py-files") and under a stock session whose SQL confs the
engine does not control (Spark 4 defaults AQE on).

The reference analog is simply running the installed module
(WWW::Crawler::Mojo's synopsis crawl); here the deployment shape itself
is part of the rule, so it gets its own e2e.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_crawl_under_stock_aqe_session(spark):
    """AQE on (the stock Spark 4 default) must not break the fused drain
    wave: Observation.get of the checkpointed wave plan comes back
    malformed under AQE (PythonSQLUtils.toPyRow assertion, Spark 4.1.2 —
    reproduced at this exact scale), and the scheduler recounts buckets
    from the pinned blocks instead. Visit set + POS ORDERING must match
    the AQE-off run exactly (north rule: identical visit ordering under
    identical seeds)."""
    from wcm_spark.corpus import corpus_df, seed_urls
    from wcm_spark.scheduler import CrawlConfig, Crawler

    ns = spark.newSession()
    ns.conf.set("spark.sql.adaptive.enabled", "true")
    cfg = CrawlConfig()
    res = Crawler(ns, corpus_df(ns, 2, 6).cache(), cfg).run(seed_urls(2))
    base = Crawler(spark, corpus_df(spark, 2, 6).cache(), cfg).run(
        seed_urls(2)
    )
    got = [
        (r["pos"], r["url"], r["wave"])
        for r in res.visits.orderBy("pos").collect()
    ]
    want = [
        (r["pos"], r["url"], r["wave"])
        for r in base.visits.orderBy("pos").collect()
    ]
    assert got == want
    assert res.fetched == base.fetched


@pytest.mark.skipif(
    shutil.which("spark-submit") is None
    and not os.path.exists("/opt/spark/bin/spark-submit"),
    reason="no spark-submit on this machine",
)
def test_spark_submit_py_files_launch(tmp_path):
    """The literal deployment command from the north rule: package
    wcm_spark into a zip, launch submit_main.py from OUTSIDE the repo via
    spark-submit --py-files against a stock (conf-free) session, and
    check the crawl drains with the expected wave metrics and writes the
    visit log."""
    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    pkg = tmp_path / "wcm_spark.zip"
    with zipfile.ZipFile(pkg, "w") as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO, "wcm_spark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    workdir = tmp_path / "iso"  # not the repo: only the zip provides code
    workdir.mkdir()
    shutil.copy(os.path.join(REPO, "submit_main.py"), workdir)
    out_dir = tmp_path / "visits.parquet"
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            submit,
            "--master",
            "local[4]",
            "--py-files",
            str(pkg),
            "submit_main.py",
            "--sites",
            "2",
            "--pages",
            "6",
            "--output",
            str(out_dir),
        ],
        cwd=workdir,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rec["waves"] == 3
    assert rec["fetched"] == 25  # 2-site/6-page corpus drains to 25 visits
    assert rec["metrics_tail"][-1]["pending"] == 0
    assert any(f.endswith(".parquet") for f in os.listdir(out_dir))


# A fresh application: get_spark (which warms the worker pool), one
# list-seeded crawl whose resting hosts build a host-state frame, then a
# count of the pyspark.daemon processes among this process's own
# descendants. A forked worker inherits its daemon's command line, so a
# daemon is a pyspark.daemon process whose parent is not one.
_ONE_POOL = r"""
import json, os
from wcm_spark.session import get_spark
from wcm_spark.corpus import corpus_df, seed_urls
from wcm_spark.scheduler import Crawler, CrawlConfig

spark = get_spark("one-pool", cpus=2, shuffle_partitions=2)
res = Crawler(
    spark, corpus_df(spark, 2, 4).cache(),
    CrawlConfig(min_delay_waves=1, max_conn_per_host=2),
).run(seed_urls(2))
visits = res.visits.count()

def is_daemon(pid):
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return b"pyspark.daemon" in f.read().split(b"\0")

def children(pid):
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/children") as f:
            out += [int(c) for c in f.read().split()]
    return out

daemons, stack = 0, [(os.getpid(), False)]
while stack:
    pid, parent_is_daemon = stack.pop()
    try:
        for kid in children(pid):
            d = is_daemon(kid)
            daemons += d and not parent_is_daemon
            stack.append((kid, d))
    except FileNotFoundError:  # exited while walked
        pass
print(json.dumps({"daemons": daemons, "visits": visits, "waves": res.waves}))
spark.stop()
"""


@pytest.mark.skipif(
    not os.path.exists(f"/proc/self/task/{os.getpid()}/children"),
    reason="no /proc children lists on this kernel",
)
def test_list_seeded_crawl_runs_one_worker_pool():
    """Every driver-side frame is a JVM local relation, so a list-seeded
    crawl (seeds, host state, metrics) runs in the one Python worker pool
    the session warmed: exactly one pyspark.daemon in the application."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env.pop("WCM_POOL_WARM", None)
    proc = subprocess.run(
        [sys.executable, "-c", _ONE_POOL],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rec["visits"] > 0 and rec["waves"] > 2
    assert rec["daemons"] == 1, rec
