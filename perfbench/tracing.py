"""Spans and layer counts for the traced benchmark run.

Every span comes from this file: the tracer swaps in wrappers around the
engine's public entry points (``Crawler.run``/``resume``,
``TableStore.commit``/``read``, the ``build_bloom`` and ``assign_seq``
names that ``wcm_spark.scheduler`` imports, ``SparkContext.broadcast`` and
the pyspark actions) and restores the originals on ``uninstall``; the
query sweep opens its spans through ``Tracer.call``. Each span sets a
Spark job group named after it, so the stage metrics the status store
collects can be attributed to the layer that launched them. The engine's
code is not modified.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict

# pyspark entry points that block the driver until a Spark job finishes
ACTIONS = {
    "DataFrame": ["count", "collect", "toPandas", "localCheckpoint", "take",
                  "head", "first", "isEmpty"],
    "DataFrameWriter": ["parquet", "save", "saveAsTable"],
}

# callers of Spark actions inside the crawl loop, one per-layer metric each;
# anything else lands in scheduler.action_s.other
ACTION_CALLERS = [
    "_loop", "run", "resume", "_seed_frontier", "_redirect_closure",
    "_harvest_credentials", "assign_seq", "commit", "read",
]

# job groups reported one by one (the span names that set them)
GROUPS = [
    "scheduler.run", "scheduler.resume", "store.commit", "store.read",
    "seq.assign_seq", "dedup.build_bloom", "queries.build", "queries.exec",
]

_OWN_FILES = ("/pyspark/", "/py4j/", os.sep + "perfbench" + os.sep)


class Tracer:
    """Records spans only while ``active``; set-up and checks stay out."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sums: dict[str, float] = defaultdict(float)
        self.counts: dict[str, int] = defaultdict(int)
        self.waves: list[float] = []
        self.overhead_s = 0.0
        self._in_action = False
        self._patches: list[tuple] = []
        self.stage_totals: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )

    # -- spans ---------------------------------------------------------------

    def _open(self, name: str):
        t = time.perf_counter()
        span = {
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id, "id": len(self.spans),
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        self.overhead_s += time.perf_counter() - t
        return span, prev, time.perf_counter()

    def _close(self, span, prev, t0) -> None:
        dur = time.perf_counter() - t0
        t = time.perf_counter()
        span["end"] = time.time()
        self._stack.pop()
        self.sums[span["name"] + ".s"] += dur
        self.counts[span["name"]] += 1
        self.sc.setLocalProperty("spark.jobGroup.id", prev)
        self.sc.setLocalProperty("spark.job.description", prev)
        self.overhead_s += time.perf_counter() - t

    def call(self, name: str, fn, *args, **kw):
        """Run ``fn`` inside a span (used for calls the benchmark makes)."""
        if not self.active:
            return fn(*args, **kw)
        span, prev, t0 = self._open(name)
        try:
            return fn(*args, **kw)
        finally:
            self._close(span, prev, t0)

    # -- wrappers ------------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper):
        orig = owner.__dict__[attr]
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def _spanned(self, name: str, fn, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            if not tracer.active:
                return fn(*args, **kw)
            span, prev, t0 = tracer._open(name)
            try:
                out = fn(*args, **kw)
            finally:
                tracer._close(span, prev, t0)
            if on_result is not None:
                t = time.perf_counter()
                on_result(out)
                tracer.overhead_s += time.perf_counter() - t
            return out

        return wrapper

    def _action(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            if not tracer.active or tracer._in_action or not tracer._stack:
                return fn(*args, **kw)
            tracer._in_action = True
            t0 = time.perf_counter()
            try:
                return fn(*args, **kw)
            finally:
                dur = time.perf_counter() - t0
                t = time.perf_counter()
                tracer._in_action = False
                top = tracer.spans[tracer._stack[0]]["name"]
                if top.startswith("scheduler."):
                    caller = _caller_name()
                    key = caller if caller in ACTION_CALLERS else "other"
                    tracer.sums["scheduler.action_s." + key] += dur
                    tracer.sums["scheduler.action_s"] += dur
                    tracer.counts["scheduler.actions"] += 1
                tracer.overhead_s += time.perf_counter() - t

        return wrapper

    def _broadcast(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(sc, value, *args, **kw):
            bc = fn(sc, value, *args, **kw)
            if tracer.active:
                t = time.perf_counter()
                tracer.counts["dedup.broadcasts"] += 1
                path = getattr(bc, "_path", None)
                if path and os.path.exists(path):
                    tracer.counts["dedup.broadcast_bytes"] += os.path.getsize(path)
                if isinstance(value, (set, frozenset)):
                    tracer.counts["dedup.seen_rows"] += len(value)
                tracer.overhead_s += time.perf_counter() - t
            return bc

        return wrapper

    def _on_crawl_result(self, res) -> None:
        self.waves.extend(m["sec"] for m in res.metrics)

    def install(self) -> None:
        from pyspark import SparkContext
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        import wcm_spark.scheduler as scheduler
        import wcm_spark.store as store

        crawler = scheduler.Crawler
        self._patch(crawler, "run", self._spanned(
            "scheduler.run", crawler.run, self._on_crawl_result))
        resume = crawler.__dict__["resume"].__func__
        self._patch(crawler, "resume", classmethod(self._spanned(
            "scheduler.resume", resume, self._on_crawl_result)))
        ts = store.TableStore
        self._patch(ts, "commit", self._spanned("store.commit", ts.commit))
        self._patch(ts, "read", self._spanned("store.read", ts.read))
        self._patch(scheduler, "build_bloom",
                    self._spanned("dedup.build_bloom", scheduler.build_bloom))
        self._patch(scheduler, "assign_seq",
                    self._spanned("seq.assign_seq", scheduler.assign_seq))
        self._patch(SparkContext, "broadcast",
                    self._broadcast(SparkContext.broadcast))
        owners = {"DataFrame": DataFrame, "DataFrameWriter": DataFrameWriter}
        for owner, names in ACTIONS.items():
            cls = owners[owner]
            for n in names:
                self._patch(cls, n, self._action(cls.__dict__[n]))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- stage metrics -------------------------------------------------------

    def collect_stages(self) -> None:
        """Fold the stage metrics of every job that ran in a span into
        per-group totals. Called once the timed part is over, so every job
        has completed; the status store fills from the listener bus
        asynchronously, so the bus is drained first. The store keeps the
        last 1000 jobs and stages (Spark's defaults), more than one run
        starts."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        stage_group = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            grp = job.jobGroup()
            if not grp.isDefined():
                continue
            name = grp.get()
            self.stage_totals[name]["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_group[ids.apply(k)] = name
        if not stage_group:
            return
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, None)
        for i in range(stages.size()):
            st = stages.apply(i)
            name = stage_group.get(st.stageId())
            if name is None:
                continue
            tot = self.stage_totals[name]
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            tot["tasks"] += st.numCompleteTasks()

    def executor_metrics(self, wall_s: float, cores: int) -> dict[str, float]:
        keys = ["run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "tasks"]
        out = {f"executor.{k}": 0.0 for k in keys}
        for tot in self.stage_totals.values():
            for k in keys:
                out[f"executor.{k}"] += tot[k]
        out["executor.busy_ratio"] = out["executor.run_s"] / max(wall_s * cores, 1e-9)
        for g in GROUPS:
            out[f"executor.{g}.run_s"] = self.stage_totals[g]["run_s"] if g in self.stage_totals else 0.0
            out[f"executor.{g}.cpu_s"] = self.stage_totals[g]["cpu_s"] if g in self.stage_totals else 0.0
        return out

    def group_jobs(self, prefixes: tuple[str, ...]) -> int:
        return int(sum(
            t["jobs"] for g, t in self.stage_totals.items() if g.startswith(prefixes)
        ))

    def write(self, path: str, layers: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "run_id": self.run_id,
                "spans": self.spans,
                "counts": dict(self.counts),
                "sums": dict(self.sums),
                "stage_totals": {g: dict(t) for g, t in self.stage_totals.items()},
                "layers": layers,
            }, f)


def _caller_name() -> str:
    """Name of the innermost function outside pyspark, py4j and this
    benchmark on the current stack — the engine code that asked for the
    action."""
    f = sys._getframe(2)
    while f is not None:
        fn = f.f_code.co_filename
        if not any(p in fn for p in _OWN_FILES):
            return f.f_code.co_name
        f = f.f_back
    return "other"


def query_phases(df) -> dict[str, float]:
    """Driver phase seconds that Spark's planning tracker recorded for
    ``df`` (analysis at build time; optimization and planning at the first
    action on ``df`` itself)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        out[p] = o.get().durationMs() / 1e3 if o.isDefined() else 0.0
    return out
