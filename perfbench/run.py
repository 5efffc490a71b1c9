#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one Spark application.

    python3 perfbench/run.py --workload crawl_polite_durable --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Everything the run writes stays under the checkout:
inputs and reference results in ``.perfbench_cache/``, scratch space and
trace files in ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("crawl_polite_durable", "query_sweep")
MAX_CORES = 4


def _proc_table() -> dict[int, int]:
    """pid -> parent pid for every live, non-zombie process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class TreeRss(threading.Thread):
    """Samples the resident memory of this process and its descendants:
    the sum over the Python processes (the driver and Spark's Python
    workers) and the largest JVM.

    Processes are told apart by executable, not by name: a child the JVM
    is spawning shares the JVM's memory until it execs and carries the
    name of the JVM thread that spawned it, so a name test counted a
    second JVM in about one crawl run in four."""

    PAGE = os.sysconf("SC_PAGE_SIZE")
    PYTHON = os.path.realpath(sys.executable)

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_jvm = self.peak_python = 0
        self._stop_evt = threading.Event()

    def sample(self) -> tuple[int, int]:
        jvm = python = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self.PAGE
            except OSError:
                continue
            if exe == self.PYTHON:
                python += rss
            elif os.path.basename(exe) == "java":
                jvm = max(jvm, rss)
        return jvm, python

    def run(self) -> None:
        while not self._stop_evt.is_set():
            jvm, python = self.sample()
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_python = max(self.peak_python, python)
            self._stop_evt.wait(self.interval)

    def stop(self) -> tuple[float, float]:
        """(JVM peak MB, Python peak MB)."""
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak_jvm / 2**20, self.peak_python / 2**20


def _contain(work: str) -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    into ``work`` and let the Python workers import the engine."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, os.environ.get("PYTHONPATH", "")]
    # a 2 GB driver heap holds every workload here; the engine's 8 GB
    # default would let the JVM grow to twice the machine share it needs
    os.environ.setdefault("WCM_DRIVER_MEM", "2g")
    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_LAUNCHER_OPTS=jvm_opts,
        PYTHONPATH=os.pathsep.join(p for p in paths if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '{jvm_opts}' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            "pyspark-shell"
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop the application and the JVM, and wait for every process the run
    started (JVM, Python workers) to end."""
    kids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in kids if p in _proc_table()]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "wcm_spark", "__init__.py")):
        print(
            f"perfbench: no wcm_spark package under {ROOT}; run it from the "
            "root of a full checkout", file=sys.stderr,
        )
        return 2

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(CACHE, exist_ok=True)
    _contain(work)
    rss = TreeRss()
    rss.start()
    spark = None
    try:
        from perfbench import workloads

        make_inputs, run = workloads.WORKLOADS[args.workload]
        ctx = workloads.Context(
            cores=min(MAX_CORES, len(os.sched_getaffinity(0))), seed=args.seed,
            seconds=args.seconds, cache=CACHE, work=work, trace=bool(args.trace),
            trace_path=os.path.join(
                WORK, "traces", f"{args.workload}-{args.seed}-{os.getpid()}.json"
            ),
        )
        inp = make_inputs(ctx)
        t0 = time.monotonic()
        from wcm_spark.session import get_spark

        spark = get_spark(
            f"perfbench-{args.workload}", cpus=ctx.cores, shuffle_partitions=ctx.cores
        )
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark, ctx.session_s = spark, time.monotonic() - t0
        out = run(ctx, inp)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        jvm_mb, python_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = dict(out.layers, **{"session.jvm_peak_rss_mb": jvm_mb})
    else:
        metrics = dict(out.metrics, python_peak_rss_mb=python_mb)
    units = workloads.LAYER_UNITS if args.trace else workloads.E2E_UNITS
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
