"""SparkSession factory with the engine's tuning defaults."""

from __future__ import annotations

import logging
import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["get_spark", "local_frame", "parse_conf_extra", "recommended_sql_confs"]

log = logging.getLogger(__name__)


def recommended_sql_confs() -> dict[str, str]:
    """The engine's runtime SQL confs, shared by get_spark and the
    spark-submit entry point (submit_main.py) so the two launch shapes
    cannot drift. Values honor the same env overrides in both."""
    return {
        # AQE off by default: its shuffle-coalescing repeatedly collapsed
        # the Python-UDF stages of this workload onto 1-2 cores (measured
        # 4x wall-clock regressions at local[32]); skew is handled
        # explicitly via host_salt partitioning and shingle-based
        # candidate generation. Re-enable per-job for large
        # shuffle-join-heavy plans. (The engine still FUNCTIONS with AQE
        # on — pinned by tests/test_submit.py.)
        "spark.sql.adaptive.enabled": os.environ.get("WCM_AQE", "false"),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # InferFiltersFromGenerate synthesizes `size(arr) > 0` under every
        # non-outer explode; filter pushdown then substitutes the WHOLE
        # array-building expression into that filter and pushes it below
        # any exchange — so the tokenize->shingle/chunk chains of the
        # text-pipeline queries were evaluated twice, with the first
        # evaluation on the un-repartitioned scan split (1-2 cores).
        # Measured: passage_dedup_rate 28.4s -> 1.8s at sf1.0/local[32].
        # Every Generate in this engine explodes a COMPUTED array (tokens,
        # shingles, subvectors), never a scan column the inferred filter
        # could prune at the source, so the rule is pure duplicated work
        # here at any scale. Override with WCM_EXCLUDED_OPT_RULES.
        "spark.sql.optimizer.excludedRules": os.environ.get(
            "WCM_EXCLUDED_OPT_RULES",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        ),
        # generic conf escape hatch for A/B experiments and site tuning:
        # semicolon-separated key=value pairs, applied last
        **parse_conf_extra(os.environ.get("WCM_SQL_CONF_EXTRA", "")),
    }


def parse_conf_extra(raw: str) -> dict[str, str]:
    """``"k1=v1; k2=v2"`` -> ``{"k1": "v1", "k2": "v2"}``, keys and values
    stripped; empty segments are skipped. A segment without ``=`` or with
    an empty key raises ValueError naming it, instead of silently dropping
    a conf the caller meant to set."""
    out = {}
    for seg in raw.split(";"):
        if not seg.strip():
            continue
        key, eq, value = seg.partition("=")
        if not eq or not key.strip():
            raise ValueError(
                f"WCM_SQL_CONF_EXTRA segment {seg.strip()!r} is not key=value"
            )
        out[key.strip()] = value.strip()
    return out


def _warm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Fork the Python worker pool and pay its numpy/pyarrow imports at
    session build — infrastructure provisioning, same class as executor
    JVM startup. A fresh session otherwise charges the ~1-2 s spin-up of
    `cpus` workers (fork + first numpy/pyarrow import each) to whichever
    Arrow-kernel stage happens to run first. One tiny task per core;
    idempotent per session.

    This is the application's ONE worker pool. Spark keys a pool (one
    ``pyspark.daemon`` plus its forked workers) by the worker environment,
    and the SQL runners (pandas/Arrow UDFs, mapInArrow) set
    ``SPARK_SIMPLIFIED_TRACEBACK=1`` while a PythonRDD job does not — so an
    RDD-backed frame (``createDataFrame`` of a Python list) forks a
    second daemon with ``cpus`` more interpreters that live as long as the
    application. Driver-side rows therefore go through ``local_frame``.

    A failed warm-up does not fail the session: it logs a warning with the
    exception and leaves ``wcm.workers.warmed`` unset, so the pool forks on
    the first Python stage instead."""
    if os.environ.get("WCM_POOL_WARM", "1") != "1":
        return
    if spark.conf.get("wcm.workers.warmed", None) == "true":
        return

    def _touch(batches):
        import numpy  # noqa: F401  (the Arrow kernels' first import)

        yield from batches

    try:
        spark.range(cpus, numPartitions=cpus).mapInArrow(
            _touch, "id BIGINT"
        ).count()
    except Exception as exc:  # warming is never worth failing a session over
        log.warning("Python worker pool warm-up failed: %r", exc)
        return
    spark.conf.set("wcm.workers.warmed", "true")


def local_frame(spark: SparkSession, rows: Iterable, ddl: str) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``ddl`` column order, or dicts keyed
    by column name) as a DataFrame of schema ``ddl``, built through an
    Arrow table so it analyzes to a JVM ``LocalRelation``.

    Every driver-side frame of the engine is built here, so a Spark
    application runs exactly one Python worker pool, the one
    ``_warm_python_workers`` forks. ``createDataFrame`` of a Python list
    (empty or not) is a ``LogicalRDD`` over a PythonRDD: evaluating it
    runs an identity re-serialise in Python workers whose environment
    lacks the SQL runners' ``SPARK_SIMPLIFIED_TRACEBACK``, so Spark forks
    a second ``pyspark.daemon`` for it. An Arrow table (empty or not)
    needs no Python worker at all; a pandas frame would too, except that
    an empty one falls back to the RDD path. The types, column order and
    nullability are the DDL's (``NOT NULL`` is honoured)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    names = schema.names
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app: str = "wcm-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """local[k] session tuned for the iterative crawl workload.

    Runtime SQL confs come from ``recommended_sql_confs``: AQE is OFF
    unless ``WCM_AQE=true`` (its coalescing collapsed the Python-UDF
    stages onto 1-2 cores; skew is handled by host_salt partitioning);
    Arrow is mandatory for every pandas UDF in the engine; shuffle
    partitions default to the core count — at cluster scale these come
    from spark-submit conf instead.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config(map=recommended_sql_confs())
        # (A/B: uncompressed columnar cache is NOT faster here — the 8g
        # heap prefers compact cached bodies; keep Spark's default true)
        .config("spark.sql.inMemoryColumnarStorage.compressed",
                os.environ.get("WCM_CACHE_COMPRESS", "true"))
        # local mode: the "driver" JVM hosts every executor thread and the
        # block manager. Counter-intuitively, a LARGER heap is ~2x slower
        # on this workload (A/B measured 41-57s @8g vs 75-78s @48g for the
        # 5-wave crawl: fresh-page zeroing + bigger G1 live sets show up as
        # 40-60% kernel time) — keep the heap small and let the OS page
        # cache hold the rest.
        .config("spark.driver.memory", os.environ.get("WCM_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    _warm_python_workers(spark, cpus)
    return spark
