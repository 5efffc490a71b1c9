"""Seeded inputs for the benchmark workloads, cached by content.

Every input is a pure function of the workload seed. Generated files land
under ``<checkout>/.perfbench_cache/`` named by a hash of everything that
determines them, so a repeated seed reuses its inputs and its reference
results, and a changed generator never reads a stale file.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator below changes shape, so old cache entries are ignored
GEN_VERSION = 2

# crawl_polite_durable: one seeded hot site holds half of the pages
ZIPF_SITES = 24
ZIPF_PAGES = 64  # mean pages per site; total = ZIPF_SITES * ZIPF_PAGES
ZIPF_JITTER = 8
ZIPF_CAP_DIV = 4  # max_conn_per_host = total pages // ZIPF_CAP_DIV: 6 waves
ZIPF_STOP_WAVES = 3  # the first run stops here; resume drains the rest

# query_sweep tables, shaped like the sf0.01 test data
SWEEP_DOCS = 500
SWEEP_VECS = 500
SWEEP_DIM = 64
SWEEP_EVENTS = 10000

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANG_WEIGHTS = {"en": 44, "zh": 15, "es": 15, "fr": 13, "de": 14}
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _key(*parts) -> str:
    blob = json.dumps([GEN_VERSION, *parts], sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def _atomic_write_table(table: pa.Table, path: str) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _atomic_pickle(obj, path: str) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(obj, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)


def load_pickle(path: str):
    # only files this module wrote under the checkout's own cache dir
    with open(path, "rb") as f:
        return pickle.load(f)


# -- crawl corpora ------------------------------------------------------------


def zipf_sizes(seed: int) -> list[int]:
    """Per-site page counts with the hot site at a seeded index."""
    rng = random.Random(f"crawl_polite_durable/{seed}")
    total = ZIPF_SITES * ZIPF_PAGES
    hot = rng.randrange(ZIPF_SITES)
    cold = (total - total // 2) // (ZIPF_SITES - 1)
    sizes = [
        cold + rng.randint(-ZIPF_JITTER, ZIPF_JITTER) for _ in range(ZIPF_SITES)
    ]
    sizes[hot] = total // 2
    return sizes


CORPUS_SCHEMA = pa.schema([
    ("url", pa.string()), ("status", pa.int32()), ("content_type", pa.string()),
    ("content_length", pa.int64()), ("body", pa.binary()),
    ("redirect_to", pa.string()),
])
CORPUS_FILES = 8


def corpus_path(cache: str, sizes: list[int]) -> str:
    """Parquet corpus for per-site page counts ``sizes``.

    The rows are the ones ``corpus_df_sized(spark, sizes)`` yields — the
    same ``gen_site_pages_chunk`` calls over the same (site, page-chunk)
    tasks — made in this process: without a Spark job they cost a fraction
    of the time, and they exist before the session starts, so the
    reference crawl can read them."""
    from wcm_spark.corpus import gen_site_pages_chunk

    path = os.path.join(cache, f"corpus_{_key('corpus', sizes)}")
    if os.path.isdir(path):
        return path
    rows = []
    for s, ps in enumerate(sizes):
        for st in range(0, max(ps, 1), 4000):
            rows.extend(gen_site_pages_chunk(s, len(sizes), ps, st, min(st + 4000, ps)))
    table = pa.Table.from_pylist(rows, schema=CORPUS_SCHEMA)
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp)
    step = -(-len(rows) // CORPUS_FILES)
    for i in range(CORPUS_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i}.parquet"))
    os.replace(tmp, path)
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def reference_crawl(cache: str, corpus: str, seeds: list[str]) -> dict:
    """The reference loop's result on this corpus: visit order, seen digests
    and error URLs from ``CrawlSimulator``. Computed once per corpus and
    seed list, before the Spark session starts, so it never shares the
    processor with a timed section."""
    path = os.path.join(cache, f"reference_{os.path.basename(corpus)}_{_key(seeds)}.pkl")
    if os.path.exists(path):
        return load_pickle(path)
    from wcm_spark.crawlcore import CorpusPage, CrawlSimulator

    rows = pq.read_table(corpus, columns=CORPUS_SCHEMA.names).to_pylist()
    sim = CrawlSimulator(corpus={r["url"]: CorpusPage(**r) for r in rows})
    for u in seeds:
        sim.enqueue(u)
    sim.crawl()
    ref = {
        "visit_order": sim.visit_order,
        "seen": sim.seen,
        "errors": set(sim.errors),
    }
    _atomic_pickle(ref, path)
    return ref


# -- query tables --------------------------------------------------------------


def _documents(rng: random.Random) -> pa.Table:
    langs, weights = list(LANG_WEIGHTS), list(LANG_WEIGHTS.values())
    texts = [
        " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))
        for _ in range(SWEEP_DOCS)
    ]
    # exact duplicates at the test data's rate (16 in 5000 docs)
    for _ in range(max(1, SWEEP_DOCS * 16 // 5000 // 2)):
        texts[rng.randrange(SWEEP_DOCS)] = texts[rng.randrange(SWEEP_DOCS)]
    return pa.table({
        "doc_id": pa.array(range(SWEEP_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(
            [rng.choices(langs, weights=weights)[0] for _ in texts], pa.string()
        ),
        "source": pa.array([f"src{i % 20}" for i in range(SWEEP_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: random.Random) -> pa.Table:
    """Ten labelled clusters of unit-ish vectors (the IVF/PQ families need
    cluster geometry, not uniform noise)."""
    centers = []
    for _ in range(10):
        c = [rng.gauss(0.0, 1.0) for _ in range(SWEEP_DIM)]
        n = math.sqrt(sum(x * x for x in c))
        centers.append([x / n for x in c])
    # the first ten vectors hold one cluster each: the IVF queries seed
    # their centroids with vectors 0-7, and two seeds in one cluster can
    # leave a cell empty, which queries._ivf_fit_df rejects with an
    # AssertionError (it did for one generator seed in ten)
    labels = rng.sample(range(10), 10) + [
        rng.randrange(10) for _ in range(SWEEP_VECS - 10)
    ]
    vecs = [
        [x + rng.gauss(0.0, 0.05) for x in centers[lab]] for lab in labels
    ]
    return pa.table({
        "vec_id": pa.array(range(SWEEP_VECS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng: random.Random) -> pa.Table:
    t0 = datetime(2024, 1, 1)
    span_us = 30 * 24 * 3600 * 10**6
    stamps = sorted(rng.randrange(span_us) for _ in range(SWEEP_EVENTS))
    return pa.table({
        "event_id": pa.array(range(SWEEP_EVENTS), pa.int64()),
        "ts": pa.array(
            [t0 + timedelta(microseconds=us) for us in stamps], pa.timestamp("us")
        ),
        "user_id": pa.array(
            [rng.randrange(150) for _ in stamps], pa.int64()
        ),
        "event_type": pa.array(
            [rng.choice(EVENT_TYPES) for _ in stamps], pa.string()
        ),
        "value": pa.array(
            [round(rng.expovariate(1 / 40.0) + 0.01, 2) for _ in stamps],
            pa.float64(),
        ),
        "props": pa.array(
            [f'{{"k": {rng.randrange(100)}}}' for _ in stamps], pa.string()
        ),
    })


SWEEP_TABLES = {"documents": _documents, "embeddings": _embeddings, "events": _events}


def sweep_dir(cache: str, seed: int) -> str:
    """Directory of the query tables for workload seed ``seed``."""
    path = os.path.join(
        cache,
        f"sweep_{_key('sweep', seed, SWEEP_DOCS, SWEEP_VECS, SWEEP_DIM, SWEEP_EVENTS)}",
    )
    os.makedirs(path, exist_ok=True)
    for name, gen in SWEEP_TABLES.items():
        out = os.path.join(path, f"{name}.parquet")
        if not os.path.exists(out):
            _atomic_write_table(gen(random.Random(f"{name}/{seed}")), out)
    return path


def norm_rows(cols: list[str], data) -> list[tuple]:
    """Order-insensitive rows with columns sorted by name — the comparison
    tests/test_oracle_parity.py makes between Spark and DuckDB."""

    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        if hasattr(v, "item"):  # numpy scalars from duckdb
            return norm(v.item())
        return v

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in data]
    try:
        return sorted(rows)
    except TypeError:  # None mixed with values: fall back to a total order
        return sorted(rows, key=repr)


def oracle_rows(cache: str, data_dir: str, names: list[str]) -> dict:
    """DuckDB oracle result per query as (sorted column names, normalized
    rows), computed once per query table set and oracle text."""
    import duckdb

    from wcm_spark.datapipe.queries import oracle_sqls

    sqls = oracle_sqls()
    out, missing = {}, []
    for name in names:
        path = os.path.join(
            cache, f"oracle_{os.path.basename(data_dir)}_{name}_{_key(sqls[name])}.pkl"
        )
        if os.path.exists(path):
            out[name] = load_pickle(path)
        else:
            missing.append((name, path))
    if missing:
        con = duckdb.connect()
        try:
            for t in SWEEP_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
                )
            for name, path in missing:
                cur = con.execute(sqls[name])
                cols = [c[0] for c in cur.description]
                out[name] = (sorted(cols), norm_rows(cols, cur.fetchall()))
                _atomic_pickle(out[name], path)
        finally:
            con.close()
    return out
