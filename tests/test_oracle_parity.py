"""Driver-gate rehearsal: every oracle-checked query must match DuckDB.

Mirrors what the driver does at sf0.01 (row count + schema + order-
insensitive value hash): runs each Spark query and its oracle SQL at
sf0.001 and compares normalized sorted rows.
"""

import hashlib
import json
import math
import os
import pathlib
import re
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from wcm_spark.datapipe.queries import TABLES, oracle_sqls, spark_queries

SF_DIR = os.environ.get("WCM_TEST_SF_DIR", "/root/testdata/sf0.001")

ORACLES = oracle_sqls()
QUERIES = spark_queries()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # EXACT comparison on purpose: the driver hashes raw values, so a
        # 1-ULP cross-engine difference is a real failure — the queries
        # must round at the SQL level such that both engines emit
        # identical doubles
        return v
    if hasattr(v, "item"):  # numpy scalars from duckdb
        return _norm(v.item())
    return v


def _rows(cols, data):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in data)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck):
    _assert_parity(name, QUERIES[name](spark, SF_DIR), duck)


def _assert_parity(name, sdf, con):
    """Collect the Spark frame ``sdf``, run ``name``'s oracle on the
    DuckDB connection ``con`` and assert the same columns and the same
    rows in any order. Returns the oracle's normalized rows."""
    spark_cols = sdf.columns
    spark_data = [tuple(r) for r in sdf.collect()]

    cur = con.execute(ORACLES[name])
    duck_cols = [c[0] for c in cur.description]
    duck_data = cur.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    got, want = _rows(spark_cols, spark_data), _rows(duck_cols, duck_data)
    assert len(got) == len(want), f"{name}: rowcount {len(got)} vs {len(want)}"
    assert got == want, f"{name}: value mismatch; first diff: " + str(
        next((a, b) for a, b in zip(got, want) if a != b)
    )
    return want


#: duck logical type -> the numeric class the DRIVER's hash sees after
#: its pandas fetch (HUGEINT has no int64 representation and lands as
#: float64 — CORRECTNESS_r05's two hash fails were exactly this).
def _duck_numclass(t: str):
    t = str(t).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return "int"
    if t in ("HUGEINT", "UHUGEINT", "FLOAT", "DOUBLE"):
        return "float"
    return None


def _spark_numclass(dt) -> str | None:
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    return None


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_numeric_dtype_parity(name, spark, duck):
    """Driver-hash rehearsal the value test above cannot do: the driver
    fetches the oracle via pandas, where HUGEINT becomes float64, so a
    Spark BIGINT column against a duck HUGEINT column hash-mismatches on
    dtype even when every value is identical (the r5 failure class).
    Types come from binding only — nothing is executed."""
    rel = duck.sql(ORACLES[name])
    duck_classes = {
        c: _duck_numclass(t) for c, t in zip(rel.columns, rel.types)
    }
    sdf = QUERIES[name](spark, SF_DIR)
    for f in sdf.schema.fields:
        want = duck_classes.get(f.name)
        got = _spark_numclass(f.dataType)
        if want is None or got is None:
            continue
        assert got == want, (
            f"{name}.{f.name}: spark {f.dataType.simpleString()} vs duck "
            f"{dict(zip(rel.columns, [str(t) for t in rel.types]))[f.name]} "
            f"— the driver's pandas fetch would hash these as {want} vs {got}"
        )


def test_neardup_cluster_convergence(duck):
    """NEARDUP_CC_ITERS must cover the fixture's largest cluster diameter:
    the fixed-depth propagation equals a 2-hops-deeper run."""
    from wcm_spark.datapipe.queries import NEARDUP_CC_ITERS, _q_neardup_clusters

    base = sorted(duck.execute(_q_neardup_clusters("duck", None)).fetchall())
    deeper = sorted(
        duck.execute(
            _q_neardup_clusters("duck", None, iters=NEARDUP_CC_ITERS + 2)
        ).fetchall()
    )
    assert base == deeper


def test_image_caption_pick_convergence_and_geometry(duck):
    """IMG_CC_ITERS covers the image fixture's cluster diameter (equal to
    a 2-hops-deeper run), and the fixture keeps the REAL hamming<=8 gate
    non-trivial: clusters exist, some LSH candidates are rejected by the
    gate, and no cluster spans two unrelated base images."""
    from wcm_spark.datapipe.queries import (
        IMG_CC_ITERS,
        _image_pair_ctes,
        _q_image_caption_pick,
    )

    base = sorted(duck.execute(_q_image_caption_pick("duck", None)).fetchall())
    deeper = sorted(
        duck.execute(
            _q_image_caption_pick("duck", None, iters=IMG_CC_ITERS + 2)
        ).fetchall()
    )
    assert base == deeper
    assert len(base) > 0
    # gate non-trivial: the unbounded candidate set is strictly larger
    n_cand, n_kept = duck.execute(
        f"WITH {_image_pair_ctes('duck', 64)} SELECT "
        "count(*), sum(CASE WHEN hamming <= 8 THEN 1 ELSE 0 END) FROM ipairs"
    ).fetchone()
    assert n_kept > 0 and n_cand > n_kept
    # no cross-base pair survives the gate (image_id embeds the base idx)
    [n_cross] = duck.execute(
        f"WITH {_image_pair_ctes('duck', 8)} SELECT count(*) FROM ipairs "
        "WHERE substr(ia, 11, 4) != substr(ib, 11, 4)"
    ).fetchone()
    assert n_cross == 0


def test_images_table_size_override(duck):
    """images_table_path scales with an explicit n_base (bench raises it
    via WCM_IMAGES_N for non-toy sweep entries) and stays
    content-addressed per size — the pinned 90-base default is untouched."""
    from wcm_spark.datapipe.fixtures import images_table_path

    small = images_table_path(12)
    default = images_table_path()
    assert small != default
    [n] = duck.execute(
        f"SELECT count(*) FROM read_parquet('{small}')"
    ).fetchone()
    assert 12 < n <= 12 * 2  # bases + engineered variants


def test_image_shard_packing_geometry(duck):
    """At the fixture override budget every group splits into multiple
    shards, per-group offsets are dense (contiguous byte stream), and no
    shard except possibly the last of a group overruns by more than one
    sample (greedy first-byte assignment)."""
    from wcm_spark.datapipe.queries import SYNTHETIC_GATES, _BUILDERS

    gate = SYNTHETIC_GATES["image_shard_packing"]
    rows = duck.execute(
        _BUILDERS["image_shard_packing"]("duck", None, **gate)
    ).fetchall()
    by_grp: dict[int, list] = {}
    for image_id, grp, n_bytes, start_off, shard_id in rows:
        by_grp.setdefault(grp, []).append((image_id, n_bytes, start_off, shard_id))
    assert len(by_grp) == 8
    multi = 0
    for grp, items in by_grp.items():
        items.sort()  # FIFO by image_id
        off = 0
        for _, n_bytes, start_off, shard_id in items:
            assert start_off == off  # dense cumsum
            assert shard_id == start_off // gate["shard_bytes"]
            off += n_bytes
        if items[-1][3] > 0:
            multi += 1
    assert multi == len(by_grp)  # budget chosen so every group splits


def test_spark_only_queries_run(spark):
    for name, fn in QUERIES.items():
        if name in ORACLES:
            continue
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name


def test_caption_sigs_array_form_matches_grouped_min(spark):
    """The caption chain's zero-shuffle signature derivation (per-image
    array_min over the memoized bigram arrays, _sigs_from_arrays) must
    equal the oracle's shape: explode the distinct bigrams to rows, md5
    each, grouped min per 32-bit hex slice. Pins the r6 array-form
    restructure of _caption_arrays_df/_caption_buckets_df."""
    from pyspark.sql import functions as F

    from wcm_spark.datapipe.queries import _caption_arrays_df, _sigs_from_arrays

    arrays = _caption_arrays_df(spark)
    fast = _sigs_from_arrays(arrays)

    tok_set = arrays.select("doc_id", F.explode("toks").alias("tok"))
    hashed = tok_set.select(
        "doc_id",
        F.md5(F.concat(F.lit("a"), F.col("tok"))).alias("ha"),
        F.md5(F.concat(F.lit("b"), F.col("tok"))).alias("hb"),
    )
    slow = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(F.col("ha" if i < 4 else "hb"), (i % 4) * 8 + 1, 8)
            ).alias(f"mh{i}")
            for i in range(8)
        ]
    )
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    assert fast.count() == slow.count() > 0


# ---------------------------------------------------------------------------
# third-implementation pins for the scrub/ingest family: pure-Python
# recomputes (re + hashlib), independent of both SQL dialects
# ---------------------------------------------------------------------------

_PII_RULES = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
]


def _pii_inject(doc_id: int, text: str) -> str:
    if doc_id % 7 == 0:
        text += f" contact user{doc_id}@mail.example.com now"
    if doc_id % 11 == 0:
        text += f" call 415-{doc_id % 1000:03d}-0199"
    if doc_id % 13 == 0:
        text += f" node 10.0.{doc_id % 256}.{(doc_id * 7) % 256}"
    return text


def test_pii_redact_python_recompute(spark):
    """Every doc's counts AND scrubbed-text digest vs an re/hashlib
    recompute — Java regex, RE2 and Python re must agree on the
    lookaround-free pattern subset, and the replacement chain order
    (email -> ip -> phone) is pinned."""
    import hashlib
    import re

    got = {
        r["doc_id"]: r for r in QUERIES["pii_redact"](spark, SF_DIR).collect()
    }
    raw = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    assert len(got) == len(raw)
    saw = [0, 0, 0]
    for r in raw:
        text = _pii_inject(r["doc_id"], r["text"])
        counts = [len(re.findall(p, text)) for p, _ in _PII_RULES]
        scrub = text
        for p, rep in _PII_RULES:
            scrub = re.sub(p, rep, scrub)
        g = got[r["doc_id"]]
        assert (g["n_emails"], g["n_ipv4"], g["n_phones"]) == tuple(counts)
        assert g["scrub_digest"] == hashlib.md5(scrub.encode()).hexdigest()
        assert g["scrub_len"] == len(scrub)
        saw = [a + b for a, b in zip(saw, counts)]
    assert all(s > 0 for s in saw)  # every PII kind exercised


def test_dedup_incremental_engine_path(spark):
    """The bloom-prefilter engine path vs a pure-Python replay of the
    snapshot rule; all three verdicts must actually occur."""
    rows = QUERIES["dedup_incremental"](spark, SF_DIR).collect()
    ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .collect()
    ]

    def key(i):
        if i % 9 == 1:
            return i - 1
        if i % 30 == 12:
            return i - 6
        return i

    corpus = {key(i) for i in ids if i % 3 != 0}
    batch = sorted(i for i in ids if i % 3 == 0)
    firsts: dict[int, int] = {}
    want = {}
    for i in batch:
        k = key(i)
        firsts.setdefault(k, i)
        want[i] = (
            "dup_corpus"
            if k in corpus
            else ("dup_batch" if i > firsts[k] else "ingest")
        )
    assert {r["doc_id"]: r["action"] for r in rows} == want
    assert {r["action"] for r in rows} == {"ingest", "dup_batch", "dup_corpus"}


def test_passage_dedup_scrub_python_recompute(spark):
    """First-wins scrub + ordered reassembly vs a pure-Python replay:
    n_kept and the md5 of every doc's reassembled text must match."""
    import hashlib
    import re

    from wcm_spark.datapipe.queries import SYNTHETIC_GATES

    chunk = SYNTHETIC_GATES["passage_dedup_scrub"]["chunk"]
    got = {
        r["doc_id"]: r
        for r in QUERIES["passage_dedup_scrub"](spark, SF_DIR).collect()
    }
    raw = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    passages = []  # (pk, doc_id, pos, chunk_text)
    for r in raw:
        toks = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        for i in range(len(toks) // chunk):
            c = " ".join(toks[i * chunk : (i + 1) * chunk])
            passages.append((r["doc_id"] * 1_000_000 + i, r["doc_id"], i, c))
    first_pk: dict[str, int] = {}
    for pk, _, _, c in sorted(passages):
        first_pk.setdefault(c, pk)
    per_doc: dict[int, list] = {}
    for pk, doc_id, pos, c in sorted(passages):
        per_doc.setdefault(doc_id, []).append((pos, c, first_pk[c] == pk))
    dropped_any = 0
    for doc_id, items in per_doc.items():
        kept = [c for _, c, k in items if k]
        g = got[doc_id]
        assert g["n_passages"] == len(items)
        assert g["n_kept"] == len(kept)
        assert g["scrub_digest"] == hashlib.md5(
            " ".join(kept).encode()
        ).hexdigest()
        dropped_any += len(items) - len(kept)
    assert dropped_any > 0  # the fixture must actually exercise drops
    assert set(got) == set(per_doc)


def test_boilerplate_scrub_python_recompute(spark):
    """Per-source frequency-threshold scrub vs a pure-Python replay:
    boilerplate = passage occurring in >= min_docs DISTINCT docs of the
    same source, ALL occurrences dropped (including the first — the
    semantic that separates this from the first-wins scrub). n_boiler
    and the md5 of every doc's retained text must match."""
    import hashlib
    import re

    from wcm_spark.datapipe.queries import SYNTHETIC_GATES

    gates = SYNTHETIC_GATES["boilerplate_source_scrub"]
    chunk, min_docs = gates["chunk"], gates["min_docs"]
    got = {
        r["doc_id"]: r
        for r in QUERIES["boilerplate_source_scrub"](spark, SF_DIR).collect()
    }
    raw = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    ).collect()
    per_doc: dict[int, list] = {}
    src_docs: dict[tuple, set] = {}  # (source, chunk_text) -> {doc_id}
    doc_src: dict[int, str] = {}
    for r in raw:
        toks = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        doc_src[r["doc_id"]] = r["source"]
        for i in range(len(toks) // chunk):
            c = " ".join(toks[i * chunk : (i + 1) * chunk])
            per_doc.setdefault(r["doc_id"], []).append((i, c))
            src_docs.setdefault((r["source"], c), set()).add(r["doc_id"])
    dropped_any = 0
    for doc_id, items in per_doc.items():
        src = doc_src[doc_id]
        kept = [c for _, c in items if len(src_docs[(src, c)]) < min_docs]
        g = got[doc_id]
        assert g["n_passages"] == len(items)
        assert g["n_boiler"] == len(items) - len(kept)
        assert g["scrub_digest"] == hashlib.md5(
            " ".join(kept).encode()
        ).hexdigest()
        dropped_any += len(items) - len(kept)
    assert dropped_any > 0  # the fixture must actually exercise drops
    assert set(got) == set(per_doc)


def test_shingle_builders_survive_short_docs(spark, tmp_path):
    """Real-data robustness: docs shorter than the shingle/chunk window
    must yield empty windows, not a crash — Spark's sequence(1, 0)
    descends ([1, 0]) and element_at/slice then error or fabricate
    windows (the _seq1 guard). Runs every variable-length query the way
    production does (spark_queries) over a 0/1/2/5-token corpus and
    checks it against its DuckDB oracle over the same table."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["", "one", "two words", "five tokens in this doc"],
            "lang": ["en"] * 4,
            "fetched_at": pd.to_datetime(["2026-01-01"] * 4),
        }
    )
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(pdf).write.parquet(str(d))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/*.parquet')")
    for name in (
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "minhash_est_vs_exact",
        "passage_dedup_rate",
        "passage_dedup_scrub",
        "doc_decontamination",
    ):
        _assert_parity(name, QUERIES[name](spark, str(tmp_path)), con)


def test_recrawl_conditional_fetch_all_actions(duck):
    """The validator fixture must exercise every verdict, and bytes are
    only saved on 304s."""
    rows = duck.execute(ORACLES["recrawl_conditional_fetch"]).fetchall()
    actions = {a for _, a, _ in rows}
    assert actions == {"new", "gone", "not_modified", "modified"}
    for _, a, saved in rows:
        assert (saved > 0) == (a == "not_modified")


def test_semdedup_first_wins_and_nonvacuous(duck):
    """SemDeDup invariants independent of either engine's execution:
    the lowest vec_id of every cell is always kept (it can have no
    EARLIER cellmate), every drop has n_dups >= 1, every keep has
    n_dups = 0, and the synthetic gate actually exercises both verdicts
    (a 0-drop or all-drop fixture would make the parity check vacuous)."""
    rows = duck.execute(ORACLES["semdedup_prune"]).fetchall()
    by_cell = {}
    actions = {"keep": 0, "drop": 0}
    for vec_id, cell, n_dups, action in rows:
        actions[action] += 1
        assert (n_dups >= 1) == (action == "drop"), (vec_id, n_dups, action)
        cur = by_cell.get(cell)
        if cur is None or vec_id < cur[0]:
            by_cell[cell] = (vec_id, action)
    assert actions["keep"] > 0 and actions["drop"] > 0
    for cell, (min_id, action) in by_cell.items():
        assert action == "keep", (cell, min_id)


def test_dsir_weights_separate_target(duck):
    """DSIR's whole point: documents from the target slice must score a
    higher mean importance weight than the rest (the hashed-n-gram
    models are fitted on exactly that split), and every doc WITH at
    least one alphanumeric token gets a weight (zero-token docs produce
    no feature rows and are dropped by construction — the fixture has
    none, so the count equals n_docs here; ADVICE r5)."""
    rows = duck.execute(ORACLES["dsir_importance_weights"]).fetchall()
    n_docs = duck.execute(
        "SELECT count(*) FROM documents WHERE "
        "len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
        "x -> x != '')) > 0"
    ).fetchone()[0]
    assert len(rows) == n_docs
    tgt = [w for _, _, w, it in rows if it == 1]
    rest = [w for _, _, w, it in rows if it == 0]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


# edge URLs -> expected canonical forms, exercising every normalization
# branch the synthetic fixture can't: https default port, scheme case,
# tracking-only query, missing path, non-default port preserved, the
# 'utmx' near-miss (substr prefix test, NOT the LIKE 'utm_%' metachar
# trap), and path-case preservation under authority lowercasing.
URL_CANON_CASES = [
    (1, "https://Host.Example.TEST:443/", "https://host.example.test/"),
    (2, "http://h.example/x?utm_source=a&utm_medium=b", "http://h.example/x"),
    (3, "http://h.example", "http://h.example/"),
    (4, "HtTp://H.example/A/B/?z=1&y=2#f", "http://h.example/A/B?y=2&z=1"),
    (5, "http://h.example/p?ref=x&a=1", "http://h.example/p?a=1"),
    (6, "http://h.example:8080/p", "http://h.example:8080/p"),
    (7, "http://h.example/p?utmx=1", "http://h.example/p?utmx=1"),
    (8, "http://h.example/deep/path/", "http://h.example/deep/path"),
    (9, "http://h.example/p?gclid=1&fbclid=2&ref=3", "http://h.example/p"),
]


def _url_canon_sql(d: str) -> str:
    from wcm_spark.datapipe.queries import _url_canon_ctes

    vals = ", ".join(f"({i}, '{u}')" for i, u, _ in URL_CANON_CASES)
    return (
        f"WITH raw AS (SELECT * FROM (VALUES {vals}) AS t(seq, raw_url)), "
        f"{_url_canon_ctes(d)} "
        "SELECT seq, canonical_url FROM canon ORDER BY seq"
    )


def test_url_canonicalize_edge_cases_duck(duck):
    got = duck.execute(_url_canon_sql("duck")).fetchall()
    assert got == [(i, c) for i, _, c in URL_CANON_CASES]


def test_url_canonicalize_edge_cases_spark(spark):
    got = [(r[0], r[1]) for r in spark.sql(_url_canon_sql("spark")).collect()]
    assert got == [(i, c) for i, _, c in URL_CANON_CASES]


def test_oracle_texts_frozen():
    """Every oracle text is pinned by its sha256 in
    oracle_sqls.sha256.json (fixture parquet paths and the temp dir
    replaced by placeholders), so any oracle edit shows up as a reviewed
    edit of that file. Regenerate it with ``write_oracle_digests()``."""
    want = json.loads(_DIGESTS.read_text())
    assert _oracle_digests() == want


_DIGESTS = pathlib.Path(__file__).with_name("oracle_sqls.sha256.json")


def _oracle_digests() -> dict:
    """sha256 of each oracle text with every fixture parquet path masked:
    the fixture names are content hashes of generated data (encoded image
    bytes, env-sized tables), which are not oracle SQL."""
    tmp = tempfile.gettempdir()
    fixture = re.compile(re.escape(tmp) + r"/wcm_fixtures/[^']*\.parquet")
    return {
        k: hashlib.sha256(
            fixture.sub("<FIXTURE>", v).replace(tmp, "<TMPDIR>").encode()
        ).hexdigest()
        for k, v in sorted(ORACLES.items())
    }


def write_oracle_digests() -> None:
    _DIGESTS.write_text(json.dumps(_oracle_digests(), indent=1, sort_keys=True) + "\n")


_TOKENIZER_CASES = [
    "",
    "   ",
    "?!.,;:",
    "a1-b2_c3",
    "--lead and trail--",
    "tabs\tand\nnew\r\nlines",
    "MiXeD CaSe Words",
    "Café ÜBER naïve",
    pytest.param(
        "İstanbul",
        marks=pytest.mark.xfail(
            strict=True,
            reason="DuckDB lowercases U+0130 to 'i'; Spark to 'i' + U+0307",
        ),
    ),
]


@pytest.mark.parametrize("text", _TOKENIZER_CASES)
def test_tokenizer_same_on_every_engine(spark, text):
    """The one tokenizer rule gives the same token list as a Column
    (_tokens_col), as Spark SQL and as DuckDB SQL (_tokens_sql)."""
    from wcm_spark.datapipe.queries import _tokens_col, _tokens_sql

    df = spark.createDataFrame([(text,)], "text string")
    col, sql = df.select(_tokens_col(), F.expr(_tokens_sql("spark"))).first()
    (duck_toks,) = duckdb.execute(
        f"SELECT {_tokens_sql('duck')} FROM (SELECT ?::VARCHAR AS text)", [text]
    ).fetchone()
    assert list(col) == list(sql) == list(duck_toks)


@pytest.mark.parametrize(
    "name",
    [
        "ann_ivf_kmeans",
        "ann_ivf_fitted",
        "ann_ivf_multiprobe",
        "ann_recall_at_k",
        "ann_ivfpq_adc",
        "ann_ivfpq_recall_at_k",
        "semdedup_prune",
    ],
)
def test_ivf_empty_cell_parity(spark, tmp_path_factory, name):
    """An IVF cell that loses every member: with vector 1 a copy of
    vector 0, the two seed centroids tie for every vector, the tie goes
    to cell 0 and cell 1 empties on both engines. The other cells keep
    their ids, and every query built on the fitted assignment still
    matches its oracle."""
    sf = _ivf_tie_dir(tmp_path_factory)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    cells = {c for (c,) in con.execute(
        f"SELECT DISTINCT cell FROM ({ORACLES['ann_ivf_kmeans']})"
    ).fetchall()}
    assert 0 in cells and 1 not in cells

    assert len(_assert_parity(name, QUERIES[name](spark, sf), con)) > 0


def _ivf_tie_dir(tmp_path_factory) -> str:
    """The test scale's embeddings with vector 1's embedding set to
    vector 0's (written once per session)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.getbasetemp() / "ivf_tie"
    if not (d / "embeddings.parquet").exists():
        d.mkdir(exist_ok=True)
        t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
        emb = t.column("embedding").to_pylist()
        emb[1] = emb[0]
        t = t.set_column(
            t.schema.get_field_index("embedding"),
            "embedding",
            pa.array(emb, t.schema.field("embedding").type),
        )
        pq.write_table(t, d / "embeddings.parquet")
    return str(d)
