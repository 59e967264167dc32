"""``curate``: one client running serial passes of the curation headliners.

The corpus is fixed (generated with ``CORPUS_SEED``, sf0.1's shape at 2,000
documents and 800 embeddings); the run's seed sets the order of the
queries within each pass.  Each request builds its query and collects it,
then drops every cached relation, so it pays its own intermediates.  Each
pass reads its own copy of the corpus directory, so no per-directory
library state carries from one pass to the next.

JVM and Python-worker start-up are paid once before the timer and count in
``setup_s``, with a warm-up of three kernels over a tiny corpus in another
directory.  The measured pass still includes the JIT compilation of code
only its own plans use: a full warm-up pass would cost as much as the
measured pass, more than a run can spend.

Every result must hash-equal its DuckDB oracle from ``oracle_sqls()`` (for
``ann_ivfpq_rerank_topk``, see ``ivfpq_rerank_oracle``).  The
oracles are slow (two recursive CTEs take most of a minute), so their
result hashes are memoized in ``golden_curate.json`` keyed by the corpus
digest and the sha256 of the oracle SQL; any other key is evaluated with
DuckDB at set-up and memoized under ``.perfbench_cache/`` in the checkout.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import time

from . import common, datagen
from .common import pct

QUERIES = (
    "curation_pipeline",
    "dedup_canonical_docs",
    "minhash_verified_pairs",
    "ngram_jaccard_pairs",
    "simhash_near_pairs",
    "semdedup_prune_docs",
    "ann_ivfpq_rerank_topk",
    "doc_features",
)
CORPUS_SEED = 42
N_DOCS, N_VECS = 2000, 800
SETUP_REPEATS = 3
# warm-up: a few kernels on a tiny corpus pay the JIT of the engine paths
# all the headliners share (scan, shuffle, join, Python workers)
WARM_QUERIES = ("doc_features", "minhash_verified_pairs", "semdedup_prune_docs")
WARM_DOCS, WARM_VECS = 200, 100
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden_curate.json")
CACHE_DIR = os.path.join(common.ROOT, ".perfbench_cache")


# --- result hashing --------------------------------------------------------


def _cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float) or type(v).__name__ in ("float64", "float32"):
        f = float(v)
        return "␀" if math.isnan(f) else f"{f:.17g}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return str(bool(v))
    return str(v)


def result_digest(records: list[dict]) -> str:
    """Order-free digest of a result: columns by name, cells canonicalized
    (doubles at full precision, NULL and NaN alike), rows sorted."""
    if not records:
        return hashlib.sha256(b"empty").hexdigest()
    cols = sorted(records[0])
    lines = sorted("\x1f".join(_cell(r[c]) for c in cols) for r in records)
    h = hashlib.sha256("\x1f".join(cols).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def corpus_digest(d: str) -> str:
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    for t in ("documents", "embeddings"):
        tbl = pq.read_table(os.path.join(d, f"{t}.parquet"))
        h.update(repr(tbl.schema).encode())
        h.update(repr(tbl.to_pydict()).encode())
    return h.hexdigest()[:16]


def oracle_key(corpus: str, sql: str) -> str:
    return f"{corpus}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}"


def expected_digests(corpus_dir: str) -> dict[str, str]:
    """Oracle result digest per query: memoized when the corpus and the
    oracle SQL are the ones recorded, otherwise evaluated with DuckDB."""
    from chainweb_data_spark.queries import oracle_sqls

    sqls = dict(oracle_sqls())
    sqls["ann_ivfpq_rerank_topk"] = ivfpq_rerank_oracle(corpus_dir)
    corpus = corpus_digest(corpus_dir)
    known: dict[str, str] = {}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            known.update(json.load(f))
    os.makedirs(CACHE_DIR, exist_ok=True)
    out, con = {}, None
    for q in QUERIES:
        key = oracle_key(corpus, sqls[q])
        cached = os.path.join(CACHE_DIR, f"{key}.json")
        if key not in known and os.path.exists(cached):
            with open(cached) as f:
                known[key] = json.load(f)["digest"]
        if key not in known:
            if con is None:
                con = _duckdb(corpus_dir)
            known[key] = result_digest(con.execute(sqls[q]).df().to_dict("records"))
            with open(cached, "w") as f:
                json.dump({"query": q, "digest": known[key]}, f)
        out[q] = known[key]
    return out


def ivfpq_rerank_oracle(corpus_dir: str) -> str:
    """The library's IVFPQ-rerank oracle rendered for this corpus.  The
    registered oracle embeds the quantizer trained on the gate fixture,
    while the query trains on the data it is given; so the same oracle
    template is rendered with the centroids and codebooks the library's
    pyarrow twins train on this corpus."""
    from unittest import mock

    from chainweb_data_spark.operators import similarity as sim
    from chainweb_data_spark.queries import pipeline as pl

    path = os.path.join(corpus_dir, "embeddings.parquet")
    cents = sim.train_ivf_centroids_parquet(path, pl._IVF_CELLS)
    cb = sim.train_pq_parquet(path, pl._PQ_M, pl._PQ_CODES)
    with mock.patch.object(pl, "_IVF_CENTROIDS", cents), mock.patch.object(pl, "_PQ_CB", cb):
        return pl._ann_ivfpq_rerank_oracle()


def _duckdb(corpus_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(corpus_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# --- the run ---------------------------------------------------------------


def one_pass(spark, fns, order, sf_dir: str, tracer, pass_no: int):
    """Run ``order`` once; returns [(query, seconds, rows)], the pass wall,
    its CPU time and the Spark jobs it ran."""
    out = []
    cpu0, jobs0 = common.tree_cpu_s(), common.jobs_submitted(spark)
    t_pass = time.perf_counter()
    for i, q in enumerate(order):
        t0 = time.perf_counter()
        with tracer.request("curate", q, pass_no * 100 + i):
            with tracer.span("queries.pipeline", fn=q):
                df = fns[q](spark, sf_dir)
            with tracer.span("spark", exec=True):
                rows = df.collect()
            spark.catalog.clearCache()
        out.append((q, time.perf_counter() - t0, rows))
    wall = time.perf_counter() - t_pass
    return out, wall, common.tree_cpu_s() - cpu0, common.jobs_submitted(spark) - jobs0


def run(spark, args, work: str, tracer, session_start_s: float) -> dict:
    from chainweb_data_spark.queries import query_fns
    from chainweb_data_spark.sources.tables import load_table

    fns = query_fns()
    base = os.path.join(work, "corpus")
    setup_s = []
    for _ in range(SETUP_REPEATS):  # rewrites the same corpus; median taken
        t0 = time.perf_counter()
        datagen.write_corpus(base, CORPUS_SEED, N_DOCS, N_VECS)
        for t in ("documents", "embeddings"):
            load_table(spark, base, t).schema
        setup_s.append(time.perf_counter() - t0)
    expected = expected_digests(base)

    warm = os.path.join(work, "warm")
    datagen.write_corpus(warm, CORPUS_SEED + 1, WARM_DOCS, WARM_VECS)
    t0 = time.perf_counter()
    for q in WARM_QUERIES:
        fns[q](spark, warm).collect()
        spark.catalog.clearCache()
    warm_s = time.perf_counter() - t0

    rng = random.Random(args.seed)
    samples: list[tuple[str, float]] = []
    passes: list[float] = []
    cpu: list[float] = []
    jobs: list[int] = []
    failed, errors = 0, []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < args.seconds:
        d = os.path.join(work, f"pass{len(passes)}")
        shutil.copytree(base, d)
        order = list(QUERIES)
        rng.shuffle(order)
        got, wall, cpu_s, n_jobs = one_pass(spark, fns, order, d, tracer, len(passes))
        passes.append(wall)
        cpu.append(cpu_s)
        jobs.append(n_jobs)
        for q, dt, rows in got:
            samples.append((q, dt))
            if result_digest([r.asDict() for r in rows]) != expected[q]:
                failed += 1
                errors.append(f"{q}: result differs from its DuckDB oracle")
        shutil.rmtree(d, ignore_errors=True)

    lat_ms = [dt * 1e3 for _, dt in samples]
    pass_s = common.median(passes)
    rps = len(samples) / sum(passes)
    return {
        "attempted": len(samples),
        "failed": failed,
        "errors": errors[:5],
        "e2e": {
            "setup_s": session_start_s + warm_s + common.median(setup_s),
            "jobs_per_request": sum(jobs) / len(samples),
            "throughput_per_s": rps,
            "cpu_ms_per_request": sum(cpu) * 1e3 / len(samples),
            "p50_ms": pct(lat_ms, 50),
            "p90_ms": pct(lat_ms, 90),
        },
        "named": {
            "curate.pass_s": (pass_s, "s"),
            "curate.passes": (len(passes), "count"),
            "curate.p50_ms": (pct(lat_ms, 50), "ms"),
            "curate.p90_ms": (pct(lat_ms, 90), "ms"),
        },
        "headline": ("curate.pass_s", pass_s, "lower"),
        "detail": {
            "session_start_s": session_start_s,
            "warmup_s": warm_s,
            "pass_cpu_s": cpu,
            "pass_cores_busy": sum(cpu) / sum(passes),
            "corpus_setup_s": setup_s,
            "corpus": {"documents": N_DOCS, "embeddings": N_VECS, "seed": CORPUS_SEED},
            "query_ms": {
                q: common.median([dt * 1e3 for g, dt in samples if g == q]) for q in QUERIES
            },
        },
        "samples": samples,
        "passes": passes,
    }


def layer_metrics(res: dict, jobs: list[dict], spans: list[dict]) -> dict[str, float]:
    from . import eventlog

    n = len(res["passes"])
    out: dict[str, float] = {"curate.pass_s": common.median(res["passes"])}
    by_q = eventlog.by_tag_field(jobs, 2)
    for q in QUERIES:
        tot = eventlog.totals(by_q.get(q, []))
        out[f"queries.pipeline.{q}.wall_ms"] = common.median(
            [dt * 1e3 for g, dt in res["samples"] if g == q]
        )
        for k in ("jobs", "tasks", "executor_ms", "shuffle_write_bytes", "spill_bytes", "python_bytes"):
            out[f"queries.pipeline.{q}.{k}"] = tot[k] / n
    return out
