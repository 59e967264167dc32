"""``serve``: a closed loop of client threads sharing one SparkSession,
issuing the reference's HTTP endpoint families against a txlog store.

The store is the library's own ingest of a fixed raw feed (see
``ingest.py``), built once per checkout and library version.  A traced run
ingests a fresh one and measures that ingest.

Every family gets the same share of the requests, and each family sends
one fixed request (the fixture family cycles through its three
endpoints).  No traffic of the reference was measured: the shares and the
parameters are assumptions.  The run's seed orders each client's requests.

Every request of the pool is first answered once, serially; that pass warms
the server and its answers (and, for the drains, the full ordered result
set) are what concurrent responses must equal.  Each client waits for its
reply before it sends the next request.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time

from chainweb_data_spark.plans.bounded_scan import LoadGauge, scaled_budget

from . import common, ingest
from .common import pct

FAMILIES = (
    "event_search",
    "code_search",
    "keyset_drain",
    "bounded_scan",
    "account_union",
    "history",
    "recent_stats",
)
CLIENTS = 4
BUDGET_SLICES = 2  # slice budget of a governed scan before the load throttle
EV_COLS = ("requestkey", "block", "chainid", "height", "idx", "qualname", "paramtext")
TX_COLS = ("requestkey", "block", "chainid", "height", "sender", "search_code")
TR_COLS = ("requestkey", "block", "chainid", "height", "idx", "from_acct", "to_acct", "amount")


class RecordingGauge(LoadGauge):
    """The shared ``LoadGauge``, remembering per thread the in-flight count
    the library last read from it: ``bounded_scan`` reads it once per call,
    inside the gauge, to scale that call's slice budget."""

    def __init__(self) -> None:
        super().__init__()
        self._seen = threading.local()

    @property
    def active(self) -> int:
        n = LoadGauge.active.fget(self)
        self._seen.n = n
        return n

    def last_seen(self) -> int:
        return self._seen.n


class Ctx:
    def __init__(self, spark, store: str, tracer) -> None:
        self.spark = spark
        self.store = store
        self.t = tracer
        self.gauge = RecordingGauge()
        self.lock = threading.Lock()
        self.drain_pages: list[int] = []
        self.token_us: list[float] = []
        self.slices: list[int] = []
        self.loads: list[int] = []

    def collect(self, df) -> list[tuple]:
        with self.t.span("spark", exec=True):
            return [tuple(r) for r in df.collect()]

    def read(self, table: str):
        from chainweb_data_spark.streaming.publish import read_published

        with self.t.span("streaming.publish", fn="read_published"):
            return read_published(self.spark, self.store, table)

    def token(self, fn, *a):
        t0 = time.perf_counter()
        with self.t.span("operators.cursor", fn=fn.__name__):
            out = fn(*a)
        with self.lock:
            self.token_us.append((time.perf_counter() - t0) * 1e6)
        return out


# --- the endpoint families -------------------------------------------------


def event_search(ctx: Ctx, term: str):
    from pyspark.sql import functions as F

    from chainweb_data_spark.operators.cursor import encode_next_token, keyset_page
    from chainweb_data_spark.operators.search import event_search_predicate
    from chainweb_data_spark.queries.chainweb import EVENTS_CURSOR

    ev = ctx.read("events")
    with ctx.t.span("operators.search"):
        pred = event_search_predicate(
            F.col("qualname"), F.col("paramtext"), F.col("module"), search=term
        )
    with ctx.t.span("operators.cursor", fn="keyset_page"):
        page = keyset_page(ev.filter(pred), EVENTS_CURSOR, None, 25).select(*EV_COLS)
    rows = ctx.collect(page)
    token = None
    if len(rows) == 25:
        last = dict(zip(EV_COLS, rows[-1]))
        token = ctx.token(encode_next_token, [last[c] for c in EVENTS_CURSOR.cols])
    return rows + [token]


def code_search(ctx: Ctx, needle: str):
    from pyspark.sql import functions as F

    from chainweb_data_spark.operators.cursor import CursorSpec, keyset_page
    from chainweb_data_spark.operators.search import code_search_predicate
    from chainweb_data_spark.queries.chainweb import continuation_histories

    tx = ctx.read("transactions")
    with ctx.t.span("queries.chainweb", fn="continuation_histories"):
        hist = continuation_histories(tx).select(
            F.col("start_rk").alias("requestkey"), "initial_code"
        )
    with ctx.t.span("operators.search"):
        pred = code_search_predicate(F.col("code"), F.col("initial_code"), needle)
    spec = CursorSpec(cols=("height", "requestkey", "block"), descs=(True, True, False))
    with ctx.t.span("operators.cursor", fn="keyset_page"):
        page = keyset_page(
            tx.join(F.broadcast(hist), "requestkey", "left")
            .withColumn("search_code", F.coalesce("code", "initial_code", F.lit("")))
            .filter(pred),
            spec,
            None,
            40,
        ).select(*TX_COLS)
    return ctx.collect(page)


def keyset_drain(ctx: Ctx, param: tuple[int, str]):
    """Follow next-tokens until an under-filled page: the client-side drain
    of ``/txs/events`` for one chain and event name."""
    from pyspark.sql import functions as F

    from chainweb_data_spark.operators.cursor import (
        decode_next_token,
        encode_next_token,
        keyset_page,
    )
    from chainweb_data_spark.queries.chainweb import EVENTS_CURSOR

    chain, name = param
    base = ctx.read("events").filter(
        (F.col("chainid") == chain) & (F.col("name") == name)
    )
    limit, token, out, pages = 10, None, [], 0
    while True:
        cursor = tuple(ctx.token(decode_next_token, token)[0]) if token else None
        with ctx.t.span("operators.cursor", fn="keyset_page"):
            page = keyset_page(base, EVENTS_CURSOR, cursor, limit).select(*EV_COLS)
        rows = ctx.collect(page)
        pages += 1
        out.extend(rows)
        if len(rows) < limit:
            break
        last = dict(zip(EV_COLS, rows[-1]))
        token = ctx.token(encode_next_token, [last[c] for c in EVENTS_CURSOR.cols])
    with ctx.lock:
        ctx.drain_pages.append(pages)
    return out


def bounded_scan(ctx: Ctx, account: str):
    """Drain the governed scan: every call shares one ``LoadGauge`` and the
    pinned log version rides along from the first call."""
    from pyspark.sql import functions as F

    from chainweb_data_spark.plans.bounded_scan import bounded_scan_published
    from chainweb_data_spark.queries.chainweb import EVENTS_CURSOR

    pred = F.col("paramtext").contains(account)
    cursor, version, out = None, None, []
    while True:
        with ctx.t.span("plans.bounded_scan", exec=True):
            res, version = bounded_scan_published(
                ctx.spark,
                ctx.store,
                "events",
                pred,
                EVENTS_CURSOR,
                cursor=cursor,
                version=version,
                limit=20,
                slice_width=60,
                budget_slices=BUDGET_SLICES,
                gauge=ctx.gauge,
            )
        with ctx.lock:
            ctx.slices.append(res.slices_examined)
            ctx.loads.append(ctx.gauge.last_seen())
        out.extend(tuple(r[c] for c in EV_COLS) for r in res.rows)
        if res.next_cursor is None:
            return out
        cursor = res.next_cursor


def account_union(ctx: Ctx, account: str):
    from pyspark.sql import functions as F

    from chainweb_data_spark.operators.cursor import CursorSpec, keyset_page

    tr = ctx.read("transfers")
    coin = F.col("modulename") == "coin"
    legs = tr.filter((F.col("from_acct") == account) & coin).unionAll(
        tr.filter((F.col("to_acct") == account) & coin)
    )
    spec = CursorSpec(
        cols=("height", "requestkey", "idx", "block"), descs=(True, True, False, False)
    )
    with ctx.t.span("operators.cursor", fn="keyset_page"):
        page = keyset_page(legs, spec, None, 40).select(*TR_COLS)
    return ctx.collect(page)


def history(ctx: Ctx, start_rk: str):
    from chainweb_data_spark.streaming.silver import lookup_history

    with ctx.t.span("streaming.silver", fn="lookup_history"):
        df = lookup_history(ctx.spark, ctx.store, start_rk)
    return ctx.collect(df)


def recent_stats(ctx: Ctx, name: str):
    """``cw_*`` endpoints that exist only over the committed fixture, issued
    as the registry holds them."""
    from chainweb_data_spark.queries import query_fns

    with ctx.t.span("queries.registry", fn=name):
        df = query_fns()[name](ctx.spark, "")
    return ctx.collect(df)


HANDLERS = {
    "event_search": event_search,
    "code_search": code_search,
    "keyset_drain": keyset_drain,
    "bounded_scan": bounded_scan,
    "account_union": account_union,
    "history": history,
    "recent_stats": recent_stats,
}


# --- set-up ----------------------------------------------------------------


DRAIN_MAX_ROWS = 40  # a drained (chain, event name) spans at most 5 pages
FIXTURE_ENDPOINTS = ("cw_recent_txs", "cw_stats", "cw_richlist")
POOL_SEED = 42


def request_pool(store: str) -> dict[str, list]:
    """The requests of each endpoint family.  Each family's parameter is
    drawn once, with the fixed ``POOL_SEED``, from the values the store
    holds (read from its files, not through Spark): event names, the coin
    functions in transaction code, (chain, event name) pairs small enough
    to drain, transfer accounts and continuation tips.  The fixture family
    holds its three endpoints.  Parameters drawn per run made ``serve.qps``
    spread too far from seed to seed for a run of this length, so every
    run sends the same set."""
    import collections
    import re

    import pyarrow.parquet as pq

    from chainweb_data_spark.streaming.silver import HISTORY

    def column(table: str, *cols: str) -> list:
        t = ingest.published_arrow(store, table, cols)
        return list(zip(*(t.column(c).to_pylist() for c in cols)))

    verb = re.compile(r"^\(coin\.([a-z-]+)")
    codes = [m.group(1) for (c,) in column("transactions", "code") if c and (m := verb.match(c))]
    events = collections.Counter(column("events", "chainid", "name"))
    accounts = {a for pair in column("transfers", "from_acct", "to_acct") for a in pair} - {""}
    tips = pq.read_table(os.path.join(store, HISTORY), columns=["start_rk"]).column(0)
    candidates = {
        "event_search": {name for _, name in events},
        "code_search": set(codes),
        "keyset_drain": {k for k, n in events.items() if n <= DRAIN_MAX_ROWS},
        "bounded_scan": accounts,
        "account_union": accounts,
        "history": set(tips.to_pylist()),
    }
    rng = random.Random(POOL_SEED)
    pool = {fam: [rng.choice(sorted(vals))] for fam, vals in candidates.items()}
    pool["recent_stats"] = list(FIXTURE_ENDPOINTS)
    return pool


def full_set(ctx: Ctx, family: str, param) -> list[tuple] | None:
    """The complete ordered result a drain must enumerate exactly once."""
    from pyspark.sql import functions as F

    from chainweb_data_spark.queries.chainweb import EVENTS_CURSOR

    ev = ctx.read("events")
    if family == "keyset_drain":
        chain, name = param
        df = ev.filter((F.col("chainid") == chain) & (F.col("name") == name))
    elif family == "bounded_scan":
        df = ev.filter(F.col("paramtext").contains(param))
    else:
        return None
    return [tuple(r) for r in df.orderBy(*EVENTS_CURSOR.order_by()).select(*EV_COLS).collect()]


# --- the run ---------------------------------------------------------------


def cached_store(spark, work: str) -> tuple[str, float | None]:
    """The store this checkout's library ingests from the fixed feed,
    built on first use and kept under ``.perfbench_cache/`` (keyed by the
    library source digest, so changed code gets its own store).  Returns
    the path and the build time when this call built it."""
    key = "serve-store-{}-{}".format(common.source_digest(), ingest.FEED_KEY)
    path = os.path.join(common.ROOT, ".perfbench_cache", key)
    if os.path.isdir(path):
        return path, None
    t0 = time.perf_counter()
    ingest_child(work, path)
    return path, time.perf_counter() - t0


def ingest_child(work: str, dest: str, *report: str) -> None:
    """Ingest the store in a process of its own, so that the JVM which
    serves starts as cold in a traced run, or in the run that builds the
    cache, as in every other run."""
    subprocess.run(
        [sys.executable, "-m", "perfbench.ingest", os.path.join(work, "build"), dest, *report],
        cwd=common.ROOT,
        stdout=sys.stderr,
        check=True,
        timeout=600,
    )


def run(spark, args, work: str, tracer, session_start_s: float) -> dict:
    ing = None
    if tracer.enabled:
        store, report = os.path.join(work, "store"), os.path.join(work, "ingest.json")
        ingest_child(work, store, report)
        with open(report) as f:
            ing = json.load(f)
        build_s = ing["build_s"]
    else:
        store, build_s = cached_store(spark, work)
    ctx = Ctx(spark, store, tracer)
    t0 = time.perf_counter()
    pool = request_pool(store)
    requests = [(fam, param) for fam in FAMILIES for param in pool[fam]]
    serial = {}
    for fam, param in requests:
        serial[(fam, param)] = HANDLERS[fam](ctx, param)
    warm_s = time.perf_counter() - t0
    for fam, param in requests:
        expect = full_set(ctx, fam, param)
        if expect is not None and serial[(fam, param)] != expect:
            raise RuntimeError(f"serial {fam}({param!r}) does not enumerate its full set")
    ctx.drain_pages.clear()
    ctx.token_us.clear()
    ctx.slices.clear()
    ctx.loads.clear()
    spark.catalog.clearCache()

    results: list[tuple[str, object, float, bool]] = []
    errors: list[str] = []
    res_lock = threading.Lock()
    rid_counter = iter(range(1, 1 << 30))

    def client(k: int) -> None:
        """Closed loop in whole rounds: each round is a fresh seeded
        permutation of the families, so every client sends each family once
        per round, and the last round started before the deadline is
        finished.  A family with several requests sends them in turn, from
        an offset per client."""
        rng = random.Random(args.seed * 1000 + k)
        turn = dict.fromkeys(FAMILIES, k)
        deck: list = []
        while deck or time.perf_counter() < deadline:
            if not deck:
                deck = rng.sample(FAMILIES, len(FAMILIES))
            fam = deck.pop()
            param = pool[fam][turn[fam] % len(pool[fam])]
            turn[fam] += 1
            with res_lock:
                rid = next(rid_counter)
            t0 = time.perf_counter()
            ok = False
            try:
                with tracer.request("serve", fam, rid):
                    got = HANDLERS[fam](ctx, param)
                ok = got == serial[(fam, param)]
            except Exception as e:  # a failed request is counted, not fatal
                with res_lock:
                    errors.append(f"{fam}: {type(e).__name__}: {e}"[:300])
            dt = time.perf_counter() - t0
            with res_lock:
                results.append((fam, param, dt, ok))

    cpu0, jobs0 = common.tree_cpu_s(), common.jobs_submitted(spark)
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    threads = [threading.Thread(target=client, args=(k,)) for k in range(CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    elapsed = time.perf_counter() - t_start
    cpu_s, jobs = common.tree_cpu_s() - cpu0, common.jobs_submitted(spark) - jobs0

    lat_ms = [dt * 1e3 for _, _, dt, _ in results]
    n_fail = sum(1 for *_, ok in results if not ok)
    if ing is not None:  # traced runs also check their own ingest
        errors += ing["errors"]
    setup = session_start_s + warm_s
    # closed loop without think time: each client's rate is 1 / its mean
    # latency, so the total is CLIENTS / mean latency (Little's law).  The
    # mean is the mix's: every family weighs the same, and each request of
    # a family an equal part of it, however many of each a run completed.
    cells: dict[tuple[str, object], list[float]] = {}
    for fam, param, dt, _ in results:
        cells.setdefault((fam, param), []).append(dt)
    mix_latency = statistics.fmean(
        statistics.fmean(statistics.fmean(cells[(fam, p)]) for p in pool[fam])
        for fam in FAMILIES
    )
    qps = CLIENTS / mix_latency
    return {
        "attempted": len(results) + (ing["attempted"] if ing else 0),
        "failed": n_fail + (ing["failed"] if ing else 0),
        "errors": errors[:5],
        "e2e": {
            "setup_s": setup,
            "jobs_per_request": jobs / len(results),
            "throughput_per_s": qps,
            "cpu_ms_per_request": cpu_s * 1e3 / len(results),
            "p50_ms": pct(lat_ms, 50),
            "p90_ms": pct(lat_ms, 90),
        },
        "named": {
            "serve.qps": (qps, "1/s"),
            "serve.p50_ms": (pct(lat_ms, 50), "ms"),
            "serve.p90_ms": (pct(lat_ms, 90), "ms"),
            "serve.samples": (len(lat_ms), "count"),
        },
        "headline": ("serve.qps", qps, "higher"),
        "detail": {
            "session_start_s": session_start_s,
            "pool_and_serial_pass_s": warm_s,
            "loop_s": elapsed,
            "loop_cpu_s": cpu_s,
            "loop_cores_busy": cpu_s / elapsed,
            "store_build_s": build_s,
            "pool": [f"{f}:{p}" for f, p in requests],
            "per_family_p50_ms": {
                f: pct([dt * 1e3 for g, _, dt, _ in results if g == f], 50) for f in FAMILIES
            },
        },
        "ctx": ctx,
        "ingest": ing,
    }


def layer_metrics(res: dict, jobs: list[dict], spans: list[dict]) -> dict[str, float]:
    """Per-layer numbers of one traced serve run."""
    from . import eventlog

    ctx = res["ctx"]
    out: dict[str, float] = {}
    by_fam = eventlog.by_tag_field(jobs, 2)
    roots = {s["id"]: s for s in spans if s["parent"] is None and "family" in s}
    by_id = {s["id"]: s for s in spans}
    exec_ms: dict[int, float] = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        if s.get("exec") and root["id"] in roots:
            exec_ms[root["id"]] = exec_ms.get(root["id"], 0.0) + (s["end"] - s["start"]) * 1e3
    for fam in FAMILIES:
        rs = [r for r in roots.values() if r["family"] == fam]
        n = max(1, len(rs))
        tot = sum((r["end"] - r["start"]) * 1e3 for r in rs)
        ex = sum(exec_ms.get(r["id"], 0.0) for r in rs)
        fj = by_fam.get(fam, [])
        out[f"queries.{fam}.build_ms"] = (tot - ex) / n
        out[f"queries.{fam}.exec_ms"] = ex / n
        out[f"spark.{fam}.jobs"] = len(fj) / n
        out[f"spark.{fam}.tasks"] = sum(j["tasks"] for j in fj) / n
    tagged = [j for js in by_fam.values() for j in js]
    out["spark.serve.sched_wait_ms"] = (
        sum(j["sched_wait_ms"] for j in tagged) / len(tagged) if tagged else 0.0
    )
    out["plans.bounded_scan.slices_examined"] = (
        sum(ctx.slices) / len(ctx.slices) if ctx.slices else 0.0
    )
    # the budget each call ran with: the library's own throttle applied to
    # the load it read from the shared gauge (this call included)
    budgets = [scaled_budget(BUDGET_SLICES, n) for n in ctx.loads]
    out["plans.bounded_scan.gauge_active"] = (
        sum(ctx.loads) / len(ctx.loads) if ctx.loads else 0.0
    )
    out["plans.bounded_scan.scaled_budget"] = (
        sum(budgets) / len(budgets) if budgets else 0.0
    )
    out["operators.cursor.pages_per_drain"] = (
        sum(ctx.drain_pages) / len(ctx.drain_pages) if ctx.drain_pages else 0.0
    )
    out["operators.cursor.token_us"] = (
        common.median(ctx.token_us) if ctx.token_us else 0.0
    )
    rp = [(s["end"] - s["start"]) * 1e3 for s in spans if s.get("fn") == "read_published"]
    lh = [(r["end"] - r["start"]) * 1e3 for r in roots.values() if r["family"] == "history"]
    out["streaming.publish.read_published_ms"] = common.median(rp) if rp else 0.0
    out.update(res["ingest"]["metrics"])
    out["streaming.silver.lookup_history_ms"] = common.median(lh) if lh else 0.0
    return out
