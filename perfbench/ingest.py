"""Ingest of the serve store: the raw feed through ``listen_stream`` into a
fresh txlog store, with an optional concurrent snapshot reader.

The feed is ``fixtures.generate`` output (orphan twins included) split into
height-ordered files with a share of blocks re-delivered in later files.
``listen_stream`` reads up to four files per trigger, so the feed arrives
as several micro-batches, each committed as one txlog version plus the
silver continuation-history update.

Checks (traced runs): the published tables equal ``payload_to_tables``
over the de-duplicated feed, by primary-key set and row hash; every reader
response matches the row count that the txlog's footer metadata records
for the version it pinned.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import threading
import time

from . import common, datagen

STORE_SEED = 42
N_CHAINS, MAX_HEIGHT = 2, 160
EVENT_MIN_HEIGHT = 60  # fixtures.generate.ACTIVATION_FLOOR
BLOCKS_PER_FILE = 40  # 316 blocks -> 8 files -> 2 micro-batches
REDELIVER_FRAC = 0.05
TABLES = ("blocks", "transactions", "events", "transfers", "signers", "minerkeys")
FEED_KEY = f"{N_CHAINS}x{MAX_HEIGHT}-s{STORE_SEED}-f{BLOCKS_PER_FILE}-r{REDELIVER_FRAC}"


def feed_rows() -> list[dict]:
    return datagen.raw_feed(STORE_SEED, N_CHAINS, MAX_HEIGHT)


def continuation_tips(rows: list[dict], n: int = 2) -> list[str]:
    """Request keys of continuation transactions in the feed."""
    out = []
    for r in rows:
        for tx, _ in json.loads(r["payload"])["transactions"]:
            t = json.loads(base64.urlsafe_b64decode(tx + "=" * (-len(tx) % 4)))
            if "cont" in json.loads(t["cmd"])["payload"]:
                out.append(t["hash"])
    return sorted(out)[:n]


def run_stream(spark, feed: str, store: str) -> list:
    from chainweb_data_spark.streaming.listen import listen_stream

    q = listen_stream(
        spark,
        feed,
        store,
        event_min_height=EVENT_MIN_HEIGHT,
        available_now=True,
        atomic=True,
        continuation_history=True,
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"ingest failed: {q.exception()}")
    return [p for p in q.recentProgress if p.numInputRows > 0]


class Reader:
    """Closed-loop snapshot reader against the growing store: pinned
    ``read_published`` counts, governed scans and history lookups.

    The silver history is a plain parquet directory, not a txlog table:
    read while its first write is in flight, ``lookup_history`` fails to
    infer a schema.  So the reader looks history up only once that first
    write has committed (``_SUCCESS``), as a server would wait for it."""

    def __init__(self, spark, store: str, tips: list[str]) -> None:
        self.spark, self.store, self.tips = spark, store, tips
        self.stop = threading.Event()
        self.samples: list[dict] = []
        self.errors: list[str] = []
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "Reader":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop.set()
        self._thread.join(timeout=120)

    def _version(self) -> int:
        from chainweb_data_spark.streaming.publish import read_manifest

        try:
            return int(read_manifest(self.store)["version"])
        except (OSError, ValueError, KeyError):
            return 0

    def _loop(self) -> None:
        from pyspark.sql import functions as F

        from chainweb_data_spark.plans.bounded_scan import bounded_scan_published
        from chainweb_data_spark.queries.chainweb import EVENTS_CURSOR
        from chainweb_data_spark.streaming.publish import read_published
        from chainweb_data_spark.streaming.silver import HISTORY, lookup_history

        k = 0
        while not self.stop.is_set():
            v = self._version()
            if v < 2:  # version 1 adopts the empty directory
                time.sleep(0.1)
                continue
            kind = ("read_published", "bounded_scan", "lookup_history")[k % 3]
            k += 1
            t0 = time.perf_counter()
            try:
                if kind == "read_published":
                    df = read_published(self.spark, self.store, "transactions", version=v)
                    n = 0 if df is None else df.count()
                    self.samples.append({"kind": kind, "v": v, "n": n})
                elif kind == "bounded_scan":
                    res, _ = bounded_scan_published(
                        self.spark, self.store, "events",
                        F.col("name") == "TRANSFER", EVENTS_CURSOR,
                        version=v, limit=20, slice_width=60, budget_slices=2,
                    )
                    ok = all(r["name"] == "TRANSFER" for r in res.rows)
                    self.samples.append({"kind": kind, "v": v, "ok": ok})
                elif os.path.exists(os.path.join(self.store, HISTORY, "_SUCCESS")):
                    tip = self.tips[k % len(self.tips)]
                    lookup_history(self.spark, self.store, tip).collect()
                    self.samples.append({"kind": kind, "v": v})
                else:
                    continue
            except Exception as e:  # counted as a failed read
                self.errors.append(f"{kind}@v{v}: {type(e).__name__}: {e}"[:300])
                self.samples.append({"kind": kind, "v": v, "ok": False})
            self.samples[-1]["ms"] = (time.perf_counter() - t0) * 1e3


def published_arrow(store: str, table: str, columns):
    """``table`` at the newest txlog version, read with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chainweb_data_spark.streaming.publish import read_manifest

    tdir = os.path.join(store, f"{table}.parquet")
    files = read_manifest(store)["tables"].get(table, [])
    return pa.concat_tables(
        pq.read_table(os.path.join(tdir, f), columns=list(columns)) for f in files
    )


def footer_rows(store: str, table: str, version: int | None = None) -> int:
    """Rows of ``table`` at ``version`` (default: newest), from the footers
    of the files the txlog lists for it."""
    import pyarrow.parquet as pq

    from chainweb_data_spark.streaming.publish import read_manifest

    files = read_manifest(store, version)["tables"].get(table, [])
    tdir = os.path.join(store, f"{table}.parquet")
    return sum(pq.ParquetFile(os.path.join(tdir, f)).metadata.num_rows for f in files)


def check_tables(spark, rows: list[dict], store: str) -> list[str]:
    """Published tables against ``payload_to_tables`` over the de-duplicated
    feed: same primary-key set, same row hash."""
    from chainweb_data_spark.ingest.transforms import payload_to_tables
    from chainweb_data_spark.schemas.payload import RAW_SCHEMA
    from chainweb_data_spark.streaming.listen import TABLE_PKS
    from chainweb_data_spark.streaming.publish import read_published

    raw = spark.createDataFrame(
        [(r["header"], r["powHash"], r["payload"]) for r in rows], RAW_SCHEMA
    )
    expected = payload_to_tables(raw, event_min_height=EVENT_MIN_HEIGHT)
    bad = []
    for t in TABLES:
        exp = expected[t].dropDuplicates(list(TABLE_PKS[t]))
        got = read_published(spark, store, t)
        cols = sorted(set(exp.columns) & set(got.columns))
        pk = TABLE_PKS[t]

        def digest(df):
            rs = df.select(*cols).collect()
            keys = {tuple(r[c] for c in pk) for r in rs}
            h = hashlib.sha256()
            for line in sorted(repr(tuple(r)) for r in rs):
                h.update(line.encode())
            return keys, h.hexdigest(), len(rs)

        ek, eh, en = digest(exp)
        gk, gh, gn = digest(got)
        if ek != gk or eh != gh or en != gn:
            bad.append(f"{t}: published {gn} rows != expected {en} (pk or row hash differs)")
    return bad


def store_facts(store: str) -> dict[str, float]:
    from chainweb_data_spark.streaming.publish import history, read_manifest

    def du(path: str) -> int:
        total = 0
        for d, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    data = sum(
        du(os.path.join(store, n))
        for n in os.listdir(store)
        if n.endswith(".parquet")
    )
    return {
        "streaming.publish.commits": float(len(history(store))),
        "streaming.publish.live_files": float(
            sum(len(v) for v in read_manifest(store)["tables"].values())
        ),
        "streaming.publish.txlog_bytes": float(du(os.path.join(store, "_manifest"))),
        "streaming.publish.data_bytes": float(data),
    }


def build(spark, work: str, check: bool) -> dict:
    """Ingest the feed into ``work/store``.  With ``check``, a reader runs
    against the store while it grows and the result is checked."""
    rows = feed_rows()
    feed = os.path.join(work, "feed")
    store = os.path.join(work, "store")
    facts = datagen.write_feed_files(rows, feed, STORE_SEED, BLOCKS_PER_FILE, REDELIVER_FRAC)
    out = {"store": store, "feed": facts}
    t0 = time.perf_counter()
    if not check:
        out["progress"] = run_stream(spark, feed, store)
        out["build_s"] = time.perf_counter() - t0
        return out
    with Reader(spark, store, continuation_tips(rows)) as reader:
        out["progress"] = run_stream(spark, feed, store)
        out["build_s"] = time.perf_counter() - t0
    errors = list(reader.errors)
    for s in reader.samples:
        if s["kind"] == "read_published" and "n" in s:
            s["ok"] = s["n"] == footer_rows(store, "transactions", s["v"])
    errors += [
        f"reader {s['kind']}@v{s['v']}: wrong answer"
        for s in reader.samples
        if s.get("ok") is False and s["kind"] != "lookup_history"
    ]
    table_errors = check_tables(spark, rows, store)
    out["reader"] = reader.samples
    out["attempted"] = len(reader.samples) + len(TABLES)
    out["failed"] = sum(1 for s in reader.samples if s.get("ok") is False) + len(table_errors)
    out["errors"] = (errors + table_errors)[:5]
    return out


def main(argv: list[str]) -> int:
    """``python3 -m perfbench.ingest <work> <dest> [<report>]``: ingest the
    feed in a session of its own and move the finished store to ``dest``.
    With a report path the ingest is traced: a reader runs against the
    growing store, the result is checked, and the checks and the ingest's
    per-layer metrics are written to the report as JSON."""
    work, dest, *report = argv
    common.configure_env(work)
    eventlog_dir = os.path.join(work, "eventlog") if report else None
    spark = common.start_session("perfbench-ingest", work, eventlog_dir)
    try:
        built = build(spark, work, check=bool(report))
    finally:
        common.stop_session(spark)
    if report:
        from . import eventlog

        jobs = eventlog.read_jobs(eventlog.find_log(eventlog_dir))
        summary = {k: built[k] for k in ("build_s", "attempted", "failed", "errors")}
        summary["metrics"] = layer_metrics(built, jobs)
        with open(report[0], "w") as f:
            json.dump(summary, f)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    try:
        os.rename(built["store"], dest)
    except OSError:
        if not os.path.isdir(dest):  # another run finished it first
            raise
    common.remove_tree(work)
    return 0


def layer_metrics(ing: dict, jobs: list[dict]) -> dict[str, float]:
    from . import eventlog

    prog = ing["progress"]
    out: dict[str, float] = {}
    for key, name in (
        ("getBatch", "get_batch_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("addBatch", "add_batch_ms"),
        ("walCommit", "wal_commit_ms"),
    ):
        out[f"streaming.listen.{name}"] = common.median(
            [float(p.durationMs.get(key, 0)) for p in prog]
        )
    rows_in = sum(p.numInputRows for p in prog)
    out["streaming.listen.rows_per_batch"] = rows_in / len(prog)
    # rows the ingest dropped: feed rows in minus the block rows it committed
    committed = footer_rows(ing["store"], "blocks")
    out["streaming.listen.replay_dropped_frac"] = 1.0 - committed / rows_in
    batch_ms = [float(p.durationMs["triggerExecution"]) for p in prog]
    out["ingest.batch_p50_ms"] = common.median(batch_ms)
    out["ingest.blocks_per_s"] = committed / ing["build_s"]
    by_batch: dict[str, list[dict]] = {}
    for j in jobs:
        if j["batch_id"] is not None:
            by_batch.setdefault(j["batch_id"], []).append(j)
    tot = eventlog.totals([j for js in by_batch.values() for j in js])
    n = max(1, len(by_batch))
    for k in ("jobs", "tasks", "executor_ms", "shuffle_write_bytes"):
        out[f"spark.ingest.{k}_per_batch"] = tot[k] / n
    facts = store_facts(ing["store"])
    out.update(facts)
    out["ingest.bytes_per_raw_byte"] = (
        facts["streaming.publish.txlog_bytes"] + facts["streaming.publish.data_bytes"]
    ) / ing["feed"]["raw_bytes"]
    reads = [s["ms"] for s in ing.get("reader", []) if "ms" in s]
    out["ingest.read_p50_ms"] = common.pct(reads, 50) if reads else 0.0
    out["ingest.batch_p95_ms"] = common.pct(batch_ms, 95)
    return out


if __name__ == "__main__":
    import sys

    sys.exit(main(sys.argv[1:]))
