"""The benchmark's one command.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Runs one workload from the root of a checkout, checks every response,
prints one self-describing row (``{"row": ...}``) and, as the last line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import common  # noqa: E402

WORKLOADS = ("serve", "curate")


def load_spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(common.LIBRARY):
        print(
            f"perfbench: no library at {common.LIBRARY}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    spec = load_spec()
    work = os.path.join(common.ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    common.configure_env(work)
    from perfbench import curate, eventlog, serve, trace

    mod = {"serve": serve, "curate": curate}[args.workload]
    before = common.machine_state()
    eventlog_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        with common.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = common.start_session(f"perfbench-{args.workload}", work, eventlog_dir)
            session_start_s = time.perf_counter() - t0
            tracer = trace.Tracer(bool(args.trace), spark.sparkContext)
            res = mod.run(spark, args, work, tracer, session_start_s)
            rss.sample()
            cached_bytes = sum(
                int(i.memSize()) + int(i.diskSize())
                for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            )
            common.stop_session(spark)
            spark = None
        peak_rss_mb = rss.peak_kb / 1024.0
        after = common.machine_state()
        named = dict(res["named"])
        named["setup_s"] = (res["e2e"]["setup_s"], "s")
        named["jobs_per_request"] = (res["e2e"]["jobs_per_request"], "count")
        named["cpu_ms_per_request"] = (res["e2e"]["cpu_ms_per_request"], "ms")
        named["peak_rss_mb"] = (peak_rss_mb, "MB")
        named["failed_frac"] = (res["failed"] / max(1, res["attempted"]), "fraction")
        row = {
            "meta": common.describe(args, before, after),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "attempted": res["attempted"],
            "failed": res["failed"],
            "errors": res.get("errors", []),
            "detail": res.get("detail", {}),
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        if args.trace:
            spans = tracer.spans
            os.makedirs(common.OUT_DIR, exist_ok=True)
            tracer.write(os.path.join(common.OUT_DIR, f"{args.workload}-seed{args.seed}-spans.jsonl"))
            log = os.path.join(common.OUT_DIR, f"{args.workload}-seed{args.seed}-eventlog.json")
            os.replace(eventlog.find_log(eventlog_dir), log)
            jobs = eventlog.read_jobs(log)
            layer = {m["name"]: 0.0 for m in spec["per_layer"]}
            layer.update(mod.layer_metrics(res, jobs, spans))
            # end-to-end candidates demoted to per-layer (latency percentiles)
            layer.update((k, v) for k, v in res["e2e"].items() if k in layer)
            # requests only: set-up calls (the serial pass) are not requests
            spans = [s for s in spans if s["request"] is not None]
            n_req = max(1, sum(1 for s in spans if s["layer"] == "request"))
            for lname, ms in trace.self_times_ms(spans).items():
                key = f"{lname}.self_ms"
                if key in layer:
                    layer[key] = ms / n_req
            layer["session.start_s"] = session_start_s
            layer["session.cached_bytes_end"] = float(cached_bytes)
            layer["session.peak_rss_mb"] = peak_rss_mb
            row["per_layer"] = layer
            row["trace_overhead"] = trace_overhead(row["meta"], res["headline"])
            metrics = {k: {"value": layer[k], "unit": units[k]} for k in layer}
        else:
            e2e = res["e2e"]
            metrics = {
                m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                for m in spec["end_to_end"]
            }
        common.save_row(row)
        print(json.dumps({"row": row}, default=str))
        print(
            json.dumps(
                {
                    "correct": res["failed"] == 0,
                    "attempted": res["attempted"],
                    "failed": res["failed"],
                    "metrics": metrics,
                }
            )
        )
        return 0
    except Exception:
        traceback.print_exc()
        if spark is not None:
            try:
                common.stop_session(spark)
            except Exception:
                traceback.print_exc()
        return 1
    finally:
        common.remove_tree(work)


def trace_overhead(meta: dict, headline: tuple[str, float, str]) -> dict:
    """``trace.overhead_frac``: the traced headline against the median of
    the untraced runs of the same workload that this checkout recorded
    with the same library and benchmark sources, versions, core count and
    ``--seconds``.  Without such a run the value is null."""
    name, traced, better = headline
    same = ("workload", "seconds", "nproc", "source_sha256", "bench_sha256", "spark", "python")
    base = [
        r["metrics"][name]["value"]
        for r in common.load_rows(meta["workload"], 0)
        if all(r["meta"].get(k) == meta[k] for k in same) and name in r["metrics"]
    ]
    out = {"metric": name, "untraced_runs": len(base), "trace.overhead_frac": None}
    if base:
        untraced = common.median(base)
        frac = untraced / traced - 1.0 if better == "higher" else traced / untraced - 1.0
        out["trace.overhead_frac"] = frac
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
