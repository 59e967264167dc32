"""Shared plumbing for the benchmark: environment, session start, memory
sampling, percentiles and the self-describing result row."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = os.path.join(ROOT, "chainweb_data_spark")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def machine_state() -> dict[str, float]:
    """The 1-minute load average, and the median wall time of a fixed
    pure-Python loop: how fast this machine runs one thread right now.  A
    machine shared with other tenants can slow down for minutes while its
    load average stays flat; the probe shows such a window."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return {"loadavg1": round(os.getloadavg()[0], 2), "probe_ms": statistics.median(times)}


def configure_env(work: str) -> None:
    """Point every scratch location Spark and Python use into ``work``
    (inside the checkout) and give the library this machine's core count.
    Everything else stays at the library's defaults."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(app: str, work: str, eventlog_dir: str | None):
    """``get_spark`` with the library defaults; only scratch paths and, for
    a traced run, an uncompressed single-file event log are added."""
    from chainweb_data_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "local"),
    }
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, then wait for every process this
    run started (the JVM and its Python daemon and workers) to end.  The
    descendants are listed first: once the JVM exits, its children are
    re-parented and no longer look like ours."""
    from pyspark import SparkContext

    started = _descendants()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _wait_gone(started + _descendants(), time.time() + 30)


def _descendants() -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], deadline: float) -> None:
    """Wait for ``pids`` to exit; kill what is left at the deadline."""
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.2)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while time.time() < deadline + 10 and any(_alive(p) for p in pids):
        time.sleep(0.2)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) this process and every live descendant
    have used so far, with what they reaped from children that ended, less
    what ``RssSampler`` spent.  A difference of two readings is the CPU the
    run spent in between: in the driver JVM (its JIT compiler included),
    the PySpark daemon and its Python workers, and here."""
    ticks = 0
    for pid in [os.getpid()] + _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            continue  # ended since it was listed
    return ticks / os.sysconf("SC_CLK_TCK") - RssSampler.cpu_s


def jobs_submitted(spark) -> int:
    """Spark jobs the session has submitted so far: the DAG scheduler's job
    counter, which counts every job (query stages, broadcasts and result
    jobs alike) and, unlike the status store, drops none."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM, the PySpark daemon and its Python workers), summed per
    sample from ``/proc``.  ``cpu_s`` is the CPU its sampling thread has
    used, which ``tree_cpu_s`` leaves out."""

    cpu_s = 0.0

    def __init__(self, interval_s: float = 0.2) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_kb = 0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/status") as f:
                    ppid, kb = None, 0
                    for line in f:
                        if line.startswith("PPid:"):
                            ppid = int(line.split()[1])
                        elif line.startswith("VmRSS:"):
                            kb = int(line.split()[1])
            except (OSError, ValueError):
                continue
            pid = int(name)
            rss[pid] = kb
            if ppid is not None:
                children.setdefault(ppid, []).append(pid)
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))

    def _run(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            self.sample()
            RssSampler.cpu_s += time.thread_time() - t0
            self._stop.wait(self._interval)


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation between closest ranks."""
    if not values:
        raise ValueError("percentile of no samples")
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def source_digest(top: str = LIBRARY) -> str:
    """sha256 over the Python sources under ``top`` (default: the library):
    identifies the code under test when the checkout is not a git
    repository."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(top)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def describe(args, before: dict, after: dict) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "loadavg1_before": before["loadavg1"],
        "loadavg1_after": after["loadavg1"],
        "probe_ms_before": before["probe_ms"],
        "probe_ms_after": after["probe_ms"],
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "bench_sha256": source_digest(os.path.dirname(os.path.abspath(__file__))),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def save_row(row: dict) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{row['meta']['workload']}-seed{row['meta']['seed']}-trace{row['meta']['trace']}.json"
    with open(os.path.join(OUT_DIR, name), "w") as f:
        json.dump(row, f, indent=1, sort_keys=True)


def load_rows(workload: str, trace: int) -> list[dict]:
    if not os.path.isdir(OUT_DIR):
        return []
    out = []
    for name in sorted(os.listdir(OUT_DIR)):
        if name.startswith(f"{workload}-seed") and name.endswith(f"-trace{trace}.json"):
            with open(os.path.join(OUT_DIR, name)) as f:
                out.append(json.load(f))
    return out


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
