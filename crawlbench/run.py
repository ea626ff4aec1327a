"""Crawl-cycle benchmark: one command, three workloads, checked outputs.

    python3 crawlbench/run.py --workload crawl_expand --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
from a traced job (see README.md in this directory). Everything the run
writes goes under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
HISTORY = os.path.join(WORK, "history.jsonl")
SETUP_REPS = 3  # input generation + restore is repeated; setup_s uses the median
MAX_CPUS = 4
DRIVER_MEM = "1g"

END_TO_END = (
    ("setup_s", "s"),
    ("run_s", "s"),
    ("items_per_s", "item/s"),
    ("peak_rss_mb", "MB"),
)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# run context: CPU steal, load, memory of the whole process tree
# ---------------------------------------------------------------------------


def cpu_steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(root_pid: int) -> list[int]:
    """Live processes under ``root_pid`` (zombies excluded)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            state, ppid = _stat(d)[:2]
        except (OSError, IndexError):
            continue
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        kids = children.get(pid, ())
        out.extend(kids)
        todo.extend(kids)
    return out


def alive(pid: int) -> bool:
    try:
        return _stat(str(pid))[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total / 1e6


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and its JVM, then wait until every process the
    run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


class RssSampler(threading.Thread):
    """Samples the process tree's resident memory every ``period`` s.

    The peak is the highest level held for two samples in a row. When the
    JVM starts a process, the child shares the JVM's memory until it calls
    exec, and /proc shows the JVM's whole RSS twice for that instant; a
    single-sample peak would count those instants."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        last = 0.0
        while not self._stop_evt.is_set():
            now = tree_rss_mb(os.getpid())
            self.peak = max(self.peak, min(last, now))
            last = now
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


def configure_env(run_dir: str, cpus: int, event_dir: str | None) -> None:
    """Pin the engine to this checkout and to ``cpus`` cores, before the
    JVM starts. Temp files, shuffle files and Python workers all stay
    under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    submit = [
        # the SQL warehouse directory defaults to the working directory
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        # the whole heap is committed and touched at start, so peak RSS does
        # not depend on when the collector chose to grow the heap
        "--conf", f"spark.driver.defaultJavaOptions=-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    ]
    if event_dir:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    tempfile.tempdir = None  # re-read TMPDIR


def warm_session(spark, cpus: int) -> None:
    """One small job with a shuffle and a ``mapInPandas`` pass on every
    core, so that the session's first-job start-up and the start of its
    Python workers are set-up, not part of the timed job."""
    from pyspark.sql import functions as F

    spark.sparkContext.setJobGroup("bench.warm_session", "session warm-up")
    df = spark.range(0, 100 * cpus, 1, cpus)
    df.mapInPandas(lambda batches: batches, df.schema).groupBy(
        (F.col("id") % 7).alias("k")
    ).count().collect()


def code_id() -> str:
    """Hash of every file of the engine and the benchmark's Python files,
    so that a run is only ever compared with earlier runs of the same code."""
    h = hashlib.sha256()
    for pkg in ("nutch_spark", "crawlbench"):
        for base, dirs, names in os.walk(os.path.join(ROOT, pkg)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(names):
                if pkg == "crawlbench" and not name.endswith(".py"):
                    continue
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def untraced_runs(workload: str, seed: int, code: str) -> list[dict]:
    """Earlier untraced runs of this workload, seed and code in this
    checkout, oldest first."""
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY) as f:
        recs = [json.loads(line) for line in f]
    return [
        r
        for r in recs
        if (r["workload"], r["seed"], r.get("code"), r["trace"]) == (workload, seed, code, 0)
    ]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nutch_spark")):
        print(f"crawlbench: no nutch_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from crawlbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    # everything but the history and the spans lives in a per-process
    # directory that is removed at exit
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return _main(args, traced, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _main(args, traced: bool, run_dir: str) -> int:
    from crawlbench import gen
    from crawlbench.workloads import WORKLOADS

    code = code_id()
    baseline = untraced_runs(args.workload, args.seed, code) if traced else []

    nproc = len(os.sched_getaffinity(0))  # what nproc prints
    cpus = min(nproc, MAX_CPUS)
    event_dir = os.path.join(run_dir, "events") if traced else None
    if event_dir:
        os.makedirs(event_dir)
    configure_env(run_dir, cpus, event_dir)

    steal0, load0 = cpu_steal_s(), os.getloadavg()
    rss = RssSampler()
    rss.start()

    # ---- set-up: session start and its warm-up, then inputs (median of
    # SETUP_REPS passes). No warm-up of the workload: a run measures the
    # cold job a bin/crawl or bin/nutch invocation runs.
    t0 = time.perf_counter()
    from nutch_spark.session import get_spark

    spark = get_spark(f"crawlbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t0
    warm_session(spark, cpus)
    session_s = time.perf_counter() - t0

    from crawlbench.trace import Hook, LayerError, layer_metrics, per_layer_names, read_event_log

    wl = WORKLOADS[args.workload](spark, os.path.join(run_dir, "work"), args.seed, gen.now_for_today())
    prep = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(prep)

    # ---- measured jobs: whole jobs until --seconds have passed
    run_times, check_s, digests, failures, errors = [], [], [], [], []
    hooks = []
    start = time.perf_counter()
    while not run_times or time.perf_counter() - start < args.seconds:
        wl.restore()
        hook = Hook(spark, traced=traced, parent=f"{args.workload}#{len(hooks) + 1}")
        hooks.append(hook)
        t0 = time.perf_counter()
        try:
            wl.run(hook)
        except LayerError as e:
            errors.append(f"{e}: {str(e.__cause__).splitlines()[0]}")
            break
        except Exception as e:  # a failure outside any layer call
            hook.fail()
            errors.append(repr(e))
            break
        run_times.append(time.perf_counter() - t0)
        spark.sparkContext.setJobGroup("bench.check", "output checks")
        try:
            dig, fails = wl.check(hook)
        except Exception as e:  # a check that cannot read its table fails
            dig, fails = {}, [f"check raised {e!r}"]
        hook.fail(len(fails))
        check_s.append(time.perf_counter() - t0 - run_times[-1])
        digests.append(dig)
        failures += fails
    web_fn_s = _web_fn_s(wl) if traced and run_times and not errors else 0.0
    t0 = time.perf_counter()
    stop_spark(spark)
    stop_s = time.perf_counter() - t0
    peak_rss = rss.stop()
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "code": code,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": cpus,
        "driver_mem": DRIVER_MEM,
        "steal_s": round(cpu_steal_s() - steal0, 3),
        "loadavg_start": load0,
        "loadavg_end": os.getloadavg(),
        "jobs": len(run_times),
        "run_times_s": [round(t, 4) for t in run_times],
        "check_s": [round(t, 3) for t in check_s],
        "get_spark_s": round(get_spark_s, 3),
        "session_s": round(session_s, 3),
        "prepare_s": [round(t, 3) for t in prep],
        "stop_s": round(stop_s, 3),
    }

    drift = []
    if any(d != digests[0] for d in digests):
        drift.append("digests differ between jobs of one run")
    if baseline and digests and baseline[-1]["digests"] != digests[0]:
        drift.append("traced digests differ from the untraced run of this seed")
    hooks[-1].fail(len(drift))
    failures += drift
    attempted = sum(h.attempted for h in hooks)
    failed = sum(h.failed for h in hooks)
    correct = not errors and not failures and bool(run_times)
    run_s = statistics.median(run_times) if run_times else 0.0

    if traced:
        hook = hooks[-1]
        hook.write(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
        groups = read_event_log(event_dir)
        values = layer_metrics(hook.spans, groups, cpus)
        values.update(wl.layer_extras)
        values["session.get_spark.self_s"] = get_spark_s
        values["bench.web_fn_s"] = web_fn_s
        # against the untraced runs of this seed and code; 0 without one
        values["trace.overhead_s"] = (
            run_s - statistics.median(h["run_s"] for h in baseline) if baseline else 0.0
        )
        metrics = {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit, _ in per_layer_names()
        }
    else:
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "items_per_s": wl.items / run_s if run_s else 0.0,
            "peak_rss_mb": peak_rss,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        with open(HISTORY, "a") as f:
            rec = dict(context, run_s=run_s, digests=digests[0] if digests else None)
            f.write(json.dumps(rec) + "\n")

    print("context " + json.dumps(context))
    for dig in digests[:1]:
        print("digests " + json.dumps(dig, sort_keys=True))
    for msg in errors + failures:
        print("check failed: " + msg)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _web_fn_s(wl) -> float:
    """Time inside the benchmark's own fetch function during the last job:
    the mean cost of one call, timed here over the job's fetched URLs,
    times the number of calls the job made."""
    log = getattr(wl, "fetch_log", None)
    if log is None:  # recrawl_rank reads its fetch log from the segment
        log = wl.read("crawl", "segment", "crawl_fetch")
    urls = [r["url"] for r in log.select("url").collect()]
    if not urls:
        return 0.0
    sample = urls[:: max(1, len(urls) // 500)]
    t0 = time.perf_counter()
    for u in sample:
        wl.web(u)
    return (time.perf_counter() - t0) / len(sample) * len(urls)


if __name__ == "__main__":
    sys.exit(main())
