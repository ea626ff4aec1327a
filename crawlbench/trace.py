"""Layer spans and the per-layer metrics built from Spark's event log.

A :class:`Hook` sits between the benchmark and every engine call. With
tracing off it only counts layer calls (the ``attempted`` / ``failed``
totals). With tracing on, each call also

1. runs under ``setJobGroup(<span>#<n>)``, so every Spark job it starts
   carries the span instance in its properties;
2. materializes its output before the span closes (``localCheckpoint``),
   so the span's wall time is the layer's own work and not work deferred
   into the next layer;
3. is recorded in memory as a span: name, start, end, parent, round.

After the session stops, :func:`layer_metrics` reads the event log, maps
every task to its span through its stage's job group and sums the task
metrics per span name.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

# the 19 spans the per-layer metrics report, <module>.<function>
SPANS = (
    "operators.inject.inject",
    "operators.generate.generate",
    "operators.fetcher.fetch",
    "operators.fetcher.parse",
    "operators.fetcher.emit_parse_rows",
    "operators.updatedb.update_crawldb",
    "operators.dedup.deduplicate",
    "operators.invertlinks.invert_links",
    "operators.merge.merge_linkdbs",
    "pipeline.atomic_install",
    "operators.webgraph.build_edges",
    "operators.webgraph.node_degrees",
    "operators.linkrank.linkrank",
    "operators.linkrank.update_scores",
    "operators.hostdb.update_hostdb",
    "operators.stats.crawldb_stats",
    "datapipe.textstats.gopher_quality",
    "datapipe.dedup.exact_dedup",
    "datapipe.dedup.minhash_dup_clusters",
)

# (suffix, unit, better) of the six values every span reports
SPAN_FIELDS = (
    ("self_s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("busy_share", "ratio", "higher"),
    ("rows_out", "count", "higher"),
    ("shuffle_mb", "MB", "lower"),
    ("shuffle_stages", "count", "lower"),
)

# (name, unit, better) of the per-layer metrics that are not per-span
EXTRA_METRICS = (
    ("session.get_spark.self_s", "s", "lower"),
    ("session.gc_s", "s", "lower"),
    ("session.spill_mb", "MB", "lower"),
    ("session.task_failures", "count", "lower"),
    ("operators.fetcher.fetch.success_share", "ratio", "higher"),
    ("operators.updatedb.update_crawldb.delta_share", "ratio", "higher"),
    ("operators.linkrank.linkrank.task_skew", "ratio", "lower"),
    ("datapipe.dedup.minhash_dup_clusters.task_skew", "ratio", "lower"),
    ("datapipe.dedup.exact_dedup.planted_recall", "ratio", "higher"),
    ("datapipe.dedup.minhash_dup_clusters.planted_recall", "ratio", "higher"),
    ("bench.web_fn_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)

SKEW_SPANS = ("operators.linkrank.linkrank", "datapipe.dedup.minhash_dup_clusters")


def per_layer_names() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in print order."""
    out = [(f"{s}.{f}", u, b) for s in SPANS for f, u, b in SPAN_FIELDS]
    return out + list(EXTRA_METRICS)


@dataclass
class Span:
    name: str
    group: str  # the Spark job group id of this span instance
    start: float
    end: float
    parent: str
    round: int | None
    rows_out: int | None = None


class LayerError(RuntimeError):
    """A layer call raised; carries the span name."""


class Hook:
    """Wraps layer calls: counts them, and with ``traced`` records spans."""

    def __init__(self, spark, *, traced: bool, parent: str):
        self.spark = spark
        self.traced = traced
        self.parent = parent  # the job every span of this hook belongs to
        self.attempted = 0
        self.failed = 0
        self.spans: list[Span] = []
        self.round: int | None = None  # set by workloads that run rounds
        self._n = 0

    def call(self, span: str, fn, *args, layers: int = 1, **kw):
        """Run one layer call. ``layers`` is how many layer calls ``fn``
        makes (a whole ``crawl_round`` counts as its layers)."""
        self.attempted += layers
        if not self.traced:
            try:
                return fn(*args, **kw)
            except Exception as e:  # counted, then the job aborts
                self.failed += 1
                raise LayerError(span) from e
        self._n += 1
        group = f"{span}#{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, span)
        t0 = time.perf_counter()
        try:
            out = _materialize(fn(*args, **kw))
        except Exception as e:
            self.failed += 1
            raise LayerError(span) from e
        finally:
            t1 = time.perf_counter()
            sc.setJobGroup("bench", "benchmark bookkeeping")
        rec = Span(span, group, t0, t1, self.parent, self.round)
        rec.rows_out = _rows(out, args)
        self.spans.append(rec)
        return out

    def fail(self, n: int = 1) -> None:
        """Count layer outputs that failed their check."""
        self.failed += n

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _materialize(out):
    if hasattr(out, "localCheckpoint"):
        return out.localCheckpoint(eager=True)
    if isinstance(out, dict):
        return {k: _materialize(v) for k, v in out.items()}
    return out


def _rows(out, args) -> int:
    """Rows a layer produced: its output's rows; for a writer
    (``atomic_install``, which returns None) the rows it wrote."""
    if hasattr(out, "count"):
        return out.count()
    if isinstance(out, dict):
        return sum(_rows(v, ()) for v in out.values())
    if args and hasattr(args[0], "count"):
        return args[0].count()
    return 0


# ---------------------------------------------------------------------------
# event log → per-span task metrics
# ---------------------------------------------------------------------------


@dataclass
class TaskAgg:
    """Task metrics of one job group (one span instance)."""

    task_s: float = 0.0
    shuffle_mb: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    failures: int = 0
    shuffle_stages: set[int] = field(default_factory=set)
    durations: list[int] = field(default_factory=list)  # executor run ms per task


def event_log_files(event_dir: str) -> list[str]:
    """The event log files of the one application logged under
    ``event_dir``, in write order (Spark 4 rolls them as events_<n>_<app>)."""
    files = []
    for base, _, names in os.walk(event_dir):
        for n in names:
            if n.startswith("events_"):
                files.append((int(n.split("_")[1]), os.path.join(base, n)))
            elif not n.startswith(("appstatus", ".")):
                files.append((0, os.path.join(base, n)))
    return [p for _, p in sorted(files)]


def _events(event_dir: str):
    for path in event_log_files(event_dir):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(event_dir: str) -> dict[str, TaskAgg]:
    """Task metrics summed per job group, from the Spark event log."""
    stage_group: dict[int, str] = {}
    aggs: dict[str, TaskAgg] = defaultdict(TaskAgg)
    for ev in _events(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            agg = aggs[stage_group.get(ev["Stage ID"], "")]
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            agg.task_s += run_ms / 1000.0
            agg.durations.append(run_ms)
            sw = m.get("Shuffle Write Metrics") or {}
            agg.shuffle_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
            agg.gc_s += m.get("JVM GC Time", 0) / 1000.0
            agg.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
            if ev.get("Task Type") == "ShuffleMapTask":
                agg.shuffle_stages.add(ev["Stage ID"])
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                agg.failures += 1
    return dict(aggs)


def layer_metrics(spans: list[Span], groups: dict[str, TaskAgg], cores: int) -> dict:
    """Per-span-name sums of self time and task metrics, plus the
    session-wide GC / spill / failure totals and the two task skews."""
    out: dict[str, float] = {}
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
    for name in SPANS:
        calls = by_name.get(name, [])
        self_s = sum(s.end - s.start for s in calls)
        task_s = shuffle_mb = 0.0
        stages = 0
        for s in calls:
            g = groups.get(s.group)
            if g is not None:
                task_s += g.task_s
                shuffle_mb += g.shuffle_mb
                stages += len(g.shuffle_stages)
        out[f"{name}.self_s"] = self_s
        out[f"{name}.task_s"] = task_s
        out[f"{name}.busy_share"] = task_s / (self_s * cores) if self_s > 0 else 0.0
        out[f"{name}.rows_out"] = sum(s.rows_out or 0 for s in calls)
        out[f"{name}.shuffle_mb"] = shuffle_mb
        out[f"{name}.shuffle_stages"] = stages
    for name in SKEW_SPANS:
        durations = [
            d for s in by_name.get(name, []) for d in groups.get(s.group, TaskAgg()).durations
        ]
        out[f"{name}.task_skew"] = (
            max(durations) / max(statistics.median(durations), 1) if durations else 0.0
        )
    out["session.gc_s"] = sum(g.gc_s for g in groups.values())
    out["session.spill_mb"] = sum(g.spill_mb for g in groups.values())
    out["session.task_failures"] = sum(g.failures for g in groups.values())
    return out
