"""Tests of the benchmark itself: seeded inputs, output checks, metric names.

    python3 -m pytest crawlbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timezone

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from crawlbench import checks, gen  # noqa: E402
from crawlbench.run import END_TO_END  # noqa: E402
from crawlbench.trace import Span, layer_metrics, per_layer_names, read_event_log  # noqa: E402

NOW = datetime(2026, 1, 1, tzinfo=timezone.utc)
SMALL_WEB = (20, 2000)  # n_hosts, n_pages


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from nutch_spark.session import get_spark

    s = get_spark("crawlbench-tests")
    yield s
    s.stop()


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------


def _responses(seed: int) -> list:
    web = gen.SyntheticWeb(seed, *SMALL_WEB)
    return [web(u) for u in web.urls()[:300]]


def test_web_same_seed_same_responses_other_seed_differs():
    assert _responses(5) == _responses(5)
    assert _responses(5) != _responses(6)
    assert gen.SyntheticWeb(5, *SMALL_WEB).sizes != gen.SyntheticWeb(6, *SMALL_WEB).sizes


def test_web_plants_every_kind_and_mirrors_share_bytes():
    web = gen.SyntheticWeb(3, *SMALL_WEB)
    kinds = {web.kind(u) for u in web.urls()}
    assert kinds == {"page", "dup", "near", "low"}
    dup = next(u for u in web.urls() if web.kind(u) == "dup" and web.status(u) == "fetch_success")
    assert web(dup)[1] == web.body(web.homepage(dup))


def test_seed_list_same_seed_identical_other_seed_differs():
    a = gen.SyntheticWeb(5, *SMALL_WEB).seed_list(5, 50)
    assert a == gen.SyntheticWeb(5, *SMALL_WEB).seed_list(5, 50)
    assert a != gen.SyntheticWeb(6, *SMALL_WEB).seed_list(5, 50)
    assert len(set(a)) == 55 and all(u.endswith("/p0") for u in a[:5])


def test_stored_crawl_same_seed_identical_other_seed_differs():
    a = gen.stored_crawl(9, NOW, *SMALL_WEB)
    b = gen.stored_crawl(9, NOW, *SMALL_WEB)
    c = gen.stored_crawl(10, NOW, *SMALL_WEB)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not any(x.equals(z) for x, z in zip(a, c))


# ---------------------------------------------------------------------------
# output checks reject corrupted results
# ---------------------------------------------------------------------------

CRAWLDB = "url string, status string, score float, signature binary"


def _db(spark, rows):
    return spark.createDataFrame(rows, CRAWLDB)


GOOD_DB = [
    ("http://a/1", "db_fetched", 1.0, b"s1"),
    ("http://a/2", "db_duplicate", 0.5, b"s1"),
    ("http://a/3", "db_fetched", 0.2, b"s2"),
    ("http://a/4", "db_unfetched", 0.1, None),
]


def test_unique_urls_rejects_duplicated_url(spark):
    assert checks.unique_urls(_db(spark, GOOD_DB)) == []
    assert checks.unique_urls(_db(spark, GOOD_DB + [GOOD_DB[0]]))


def test_one_keeper_per_signature_rejects_zero_or_two_keepers(spark):
    assert checks.one_keeper_per_signature(_db(spark, GOOD_DB)) == []
    two = [GOOD_DB[0], ("http://a/2", "db_fetched", 0.5, b"s1")] + GOOD_DB[2:]
    assert checks.one_keeper_per_signature(_db(spark, two))
    none = [("http://a/1", "db_duplicate", 1.0, b"s1")] + GOOD_DB[1:]
    assert checks.one_keeper_per_signature(_db(spark, none))


def test_fetchlist_covered_rejects_missing_fetch_row(spark):
    fl = spark.createDataFrame([("http://a/1",), ("http://a/2",)], "url string")
    log = spark.createDataFrame([("http://a/1", "fetch_success"), ("http://a/2", "fetch_gone")], "url string, status string")
    assert checks.fetchlist_covered(fl, log) == []
    assert checks.fetchlist_covered(fl, log.filter("url = 'http://a/1'"))


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), -0.5, None])
def test_scores_finite_rejects_bad_score(spark, bad):
    good = [("http://a/1", 0.3), ("http://a/2", 1.2)]
    assert checks.scores_finite(spark.createDataFrame(good, "url string, score double")) == []
    corrupt = good + [("http://a/3", bad)]
    assert checks.scores_finite(spark.createDataFrame(corrupt, "url string, score double"))


def _verdicts(web, urls):
    """The verdict table a correct pipeline produces for ``urls``."""
    rows = []
    for u in urls:
        k = web.kind(u)
        canon = web.homepage(u) if k == "dup" else u
        comp = web.homepage(u) if k in ("dup", "near") else u
        rows.append((u, canon, comp, k != "low"))
    return rows


VERDICTS = "doc_id string, canonical_id string, component string, passes_gopher_quality boolean"


def test_planted_recall_rejects_missed_duplicates(spark):
    web = gen.SyntheticWeb(4, *SMALL_WEB)
    rows = _verdicts(web, web.urls()[:400])

    def recall(rs):
        return checks.planted_recall(spark.createDataFrame(rs, VERDICTS), web)

    def corrupt(kind, edit):
        i = next(i for i, r in enumerate(rows) if web.kind(r[0]) == kind)
        return rows[:i] + [edit(rows[i])] + rows[i + 1 :]

    assert recall(rows) == (1.0, 1.0, [])
    # an exact copy left as its own canonical document
    assert recall(corrupt("dup", lambda r: (r[0], r[0], r[2], r[3])))[2]
    # near copies split from their source's cluster, below the recall floor
    split = [(r[0], r[1], r[0], r[3]) if web.kind(r[0]) == "near" else r for r in rows]
    assert recall(split)[2]
    # a low-quality page let through the Gopher rules
    assert recall(corrupt("low", lambda r: (r[0], r[1], r[2], True)))[2]


def test_digest_ignores_row_order_and_catches_changed_values(spark):
    from pyspark.sql import functions as F

    now = F.lit(NOW).cast("timestamp")
    df = _db(spark, GOOD_DB)
    assert checks.digest(df, now) == checks.digest(df.orderBy(F.desc("url")), now)
    changed = _db(spark, [GOOD_DB[0], ("http://a/2", "db_fetched", 0.5, b"s1")] + GOOD_DB[2:])
    assert checks.digest(df, now) != checks.digest(changed, now)


# ---------------------------------------------------------------------------
# event log → per-span metrics
# ---------------------------------------------------------------------------


def _task(stage, kind, run_ms, shuffle_bytes=0, reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Type": kind,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": 10,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
        },
    }


def test_event_log_tasks_are_attributed_to_their_span(tmp_path):
    span = "operators.linkrank.linkrank"
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": f"{span}#1"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2, 3], "Properties": {"spark.jobGroup.id": "bench"}},
        _task(1, "ShuffleMapTask", 100, 2_000_000),
        _task(1, "ShuffleMapTask", 100, 1_000_000),
        _task(2, "ResultTask", 900),
        _task(3, "ResultTask", 50, reason="ExceptionFailure"),
    ]
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    (log_dir / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = read_event_log(str(tmp_path))
    m = layer_metrics([Span(span, f"{span}#1", 10.0, 10.5, "job", None, 7)], groups, cores=2)
    assert m[f"{span}.task_s"] == pytest.approx(1.1)
    assert m[f"{span}.busy_share"] == pytest.approx(1.1 / (0.5 * 2))
    assert m[f"{span}.shuffle_mb"] == pytest.approx(3.0)
    assert m[f"{span}.shuffle_stages"] == 1
    assert m[f"{span}.rows_out"] == 7
    assert m[f"{span}.task_skew"] == pytest.approx(9.0)
    assert m["session.task_failures"] == 1
    assert m["session.gc_s"] == pytest.approx(0.04)


# ---------------------------------------------------------------------------
# the command prints exactly the metric names of BENCHMARK.json
# ---------------------------------------------------------------------------


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_match_code():
    b = _bench()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == per_layer_names()
    from crawlbench.workloads import WORKLOADS

    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)


def _run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.splitlines()
    digests = next(json.loads(line[8:]) for line in out if line.startswith("digests "))
    return json.loads(out[-1]), digests


def test_command_prints_benchmark_json_metrics_and_traced_digests_match():
    b = _bench()
    workload = b["workloads"][0]["name"]  # its traced run replays crawl_round layer by layer
    plain, plain_digests = _run(workload, 101, 0)
    traced, traced_digests = _run(workload, 101, 1)
    assert set(plain) == set(traced) == {"correct", "attempted", "failed", "metrics"}
    assert plain["correct"] and traced["correct"]
    assert plain["failed"] == traced["failed"] == 0
    assert list(plain["metrics"]) == [m["name"] for m in b["end_to_end"]]
    assert list(traced["metrics"]) == [m["name"] for m in b["per_layer"]]
    assert plain_digests == traced_digests
