"""Output checks: order-independent table digests and crawl invariants.

Every check returns a list of failure messages (empty = pass), so a
corrupted table fails loudly and the run counts it in ``failed``.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FLOAT_DIGITS = 4  # float columns are rounded before hashing
NEAR_DUP_RECALL_FLOOR = 0.9  # of the planted near-duplicates


def _canonical(df: DataFrame, now) -> DataFrame:
    """One deterministic value per column. Timestamps become ``t <= now``:
    the fetcher stamps wall-clock fetch times, so only the due/not-due
    decision is reproducible. Floats are rounded; maps sorted by key."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, T.TimestampType):
            c = c <= now
        elif isinstance(t, (T.FloatType, T.DoubleType)):
            c = F.round(c.cast("double"), FLOAT_DIGITS)
        elif isinstance(t, T.MapType):
            c = F.to_json(F.array_sort(F.map_entries(c)))
        elif isinstance(t, (T.ArrayType, T.StructType)):
            c = F.to_json(c)
        cols.append(c.alias(f.name))
    return df.select(*cols)


def digest(df: DataFrame, now) -> str:
    """``<rows>:<sha256 prefix>`` of the multiset of row hashes."""
    hs = (
        _canonical(df, now)
        .select(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).alias("h"))
        .toPandas()["h"]
        .to_numpy(dtype=np.int64)
    )
    return f"{len(hs)}:{hashlib.sha256(np.sort(hs).tobytes()).hexdigest()[:16]}"


def unique_urls(table: DataFrame, url: str = "url") -> list[str]:
    dup = table.groupBy(url).count().filter(F.col("count") > 1).limit(3).collect()
    return [f"{url} not unique: {r[url]} x{r['count']}" for r in dup]


def fetchlist_covered(fetchlist: DataFrame, fetch_log: DataFrame) -> list[str]:
    miss = fetchlist.select("url").join(fetch_log.select("url"), "url", "left_anti")
    n = miss.count()
    return [f"{n} fetchlist urls have no fetch row"] if n else []


def one_keeper_per_signature(crawldb: DataFrame) -> list[str]:
    groups = (
        crawldb.filter(
            F.col("status").isin("db_fetched", "db_notmodified", "db_duplicate")
            & F.col("signature").isNotNull()
        )
        .groupBy("signature")
        .agg(F.count_if(F.col("status") != "db_duplicate").alias("keepers"))
    )
    bad = groups.filter(F.col("keepers") != 1).count()
    return [f"{bad} signature groups without exactly one non-duplicate row"] if bad else []


def scores_finite(nodes: DataFrame, score: str = "score") -> list[str]:
    s = F.col(score)
    bad = nodes.filter(
        s.isNull() | F.isnan(s) | (s < 0) | (s == float("inf"))
    ).count()
    return [f"{bad} linkrank scores not finite and non-negative"] if bad else []


def planted_recall(verdicts: DataFrame, web) -> tuple[float, float, list[str]]:
    """(exact recall, near recall, failures) of the corpus verdict table
    (doc_id, canonical_id, component, passes_gopher_quality) against the
    pages the synthetic web planted. A planted pair counts when both the
    copy and its source (the host homepage) were crawled. Exact: the copy
    shares its source's canonical id and is not canonical itself. Near: it
    lands in its source's component. Low-quality pages must fail Gopher."""
    rows = {
        r["doc_id"]: r
        for r in verdicts.select(
            "doc_id", "canonical_id", "component", "passes_gopher_quality"
        ).collect()
    }
    kinds = {d: web.kind(d) for d in rows}
    pairs = {
        k: [(d, web.homepage(d)) for d, kd in kinds.items() if kd == k and web.homepage(d) in rows]
        for k in ("dup", "near")
    }
    hit_exact = sum(
        1
        for d, s in pairs["dup"]
        if rows[d]["canonical_id"] == rows[s]["canonical_id"] != d
    )
    hit_near = sum(1 for d, s in pairs["near"] if rows[d]["component"] == rows[s]["component"])
    r_exact = hit_exact / len(pairs["dup"]) if pairs["dup"] else 1.0
    r_near = hit_near / len(pairs["near"]) if pairs["near"] else 1.0
    floor = NEAR_DUP_RECALL_FLOOR
    fails = []
    if r_exact != 1.0:
        fails.append(f"exact-duplicate recall {r_exact:.4f} < 1.0")
    if r_near < floor:
        fails.append(f"near-duplicate recall {r_near:.4f} < {floor}")
    kept_low = [d for d, k in kinds.items() if k == "low" and rows[d]["passes_gopher_quality"]]
    if kept_low:
        fails.append(f"{len(kept_low)} planted low-quality pages pass the Gopher rules")
    if not (pairs["dup"] and pairs["near"]):
        fails.append("no planted duplicate pairs were crawled")
    return r_exact, r_near, fails
