"""The three benchmark workloads, written against the engine's public
operator functions. Each workload has

- ``prepare()``: generate its inputs from the seed and restore them into
  the crawl directory (set-up, timed as ``setup_s``);
- ``run(hook)``: the timed job, from input to installed tables. Every
  engine call goes through ``hook.call(<span>, fn, ...)``;
- ``check(hook)``: read the installed tables back, check the invariants
  and digest every installed table (not timed).
"""

from __future__ import annotations

import dataclasses
import functools
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nutch_spark import pipeline
from nutch_spark.config import DEFAULT
from nutch_spark.datapipe.dedup import exact_dedup, minhash_dup_clusters
from nutch_spark.datapipe.textstats import gopher_quality, quality_metrics
from nutch_spark.operators.dedup import deduplicate
from nutch_spark.operators.fetcher import emit_parse_rows, fetch, parse
from nutch_spark.operators.generate import generate
from nutch_spark.operators.hostdb import update_hostdb
from nutch_spark.operators.inject import inject
from nutch_spark.operators.invertlinks import invert_links
from nutch_spark.operators.linkrank import linkrank, update_scores
from nutch_spark.operators.merge import merge_linkdbs
from nutch_spark.operators.stats import crawldb_stats
from nutch_spark.operators.updatedb import update_crawldb
from nutch_spark.operators.webgraph import build_edges, node_degrees

from crawlbench import checks, gen

# The fetcher stamps wall-clock fetch times, so "later fetchTime wins"
# would make the dedup keeper depend on thread timing. The benchmark drops
# that policy (deduplication.compare.order) to keep outputs reproducible.
CFG = dataclasses.replace(
    DEFAULT, dedup_compare_order=("score", "httpsOverHttp", "urlLength")
)

CRAWLDB_DDL = (
    "url string, status string, fetch_time timestamp, retries int, "
    "fetch_interval int, score float, signature binary, "
    "modified_time timestamp, metadata map<string,string>"
)
FETCH_ROW_COLS = ("url", "status", "fetch_time", "signature", "metadata")


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, now_dt):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.now_dt = now_dt
        self.now = F.lit(now_dt).cast("timestamp")
        self.items = 0  # the throughput numerator of the last run
        self.layer_extras: dict[str, float] = {}  # per-layer extras of the last run

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def read(self, *parts: str):
        return self.spark.read.parquet(self.path(*parts))

    def install(self, hook, df, *parts: str) -> None:
        hook.call("pipeline.atomic_install", pipeline.atomic_install, df, self.path(*parts))

    def fresh(self, *parts: str) -> None:
        shutil.rmtree(self.path(*parts), ignore_errors=True)
        os.makedirs(self.path(*parts))

    def restore(self) -> None:
        """Reset the crawl directory to the prepared input before a job."""


class CrawlExpand(Workload):
    """``bin/crawl -s seeds crawl 2``: inject, then two crawl_rounds, each
    installing its crawldb and linkdb for the next to read back; then the
    crawled text becomes training data: quality metrics, Gopher rules,
    exact dedup and MinHash near-dup clusters over the pages both rounds
    parsed, with the verdicts and the canonical documents installed."""

    name = "crawl_expand"
    SEED_HOSTS = 80  # homepages in the seed list
    SEED_PAGES = 320  # further pages of those hosts
    TOP_N = 400  # round 1 fetches the whole seed list
    ROUNDS = 2
    N_HOSTS, N_PAGES = 160, 16_000  # the synthetic web

    def prepare(self) -> None:
        self.web = gen.SyntheticWeb(self.seed, self.N_HOSTS, self.N_PAGES)
        self.fresh("seeds")
        urls = self.web.seed_list(self.SEED_HOSTS, self.SEED_PAGES)
        seeds = pa.Table.from_arrays(
            [pa.array(urls), pa.array([[] for _ in urls], pa.map_(pa.string(), pa.string()))],
            names=["url", "metadata"],
        )
        pq.write_table(seeds, self.path("seeds", "urls.parquet"))

    def run(self, hook) -> None:
        self.fresh("crawl")
        self.fresh("corpus")
        seeds = self.read("seeds", "urls.parquet")
        empty = self.spark.createDataFrame([], CRAWLDB_DDL)
        db = hook.call("operators.inject.inject", inject, empty, seeds, cfg=CFG, now=self.now)
        self.install(hook, db, "crawl", "crawldb")
        db, linkdb = self.read("crawl", "crawldb"), None
        self.fetchlist = None
        self.items, db_rows, parsed = 0, 0, []
        for r in range(self.ROUNDS):
            hook.round = r
            if hook.traced:
                db_rows += db.count()
                res = self._traced_round(hook, db, linkdb)
            else:
                res = hook.call(
                    "pipeline.crawl_round",
                    pipeline.crawl_round,
                    db,
                    linkdb,
                    top_n=self.TOP_N,
                    cfg=CFG,
                    fetch_fn=self.web,
                    now=self.now,
                    # generate, fetch, parse, emit, updatedb, dedup,
                    # invertlinks, and merge once there is a linkdb
                    layers=7 if linkdb is None else 8,
                )
            self.items += res.stats["pages_fetched"]
            parsed.append(res.parse_data)
            self.install(hook, res.crawldb, "crawl", "crawldb")
            self.install(hook, res.linkdb, "crawl", "linkdb")
            db, linkdb = self.read("crawl", "crawldb"), self.read("crawl", "linkdb")
        hook.round = None
        if hook.traced:
            self.layer_extras["operators.updatedb.update_crawldb.delta_share"] = self.items / db_rows
        self.fetch_log = res.fetch_log  # the last round's
        self._corpus(hook, functools.reduce(lambda a, b: a.unionByName(b), parsed))

    def _corpus(self, hook, parse_data) -> None:
        c = hook.call
        docs = parse_data.select(F.col("url").alias("doc_id"), F.col("parse_text").alias("text"))
        scored = c(
            "datapipe.textstats.gopher_quality",
            lambda d: gopher_quality(quality_metrics(d)),
            docs,
        )
        exact = c("datapipe.dedup.exact_dedup", exact_dedup, scored)
        near = c("datapipe.dedup.minhash_dup_clusters", minhash_dup_clusters, docs)
        verdicts = exact.select(
            "doc_id",
            "canonical_id",
            F.col("is_duplicate").alias("exact_dup"),
            "passes_gopher_quality",
            "quality_score",
        ).join(
            near.select("doc_id", "component", F.col("is_duplicate").alias("near_dup")),
            "doc_id",
        )
        self.install(hook, verdicts, "corpus", "verdicts")
        keep = self.read("corpus", "verdicts").filter(
            F.col("passes_gopher_quality") & ~F.col("exact_dup") & ~F.col("near_dup")
        )
        canonical = keep.select("doc_id", "quality_score").join(docs, "doc_id")
        self.install(hook, canonical, "corpus", "canonical")

    def _traced_round(self, hook, crawldb, linkdb) -> pipeline.RoundResult:
        """pipeline.crawl_round's steps, one span each, with the arguments
        ``run`` passes to it: robots off, regex parser, dedup on."""
        fetchlist = hook.call(
            "operators.generate.generate", generate, crawldb, self.TOP_N, cfg=CFG, now=self.now
        )
        self.fetchlist = fetchlist
        fetch_log = hook.call("operators.fetcher.fetch", fetch, fetchlist, cfg=CFG, fetch_fn=self.web)
        parse_data = hook.call("operators.fetcher.parse", parse, fetch_log, cfg=CFG)
        emits = hook.call(
            "operators.fetcher.emit_parse_rows",
            emit_parse_rows,
            parse_data,
            crawldb.select("url", "score"),
            cfg=CFG,
        )
        new_db = hook.call(
            "operators.updatedb.update_crawldb",
            update_crawldb,
            crawldb,
            fetch_log.select(*FETCH_ROW_COLS),
            emits,
            cfg=CFG,
            now=self.now,
        )
        new_db = hook.call("operators.dedup.deduplicate", deduplicate, new_db, cfg=CFG)
        links = hook.call("operators.invertlinks.invert_links", invert_links, parse_data, cfg=CFG)
        if linkdb is not None:
            links = hook.call("operators.merge.merge_linkdbs", merge_linkdbs, [linkdb, links], cfg=CFG)
        stats = {"pages_fetched": fetch_log.count()}
        return pipeline.RoundResult(new_db, links, fetch_log, parse_data, stats)

    def check(self, hook) -> tuple[dict, list[str]]:
        db = self.read("crawl", "crawldb")
        fails = checks.unique_urls(db) + checks.one_keeper_per_signature(db)
        # every fetchlist URL has a fetch row; an untraced crawl_round keeps
        # no fetchlist, so it is regenerated from the crawldb the round read
        # (atomic_install keeps it as crawldb_old)
        fetchlist = self.fetchlist or generate(
            self.read("crawl", "crawldb_old"), self.TOP_N, cfg=CFG, now=self.now
        )
        fails += checks.fetchlist_covered(fetchlist, self.fetch_log)
        if hook.traced:
            ok = self.fetch_log.filter(F.col("status") == "fetch_success").count()
            self.layer_extras["operators.fetcher.fetch.success_share"] = ok / max(self.items, 1)
        verdicts = self.read("corpus", "verdicts")
        # no page is parsed in two rounds, so every document is there once
        fails += checks.unique_urls(verdicts, url="doc_id")
        r_exact, r_near, corpus_fails = checks.planted_recall(verdicts, self.web)
        fails += corpus_fails
        self.layer_extras["datapipe.dedup.exact_dedup.planted_recall"] = r_exact
        self.layer_extras["datapipe.dedup.minhash_dup_clusters.planted_recall"] = r_near
        digests = {
            "crawldb": checks.digest(db, self.now),
            "linkdb": checks.digest(self.read("crawl", "linkdb"), self.now),
            "corpus_verdicts": checks.digest(verdicts, self.now),
            "corpus_canonical": checks.digest(self.read("corpus", "canonical"), self.now),
        }
        return digests, fails


class RecrawlRank(Workload):
    """One maintenance cycle over a large stored crawl: webgraph, linkrank,
    score update, a small generate/fetch/parse/updatedb, dedup, invertlinks
    merged into the stored linkdb, hostdb, stats. Every step reads its input
    from the table the previous step installed, the way the separate
    bin/nutch jobs do."""

    name = "recrawl_rank"
    TOP_N = 300
    N_HOSTS, N_PAGES = 80, 8_000  # the stored crawl's web

    def prepare(self) -> None:
        self.web = gen.SyntheticWeb(self.seed, self.N_HOSTS, self.N_PAGES)
        crawldb, segments, linkdb = gen.stored_crawl(
            self.seed, self.now_dt, self.N_HOSTS, self.N_PAGES
        )
        self.items = crawldb.num_rows  # crawldb rows x 1 cycle
        self.fresh("stored")
        for name, table in (("crawldb", crawldb), ("segments", segments), ("linkdb", linkdb)):
            pq.write_table(table, self.path("stored", f"{name}.parquet"))
        self.restore()

    def restore(self) -> None:
        self.fresh("crawl")
        for table in ("crawldb", "segments", "linkdb"):
            self.fresh("crawl", table)
            shutil.copy(
                self.path("stored", f"{table}.parquet"),
                self.path("crawl", table, "part-00000.parquet"),
            )

    def run(self, hook) -> None:
        c = hook.call
        db = self.read("crawl", "crawldb")
        edges = c("operators.webgraph.build_edges", build_edges, self.read("crawl", "segments"), cfg=CFG)
        self.install(hook, edges, "crawl", "webgraph", "outlinks")
        edges = self.read("crawl", "webgraph", "outlinks")
        nodes = c("operators.webgraph.node_degrees", node_degrees, edges)
        scores = c("operators.linkrank.linkrank", linkrank, edges, cfg=CFG)
        self.install(hook, nodes.join(scores, "url", "left"), "crawl", "webgraph", "nodes")
        nodes = self.read("crawl", "webgraph", "nodes")
        db = c("operators.linkrank.update_scores", update_scores, db, nodes, cfg=CFG)
        fetchlist = c("operators.generate.generate", generate, db, self.TOP_N, cfg=CFG, now=self.now)
        self.install(hook, fetchlist, "crawl", "segment", "crawl_generate")
        fetchlist = self.read("crawl", "segment", "crawl_generate")
        fetch_log = c("operators.fetcher.fetch", fetch, fetchlist, cfg=CFG, fetch_fn=self.web)
        self.install(hook, fetch_log, "crawl", "segment", "crawl_fetch")
        fetch_log = self.read("crawl", "segment", "crawl_fetch")
        parse_data = c("operators.fetcher.parse", parse, fetch_log, cfg=CFG)
        emits = c(
            "operators.fetcher.emit_parse_rows",
            emit_parse_rows,
            parse_data,
            db.select("url", "score"),
            cfg=CFG,
        )
        new_db = c(
            "operators.updatedb.update_crawldb",
            update_crawldb,
            db,
            fetch_log.select(*FETCH_ROW_COLS),
            emits,
            cfg=CFG,
            now=self.now,
        )
        new_db = c("operators.dedup.deduplicate", deduplicate, new_db, cfg=CFG)
        self.install(hook, new_db, "crawl", "crawldb")
        links = c("operators.invertlinks.invert_links", invert_links, parse_data, cfg=CFG)
        linkdb = c(
            "operators.merge.merge_linkdbs",
            merge_linkdbs,
            [self.read("crawl", "linkdb"), links],
            cfg=CFG,
        )
        self.install(hook, linkdb, "crawl", "linkdb")
        new_db = self.read("crawl", "crawldb")
        hostdb = c("operators.hostdb.update_hostdb", update_hostdb, new_db, cfg=CFG)
        self.install(hook, hostdb, "crawl", "hostdb")
        self.stats = c("operators.stats.crawldb_stats", crawldb_stats, new_db, cfg=CFG)
        for section in self.stats.values():  # readdb -stats prints the report
            section.collect()

    def check(self, hook) -> tuple[dict, list[str]]:
        db = self.read("crawl", "crawldb")
        nodes = self.read("crawl", "webgraph", "nodes")
        fetchlist = self.read("crawl", "segment", "crawl_generate")
        fetch_log = self.read("crawl", "segment", "crawl_fetch")
        fails = (
            checks.unique_urls(db)
            + checks.one_keeper_per_signature(db)
            + checks.scores_finite(nodes)
            + checks.fetchlist_covered(fetchlist, fetch_log)
        )
        if hook.traced:
            fetched = fetch_log.count()
            ok = fetch_log.filter(F.col("status") == "fetch_success").count()
            self.layer_extras["operators.fetcher.fetch.success_share"] = ok / max(fetched, 1)
            self.layer_extras["operators.updatedb.update_crawldb.delta_share"] = fetched / self.items
        digests = {
            "crawldb": checks.digest(db, self.now),
            "linkdb": checks.digest(self.read("crawl", "linkdb"), self.now),
            "hostdb": checks.digest(self.read("crawl", "hostdb"), self.now),
            "webgraph_nodes": checks.digest(nodes, self.now),
            "crawl_generate": checks.digest(fetchlist, self.now),
        }
        return digests, fails


WORKLOADS = {w.name: w for w in (CrawlExpand, RecrawlRank)}
