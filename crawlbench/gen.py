"""Seeded input generators for the crawl-cycle benchmark.

Each generator is a pure function of its seed, its size and the stated
shares below, so the same seed always yields identical inputs and the
engine only ever sees what they produce:

- :class:`SyntheticWeb` is the web both workloads fetch from, passed to
  the engine as ``fetch_fn``. A response depends only on (seed, url). Its
  pages carry the planted exact duplicates, near-duplicates and
  low-quality texts that the corpus steps of ``crawl_expand`` must find.
- :func:`stored_crawl` is the crawldb + segment outlinks that
  ``recrawl_rank`` restores before every run.
"""

from __future__ import annotations

import bisect
import random
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa

# db.fetch.interval.default: every stored row uses the engine default
FETCH_INTERVAL_S = 2_592_000


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


_GOPHER_STOP = ("the", "be", "to", "of", "and", "that", "have", "with")


def _vocab(rng: random.Random, v: int) -> list[str]:
    """``v`` distinct made-up words, the Gopher stop words ranked first."""
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "shi", "po", "ve", "dor", "an", "is"]
    out, seen = list(_GOPHER_STOP), set(_GOPHER_STOP)
    while len(out) < v:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# Stated shares of the synthetic web, each drawn per URL, independently.
HOST_ZIPF = 1.1  # host size ~ rank^-s
MEAN_OUTDEG = 8.0  # geometric out-degree of an ordinary page
MAX_OUTDEG = 40
HUB_SHARE = 0.01  # pages with HUB_OUTDEG outlinks
HUB_OUTDEG = 90
INTERNAL_SHARE = 0.7  # outlinks that stay on the source host
DUP_SHARE = 0.08  # pages serving their host homepage's body byte for byte
NEAR_DUP_SHARE = 0.06  # homepage text with NEAR_DUP_EDIT of its words replaced
NEAR_DUP_EDIT = 0.02
LOW_QUALITY_SHARE = 0.05  # texts too short for the Gopher rules
VOCAB = 3000  # words, Zipf-ranked
VOCAB_ZIPF = 1.05
MIN_WORDS, MAX_WORDS = 80, 160  # running text of an ordinary page
RETRY_SHARE = 0.04  # responses: fetch_retry
GONE_SHARE = 0.03  # fetch_gone
REDIRECT_SHARE = 0.03  # fetch_redir_perm; the rest fetch_success


class SyntheticWeb:
    """Deterministic web: ``web(url) -> (status, html)``.

    Hosts ``h<i>.example.com`` hold ``/p<j>`` pages; host sizes follow a
    Zipf law (shuffled by the seed). Inside a host, low page numbers are
    linked most (``p0`` is the homepage), and external links pick hosts by
    size, so in-link counts are heavy-tailed. Picklable: it is shipped to
    the fetch tasks inside the engine's ``fetch`` operator.
    """

    def __init__(self, seed: int, n_hosts: int, n_pages: int):
        self.seed = seed
        self.vocab = _vocab(random.Random(f"{seed}|vocab"), VOCAB)
        self._vocab_cum = np.cumsum(_zipf_weights(VOCAB, VOCAB_ZIPF)).tolist()
        rng = np.random.default_rng([seed, 1])
        w = np.array(_zipf_weights(n_hosts, HOST_ZIPF))
        rng.shuffle(w)
        sizes = np.maximum(1, np.floor(w / w.sum() * n_pages)).astype(int)
        self.sizes: list[int] = sizes.tolist()
        cum = np.cumsum(sizes / sizes.sum())
        self._host_cum: list[float] = cum.tolist()

    # -- structure --------------------------------------------------------
    def urls(self) -> list[str]:
        return [
            f"http://h{h}.example.com/p{j}"
            for h, n in enumerate(self.sizes)
            for j in range(n)
        ]

    def seed_list(self, hosts: int, pages: int) -> list[str]:
        """Homepages of the ``hosts`` largest hosts, then ``pages`` more
        distinct pages of those hosts, drawn by the seed."""
        order = sorted(range(len(self.sizes)), key=lambda h: (-self.sizes[h], h))[:hosts]
        seeds = [f"http://h{h}.example.com/p0" for h in order]
        r = random.Random(f"{self.seed}|seeds")
        picked: set[str] = set(seeds)
        while len(seeds) < hosts + pages:
            h = r.choice(order)
            u = f"http://h{h}.example.com/p{r.randrange(1, max(2, self.sizes[h]))}"
            if u not in picked:
                picked.add(u)
                seeds.append(u)
        return seeds

    def _pick(self, r: random.Random, host: int | None) -> str:
        if host is None:
            host = min(
                bisect.bisect_left(self._host_cum, r.random()), len(self.sizes) - 1
            )
        page = int(self.sizes[host] * r.random() ** 3)  # p0 is the hub
        return f"http://h{host}.example.com/p{page}"

    def _rng(self, url: str, salt: str) -> random.Random:
        # str seeds hash through sha512: stable across processes, unlike hash()
        return random.Random(f"{self.seed}|{salt}|{url}")

    def outlinks(self, url: str) -> list[str]:
        r = self._rng(url, "links")
        host = int(url.split("/")[2].split(".")[0][1:])
        if r.random() < HUB_SHARE:
            k = HUB_OUTDEG
        else:
            k = min(MAX_OUTDEG, 1 + int(r.expovariate(1.0 / (MEAN_OUTDEG - 1))))
        return [
            self._pick(r, host if r.random() < INTERNAL_SHARE else None)
            for _ in range(k)
        ]

    def _words(self, r: random.Random, k: int) -> list[str]:
        top = self._vocab_cum[-1]
        return [self.vocab[bisect.bisect_left(self._vocab_cum, r.random() * top)] for _ in range(k)]

    def text(self, url: str) -> str:
        """The page's running text: Zipf words, Gopher stop words included."""
        r = self._rng(url, "text")
        kind = self.kind(url)
        if kind == "low":
            return " ".join(self._words(r, r.randint(5, 30)))
        if kind == "near":
            words = self.text(self.homepage(url)).split(" ")
            for i in r.sample(range(len(words)), max(1, int(len(words) * NEAR_DUP_EDIT))):
                words[i] = self.vocab[r.randrange(len(self.vocab))]
            return " ".join(words)
        return " ".join(self._words(r, r.randint(MIN_WORDS, MAX_WORDS)))

    def body(self, url: str) -> str:
        # empty anchors: the page's words are exactly text(url)
        links = "".join(f'<a href="{u}"></a>' for u in self.outlinks(url))
        return (
            f"<html><head><title>{url.split('/', 2)[2]}</title></head>"
            f"<body><p>{self.text(url)}</p>{links}</body></html>"
        )

    # -- fetch_fn ---------------------------------------------------------
    def status(self, url: str) -> str:
        u = self._rng(url, "status").random()
        if u < RETRY_SHARE:
            return "fetch_retry"
        if u < RETRY_SHARE + GONE_SHARE:
            return "fetch_gone"
        if u < RETRY_SHARE + GONE_SHARE + REDIRECT_SHARE:
            return "fetch_redir_perm"
        return "fetch_success"

    @staticmethod
    def homepage(url: str) -> str:
        return url.rsplit("/", 1)[0] + "/p0"

    def kind(self, url: str) -> str:
        """``dup`` (mirror of the homepage), ``near`` (homepage text with a
        few words replaced), ``low`` (low-quality text) or ``page``."""
        if url.endswith("/p0"):
            return "page"
        u = self._rng(url, "kind").random()
        if u < DUP_SHARE:
            return "dup"
        if u < DUP_SHARE + NEAR_DUP_SHARE:
            return "near"
        if u < DUP_SHARE + NEAR_DUP_SHARE + LOW_QUALITY_SHARE:
            return "low"
        return "page"

    def __call__(self, url: str) -> tuple[str, str | None]:
        status = self.status(url)
        if status != "fetch_success":
            return status, None
        if self.kind(url) == "dup":  # same bytes, so the same signature
            return status, self.body(self.homepage(url))
        return status, self.body(url)


# ---------------------------------------------------------------------------
# recrawl_rank: the stored crawl
# ---------------------------------------------------------------------------

CRAWLDB_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("status", pa.string()),
        ("fetch_time", pa.timestamp("us", tz="UTC")),
        ("retries", pa.int32()),
        ("fetch_interval", pa.int32()),
        ("score", pa.float32()),
        ("signature", pa.binary()),
        ("modified_time", pa.timestamp("us", tz="UTC")),
        ("metadata", pa.map_(pa.string(), pa.string())),
    ]
)
OUTLINK = pa.struct([("to_url", pa.string()), ("anchor", pa.string())])
SEGMENT_ARROW = pa.schema(
    [("url", pa.string()), ("segment_id", pa.string()), ("outlinks", pa.list_(OUTLINK))]
)
INLINK = pa.struct([("from_url", pa.string()), ("anchor", pa.string())])
LINKDB_ARROW = pa.schema([("to_url", pa.string()), ("inlinks", pa.list_(INLINK))])


# Stated shares of the stored crawl's crawldb rows.
STORED_UNFETCHED_SHARE = 0.05  # due, never fetched
STORED_GONE_SHARE = 0.03
STORED_REDIRECT_SHARE = 0.03  # the rest are fetched
STORED_DUE_SHARE = 0.03  # fetched rows whose next fetch is due
STORED_DUP_SHARE = 0.08  # fetched rows sharing their host's first signature
OLD_SEGMENT_SHARE = 0.1  # pages also present in an older segment


def stored_crawl(
    seed: int, now: datetime, n_hosts: int, n_pages: int
) -> tuple[pa.Table, pa.Table, pa.Table]:
    """(crawldb, segment outlinks, linkdb) of a crawl that fetched most of
    the ``SyntheticWeb(seed, n_hosts, n_pages)`` universe. Times are
    offsets from ``now``; the linkdb is the inversion of every segment's
    outlinks."""
    web = SyntheticWeb(seed, n_hosts, n_pages)
    rng = np.random.default_rng([seed, 2])
    urls = web.urls()
    n = len(urls)
    host_of = np.repeat(np.arange(len(web.sizes)), web.sizes)

    u = rng.random(n)
    cut = np.cumsum([STORED_UNFETCHED_SHARE, STORED_GONE_SHARE, STORED_REDIRECT_SHARE])
    status = np.select(
        [u < cut[0], u < cut[1], u < cut[2]],
        ["db_unfetched", "db_gone", "db_redir_perm"],
        "db_fetched",
    )
    fetched = status == "db_fetched"
    due = (~fetched & (status == "db_unfetched")) | (
        fetched & (rng.random(n) < STORED_DUE_SHARE)
    )
    offset_days = np.where(due, -rng.uniform(0, 5, n), rng.uniform(1, 29, n))
    now_us = int(now.timestamp() * 1_000_000)
    fetch_time = now_us + (offset_days * 86_400e6).astype(np.int64)
    modified = np.where(
        fetched, now_us - (rng.uniform(30, 300, n) * 86_400e6).astype(np.int64), 0
    )
    score = rng.lognormal(0.0, 1.0, n).astype(np.float32)

    # signatures: fresh 16 random bytes, except planted duplicates that copy
    # their host's first fetched row (a signature group per host)
    sig_bytes = rng.bytes(16 * n)
    sigs: list[bytes | None] = [None] * n
    first_of_host: dict[int, int] = {}
    dup = rng.random(n) < STORED_DUP_SHARE
    for i in np.flatnonzero(fetched):
        h = int(host_of[i])
        if dup[i] and h in first_of_host:
            sigs[i] = sigs[first_of_host[h]]
        else:
            sigs[i] = sig_bytes[16 * i : 16 * i + 16]
            first_of_host.setdefault(h, i)

    crawldb = pa.Table.from_arrays(
        [
            pa.array(urls, pa.string()),
            pa.array(status.tolist(), pa.string()),
            pa.array(fetch_time, pa.timestamp("us", tz="UTC")),
            pa.array(np.where(status == "db_unfetched", rng.integers(0, 2, n), 0), pa.int32()),
            pa.array(np.full(n, FETCH_INTERVAL_S), pa.int32()),
            pa.array(score, pa.float32()),
            pa.array(sigs, pa.binary()),
            pa.array(
                [int(m) if f else None for m, f in zip(modified, fetched)],
                pa.timestamp("us", tz="UTC"),
            ),
            pa.array([[] for _ in range(n)], pa.map_(pa.string(), pa.string())),
        ],
        schema=CRAWLDB_ARROW,
    )

    # segment outlinks of every fetched page; a share also has an older
    # copy in segment 1 (build_edges keeps the latest version per edge)
    seg_urls, seg_ids, seg_links = [], [], []
    old = rng.random(n) < OLD_SEGMENT_SHARE
    for i in np.flatnonzero(fetched):
        links = [{"to_url": t, "anchor": ""} for t in web.outlinks(urls[i])]
        seg_urls.append(urls[i])
        seg_ids.append("2")
        seg_links.append(links)
        if old[i]:
            seg_urls.append(urls[i])
            seg_ids.append("1")
            seg_links.append(links[: len(links) // 2])
    segments = pa.Table.from_arrays(
        [
            pa.array(seg_urls, pa.string()),
            pa.array(seg_ids, pa.string()),
            pa.array(seg_links, pa.list_(OUTLINK)),
        ],
        schema=SEGMENT_ARROW,
    )
    inlinks: dict[str, set[str]] = {}
    for src, links in zip(seg_urls, seg_links):
        for link in links:
            inlinks.setdefault(link["to_url"], set()).add(src)
    targets = sorted(inlinks)
    linkdb = pa.Table.from_arrays(
        [
            pa.array(targets, pa.string()),
            pa.array(
                [[{"from_url": s, "anchor": ""} for s in sorted(inlinks[t])] for t in targets],
                pa.list_(INLINK),
            ),
        ],
        schema=LINKDB_ARROW,
    )
    return crawldb, segments, linkdb


def now_for_today() -> datetime:
    """The fixed ``now`` of a run: start of the current UTC day.

    The fetcher stamps wall-clock fetch times, and generate treats a fetch
    time further than db.fetch.interval.max past ``now`` as clock skew, so
    ``now`` must stay near the wall clock. Flooring to the day keeps it
    fixed for the whole run and leaves every due/not-due decision the same
    on any day."""
    t = datetime.now(timezone.utc)
    return t.replace(hour=0, minute=0, second=0, microsecond=0)
