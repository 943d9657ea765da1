"""Seeded inputs for the benchmark workloads.

Everything here is pure Python and depends only on the seed, so the same
seed always yields the same request sequence, cohort order and crawl
corpus.  The program under test receives only these generated inputs.

* ``iterative``: the cohort in a seed-permuted order, drained by two
  clients; the seed permutes within cost tiers.
* ``crawl_ingest``: a synthetic pmwiki corpus with power-law out-degree,
  a hot link-target set and re-crawls that change a page's links.
  ``CrawlReference`` is the pure-Python model of the crawl store;
  ``plan_crawl`` runs it ahead of a round to give every batch's inputs
  and expected outputs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

WORKLOADS = ("iterative", "crawl_ingest")

#: The iterative workload's query cohort, by registry name, in three
#: cost tiers, heaviest first (cold single-client times at sf0.001 on 4
#: cores: 4-6 s, 2-3 s, 0.5-1.5 s).  Ten iterative graph and dedup
#: queries, plus one similarity and one scalar-function query so that
#: those two layers are measured too.
ITERATIVE = [
    "graph_connected_components",
    "dedup_embedding_clusters",
    "dedup_method_overlap",
    "graph_label_prop3",
    "graph_core_profile",
    "dedup_band_curve",
    "sim_topk_cosine",
    "graph_pagerank3",
    "mm_phash_clusters",
    "dedup_keep_best",
    "dedup_cluster3",
    "fn_fuzzy_levenshtein",
]

#: Tier sizes of ``ITERATIVE``: the seed permutes within a tier, and
#: tiers run heaviest first, so the two clients stay balanced and the
#: makespan does not hinge on which query the seed puts last.
ITERATIVE_TIERS = (3, 4, 5)

#: Closed-loop clients draining the iterative cohort.  Two, because the
#: job-latency-bound chains leave cores idle with one.
ITERATIVE_CLIENTS = 2

#: The query every session runs once before it is timed.
WARMUP_QUERY = "flagship_revenue_by_region"


def _rng(*parts: object) -> random.Random:
    # String seeds are hashed with SHA-512 by ``random``, so the stream
    # does not depend on PYTHONHASHSEED.
    return random.Random("/".join(str(p) for p in parts))


def iterative_order(seed: int) -> list[str]:
    rng, names, order = _rng("iterative", seed), ITERATIVE, []
    for size in ITERATIVE_TIERS:
        tier, names = names[:size], names[size:]
        order += rng.sample(tier, len(tier))
    return order


# --------------------------------------------------------------------------
# crawl_ingest
# --------------------------------------------------------------------------

CATEGORIES = ("Main", "Film", "Anime", "Literature", "VideoGame")
CRAWL_START = datetime(2026, 1, 5, 0, 0, 0)
#: Mirrors ``pipeline.crawl.RECRAWL_BACKOFF_DAYS``: the reference is an
#: independent model of the crawl store, so it carries its own copy.
BACKOFF = timedelta(days=30)
_FILLER = (
    "The trope appears when a story leans on a familiar pattern; "
    "see also the related pages below for variations and subversions. "
)


@dataclass(frozen=True)
class CrawlPlan:
    """Shape of one crawl_ingest round.

    ``batch_pages`` is ``crawl.frontier``'s default ``limit``.  The
    corpus shape (size, out-degree law, hot set, re-crawl share and link
    churn) is an assumption, not fitted to a measured pmwiki crawl; see
    the README's "Crawl traffic" section."""

    n_pages: int = 4000
    n_hot: int = 40
    hot_share: float = 0.35
    batches: int = 4
    batch_pages: int = 100
    recrawl_share: float = 0.2
    compact_every: int = 3
    max_out: int = 120


def page_name(i: int) -> str:
    """Display form ``Category/PageNNNNN`` of page ``i``."""
    return f"{CATEGORIES[i % len(CATEGORIES)]}/Page{i:05d}"


def page_code(i: int) -> str:
    return page_name(i).lower()


def page_url(name: str) -> str:
    return f"https://tvtropes.org/pmwiki/pmwiki.php/{name}"


def batch_now(b: int) -> str:
    return (CRAWL_START + timedelta(hours=b)).strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class CrawlCorpus:
    """Synthetic pmwiki site: ``links[i][v]`` is page ``i``'s outbound
    page indexes at its ``v``-th crawl (v=0 first crawl, v>=1 re-crawls
    with changed links).  Versions are derived lazily from the seed."""

    seed: int
    plan: CrawlPlan = field(default_factory=CrawlPlan)

    def __post_init__(self) -> None:
        rng = _rng("crawl", self.seed, "hot")
        self.hot = rng.sample(range(self.plan.n_pages), self.plan.n_hot)
        self._links: dict[tuple[int, int], list[int]] = {}

    def _target(self, rng: random.Random, i: int) -> int:
        while True:
            if rng.random() < self.plan.hot_share:
                t = rng.choice(self.hot)
            else:
                t = rng.randrange(self.plan.n_pages)
            if t != i:
                return t

    def links(self, i: int, version: int) -> list[int]:
        key = (i, version)
        if key not in self._links:
            rng = _rng("crawl", self.seed, "page", i, version)
            if version == 0:
                # Power-law out-degree: Pareto(1.5) times 3, about 7 distinct
                # targets on average (an assumption; see the README).
                degree = min(self.plan.max_out, int(3 * rng.paretovariate(1.5)))
                out = {self._target(rng, i) for _ in range(degree)}
            else:
                prev = self.links(i, version - 1)
                # A re-crawl drops a quarter of the links and adds 1-3.
                out = {t for t in prev if rng.random() >= 0.25}
                out |= {self._target(rng, i) for _ in range(rng.randint(1, 3))}
            self._links[key] = sorted(out)
        return self._links[key]

    def html(self, i: int, version: int) -> str:
        """The page as the fetcher would return it."""
        name = page_name(i)
        anchors = "".join(
            f'<li><a href="{page_url(page_name(t))}">{page_name(t)}</a> {_FILLER}</li>'
            for t in self.links(i, version)
        )
        return (
            f"<html><head><title>{name.split('/')[1]} - TV Tropes</title>"
            f'<meta property="og:url" content="{page_url(name)}"/></head>'
            f"<body><p>{_FILLER * 3}</p>"
            f'<a href="https://example.org/about">about</a><ul>{anchors}</ul>'
            "</body></html>"
        )

    def seed_pages(self) -> list[int]:
        """First batch: the hot pages first, then seed-chosen others."""
        rng = _rng("crawl", self.seed, "seeds")
        rest = [i for i in rng.sample(range(self.plan.n_pages), self.plan.batch_pages * 2)
                if i not in self.hot]
        return (self.hot + rest)[: self.plan.batch_pages]

    def recrawl_picks(self, b: int, crawled: list[str]) -> list[str]:
        """Codes re-crawled in batch ``b``: a seeded share of the batch,
        drawn from the pages crawled so far (``crawled`` sorted)."""
        k = min(len(crawled), round(self.plan.recrawl_share * self.plan.batch_pages))
        return sorted(_rng("crawl", self.seed, "recrawl", b).sample(crawled, k))

    def travel_version(self, b: int, latest: int) -> int:
        """Log version the time-travel read of batch ``b`` asks for."""
        return _rng("crawl", self.seed, "travel", b).randint(0, latest)


def code_index(code: str) -> int:
    return int(code.split("/page")[1])


def page_user_bytes(code: str) -> int:
    """Logical bytes of one ingested page row: its strings (code,
    category, title, url) in UTF-8, 8 per timestamp/bigint field (4)
    and 1 per boolean field (2)."""
    name = page_name(code_index(code))
    strings = (code, code.split("/")[0], name.split("/")[1] + " - TV Tropes", page_url(name))
    return sum(len(s.encode()) for s in strings) + 4 * 8 + 2


def link_user_bytes(src: str, dst: str) -> int:
    return len(src.encode()) + len(dst.encode())


class CrawlReference:
    """Pure-Python model of the page/link store and the link log."""

    def __init__(self) -> None:
        self.next_update: dict[str, datetime] = {}
        self.links: dict[str, set[str]] = {}
        self.versions: dict[str, int] = {}
        self.log: list[list[tuple[str, str]]] = []

    def frontier(self, now: str, limit: int) -> set[str]:
        t = datetime.strptime(now, "%Y-%m-%d %H:%M:%S")
        due = sorted((nu, c) for c, nu in self.next_update.items() if nu <= t)[:limit]
        targets = {d for out in self.links.values() for d in out}
        undiscovered = sorted(targets - set(self.next_update))[:limit]
        return {c for _, c in due} | set(undiscovered)

    def crawl(self, corpus: CrawlCorpus, codes: list[str], now: str) -> list[tuple[str, str]]:
        """Apply one batch; returns the batch's link rows."""
        t = datetime.strptime(now, "%Y-%m-%d %H:%M:%S")
        rows = []
        for code in codes:
            v = self.versions.get(code, -1) + 1
            self.versions[code] = v
            out = {page_code(j) for j in corpus.links(code_index(code), v)} - {code}
            self.links[code] = out
            self.next_update[code] = t + BACKOFF
            rows += [(code, d) for d in sorted(out)]
        return rows

    def degrees(self) -> dict[str, tuple[int, int]]:
        """code -> (incoming, outgoing) over the pages in the store."""
        incoming: dict[str, int] = {}
        for out in self.links.values():
            for d in out:
                incoming[d] = incoming.get(d, 0) + 1
        return {c: (incoming.get(c, 0), len(self.links[c])) for c in self.next_update}

    def link_set(self) -> set[tuple[str, str]]:
        return {(s, d) for s, out in self.links.items() for d in out}

    def append_log(self, rows: list[tuple[str, str]]) -> int:
        prev = self.log[-1] if self.log else []
        self.log.append(prev + rows)
        return len(self.log) - 1

    def compact_log(self) -> int:
        self.log.append(list(self.log[-1]))
        return len(self.log) - 1


@dataclass
class CrawlBatch:
    """One batch of a planned crawl_ingest round: what the program is
    given, and what it must return."""

    now: str
    #: ``crawl.frontier``'s limit and its expected answer; None for the
    #: first batch, which crawls the seed pages without asking.
    limit: int | None
    frontier: set[str] | None
    pages: list[tuple[str, str]]
    links: list[tuple[str, str]]
    user_bytes: int
    version: int
    compacted: int | None
    travel: int
    travel_rows: list[tuple[str, str]]


def plan_crawl(seed: int, batches: int) -> tuple[list[CrawlBatch], CrawlReference]:
    """Run the reference crawl for ``batches`` batches.  A batch crawls
    the frontier the reference computes, which is what
    ``crawl.frontier`` returns when it is right (the round checks
    that), plus the seed's re-crawl picks.  Returns the batches and the
    reference's end state."""
    plan = CrawlPlan(batches=batches)
    corpus, ref, out = CrawlCorpus(seed, plan), CrawlReference(), []
    for b in range(batches):
        now = batch_now(b)
        recrawl = corpus.recrawl_picks(b, sorted(ref.versions)) if b else []
        limit = plan.batch_pages - len(recrawl)
        frontier = ref.frontier(now, limit) if b else None
        new = frontier if b else {page_code(i) for i in corpus.seed_pages()}
        codes = sorted(new | set(recrawl))
        pages = [
            (page_url(page_name(code_index(c))),
             corpus.html(code_index(c), ref.versions.get(c, -1) + 1))
            for c in codes
        ]
        links = ref.crawl(corpus, codes, now)
        version = ref.append_log(links)
        compacted = ref.compact_log() if (b + 1) % plan.compact_every == 0 else None
        travel = corpus.travel_version(b, version)
        out.append(CrawlBatch(
            now=now,
            limit=limit if b else None,
            frontier=frontier,
            pages=pages,
            links=links,
            user_bytes=sum(page_user_bytes(c) for c in codes)
            + sum(link_user_bytes(s, d) for s, d in links),
            version=version,
            compacted=compacted,
            travel=travel,
            travel_rows=sorted(ref.log[travel]),
        ))
    return out, ref
