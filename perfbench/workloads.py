"""Workload definitions: inputs from the seed, the crawl each run repeats,
and the output check each crawl must pass.

Every workload is a crawl of a synthetic corpus generated from
``CorpusSpec(seed=<workload seed>)``. Input generation (corpus parquet,
the simulator oracle, golden digests) runs before any timed region.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd

from abot_dotnet_core_spark.config import CrawlConfig
from abot_dotnet_core_spark.crawler import CrawlEngine
from abot_dotnet_core_spark.kernel.robots import parse_robots
from abot_dotnet_core_spark.kernel.simulator import CrawlSimulator, PageRecord
from abot_dotnet_core_spark.sources.corpus import (CorpusSpec, domain_name,
                                                   generate_tables, page_url,
                                                   robots_txt_for,
                                                   to_simulator_corpus)

# Simulator start page for crawls the engine seeds with many URLs: one page
# linking every seed, so the single-seed reference reaches the same set.
VIRTUAL_ROOT = "http://perfbench-root.test/"


@dataclass(frozen=True)
class Workload:
    name: str
    spec: CorpusSpec            # measured corpus (seed is replaced per run)
    mini: CorpusSpec            # warm-up corpus crawled during set-up
    cfg: CrawlConfig
    mini_cfg: CrawlConfig
    seeding: str                # "seed" (one home) | "frontier" (all urls)
    interrupt_after: int        # rounds before the engine is re-opened
    check: str                  # "order" | "fetched_set"
    crawl_s: float              # nominal crawl time on a 4-core VM: a run
                                # of --seconds S measures S // crawl_s crawls


# drip_chain: one seed; every page links to the next domain's home, so the
# crawl walks a chain of small rounds whose wall time is per-round fixed cost.
# Rounds grow 1, 5, 21, then 40 pages (one domain's tree spread over four
# rounds); the page cap ends the crawl after 8 rounds, the last of which
# runs the seen compaction (every seen_compact_every=8 rounds).
_DRIP_CFG = CrawlConfig(
    max_pages_to_crawl=220,
    is_respect_robots_dot_text_enabled=True,
    is_external_page_crawling_enabled=True,
    is_external_page_links_crawling_enabled=True)

# mega_round: every url the reference crawl reaches (the corpus plus a few
# dangling link targets) seeded into round 1, fat pages, so the crawl is one
# round whose links are all already seen. The fetch threshold sits below the
# corpus size so the round takes the Bloom scan-pushdown fetch and
# mapInArrow extraction.
_MEGA_CFG = CrawlConfig(max_pages_to_crawl=0, fetch_broadcast_threshold=1_500)

WORKLOADS = {
    "drip_chain": Workload(
        name="drip_chain",
        spec=CorpusSpec(n_pages=2_000, n_domains=50, cross_link_rate=1.0,
                        error_rate=0.0),
        mini=CorpusSpec(n_pages=200, n_domains=10, cross_link_rate=1.0,
                        error_rate=0.0),
        cfg=_DRIP_CFG,
        mini_cfg=dataclasses.replace(_DRIP_CFG, max_pages_to_crawl=60),
        seeding="seed", interrupt_after=4, check="order", crawl_s=30.0),
    "mega_round": Workload(
        name="mega_round",
        spec=CorpusSpec(n_pages=6_000, n_domains=40, body_repeat=32),
        mini=CorpusSpec(n_pages=200, n_domains=4, body_repeat=32),
        cfg=_MEGA_CFG,
        mini_cfg=dataclasses.replace(_MEGA_CFG, fetch_broadcast_threshold=50),
        seeding="frontier", interrupt_after=1, check="fetched_set",
        crawl_s=10.0),
}


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

@dataclass
class Inputs:
    spec: CorpusSpec
    corpus_dir: str
    tables: dict               # pandas tables as written
    oracle: object = None      # CrawlResultState of the reference crawl
    oracle_s: float = 0.0      # simulator wall time (simulator.crawl_s)

    @property
    def corpus(self) -> str:
        return os.path.join(self.corpus_dir, "corpus.parquet")

    @property
    def meta(self) -> str:
        return os.path.join(self.corpus_dir, "corpus_meta.parquet")

    @property
    def robots(self) -> str:
        return os.path.join(self.corpus_dir, "robots.parquet")

    @property
    def frontier(self) -> str:
        return os.path.join(self.corpus_dir, "frontier.parquet")


def _write(tables: dict, outdir: str) -> None:
    os.makedirs(outdir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(outdir, f"{name}.parquet"), index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)


def robots_map(spec: CorpusSpec) -> dict:
    return {f"http://{domain_name(i)}/": parse_robots(txt)
            for i in range(spec.n_domains)
            if (txt := robots_txt_for(spec, i)) is not None}


def simulate(wl: Workload, spec: CorpusSpec, cfg: CrawlConfig):
    """Single-threaded reference crawl of the same corpus and config.
    Frontier-seeded crawls start from a virtual root linking every url;
    the root itself is dropped from the result by the checks."""
    corpus = to_simulator_corpus(spec)
    rmap = robots_map(spec) if cfg.is_respect_robots_dot_text_enabled else {}
    if wl.seeding == "seed":
        return CrawlSimulator(corpus, cfg, rmap).crawl(page_url(0, 0))
    urls = sorted(corpus)
    corpus[VIRTUAL_ROOT] = PageRecord(
        html="".join(f'<a href="{u}">u</a>' for u in urls))
    cfg = dataclasses.replace(cfg, is_external_page_crawling_enabled=True,
                              is_external_page_links_crawling_enabled=True)
    return CrawlSimulator(corpus, cfg, rmap).crawl(VIRTUAL_ROOT)


def make_inputs(wl: Workload, spec: CorpusSpec, outdir: str,
                with_simulator: bool) -> Inputs:
    shutil.rmtree(outdir, ignore_errors=True)
    tables = generate_tables(spec, with_edges=False)
    _write(tables, outdir)
    inp = Inputs(spec=spec, corpus_dir=outdir, tables=tables)
    if with_simulator or wl.seeding == "frontier":
        t0 = time.perf_counter()
        inp.oracle = simulate(wl, spec, wl.cfg)
        inp.oracle_s = time.perf_counter() - t0
    if wl.seeding == "frontier":
        urls = [c.url for c in inp.oracle.crawled if c.url != VIRTUAL_ROOT]
        pd.DataFrame({"url": urls}).to_parquet(inp.frontier, index=False)
    return inp


# --------------------------------------------------------------------------
# one crawl
# --------------------------------------------------------------------------

@dataclass
class RoundRecord:
    round: int
    wall_s: float
    start: float               # epoch seconds (event-log alignment)
    end: float
    fetched: int
    links: int
    deduped: int
    admitted: int
    robots_denied: int
    depth_pruned: int
    budget_denied: int
    pending_after: int
    crawled_before: int
    pending_before: int


@dataclass
class CrawlRecord:
    seed_s: float = 0.0
    crawl_s: float = 0.0
    resume_s: float = 0.0
    rounds: list = field(default_factory=list)
    check_error: str | None = None

    @property
    def urls(self) -> int:
        return sum(r.fetched + r.links for r in self.rounds)


def open_engine(spark, cfg: CrawlConfig, inp: Inputs, store: str,
                resume: bool = False) -> CrawlEngine:
    args = (spark, cfg, inp.corpus, inp.meta, store, inp.robots)
    return CrawlEngine.resume(*args) if resume else CrawlEngine(*args)


def seed_engine(spark, wl: Workload, eng: CrawlEngine, inp: Inputs) -> None:
    if wl.seeding == "seed":
        eng.seed([page_url(0, 0)])
    else:
        eng.seed_from_frontier(spark.read.parquet(inp.frontier))


def seed_sample(spark, wl: Workload, inp: Inputs, store: str) -> float:
    """Seconds of one seed call on a fresh state store."""
    shutil.rmtree(store, ignore_errors=True)
    eng = open_engine(spark, wl.cfg, inp, store)
    t0 = time.perf_counter()
    seed_engine(spark, wl, eng, inp)
    return time.perf_counter() - t0


def crawl(spark, wl: Workload, cfg: CrawlConfig, inp: Inputs, store: str,
          hooks=None, max_rounds: int = 200
          ) -> tuple[CrawlRecord, CrawlEngine]:
    """Seed, run rounds one at a time, re-open the engine from its last
    commit after ``wl.interrupt_after`` rounds, run to an empty frontier.
    ``hooks`` (the tracer) is told where each round starts and ends."""
    shutil.rmtree(store, ignore_errors=True)
    rec = CrawlRecord()
    eng = open_engine(spark, cfg, inp, store)
    t0 = time.perf_counter()
    seed_engine(spark, wl, eng, inp)
    rec.seed_s = time.perf_counter() - t0

    t_first = None
    resumed = False
    for k in range(1, max_rounds + 1):
        if k == wl.interrupt_after + 1 and not resumed:
            t0 = time.perf_counter()
            eng = open_engine(spark, cfg, inp, store, resume=True)
            rec.resume_s = time.perf_counter() - t0
            resumed = True
        if eng.pending_total <= 0:
            break
        crawled_before, pending_before = eng.crawled_count, eng.pending_total
        if hooks:
            hooks.round_start(k)
        start = time.time()
        t0 = time.perf_counter()
        t_first = t0 if t_first is None else t_first
        stats = eng.run(max_rounds=1)
        wall = time.perf_counter() - t0
        end = time.time()
        if hooks:
            hooks.round_end(k, store)
        st = stats[0]
        rec.rounds.append(RoundRecord(
            round=k, wall_s=wall, start=start, end=end, fetched=st.fetched,
            links=st.links_extracted, deduped=st.deduped,
            admitted=st.admitted, robots_denied=st.robots_denied,
            depth_pruned=st.depth_pruned, budget_denied=st.budget_denied,
            pending_after=eng.pending_total, crawled_before=crawled_before,
            pending_before=pending_before))
    if t_first is not None:
        rec.crawl_s = time.perf_counter() - t_first
    if not resumed:
        t0 = time.perf_counter()
        eng = open_engine(spark, cfg, inp, store, resume=True)
        rec.resume_s = time.perf_counter() - t0
    return rec, eng


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------

def _events(spark, eng: CrawlEngine, name: str) -> list:
    try:
        return eng.store.read_events(spark, name).collect()
    except ValueError:          # no partition written for this table
        return []


def check_order(spark, eng: CrawlEngine, sim) -> str | None:
    """Exact crawl order, seen set and disallowed multiset."""
    rows = sorted(_events(spark, eng, "crawled"),
                  key=lambda r: r["crawl_order"])
    got = [(r["url"], r["status"], r["depth"], r["is_retry"],
            r["retry_count"]) for r in rows]
    want = [(c.url, c.status, c.depth, c.is_retry, c.retry_count)
            for c in sim.crawled]
    if got != want:
        return f"crawl order differs: {len(got)} vs {len(want)} events"
    seen = {r["url_hash"] for r in eng._read_seen().collect()}
    if seen != sim.seen_hashes():
        return f"seen set differs: {len(seen)} vs {len(sim.seen)}"
    dis = Counter((r["url"], r["reason"])
                  for r in _events(spark, eng, "disallowed"))
    want_dis = Counter((e.url, e.reason) for e in sim.disallowed
                       if e.stage in ("links", "schedule"))
    if dis != want_dis:
        return "disallowed multiset differs"
    return None


def check_fetched_set(spark, eng: CrawlEngine, inp: Inputs) -> str | None:
    """Every corpus url fetched exactly once with a response, the dangling
    frontier urls without one; each 200 page's text digest equals the md5
    of the golden text."""
    rows = _events(spark, eng, "crawled")
    in_corpus = Counter(r["url"] for r in rows if r["status"] is not None)
    corpus = inp.tables["corpus"]
    urls = set(corpus["url"])
    if set(in_corpus) != urls or max(in_corpus.values()) != 1:
        return (f"fetched set differs: {len(in_corpus)} fetched vs "
                f"{len(urls)} corpus urls")
    dangling = {c.url for c in inp.oracle.crawled} - urls - {VIRTUAL_ROOT}
    no_response = {r["url"] for r in rows if r["status"] is None}
    if no_response != dangling or len(rows) != len(urls) + len(dangling):
        return (f"{len(rows)} crawled events for {len(urls)} corpus and "
                f"{len(dangling)} dangling urls")
    golden = {u: hashlib.md5(t.encode("utf-8")).hexdigest()
              for u, t in zip(corpus["url"], corpus["text"])}
    ct = dict(zip(inp.tables["corpus_meta"]["url"],
                  inp.tables["corpus_meta"]["content_type"]))
    bad = [r["url"] for r in rows
           if r["status"] == 200 and ct[r["url"]].startswith("text/html")
           and r["text_md5"] != golden[r["url"]]]
    if bad:
        return f"{len(bad)} pages with a wrong text_md5, e.g. {bad[0]}"
    return None


def check(spark, wl: Workload, eng: CrawlEngine, inp: Inputs) -> str | None:
    if wl.check == "order":
        return check_order(spark, eng, inp.oracle)
    return check_fetched_set(spark, eng, inp)
