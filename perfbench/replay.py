"""Driver-side replay of the extraction kernels on one core.

A fixed sample of the workload's corpus pages is pushed through the Arrow
extractor (``functions.arrow_extract.make_arrow_extract_fn``) and through
the pandas extractor (``functions.udfs.make_extract_page_udf``) on
identical pages, then split into the kernel parts the extractors call:
charset cascade and text (``kernel.extract.extract_text``), the md5 digest,
link parsing (``kernel.extract.extract_links``), per-link canonicalisation
and hash (``kernel.urlnorm``) and the robots check (``kernel.robots``).
"""

from __future__ import annotations

import hashlib
import statistics
import time

import pandas as pd
import pyarrow as pa

from abot_dotnet_core_spark.functions.arrow_extract import make_arrow_extract_fn
from abot_dotnet_core_spark.functions.udfs import make_extract_page_udf
from abot_dotnet_core_spark.kernel import urlnorm as U
from abot_dotnet_core_spark.kernel.extract import extract_links, extract_text
from abot_dotnet_core_spark.kernel.robots import is_url_allowed, parse_robots

SAMPLE_PAGES = 256
PASSES = 3


def sample_pages(tables: dict) -> pd.DataFrame:
    """Every k-th html page of the corpus, in url order: the same pages for
    the same corpus spec and seed."""
    pages = tables["corpus"][["url", "html"]].merge(
        tables["corpus_meta"][["url", "content_type", "x_robots"]], on="url")
    pages = pages[pages["content_type"].str.startswith("text/html")]
    pages = pages.sort_values("url", ignore_index=True)
    step = max(1, len(pages) // SAMPLE_PAGES)
    return pages.iloc[::step].head(SAMPLE_PAGES).reset_index(drop=True)


def _median_s(fn) -> float:
    times = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def replay(cfg, tables: dict) -> tuple[dict, str | None]:
    """Per-layer extraction metrics, and an error if the Arrow and pandas
    extractors disagree on any page."""
    pages = sample_pages(tables)
    n = len(pages)
    urls, htmls = list(pages["url"]), list(pages["html"])
    cts, xrs = list(pages["content_type"]), list(pages["x_robots"])

    batch = pa.RecordBatch.from_arrays(
        [pa.array(urls, pa.string()), pa.array(htmls, pa.binary()),
         pa.array(cts, pa.string()), pa.array(xrs, pa.string())],
        names=["url", "html", "__ct", "__xr"])
    arrow_fn = make_arrow_extract_fn(cfg, with_headers=True)
    pandas_fn = make_extract_page_udf(cfg).func
    series = (pd.Series(htmls), pd.Series(cts), pd.Series(urls),
              pd.Series([True] * n), pd.Series(xrs))
    out: dict = {}

    def run_arrow():
        out["arrow"] = list(arrow_fn(iter([batch])))

    def run_pandas():
        out["pandas"] = pandas_fn(*series)

    arrow_s = _median_s(run_arrow)
    pandas_s = _median_s(run_pandas)
    a = pa.Table.from_batches(out["arrow"]).to_pydict()
    p = out["pandas"]
    error = None
    if (a["text_md5"] != list(p["text_md5"])
            or [[lk["url"] for lk in ls] for ls in a["links"]]
            != [[lk["url"] for lk in ls] for ls in p["links"]]):
        error = "arrow and pandas extractors disagree on the replay sample"

    # per-part costs over the same pages
    texts: list = []
    links: list = []

    def do_text():
        texts[:] = [extract_text(h, c)[1] for h, c in zip(htmls, cts)]

    def do_md5():
        for t in texts:
            hashlib.md5(t.encode("utf-8")).hexdigest()

    def do_links():
        links[:] = [extract_links(t, u, None, x_robots_tag=x)
                    for t, u, x in zip(texts, urls, xrs)]

    flat = []

    def do_urlnorm():
        for link in flat:
            U.url_hash64(U.normalize_url(link))
            U.authority(link)
            U.scheme_of(link)

    text_s = _median_s(do_text)
    md5_s = _median_s(do_md5)
    links_s = _median_s(do_links)
    flat[:] = [lk for ls in links for lk in ls if lk.startswith("http")]
    urlnorm_s = _median_s(do_urlnorm)

    robots_rules = {
        f"http://{d}/": parse_robots(t)
        for d, t in zip(tables["robots"]["domain"],
                        tables["robots"]["robots_txt"])}
    checks = [(robots_rules.get(f"{U.scheme_of(lk)}://{U.authority(lk)}/"), lk)
              for lk in flat]
    checks = [(r, lk) for r, lk in checks if r is not None]
    ua = cfg.robots_dot_text_user_agent_string

    def do_robots():
        for rules, lk in checks:
            is_url_allowed(rules, f"{U.scheme_of(lk)}://{U.authority(lk)}/",
                           lk, ua)

    robots_s = _median_s(do_robots)
    us = 1e6
    return {
        "extract.arrow_pages_per_s": n / arrow_s,
        "extract.pandas_pages_per_s": n / pandas_s,
        "extract.text_us_per_page": text_s * us / n,
        "extract.links_us_per_page": links_s * us / n,
        "extract.md5_us_per_page": md5_s * us / n,
        "urlnorm.us_per_link": urlnorm_s * us / max(len(flat), 1),
        "robots.us_per_url": robots_s * us / max(len(checks), 1),
    }, error
