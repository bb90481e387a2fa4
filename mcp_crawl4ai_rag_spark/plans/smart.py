"""Smart-crawl dispatch — the reference's flagship ``smart_crawl_url`` tool
(src/crawl4ai_mcp.py:561-890) as a plan over the engine primitives.

Dispatch order (reference :699-758): ``.txt`` → text-file path (single
fetch, no link following, :892-913); sitemap → recursive sitemap expansion
(:717) + prefix filter (:726-739) + batch fetch without link following
(:747); otherwise → recursive internal-link crawl bounded by the derived
prefix (:757, derivation :663-680).

All three paths run through :class:`CrawlEngine` — the txt path is a 1-seed
depth-1 crawl, the sitemap path an n-seed depth-1 crawl, the webpage path
the full epoch loop — so robots gating, URL-seen dedup, and lineage stay
uniform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import local_ckpt_observed

from ..config import DEFAULT_MAX_DEPTH, SITEMAP_MAX_DEPTH
from ..functions.urls import (
    comparison_normalize,
    py_comparison_normalize,
    py_derive_prefix,
    py_is_sitemap,
    py_is_txt,
)
from ..sources.sitemap import expand_sitemaps
from .crawl import CrawlEngine, CrawlRunResult


def _seed_df(
    spark: SparkSession, urls_df: DataFrame, n_rows: int | None = None
) -> DataFrame:
    """URL list → seed frontier rows with the deterministic seq contract
    (alphabetical — the sitemap document order is already encoded in the
    corpus; ties don't exist after dedup).

    A global ``row_number`` window funnels every row through one task —
    fine for a handful of seeds, fatal for a 50M-URL sitemap index. Above
    the same threshold the crawl path uses (CrawlEngine.SEQ_WINDOW_MAX_ROWS)
    the rank is computed distributed via operators/ordering.distributed_rank
    (range-partition + per-partition offsets — identical output, pinned
    equal in tests/test_ordering.py)."""
    base = urls_df.select(
        "url", F.lit(0).alias("priority"), F.lit(0).alias("depth")
    )
    if n_rows is not None and n_rows > CrawlEngine.SEQ_WINDOW_MAX_ROWS:
        from ..operators.ordering import distributed_rank

        return distributed_rank(base, ["url"], out_col="seq").select(
            "url", "priority", "depth", F.col("seq").cast("long").alias("seq")
        )
    w = Window.orderBy("url")
    return base.select(
        "url",
        "priority",
        "depth",
        (F.row_number().over(w) - 1).cast("long").alias("seq"),
    )


def smart_crawl(
    spark: SparkSession,
    url: str,
    pages: DataFrame,
    sitemaps: DataFrame | None = None,
    robots: DataFrame | None = None,
    max_depth: int = DEFAULT_MAX_DEPTH,
    prefix: str | None = None,
    sitemap_max_depth: int = SITEMAP_MAX_DEPTH,
) -> CrawlRunResult:
    """Classify ``url`` and run the matching crawl plan; returns the engine's
    :class:`CrawlRunResult` (fetched docs + url_seen + lineage)."""
    from .rag import validate_crawl_params

    max_depth, _, _ = validate_crawl_params(max_depth)  # F10 clamps
    if prefix is None:
        prefix = py_derive_prefix(url)  # reference :663-680

    if py_is_txt(url):  # reference :699-707 → crawl_markdown_file
        seeds = _seed_df(spark, spark.createDataFrame([(url,)], "url string"))
        engine = CrawlEngine(spark, pages, robots=None)
        return engine.run(seeds, max_depth=1)

    if py_is_sitemap(url):  # reference :709-747
        assert sitemaps is not None, "sitemap crawl needs a sitemap corpus"
        page_urls = expand_sitemaps(spark, sitemaps, [url], sitemap_max_depth)
        norm_prefix = py_comparison_normalize(prefix)
        page_urls = page_urls.where(  # prefix filter, reference :726-739
            comparison_normalize(F.col("url")).startswith(F.lit(norm_prefix))
        )
        # the count (picks window vs distributed seq assignment) rides the
        # checkpoint materialization; downstream seed/crawl scans then read
        # the checkpointed URL set instead of re-deriving the expansion
        page_urls, m = local_ckpt_observed(page_urls)
        seeds = _seed_df(spark, page_urls, n_rows=int(m["n"]))
        engine = CrawlEngine(spark, pages, robots=robots)
        return engine.run(seeds, max_depth=1)  # batch fetch, no link follow

    engine = CrawlEngine(spark, pages, robots=robots)
    seeds = _seed_df(spark, spark.createDataFrame([(url,)], "url string"))
    return engine.run(seeds, max_depth=max_depth, prefix=prefix)
