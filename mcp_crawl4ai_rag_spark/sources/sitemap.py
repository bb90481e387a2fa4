"""Sitemap source: recursive sitemap-index expansion (SURVEY.md §2.1 S3).

Re-expresses the reference's ``parse_sitemap`` (src/crawl4ai_mcp.py:175-229):
fetch a sitemap URL, gunzip ``.xml.gz`` payloads (:200-205), XML-parse
(:207), recurse into ``<sitemap>`` index entries depth-capped at
SITEMAP_MAX_DEPTH=2 (:43,210-217), collect ``<loc>`` page URLs (:220).

Spark shape: a driver-side loop of at most SITEMAP_MAX_DEPTH+1 levels; each
level joins the pending sitemap URLs against the sitemap corpus (broadcast —
the pending set is tiny vs the corpus scan, mirroring the page fetch-join)
and parses the fetched bodies in one Arrow-batched ``mapInPandas`` stage
(gzip + ElementTree per body, never per row crossing into Python
individually). At real scale the join body swaps for an HTTP fetch stage
with the identical schema.
"""

from __future__ import annotations

import gzip
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import local_ckpt

from ..config import SITEMAP_MAX_DEPTH

ENTRY_SCHEMA = (
    "sitemap_url string, kind string, loc string, lastmod string,"
    " priority string, changefreq string"
)


def parse_sitemap_bodies(fetched: DataFrame) -> DataFrame:
    """(url, body binary) → one row per ``<loc>`` entry with kind
    'sitemap' (index entry) or 'url' (page entry). Gzip-sniffs the payload
    like the reference does for ``.xml.gz`` (src/crawl4ai_mcp.py:200-205);
    malformed XML yields no entries (reference swallows parse errors)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, body in zip(pdf["url"], pdf["body"]):
                data = bytes(body)
                if data[:2] == b"\x1f\x8b":
                    data = gzip.decompress(data)
                try:
                    root = ET.fromstring(data)
                except ET.ParseError:
                    continue
                for child in root:
                    tag = child.tag.rsplit("}", 1)[-1]
                    loc = None
                    lastmod = None
                    prio = None
                    cfreq = None
                    for sub in child:
                        stag = sub.tag.rsplit("}", 1)[-1]
                        if stag == "loc" and loc is None:
                            loc = sub
                        elif stag == "lastmod" and lastmod is None:
                            lastmod = sub
                        elif stag == "priority" and prio is None:
                            prio = sub
                        elif stag == "changefreq" and cfreq is None:
                            cfreq = sub
                    if loc is not None and loc.text:
                        rows.append((
                            url,
                            "sitemap" if tag == "sitemap" else "url",
                            loc.text.strip(),
                            lastmod.text.strip() if lastmod is not None and lastmod.text else None,
                            prio.text.strip() if prio is not None and prio.text else None,
                            cfreq.text.strip().lower() if cfreq is not None and cfreq.text else None,
                        ))
            yield pd.DataFrame(
                rows,
                columns=[
                    "sitemap_url", "kind", "loc", "lastmod", "priority",
                    "changefreq",
                ],
            )

    return fetched.select("url", "body").mapInPandas(gen, schema=ENTRY_SCHEMA)


def expand_sitemaps(
    spark: SparkSession,
    sitemap_corpus: DataFrame,
    seed_sitemap_urls: list[str],
    max_depth: int = SITEMAP_MAX_DEPTH,
    with_lastmod: bool = False,
    with_priority: bool = False,
    with_changefreq: bool = False,
) -> DataFrame:
    """Recursively expand sitemap URLs to the distinct page-URL set.

    ``sitemap_corpus``: (url, body binary) — what fetching a sitemap URL
    returns. Depth semantics follow the reference exactly: entries found in
    a sitemap fetched at depth d recurse only while d < max_depth
    (src/crawl4ai_mcp.py:210-217); page ``<loc>`` entries are collected at
    every depth.

    ``with_lastmod=True`` also returns each page's ``<lastmod>`` (the
    sitemaps.org recrawl signal the reference ignores entirely; a
    duplicated URL keeps its lexicographically-max lastmod — newest date,
    ISO strings order correctly) for freshness-aware frontier priority
    (``lastmod_age_priority``).

    ``with_priority=True`` also returns each page's ``<priority>`` (the
    third sitemaps.org signal — the site owner's own crawl-importance
    hint, [0.0, 1.0], default 0.5; likewise ignored by the reference); a
    duplicated URL keeps its max priority (the strongest claim). Feed
    through ``sitemap_priority_milli`` into the frontier's priority
    column.

    ``with_changefreq=True`` returns ``changefreq_hours`` — the
    ``<changefreq>`` vocabulary mapped to a recrawl interval
    (``changefreq_interval_hours``); a duplicated URL keeps its MOST
    FREQUENT claim (min interval, the conservative recrawl posture).
    Feed into plans/rag.recrawl_schedule as the owner-declared prior
    alongside the observed change rate.
    """
    pending = spark.createDataFrame(
        [(u,) for u in seed_sitemap_urls], "url string"
    ).dropDuplicates(["url"])
    page_parts: list[DataFrame] = []
    for depth in range(max_depth + 1):
        if pending.isEmpty():
            break
        fetched = sitemap_corpus.join(F.broadcast(pending), "url", "inner")
        entries = local_ckpt(parse_sitemap_bodies(fetched))
        page_cols = ["loc"]
        if with_lastmod:
            page_cols.append("lastmod")
        if with_priority:
            page_cols.append("priority")
        if with_changefreq:
            page_cols.append("changefreq")
        page_parts.append(
            entries.where(F.col("kind") == "url").select(*[F.col(c) for c in page_cols])
        )
        if depth < max_depth:
            pending = (
                entries.where(F.col("kind") == "sitemap")
                .select(F.col("loc").alias("url"))
                .dropDuplicates(["url"])
            )
        else:
            pending = pending.limit(0)
    if not page_parts:
        empty_schema = "loc string"
        if with_lastmod:
            empty_schema += ", lastmod string"
        if with_priority:
            empty_schema += ", priority string"
        if with_changefreq:
            empty_schema += ", changefreq string"
        out = spark.createDataFrame([], empty_schema)
    else:
        out = page_parts[0]
        for p in page_parts[1:]:
            out = out.unionByName(p)
    aggs = []
    if with_lastmod:
        aggs.append(F.max("lastmod").alias("lastmod"))
    if with_priority:
        # NUMERIC max (a string max would misorder '.9' vs '0.5');
        # unparseable values cast to NULL, which max ignores — a URL whose
        # only priorities are malformed ends NULL and takes the default
        # downstream
        # try_cast: ANSI mode makes a plain cast THROW on 'junk' values
        aggs.append(
            F.max(F.col("priority").try_cast("double")).alias("priority")
        )
    if with_changefreq:
        # duplicate URLs keep the MOST FREQUENT claim (min interval) —
        # the conservative recrawl posture; aggregate over the mapped
        # interval, not the string (alphabetical order is meaningless).
        # Only EXPLICIT claims compete in the min (missing/unknown maps
        # to NULL, which min ignores): with the default applied inside
        # the aggregate, a URL listed once as 'yearly' and once with no
        # tag would end at the monthly default — an absent hint must
        # never override an explicit claim. Default applied after.
        aggs.append(
            F.min(changefreq_interval_hours_nullable("changefreq")).alias(
                "changefreq_hours"
            )
        )
    if aggs:
        agged = out.groupBy(F.col("loc").alias("url")).agg(*aggs)
        if with_changefreq:
            agged = agged.withColumn(
                "changefreq_hours",
                F.coalesce(
                    F.col("changefreq_hours"),
                    F.lit(CHANGEFREQ_DEFAULT_HOURS).cast("int"),
                ),
            )
        return agged
    return out.select(F.col("loc").alias("url")).dropDuplicates(["url"])


def lastmod_age_priority(lastmod, now_date: str, default_days: int = 365):
    """Freshness-aware frontier priority from a sitemap ``<lastmod>``:
    age in days vs the fixed ``now_date`` (an explicit parameter — never a
    clock read inside a plan), clamped to [0, 3650]; missing/unparsable
    lastmod gets ``default_days``. Smaller = fresher = crawled sooner
    under the ascending (depth, priority, seq) pop order — the recrawl
    half of the freshness story (plans/rag.recrawl_schedule) applied at
    DISCOVERY time."""
    c = F.col(lastmod) if isinstance(lastmod, str) else lastmod
    d = F.to_date(F.substring(c, 1, 10))
    age = F.datediff(F.to_date(F.lit(now_date)), d)
    # explicit missing branch: Spark's greatest/least IGNORE nulls, so
    # clamping a NULL age would silently return the clamp bound instead of
    # falling through to the default (same trap as freshness_score_milli)
    return (
        F.when(age.isNull(), F.lit(int(default_days)))
        .otherwise(F.greatest(F.lit(0), F.least(F.lit(3650), age)))
        .cast("int")
    )


# sitemaps.org <changefreq> vocabulary -> recrawl interval in HOURS
# ('always' = recheck every visit -> 0; 'never' = park it -> 10 years).
# Unknown/missing values take the monthly default — the spec says the
# field is a hint, and monthly is the conservative middle.
CHANGEFREQ_HOURS = {
    "always": 0,
    "hourly": 1,
    "daily": 24,
    "weekly": 168,
    "monthly": 720,
    "yearly": 8760,
    "never": 87600,
}
CHANGEFREQ_DEFAULT_HOURS = 720


def changefreq_interval_hours(changefreq, default_hours: int = CHANGEFREQ_DEFAULT_HOURS):
    """Recrawl-interval hours from a sitemap ``<changefreq>`` value —
    case-insensitive vocabulary lookup with an explicit missing/unknown
    default branch (the greatest/least NULL trap does not bite a CASE
    chain, but the default must still be explicit so junk values don't
    fall through to NULL)."""
    c = F.col(changefreq) if isinstance(changefreq, str) else changefreq
    lc = F.lower(c)
    expr = None
    for k, v in CHANGEFREQ_HOURS.items():
        expr = (
            F.when(lc == k, F.lit(v))
            if expr is None
            else expr.when(lc == k, F.lit(v))
        )
    return expr.otherwise(F.lit(int(default_hours))).cast("int")


def changefreq_interval_hours_nullable(changefreq):
    """Aggregation-safe variant: NULL (not the default) for a missing or
    unknown ``<changefreq>``, so only explicit claims compete inside a
    min/max aggregate; callers apply ``CHANGEFREQ_DEFAULT_HOURS`` via
    coalesce AFTER aggregating (see expand_sitemaps)."""
    c = F.col(changefreq) if isinstance(changefreq, str) else changefreq
    lc = F.lower(c)
    expr = None
    for k, v in CHANGEFREQ_HOURS.items():
        expr = (
            F.when(lc == k, F.lit(v))
            if expr is None
            else expr.when(lc == k, F.lit(v))
        )
    return expr.otherwise(F.lit(None)).cast("int")


def py_changefreq_interval_hours(
    changefreq: str | None, default_hours: int = CHANGEFREQ_DEFAULT_HOURS
) -> int:
    """Python twin of changefreq_interval_hours."""
    if changefreq is None:
        return default_hours
    return CHANGEFREQ_HOURS.get(changefreq.lower(), default_hours)


def sitemap_priority_milli(priority, default_milli: int = 500):
    """Frontier priority from a sitemap ``<priority>`` (sitemaps.org:
    [0.0, 1.0], default 0.5 — the site owner's own crawl-importance hint,
    which the reference ignores entirely): fixed-pointed to milli and
    INVERTED (``1000 - round(p*1000)``) because the frontier pops
    ascending — priority 1.0 becomes 0 (soonest), 0.0 becomes 1000.
    Out-of-range values clamp to [0, 1]; missing/unparseable takes the
    spec default via ``default_milli`` (explicit NULL branch — Spark's
    greatest/least ignore NULLs, the engine-wide clamp trap)."""
    c = F.col(priority) if isinstance(priority, str) else priority
    p = c.try_cast("double")  # ANSI-safe: 'junk' -> NULL -> default branch
    milli = F.floor(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), p)) * F.lit(1000.0)
        + F.lit(0.5)
    ).cast("int")
    return (
        F.when(p.isNull(), F.lit(1000 - int(default_milli)))
        .otherwise(F.lit(1000) - milli)
        .cast("int")
    )
