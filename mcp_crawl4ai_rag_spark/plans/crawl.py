"""Level-synchronous frontier crawl — the engine's flagship plan.

Re-expresses the reference's ``crawl_recursive_internal_links``
(src/crawl4ai_mcp.py:955-1067) as a driver-side epoch loop over DataFrame
operations (the Pregel pattern):

    seeds → [epoch: binary-filter → bloom+anti-join URL-seen (J1)
             → politeness pop (J4, salted) → mark visited AT SCHEDULE TIME
             → robots gate (D4) → fetch-join corpus (S1/S2)
             → success filter (F11) → link explode + resolve (F7)
             → boundary filters (F1/F4/F5/F6) → next-level anti-join (J2)
             → seq assignment → union frontier (U1) → snapshot (S7)] × depth

Semantics faithfully reproduced from the reference:
- URLs are marked visited when *scheduled*, not on completion
  (src/crawl4ai_mcp.py:1000-1004) — failed fetches are consumed and never
  retried within a crawl;
- links are expanded only from successful fetches with non-empty markdown
  (:1015);
- binary URLs are dropped both at schedule time (:1001) and at discovery
  (:1042-1044); fragments are stripped for identity (:984-985,1039);
- with a prefix, discovered links must match the prefix host (:1046-1049)
  and the comparison-normalized prefix (:1051-1053);
- the loop covers depth levels 0..max_depth-1 and exits early on an empty
  frontier (:1006-1008).

Ordering contract (SURVEY.md §7.0): the reference's intra-level order is
Python-set iteration order (unspecified); this engine defines the total
order (depth ASC, priority ASC, seq ASC) where ``seq`` is the deterministic
discovery sequence — seeds keep their given seq, discovered URLs are ranked
by (parent_seq, link_position) of their first discoverer.

Fetching joins the frontier batch against a corpus table (no network in the
sandbox); at real scale the join body is swapped for a mapInPandas fetch
stage with the identical input/output schema. The join itself is shaped for
a 100 TB corpus: the popped batch (politeness-bounded, ≪ corpus) is
broadcast against the corpus scan — zero shuffle of the big side — and the
not-found remainder is recovered with a second tiny broadcast anti-join.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import SER_CKPT_LEVEL as _SER_LEVEL  # single engine-wide definition

from ..config import BLOOM_MIN_SEEN
from ..functions.urls import (
    canonical_url,
    comparison_normalize,
    is_binary_url,
    py_comparison_normalize,
    registrable_domain,
    resolve_href,
    url_hash,
    url_host,
    url_path,
    url_path_query,
    url_template,
)
from ..operators.politeness import (
    apply_template_guard,
    attach_budgets,
    pop_per_host,
    pop_per_host_threshold,
    robots_denied_expr,
    robots_denied_rfc_expr,
    robots_denied_wildcard_expr,
    update_backoff,
)
from ..operators.urlseen import anti_join_seen, build_bloom
from ..sources.checkpoint import CheckpointManager

# Buckets of the stored frontier table (bucketed by host): parallelism of
# the stored pop, which runs inside the buckets with no exchange.
_FRONTIER_STORE_BUCKETS = 16
_FRONTIER_COLS = ["canonical_url", "url_hash", "host", "path", "depth", "priority", "seq"]
_URL_SEEN_SCHEMA = (
    "url_hash long, canonical_url string, host string, depth int, seq long, epoch_seen int"
)
_FETCHED_SCHEMA = (
    "canonical_url string, host string, depth int, seq long, markdown string, "
    "image_ids array<string>, epoch int"
)
_LINEAGE_SCHEMA = (
    "epoch int, urls_scheduled long, pages_fetched long, dedup_hits long, "
    "robots_denials long, politeness_deferrals long, urls_discovered long"
)


@dataclass
class CrawlRunResult:
    url_seen: DataFrame
    fetched: DataFrame
    lineage: DataFrame
    frontier_remaining: DataFrame
    epochs_run: int = 0
    stats: dict = field(default_factory=dict)


def _union_all(spark: SparkSession, parts: list[DataFrame], schema: str) -> DataFrame:
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


class CrawlEngine:
    """Frontier + fetch scheduler over a corpus DataFrame.

    Parameters
    ----------
    pages : corpus table (url, host, path, markdown, out_links, image_ids,
        status, success) — what a fetch returns.
    robots : (host, disallow_prefixes, crawl_delay) or None to disable.
    allowed_host_suffix : discovered links must have a host with this suffix
        (crawl boundary for multi-host crawls; single-host boundaries come
        from ``prefix``).
    checkpoint_dir : per-epoch snapshot directory; enables resume().
    epoch_seconds : crawl time one epoch stands for (sets per-host budgets).
    url_scorer, link_filter : Column hooks on discovered URLs (priority,
        keep-iff-true).
    redirects : (from_url, to_url) table followed hop by hop across epochs.
    template_guard_cap : drop discovered URLs whose template family has
        already scheduled more than this many URLs.
    frontier_store_dir : persist each epoch's frontier as a host-bucketed
        table and pop it with the threshold pop; unset, the frontier stays
        in memory and the salted two-phase pop runs.
    politeness_grain : "host" or "domain" (registrable domain) budgets.

    The physical plan is the engine's own choice: the URL-seen anti-join is
    bloom-prefiltered once url_seen reaches ``BLOOM_MIN_SEEN`` rows, and
    the pop follows ``frontier_store_dir``.
    """

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame | None = None,
        *,
        allowed_host_suffix: str | None = None,
        checkpoint_dir: str | None = None,
        epoch_seconds: float | None = None,
        url_scorer=None,
        link_filter=None,
        redirects=None,
        template_guard_cap=None,
        frontier_store_dir: str | None = None,
        politeness_grain: str = "host",
    ):
        self.spark = spark
        self.pages = pages
        self.robots = robots
        self.allowed_host_suffix = allowed_host_suffix
        self.ckpt = CheckpointManager(spark, checkpoint_dir) if checkpoint_dir else None
        self.epoch_seconds = epoch_seconds
        # Best-first hook (crawl4ai BestFirstCrawlingStrategy's url_scorer):
        # a Column factory url_col -> priority Column, applied to every
        # DISCOVERED URL in _expand — so frontier order (T4: depth,
        # priority, seq) ranks links by score instead of inheriting the
        # discoverer's priority. Compose with functions/urls
        # best_first_priority / composite_priority. Seeds keep their own
        # caller-set priority column. Must be deterministic (pure column
        # expression) — resume replays it bit-identically.
        self.url_scorer = url_scorer
        # Link-filter hook (crawl4ai FilterChain's engine seat): a Column
        # factory url_col -> boolean Column applied to every DISCOVERED URL
        # in _expand, after the built-in binary/shape filters and before
        # boundary filters — keep iff true. Compose with functions/urls
        # filter_chain / url_pattern_match / ~is_crawl_trap; pair with
        # operators/politeness.apply_template_guard between epochs for the
        # dynamic-family guard. Must be a deterministic pure column
        # expression — resume replays it bit-identically.
        self.link_filter = link_filter
        # HTTP-level redirect handling (301/302 chains): ``redirects`` is a
        # (from_url, to_url) table. crawl4ai's browser follows redirects
        # transparently inside one fetch; an HTTP frontier crawler must NOT
        # — the TARGET host's politeness budget and robots rules govern the
        # next hop, so a popped, robots-allowed URL matching the table is
        # consumed without a fetch and its canonicalized target re-enters
        # the frontier at the SAME depth (redirects don't consume crawl
        # depth) with the source's priority, ordered BEFORE the source
        # page's out-links (link_pos -1: the hop precedes parsing).
        # Targets pass the same binary/boundary/link_filter gates as
        # discovered links; chains follow across epochs; loops terminate
        # via the visited set. A URL has ONE Location header, so the map
        # is deduped to min(to_url) per from_url here — duplicate rows
        # (e.g. a fetch log where a Location changed between
        # observations) would otherwise undercount lineage denials and
        # leave the kept target to a struct-min tiebreak. Callers with a
        # known-unique table at 10^10 scale should pre-dedup and the
        # aggregation collapses to a cheap pass-through of unique keys.
        # ``None`` (default) = behavior unchanged.
        self.redirects = (
            redirects.groupBy("from_url").agg(F.min("to_url").alias("to_url"))
            if redirects is not None
            else None
        )
        # Dynamic trap-family guard (the IN-CRAWL seat of operators/
        # politeness.template_explosion): with ``template_guard_cap=N``,
        # per-(host,template) scheduled counts are folded INCREMENTALLY
        # from each popped batch (the host_counts pattern — a
        # |families|-row table, never a url_seen re-aggregation), and
        # discovered URLs whose family already exceeds N are dropped
        # before they enter the frontier (broadcast LEFT ANTI on the
        # family-bounded flagged set). Families explode DURING a crawl —
        # a static link_filter can't see them; this guard can. On resume
        # the counter is rebuilt once from the checkpointed url_seen.
        # ``None`` (default) = behavior unchanged.
        self.template_guard_cap = template_guard_cap
        # STORED-FRONTIER mode (the 10^10 cluster shape, executed): with
        # ``frontier_store_dir`` set, each epoch's frontier is persisted as
        # a parquet table BUCKETED BY host (sorted by the pop order inside
        # each bucket) and the epoch reads it back as a table scan. This is
        # the deployment claim made concrete in-sandbox (Iceberg stands in
        # as bucketed parquet, README Iceberg note):
        #   * the threshold pop's dual read (narrow ranking branch + wide
        #     filter branch) becomes two COLUMN-PRUNED scans of one table —
        #     no full-width materialization, no recompute of the epoch
        #     lineage: the table IS the materialization;
        #   * the scan's bucket layout (HashPartitioning on host) satisfies
        #     every downstream clustering the pop needs — the per-(host,
        #     lane) rank window, the per-host rank window, and the
        #     threshold groupBy — so the entire pop runs with ZERO
        #     exchanges (plan-pinned in tests/test_crawl.py).
        # Output is bit-identical to the in-memory run (gate-checked:
        # __spark_entry__ crawl_bfs_visited 'stored' + politeness_drain
        # 'stored' legs share the in-memory legs' oracles).
        # Without a store the salted two-phase pop runs: on one box it wins
        # wall-clock (interleaved paired A/B, BENCH/
        # bench_r3_ab_pairs_postfix.json: median twophase/threshold 0.51)
        # because its exchanges double as materialization for the
        # popped/deferred dual read, which the threshold pop would have to
        # pay for with a full-width checkpoint.
        self.frontier_store_dir = frontier_store_dir
        # Politeness GRAIN: "host" throttles per hostname (the reference's
        # RateLimiter grain); "domain" throttles per registrable domain
        # (eTLD+1 via functions/urls.registrable_domain) — the grain real
        # crawlers run at, because 'a.example.com' and 'b.example.com' are
        # one server farm and per-hostname budgets let a crawler hammer a
        # domain N-subdomains fast. Implementation: the host column is
        # MAPPED to its domain around the budget join + pop (and the
        # backoff statuses fold at the same grain), then restored — robots
        # gating, fetch, lineage, and url_seen stay hostname-grain. The
        # max_pages_per_host quota follows the same grain (per DOMAIN
        # under "domain"): counter fold, resume rebuild, and the clamp
        # join all key identically, so the quota can never silently
        # no-op on a key mismatch.
        if politeness_grain not in ("host", "domain"):
            raise ValueError(
                f"politeness_grain must be host|domain, got {politeness_grain!r}"
            )
        self.politeness_grain = politeness_grain
        if frontier_store_dir is not None:
            import hashlib

            self._store_prefix = (
                "frontier_"
                + hashlib.md5(frontier_store_dir.encode()).hexdigest()[:10]
            )

    # -- frontier construction -------------------------------------------

    def _seed_frontier(self, seeds: DataFrame) -> DataFrame:
        """Validate + canonicalize seeds (reference :452-474 validation,
        :990 normalize+dedupe, :989 binary filter)."""
        c = canonical_url(F.col("url"))
        fr = (
            seeds.where(F.col("url").rlike(r"^https?://[^/\s]+"))
            .where(~is_binary_url(F.col("url")))
            .select(
                c.alias("canonical_url"),
                url_hash(c).alias("url_hash"),
                url_host(c).alias("host"),
                url_path(c).alias("path"),
                F.col("depth").cast("int").alias("depth"),
                F.col("priority").cast("int").alias("priority"),
                F.col("seq").cast("long").alias("seq"),
            )
        )
        return self._dedup_frontier(fr)

    @staticmethod
    def _dedup_frontier(frontier: DataFrame) -> DataFrame:
        """One row per canonical_url, keeping the min (depth, priority, seq)
        entry — deterministic U1/U2 set semantics."""
        picked = frontier.groupBy("canonical_url").agg(
            F.min(
                F.struct("depth", "priority", "seq", "url_hash", "host", "path")
            ).alias("k")
        )
        return picked.select(
            "canonical_url",
            F.col("k.url_hash").alias("url_hash"),
            F.col("k.host").alias("host"),
            F.col("k.path").alias("path"),
            F.col("k.depth").alias("depth"),
            F.col("k.priority").alias("priority"),
            F.col("k.seq").alias("seq"),
        )

    def _store_frontier(self, epoch: int, frontier: DataFrame) -> DataFrame:
        """Persist the epoch's frontier as a host-bucketed, pop-order-sorted
        parquet table and return the TABLE SCAN that replaces it. Bucketing
        by host is what makes the stored pop exchange-free: the scan reports
        HashPartitioning(host), which satisfies the clustering required by
        both pop windows and the threshold groupBy."""
        import os

        name = f"{self._store_prefix}_ep{epoch}"
        (
            frontier.select(*_FRONTIER_COLS)
            .write.format("parquet")
            .bucketBy(_FRONTIER_STORE_BUCKETS, "host")
            .sortBy("depth", "priority", "seq")
            .mode("overwrite")
            .option("path", os.path.join(self.frontier_store_dir, f"ep{epoch}"))
            .saveAsTable(name)
        )
        return self.spark.table(name)

    # -- fetch -------------------------------------------------------------

    def _fetch_batch(self, batch: DataFrame) -> DataFrame:
        """Fetch-join shaped for a huge corpus: broadcast the popped batch
        into an inner join against the corpus scan (no corpus shuffle), then
        recover not-found URLs with a tiny broadcast anti-join. Equivalent to
        ``batch LEFT JOIN pages`` with success=false for misses."""
        pages = self.pages.withColumnRenamed("url", "canonical_url").drop("host", "path")
        found = pages.join(F.broadcast(batch), "canonical_url", "inner").withColumn(
            "success", F.col("success") & F.col("markdown").isNotNull()
        )
        # found is batch-bounded (≤ popped rows, ≪ corpus): checkpoint it so
        # the corpus is scanned ONCE per epoch — without this, the not-found
        # recovery below re-derives `found` and re-scans the corpus.
        found = found.localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
        missing = batch.join(
            F.broadcast(found.select("canonical_url")), "canonical_url", "left_anti"
        ).select(
            "*",
            F.lit(None).cast("string").alias("markdown"),
            F.lit(None).cast("array<string>").alias("out_links"),
            F.lit(None).cast("array<string>").alias("image_ids"),
            F.lit(None).cast("int").alias("status"),
            F.lit(False).alias("success"),
        )
        return found.select(*missing.columns).unionByName(missing)

    # -- expansion -----------------------------------------------------------

    def _gate_next_urls(self, df: DataFrame, prefix: str | None) -> DataFrame:
        """The discovered-URL gates (F1 binary, F4 prefix, F5 same-domain,
        link_filter hook) over a ``next_url`` column — ONE definition so
        link expansion and redirect targets cannot drift apart."""
        df = df.where(
            F.col("next_url").isNotNull() & (F.col("next_url") != "")
        ).where(~is_binary_url(F.col("next_url")))
        if self.link_filter is not None:
            df = df.where(self.link_filter(F.col("next_url")))
        if prefix is not None:
            target_domain = urlparse(prefix).netloc
            norm_prefix = py_comparison_normalize(prefix)
            df = df.where(
                (url_host(F.col("next_url")) == F.lit(target_domain))
                & comparison_normalize(F.col("next_url")).startswith(F.lit(norm_prefix))
            )
        elif self.allowed_host_suffix:
            df = df.where(
                url_host(F.col("next_url")).endswith(F.lit(self.allowed_host_suffix))
            )
        return df

    def _redirect_targets(self, red_src: DataFrame, prefix: str | None) -> DataFrame:
        """Frontier rows for the redirect targets of this batch
        (``red_src``: the batch ⋈ redirects rows, carrying to_url +
        depth/priority/seq), shaped like ``_expand`` output: SAME depth,
        inherited priority, ordered before the source page's links
        (__disc_pos -1)."""
        rt = red_src.select(
            canonical_url(F.col("to_url")).alias("next_url"),
            F.col("depth").alias("parent_depth"),
            F.col("priority").alias("parent_priority"),
            F.col("seq").alias("parent_seq"),
        )
        rt = self._gate_next_urls(rt, prefix)
        # best-first consistency: a scored engine scores the TARGET like
        # any discovered URL (_expand's rule); otherwise inherit the source
        prio = (
            self.url_scorer(F.col("next_url")).cast("int")
            if self.url_scorer is not None
            else F.col("parent_priority").cast("int")
        )
        return rt.select(
            F.col("next_url").alias("canonical_url"),
            url_hash(F.col("next_url")).alias("url_hash"),
            url_host(F.col("next_url")).alias("host"),
            url_path(F.col("next_url")).alias("path"),
            F.col("parent_depth").cast("int").alias("depth"),
            prio.alias("priority"),
            F.col("parent_seq").alias("__disc_seq"),
            F.lit(-1).alias("__disc_pos"),
        )

    @staticmethod
    def _first_discoverer(discovered: DataFrame) -> DataFrame:
        """Collapse duplicate discoveries of one URL (link ∪ redirect) to
        the min-(__disc_seq, __disc_pos) discoverer — the same rule
        _expand applies among links."""
        return discovered.groupBy("canonical_url").agg(
            F.min(
                F.struct(
                    "__disc_seq", "__disc_pos", "depth", "priority",
                    "url_hash", "host", "path",
                )
            ).alias("k")
        ).select(
            "canonical_url",
            F.col("k.url_hash").alias("url_hash"),
            F.col("k.host").alias("host"),
            F.col("k.path").alias("path"),
            F.col("k.depth").alias("depth"),
            F.col("k.priority").alias("priority"),
            F.col("k.__disc_seq").alias("__disc_seq"),
            F.col("k.__disc_pos").alias("__disc_pos"),
        )

    def _expand(self, fetched_ok: DataFrame, prefix: str | None) -> DataFrame:
        """Discovered-link expansion with all reference filters applied
        (F1 binary, F4 prefix, F5 same-domain, F6 defrag, F7 resolve,
        F8 shape)."""
        links = fetched_ok.select(
            F.col("canonical_url").alias("base_url"),
            F.col("depth").alias("parent_depth"),
            F.col("priority").alias("parent_priority"),
            F.col("seq").alias("parent_seq"),
            F.posexplode("out_links").alias("link_pos", "href"),
        )
        resolved = links.withColumn(
            "next_url", canonical_url(resolve_href(F.col("base_url"), F.col("href")))
        )
        resolved = self._gate_next_urls(resolved, prefix)

        # First-discoverer dedup: min (parent_seq, link_pos) per URL; depth/
        # priority inherited from that discoverer (deterministic).
        picked = resolved.groupBy("next_url").agg(
            F.min(
                F.struct(
                    F.col("parent_seq"),
                    F.col("link_pos"),
                    F.col("parent_depth"),
                    F.col("parent_priority"),
                )
            ).alias("k")
        )
        prio = (
            self.url_scorer(F.col("next_url")).cast("int")
            if self.url_scorer is not None
            else F.col("k.parent_priority").cast("int")
        )
        return picked.select(
            F.col("next_url").alias("canonical_url"),
            url_hash(F.col("next_url")).alias("url_hash"),
            url_host(F.col("next_url")).alias("host"),
            url_path(F.col("next_url")).alias("path"),
            (F.col("k.parent_depth") + 1).cast("int").alias("depth"),
            prio.alias("priority"),
            F.col("k.parent_seq").alias("__disc_seq"),
            F.col("k.link_pos").alias("__disc_pos"),
        )

    # Above this many discovered rows the global row_number window (a
    # single-task sort) is replaced by the distributed range-partitioned
    # rank — identical output, scales with partitions.
    SEQ_WINDOW_MAX_ROWS = 100_000

    def _assign_seq(
        self, discovered: DataFrame, seq_offset: int, n_rows: int | None = None
    ) -> DataFrame:
        """Deterministic discovery sequence: rank by (first-discoverer seq,
        link position, url) — the §7.0 ordering contract. The sort key ends
        in canonical_url (unique) so the order is total.

        Small batches use one row_number window (cheapest); large batches the
        distributed rank (operators/ordering.py) — equality of the two paths
        is pinned in tests/test_ordering.py."""
        order = ["__disc_seq", "__disc_pos", "canonical_url"]
        if n_rows is not None and n_rows > self.SEQ_WINDOW_MAX_ROWS:
            from ..operators.ordering import distributed_rank

            ranked = distributed_rank(
                discovered, order, out_col="__rank", offset=seq_offset + 1
            )
            return (
                ranked.withColumn("seq", F.col("__rank").cast("long"))
                .drop("__rank", "__disc_seq", "__disc_pos")
                .select(*_FRONTIER_COLS)
            )
        w = Window.orderBy(*order)
        return (
            discovered.withColumn(
                "seq", (F.row_number().over(w) + F.lit(seq_offset)).cast("long")
            )
            .drop("__disc_seq", "__disc_pos")
            .select(*_FRONTIER_COLS)
        )

    # -- main loop ---------------------------------------------------------

    def run(
        self,
        seeds: DataFrame | None,
        max_depth: int = 3,
        *,
        politeness: bool = False,
        prefix: str | None = None,
        max_epochs: int | None = None,
        max_pages: int | None = None,
        max_pages_per_host: int | None = None,
        start_epoch: int = 0,
        _resume_state: tuple | None = None,
    ) -> CrawlRunResult:
        """Crawl depth levels 0..max_depth-1.

        Without politeness one epoch == one BFS level (reference mode). With
        politeness an epoch pops at most budget(host) URLs per host, so
        draining a level can take several epochs; ``max_epochs`` (default
        4*max_depth) caps the loop.

        ``max_pages`` bounds the TOTAL pages scheduled across the run
        (crawl4ai's deep-crawl ``max_pages`` budget — every strategy stops
        once the page count hits it). The final epoch's popped batch is
        truncated to the remaining budget in crawl order (depth, priority,
        seq) — a TakeOrderedAndProject over one bounded batch, never a
        global sort. URLs squeezed out by the cap are returned to the
        frontier (counted as deferrals in lineage) so ``frontier_remaining``
        and checkpoint resume stay exact.

        ``max_pages_per_host`` caps the pages scheduled PER HOST across
        the run (the domain-quota policy every broad crawler runs so one
        giant site can't monopolize the budget). Enforced inside the pop:
        each host's epoch budget is clamped to its remaining quota, so
        quota'd hosts keep popping in (depth, priority, seq) order until
        exhausted and their overflow stays in the frontier as deferrals.
        The per-host scheduled counter is a |hosts|-row table maintained
        incrementally from each popped batch (never a re-aggregation of
        the full url_seen) and broadcast onto the frontier; on resume it
        is rebuilt once from the checkpointed url_seen. A quota'd epoch
        that pops nothing ends the run (the frontier holds only
        quota-blocked hosts — no future epoch can progress).
        """
        spark = self.spark
        limit = max_epochs if max_epochs is not None else (max_depth if not politeness else 4 * max_depth)

        # Action economy: every .count()/.isEmpty() is a full Spark job; at a
        # politeness-bounded epoch the data is tiny and job overhead IS the
        # epoch cost. Counts that are derivable are tracked in Python:
        #   seen_count     += n_popped            (url_seen grows by popped)
        #   frontier_count  = n_disc (+deferred)  (politeness-off: exact)
        # so an epoch runs 4-6 jobs instead of ~14.
        if _resume_state is not None:
            frontier, url_seen, seq_offset, backoff = _resume_state
            seen_count = url_seen.count()
            frontier_count = frontier.count()
        else:
            frontier = self._seed_frontier(seeds)
            url_seen = spark.createDataFrame([], _URL_SEEN_SCHEMA)
            row = frontier.agg(
                F.max("seq").alias("mx"), F.count("*").alias("n")
            ).collect()[0]
            seq_offset = (row["mx"] or 0) + 1
            frontier_count = row["n"]
            seen_count = 0
            backoff = None
        if self.frontier_store_dir is not None:
            # stored mode: the frontier popped in epoch E lives in table
            # ..._ep{E}; the initial (seed or resumed) frontier is stored
            # under the first epoch it will be popped in
            frontier = self._store_frontier(start_epoch, frontier)

        fetched_parts: list[DataFrame] = []
        lineage_parts: list[DataFrame] = []
        observed_fetch: dict[int, dict[str, int]] = {}
        epochs_run = start_epoch

        host_counts = None  # (host, scheduled) — only when quota'd
        # quota grain matches the politeness grain: under "domain" the
        # counter keys by registrable domain (max_pages_per_host reads as
        # max pages per DOMAIN), so the counter always joins the same key
        # the pop rows carry
        _quota_key = (
            (lambda c: registrable_domain(c))
            if self.politeness_grain == "domain"
            else (lambda c: c)
        )
        if max_pages_per_host is not None:
            if _resume_state is not None:
                host_counts = url_seen.groupBy(
                    _quota_key(F.col("host")).alias("host")
                ).agg(
                    F.count(F.lit(1)).alias("scheduled")
                ).localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
            else:
                host_counts = spark.createDataFrame(
                    [], "host string, scheduled long"
                )
        tpl_counts = None  # (template, n) — only when template-guarded
        if self.template_guard_cap is not None:
            if _resume_state is not None:
                tpl_counts = url_seen.groupBy(
                    url_template(F.col("canonical_url")).alias("template")
                ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint(
                    eager=True, storageLevel=_SER_LEVEL
                )
            else:
                tpl_counts = spark.createDataFrame([], "template string, n long")
        prev_popped = None  # quota no-progress detection

        for epoch in range(start_epoch, limit):
            if frontier_count == 0:
                break  # reference early exit :1006-1008
            if max_pages is not None and seen_count >= max_pages:
                break  # page budget exhausted (crawl4ai max_pages)
            if max_pages_per_host is not None and prev_popped == 0:
                break  # every frontier host is quota-blocked — no progress

            # J1: visited membership — bloom prefilter + exact anti-join.
            # The bloom only pays once the seen side is large (BLOOM_MIN_SEEN);
            # below that the exact anti-join alone is cheaper.
            bloom = (
                build_bloom(url_seen, "url_hash", expected=max(seen_count, 1))
                if seen_count >= BLOOM_MIN_SEEN
                else None
            )
            cand_count = frontier_count
            new_urls = anti_join_seen(frontier, url_seen, bloom)

            # J4: politeness pop — schedule-time budget per host. Budgets
            # attach per-row via broadcast dims (attach_budgets): the old
            # distinct-hosts path shuffled the whole frontier per epoch.
            if politeness or max_pages_per_host is not None:
                # eTLD+1 grain: budgets join + pop partition on the
                # registrable domain; original hostname parked in a side
                # column and restored after the pop (robots/fetch/lineage
                # never see the mapped value). The grain governs the
                # max_pages_per_host quota too (counter fold + resume
                # rebuild below use the same key) — a hostname-keyed
                # counter joined onto domain-keyed rows would silently
                # never clamp.
                domain_grain = self.politeness_grain == "domain"
                if domain_grain:
                    new_urls = new_urls.withColumn(
                        "__host_hostgrain", F.col("host")
                    ).withColumn("host", registrable_domain(F.col("host")))
                if politeness:
                    with_b = attach_budgets(
                        new_urls,
                        self.robots,
                        backoff,
                        **({"epoch_seconds": self.epoch_seconds} if self.epoch_seconds else {}),
                    )
                else:
                    # quota-only mode: unlimited epoch budget, quota clamps
                    with_b = new_urls.withColumn(
                        "budget", F.lit(2**31 - 1).cast("int")
                    )
                if max_pages_per_host is not None:
                    rem = F.greatest(
                        F.lit(0),
                        F.lit(int(max_pages_per_host))
                        - F.coalesce(F.col("scheduled"), F.lit(0)),
                    )
                    with_b = (
                        with_b.join(F.broadcast(host_counts), "host", "left")
                        .withColumn(
                            "budget",
                            F.least(F.col("budget").cast("long"), rem).cast("int"),
                        )
                        .drop("scheduled")
                    )
                # The pop follows storage (see __init__): a stored frontier
                # is a bucketed table scan, so the threshold pop's dual read
                # is two column-pruned scans and no row is shuffled; an
                # in-memory frontier takes the two-phase pop.
                if self.frontier_store_dir is not None:
                    popped, deferred = pop_per_host_threshold(with_b, None)
                else:
                    popped, deferred = pop_per_host(with_b, None)
                if domain_grain:
                    popped = popped.withColumn(
                        "host", F.col("__host_hostgrain")
                    ).drop("__host_hostgrain")
                    deferred = deferred.withColumn(
                        "host", F.col("__host_hostgrain")
                    ).drop("__host_hostgrain")
            else:
                popped, deferred = new_urls, new_urls.limit(0)
            # count rides the checkpoint materialization (no separate job)
            obs_pop = Observation(f"pop_epoch_{epoch}")
            popped = popped.observe(
                obs_pop, F.count(F.lit(1)).alias("n")
            ).localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
            n_popped = int(obs_pop.get["n"])

            # max_pages cap: truncate the final batch to the remaining
            # budget in crawl order; squeezed-out rows go back to the
            # frontier as deferrals. The limit is ≤ max_pages rows, so the
            # ordered take never global-sorts the frontier.
            cap_leftover = None
            n_cap_deferred = 0
            if max_pages is not None and seen_count + n_popped > max_pages:
                remaining = max_pages - seen_count
                taken = (
                    popped.orderBy("depth", "priority", "seq")
                    .limit(remaining)
                    .localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
                )
                cap_leftover = popped.join(
                    taken.select("canonical_url"), "canonical_url", "left_anti"
                ).select(*_FRONTIER_COLS)
                n_cap_deferred = n_popped - remaining
                popped, n_popped = taken, remaining
            seen_count += n_popped
            prev_popped = n_popped

            # host-quota accounting: fold this batch's per-host counts into
            # the |hosts|-row counter (incremental — never re-aggregate the
            # full url_seen)
            if max_pages_per_host is not None and n_popped:
                delta = popped.groupBy(
                    _quota_key(F.col("host")).alias("host")
                ).agg(
                    F.count(F.lit(1)).alias("__d")
                )
                host_counts = (
                    host_counts.join(delta, "host", "full")
                    .select(
                        "host",
                        (
                            F.coalesce(F.col("scheduled"), F.lit(0))
                            + F.coalesce(F.col("__d"), F.lit(0))
                        ).alias("scheduled"),
                    )
                    .localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
                )

            # trap-family accounting: fold this batch's per-family counts
            # into the |families|-row counter (incremental, like
            # host_counts)
            if self.template_guard_cap is not None and n_popped:
                tdelta = popped.groupBy(
                    url_template(F.col("canonical_url")).alias("template")
                ).agg(F.count(F.lit(1)).alias("__d"))
                tpl_counts = (
                    tpl_counts.join(tdelta, "template", "full")
                    .select(
                        "template",
                        (
                            F.coalesce(F.col("n"), F.lit(0))
                            + F.coalesce(F.col("__d"), F.lit(0))
                        ).alias("n"),
                    )
                    .localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
                )

            # mark visited at SCHEDULE time (reference :1000-1004)
            url_seen = url_seen.unionByName(
                popped.select(
                    "url_hash", "canonical_url", "host", "depth", "seq",
                    F.lit(epoch).alias("epoch_seen"),
                )
            )

            # D4: robots gate (denied URLs are consumed but not fetched)
            if self.robots is not None:
                gated = popped.join(F.broadcast(self.robots), "host", "left")
                # wildcard rules ('*'/'$', compile_rule_patterns) govern
                # when present; else RFC 9309 longest-match precedence iff
                # the robots table carries Allow rules (parse_robots_rules);
                # deny-only prefix gate (strictly more conservative)
                # otherwise
                if "disallow_pats" in self.robots.columns:
                    # RFC match target = path + query (a path-only match
                    # can never deny '/*?sessionid=*'-style rules)
                    deny = robots_denied_wildcard_expr(
                        url_path_query(F.col("canonical_url"))
                    )
                elif "allow_prefixes" in self.robots.columns:
                    deny = robots_denied_rfc_expr()
                else:
                    deny = robots_denied_expr()
                denied = gated.where(deny).select(*_FRONTIER_COLS)
                allowed = gated.where(~deny).select(*_FRONTIER_COLS)
            else:
                denied = popped.limit(0)
                allowed = popped

            # 3xx hop: redirect sources are consumed without a fetch; their
            # targets re-enter the frontier at the same depth (see __init__
            # docs). Join shape mirrors _fetch_batch: the redirect table is
            # corpus-sized at web scale (~10^8 rows of a 10^10 crawl), so
            # the BATCH broadcasts into its scan — never the reverse — and
            # the batch-bounded match set broadcasts back for the anti-join.
            redirect_rows = None
            n_redirect_src = 0
            if self.redirects is not None:
                obs_red = Observation(f"redir_epoch_{epoch}")
                red_src = (
                    self.redirects.join(
                        F.broadcast(
                            allowed.select(
                                "canonical_url", "depth", "priority", "seq"
                            )
                        ),
                        F.col("from_url") == F.col("canonical_url"),
                        "inner",
                    )
                    .observe(obs_red, F.count(F.lit(1)).alias("n"))
                    .localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
                )
                n_redirect_src = int(obs_red.get["n"])
                allowed = allowed.join(
                    F.broadcast(red_src.select("canonical_url")),
                    "canonical_url",
                    "left_anti",
                )
                redirect_rows = self._redirect_targets(red_src, prefix)

            # S1/S2: fetch. D6 in-flight metrics: an Observation on the
            # fetch stage (reference heartbeat/report_progress,
            # src/crawl4ai_mcp.py:541-559,789-797) — CollectMetrics
            # accumulates while the checkpoint job materializes the batch,
            # so allowed+success counts cost ZERO extra jobs (previously a
            # separate agg action per epoch).
            obs = Observation(f"fetch_epoch_{epoch}")
            fetch = (
                self._fetch_batch(allowed)
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("fetch_attempted"),
                    F.sum(F.col("success").cast("long")).alias("fetch_succeeded"),
                )
                .localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
            )
            m = obs.get
            n_allowed = int(m["fetch_attempted"])
            n_fetched_ok = int(m["fetch_succeeded"] or 0)
            observed_fetch[epoch] = {
                "fetch_attempted": n_allowed,
                "fetch_succeeded": n_fetched_ok,
            }
            n_denied = n_popped - n_allowed - n_redirect_src
            fetched_ok = fetch.where(F.col("success"))
            fetched_parts.append(
                fetched_ok.select(
                    "canonical_url", "host", "depth", "seq", "markdown",
                    "image_ids", F.lit(epoch).alias("epoch"),
                )
            )

            # politeness backoff signal for the next epoch (same grain as
            # the budgets it feeds)
            if politeness:
                statuses = fetch.select(
                    "host", F.coalesce(F.col("status"), F.lit(404)).alias("status")
                )
                if self.politeness_grain == "domain":
                    statuses = statuses.withColumn(
                        "host", registrable_domain(F.col("host"))
                    )
                backoff = update_backoff(statuses, backoff).localCheckpoint(eager=True, storageLevel=_SER_LEVEL)

            # F1-F8 + J2 expansion; links from the last depth level are never
            # schedulable (reference loop ends first), so prune them here.
            discovered = self._expand(fetched_ok, prefix)
            if redirect_rows is not None:
                # a URL both linked-to and redirected-to this epoch must
                # keep ONE discoverer (the _expand-internal rule, applied
                # across the union; redirect pos -1 beats its parent's
                # links)
                discovered = self._first_discoverer(
                    discovered.unionByName(redirect_rows)
                )
            discovered = discovered.where(F.col("depth") <= max_depth - 1)
            # dynamic trap-family guard: discoveries whose family already
            # exceeded the cap never enter the frontier — ONE guard
            # definition (operators/politeness.apply_template_guard; the
            # flagged set is family-bounded, broadcast anti-join, wide
            # rows don't move)
            if self.template_guard_cap is not None:
                discovered = apply_template_guard(
                    discovered,
                    tpl_counts.select(
                        "template",
                        (
                            F.col("n") > F.lit(int(self.template_guard_cap))
                        ).alias("exploded"),
                    ),
                )
            discovered = anti_join_seen(discovered, url_seen, None)  # J2 exact
            obs_disc = Observation(f"disc_epoch_{epoch}")
            discovered = discovered.observe(
                obs_disc, F.count(F.lit(1)).alias("n")
            ).localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
            n_disc = int(obs_disc.get["n"])
            discovered = self._assign_seq(discovered, seq_offset, n_rows=n_disc)
            seq_offset += n_disc

            frontier_ckpted = False
            if politeness or max_pages_per_host is not None:
                # deferred ∪ discovered may overlap → exact counts needed;
                # BOTH ride one checkpoint job: the deferred-branch
                # Observation fires inside the union plan, the frontier
                # Observation on the dedup output (2 jobs saved per epoch)
                obs_def = Observation(f"def_epoch_{epoch}")
                obs_fr = Observation(f"frontier_epoch_{epoch}")
                deferred_obs = deferred.select(*_FRONTIER_COLS).observe(
                    obs_def, F.count(F.lit(1)).alias("n")
                )
                next_union = deferred_obs.unionByName(discovered)
                if cap_leftover is not None:
                    next_union = next_union.unionByName(cap_leftover)
                fr_built = self._dedup_frontier(next_union).observe(
                    obs_fr, F.count(F.lit(1)).alias("n")
                )
                if self.frontier_store_dir is not None:
                    # stored mode: the table write IS the materialization
                    # (observations fire during the write job) — no
                    # full-width localCheckpoint anywhere in the epoch
                    frontier = self._store_frontier(epoch + 1, fr_built)
                else:
                    frontier = fr_built.localCheckpoint(
                        eager=True, storageLevel=_SER_LEVEL
                    )
                frontier_ckpted = True
                n_deferred = int(obs_def.get["n"]) + n_cap_deferred
                frontier_count = int(obs_fr.get["n"])
            else:
                n_deferred = n_cap_deferred
                frontier = discovered
                frontier_count = n_disc
                if cap_leftover is not None:
                    # cap-deferred rows re-enter; dedup in case a leftover
                    # URL was also just re-discovered as a link
                    frontier = self._dedup_frontier(
                        discovered.unionByName(cap_leftover)
                    ).localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
                    frontier_ckpted = True
                    frontier_count = frontier.count()
                if self.frontier_store_dir is not None:
                    frontier = self._store_frontier(epoch + 1, frontier)
                    frontier_ckpted = True

            # S7: lineage metrics — all counts already known, no extra jobs
            n_dedup_hits = cand_count - (n_popped + n_deferred)
            lineage_parts.append(
                spark.createDataFrame(
                    [
                        (
                            epoch,
                            int(n_popped),
                            int(n_fetched_ok),
                            int(n_dedup_hits),
                            int(n_denied),
                            int(n_deferred),
                            int(n_disc),
                        )
                    ],
                    _LINEAGE_SCHEMA,
                )
            )
            epochs_run = epoch + 1

            # S7: snapshot — truncates plan lineage; enables resume
            if self.ckpt is not None:
                state = {"seq_offset": seq_offset, "max_depth": max_depth,
                         "politeness": politeness, "max_epochs": limit,
                         "max_pages": max_pages,
                         "max_pages_per_host": max_pages_per_host}
                if politeness and backoff is not None:
                    state["backoff"] = [
                        [r["host"], r["backoff_level"]] for r in backoff.collect()
                    ]
                frontier, url_seen = self.ckpt.write_epoch(
                    epoch, frontier, url_seen, fetched_parts[-1],
                    lineage_parts[-1], state,
                )
            else:
                if not frontier_ckpted:  # politeness path checkpointed above
                    frontier = frontier.localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
                # url_seen is a union of ALREADY-checkpointed popped batches,
                # so its recompute is a cheap concat — re-copying the whole
                # (ever-growing) set every epoch is pure write amplification.
                # Checkpoint on a cadence only to truncate very deep plans.
                if (epoch - start_epoch) % 4 == 3:
                    url_seen = url_seen.localCheckpoint(eager=True, storageLevel=_SER_LEVEL)

        return CrawlRunResult(
            url_seen=url_seen,
            fetched=_union_all(spark, fetched_parts, _FETCHED_SCHEMA),
            lineage=_union_all(spark, lineage_parts, _LINEAGE_SCHEMA),
            frontier_remaining=frontier,
            epochs_run=epochs_run,
            stats={"observed_fetch": observed_fetch},
        )

    def resume(
        self, max_depth: int | None = None, max_epochs: int | None = None
    ) -> CrawlRunResult:
        """Continue a checkpointed crawl from its last committed epoch —
        the north_rule kill/resume path. Bit-identical to an uninterrupted
        run because every epoch input is read back from the snapshot."""
        assert self.ckpt is not None, "resume requires checkpoint_dir"
        last = self.ckpt.latest_epoch()
        if last is None:
            raise ValueError("no committed epoch to resume from")
        frontier, url_seen, state = self.ckpt.load_epoch(last)
        backoff = None
        if state.get("backoff"):
            backoff = self.spark.createDataFrame(
                [(h, int(l)) for h, l in state["backoff"]],
                "host string, backoff_level int",
            )
        result = self.run(
            seeds=None,
            max_depth=max_depth if max_depth is not None else state["max_depth"],
            politeness=state.get("politeness", False),
            max_epochs=max_epochs if max_epochs is not None else state.get("max_epochs"),
            max_pages=state.get("max_pages"),
            max_pages_per_host=state.get("max_pages_per_host"),
            start_epoch=last + 1,
            _resume_state=(frontier, url_seen, state["seq_offset"], backoff),
        )
        # stitch the full fetched/lineage logs back in
        upto = max(result.epochs_run - 1, last)
        result.fetched = self.ckpt.read_fetched(upto)
        result.lineage = self.ckpt.read_lineage(upto)
        return result


def crawl_report(
    url: str,
    crawl_type: str,
    fetched: DataFrame,
    chunks_prepared: int,
    chunks_stored: int,
    *,
    storage_errors: int = 0,
    failed_batches: int = 0,
    total_batches: int = 1,
) -> DataFrame:
    """C6+T3+A5: the reference's tool-response JSON (src/crawl4ai_mcp.py:
    841-862) as a one-row DataFrame with a ``report`` JSON-string column —
    counts, first-5-URL preview (+"..." when truncated, :849), and the
    partial-failures block with the A5 success-rate percentage (:853-859).

    Scale shape: the preview is ``orderBy(depth, priority, seq).limit(5)``
    — Spark plans TakeOrderedAndProject, so no global sort and the
    collect_list aggregates at most 5 rows regardless of crawl size.
    """
    # the §7.0 total order, restricted to the columns the input carries
    # (CrawlRunResult.fetched has no priority column — it is constant
    # within an epoch and dropped from the fetch log)
    order = [c for c in ("depth", "priority", "seq") if c in fetched.columns]
    cnt = fetched.agg(F.count(F.lit(1)).alias("pages_crawled"))
    prev = (
        fetched.orderBy(*order)
        .limit(5)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(*order, F.col("canonical_url").alias("u"))
                )
            ).alias("__ord")
        )
    )
    one = cnt.crossJoin(prev)
    preview = F.transform(F.col("__ord"), lambda s: s["u"])
    urls_crawled = F.when(
        F.col("pages_crawled") > 5, F.concat(preview, F.array(F.lit("...")))
    ).otherwise(preview)

    fields = [
        F.lit(True).alias("success"),
        F.lit(url).alias("url"),
        F.lit(crawl_type).alias("crawl_type"),
        F.col("pages_crawled").alias("pages_crawled"),
        F.col("pages_crawled").alias("pages_processed"),
        F.lit(chunks_prepared).cast("long").alias("chunks_prepared"),
        F.lit(chunks_stored).cast("long").alias("chunks_stored"),
        urls_crawled.alias("urls_crawled"),
    ]
    if storage_errors > 0 or failed_batches > 0:
        rate = (
            f"{chunks_stored / chunks_prepared * 100:.1f}%"
            if chunks_prepared > 0
            else "0%"
        )
        fields.append(
            F.struct(
                F.lit(storage_errors).cast("long").alias("storage_errors"),
                F.lit(failed_batches).cast("long").alias("failed_batches"),
                F.lit(total_batches).cast("long").alias("total_batches"),
                F.lit(rate).alias("success_rate"),
            ).alias("partial_failures")
        )
    return one.select(F.to_json(F.struct(*fields)).alias("report"))


def py_crawl_with_redirects(
    n: int,
    seed_ids,
    max_depth: int,
    redirect_of,
    respect_robots: bool = True,
) -> dict[str, int]:
    """Sequential twin of CrawlEngine.run(politeness=False,
    redirects=...) — url -> schedule depth, replicating the engine's
    first-discoverer and seq-assignment rules exactly (the DFS-twin
    precedent: epoch-bounded redirect semantics are not a min-over-paths
    closure, so the oracle injects this twin's output as literals).

    ``redirect_of(i) -> target id | None`` is the redirect map as a
    closed form; redirect sources are consumed WITHOUT a fetch (before
    any status/failure consideration), their targets re-enter at the
    same depth ordered before the source page's links (pos -1)."""
    from ..sources.corpus import py_graph

    graph = py_graph(n)
    url_to_id = {v["url"]: i for i, v in graph.items()}

    frontier: dict[str, tuple[int, int, int]] = {}
    for k, s in enumerate(seed_ids):
        if s < n:
            frontier[graph[s]["url"]] = (0, 0, k)
    seq_offset = max((v[2] for v in frontier.values()), default=-1) + 1
    visited: dict[str, int] = {}

    for _epoch in range(max_depth):
        to_crawl = {u: v for u, v in frontier.items() if u not in visited}
        if not to_crawl:
            break
        for u, (d, _p, _q) in to_crawl.items():
            visited[u] = d
        cands: list[tuple[int, int, str, int, int]] = []
        for u, (d, p, q) in to_crawl.items():
            i = url_to_id.get(u)
            if i is None:
                continue
            node = graph[i]
            if respect_robots and node["robots_denied"]:
                continue
            r = redirect_of(i)
            if r is not None:
                cands.append((q, -1, graph[r % n]["url"], d, p))
                continue  # consumed without fetch
            if node["status"] != 200:
                continue
            for pos, t in enumerate(node["targets"]):
                cands.append((q, pos, graph[t]["url"], d + 1, p))
        best: dict[str, tuple[int, int, int, int]] = {}
        for q, pos, tu, d, p in cands:
            key = (q, pos, d, p)
            if tu not in best or key < best[tu]:
                best[tu] = key
        nf: dict[str, tuple[int, int, int]] = {}
        for u, (q, pos, d, p) in sorted(
            best.items(), key=lambda kv: (kv[1][0], kv[1][1])
        ):
            if d > max_depth - 1 or u in visited:
                continue
            nf[u] = (d, p, seq_offset)
            seq_offset += 1
        frontier = nf
    return visited


def py_crawl_hardened(
    graph: dict,
    seed_urls: list[str],
    *,
    max_depth: int,
    max_epochs: int,
    epoch_seconds: float,
    max_pages: int | None,
    template_guard_cap: int | None,
    robots_disallow: list[str],
    robots_allow: list[str],
) -> dict[str, tuple[int, int, int]]:
    """Sequential twin of the FULLY-HARDENED CrawlEngine run — every
    round-4 guard active in one schedule: eTLD+1 politeness budgets with
    429-backoff, RFC 9309 wildcard robots (path+query target), redirect
    hops (same depth, pos -1), crawl-trap link_filter, in-crawl template
    guard (incremental per-epoch fold, one-epoch lag past the cap), and a
    max_pages budget truncating in (depth, priority, seq) order.

    ``graph``: url → {host, status, markdown, links, redirect} (the
    sources/hazard.py shape). Returns url → (depth, epoch_seen, seq) —
    the engine's full ordering contract, injected as oracle literals
    (the py_crawl_with_redirects precedent: epoch-bounded composed
    semantics are not a closed-form SQL recursion).

    Engine lines replicated, in loop order (plans/crawl.py run()):
    loop-top breaks; anti-join; domain-grain budget attach; per-domain
    pop; max_pages truncation + cap_leftover; template fold; visited at
    schedule time; robots gate; redirect consumption; fetch + statuses;
    backoff update; link expansion + gates; first-discoverer; depth
    filter; template guard; seq assignment; frontier dedup (min struct).
    """
    from math import floor

    from ..config import POLITENESS_MAX_DELAY
    from ..functions.urls import (
        py_canonical_url,
        py_is_binary_url,
        py_is_crawl_trap,
        py_registrable_domain,
        py_resolve_href,
        py_url_path_query,
        py_url_template,
    )
    from ..operators.politeness import py_robots_denied_wildcard

    def host_of(u: str) -> str:
        n = graph.get(u)
        if n is not None:
            return n["host"]
        return u.split("://", 1)[1].split("/", 1)[0].lower()

    # frontier: url -> (depth, priority, seq)
    frontier: dict[str, tuple[int, int, int]] = {}
    for k, u in enumerate(seed_urls):
        cu = py_canonical_url(u)
        if not py_is_binary_url(cu):
            frontier[cu] = (0, 0, k)
    seq_offset = max((v[2] for v in frontier.values()), default=-1) + 1
    visited: dict[str, tuple[int, int, int]] = {}
    backoff: dict[str, int] = {}
    tpl_counts: dict[str, int] = {}
    seen_count = 0

    for epoch in range(max_epochs):
        if not frontier:
            break
        if max_pages is not None and seen_count >= max_pages:
            break
        new_urls = {u: v for u, v in frontier.items() if u not in visited}

        # domain-grain budgets: delay = midpoint 2.0 * 2^level capped,
        # budget = max(floor(E/delay), 1)  (attach_budgets + backoff)
        def budget_of(dom: str) -> int:
            delay = min(2.0 * (2.0 ** backoff.get(dom, 0)), POLITENESS_MAX_DELAY)
            return max(int(floor(epoch_seconds / delay)), 1)

        by_dom: dict[str, list[tuple[tuple[int, int, int], str]]] = {}
        for u, (d, p, q) in new_urls.items():
            by_dom.setdefault(py_registrable_domain(host_of(u)), []).append(
                ((d, p, q), u)
            )
        popped: list[tuple[tuple[int, int, int], str]] = []
        deferred: dict[str, tuple[int, int, int]] = {}
        for dom, rows in by_dom.items():
            rows.sort()
            b = budget_of(dom)
            popped.extend(rows[:b])
            for key, u in rows[b:]:
                deferred[u] = key

        # max_pages: truncate the batch in (depth, priority, seq) order
        if max_pages is not None and seen_count + len(popped) > max_pages:
            popped.sort()
            for key, u in popped[max_pages - seen_count:]:
                deferred[u] = key
            popped = popped[: max_pages - seen_count]
        seen_count += len(popped)

        # template fold (incremental, BEFORE this epoch's discoveries)
        if template_guard_cap is not None:
            for _key, u in popped:
                t = py_url_template(u)
                tpl_counts[t] = tpl_counts.get(t, 0) + 1

        # visited at schedule time
        for (d, _p, q), u in popped:
            visited[u] = (d, epoch, q)

        # robots gate (wildcard, path+query target), then redirects, fetch
        cands: list[tuple[int, int, str, int, int]] = []
        statuses: list[tuple[str, int]] = []
        for (d, p, q), u in popped:
            if py_robots_denied_wildcard(
                py_url_path_query(u), list(robots_disallow), list(robots_allow)
            ):
                continue  # denied: consumed, no fetch, no status
            node = graph.get(u)
            if node is not None and node.get("redirect"):
                # consumed without fetch; target re-enters at SAME depth,
                # pos -1 — gated like any discovered link
                cands.append((q, -1, py_canonical_url(node["redirect"]), d, p))
                continue
            statuses.append(
                (py_registrable_domain(host_of(u)), node["status"] if node else 404)
            )
            if node is None or node["status"] != 200 or node["markdown"] is None:
                continue
            for pos, href in enumerate(node["links"]):
                cands.append(
                    (q, pos, py_canonical_url(py_resolve_href(u, href)), d + 1, p)
                )

        # backoff update at domain grain (update_backoff semantics)
        throttled: dict[str, bool] = {}
        for dom, st in statuses:
            throttled[dom] = throttled.get(dom, False) or st in (429, 503)
        for dom, thr in throttled.items():
            backoff[dom] = min(backoff.get(dom, 0) + 1, 6) if thr else 0

        # discovered-link gates: non-empty, binary, trap link_filter
        gated = [
            (q, pos, tu, d, p)
            for (q, pos, tu, d, p) in cands
            if tu and not py_is_binary_url(tu) and not py_is_crawl_trap(tu)
        ]
        # first-discoverer per url
        best: dict[str, tuple[int, int, int, int]] = {}
        for q, pos, tu, d, p in gated:
            key = (q, pos, d, p)
            if tu not in best or key < best[tu]:
                best[tu] = key
        # depth filter + template guard + anti-join visited
        disc: dict[str, tuple[int, int, int, int]] = {}
        for tu, (q, pos, d, p) in best.items():
            if d > max_depth - 1 or tu in visited:
                continue
            if (
                template_guard_cap is not None
                and tpl_counts.get(py_url_template(tu), 0) > template_guard_cap
            ):
                continue
            disc[tu] = (q, pos, d, p)
        # seq assignment: rank by (disc_seq, disc_pos, url), 1-based over
        # the offset (engine row_number + seq_offset)
        ordered = sorted(disc.items(), key=lambda kv: (kv[1][0], kv[1][1], kv[0]))
        discovered: dict[str, tuple[int, int, int]] = {}
        for rank, (tu, (_q, _pos, d, p)) in enumerate(ordered, start=1):
            discovered[tu] = (d, p, seq_offset + rank)
        seq_offset += len(ordered)

        # next frontier: dedup(deferred ∪ discovered), min (d, p, seq)
        nf = dict(deferred)
        for tu, key in discovered.items():
            if tu not in nf or key < nf[tu]:
                nf[tu] = key
        frontier = nf
    return visited
