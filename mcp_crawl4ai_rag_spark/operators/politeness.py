"""Per-host politeness: epoch-granular rate limiting + skew-proof pop.

The reference delegates politeness to crawl4ai's RateLimiter (per-domain
base delay 1-3 s, exponential backoff on 429/503 capped at 60 s, drop after
3 retries — BASELINE.json north_star; the reference itself constructs only
the MemoryAdaptiveDispatcher, src/crawl4ai_mcp.py:938-942). Wall-clock
sleeps make no sense in batch execution, so the engine maps delays onto
*epoch budgets*: an epoch represents EPOCH_SECONDS of crawl time and a host
with effective delay d gets floor(EPOCH_SECONDS / d) fetch slots per epoch.
Backoff state doubles d per consecutive 429/503 epoch (capped at max_delay)
and resets on success — the same trajectory as the RateLimiter, quantized to
epochs.

The pop itself is the SURVEY.md §2.3 J4 operator: per-host FIFO by
(depth, priority, seq) with a per-host budget. A naive
``row_number() OVER (PARTITION BY host)`` serializes each host into one task
— the hot host becomes the straggler. The two-phase pop below salts each
host into SALT_LANES lanes by url_hash, takes the per-lane top-B in parallel,
then ranks only the ≤ lanes*B survivors per host. Identical output (a
host's global top-B is contained in the union of its per-lane top-Bs),
deterministic, and the heavy first phase is skew-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import (
    DEFAULT_SALT_LANES,
    EPOCH_SECONDS,
    POLITENESS_BASE_DELAY_MAX,
    POLITENESS_BASE_DELAY_MIN,
    POLITENESS_MAX_DELAY,
)

def _order():
    # column objects need an active session in classic PySpark → lazy
    return [F.col("depth").asc(), F.col("priority").asc(), F.col("seq").asc()]


def _with_budget_dims(
    df: DataFrame, robots: DataFrame | None, backoff: DataFrame | None
) -> DataFrame:
    """Attach the two small budget dims (robots crawl_delay, backoff state)
    via broadcast left joins — THE single definition of the dim shape, so
    attach_budgets and compute_budgets cannot drift apart."""
    if robots is not None:
        df = df.join(
            F.broadcast(robots.select("host", "crawl_delay")), "host", "left"
        )
    else:
        df = df.withColumn("crawl_delay", F.lit(None).cast("double"))
    if backoff is not None:
        df = df.join(F.broadcast(backoff), "host", "left")
    else:
        df = df.withColumn("backoff_level", F.lit(0))
    return df


def _budget_expr(epoch_seconds: float):
    return F.greatest(
        F.floor(F.lit(epoch_seconds) / effective_delay_expr()), F.lit(1)
    ).cast("int")


def attach_budgets(
    frontier: DataFrame,
    robots: DataFrame | None,
    backoff: DataFrame | None,
    epoch_seconds: float | None = None,
) -> DataFrame:
    """``frontier`` + per-row ``budget`` column via two broadcast joins on
    the small dims (robots crawl_delay, backoff state).

    This replaces the distinct-hosts → compute_budgets → re-join shape:
    the ``distinct()`` there shuffles the ENTIRE frontier every epoch just
    to enumerate hosts — at a 10^10-row frontier that shuffle dwarfs the
    pop itself. Budget is a pure function of (crawl_delay, backoff_level),
    so joining the dims straight onto frontier rows yields identical values
    with zero frontier movement (pinned equal in tests)."""
    if epoch_seconds is None:
        epoch_seconds = EPOCH_SECONDS
    cols = frontier.columns
    df = _with_budget_dims(frontier, robots, backoff)
    return df.select(*cols, _budget_expr(epoch_seconds).alias("budget"))


def pop_per_host(
    frontier: DataFrame,
    budgets: DataFrame | None,
    salt_lanes: int = DEFAULT_SALT_LANES,
) -> tuple[DataFrame, DataFrame]:
    """Split ``frontier`` into (popped, deferred) under per-host budgets.

    ``budgets``: (host, budget int); hosts absent from it get unlimited.
    Alternatively the frontier may already carry a ``budget`` column (the
    :func:`attach_budgets` zero-shuffle path) with ``budgets=None``.
    ``budgets=None`` with no budget column → pop everything (reference
    level-synchronous mode, src/crawl4ai_mcp.py:993-1011 crawls the whole
    depth level) and nothing runs until the caller acts.

    Otherwise the call runs ONE Spark job: the phase-1 frame (input +
    ``__lane`` + ``__lane_rk``) is materialized with :func:`local_ckpt`,
    and popped, deferred and both branches of deferred's union read that
    checkpoint. Left lazy, each of those three consumers would re-run the
    whole upstream — in the frontier epoch the bloom probe join, the
    exact anti-join, the budget attach and the wide ``(host, __lane)``
    exchange — because Spark shares no exchange across separate actions
    and did not reuse it across the union's branches (9 probe passes per
    frontier epoch instead of 2). What stays lazy is the
    phase-2 window over the survivors, at most ``lanes × budget`` rows
    per host. ContextCleaner frees the checkpoint with its last reader.
    """
    if budgets is None and "budget" not in frontier.columns:
        return frontier, frontier.limit(0)

    from .. import local_ckpt

    if "budget" in frontier.columns:
        fr = frontier
    else:
        fr = frontier.join(F.broadcast(budgets), on="host", how="left")

    # Phase 1: per-(host, lane) rank — lanes are hash-salted so the hot
    # host's rows spread over salt_lanes parallel window partitions.
    lane = F.pmod(F.col("url_hash"), F.lit(salt_lanes))
    w_lane = Window.partitionBy("host", "__lane").orderBy(*_order())
    fr = local_ckpt(
        fr.withColumn("__lane", lane)
        .withColumn("__lane_rk", F.row_number().over(w_lane))
    )
    # Rows that can't be in the host's top-budget are deferred without ever
    # entering the phase-2 window.
    survivors = fr.where(F.col("budget").isNull() | (F.col("__lane_rk") <= F.col("budget")))
    eliminated = fr.where(F.col("budget").isNotNull() & (F.col("__lane_rk") > F.col("budget")))

    # Phase 2: exact per-host rank over ≤ lanes*budget survivors.
    w_host = Window.partitionBy("host").orderBy(*_order())
    ranked = survivors.withColumn("__rk", F.row_number().over(w_host))
    popped = ranked.where(F.col("budget").isNull() | (F.col("__rk") <= F.col("budget")))
    deferred_2 = ranked.where(F.col("budget").isNotNull() & (F.col("__rk") > F.col("budget")))

    drop = ["__lane", "__lane_rk", "__rk", "budget"]
    popped = popped.drop(*drop)
    deferred = deferred_2.drop(*drop).unionByName(
        eliminated.drop(*[c for c in drop if c in eliminated.columns])
    )
    return popped, deferred


def pop_per_host_threshold(
    frontier: DataFrame,
    budgets: DataFrame | None,
    salt_lanes: int = DEFAULT_SALT_LANES,
) -> tuple[DataFrame, DataFrame]:
    """:func:`pop_per_host` with ZERO wide-row shuffle — identical output
    whenever the (depth, priority, seq) order tuple is unique per host,
    which the engine guarantees (``seq`` is a global discovery rank:
    plans/crawl.py seq assignment; pop_per_host itself is nondeterministic
    under ties, so uniqueness is already the engine-wide contract).

    The frontier epoch is memory-bandwidth-bound (BASELINE.md): shuffle
    bytes, not CPU, set its throughput. pop_per_host moves every frontier
    row — URL strings included, ~100+ B/row — through two window
    exchanges. But the pop decision per host is fully described by one
    value: the order-tuple of its budget-th-smallest row. So:

    1. rank a NARROW projection (host + order columns + budget, no URL
       strings) through the same salted two-phase shape — the only
       exchanges left, at ~half the bytes/row;
    2. collapse the popped ranks to one THRESHOLD row per host
       (``max(struct(depth, priority, seq))`` over popped rows — O(hosts)
       rows total, ≲10^6 even at the 10^10-URL frontier, a few MB);
    3. broadcast the thresholds and filter the un-shuffled wide frontier:
       popped ⇔ tuple ≤ host threshold (or unlimited budget).

    Wide URL rows therefore never enter ANY exchange, and the deferred
    side is the same broadcast filter negated — no second pass, no union.
    The O(hosts) driver collect is the same bounded-aggregate class as the
    bloom fold bitsets; this stays the shape at N→4N executors because the
    threshold table grows with hosts, not with frontier rows.

    Pops from a STORED or materialized frontier: the plan is a DAG, not a
    line — the narrow ranking branch and the wide filter branch both read
    ``frontier``, and Spark executes them as separate jobs (the thresholds
    must exist before the broadcast). Over a stored table (the engine's
    ``frontier_store_dir`` mode) the second read is a column-pruned scan;
    over a lazy input whose lineage carries the epoch's bloom probe + exact
    anti-join, that upstream would run once per branch and once more per
    side. :func:`pop_per_host` materializes its branch point and runs the
    upstream exactly once, which is why the engine pops an in-memory
    frontier with it instead (this pop was already 1.3-2x slower on the
    16M frontier epoch when pop_per_host still recomputed its upstream
    per side, BENCH/bench_r3_ab_pairs.json).
    """
    if budgets is None and "budget" not in frontier.columns:
        return frontier, frontier.limit(0)

    if "budget" in frontier.columns:
        fr = frontier
    else:
        fr = frontier.join(F.broadcast(budgets), on="host", how="left")

    tup = F.struct(F.col("depth"), F.col("priority"), F.col("seq"))
    # Unlimited hosts (budget NULL) pop everything — they need no
    # threshold and never enter the ranking. The lane salt is projected
    # here so url_hash itself never enters the narrow shuffle either.
    keys = fr.where(F.col("budget").isNotNull()).select(
        "host",
        F.pmod(F.col("url_hash"), F.lit(salt_lanes)).alias("__lane"),
        "depth", "priority", "seq", "budget",
    )

    # Same salted two-phase rank as pop_per_host, on narrow rows only.
    w_lane = Window.partitionBy("host", "__lane").orderBy(*_order())
    survivors = (
        keys.withColumn("__lane_rk", F.row_number().over(w_lane))
        .where(F.col("__lane_rk") <= F.col("budget"))
    )
    w_host = Window.partitionBy("host").orderBy(*_order())
    popped_keys = survivors.withColumn(
        "__rk", F.row_number().over(w_host)
    ).where(F.col("__rk") <= F.col("budget"))
    # A budgeted host with ≥1 row always pops ≥1 row (budget ≥ 1), so
    # every budgeted host present in the frontier has a threshold row.
    thresholds = popped_keys.groupBy("host").agg(F.max(tup).alias("__thr"))

    joined = fr.join(F.broadcast(thresholds), on="host", how="left")
    # coalesce: a host with no threshold row (possible only under a
    # degenerate budget ≤ 0 — pop_per_host defers everything there too)
    # must land in deferred, not vanish into a NULL predicate.
    is_popped = F.col("budget").isNull() | F.coalesce(
        tup <= F.col("__thr"), F.lit(False)
    )
    popped = joined.where(is_popped).drop("__thr", "budget")
    deferred = joined.where(~is_popped).drop("__thr", "budget")
    return popped, deferred


def effective_delay_expr():
    """delay = crawl_delay override else midpoint of the RateLimiter base
    window, doubled per backoff level, capped at max_delay.

    Non-positive crawl_delay falls back to the default (the parser already
    drops it, but a foreign robots table must not produce
    floor(epoch/0) = Infinity, whose int cast wraps negative and starves
    the host forever)."""
    base = F.coalesce(
        F.when(F.col("crawl_delay") > 0, F.col("crawl_delay")),
        F.lit((POLITENESS_BASE_DELAY_MIN + POLITENESS_BASE_DELAY_MAX) / 2.0),
    )
    return F.least(
        base * F.pow(F.lit(2.0), F.coalesce(F.col("backoff_level"), F.lit(0))),
        F.lit(POLITENESS_MAX_DELAY),
    )


def compute_budgets(
    hosts: DataFrame,
    robots: DataFrame | None,
    backoff: DataFrame | None,
    epoch_seconds: float = EPOCH_SECONDS,
) -> DataFrame:
    """(host) → (host, budget): floor(epoch_seconds / effective_delay),
    minimum 1 so a backed-off host still drains (the RateLimiter retries
    rather than starving)."""
    df = _with_budget_dims(hosts.select("host").distinct(), robots, backoff)
    return df.select("host", _budget_expr(epoch_seconds).alias("budget"))


def update_backoff(
    fetch_statuses: DataFrame, prev_backoff: DataFrame | None
) -> DataFrame:
    """Next-epoch backoff state from this epoch's per-host statuses:
    any 429/503 → level+1 (capped at 6 ≈ max_delay), else reset to 0.
    Hosts not fetched this epoch keep their level (no decay without signal)."""
    per_host = fetch_statuses.groupBy("host").agg(
        F.max(F.when(F.col("status").isin(429, 503), 1).otherwise(0)).alias("__throttled")
    )
    if prev_backoff is None:
        prev_backoff = per_host.select("host", F.lit(0).alias("backoff_level")).limit(0)
    merged = per_host.join(prev_backoff, "host", "full_outer").select(
        "host",
        F.when(
            F.col("__throttled") == 1,
            F.least(F.coalesce(F.col("backoff_level"), F.lit(0)) + 1, F.lit(6)),
        )
        .when(F.col("__throttled") == 0, F.lit(0))
        .otherwise(F.coalesce(F.col("backoff_level"), F.lit(0)))
        .alias("backoff_level"),
    )
    return merged


def robots_denied_expr():
    """True when the URL's path matches a disallow prefix — SURVEY.md §2.10
    D4 (`robots` table semantics)."""
    return F.when(
        F.col("disallow_prefixes").isNull(), F.lit(False)
    ).otherwise(
        F.exists("disallow_prefixes", lambda p: F.col("path").startswith(p))
    )


def _longest_match_len(prefixes_col: str) -> "F.Column":
    """Length of the longest prefix in ``prefixes_col`` matching ``path``;
    -1 when none match (or the column is NULL). Pure codegen: filter the
    rule array to matches, take the max length."""
    matched = F.filter(
        F.coalesce(F.col(prefixes_col), F.array()),
        lambda p: F.col("path").startswith(p),
    )
    return F.coalesce(
        F.array_max(F.transform(matched, lambda p: F.length(p))), F.lit(-1)
    )


def robots_denied_rfc_expr():
    """RFC 9309 §2.2.2 longest-match precedence over (disallow_prefixes,
    allow_prefixes): among all rules whose prefix matches the path, the
    LONGEST one governs; an Allow/Disallow tie resolves to Allow; no
    matching rule means allowed. The deny-only ``robots_denied_expr``
    stays the engine default (strictly more conservative); this variant is
    selected by :func:`robots_denied_for` when the robots table carries an
    ``allow_prefixes`` column — e.g. from sources/robots.parse_robots_rules."""
    return _longest_match_len("disallow_prefixes") > _longest_match_len(
        "allow_prefixes"
    )


def py_robots_denied_rfc(
    path: str, disallow: list[str] | None, allow: list[str] | None
) -> bool:
    """Python twin of robots_denied_rfc_expr (differential tests)."""
    dis = max((len(p) for p in (disallow or []) if path.startswith(p)), default=-1)
    alw = max((len(p) for p in (allow or []) if path.startswith(p)), default=-1)
    return dis > alw


def _longest_pattern_match_len(pats_col: str, target: "F.Column") -> "F.Column":
    """Specificity of the most specific wildcard rule matching ``target``;
    -1 when none match. ``pats_col`` holds (re, len) structs pre-compiled
    by sources/robots.compile_rule_patterns — the per-URL work is regex
    matching only, still pure codegen (regexp_like inside an array
    filter), no Python."""
    matched = F.filter(
        F.coalesce(F.col(pats_col), F.array()),
        lambda p: F.regexp_like(target, p["re"]),
    )
    return F.coalesce(
        F.array_max(F.transform(matched, lambda p: p["len"])), F.lit(-1)
    )


def robots_denied_wildcard_expr(target: "F.Column | None" = None):
    """RFC 9309 section 2.2.3 wildcard rules ('*' any-sequence, trailing
    '$' end-anchor) under the section 2.2.2 longest-match precedence:
    among all matching rules the most octets govern, an Allow/Disallow
    tie resolves to Allow. Consumes the (re, len) pattern table from
    sources/robots.compile_rule_patterns; strictly subsumes
    robots_denied_rfc_expr on wildcard-free tables (a prefix rule
    compiles to its anchored-prefix regex with identical specificity).
    :func:`robots_denied_for` selects this gate when the robots table
    carries ``disallow_pats``.

    ``target`` is the RFC match target: the path INCLUDING the query
    string ('/*.php' matches '/index.php?parameters'; a primary use of
    '*' rules is query patterns like '/*?sessionid=*', which a
    path-only match could never deny). Defaults to ``F.col("path")``
    for frames that only carry a path; pass
    ``functions/urls.url_path_query(F.col("canonical_url"))`` when the
    full URL is available — the crawl engine does."""
    if target is None:
        target = F.col("path")
    return _longest_pattern_match_len(
        "disallow_pats", target
    ) > _longest_pattern_match_len("allow_pats", target)


def robots_denied_for(robots: DataFrame, target: "F.Column | None" = None):
    """The deny predicate matching the shape of the ``robots`` table:
    wildcard rules govern when it carries ``disallow_pats``
    (sources/robots.compile_rule_patterns); else RFC 9309 longest match
    when it carries Allow rules (``allow_prefixes``,
    sources/robots.parse_robots_rules); else the deny-only prefix gate
    (strictly more conservative). ``target`` is the wildcard gate's match
    target (:func:`robots_denied_wildcard_expr`); the prefix gates match
    ``path``."""
    if "disallow_pats" in robots.columns:
        return robots_denied_wildcard_expr(target)
    if "allow_prefixes" in robots.columns:
        return robots_denied_rfc_expr()
    return robots_denied_expr()


def py_robots_denied_wildcard(
    path: str, disallow: list[str] | None, allow: list[str] | None
) -> bool:
    """Python twin of robots_denied_wildcard_expr over RAW rule strings
    (compiles via the same sources/robots.py_compile_robots_pattern)."""
    import re as _re

    from ..sources.robots import py_compile_robots_pattern

    def best(rules: list[str] | None) -> int:
        out = -1
        for r in rules or []:
            rx, spec = py_compile_robots_pattern(r)
            if _re.search(rx, path):
                out = max(out, spec)
        return out

    return best(disallow) > best(allow)


def host_quality_prior(
    docs: DataFrame,
    host_col: str = "host",
    quality_col: str = "quality",
) -> DataFrame:
    """(host, n_docs, mean_q4, prio): per-host mean of a document quality
    signal, as a frontier priority prior — the loop closure from the
    training-data layer back into the crawler: hosts whose stored documents
    historically score high (gopher pass rate, heuristic quality, probe
    score, aesthetic keep rate — any [0,1] signal) should be crawled
    SOONER, the quality-aware counterpart of freshness-aware
    recrawl_schedule (plans/rag.py). Crawl4ai has no such policy (every
    URL competes only on depth); at 10^10 URLs the frontier's priority
    column is where corpus-level signal must land.

    Arithmetic: the [0,1] quality is fixed-pointed to 4 digits
    (``floor(q·10⁴ + 0.5)``) BEFORE aggregation, so the per-host mean is an
    exact integer ``sum DIV count`` — bit-identical in any engine at any
    partitioning (the recrawl_schedule prio_milli contract). ``prio`` =
    ``-mean_q4``: the frontier orders ascending (lower = sooner, T4), so
    better hosts sort first. Plan shape: one map-side-combinable
    groupBy(host) — the minimal shuffle for a per-host aggregate; the
    output is host-count-bounded and broadcasts onto the frontier
    (:func:`apply_host_prior`).
    """
    q4 = F.floor(
        F.col(quality_col).cast("double") * F.lit(10000.0) + F.lit(0.5)
    ).cast("long")
    agg = docs.groupBy(host_col).agg(
        F.count("*").alias("n_docs"), F.sum(q4).alias("__qsum")
    )
    mean_q4 = F.expr("__qsum DIV n_docs")
    return agg.select(
        F.col(host_col),
        F.col("n_docs"),
        mean_q4.alias("mean_q4"),
        (-mean_q4).alias("prio"),
    )


def apply_host_prior(
    frontier: DataFrame,
    prior: DataFrame,
    host_col: str = "host",
    priority_col: str = "priority",
) -> DataFrame:
    """Fold a host-grain priority prior into the frontier's priority column
    (additive; hosts without a prior keep their base priority). The prior
    table is host-count-bounded — a broadcast join, so the wide frontier
    rows never shuffle to receive their priority."""
    p = prior.select(F.col(host_col), F.col("prio").alias("__prio"))
    return (
        frontier.join(F.broadcast(p), host_col, "left")
        .withColumn(
            priority_col,
            F.col(priority_col) + F.coalesce(F.col("__prio"), F.lit(0)),
        )
        .drop("__prio")
    )


def template_explosion(
    urls: DataFrame,
    url_col: str = "canonical_url",
    max_urls_per_template: int | None = None,
) -> DataFrame:
    """(host, template, n_urls, exploded): URLs per generalized family
    (functions/urls.url_template) — the DYNAMIC trap detector. A
    session-id mill or infinite calendar passes every per-URL structural
    check (functions/urls.is_crawl_trap) because each URL looks ordinary;
    what gives the family away is its cardinality. crawl4ai has no such
    defense (the reference follows every in-boundary link verbatim,
    src/crawl4ai_mcp.py:1022-1053).

    Plan shape: the template is a zero-shuffle codegen projection; the
    count is one map-side-combinable groupBy(host, template) — the minimal
    shuffle, and its payload is the template STRING, not the URL rows. The
    output is family-count bounded (orders of magnitude below URL count at
    10^10 frontier scale: templates are what's LEFT after generalizing the
    volatile parts away), so it broadcasts back onto the frontier
    (:func:`apply_template_guard`)."""
    from ..functions.urls import TEMPLATE_MAX_URLS, url_template

    cap = (
        TEMPLATE_MAX_URLS
        if max_urls_per_template is None
        else max_urls_per_template
    )
    # the template string already BEGINS with the lowercased host
    # (url_template concats it first), so grouping by template alone is
    # the same partition with one less derived key in the shuffle; the
    # host output column is sliced back off the template for callers
    agg = (
        urls.select(url_template(F.col(url_col)).alias("template"))
        .groupBy("template")
        .agg(F.count("*").alias("n_urls"))
    )
    return agg.select(
        F.substring_index(F.col("template"), "/", 1).alias("host"),
        "template",
        "n_urls",
        (F.col("n_urls") > F.lit(cap)).alias("exploded"),
    )


def apply_template_guard(
    frontier: DataFrame,
    families: DataFrame,
    url_col: str = "canonical_url",
) -> DataFrame:
    """Drop frontier URLs whose family exploded: broadcast LEFT ANTI join
    of the frontier's computed template against the flagged families —
    wide frontier rows never shuffle; the guard costs one projection plus
    a broadcast probe."""
    from ..functions.urls import url_template

    flagged = families.where(F.col("exploded")).select("template")
    return (
        frontier.withColumn("__tpl", url_template(F.col(url_col)))
        .join(F.broadcast(flagged), F.col("__tpl") == F.col("template"), "left_anti")
        .drop("__tpl")
    )
