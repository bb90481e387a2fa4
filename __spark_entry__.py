"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl→chunk→embed→store slice on
sf0.001. ``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (plus the training-data additions); ``oracle_sql()`` gives the
DuckDB-runnable ANSI-SQL twin for every SQL-expressible query.

Differential-oracle design notes
--------------------------------
- The crawl-engine queries run over the deterministic synthetic web graph of
  ``mcp_crawl4ai_rag_spark.sources.corpus`` (formula-defined edges); their
  oracles are self-contained recursive CTEs rebuilt from the SAME constants
  (corpus.oracle_*_sql). Graph size scales with the sf via
  ``(SELECT count(*) FROM lineitem)``.
- Dedup/similarity hashes are md5-derived (functions/hashing.py) so DuckDB
  reproduces every MinHash / SimHash / LSH value bit-for-bit.
- All floating-point reductions fold left-to-right in float64 on both sides
  (Spark ``F.aggregate`` vs DuckDB ``list_reduce``), making cosine values
  bit-identical before the 4dp rounding at the output boundary.
- Non-SQL-expressible ops (image decode invariants, the seeded embedder in
  the full RAG path) intentionally have no oracle entry → the driver records
  the weaker rows-only check; their semantics are covered by tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.functions.chunking import explode_chunks, with_section_info
from mcp_crawl4ai_rag_spark.functions.embedding import with_embeddings
from mcp_crawl4ai_rag_spark.functions.text import (
    LANG_ORDER,
    STOPWORDS,
    lang_id_expr,
    punct_count,
    quality_score_expr,
    token_count_bpe,
    token_count_ws,
)
from mcp_crawl4ai_rag_spark.functions.urls import (
    canonical_url,
    classify_url,
    is_binary_url,
    url_hash,
    url_host,
    url_path,
)
from mcp_crawl4ai_rag_spark.operators.components import (
    canonical_docs,
    connected_components,
)
from mcp_crawl4ai_rag_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    simhash_pairs,
)
from mcp_crawl4ai_rag_spark.operators.politeness import compute_budgets
from mcp_crawl4ai_rag_spark.operators.similarity import (
    brute_topk,
    bucket_expr,
    cosine_pairs,
    hyperplane,
    ivf_topk,
)
from mcp_crawl4ai_rag_spark.operators.urlseen import anti_join_seen, build_bloom
from mcp_crawl4ai_rag_spark.plans.crawl import CrawlEngine
from mcp_crawl4ai_rag_spark.plans.rag import (
    available_sources,
    build_chunks,
    search_documents,
    store_documents,
)
from mcp_crawl4ai_rag_spark.plans.smart import smart_crawl
from mcp_crawl4ai_rag_spark.sources import corpus as C
from mcp_crawl4ai_rag_spark.sources.corpus import (
    gen_images,
    gen_pages,
    gen_robots,
    gen_seeds,
    gen_sitemaps,
    materialized_pages,
    materialized_sitemaps,
)
from mcp_crawl4ai_rag_spark.sources.sitemap import expand_sitemaps
from mcp_crawl4ai_rag_spark.functions.images import verify_images

# ---------------------------------------------------------------------------
# shared constants / SQL fragments
# ---------------------------------------------------------------------------

N_SQL = "(SELECT count(*) FROM lineitem)"
# html-extraction corpus size — must mirror q_chunk_documents' Spark-side n
_HTML_N_SQL = f"GREATEST({N_SQL} // 30, 100)"
CRAWL_DEPTH = 3
EMB_DIM = 64  # driver testdata embeddings.parquet dimensionality

_SEEDS_VALUES = ", ".join(f"({s}, 0)" for s in C.SEED_IDS)
_EDGE_JS = ", ".join(f"({j})" for j in range(C.OUT_DEGREE))

# Recursive BFS over the formula graph: node i expands iff it fetched
# successfully AND is robots-allowed; depth < CRAWL_DEPTH-1 bounds expansion
# exactly like the engine's epoch loop (plans/crawl.py run()).
_WALK_CTE = f"""
WITH RECURSIVE walk(id, depth) AS (
    SELECT * FROM (VALUES {_SEEDS_VALUES}) v(id, depth)
    UNION ALL
    SELECT ({C.EDGE_A} * w.id + {C.EDGE_B} * j.j + {C.EDGE_C}) % {N_SQL},
           w.depth + 1
    FROM walk w CROSS JOIN (VALUES {_EDGE_JS}) j(j)
    WHERE w.depth < {CRAWL_DEPTH - 1}
      AND {C.oracle_expandable_sql('w.id')}
)
"""

_WS_RE = r"\S+"
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_PUNCT_RE = r"[^A-Za-z0-9\s]"

# Augmented corpus for near-dup detection: every 10th doc gets a copy with
# the first 20 chars removed — deterministic near-duplicates by construction.
_DOCS2_SQL = """
docs2 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, substr(text, 21) AS text
    FROM documents WHERE doc_id % 10 = 0
)
"""

# Chain variant for connected components: the +1M and +2M twins of the same
# base doc are each near-dups of it (and usually of each other) — clusters of
# size 3 that the component stage must merge transitively.
_DOCS3_SQL = """
docs3 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, substr(text, 21) AS text
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, substr(text, 41) AS text
    FROM documents WHERE doc_id % 10 = 0
)
"""

_N_PERMS, _N_BANDS, _ROWS_PER_BAND = 16, 4, 4
_SIM_BITS = 32
_LSH_PLANES = 8


def _sql_md5int64(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _sql_dot(a: str, b: str) -> str:
    """Left fold in float64 — bit-identical to Spark's F.aggregate."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )


def _sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({a}, "
        f"v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (acc, v) -> acc + v))"
    )


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)}))"


def _plane_sql(p: int, dim: int) -> str:
    return "[" + ", ".join(
        "1.0" if x == 1 else "-1.0" for x in hyperplane(p, dim)
    ) + "]"


def _scale_mult(env: str) -> int:
    """Bench-only corpus multiplier (default 1 = the driver contract).
    bench.py's compose phase sets these to run the composed e2e gates at
    10× input — a composition-level scale cell the sf0.1 gates can't see.
    Oracles are only valid at mult 1; the driver never sets these."""
    import os

    return max(int(os.environ.get(env, "1")), 1)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mult = _scale_mult("SPARK_GRAFT_DOCS_MULT")
    if mult > 1:
        # replicate with disjoint ids and per-replica text variation so
        # dedup stages see scaled-up yet non-degenerate structure. ONE
        # scan + explode(sequence) instead of a mult-way union: the union
        # shape made plan size O(mult) (a 100× cell would carry 300 scan
        # branches through the optimizer) and produced one task per
        # 5000/1000/500-row branch in the composed gates — the 10.33×
        # max/median "skew" the r4 compose witness tripped on was exactly
        # the 5000:500 branch row ratio, not a hot key. The exploded shape
        # keeps every task's row count uniform at any mult — but scan
        # parallelism is decided by input BYTES, and this corpus is one
        # tiny file (≈1 split), so the mult× rows would otherwise land on
        # ~1 task (measured: pipeline_e2e 10× warm 40→100 s). Spreading
        # the pre-explode base rows first is a trivial shuffle (5k rows)
        # that restores full-width replication; a real 100-TB input has
        # thousands of splits and needs neither.
        df = df.repartition(spark.sparkContext.defaultParallelism * 2)
        rep = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("rep")
        return df.select(rep, "*").select(
            (F.col("doc_id") + F.lit(10_000_000) * F.col("rep")).alias(
                "doc_id"
            ),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.col("text"),
                    F.lit(" replica"),
                    F.col("rep").cast("string"),
                    F.lit(" tail"),
                )
            )
            .alias("text"),
            "lang",
            "source",
            F.when(F.col("rep") == 0, F.col("n_chars"))
            .otherwise(
                F.col("n_chars")
                + F.length(F.concat(F.lit(" replica"), F.col("rep").cast("string"), F.lit(" tail")))
            )
            .alias("n_chars"),
        )
    return df


def _spread(df: DataFrame) -> DataFrame:
    """Even out under-split synthetic inputs: the sf corpus tables are ONE
    tiny parquet file (one row group → one scan split no matter what
    maxPartitionBytes says), so every pre-shuffle stage — minhash
    signatures, shingle sets, gopher/PII regex — would run on a single
    task. A real 100-TB input arrives in thousands of splits and needs no
    help; spread only when the scan yields fewer partitions than cores,
    so well-split inputs (and the mult>1 replicated corpus, already
    repartitioned) pass through without an extra exchange."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _planted(docs: DataFrame, twins: list[tuple[int, int]]) -> DataFrame:
    """Plant near-twin hazards as ONE scan: every doc emits its base row,
    and every 10th additionally emits, per (id_offset, text_start) in
    ``twins``, a copy shifted by that offset with text sliced from that
    1-based start. explode(array_compact) instead of a union of filtered
    scans — the union shape gave each twin leg its own single-task scan
    branch (rows ∝ 1/10 vs full), the exact task-granularity cliff the r4
    compose-cell skew witness flagged on pipeline_e2e."""
    legs = [
        F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text"))
    ]
    for off, start in twins:
        legs.append(
            F.when(
                F.col("doc_id") % 10 == 0,
                F.struct(
                    (F.col("doc_id") + off).alias("doc_id"),
                    F.expr(f"substring(text, {start})").alias("text"),
                ),
            )
        )
    return _spread(docs).select(
        F.explode(F.array_compact(F.array(*legs))).alias("r")
    ).select("r.doc_id", "r.text")


def _docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return _planted(docs, [(1000000, 21)])


def _docs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return _planted(docs, [(1000000, 21), (2000000, 41)])


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _lineitem_count(spark: SparkSession, sf_dir: str) -> int:
    n = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    return n * _scale_mult("SPARK_GRAFT_N_MULT")


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _crawl(spark: SparkSession, sf_dir: str):
    n = _lineitem_count(spark, sf_dir)
    # the epoch loop scans the corpus once per fetch-join; read it as a
    # materialized parquet table (the deployment shape — write-once cache)
    pages = materialized_pages(spark, n)
    engine = CrawlEngine(
        spark,
        pages,
        gen_robots(spark),
        allowed_host_suffix=".example.com",
    )
    return engine.run(gen_seeds(spark, n), max_depth=CRAWL_DEPTH)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_crawl_bfs_visited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-crawl traversal strategies, two tagged legs:
    'bfs' — J1/J2/D1/F1-F8: full frontier crawl; visited set with BFS
    depths (val = schedule depth).
    'dfs' — the crawl4ai DFSDeepCrawlStrategy order over the SAME graph:
    depth-limited DFS preorder computed distributed as the min-lex-key
    Jacobi fixed point (operators/ordering.dfs_preorder; val = preorder
    rank).
    'redirect' (r4) — the SAME crawl with the closed-form 301 map
    (sources/corpus.gen_redirects; plans/crawl CrawlEngine(redirects=)):
    redirect sources consumed without fetch, targets re-enter at the SAME
    depth; oracle replays the sequential twin (py_crawl_with_redirects,
    literal injection — epoch-bounded redirect semantics are not a
    min-over-paths closure, the DFS-leg precedent).
    'stored' (r5) — the SAME crawl popping from a PERSISTED host-bucketed
    frontier table each epoch via the threshold pop (the 10^10 cluster
    shape executed; q_crawl_stored) — shares the 'bfs' closed-form
    oracle because the stored run is bit-identical by design.
    'hardened' (r5) — EVERY policy guard composed in one engine run over
    the hazard corpus (q_crawl_hardened; twin-literal oracle).
    Schema (mode, canonical_url, val)."""
    res = _crawl(spark, sf_dir)
    bfs = res.url_seen.select(
        F.lit("bfs").alias("mode"),
        "canonical_url",
        F.col("depth").cast("long").alias("val"),
    )
    dfs = q_dfs_order(spark, sf_dir).select(
        F.lit("dfs").alias("mode"),
        "canonical_url",
        F.col("dfs_rank").cast("long").alias("val"),
    )
    red = q_crawl_redirects(spark, sf_dir).select(
        F.lit("redirect").alias("mode"), "canonical_url", "val"
    )
    stored = q_crawl_stored(spark, sf_dir).select(
        F.lit("stored").alias("mode"), "canonical_url", "val"
    )
    hardened = q_crawl_hardened(spark, sf_dir).select(
        F.lit("hardened").alias("mode"), "canonical_url", "val"
    )
    return (
        bfs.unionByName(dfs)
        .unionByName(red)
        .unionByName(stored)
        .unionByName(hardened)
    )


def q_crawl_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone redirect-crawl leg (bench cell): the BFS crawl with the
    closed-form redirect map active — visited set with schedule depths."""
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_redirects

    n = _lineitem_count(spark, sf_dir)
    res = CrawlEngine(
        spark,
        materialized_pages(spark, n),
        gen_robots(spark),
        allowed_host_suffix=".example.com",
        redirects=gen_redirects(spark, n),
    ).run(gen_seeds(spark, n), max_depth=CRAWL_DEPTH)
    return res.url_seen.select(
        "canonical_url", F.col("depth").cast("long").alias("val")
    )


def q_crawl_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone stored-frontier leg (bench cell): the SAME BFS crawl run
    the 10^10 cluster way — politeness pop active (the threshold pop),
    and the frontier PERSISTED each epoch as a host-bucketed parquet table
    that the next epoch pops FROM (plans/crawl.CrawlEngine
    frontier_store_dir; the 'Iceberg scan = free materialization' claim,
    executed end-to-end). Budgets are attached per host but non-binding
    (epoch_seconds huge), so the visited set and depths are bit-identical
    to the in-memory 'bfs' leg and share its closed-form oracle; the
    BINDING-budget stored case is politeness_drain's 'stored' leg."""
    import os

    n = _lineitem_count(spark, sf_dir)
    store = f"/tmp/sg_frontier_store_bfs_{os.path.basename(sf_dir.rstrip('/'))}"
    res = CrawlEngine(
        spark,
        materialized_pages(spark, n),
        gen_robots(spark),
        allowed_host_suffix=".example.com",
        frontier_store_dir=store,
        epoch_seconds=1e9,
    ).run(gen_seeds(spark, n), max_depth=CRAWL_DEPTH, politeness=True)
    return res.url_seen.select(
        "canonical_url", F.col("depth").cast("long").alias("val")
    )


def _hazard_m(n: int) -> int:
    return max(300, min(n // 100, 3000))


def q_crawl_hardened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone composed-hardening leg (bench cell): ONE CrawlEngine run
    with EVERY round-4 policy guard active — 301 redirects + crawl-trap
    link_filter + in-crawl template guard + RFC 9309 wildcard robots
    (path+query target, Allow override) + eTLD+1 politeness with
    429-backoff + max_pages + threshold pop from a STORED bucketed
    frontier — over the hazard corpus (sources/hazard.py) planting all
    the hazards at once. val encodes the full ordering contract
    ((seq*100 + epoch_seen)*100 + depth); oracle = the sequential twin
    plans/crawl.py_crawl_hardened (literal injection — the composed
    epoch-bounded semantics are not a SQL closure)."""
    import os

    from mcp_crawl4ai_rag_spark.functions.urls import is_crawl_trap
    from mcp_crawl4ai_rag_spark.sources import hazard as HZ

    m = _hazard_m(_lineitem_count(spark, sf_dir))
    store = f"/tmp/sg_frontier_store_hzd_{os.path.basename(sf_dir.rstrip('/'))}"
    res = CrawlEngine(
        spark,
        HZ.gen_hazard_pages(spark, m),
        HZ.gen_hazard_robots(spark),
        allowed_host_suffix=None,
        politeness_grain="domain",
        epoch_seconds=HZ.HAZ_EPOCH_SECONDS,
        redirects=HZ.gen_hazard_redirects(spark, m),
        link_filter=lambda u: ~is_crawl_trap(u),
        template_guard_cap=HZ.HAZ_TEMPLATE_CAP,
        frontier_store_dir=store,
    ).run(
        HZ.gen_hazard_seeds(spark),
        max_depth=HZ.HAZ_MAX_DEPTH,
        politeness=True,
        max_epochs=HZ.HAZ_MAX_EPOCHS,
        max_pages=HZ.HAZ_MAX_PAGES,
    )
    return res.url_seen.select(
        "canonical_url",
        (
            (F.col("seq").cast("long") * 100 + F.col("epoch_seen")) * 100
            + F.col("depth")
        ).alias("val"),
    )


def _hardened_visited_literals() -> str:
    """Oracle for the composed-hardening leg: replay the sequential twin
    over the same hazard graph at the oracle SF and inject
    (url, (seq*100+epoch)*100+depth) literals."""
    import os

    import duckdb

    from mcp_crawl4ai_rag_spark.plans.crawl import py_crawl_hardened
    from mcp_crawl4ai_rag_spark.sources import hazard as HZ

    sf_dir = os.environ.get(_ORACLE_SF_DIR_ENV, _ORACLE_SF_DIR_DEFAULT)
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()[0]
    con.close()
    visited = py_crawl_hardened(
        HZ.py_hazard_graph(_hazard_m(n)),
        [HZ.hz_url(i) for i in range(HZ.HAZ_SEED_COUNT)],
        max_depth=HZ.HAZ_MAX_DEPTH,
        max_epochs=HZ.HAZ_MAX_EPOCHS,
        epoch_seconds=HZ.HAZ_EPOCH_SECONDS,
        max_pages=HZ.HAZ_MAX_PAGES,
        template_guard_cap=HZ.HAZ_TEMPLATE_CAP,
        robots_disallow=list(HZ.HAZ_ROBOTS_DISALLOW),
        robots_allow=list(HZ.HAZ_ROBOTS_ALLOW),
    )
    vals = ",\n       ".join(
        f"('{u}', CAST({(s * 100 + e) * 100 + d} AS BIGINT))"
        for u, (d, e, s) in sorted(visited.items())
    )
    return f"SELECT * FROM (VALUES\n       {vals}) AS t(canonical_url, val)"


def q_dfs_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone DFS-preorder leg (bench cell): the corpus link graph's
    depth-limited DFS visit order from the seed set — edges from the
    modular target formula gated on expandability (success + robots),
    exactly the graph the BFS walk traverses."""
    from mcp_crawl4ai_rag_spark.operators.ordering import dfs_preorder

    n = _lineitem_count(spark, sf_dir)
    i = F.col("id")
    expandable = (
        (i % C.FAIL404_MOD != 0) & (i % C.FAIL429_MOD != 0) & (i % C.PRIVATE_MOD != 0)
    )
    src = spark.range(0, n, 1, 16).where(expandable)
    edges = src.select(
        i.alias("src"),
        F.explode(
            F.array(*[
                F.struct(
                    ((i * C.EDGE_A + F.lit(C.EDGE_B * j + C.EDGE_C)) % F.lit(n)).alias("dst"),
                    F.lit(j).alias("pos"),
                )
                for j in range(C.OUT_DEGREE)
            ])
        ).alias("e"),
    ).select("src", F.col("e.dst").alias("dst"), F.col("e.pos").alias("pos"))
    seeds = spark.createDataFrame(
        [(s, k) for k, s in enumerate(C.SEED_IDS)], "id long, pos int"
    )
    out = dfs_preorder(edges, seeds, CRAWL_DEPTH)
    return out.select(
        C._url_expr(F.col("id")).alias("canonical_url"), "dfs_rank"
    )


def q_crawl_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: per-epoch lineage metrics of the same crawl."""
    res = _crawl(spark, sf_dir)
    return res.lineage.select(
        F.col("epoch").cast("long").alias("epoch"),
        F.col("urls_scheduled").cast("long").alias("urls_scheduled"),
        F.col("pages_fetched").cast("long").alias("pages_fetched"),
        F.col("robots_denials").cast("long").alias("robots_denials"),
        F.col("urls_discovered").cast("long").alias("urls_discovered"),
    )


_DRAIN_M = 6000  # hot host gets 1800 URLs > the 1500 budget → spills to epoch 1
_DRAIN_EPOCH_SECONDS = 3000.0  # budget 1500/host at the 2.0s delay midpoint


_DRAIN_CAP = 2000  # max_pages knob for the capped leg — bites mid-epoch-0


def q_politeness_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3+J4 under the gate, two tagged legs:
    'drain' — politeness-budgeted multi-epoch drain of a flat 6000-URL
    frontier. Per host, URLs pop in seq order at ≤ budget/epoch; any 429
    in an epoch doubles the host's delay for the next (backoff). Only the
    hot host overflows epoch 0 under these knobs, so the schedule is
    closed-form: epoch_seen = 1 iff host 0 rank ≥ 1500.
    'capped' — the same drain under a ``max_pages=2000`` page budget
    (crawl4ai's deep-crawl max_pages): epoch 0's 5700-row popped batch is
    truncated to the first 2000 in (depth, priority, seq) order and the
    run stops — closed-form: the 2000 smallest seq among non-deferred
    rows, all epoch_seen=0.
    'host_quota' — the same drain under ``max_pages_per_host=200`` (the
    domain-quota policy): every host's epoch budget clamps to its
    remaining quota, so epoch 0 takes exactly each host's first 200 by
    seq and the run ends on the first no-progress epoch — closed-form:
    per-host rank < 200, all epoch_seen=0.
    'stored' (r5) — the 'drain' leg run the 10^10 cluster way: BINDING
    budgets, the threshold pop, frontier persisted per epoch as a
    host-bucketed parquet table the next epoch pops FROM
    (q_drain_stored); deferred hot-host overflow provably survives the
    store/scan round-trip — same closed-form oracle as 'drain'.
    Schema (mode, canonical_url, epoch_seen)."""
    seeds = spark.range(0, _DRAIN_M, 1, 16).select(
        C._url_expr(F.col("id")).alias("url"),
        F.lit(0).alias("priority"),
        F.lit(0).alias("depth"),
        F.col("id").alias("seq"),
    )
    pages = materialized_pages(spark, _DRAIN_M)
    engine = CrawlEngine(
        spark, pages, robots=None, allowed_host_suffix=".example.com",
        epoch_seconds=_DRAIN_EPOCH_SECONDS,
    )
    res = engine.run(seeds, max_depth=1, politeness=True, max_epochs=4)
    drain = res.url_seen.select(
        F.lit("drain").alias("mode"),
        "canonical_url",
        F.col("epoch_seen").cast("long").alias("epoch_seen"),
    )
    capped = q_drain_capped(spark, sf_dir).select(
        F.lit("capped").alias("mode"), "canonical_url", "epoch_seen"
    )
    quota = q_drain_host_quota(spark, sf_dir).select(
        F.lit("host_quota").alias("mode"), "canonical_url", "epoch_seen"
    )
    stored = q_drain_stored(spark, sf_dir).select(
        F.lit("stored").alias("mode"), "canonical_url", "epoch_seen"
    )
    return drain.unionByName(capped).unionByName(quota).unionByName(stored)


def q_drain_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone bench cell for politeness_drain's 'capped' leg: the
    max_pages-budgeted drain alone (one engine run, stops after the
    truncated epoch 0)."""
    seeds = spark.range(0, _DRAIN_M, 1, 16).select(
        C._url_expr(F.col("id")).alias("url"),
        F.lit(0).alias("priority"),
        F.lit(0).alias("depth"),
        F.col("id").alias("seq"),
    )
    pages = materialized_pages(spark, _DRAIN_M)
    engine = CrawlEngine(
        spark, pages, robots=None, allowed_host_suffix=".example.com",
        epoch_seconds=_DRAIN_EPOCH_SECONDS,
    )
    res = engine.run(
        seeds, max_depth=1, politeness=True, max_epochs=4, max_pages=_DRAIN_CAP
    )
    return res.url_seen.select(
        "canonical_url", F.col("epoch_seen").cast("long").alias("epoch_seen")
    )


def q_drain_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone bench cell for politeness_drain's 'stored' leg: the
    budgeted multi-epoch drain with the frontier persisted per epoch as a
    host-bucketed parquet table and popped from it via the threshold pop
    (binding budgets — the hot host's 300-row overflow is deferred INTO
    the stored table at epoch 0 and popped back OUT of its scan at epoch
    1). Bit-identical to the in-memory 'drain' leg by design."""
    import os

    seeds = spark.range(0, _DRAIN_M, 1, 16).select(
        C._url_expr(F.col("id")).alias("url"),
        F.lit(0).alias("priority"),
        F.lit(0).alias("depth"),
        F.col("id").alias("seq"),
    )
    pages = materialized_pages(spark, _DRAIN_M)
    store = f"/tmp/sg_frontier_store_drain_{os.path.basename(sf_dir.rstrip('/'))}"
    engine = CrawlEngine(
        spark, pages, robots=None, allowed_host_suffix=".example.com",
        epoch_seconds=_DRAIN_EPOCH_SECONDS,
        frontier_store_dir=store,
    )
    res = engine.run(seeds, max_depth=1, politeness=True, max_epochs=4)
    return res.url_seen.select(
        "canonical_url", F.col("epoch_seen").cast("long").alias("epoch_seen")
    )


_HOST_QUOTA = 200


def q_drain_host_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone bench cell for politeness_drain's 'host_quota' leg: the
    per-host page-quota drain alone (epoch budgets clamped to remaining
    quota; ends on the first no-progress epoch)."""
    seeds = spark.range(0, _DRAIN_M, 1, 16).select(
        C._url_expr(F.col("id")).alias("url"),
        F.lit(0).alias("priority"),
        F.lit(0).alias("depth"),
        F.col("id").alias("seq"),
    )
    pages = materialized_pages(spark, _DRAIN_M)
    engine = CrawlEngine(
        spark, pages, robots=None, allowed_host_suffix=".example.com",
        epoch_seconds=_DRAIN_EPOCH_SECONDS,
    )
    res = engine.run(
        seeds, max_depth=1, politeness=True, max_epochs=4,
        max_pages_per_host=_HOST_QUOTA,
    )
    return res.url_seen.select(
        "canonical_url", F.col("epoch_seen").cast("long").alias("epoch_seen")
    )


def q_politeness_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-grain scheduling inputs, two tagged legs:
    'budget' — D3: per-host epoch budgets under crawl-delay + exponential
    backoff (operators/politeness.compute_budgets).
    'quality_prior' — the loop closure from the training-data layer back
    into the crawler (operators/politeness.host_quality_prior): per-host
    mean heuristic quality of the stored documents (fixed-pointed to 4
    digits BEFORE aggregation, exact integer sum DIV count), negated into
    the frontier's ascending priority so historically-high-quality hosts
    are crawled sooner.
    'keyword_prior' — best-first URL scoring (crawl4ai
    KeywordRelevanceScorer shape, functions/urls.best_first_priority):
    per-URL keyword-relevance milli-score negated into the ascending
    priority; host column carries the canonical URL (URL-grain leg).
    'rfc_allow' — RFC 9309 longest-match Allow/Disallow precedence
    (q_robots_rfc): host column carries the path, value the denied flag.
    'rfc_wildcard' (r4) — RFC 9309 §2.2.3 '*'/'$' wildcard rules under the
    same precedence (q_robots_wildcard): rules pre-compiled to (regex,
    specificity) structs, most octets govern, Allow wins ties.
    'composite_prior' — the weighted scorer family (q_composite_prior:
    keyword + path-depth + freshness + domain-authority → one priority).
    'template_guard' (r4) — dynamic trap detection (q_template_explosion):
    URLs per generalized family; host column carries the template, value
    its cardinality (the explosion flag is value > n/20 by construction).
    'domain_collapse' (r4) — registrable-domain politeness grain
    (q_domain_collapse): hostnames per eTLD+1; host column carries the
    domain, value the collapsed hostname count.
    'robots_status' (r4) — RFC 9309 §2.3.1 fetch-status semantics
    (sources/robots.robots_table_from_fetch): per status class the
    resulting rule posture — value 0 = open (4xx/empty 2xx), 1 = parsed
    rules (2xx with body), 2 = fully closed (5xx/unfetched/3xx-terminal).
    Schema (mode, host, value)."""
    hosts = spark.createDataFrame(
        [(f"h{h}.example.com",) for h in range(C.N_HOSTS)], "host string"
    )
    backoff = spark.createDataFrame(
        [(f"h{h}.example.com", h % 4) for h in range(C.N_HOSTS)],
        "host string, backoff_level int",
    )
    b = compute_budgets(hosts, gen_robots(spark), backoff).select(
        F.lit("budget").alias("mode"),
        "host",
        F.col("budget").cast("long").alias("value"),
    )
    qp = q_host_quality_prior(spark, sf_dir).select(
        F.lit("quality_prior").alias("mode"),
        "host",
        F.col("prio").cast("long").alias("value"),
    )
    kw = q_keyword_prior(spark, sf_dir).select(
        F.lit("keyword_prior").alias("mode"),
        F.col("canonical_url").alias("host"),
        F.col("priority").cast("long").alias("value"),
    )
    rfc = q_robots_rfc(spark, sf_dir).select(
        F.lit("rfc_allow").alias("mode"),
        F.col("path").alias("host"),
        F.col("denied").alias("value"),
    )
    wc = q_robots_wildcard(spark, sf_dir).select(
        F.lit("rfc_wildcard").alias("mode"),
        F.col("path").alias("host"),
        F.col("denied").alias("value"),
    )
    comp = q_composite_prior(spark, sf_dir).select(
        F.lit("composite_prior").alias("mode"),
        F.col("canonical_url").alias("host"),
        F.col("priority").cast("long").alias("value"),
    )
    tg = q_template_explosion(spark, sf_dir).select(
        F.lit("template_guard").alias("mode"),
        F.concat(F.col("host"), F.lit(" "), F.col("template")).alias("host"),
        F.col("n_urls").cast("long").alias("value"),
    )
    dc = q_domain_collapse(spark, sf_dir).select(
        F.lit("domain_collapse").alias("mode"),
        F.col("domain").alias("host"),
        F.col("n_hosts").cast("long").alias("value"),
    )
    rs = q_robots_status(spark, sf_dir).select(
        F.lit("robots_status").alias("mode"), "host", "value"
    )
    return (
        b.unionByName(qp)
        .unionByName(kw)
        .unionByName(rfc)
        .unionByName(wc)
        .unionByName(comp)
        .unionByName(tg)
        .unionByName(dc)
        .unionByName(rs)
    )


def q_host_quality_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone quality-prior leg (bench cell): per-host mean document
    quality → frontier priority prior, host = the doc's source domain."""
    from mcp_crawl4ai_rag_spark.functions.text import quality_score_expr
    from mcp_crawl4ai_rag_spark.operators.politeness import host_quality_prior

    docs = _docs(spark, sf_dir).select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        quality_score_expr(F.col("text")).alias("quality"),
    )
    return host_quality_prior(docs)


_RFC_ROBOTS_BODY = (
    "User-agent: *\n"
    "Disallow: /private\n"
    "Disallow: /p/1\n"
    "Allow: /private/p/1\n"
    "Allow: /p/12\n"
    "Crawl-delay: 2\n"
)


def q_robots_rfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 longest-match precedence (Allow vs Disallow) end-to-end:
    a literal robots.txt body parsed through the full-rules Arrow stage
    (sources/robots.parse_robots_rules), broadcast onto n synthetic paths,
    gated by operators/politeness.robots_denied_rfc_expr — among matching
    rule prefixes the longest governs, Allow wins ties, no match = allowed.
    The crossJoin is the 1-row broadcast-rules shape (rule tables are tiny;
    paths never shuffle)."""
    from mcp_crawl4ai_rag_spark.operators.politeness import robots_denied_rfc_expr
    from mcp_crawl4ai_rag_spark.sources.robots import parse_robots_rules

    bodies = spark.createDataFrame(
        [("h0.example.com", _RFC_ROBOTS_BODY)], "host string, body string"
    )
    rules = parse_robots_rules(bodies).drop("host")
    n = _lineitem_count(spark, sf_dir)
    paths = spark.range(0, n, 1, 16).select(
        F.when(
            F.col("id") % 3 == 0,
            F.concat(F.lit("/private/p/"), F.col("id").cast("string")),
        )
        .otherwise(F.concat(F.lit("/p/"), F.col("id").cast("string")))
        .alias("path")
    )
    return paths.crossJoin(F.broadcast(rules)).select(
        "path", robots_denied_rfc_expr().cast("long").alias("denied")
    )


_WILDCARD_ROBOTS_BODY = (
    "User-agent: *\n"
    "Disallow: /private\n"
    "Disallow: /p/*4$\n"
    "Allow: /p/*44$\n"
    "Disallow: /p/1*3\n"
    "Disallow: /p/*?sessionid=*\n"
)


def q_robots_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 section 2.2.3 wildcard rules end-to-end: a literal robots
    body with '*' / trailing-'$' rules parsed (sources/robots.
    parse_robots_rules), pre-compiled to (regex, specificity) structs once
    per host (compile_rule_patterns), broadcast onto n synthetic paths and
    gated by operators/politeness.robots_denied_wildcard_expr — most
    octets govern, Allow wins ties. Same 1-row broadcast-rules shape as
    q_robots_rfc; the per-URL work is regexp_like inside codegen."""
    from mcp_crawl4ai_rag_spark.operators.politeness import (
        robots_denied_wildcard_expr,
    )
    from mcp_crawl4ai_rag_spark.sources.robots import (
        compile_rule_patterns,
        parse_robots_rules,
    )

    bodies = spark.createDataFrame(
        [("h0.example.com", _WILDCARD_ROBOTS_BODY)], "host string, body string"
    )
    pats = compile_rule_patterns(parse_robots_rules(bodies)).drop("host")
    n = _lineitem_count(spark, sf_dir)
    # the RFC match target is path INCLUDING query — every 7th non-private
    # id carries a session-id query so the '/*?sessionid=*' rule (the
    # canonical real-world wildcard) is exercised
    ids = F.col("id").cast("string")
    paths = spark.range(0, n, 1, 16).select(
        F.when(
            F.col("id") % 3 == 0,
            F.concat(F.lit("/private/p/"), ids),
        )
        .when(
            F.col("id") % 7 == 1,
            F.concat(F.lit("/p/"), ids, F.lit("?sessionid="), ids),
        )
        .otherwise(F.concat(F.lit("/p/"), ids))
        .alias("path")
    )
    return paths.crossJoin(F.broadcast(pats)).select(
        "path", robots_denied_wildcard_expr().cast("long").alias("denied")
    )


_EXOTIC_HOSTS = [
    "deep.sub.example.net", "x.co.uk", "y.x.co.uk", "z.y.x.co.uk",
    "single", "10.0.0.1", "user.github.io", "a.user.github.io",
    "shop.com.au", "b.shop.com.au",
]


_ROBOTS_STATUS_FETCHES = [
    ("s200.example.com", 200, "User-agent: *\nDisallow: /private\n"),
    ("s200empty.example.com", 200, ""),
    ("s404.example.com", 404, None),
    ("s403.example.com", 403, None),
    ("s500.example.com", 500, None),
    ("s503.example.com", 503, None),
    ("snone.example.com", None, None),
    ("s301.example.com", 301, "User-agent: *\nDisallow: /x\n"),
]


def q_robots_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 §2.3.1 fetch-status leg: a literal per-status fetch table
    through robots_table_from_fetch; posture per host — 0 open, 1 parsed
    rules, 2 fully closed ('/' is the whole-site disallow)."""
    from mcp_crawl4ai_rag_spark.sources.robots import robots_table_from_fetch

    fetched = spark.createDataFrame(
        _ROBOTS_STATUS_FETCHES, "host string, status int, body string"
    )
    t = robots_table_from_fetch(fetched)
    posture = (
        F.when(F.size(F.col("disallow_prefixes")) == 0, F.lit(0))
        .when(
            (F.size(F.col("disallow_prefixes")) == 1)
            & (F.col("disallow_prefixes")[0] == "/"),
            F.lit(2),
        )
        .otherwise(F.lit(1))
    )
    return t.select("host", posture.cast("long").alias("value"))


def q_domain_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) politeness grain (functions/urls.
    registrable_domain): the n-scaled corpus hosts plus exotic literals
    collapse to their registered domains — the grain real crawlers
    throttle at ('a.example.com' and 'b.example.com' are one server farm).
    One codegen projection + a map-side-combinable groupBy(domain)."""
    from mcp_crawl4ai_rag_spark.functions.urls import registrable_domain

    n = _lineitem_count(spark, sf_dir)
    corpus = spark.range(0, n, 1, 16).select(
        url_host(C._url_expr(F.col("id"))).alias("host")
    )
    exotic = spark.createDataFrame([(h,) for h in _EXOTIC_HOSTS], "host string")
    return (
        corpus.unionByName(exotic)
        .groupBy(registrable_domain(F.col("host")).alias("domain"))
        .agg(F.count("*").alias("n_hosts"))
    )


def q_template_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic trap detection at frontier scale (operators/politeness.
    template_explosion over functions/urls.url_template): URLs per
    generalized family — template projection in codegen, one map-side-
    combinable groupBy whose shuffle payload is template strings, never
    URL rows; output is family-count bounded (8 families here at any n)."""
    from mcp_crawl4ai_rag_spark.operators.politeness import template_explosion

    n = _lineitem_count(spark, sf_dir)
    suffix = (
        F.when(F.col("id") % 5 == 1, F.lit("?utm_source=x&b=2&a=1#frag"))
        .when(F.col("id") % 5 == 2, F.lit("/file.pdf"))
        .when(F.col("id") % 5 == 3, F.lit("/sitemap.xml"))
        .when(F.col("id") % 5 == 4, F.lit("/readme.txt"))
        .otherwise(F.lit(""))
    )
    df = spark.range(0, n, 1, 16).select(
        F.concat(C._url_expr(F.col("id")), suffix).alias("canonical_url")
    )
    return template_explosion(df, max_urls_per_template=n // 20)


_BEST_FIRST_KEYWORDS = ["private", "readme", "sitemap"]


def q_keyword_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-first frontier scoring (crawl4ai KeywordRelevanceScorer /
    BestFirstCrawlingStrategy — the north star's "best-first" half):
    per-URL keyword-relevance milli-score negated into the frontier's
    ascending priority (functions/urls.best_first_priority). One codegen
    projection over the url_kernels 5-variant URL set; zero shuffle."""
    from mcp_crawl4ai_rag_spark.functions.urls import best_first_priority

    n = _lineitem_count(spark, sf_dir)
    suffix = (
        F.when(F.col("id") % 5 == 1, F.lit("#frag"))
        .when(F.col("id") % 5 == 2, F.lit("/file.pdf"))
        .when(F.col("id") % 5 == 3, F.lit("/sitemap.xml"))
        .when(F.col("id") % 5 == 4, F.lit("/readme.txt"))
        .otherwise(F.lit(""))
    )
    df = spark.range(0, n, 1, 16).select(
        F.concat(C._url_expr(F.col("id")), suffix).alias("url")
    )
    return df.select(
        canonical_url(F.col("url")).alias("canonical_url"),
        best_first_priority(F.col("url"), _BEST_FIRST_KEYWORDS).alias("priority"),
    )


def q_trap_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap guard at frontier scale (functions/urls.is_crawl_trap —
    Heritrix pathological-path + too-many-segments rules, param-count and
    length caps): every 7th URL decorated with one of the four trap shapes,
    the guard classifies the whole batch in one codegen projection (zero
    shuffle; the count() aggregate in the consumer is the only exchange)."""
    from mcp_crawl4ai_rag_spark.functions.urls import is_crawl_trap

    n = _lineitem_count(spark, sf_dir)
    suffix = (
        F.when(F.col("id") % 7 != 0, F.lit(""))
        .when(F.col("id") % 4 == 0, F.lit("/x/x/x/x"))
        .when(F.col("id") % 4 == 1, F.lit(_TRAP_DEEP_SUFFIX))
        .when(F.col("id") % 4 == 2, F.lit(_TRAP_PARAM_SUFFIX))
        .otherwise(F.concat(F.lit("/"), F.repeat(F.lit("z"), 2100)))
    )
    df = spark.range(0, n, 1, 16).select(
        F.concat(C._url_expr(F.col("id")), suffix).alias("url")
    )
    return df.groupBy(is_crawl_trap(F.col("url")).alias("is_trap")).count()


_COMPOSITE_NOW_YEAR = 2026
_COMPOSITE_DA = {"h0.example.com": 900, "h1.example.com": 700}


def q_composite_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full best-first scorer family composed (crawl4ai CompositeScorer
    over KeywordRelevance + PathDepth + Freshness + DomainAuthority,
    functions/urls.composite_priority): weighted integer mean of four
    milli-scores, negated into the frontier priority. One codegen
    projection over URLs with varied path depth, embedded years, and the
    corpus host mix; zero shuffle."""
    from mcp_crawl4ai_rag_spark.functions.urls import (
        composite_priority,
        domain_authority_milli,
        freshness_score_milli,
        keyword_relevance_milli,
        path_depth_score_milli,
    )

    n = _lineitem_count(spark, sf_dir)
    suffix = (
        F.when(F.col("id") % 4 == 1, F.lit("/docs/guide/deep"))
        .when(F.col("id") % 4 == 2, F.lit("/2019/post"))
        .when(F.col("id") % 4 == 3, F.lit("/2026/readme.txt"))
        .otherwise(F.lit(""))
    )
    df = spark.range(0, n, 1, 16).select(
        F.concat(C._url_expr(F.col("id")), suffix).alias("url")
    )
    u = F.col("url")
    prio = composite_priority(
        [
            (keyword_relevance_milli(u, _BEST_FIRST_KEYWORDS), 500),
            (path_depth_score_milli(u, 3), 250),
            (freshness_score_milli(u, _COMPOSITE_NOW_YEAR), 125),
            (domain_authority_milli(u, _COMPOSITE_DA, 500), 125),
        ]
    )
    return df.select(u.alias("canonical_url"), prio.alias("priority"))


def q_urlseen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: bloom-prefiltered anti-join membership over n synthetic URLs —
    running the SHARDED bloom build+probe (the 10^10-key deployment shape,
    operators/urlseen.build_bloom_sharded); lossless, so the oracle is the
    same exact set difference."""
    from mcp_crawl4ai_rag_spark.operators.urlseen import build_bloom_sharded

    n = _lineitem_count(spark, sf_dir)

    def urls_of(ids: DataFrame) -> DataFrame:
        u = C._url_expr(F.col("id"))
        return ids.select(u.alias("canonical_url"), url_hash(u).alias("url_hash"))

    cands = urls_of(spark.range(0, n, 1, 32))
    seen = urls_of(spark.range(0, n, 3, 32))
    bloom = build_bloom_sharded(seen, "url_hash", n_shards=8, expected=seen.count())
    return anti_join_seen(cands, seen, bloom).select("canonical_url")


def q_urlseen_cuckoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 with the CUCKOO prefilter (north_star's deletable membership
    filter): SHARDED distributed build through the fold every filter
    shares (pmod(hash, S) shard repartition, shard-sized local tables, each
    re-inserted into its slice of one CuckooFilter(n_shards=S) on the
    driver, O(capacity/S) per shard — so the 10^10-key build never
    materializes a monolithic table) + one-gather two-bucket probe.
    Lossless like the bloom (build raises on overflow), so the oracle is
    the identical exact set difference."""
    from mcp_crawl4ai_rag_spark.operators.urlseen import build_cuckoo_sharded

    n = _lineitem_count(spark, sf_dir) // 3

    def urls_of(ids: DataFrame) -> DataFrame:
        u = C._url_expr(F.col("id"))
        return ids.select(u.alias("canonical_url"), url_hash(u).alias("url_hash"))

    cands = urls_of(spark.range(0, n, 1, 32))
    seen = urls_of(spark.range(0, n, 3, 32))
    cuckoo = build_cuckoo_sharded(
        seen, "url_hash", n_shards=8, capacity=2 * (n // 3 + 1)
    )
    return anti_join_seen(cands, seen, cuckoo).select("canonical_url")


def _oracle_urlseen_cuckoo() -> str:
    return f"""
SELECT {C.oracle_url_sql('i')} AS canonical_url
FROM (SELECT unnest(generate_series(0, {N_SQL} // 3 - 1)) AS i)
WHERE i % 3 <> 0
"""


_GLOB_PATTERNS = ["*.txt", "*sitemap*", "*/private/*"]


_TRAP_DEEP_SUFFIX = "/" + "/".join(f"s{i}" for i in range(24))
_TRAP_PARAM_SUFFIX = "?" + "&".join(f"p{i:02d}=1" for i in range(1, 13))


def q_url_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F6 + C11: canonicalize / classify / host / path kernels, plus
    the URLPatternFilter glob kernel (functions/urls.url_pattern_match —
    any-of fnmatch-style patterns compiled to one rlike), strict
    canonicalization (functions/urls.canonical_url_strict — tracking-param
    strip + query sort; the %5==1 variant carries a utm-decorated
    unsorted query to exercise it), and the crawl-trap guard
    (functions/urls.is_crawl_trap — Heritrix pathological-path /
    too-many-segments rules + param-count and length caps): ids 2000-2399
    are trap-decorated (consecutive-repeat path, 24-deep path, 12-param
    query, 2100-char segment by id%4), every one a structural trap the
    reference would crawl forever."""
    from mcp_crawl4ai_rag_spark.functions.urls import (
        canonical_url_strict,
        is_crawl_trap,
        max_segment_run,
        url_pattern_match,
    )

    suffix = (
        F.when(
            F.col("id") >= 2000,
            F.when(F.col("id") % 4 == 0, F.lit("/x/x/x/x"))
            .when(F.col("id") % 4 == 1, F.lit(_TRAP_DEEP_SUFFIX))
            .when(F.col("id") % 4 == 2, F.lit(_TRAP_PARAM_SUFFIX))
            .otherwise(F.concat(F.lit("/"), F.repeat(F.lit("z"), 2100))),
        )
        .when(F.col("id") % 5 == 1, F.lit("?utm_source=x&b=2&a=1#frag"))
        .when(F.col("id") % 5 == 2, F.lit("/file.pdf"))
        .when(F.col("id") % 5 == 3, F.lit("/sitemap.xml"))
        .when(F.col("id") % 5 == 4, F.lit("/readme.txt"))
        .otherwise(F.lit(""))
    )
    df = spark.range(0, 2400, 1, 8).select(
        "id", F.concat(C._url_expr(F.col("id")), suffix).alias("url")
    )
    return df.select(
        "id",
        canonical_url(F.col("url")).alias("canonical_url"),
        url_host(F.col("url")).alias("host"),
        url_path(F.col("url")).alias("path"),
        is_binary_url(F.col("url")).cast("int").alias("is_binary"),
        classify_url(F.col("url")).alias("url_class"),
        url_pattern_match(F.col("url"), _GLOB_PATTERNS).cast("int").alias("glob_hit"),
        canonical_url_strict(F.col("url")).alias("strict_url"),
        max_segment_run(F.col("url")).alias("max_seg_run"),
        is_crawl_trap(F.col("url")).cast("int").alias("is_trap"),
    )


def q_sitemap_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap surfaces, two tagged legs:
    'expand' — S3: recursive sitemap-index expansion (gzip + XML inside
    Arrow batches) — flattened page-URL set of host 1's sitemap tree.
    'discovery' — sitemap AUTO-DISCOVERY from robots.txt ``Sitemap:``
    directives (sources/robots.parse_robots_sitemaps over the
    closed-form gen_robots_bodies corpus): how a 10^10-URL crawler finds
    the sitemaps the reference requires the caller to already know.
    'lastmod' — the ``<lastmod>`` recrawl signal (sources/sitemap.
    lastmod_age_priority): per-page age-days vs a fixed NOW, the
    freshness-at-discovery frontier priority; val carries it.
    'priority' (r4) — the ``<priority>`` owner hint (sources/sitemap.
    sitemap_priority_milli): inverted fixed-point milli so priority 1.0
    pops first under the ascending order; val carries it.
    'changefreq' (r4) — the ``<changefreq>`` recrawl-interval hint
    (sources/sitemap.changefreq_interval_hours, dup-min aggregate);
    val carries the hours. The sitemaps.org field trio is complete.
    Schema (mode, canonical_url, val)."""
    n = _lineitem_count(spark, sf_dir)
    # materialize: the per-level expansion joins would regenerate the
    # synthetic corpus (groupBy + gzip) once per depth level otherwise
    sitemaps = materialized_sitemaps(spark, n)
    ex = expand_sitemaps(
        spark, sitemaps, ["https://h1.example.com/sitemap_index.xml"]
    ).select(
        F.lit("expand").alias("mode"),
        F.col("url").alias("canonical_url"),
        F.lit(None).cast("long").alias("val"),
    )
    disc = q_robots_discovery(spark, sf_dir).select(
        F.lit("discovery").alias("mode"),
        F.col("sitemap_url").alias("canonical_url"),
        F.lit(None).cast("long").alias("val"),
    )
    lm = q_sitemap_lastmod(spark, sf_dir).select(
        F.lit("lastmod").alias("mode"), "canonical_url", "val"
    )
    pr = q_sitemap_priority(spark, sf_dir).select(
        F.lit("priority").alias("mode"), "canonical_url", "val"
    )
    cf = q_sitemap_changefreq(spark, sf_dir).select(
        F.lit("changefreq").alias("mode"), "canonical_url", "val"
    )
    return (
        ex.unionByName(disc).unionByName(lm).unionByName(pr).unionByName(cf)
    )


_LASTMOD_NOW = "2026-03-01"


def q_sitemap_lastmod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone lastmod leg (bench cell): host 1's sitemap tree expanded
    WITH the <lastmod> signal, aged into a freshness frontier priority."""
    from mcp_crawl4ai_rag_spark.sources.sitemap import lastmod_age_priority

    n = _lineitem_count(spark, sf_dir)
    sitemaps = materialized_sitemaps(spark, n)
    return expand_sitemaps(
        spark, sitemaps, ["https://h1.example.com/sitemap_index.xml"],
        with_lastmod=True,
    ).select(
        F.col("url").alias("canonical_url"),
        lastmod_age_priority("lastmod", _LASTMOD_NOW).cast("long").alias("val"),
    )


def q_sitemap_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone priority leg (bench cell): host 1's sitemap tree expanded
    WITH the <priority> owner hint, inverted to the ascending frontier
    milli-priority (sources/sitemap.sitemap_priority_milli)."""
    from mcp_crawl4ai_rag_spark.sources.sitemap import sitemap_priority_milli

    n = _lineitem_count(spark, sf_dir)
    sitemaps = materialized_sitemaps(spark, n)
    return expand_sitemaps(
        spark, sitemaps, ["https://h1.example.com/sitemap_index.xml"],
        with_priority=True,
    ).select(
        F.col("url").alias("canonical_url"),
        sitemap_priority_milli("priority").cast("long").alias("val"),
    )


def q_sitemap_changefreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone changefreq leg (bench cell): host 1's sitemap tree
    expanded WITH the <changefreq> hint mapped to recrawl-interval hours
    (dup-min aggregate — the most frequent claim wins)."""
    n = _lineitem_count(spark, sf_dir)
    sitemaps = materialized_sitemaps(spark, n)
    return expand_sitemaps(
        spark, sitemaps, ["https://h1.example.com/sitemap_index.xml"],
        with_changefreq=True,
    ).select(
        F.col("url").alias("canonical_url"),
        F.col("changefreq_hours").cast("long").alias("val"),
    )


def q_robots_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone discovery leg (bench cell): robots bodies → discovered
    (host, sitemap_url) rows."""
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_robots_bodies
    from mcp_crawl4ai_rag_spark.sources.robots import parse_robots_sitemaps

    return parse_robots_sitemaps(gen_robots_bodies(spark))


def q_smart_crawl_sitemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship dispatch (smart_crawl_url): sitemap classify → expand →
    prefix filter → robots-gated batch fetch; returns fetched page URLs."""
    n = _lineitem_count(spark, sf_dir)
    res = smart_crawl(
        spark,
        "https://h1.example.com/sitemap_index.xml",
        pages=materialized_pages(spark, n),
        sitemaps=materialized_sitemaps(spark, n),
        robots=gen_robots(spark),
    )
    return res.fetched.select("canonical_url")


def q_smart_crawl_webpage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webpage dispatch path: recursive internal-link crawl bounded by an
    explicit prefix (F4) — all of host 0 under '/p', private paths scheduled
    (they match the prefix) but robots-denied at fetch."""
    n = _lineitem_count(spark, sf_dir)
    res = smart_crawl(
        spark,
        "https://h0.example.com/p/4",
        pages=materialized_pages(spark, n),
        robots=gen_robots(spark),
        max_depth=CRAWL_DEPTH,
        prefix="https://h0.example.com/p",
    )
    return res.url_seen.select(
        "canonical_url", F.col("depth").cast("long").alias("depth")
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K2 + HTML→markdown extraction (r4), three tagged legs:

    - ``doc``: greedy chunker (200-char windows) + per-chunk section stats
      over the documents table (the original gate).
    - ``html_md``: the extraction operator itself — gen_html_pages renders
      raw HTML from closed-form id formulas; functions/html.html_to_markdown
      (Arrow-batched projection) converts it; the oracle restates the
      expected markdown character-for-character in SQL. Covers the pipeline
      stage the reference delegates to crawl4ai's DefaultMarkdownGenerator
      (src/crawl4ai_mcp.py:948,1016).
    - ``html_chunk``: the composed path — the extracted markdown fed
      through the SAME chunker+section-info pipeline (chunk_size=800; the
      synthetic page is provably < 800 chars, so exactly one chunk equal to
      the stripped markdown, keeping the oracle closed-form).
    - ``warc`` (r4): the Common Crawl ingestion path — the SAME pages
      archived as deterministic WARC/1.0 blobs (sources/corpus.
      gen_warc_blobs: warcinfo + skippable request records, 404s for down
      pages, every 3rd blob gzipped), content-length-framed parse
      (sources/warc.parse_warc), 200s only, then the SAME extraction
      kernel; the oracle is the mdq closed form minus the down pages, so
      bytes→records→HTTP→markdown is hash-verified end-to-end.
    """
    from mcp_crawl4ai_rag_spark.functions.html import extract_markdown
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_html_pages, gen_warc_blobs
    from mcp_crawl4ai_rag_spark.sources.warc import parse_warc

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    chunks = explode_chunks(docs, text_col="text", chunk_size=200)
    chunks = with_section_info(chunks, "content")
    leg_doc = chunks.select(
        F.lit("doc").alias("leg"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("chunk_number").cast("long").alias("chunk_number"),
        "content",
        F.col("char_count").cast("long").alias("char_count"),
        F.col("word_count").cast("long").alias("word_count"),
    )
    n = max(_lineitem_count(spark, sf_dir) // 30, 100)
    md = extract_markdown(gen_html_pages(spark, n), "raw_html", "markdown")
    leg_md = md.select(
        F.lit("html_md").alias("leg"),
        F.col("url").alias("key"),
        F.lit(0).cast("long").alias("chunk_number"),
        F.col("markdown").alias("content"),
        F.length("markdown").cast("long").alias("char_count"),
        F.size(F.regexp_extract_all(F.col("markdown"), F.lit(r"\S+"), 0))
        .cast("long")
        .alias("word_count"),
    )
    hchunks = with_section_info(
        explode_chunks(
            md.select("url", "markdown"), text_col="markdown", chunk_size=800
        ),
        "content",
    )
    leg_hc = hchunks.select(
        F.lit("html_chunk").alias("leg"),
        F.col("url").alias("key"),
        F.col("chunk_number").cast("long").alias("chunk_number"),
        "content",
        F.col("char_count").cast("long").alias("char_count"),
        F.col("word_count").cast("long").alias("word_count"),
    )
    wmd = extract_markdown(
        parse_warc(gen_warc_blobs(spark, n))
        .where(F.col("status") == 200)
        .select("url", "html"),
        "html",
        "markdown",
    )
    leg_warc = wmd.select(
        F.lit("warc").alias("leg"),
        F.col("url").alias("key"),
        F.lit(0).cast("long").alias("chunk_number"),
        F.col("markdown").alias("content"),
        F.length("markdown").cast("long").alias("char_count"),
        F.size(F.regexp_extract_all(F.col("markdown"), F.lit(r"\S+"), 0))
        .cast("long")
        .alias("word_count"),
    )
    return (
        leg_doc.unionByName(leg_md).unionByName(leg_hc).unionByName(leg_warc)
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only leg: HTML→markdown extraction throughput — one Arrow
    projection over the raw-html corpus, reduced to a scalar so the bench
    times the full conversion, not result materialization."""
    from mcp_crawl4ai_rag_spark.functions.html import extract_markdown
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_html_pages

    n = max(_lineitem_count(spark, sf_dir) // 3, 100)
    md = extract_markdown(gen_html_pages(spark, n), "raw_html", "markdown")
    return md.select(
        F.count("*").cast("long").alias("n_pages"),
        F.sum(F.length("markdown")).cast("long").alias("total_chars"),
    )


def q_extraction_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-QUALITY harness (r5): precision/recall of the
    HTML→markdown converter + corpus-level boilerplate strip against
    PLANTED ground truth (sources/corpus.gen_boiler_html_pages — the
    neardup_recall precedent applied to extraction). Two stages per page:

    - 'extract': after html→markdown alone, both unique MAIN markers must
      survive (recall 2/2) and exactly the 4 TEXT-boilerplate markers
      (nav link, cookie banner, social bar, footer — real text the
      converter cannot know is junk) survive while all 3 CODE markers
      (script body, comment, onclick attribute) are gone (bp_kept 4/7);
    - 'clean': after strip_boilerplate (per-host line-frequency pass),
      main recall stays 2/2 and EVERY boilerplate marker is gone
      (bp_kept 0/7) — extraction quality is exact end-to-end.

    Any converter or strip regression (nav soup leaking, main paragraph
    eaten, attribute payload surfacing) changes a count and hash-fails.
    Schema (stage, url, main_kept, bp_kept)."""
    from mcp_crawl4ai_rag_spark.functions.html import extract_markdown
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import strip_boilerplate
    from mcp_crawl4ai_rag_spark.sources.corpus import (
        BOILER_CODE_MARKERS,
        BOILER_MAIN_MARKERS,
        BOILER_TEXT_MARKERS,
        N_BOILER_HOSTS,
        gen_boiler_html_pages,
    )

    n = max(_lineitem_count(spark, sf_dir) // 30, 100)
    pages = gen_boiler_html_pages(spark, n)
    md = extract_markdown(pages, "raw_html", "markdown")
    clean = strip_boilerplate(
        md.select("url", "host", "markdown"),
        id_col="url",
        host_col="host",
        text_col="markdown",
    )

    def marker(tpl, i, h):
        if "{i}" in tpl:
            a, b = tpl.split("{i}")
            return F.concat(F.lit(a), i, F.lit(b))
        a, b = tpl.split("{h}")
        return F.concat(F.lit(a), h, F.lit(b))

    def counts(df, text_col, stage):
        i = F.regexp_extract(F.col("url"), r"/art/([0-9]+)$", 1)
        h = (i.cast("long") % N_BOILER_HOSTS).cast("string")
        t = F.col(text_col)
        main_kept = sum(
            (F.instr(t, marker(m, i, h)) > 0).cast("int")
            for m in BOILER_MAIN_MARKERS
        )
        bp_kept = sum(
            (F.instr(t, marker(m, i, h)) > 0).cast("int")
            for m in BOILER_TEXT_MARKERS + BOILER_CODE_MARKERS
        )
        return df.select(
            F.lit(stage).alias("stage"),
            "url",
            main_kept.cast("long").alias("main_kept"),
            bp_kept.cast("long").alias("bp_kept"),
        )

    return counts(md, "markdown", "extract").unionByName(
        counts(clean, "clean", "clean")
    )


def _oracle_extraction_quality() -> str:
    url = f"'https://b' || (i % {5}) || '.example.com/art/' || i"
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {_HTML_N_SQL} - 1)) AS i)
SELECT 'extract' AS stage, {url} AS url,
       CAST(2 AS BIGINT) AS main_kept, CAST(4 AS BIGINT) AS bp_kept
FROM ids
UNION ALL
SELECT 'clean', {url}, CAST(2 AS BIGINT), CAST(0 AS BIGINT)
FROM ids
"""


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only leg: WARC archive ingestion throughput — render-once
    (the generator is itself a grouped Arrow stage), then the
    content-length-framed parse fans blobs out to response rows; reduced
    to scalars so the bench times parsing, not materialization."""
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_warc_blobs
    from mcp_crawl4ai_rag_spark.sources.warc import parse_warc

    n = max(_lineitem_count(spark, sf_dir) // 3, 100)
    parsed = parse_warc(gen_warc_blobs(spark, n))
    return parsed.select(
        F.count("*").cast("long").alias("n_records"),
        F.sum((F.col("status") == 200).cast("long")).alias("n_ok"),
        F.sum(F.length("html")).cast("long").alias("total_chars"),
    )


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 + token counting: ws tokens, BPE-ish tokens, punctuation."""
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length(t).cast("long").alias("char_count"),
        token_count_ws(t).cast("long").alias("ws_tokens"),
        token_count_bpe(t).cast("long").alias("bpe_tokens"),
        punct_count(t).cast("long").alias("punct_chars"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via stopword-hit argmax."""
    return _docs(spark, sf_dir).select(
        "doc_id", lang_id_expr(F.col("text")).alias("lang_pred")
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring."""
    return _docs(spark, sf_dir).select(
        "doc_id", quality_score_expr(F.col("text")).alias("quality")
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint groups."""
    return exact_dedup_groups(_docs(spark, sf_dir))


def q_sources_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: distinct sources, sorted, limit 1000."""
    return available_sources(_docs(spark, sf_dir))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs with exact Jaccard verify."""
    return minhash_lsh_pairs(_docs2(spark, sf_dir))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3, pigeonhole banding)."""
    return simhash_pairs(_docs2(spark, sf_dir)).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: the existing corpus's LSH bands are
    persisted once (minhash_write_index); the increment batch (the +1M
    twins) band-joins against that index without recomputing corpus
    signatures. Must equal the full self-join restricted to the
    old×new boundary — which is exactly what the oracle computes."""
    import tempfile

    from mcp_crawl4ai_rag_spark.operators.dedup import (
        minhash_pairs_incremental,
        minhash_write_index,
    )

    old = _spread(_docs(spark, sf_dir).select("doc_id", "text"))
    new = old.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 21)").alias("text"),
    )
    idx = tempfile.mkdtemp(prefix="mh_idx_gate_") + "/bands"
    minhash_write_index(old, idx)
    return minhash_pairs_incremental(spark, idx, old, new)


def _oracle_minhash_incremental() -> str:
    return f"""
WITH {_DOCS2_SQL.strip()},
{_minhash_pairs_ctes('docs2')},
pairs AS ({_PAIRS_SELECT_SQL.strip()})
SELECT id_a, id_b, jaccard FROM pairs
WHERE id_a < 1000000 AND id_b >= 1000000
"""


_RS_K = 20


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication pass (Lee et al. 2021 shape): maximal
    token spans covered by globally-repeated 20-token windows, over the
    docs2 corpus whose +1M twins share their whole suffix with the
    originals."""
    from mcp_crawl4ai_rag_spark.operators.dedup import repeated_spans

    return repeated_spans(_docs2(spark, sf_dir), k=_RS_K).select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_windows").cast("long").alias("n_windows"),
    )


def _oracle_repeated_spans() -> str:
    from mcp_crawl4ai_rag_spark.functions.hashing import sql_md5int64

    k = _RS_K
    wh = sql_md5int64(f"'rs:' || array_to_string(toks[i + 1:i + {k}], ' ')")
    return f"""
WITH {_DOCS2_SQL.strip()},
w AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{_WS_RE}') AS toks
    FROM docs2
),
wins AS (
    SELECT doc_id, t.i AS pos, {wh} AS wh
    FROM (SELECT * FROM w WHERE len(toks) >= {k}) w,
         unnest(generate_series(0, len(w.toks) - {k})) t(i)
),
dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) >= 2),
dp AS (SELECT doc_id, pos FROM wins WHERE wh IN (SELECT wh FROM dup)),
marked AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                     <= {k} THEN 0 ELSE 1 END AS nw
    FROM dp
),
sp AS (
    SELECT doc_id, pos,
           SUM(COALESCE(nw, 1)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
    FROM marked
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {k} AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM sp GROUP BY doc_id, span
"""


def q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply step of exact-substring dedup: excise every repeated-window
    span found by the detector and rebuild the text (docs without spans
    pass through byte-identical)."""
    from mcp_crawl4ai_rag_spark.operators.dedup import (
        remove_spans,
        repeated_spans,
    )

    docs = _docs2(spark, sf_dir)
    spans = repeated_spans(docs, k=_RS_K)
    return remove_spans(docs, spans).select(
        "doc_id",
        F.md5("clean").alias("clean_md5"),
        F.col("n_tokens_removed").cast("long").alias("n_tokens_removed"),
    )


def _oracle_span_removal() -> str:
    inner = _oracle_repeated_spans().strip()
    return f"""
WITH {_DOCS2_SQL.strip()},
spans AS ({inner}),
toks AS (
    SELECT doc_id, t.i AS pos,
           (regexp_extract_all(text, '{_WS_RE}'))[t.i + 1] AS tok
    FROM docs2,
         unnest(generate_series(0, len(regexp_extract_all(text, '{_WS_RE}')) - 1)) t(i)
),
removed AS (
    SELECT DISTINCT t.doc_id, t.pos
    FROM toks t JOIN spans s
      ON s.doc_id = t.doc_id
     AND t.pos >= s.span_start AND t.pos < s.span_end
),
kept AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM toks t LEFT JOIN removed r
      ON r.doc_id = t.doc_id AND r.pos = t.pos
    WHERE r.pos IS NULL
),
rebuilt AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean
    FROM kept GROUP BY doc_id
),
nrem AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS nr FROM removed GROUP BY doc_id
)
SELECT d.doc_id,
       md5(CASE WHEN COALESCE(nrem.nr, 0) > 0
                THEN COALESCE(rebuilt.clean, '')
                ELSE d.text END) AS clean_md5,
       COALESCE(nrem.nr, 0) AS n_tokens_removed
FROM docs2 d
LEFT JOIN rebuilt ON rebuilt.doc_id = d.doc_id
LEFT JOIN nrem ON nrem.doc_id = d.doc_id
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster formation, three tagged legs behind one gate:
    'minhash' — MinHash+LSH pair graph (jaccard ≥ 0.5) → hash-min connected
    components → canonical keep-list over the docs3 planted-chain corpus;
    'quality' — the SAME components through the quality-aware keeper
    (operators/components.best_member_keep): each cluster keeps its
    highest-token-count member (ties → lowest id) — the rule production
    dedup ships instead of an arbitrary canonical member; 'semantic' —
    SemDeDup (Abbas et al. 2023, arXiv:2303.09540) over the closed-form
    embedding corpus with planted twins: trained k-means clusters,
    within-cluster cosine pairs, keep = least-centroid-similar group
    member (see :func:`q_semdedup`). Schema
    (mode, doc_id, component_id, kept, score) — score is the semantic
    leg's 4dp centroid cosine, the quality leg's token count, 0.0 on the
    minhash leg."""
    from mcp_crawl4ai_rag_spark.functions.text import token_count_ws
    from mcp_crawl4ai_rag_spark.operators.components import best_member_keep

    docs = _docs3(spark, sf_dir)
    edges = minhash_lsh_pairs(
        docs, min_jaccard=_COMPONENTS_MIN_JACCARD
    ).select("id_a", "id_b")
    comps = connected_components(
        edges, vertices=docs.select("doc_id")
    )
    kept_ids = canonical_docs(docs, comps).select(
        "doc_id", F.lit(True).alias("kept")
    )
    mh = comps.join(kept_ids, "doc_id", "left").select(
        F.lit("minhash").alias("mode"),
        "doc_id",
        "component_id",
        F.coalesce(F.col("kept"), F.lit(False)).alias("kept"),
        F.lit(0.0).alias("score"),
    )
    qual = best_member_keep(
        docs, comps, token_count_ws(F.col("text")).cast("long")
    ).select(
        F.lit("quality").alias("mode"),
        "doc_id",
        "component_id",
        "kept",
        F.col("quality").cast("double").alias("score"),
    )
    sem = q_semdedup(spark, sf_dir).select(
        F.lit("semantic").alias("mode"),
        F.col("vec_id").alias("doc_id"),
        "component_id",
        F.col("keep").alias("kept"),
        F.col("cent_sim").alias("score"),
    )
    return mh.unionByName(qual).unionByName(sem)


def q_embed_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cache: a corpus where every doc appears 3× must embed only
    the distinct third, and the cached result must equal the direct
    embed-everything path vector-for-vector (compared Spark-side; the
    oracle pins the closed-form counts and zero mismatches)."""
    from mcp_crawl4ai_rag_spark.functions.embedding import (
        with_embeddings,
        with_embeddings_cached,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    d3 = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        docs.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    direct = with_embeddings(d3, "text", dim=64).select(
        "doc_id", F.col("embedding").alias("e_direct")
    )
    cached = with_embeddings_cached(d3, "text", dim=64).select(
        "doc_id", F.col("embedding").alias("e_cached")
    )
    cmp = direct.join(cached, "doc_id")
    return cmp.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct(F.md5(F.col("e_direct").cast("string")))
        .cast("long")
        .alias("n_unique_vectors"),
        F.sum(
            (F.col("e_direct") != F.col("e_cached")).cast("int")
        ).cast("long").alias("n_mismatch"),
    )


def _oracle_embed_cache() -> str:
    return f"""
SELECT CAST(3 * count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT text) AS BIGINT) AS n_unique_vectors,
       CAST(0 AS BIGINT) AS n_mismatch
FROM documents
"""


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal, three tagged legs behind one gate:
    'hostfreq' — host-level line-frequency stripping
    (operators/corpus_ops.strip_boilerplate): a nav header and footer
    planted on every page of each source must be detected (appear on
    100% ≥ 50% of the host's pages) and stripped, leaving exactly the
    original body — closed-form for the oracle; 'paragraph' — CCNet-style
    corpus-GLOBAL paragraph dedup (operators/corpus_ops.paragraph_dedup,
    Wenzek et al. 2020 §3.1): over a deterministic multi-paragraph corpus
    (a shared announcement on even docs, a per-source promo line, the doc
    body split around a blank line), only the first (doc_id, idx)
    occurrence of each paragraph survives corpus-wide, empty lines exempt
    — the oracle re-derives the whole pipeline in SQL; 'c4' — the C4
    heuristic line/page cleaner (operators/corpus_ops.c4_clean, Raffel et
    al. 2020 §2.2): over a corpus with one planted line per rule (short
    line, no-terminal-punct line, javascript line, lorem-ipsum page every
    11th doc, brace/code page every 13th doc), dropped lines are excised
    and dropped PAGES are absent from the output entirely — both visible
    to the row-count+hash compare. Schema
    (mode, doc_id, source, clean_md5, n_removed)."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        paragraph_dedup,
        strip_boilerplate,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.expr(
            "concat('NAV ', source, ' | HOME | ABOUT', '\n', text, "
            "'\n', 'FOOTER (c) ', source)"
        ).alias("text"),
    )
    out = strip_boilerplate(docs, min_host_pages=3, frac_threshold=0.5)
    host = out.select(
        F.lit("hostfreq").alias("mode"),
        "doc_id",
        "source",
        F.md5("clean").alias("clean_md5"),
        "n_removed",
    )

    pdocs = _para_corpus(spark, sf_dir)
    para = q_paragraph_dedup(spark, sf_dir).join(
        pdocs.select("doc_id", "source"), "doc_id"
    ).select(
        F.lit("paragraph").alias("mode"),
        "doc_id",
        "source",
        F.md5("clean").alias("clean_md5"),
        "n_removed",
    )

    c4 = q_c4_clean(spark, sf_dir).select(
        F.lit("c4").alias("mode"),
        "doc_id",
        "source",
        F.md5("text").alias("clean_md5"),
        "n_removed",
    )
    return host.unionByName(para).unionByName(c4)


def _c4_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus for the C4 leg — one planted line per C4 rule
    (all restated verbatim in the oracle's `d` CTE): two good sentences
    framing the body, a < 5-word line, a no-terminal-punctuation line, a
    javascript line, a lorem-ipsum page marker on every 11th doc, and a
    brace/code page marker on every 13th doc."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.expr(
            "concat_ws(char(10), "
            "'This is a good first sentence with plenty of words.', "
            "concat('Body says ', substring(text, 1, 80), ' and then some.'), "
            "'Short line.', "
            "'no terminal punctuation on this line at all', "
            "'Please enable javascript to view this page today.', "
            "CASE WHEN doc_id % 11 = 0"
            " THEN 'Lorem ipsum dolor sit amet sits here quietly.'"
            " ELSE 'A normal filler sentence sits here quietly instead.' END, "
            "CASE WHEN doc_id % 13 = 0"
            " THEN 'function f() { return 1; }'"
            " ELSE 'Closing remarks end the document right here.' END"
            ")"
        ).alias("text"),
    )


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone C4-cleaner leg (bench cell + the gate's third leg):
    line filtering + page removal over the planted-rule corpus."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import c4_clean

    return c4_clean(_spread(_c4_corpus(spark, sf_dir)))


def _para_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-paragraph corpus for the paragraph-dedup leg: a
    shared announcement paragraph on even docs, the doc body split around
    a blank line, a per-source promo line — all restated verbatim in the
    oracle's `d` CTE."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.expr(
            "concat("
            "CASE WHEN doc_id % 2 = 0"
            " THEN concat('ANNOUNCE WIDGET SALE', char(10)) ELSE '' END, "
            "substring(text, 1, 60), char(10), char(10), "
            "'PROMO ', source, char(10), substring(text, 61))"
        ).alias("text"),
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone paragraph-dedup leg (bench cell + the gate's second
    leg): corpus-global first-occurrence paragraph dedup."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import paragraph_dedup

    return paragraph_dedup(
        _spread(_para_corpus(spark, sf_dir).select("doc_id", "text"))
    )


def _oracle_boilerplate_strip() -> str:
    sel = "doc_id, source, clean_md5, n_removed"
    host = """
SELECT doc_id, source, md5(text) AS clean_md5, CAST(2 AS BIGINT) AS n_removed
FROM documents
"""
    # winner key doc_id*10^6+idx ≡ lexicographic (doc_id, idx): idx < 10^6
    para = """
WITH d AS (
  SELECT doc_id, source,
         (CASE WHEN doc_id % 2 = 0
               THEN 'ANNOUNCE WIDGET SALE' || chr(10) ELSE '' END)
         || substr(text, 1, 60) || chr(10) || chr(10)
         || 'PROMO ' || source || chr(10) || substr(text, 61) AS t
  FROM documents
),
sp AS (SELECT doc_id, source, string_split(t, chr(10)) AS ps FROM d),
paras AS (
  SELECT doc_id, source, i - 1 AS idx, ps[i] AS para
  FROM sp, unnest(generate_series(1, len(ps))) t2(i)
),
win AS (
  SELECT md5(para) AS h, min(doc_id * 1000000 + idx) AS wkey
  FROM paras GROUP BY md5(para)
),
k AS (
  SELECT p.doc_id, p.source, p.idx, p.para,
         (p.para = '' OR p.doc_id * 1000000 + p.idx = w.wkey) AS kept
  FROM paras p JOIN win w ON md5(p.para) = w.h
)
SELECT doc_id, source,
       md5(COALESCE(
         string_agg(para, chr(10) ORDER BY idx) FILTER (WHERE kept), ''
       )) AS clean_md5,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM k GROUP BY doc_id, source
"""
    return (
        _tagged(host, f"'hostfreq' AS mode, {sel}")
        + "\nUNION ALL\n"
        + _tagged(para, f"'paragraph' AS mode, {sel}")
        + "\nUNION ALL\n"
        + _tagged(_oracle_c4_leg(), f"'c4' AS mode, {sel}")
    )


def _oracle_c4_leg() -> str:
    """DuckDB twin of the C4 cleaner over the planted-rule corpus: the
    line predicate restates functions/text.c4_line_keep_expr's exact
    regexes/thresholds, and the page predicates (≥ 3 kept lines, no
    'lorem ipsum', no brace) drop whole rows just like the engine."""
    from mcp_crawl4ai_rag_spark.functions.text import (
        C4_LINE_BADWORD,
        C4_MIN_KEPT_LINES,
        C4_MIN_LINE_WORDS,
        C4_PAGE_DROP_LOREM,
        C4_TERMINAL_RE,
    )

    return f"""
WITH d AS (
  SELECT doc_id, source,
         concat_ws(chr(10),
           'This is a good first sentence with plenty of words.',
           'Body says ' || substr(text, 1, 80) || ' and then some.',
           'Short line.',
           'no terminal punctuation on this line at all',
           'Please enable javascript to view this page today.',
           CASE WHEN doc_id % 11 = 0
                THEN 'Lorem ipsum dolor sit amet sits here quietly.'
                ELSE 'A normal filler sentence sits here quietly instead.' END,
           CASE WHEN doc_id % 13 = 0
                THEN 'function f() {{ return 1; }}'
                ELSE 'Closing remarks end the document right here.' END
         ) AS text
  FROM documents
),
flt AS (
  SELECT doc_id, source, text,
         list_filter(string_split(text, chr(10)), x ->
             regexp_matches(x, '{C4_TERMINAL_RE}')
             AND len(regexp_extract_all(x, '{_WS_RE}')) >= {C4_MIN_LINE_WORDS}
             AND NOT contains(lower(x), '{C4_LINE_BADWORD}')) AS kept,
         len(string_split(text, chr(10))) AS n_lines
  FROM d
)
SELECT doc_id, source,
       md5(array_to_string(kept, chr(10))) AS clean_md5,
       CAST(n_lines - len(kept) AS BIGINT) AS n_removed
FROM flt
WHERE len(kept) >= {C4_MIN_KEPT_LINES}
  AND NOT contains(lower(text), '{C4_PAGE_DROP_LOREM}')
  AND NOT contains(text, '{{')
"""


_MIX_RATES = {"src0": 0.0, "src1": 0.25, "src2": 0.5, "src3": 1.0}
_MIX_DEFAULT = 0.75


_TMIX_ALPHA = 0.3
# skewed closed-form source buckets over doc_id%16 — 8:4:2:1:1, so the
# α-tempered rates genuinely downsample the head ('web') and upsample the
# tail ('wiki'/'ref' land above rate 2 → duplicated rows)
_TMIX_CASES = (("web", 8), ("books", 12), ("code", 14), ("wiki", 15))


def _tmix_source_expr():
    m = F.pmod(F.col("doc_id"), F.lit(16))
    out = None
    for name, bound in _TMIX_CASES:
        cond = m < bound
        out = F.when(cond, name) if out is None else out.when(cond, name)
    return out.otherwise("ref")


def _tmix_source_sql() -> str:
    whens = " ".join(
        f"WHEN doc_id % 16 < {b} THEN '{n}'" for n, b in _TMIX_CASES
    )
    return f"CASE {whens} ELSE 'ref' END"


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing, two tagged legs (pretraining data recipes):
    'fixed' — explicit per-source rates (src0 dropped, src1 at 25%, src2 at
    50%, src3 fully, 75% default); 'temperature' — mT5/PaLM α-tempered
    re-balance (operators/corpus_ops.temperature_mix, α=0.3) over skewed
    closed-form source buckets: the engine measures the histogram, derives
    p_s ∝ n_s^α rates, downsamples the head and upsamples the tail by
    deterministic duplication. Schema (mode, doc_id, source); upsampled
    rows appear with multiplicity."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        mix_corpus,
        temperature_mix,
    )

    fixed = mix_corpus(
        _docs(spark, sf_dir).select("doc_id", "source"),
        _MIX_RATES,
        default_rate=_MIX_DEFAULT,
    ).select(F.lit("fixed").alias("mode"), "doc_id", "source")
    tdocs = _docs(spark, sf_dir).select(
        "doc_id", _tmix_source_expr().alias("source")
    )
    temp = temperature_mix(tdocs, _TMIX_ALPHA).select(
        F.lit("temperature").alias("mode"), "doc_id", "source"
    )
    # 'budget' leg: token-granularity sampling — keep whole docs in
    # hash-shuffled order until each source's token budget is exhausted
    # (src0 budget 0 = dropped, src1 effectively unlimited, 2000 default)
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import token_budget_sample

    tb = (
        token_budget_sample(
            _docs(spark, sf_dir).select("doc_id", "source", "text"),
            _TB_BUDGETS,
            default_budget=_TB_DEFAULT,
        )
        .where("keep")
        .select(F.lit("budget").alias("mode"), "doc_id", "source")
    )
    return fixed.unionByName(temp).unionByName(tb)


_TB_BUDGETS = {"src0": 0, "src1": 1_000_000_000}
_TB_DEFAULT = 2000


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone token-budget leg (bench cell): full output incl. the
    cum_before accounting and drop decisions."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import token_budget_sample

    return token_budget_sample(
        _docs(spark, sf_dir).select("doc_id", "source", "text"),
        _TB_BUDGETS,
        default_budget=_TB_DEFAULT,
    )


def _oracle_corpus_mix() -> str:
    """'fixed' restates the literal rate CASE; 'temperature' reads the SAME
    histogram the engine measures (DuckDB over the sf parquet — the
    rag_pipeline builder precedent) and calls the SAME
    temperature_rates(), so the injected rate doubles are bit-identical to
    the ones the engine derives from its Spark-side histogram; the
    duplication arithmetic (floor + fractional-hash threshold) is restated
    over a bounded numbers table."""
    import os

    import duckdb

    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        sql_split_fraction,
        temperature_rates,
    )

    frac = sql_split_fraction("doc_id", "mix")
    whens = " ".join(
        f"WHEN source = '{s}' THEN {r!r}" for s, r in _MIX_RATES.items()
    )
    fixed = f"""
SELECT 'fixed' AS mode, doc_id, source
FROM documents
WHERE {frac} < (CASE {whens} ELSE {_MIX_DEFAULT!r} END)
"""
    sf_dir = os.environ.get(_ORACLE_SF_DIR_ENV, _ORACLE_SF_DIR_DEFAULT)
    con = duckdb.connect()
    hist = con.execute(
        f"SELECT {_tmix_source_sql()} AS source, count(*) AS n "
        f"FROM '{sf_dir}/documents.parquet' GROUP BY 1"
    ).fetchall()
    con.close()
    rates = temperature_rates({s: int(n) for s, n in hist}, _TMIX_ALPHA)
    max_copies = max(int(r) + 1 for r in rates.values())
    rate_case = " ".join(
        f"WHEN source = '{s}' THEN {_sql_double(r)}"
        for s, r in sorted(rates.items())
    )
    tfrac = sql_split_fraction("doc_id", "tmix")
    temp = f"""
WITH tdocs AS (
  SELECT doc_id, {_tmix_source_sql()} AS source FROM documents
),
rated AS (
  SELECT doc_id, source,
         (CASE {rate_case} ELSE CAST(0.0 AS DOUBLE) END) AS rate
  FROM tdocs
),
cop AS (
  SELECT doc_id, source,
         CAST(floor(rate) AS BIGINT)
         + (CASE WHEN {tfrac} < rate - floor(rate) THEN 1 ELSE 0 END)
         AS n_copies
  FROM rated
),
nums AS (SELECT unnest(generate_series(1, {max_copies})) AS k)
SELECT 'temperature' AS mode, doc_id, source
FROM cop JOIN nums ON nums.k <= cop.n_copies
"""
    # a WITH cannot follow UNION ALL at top level — wrap the CTE leg
    return (
        fixed
        + "\nUNION ALL\n"
        + _tagged(temp, "mode, doc_id, source")
        + "\nUNION ALL\n"
        + _tagged(_oracle_token_budget_leg(), "mode, doc_id, source")
    )


def _oracle_token_budget_leg() -> str:
    """Token-budget leg: the per-source running total is a window here
    (oracle scale) vs the engine's distributed_cumsum; order, token counts
    and the keep comparison are restated exactly (md5 order key, \\S+
    token regex, integer budget CASE)."""
    from mcp_crawl4ai_rag_spark.functions.hashing import sql_md5int64

    ordk = sql_md5int64("'tbudget:' || CAST(doc_id AS VARCHAR)")
    whens = " ".join(
        f"WHEN source = '{s}' THEN {int(b)}" for s, b in _TB_BUDGETS.items()
    )
    return f"""
WITH s AS (
  SELECT doc_id, source,
         len(regexp_extract_all(lower(text), '{_WS_RE}')) AS sz,
         {ordk} AS ordk,
         (CASE {whens} ELSE {_TB_DEFAULT} END) AS budget
  FROM documents
),
c AS (
  SELECT doc_id, source, sz, budget,
         COALESCE(sum(sz) OVER (
             PARTITION BY source ORDER BY ordk, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cumb
  FROM s
)
SELECT 'budget' AS mode, doc_id, source
FROM c WHERE cumb + sz <= budget
"""


_PR_ITERS = 5


def _pagerank_link_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, pr) over the synthetic corpus link graph t_j(i) = (31i+7j+1) mod n
    — shared by the link_pagerank gate and the crawl_e2e composition."""
    from mcp_crawl4ai_rag_spark.operators.graph import pagerank

    n = _lineitem_count(spark, sf_dir)
    v = spark.range(0, n).select(F.col("id"))
    j = spark.range(0, C.OUT_DEGREE).select(F.col("id").alias("j"))
    e = v.crossJoin(j).select(
        F.col("id").alias("src"),
        ((F.lit(C.EDGE_A) * F.col("id") + F.lit(C.EDGE_B) * F.col("j") + F.lit(C.EDGE_C)) % F.lit(n)).alias("dst"),
    )
    return pagerank(e, v, iters=_PR_ITERS)


def _pagerank_ctes() -> str:
    """DuckDB CTE chain computing the same fixed-point PageRank — defines
    ``verts(id)`` and ``pr{_PR_ITERS}(id, pr)``; shared by the link_pagerank
    and crawl_e2e oracles (bit-identical integer arithmetic)."""
    from mcp_crawl4ai_rag_spark.operators.graph import PR_SCALE

    base = (15 * PR_SCALE) // 100
    js = ", ".join(f"({j})" for j in range(C.OUT_DEGREE))
    rounds = []
    for k in range(1, _PR_ITERS + 1):
        rounds.append(f"""pr{k} AS (
    SELECT v.id,
           CAST({base} + 85 * (COALESCE(s.c, 0) // 100)
                + (85 * (COALESCE(s.c, 0) % 100)) // 100 AS BIGINT) AS pr
    FROM verts v LEFT JOIN (
        SELECT e.dst AS id, SUM(p.pr // e.deg) AS c
        FROM e JOIN pr{k-1} p ON p.id = e.src
        GROUP BY e.dst
    ) s ON s.id = v.id
)""")
    chain = ",\n".join(rounds)
    return f"""verts AS (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS id),
e AS (
    SELECT v.id AS src,
           ({C.EDGE_A} * v.id + {C.EDGE_B} * t.j + {C.EDGE_C}) % {N_SQL} AS dst,
           {C.OUT_DEGREE} AS deg
    FROM verts v, (VALUES {js}) t(j)
),
pr0 AS (SELECT id, CAST({PR_SCALE} AS BIGINT) AS pr FROM verts),
{chain}"""


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the synthetic corpus link graph
    (t_j(i) = (31i+7j+1) mod n, j<3) — crawl-prioritization ranking.
    Integer arithmetic makes the ranks bit-identical across engines."""
    return _pagerank_link_df(spark, sf_dir)


def _oracle_link_pagerank() -> str:
    return f"""
WITH {_pagerank_ctes()}
SELECT id, pr FROM pr{_PR_ITERS}
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: emails/phones/IPv4s planted per doc are redacted to typed
    placeholders; output carries md5 of the cleaned text plus match counts
    so the oracle verifies the exact redaction."""
    from mcp_crawl4ai_rag_spark.functions.text import redact_pii_expr

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "concat(text, ' contact user', doc_id, '@example.com or "
            "555-123-4567 at 10.0.', doc_id % 256, '.7')"
        ).alias("text"),
    )
    r = redact_pii_expr(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(r["clean"]).alias("clean_md5"),
        r["n_emails"].alias("n_emails"),
        r["n_phones"].alias("n_phones"),
        r["n_ips"].alias("n_ips"),
    )


def _oracle_pii_scrub() -> str:
    from mcp_crawl4ai_rag_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    # DuckDB string literals take backslashes verbatim — only quotes escape
    def esc(p: str) -> str:
        return p.replace("'", "''")

    em, ph, ip = esc(PII_EMAIL_RE), esc(PII_PHONE_RE), esc(PII_IPV4_RE)
    return f"""
WITH d AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or 555-123-4567 at 10.0.'
                || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
    FROM documents
),
s1 AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{em}')) AS BIGINT) AS n_emails,
           regexp_replace(text, '{em}', '<EMAIL>', 'g') AS t1
    FROM d
),
s2 AS (
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t1, '{ph}')) AS BIGINT) AS n_phones,
           regexp_replace(t1, '{ph}', '<PHONE>', 'g') AS t2
    FROM s1
),
s3 AS (
    SELECT doc_id, n_emails, n_phones,
           CAST(len(regexp_extract_all(t2, '{ip}')) AS BIGINT) AS n_ips,
           regexp_replace(t2, '{ip}', '<IP>', 'g') AS t3
    FROM s2
)
SELECT doc_id, md5(t3) AS clean_md5, n_emails, n_phones, n_ips FROM s3
"""


_PACK_SEQ_LEN = 512


def q_pack_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (GPT concat-then-split): the BPE-ish token stream in
    doc_id order is cut into 512-token windows; the schedule says which doc
    slice fills which pack at which position. The global prefix sum runs
    through distributed_cumsum (range partition + driver offsets), never a
    single-task window."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), _PACK_SEQ_LEN).select(
        F.col("pack_id").cast("long").alias("pack_id"),
        "doc_id",
        F.col("slice_start").cast("long").alias("slice_start"),
        F.col("slice_len").cast("long").alias("slice_len"),
        F.col("pack_pos").cast("long").alias("pack_pos"),
    )


def _pack_ctes(src: str, L: int) -> str:
    """CTE chain ``pt, pc, pks`` laying out the BPE-ish token stream of a
    docs CTE named ``src`` in doc_id order — shared by the pack_schedule
    oracle and the pipeline_e2e composition oracle."""
    return f"""pt AS (
    SELECT doc_id, CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS tok
    FROM {src}
    WHERE len(regexp_extract_all(text, '{_BPE_RE}')) > 0
),
pc AS (
    SELECT doc_id, tok,
           COALESCE(SUM(tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
    FROM pt
),
pks AS (
    SELECT unnest(generate_series(0,
        (SELECT CAST((sum(tok) - 1) // {L} AS BIGINT) FROM pt))) AS pack_id
)"""


def _pack_select(L: int) -> str:
    """Final pack-schedule projection over ``pc``/``pks`` (CASTs to BIGINT:
    DuckDB's SUM/GREATEST widen to HUGEINT while Spark emits long, and the
    driver's value hash is type-sensitive)."""
    return f"""SELECT pks.pack_id, pc.doc_id,
       CAST(GREATEST(0, pks.pack_id * {L} - pc.cum) AS BIGINT) AS slice_start,
       CAST(LEAST(pc.tok, (pks.pack_id + 1) * {L} - pc.cum)
           - GREATEST(0, pks.pack_id * {L} - pc.cum) AS BIGINT) AS slice_len,
       CAST(GREATEST(pc.cum - pks.pack_id * {L}, 0) AS BIGINT) AS pack_pos
FROM pc JOIN pks
  ON pks.pack_id >= pc.cum // {L}
 AND pks.pack_id <= (pc.cum + pc.tok - 1) // {L}"""


def _oracle_pack_schedule() -> str:
    L = _PACK_SEQ_LEN
    return f"""
WITH {_pack_ctes('documents', L)}
{_pack_select(L)}
"""


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/shape filter (Rae et al. 2021 A1.1): one
    codegen projection computes word/line-shape signals and the keep/drop
    verdict. The corpus is given planted line structure (duplicate lines,
    a bullet line, an ellipsis line) so every signal is exercised."""
    from mcp_crawl4ai_rag_spark.functions.text import (
        gopher_pass_expr,
        repetition_stats_expr,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "concat_ws('\n', text, substring(text, 1, 50), "
            "substring(text, 1, 50), '- bullet item', 'trailing...')"
        ).alias("text"),
    )
    st = repetition_stats_expr(F.col("text"))
    return docs.select(
        "doc_id",
        st["n_words"].alias("n_words"),
        st["mean_word_len"].alias("mean_word_len"),
        st["symbol_ratio"].alias("symbol_ratio"),
        st["bullet_frac"].alias("bullet_frac"),
        st["ellipsis_frac"].alias("ellipsis_frac"),
        st["dup_line_frac"].alias("dup_line_frac"),
        gopher_pass_expr(st).alias("keep"),
    )


def _gopher_metrics_ctes(src: str) -> str:
    """CTE chain ``gbase, gm`` computing the Gopher shape signals over a
    docs CTE named ``src`` — shared by the gopher_filter oracle and the
    pipeline_e2e composition oracle."""
    return f"""gbase AS (
    SELECT doc_id,
           regexp_extract_all(lower(text), '{_WS_RE}') AS w,
           list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS lines,
           CAST(len(regexp_extract_all(text, '#')) AS DOUBLE)
             + CAST(len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) AS n_sym
    FROM {src}
),
graw AS (
    -- RAW metrics: the keep thresholds must compare these exact doubles
    -- (the engine's gopher_pass_expr does), never the 4dp display
    -- rounding — a boundary doc would otherwise flip verdicts between
    -- engines
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
                 / GREATEST(CAST(len(w) AS DOUBLE), 1.0) AS r_mean_word_len,
           n_sym / GREATEST(CAST(len(w) AS DOUBLE), 1.0) AS r_symbol_ratio,
           CAST(len(list_filter(lines,
                     x -> regexp_matches(x, '^\\s*([-*•]|[0-9]+[.)])\\s'))) AS DOUBLE)
                 / GREATEST(CAST(len(lines) AS DOUBLE), 1.0) AS r_bullet_frac,
           CAST(len(list_filter(lines,
                     x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE)
                 / GREATEST(CAST(len(lines) AS DOUBLE), 1.0) AS r_ellipsis_frac,
           (CAST(len(lines) AS DOUBLE) - CAST(len(list_distinct(lines)) AS DOUBLE))
                 / GREATEST(CAST(len(lines) AS DOUBLE), 1.0) AS r_dup_line_frac
    FROM gbase
),
gm AS (
    SELECT doc_id, n_words,
           round(r_mean_word_len, 4) AS mean_word_len,
           round(r_symbol_ratio, 4) AS symbol_ratio,
           round(r_bullet_frac, 4) AS bullet_frac,
           round(r_ellipsis_frac, 4) AS ellipsis_frac,
           round(r_dup_line_frac, 4) AS dup_line_frac,
           r_mean_word_len, r_symbol_ratio, r_bullet_frac,
           r_ellipsis_frac, r_dup_line_frac
    FROM graw
)"""


def _gopher_keep_sql() -> str:
    """The Gopher keep predicate over ``gm``'s columns."""
    from mcp_crawl4ai_rag_spark.functions.text import (
        GOPHER_MAX_BULLET_FRAC,
        GOPHER_MAX_DUP_LINE_FRAC,
        GOPHER_MAX_ELLIPSIS_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
    )

    return (
        f"(n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}\n"
        f"        AND r_mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN!r}\n"
        f"        AND r_mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN!r}\n"
        f"        AND r_symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO!r}\n"
        f"        AND r_bullet_frac <= {GOPHER_MAX_BULLET_FRAC!r}\n"
        f"        AND r_ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC!r}\n"
        f"        AND r_dup_line_frac <= {GOPHER_MAX_DUP_LINE_FRAC!r})"
    )


def _oracle_gopher_filter() -> str:
    return f"""
WITH d AS (
    SELECT doc_id,
           concat_ws(chr(10), text, substr(text, 1, 50), substr(text, 1, 50),
                     '- bullet item', 'trailing...') AS text
    FROM documents
),
{_gopher_metrics_ctes('d')}
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, dup_line_frac,
       {_gopher_keep_sql()} AS keep
FROM gm
"""


_BM25_QUERY_A = "hash join"
_BM25_QUERY_B = "scan filter sort"


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword top-15 over documents (query-term-filtered
    explode, broadcast term stats, TakeOrderedAndProject)."""
    from mcp_crawl4ai_rag_spark.operators.search import bm25_search

    return bm25_search(
        _docs(spark, sf_dir), _BM25_QUERY_A + " scan", topk=15,
        id_col="doc_id", text_col="text",
    )


def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 through the persisted stats index (df table pruned to the
    query's terms at the scan): must return exactly what the on-the-fly
    path returns — the oracle is the same SQL as bm25_search."""
    import tempfile

    from mcp_crawl4ai_rag_spark.operators.search import (
        bm25_search,
        bm25_write_stats,
    )

    docs = _docs(spark, sf_dir)
    idx = tempfile.mkdtemp(prefix="bm25_idx_gate_")
    bm25_write_stats(docs, idx, id_col="doc_id", text_col="text")
    return bm25_search(
        docs, _BM25_QUERY_A + " scan", topk=15,
        id_col="doc_id", text_col="text", stats_path=idx,
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of two ranked lists (two
    BM25 legs here — the embedding leg fuses identically)."""
    from mcp_crawl4ai_rag_spark.operators.search import bm25_search, rrf_fuse

    docs = _docs(spark, sf_dir)
    a = bm25_search(docs, _BM25_QUERY_A, topk=20, id_col="doc_id", text_col="text")
    b = bm25_search(docs, _BM25_QUERY_B, topk=20, id_col="doc_id", text_col="text")
    return rrf_fuse(a, b, id_col="doc_id", topk=10)


def _bm25_sql(terms: list[str], topk: int) -> str:
    """DuckDB twin of operators/search.bm25_search over ``documents``."""
    from mcp_crawl4ai_rag_spark.operators.search import BM25_B, BM25_K1

    term_list = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    k1p1 = BM25_K1 + 1.0
    one_m_b = 1.0 - BM25_B
    return f"""
WITH toks AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{_WS_RE}') AS w FROM documents
),
st AS (SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM toks),
tfq AS (
    SELECT doc_id, len(w) AS dl, t.term,
           len(list_filter(w, x -> x = t.term)) AS tf
    FROM toks, (SELECT unnest([{term_list}]) AS term) t
    WHERE list_contains(w, t.term)
),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tfq GROUP BY term)
SELECT tfq.doc_id,
       round(sum(
           ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
           * (tfq.tf * {k1p1!r})
           / (tfq.tf + {BM25_K1!r} * ({one_m_b!r} + {BM25_B!r} * tfq.dl / st.avgdl))
       ), 4) AS score
FROM tfq JOIN dfq USING(term) CROSS JOIN st
GROUP BY tfq.doc_id
ORDER BY score DESC, tfq.doc_id ASC
LIMIT {topk}
"""


def _oracle_bm25_search() -> str:
    return _bm25_sql((_BM25_QUERY_A + " scan").split(), 15)


def _oracle_hybrid_rrf() -> str:
    from mcp_crawl4ai_rag_spark.operators.search import RRF_K

    a = _bm25_sql(_BM25_QUERY_A.split(), 20)
    b = _bm25_sql(_BM25_QUERY_B.split(), 20)
    return f"""
WITH la AS (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_a
    FROM ({a.strip()})
),
lb AS (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_b
    FROM ({b.strip()})
)
SELECT COALESCE(la.doc_id, lb.doc_id) AS doc_id,
       round(COALESCE(1.0 / ({RRF_K} + rank_a), 0.0)
             + COALESCE(1.0 / ({RRF_K} + rank_b), 0.0), 6) AS rrf_score
FROM la FULL OUTER JOIN lb ON la.doc_id = lb.doc_id
ORDER BY rrf_score DESC, COALESCE(la.doc_id, lb.doc_id) ASC
LIMIT 10
"""


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SALT = "split"


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split, two legs. mode='doc': hash_split,
    a pure function of (salt, doc_id) — stable under re-runs and appends.
    mode='component': the leakage-safe variant over the planted-near-dup
    docs3 corpus — split_by_component hashes each doc's MinHash-component
    representative, so near-duplicates never straddle train/eval (the
    contamination channel a per-doc split leaves open); singletons get
    exactly their hash_split assignment."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        hash_split,
        split_by_component,
    )

    base = hash_split(
        _docs(spark, sf_dir).select("doc_id"), _SPLIT_WEIGHTS, salt=_SPLIT_SALT
    ).select(F.lit("doc").alias("mode"), "doc_id", "split")
    docs3 = _docs3(spark, sf_dir)
    edges = minhash_lsh_pairs(
        docs3, min_jaccard=_COMPONENTS_MIN_JACCARD
    ).select("id_a", "id_b")
    comps = connected_components(edges, vertices=docs3.select("doc_id"))
    comp = split_by_component(
        docs3.select("doc_id"), comps, _SPLIT_WEIGHTS, salt=_SPLIT_SALT
    ).select(F.lit("component").alias("mode"), "doc_id", "split")
    return base.unionByName(comp)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: top-100 tokens by term frequency with document
    frequency; map-side-combined counts + TakeOrderedAndProject."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), k=100).select(
        "token",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination, two tagged legs behind one gate:
    'ngram' — the 13-gram shingle membership check (GPT-3 appendix-C
    shape; operators/corpus_ops.contamination_pairs): eval docs are
    planted suffix-copies of every 7th train doc, so each must surface
    its source with overlap_frac ≈ 1; 'semantic' — embedding-level
    decontamination (operators/corpus_ops.semantic_contamination): eval
    embeddings are paraphrase-shaped perturbations (0.95·v + 0.02) of
    every 13th train embedding — zero shared n-grams by construction, yet
    each must surface its source at cosine ≥ 0.9 (planted ≈ 0.986 vs
    cross-pair max ≈ 0.37 on this corpus). Schema (mode, eval_id,
    train_id, n_common, eval_shingles, overlap_frac) — the semantic leg
    carries its 4dp cosine in overlap_frac and zeros in the shingle
    counters."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import contamination_pairs

    train = _spread(_docs(spark, sf_dir).select("doc_id", "text"))
    ev = train.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.expr("substring(text, 101)").alias("text"),
    )
    ngram = contamination_pairs(train, ev, shingle_k=13, min_overlap=2).select(
        F.lit("ngram").alias("mode"),
        "eval_id",
        "train_id",
        "n_common",
        "eval_shingles",
        "overlap_frac",
    )
    sem = q_semantic_contamination(spark, sf_dir).select(
        F.lit("semantic").alias("mode"),
        "eval_id",
        "train_id",
        F.lit(0).cast("long").alias("n_common"),
        F.lit(0).cast("long").alias("eval_shingles"),
        F.col("sim").alias("overlap_frac"),
    )
    return ngram.unionByName(sem)


def q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone semantic-decontamination leg (bench cell + the gate's
    second leg): paraphrase-shaped planted eval embeddings vs the corpus."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        semantic_contamination,
    )

    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    eembs = embs.where(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 7000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: x.cast("double") * F.lit(0.95) + F.lit(0.02),
        ).alias("embedding"),
    )
    return semantic_contamination(embs, eembs, 0.9)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: exact cosine top-10 vs the vec_id=0 embedding."""
    embs = _embs(spark, sf_dir)
    q = embs.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return brute_topk(embs.where(F.col("vec_id") > 0), list(q), 10)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: exact cosine top-5 restricted to the query's LSH bucket."""
    embs = _embs(spark, sf_dir)
    q = list(embs.where(F.col("vec_id") == 0).select("embedding").head()[0])
    bucketed = embs.withColumn(
        "__bucket", bucket_expr(F.col("embedding"), EMB_DIM, _LSH_PLANES)
    )
    q_bucket = bucketed.where(F.col("vec_id") == 0).select("__bucket").head()[0]
    return brute_topk(bucketed.where(F.col("__bucket") == q_bucket), q, 5)


_IVF_K_CENTROIDS = 8
_IVF_N_PROBE = 2


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nearest-centroid inverted lists, probe 2 of 8, exact cosine
    within the probed lists. Codebook = embeddings of vec_id < 8
    (deterministic 'training' so the SQL oracle reproduces it)."""
    embs = _embs(spark, sf_dir)
    centroids = embs.where(F.col("vec_id") < _IVF_K_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    q = list(embs.where(F.col("vec_id") == 0).select("embedding").head()[0])
    return ivf_topk(embs, centroids, q, 5, n_probe=_IVF_N_PROBE)


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized ANN: integer-dot candidate scan over 4×-smaller codes
    (top-20), exact-cosine rescore of the candidates (top-5). Quantization
    uses floor(x·127/max + 0.5) so codes — and the candidate set — are
    engine-reproducible."""
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        quantize_embeddings,
        quantized_topk,
    )

    embs = _embs(spark, sf_dir)
    base = embs.where(F.col("vec_id") > 0)
    q = list(embs.where(F.col("vec_id") == 0).select("embedding").head()[0])
    return quantized_topk(base, quantize_embeddings(base), q, 5)


def _oracle_ann_quantized() -> str:
    cos = _sql_cosine("e.embedding", "q.qe")
    return f"""
WITH q AS (
    SELECT embedding AS qe,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS qmx
    FROM embeddings WHERE vec_id = 0
),
qz AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) AS qvec,
           mx / 127.0 AS scale
    FROM (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings WHERE vec_id > 0
    )
),
qq AS (
    SELECT list_transform(qe, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / qmx + 0.5) AS BIGINT)) AS qv
    FROM q
),
approx AS (
    -- cosine-proportional key qdot*|qdot|/normsq (exact ints, one IEEE
    -- division — engine-identical); mirrors operators/similarity.py
    SELECT vec_id, CASE WHEN nsq > 0
                        THEN CAST(qd * abs(qd) AS DOUBLE) / CAST(nsq AS DOUBLE)
                        ELSE -1e308 END AS ap
    FROM (
        SELECT z.vec_id,
               list_reduce(list_transform(list_zip(z.qvec, qq.qv),
                    x -> x[1] * x[2]), (a, b) -> a + b) AS qd,
               list_reduce(list_transform(z.qvec, x -> x * x),
                    (a, b) -> a + b) AS nsq
        FROM qz z CROSS JOIN qq
    )
),
cand AS (SELECT vec_id FROM approx ORDER BY ap DESC, vec_id ASC LIMIT 20)
SELECT e.vec_id, round({cos}, 4) AS sim
FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id CROSS JOIN q
ORDER BY sim DESC, e.vec_id ASC
LIMIT 5
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: recall@5 of LSH-bucket search vs exact cosine
    truth, per query, over an 8-query sample — the evaluation loop that
    keeps an approximate index honest. Per-query ranking windows partition
    by query id (bounded, never a global single-task window).

    On this corpus the harness correctly reports LOW recall: the synthetic
    embeddings are isotropic gaussian, so true nearest neighbors rarely
    share a single 8-plane bucket — the finding that tells an operator to
    widen to multi-probe (flip 1-2 bucket bits) or switch to IVF. The gate
    checks the measurement, not a quality target."""
    from pyspark.sql import Window

    from mcp_crawl4ai_rag_spark.functions.vectors import cosine_expr
    from mcp_crawl4ai_rag_spark.operators.similarity import recall_at_k

    embs = _embs(spark, sf_dir)
    corpus = embs.where(F.col("vec_id") >= 8).withColumn(
        "bucket", bucket_expr(F.col("embedding"), EMB_DIM, _LSH_PLANES)
    )
    qs = embs.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
    ).withColumn("qbucket", bucket_expr(F.col("qvec"), EMB_DIM, _LSH_PLANES))

    pairs = corpus.join(F.broadcast(qs)).withColumn(
        "sim", F.round(cosine_expr(F.col("embedding"), F.col("qvec")), 4)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    truth = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("qid", "vec_id")
    )

    def top5(restricted):
        return (
            restricted.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 5)
            .select("qid", "vec_id")
        )

    # IVF leg: corpus assigned to nearest of the 8 deterministic centroids
    # (zero-shuffle argmin); each query probes its 2 nearest lists
    from mcp_crawl4ai_rag_spark.operators.similarity import ivf_assign, l2sq_expr

    centroids = embs.where(F.col("vec_id") < _IVF_K_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    assign = ivf_assign(corpus, centroids).select("vec_id", "cid")
    wq = Window.partitionBy("qid").orderBy(F.asc("__d"), F.asc("cid"))
    probes = (
        qs.crossJoin(F.broadcast(centroids))
        .withColumn("__d", l2sq_expr(F.col("qvec"), F.col("ce")))
        .withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= _IVF_N_PROBE)
        .select("qid", "cid")
    )
    ivf_pairs = pairs.join(assign, "vec_id").join(
        probes, ["qid", "cid"], "left_semi"
    )

    # PQ legs (r4): the round-3 serving capstones measured, not asserted —
    # ADC shortlist (rerank 20 per query) + exact-cosine rescore, flat
    # (pq_topk's plan) and IVF-probe-pruned (ivfpq_query_index's plan).
    # Codes are query-independent (computed once on the corpus side of the
    # join); the ADC score is an explicit t0+t1+t2+t3 of float64 left-fold
    # slice distances so the oracle's rank-identical restatement is
    # bit-exact.
    from mcp_crawl4ai_rag_spark.operators.similarity import pq_codes_expr

    cb_rows = sorted(centroids.collect(), key=lambda r: r["cid"])
    sub = EMB_DIM // _PQ_M
    corpus_pq = corpus.withColumn(
        "codes", pq_codes_expr(cb_rows, _PQ_M, "embedding")
    )
    pairs_pq = corpus_pq.join(F.broadcast(qs)).withColumn(
        "sim", F.round(cosine_expr(F.col("embedding"), F.col("qvec")), 4)
    )
    adc = None
    for j in range(_PQ_M):
        cb_slice = F.array(
            *[
                F.array(
                    *[F.lit(float(v)) for v in r["ce"][j * sub : (j + 1) * sub]]
                )
                for r in cb_rows
            ]
        )
        term = l2sq_expr(
            F.slice(F.col("qvec"), j * sub + 1, sub),
            F.element_at(cb_slice, F.element_at(F.col("codes"), j + 1)),
        )
        adc = term if adc is None else adc + term
    pairs_adc = pairs_pq.withColumn("__adc", adc)
    wadc = Window.partitionBy("qid").orderBy(F.asc("__adc"), F.asc("vec_id"))
    pq_short = (
        pairs_adc.withColumn("__arn", F.row_number().over(wadc))
        .where(F.col("__arn") <= 20)
        .drop("__arn")
    )
    ivfpq_short = (
        pairs_adc.join(assign, "vec_id")
        .join(probes, ["qid", "cid"], "left_semi")
        .withColumn("__arn", F.row_number().over(wadc))
        .where(F.col("__arn") <= 20)
        .drop("__arn")
    )

    methods = {
        # single-bucket probing vs the radius-1 multi-probe remedy vs IVF
        "lsh1": pairs.where(F.col("bucket") == F.col("qbucket")),
        "lsh_multiprobe": pairs.where(
            F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= 1
        ),
        "ivf2of8": ivf_pairs,
        "pq_adc20": pq_short,
        "ivfpq_2of8_adc20": ivfpq_short,
    }
    outs = [
        recall_at_k(truth, top5(df), 5).select(
            F.lit(name).alias("method"),
            F.col("qid").cast("long").alias("qid"),
            "recall",
        )
        for name, df in methods.items()
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    # minhash_lsh leg: the TEXT near-dup recall harness — measured recall of
    # the 16-perm/4-band MinHash index vs exact-Jaccard truth over the
    # planted-twin sample (operators/dedup.neardup_recall); the banding
    # S-curve as evidence, not assertion
    from mcp_crawl4ai_rag_spark.operators.dedup import neardup_recall

    docs2 = _docs2(spark, sf_dir)
    samp = docs2.where(F.col("doc_id") >= 1000000).select("doc_id")
    mh = neardup_recall(docs2, samp, min_jaccard=_NDR_MIN_J).select(
        F.lit("minhash_lsh").alias("method"),
        F.col("qid").cast("long").alias("qid"),
        "recall",
    )
    # xmodal_r5 leg: CLIP-style cross-modal Recall@5 (operators/similarity.
    # pair_retrieval_recall) — every caption queries the full jittered
    # image-encoder side; per-dim md5 jitter makes misses possible, so the
    # gate checks a MEASURED retrieval number, not a tautology
    xm = q_xmodal_recall(spark, sf_dir).select(
        F.lit("xmodal_r5").alias("method"),
        F.col("qid").cast("long").alias("qid"),
        "recall",
    )
    return out.unionByName(mh).unionByName(xm)


def q_xmodal_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone cross-modal retrieval leg (bench cell): text→image
    Recall@5 where image embeddings are a deterministic lossy-encoder
    model of the text embedding — 0.9·v + 0.01 plus per-(id, dim) md5
    jitter uniform in ±0.45 (functions/hashing md5int64 fraction, 0-based
    dim) — noise norm ≈ 2.1 vs the 0.9 signal, so true pairs genuinely
    miss the top-5 (measured Recall@5 ≈ 0.85 at sf0.01): the gate checks
    a real retrieval measurement, not a tautology."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import _HASH_SPACE
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        pair_retrieval_recall,
    )

    embs = _embs(spark, sf_dir).select("vec_id", "embedding")

    from mcp_crawl4ai_rag_spark.functions.hashing import md5int64

    def jitter(i):
        frac = md5int64(
            F.concat(
                F.lit("xj:"),
                F.col("vec_id").cast("string"),
                F.lit(":"),
                i.cast("string"),
            )
        ).cast("double") / F.lit(_HASH_SPACE)
        return (frac - F.lit(0.5)) * F.lit(0.9)

    imgs = embs.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: x.cast("double") * 0.9 + 0.01 + jitter(i),
        ).alias("img_vec"),
    )
    qs = embs.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return pair_retrieval_recall(qs, imgs, k=5)


_NDR_MIN_J = 0.5


def q_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone text near-dup recall harness (bench cell + the
    ann_recall gate's minhash_lsh leg): measured recall of the
    16-perm/4-band MinHash index vs exact-Jaccard truth over the
    planted-twin sample."""
    from mcp_crawl4ai_rag_spark.operators.dedup import neardup_recall

    docs2 = _docs2(spark, sf_dir)
    samp = docs2.where(F.col("doc_id") >= 1000000).select("doc_id")
    return neardup_recall(docs2, samp, min_jaccard=_NDR_MIN_J)


def _pq_recall_ctes() -> str:
    """CTE chain for the PQ recall legs: per-subspace code assignment
    (argmin over centroid slices, ties to lowest cid — exactly
    pq_codes_expr's array_position-of-min), explicit t0+t1+t2+t3 ADC (the
    same left-to-right float64 addition order as the Spark expression),
    rerank-20 shortlist, exact-sim top-5 — flat and IVF-probe-pruned."""
    sub = EMB_DIM // _PQ_M
    code_ctes = []
    code_joins = []
    terms = []
    for j in range(_PQ_M):
        lo, hi = j * sub + 1, (j + 1) * sub
        d = _sql_l2sq(f"c.embedding[{lo}:{hi}]", f"cents.ce[{lo}:{hi}]")
        code_ctes.append(
            f"""pcode{j} AS (
    SELECT c.vec_id, cents.cid FROM c CROSS JOIN cents
    QUALIFY row_number() OVER (PARTITION BY c.vec_id
        ORDER BY {d} ASC, cents.cid ASC) = 1
)"""
        )
        code_joins.append(
            f"JOIN pcode{j} k{j} ON k{j}.vec_id = p.vec_id "
            f"JOIN cents e{j} ON e{j}.cid = k{j}.cid"
        )
        terms.append(_sql_l2sq(f"q.qvec[{lo}:{hi}]", f"e{j}.ce[{lo}:{hi}]"))
    adc = " + ".join(terms)
    joins = "\n    ".join(code_joins)
    codes_sql = ",\n".join(code_ctes)
    return f"""{codes_sql},
padc AS (
    SELECT p.qid, p.vec_id, p.sim, {adc} AS adc
    FROM pairs p
    JOIN q ON q.qid = p.qid
    {joins}
),
pqshort AS (
    SELECT qid, vec_id, sim FROM (
        SELECT qid, vec_id, sim,
               row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rn
        FROM padc
    ) WHERE rn <= 20
),
pqtop AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        FROM pqshort
    ) WHERE rn <= 5
),
ipshort AS (
    SELECT p.qid, p.vec_id, p.sim FROM (
        SELECT p2.qid, p2.vec_id, p2.sim,
               row_number() OVER (PARTITION BY p2.qid ORDER BY p2.adc ASC, p2.vec_id ASC) AS rn
        FROM padc p2
        JOIN assign a ON a.vec_id = p2.vec_id
        JOIN probes pr ON pr.qid = p2.qid AND pr.cid = a.cid
    ) p WHERE p.rn <= 20
),
iptop AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        FROM ipshort
    ) WHERE rn <= 5
),
hitspq AS (
    SELECT t.qid, count(*) AS h
    FROM truth t JOIN pqtop l ON t.qid = l.qid AND t.vec_id = l.vec_id
    GROUP BY t.qid
),
hitsipq AS (
    SELECT t.qid, count(*) AS h
    FROM truth t JOIN iptop l ON t.qid = l.qid AND t.vec_id = l.vec_id
    GROUP BY t.qid
),"""


def _oracle_ann_recall() -> str:
    def bucket_terms(vec: str) -> str:
        return " + ".join(
            f"CASE WHEN {_sql_dot(vec, _plane_sql(p, EMB_DIM))} > 0 "
            f"THEN {1 << p} ELSE 0 END"
            for p in range(_LSH_PLANES)
        )

    cos = _sql_cosine("c.embedding", "q.qvec")
    return f"""
WITH q AS (
    SELECT vec_id AS qid, embedding AS qvec,
           ({bucket_terms('embedding')}) AS qbucket
    FROM embeddings WHERE vec_id < 8
),
c AS (
    SELECT vec_id, embedding,
           ({bucket_terms('embedding')}) AS bucket
    FROM embeddings WHERE vec_id >= 8
),
pairs AS (
    SELECT q.qid, c.vec_id, c.bucket, q.qbucket,
           round({cos}, 4) AS sim
    FROM c CROSS JOIN q
),
truth AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        FROM pairs
    ) WHERE rn <= 5
),
lsh1 AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        FROM pairs WHERE bucket = qbucket
    ) WHERE rn <= 5
),
lshm AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        FROM pairs WHERE bit_count(xor(bucket, qbucket)) <= 1
    ) WHERE rn <= 5
),
cents AS (
    SELECT vec_id AS cid, embedding AS ce FROM embeddings
    WHERE vec_id < {_IVF_K_CENTROIDS}
),
probes AS (
    SELECT qid, cid FROM (
        SELECT q.qid, cents.cid,
               row_number() OVER (PARTITION BY q.qid
                   ORDER BY {_sql_l2sq('cents.ce', 'q.qvec')} ASC, cents.cid ASC) AS rn
        FROM q CROSS JOIN cents
    ) WHERE rn <= {_IVF_N_PROBE}
),
assign AS (
    SELECT e.vec_id, cents.cid,
           {_sql_l2sq('e.embedding', 'cents.ce')} AS d
    FROM embeddings e CROSS JOIN cents
    WHERE e.vec_id >= 8
    QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d ASC, cents.cid ASC) = 1
),
ivf AS (
    SELECT qid, vec_id FROM (
        SELECT p.qid, p.vec_id,
               row_number() OVER (PARTITION BY p.qid ORDER BY p.sim DESC, p.vec_id ASC) AS rn
        FROM pairs p
        JOIN assign a ON a.vec_id = p.vec_id
        JOIN probes pr ON pr.qid = p.qid AND pr.cid = a.cid
    ) WHERE rn <= 5
),
{_pq_recall_ctes()}
hits1 AS (
    SELECT t.qid, count(*) AS h
    FROM truth t JOIN lsh1 l ON t.qid = l.qid AND t.vec_id = l.vec_id
    GROUP BY t.qid
),
hitsm AS (
    SELECT t.qid, count(*) AS h
    FROM truth t JOIN lshm l ON t.qid = l.qid AND t.vec_id = l.vec_id
    GROUP BY t.qid
),
hitsi AS (
    SELECT t.qid, count(*) AS h
    FROM truth t JOIN ivf l ON t.qid = l.qid AND t.vec_id = l.vec_id
    GROUP BY t.qid
),
qids AS (SELECT DISTINCT qid FROM truth)
SELECT 'lsh1' AS method, CAST(q2.qid AS BIGINT) AS qid,
       round(COALESCE(h.h, 0) / 5.0, 4) AS recall
FROM qids q2 LEFT JOIN hits1 h ON h.qid = q2.qid
UNION ALL
SELECT 'lsh_multiprobe' AS method, CAST(q2.qid AS BIGINT) AS qid,
       round(COALESCE(h.h, 0) / 5.0, 4) AS recall
FROM qids q2 LEFT JOIN hitsm h ON h.qid = q2.qid
UNION ALL
SELECT 'ivf2of8' AS method, CAST(q2.qid AS BIGINT) AS qid,
       round(COALESCE(h.h, 0) / 5.0, 4) AS recall
FROM qids q2 LEFT JOIN hitsi h ON h.qid = q2.qid
UNION ALL
SELECT 'pq_adc20' AS method, CAST(q2.qid AS BIGINT) AS qid,
       round(COALESCE(h.h, 0) / 5.0, 4) AS recall
FROM qids q2 LEFT JOIN hitspq h ON h.qid = q2.qid
UNION ALL
SELECT 'ivfpq_2of8_adc20' AS method, CAST(q2.qid AS BIGINT) AS qid,
       round(COALESCE(h.h, 0) / 5.0, 4) AS recall
FROM qids q2 LEFT JOIN hitsipq h ON h.qid = q2.qid
UNION ALL
{_tagged(_oracle_neardup_recall_leg(),
         "'minhash_lsh' AS method, CAST(qid AS BIGINT) AS qid, recall")}
UNION ALL
{_tagged(_oracle_xmodal_leg(),
         "'xmodal_r5' AS method, CAST(qid AS BIGINT) AS qid, recall")}
"""


def _oracle_xmodal_leg() -> str:
    """Cross-modal Recall@5: the jittered image encoder restated with
    DuckDB's indexed list lambda ((x, i) is 1-based there vs Spark's
    0-based transform — hence i-1), the same md5-fraction jitter, the
    same 4dp-rounded sim ordering with id tie-break."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import _HASH_SPACE

    frac = _sql_md5int64("'xj:' || CAST(e.vec_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")
    cos = _sql_cosine("xi.img", "xq.qvec")
    return f"""
WITH xi AS (
  SELECT e.vec_id,
         list_transform(e.embedding, (x, i) ->
             CAST(x AS DOUBLE) * 0.9 + 0.01
             + (CAST({frac} AS DOUBLE) / {_HASH_SPACE!r} - 0.5) * 0.9
         ) AS img
  FROM embeddings e
),
xq AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings),
ranked AS (
  SELECT xq.qid, xi.vec_id,
         row_number() OVER (
           PARTITION BY xq.qid
           ORDER BY round({cos}, 4) DESC, xi.vec_id ASC
         ) AS rn
  FROM xi CROSS JOIN xq
)
SELECT qid,
       CAST(MAX(CASE WHEN vec_id = qid AND rn <= 5 THEN 1 ELSE 0 END)
            AS DOUBLE) AS recall
FROM ranked GROUP BY qid
"""


def _oracle_neardup_recall_leg() -> str:
    """Text near-dup recall: exact-Jaccard truth for the twin sample is a
    (bounded) cross join at oracle scale; found = the full minhash CTE
    chain's verified candidates at the same threshold — recall re-derived
    end-to-end, nothing injected."""
    t = _NDR_MIN_J
    return f"""
WITH {_DOCS2_SQL.strip()},
{_minhash_pairs_ctes('docs2')},
pairs AS ({_PAIRS_SELECT_SQL.strip()}),
samp AS (SELECT doc_id FROM docs2 WHERE doc_id >= 1000000),
truth AS (
    SELECT s.doc_id AS qid, b.doc_id AS did
    FROM samp s
    JOIN shl a ON a.doc_id = s.doc_id
    JOIN shl b ON b.doc_id <> s.doc_id
    WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4)
          >= {t!r}
),
fnd AS (
    SELECT f.qid, f.did FROM (
        SELECT id_a AS qid, id_b AS did FROM pairs WHERE jaccard >= {t!r}
        UNION ALL
        SELECT id_b AS qid, id_a AS did FROM pairs WHERE jaccard >= {t!r}
    ) f JOIN samp s ON s.doc_id = f.qid
),
nt AS (SELECT qid, count(*) AS n_true FROM truth GROUP BY qid),
nf AS (
    SELECT t2.qid, count(*) AS n_found
    FROM truth t2 JOIN fnd f ON f.qid = t2.qid AND f.did = t2.did
    GROUP BY t2.qid
)
SELECT nt.qid,
       round(COALESCE(nf.n_found, 0) / CAST(nt.n_true AS DOUBLE), 4) AS recall
FROM nt LEFT JOIN nf ON nf.qid = nt.qid
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (sim ≥ 0.99) over augmented corpus,
    LSH-bucket-blocked (equi-join, not cross join — the 10^9-vector shape)."""
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    aug = embs.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return cosine_pairs(
        embs.unionByName(aug), 0.99, id_col="vec_id", block_dim=EMB_DIM
    )


def q_caption_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-quality filters for an image+caption corpus, two tagged legs:
    'clip' — CLIP-score-style image↔caption alignment filter
    (operators/similarity.alignment_filter — the LAION-shape cleaning
    gate). Deterministic pairs over the embeddings table: pair i carries
    text embedding vec_id=i and an image embedding that is a lossy-encoder
    perturbation of it (0.9·v + 0.01); every 10th pair's image embedding is
    swapped with its neighbor's — a planted caption mismatch. keep =
    alignment ≥ 0.8 drops exactly the swaps.
    'aesthetic' — the LAION-aesthetic shape (operators/similarity.
    aesthetic_probe): a linear head over the leading embedding dims,
    trained on the corpus by exact least squares (one map-side-combined
    Gram scan + exact rational solve, so the weights are a pure function of
    the data and the oracle retrains bit-identically via the Python twin),
    then every image scored in one codegen projection; keep = score ≥ 0.5.
    Schema (mode, pair_id, alignment, keep) — alignment carries the 4dp
    aesthetic score on the second leg."""
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        alignment_filter,
        aesthetic_probe,
    )

    embs = _embs(spark, sf_dir).select("vec_id", "embedding", "label")
    nxt = embs.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("mis"),
    )
    pairs = embs.join(nxt, "vec_id")
    img = F.when(F.col("vec_id") % 10 == 0, F.col("mis")).otherwise(
        F.transform(F.col("embedding"), lambda v: v.cast("double") * 0.9 + 0.01)
    )
    pairs = pairs.select(
        F.col("vec_id").alias("pair_id"),
        img.alias("img_vec"),
        F.col("embedding").alias("txt_vec"),
    )
    clip = alignment_filter(pairs, "img_vec", "txt_vec", threshold=0.8).select(
        F.lit("clip").alias("mode"), "pair_id", "alignment", "keep"
    )
    aes = aesthetic_probe(
        embs, (F.col("label") >= 5).cast("long"), threshold=0.5
    ).select(
        F.lit("aesthetic").alias("mode"),
        F.col("vec_id").alias("pair_id"),
        F.col("score").alias("alignment"),
        "keep",
    )
    return clip.unionByName(aes)


def q_aesthetic_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone aesthetic leg (bench cell): train the linear head on the
    weak label, score every image, keep ≥ 0.5."""
    from mcp_crawl4ai_rag_spark.operators.similarity import aesthetic_probe

    embs = _embs(spark, sf_dir).select("vec_id", "embedding", "label")
    return aesthetic_probe(embs, (F.col("label") >= 5).cast("long"))


def _oracle_caption_alignment() -> str:
    sel = "pair_id, alignment, keep"
    return (
        _tagged(_oracle_caption_clip_leg(), f"'clip' AS mode, {sel}")
        + "\nUNION ALL\n"
        + _tagged(_oracle_aesthetic_leg(), f"'aesthetic' AS mode, {sel}")
    )


def _oracle_caption_clip_leg() -> str:
    cos = _sql_cosine("p.img_vec", "p.txt_vec")
    return f"""
WITH nxt AS (
  SELECT vec_id - 1 AS vec_id, embedding AS mis FROM embeddings
),
p AS (
  SELECT e.vec_id AS pair_id,
         CASE WHEN e.vec_id % 10 = 0
              THEN list_transform(n.mis, v -> CAST(v AS DOUBLE))
              ELSE list_transform(e.embedding,
                                  v -> CAST(v AS DOUBLE) * 0.9 + 0.01)
         END AS img_vec,
         e.embedding AS txt_vec
  FROM embeddings e JOIN nxt n USING (vec_id)
)
SELECT p.pair_id,
       round({cos}, 4) AS alignment,
       round({cos}, 4) >= 0.8 AS keep
FROM p
"""


def _oracle_aesthetic_leg() -> str:
    """Aesthetic-head oracle via trained-weight literal injection (the
    quality_probe precedent): the weights are a pure function of the data
    (exact Gram + exact rational solve), so the builder retrains via the
    bit-exact Python twin over the same parquet and the SQL restates the
    fixed-point features and the left-to-right score fold with the weights
    as literals."""
    import os

    import duckdb

    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        py_train_linear_probe,
        sql_linear_probe_score,
    )
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        AESTHETIC_DIMS,
        AESTHETIC_SCALE,
        py_aesthetic_features,
    )

    sf_dir = os.environ.get(_ORACLE_SF_DIR_ENV, _ORACLE_SF_DIR_DEFAULT)
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT embedding, label FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    con.close()
    train = [
        tuple(py_aesthetic_features(emb)) + (1 if label >= 5 else 0,)
        for emb, label in rows
    ]
    w = py_train_linear_probe(train, AESTHETIC_DIMS)
    feat_exprs = [
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * "
        f"{float(AESTHETIC_SCALE)!r} + 0.5) AS BIGINT)"
        for i in range(AESTHETIC_DIMS)
    ]
    score = sql_linear_probe_score(w, feat_exprs)
    return f"""
SELECT vec_id AS pair_id,
       round({score}, 4) AS alignment,
       round({score}, 4) >= 0.5 AS keep
FROM embeddings
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-analog: tumbling 1h window aggregation over the events stream."""
    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: 30-min-gap sessionization per user."""
    from pyspark.sql import Window

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; cast under UTC session TZ = DuckDB's naive epoch_us
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    flagged = ev.select(
        "user_id",
        F.when(
            us - F.lag(us).over(w) > 1_800_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.lit(1) + F.sum("new_s")).cast("long").alias("n_sessions"),
    )


def q_image_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13: image payload invariants — decode, PSNR≥40dB (inside pixel_ok),
    phash recompute, caption equality — counted per format. The corpus
    construction guarantees every image verifies, so the per-fmt counts are
    closed-form and the DuckDB oracle checks them exactly (the binary decode
    itself is exercised on the Spark side; raw PSNR values are pinned in
    tests/test_images.py)."""
    imgs = gen_images(spark, 1000)
    v = verify_images(imgs)
    return v.groupBy("fmt").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("pixel_ok").cast("int")).cast("long").alias("n_pixel_ok"),
        F.sum(F.col("phash_ok").cast("int")).cast("long").alias("n_phash_ok"),
        F.sum(F.col("caption_ok").cast("int")).cast("long").alias("n_caption_ok"),
    )


def _oracle_image_verify() -> str:
    # fmt alternates png/jpeg on image index (sources/corpus.py gen_images);
    # all invariants hold by construction → every count equals the fmt count
    return """
SELECT CASE WHEN i % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_pixel_ok,
       CAST(count(*) AS BIGINT) AS n_phash_ok,
       CAST(count(*) AS BIGINT) AS n_caption_ok
FROM (SELECT unnest(generate_series(0, 999)) AS i)
GROUP BY 1
"""


def q_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection: every 10th image is transcoded (lossless)
    under a twin id, then pigeonhole-banded hamming pairs over the 64-bit
    phash column must recover exactly the planted twins at hamming 0 — the
    decode→re-encode→re-hash runs on the Spark side, the expected pair set
    is closed-form. Nonzero-hamming (lossy) behavior is pinned in
    tests/test_dedup.py."""
    from mcp_crawl4ai_rag_spark.functions.images import transcode_images
    from mcp_crawl4ai_rag_spark.operators.dedup import phash_pairs

    imgs = gen_images(spark, 1000)
    twins = transcode_images(
        imgs.where(F.expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0")),
        "png",
    ).select(F.concat(F.lit("dup_"), F.col("image_id")).alias("image_id"), "phash")
    allimgs = imgs.select("image_id", "phash").unionByName(twins)
    return phash_pairs(allimgs, max_hamming=4).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_audio_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio payload invariants (mirror of image_verify): decode each clip,
    check samples vs the deterministic reference waveform (bit-exact pcm /
    SNR≥30dB qpcm), and re-derive header metadata. Per-fmt counts and
    duration sums are closed-form from the gen_audio id formulas, so the
    DuckDB oracle checks them exactly while the binary decode runs on the
    Spark side."""
    from mcp_crawl4ai_rag_spark.functions.media import verify_audio
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_audio

    v = verify_audio(gen_audio(spark, 1000))
    return v.groupBy("fmt").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("sample_ok").cast("int")).cast("long").alias("n_sample_ok"),
        F.sum("duration_ms").cast("long").alias("sum_duration_ms"),
        F.sum("n_samples").cast("long").alias("sum_samples"),
    )


def q_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio resample to 4 kHz: output length is closed-form
    (n_samples·4000/sr), verified per clip; the decode→resample→re-encode
    pipeline runs in Arrow batches on the Spark side."""
    from mcp_crawl4ai_rag_spark.functions.media import resample_audio
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_audio

    out = resample_audio(gen_audio(spark, 1000), 4000)
    return out.select(
        "audio_id",
        F.col("sr").cast("long").alias("sr"),
        F.col("n_samples").cast("long").alias("n_samples"),
        "fmt",
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: every 3rd frame of each clip becomes a row
    (executor-side fan-out, no shuffle). The sampled (video_id, frame_idx,
    w, h) set is closed-form from the gen_videos id formulas; frame pixel
    content/phash is pinned in tests/test_media.py."""
    from mcp_crawl4ai_rag_spark.functions.media import sample_frames
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_videos

    fr = sample_frames(gen_videos(spark, 1000), stride=3)
    return fr.select(
        "video_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image+audio+video feature extraction: luminance+edge stats,
    RMS/zero-crossings, and motion energy, aggregated per modality. One
    gate covers all three mapInPandas extractors; bench times each leg
    separately (image_features / media_features). Hash-verified since r4:
    the binary decode / waveform / frame math is not SQL-expressible, so
    the oracle regenerates the payloads driver-side with the numpy twin
    and injects the three expected rows as typed literals
    (_oracle_media_features)."""
    from mcp_crawl4ai_rag_spark.functions.images import extract_image_features
    from mcp_crawl4ai_rag_spark.functions.media import (
        extract_audio_features,
        extract_video_features,
    )
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_audio, gen_images, gen_videos

    imf = extract_image_features(gen_images(spark, 500)).agg(
        F.lit("image").alias("kind"),
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("mean_lum"), 3).alias("avg_a"),
        F.round(F.avg("edge_density"), 3).alias("avg_b"),
    )
    af = extract_audio_features(gen_audio(spark, 500)).agg(
        F.lit("audio").alias("kind"),
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("rms"), 3).alias("avg_a"),
        F.round(F.avg("zero_crossings"), 3).alias("avg_b"),
    )
    vf = extract_video_features(gen_videos(spark, 500)).agg(
        F.lit("video").alias("kind"),
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("motion"), 3).alias("avg_a"),
        F.round(F.avg("duration_ms"), 3).alias("avg_b"),
    )
    return imf.unionByName(af).unionByName(vf)


def _oracle_image_phash_pairs() -> str:
    # lossless transcode keeps the decoded pixels, hence the recomputed
    # phash, bit-identical → planted twins pair at hamming 0; chance pairs
    # among the seeded corpus at hamming ≤ 4 are absent (deterministic
    # corpus, verified by this very gate)
    return """
SELECT printf('dup_img_%012d', i) AS id_a,
       printf('img_%012d', i) AS id_b,
       CAST(0 AS BIGINT) AS hamming
FROM (SELECT unnest(generate_series(0, 999)) AS i)
WHERE i % 10 = 0
"""


def _oracle_audio_verify() -> str:
    # gen_audio id formulas: sr = 8000+(i%3)*4000, n_samples = sr*(2+i%4)/4
    # (exact), duration_ms = (2+i%4)*250 (exact); every clip verifies by
    # construction → per-fmt counts equal the fmt counts
    return """
WITH m AS (
    SELECT i,
           CASE WHEN i % 2 = 0 THEN 'pcm' ELSE 'qpcm' END AS fmt,
           ((8000 + (i % 3) * 4000) * (2 + i % 4)) // 4 AS ns,
           (2 + i % 4) * 250 AS dur_ms
    FROM (SELECT unnest(generate_series(0, 999)) AS i)
)
SELECT fmt,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_sample_ok,
       CAST(sum(dur_ms) AS BIGINT) AS sum_duration_ms,
       CAST(sum(ns) AS BIGINT) AS sum_samples
FROM m GROUP BY fmt
"""


def _oracle_audio_resample() -> str:
    # n_out = n_samples·4000/sr = (2+i%4)·1000 exactly (sr divisible by 4)
    return """
SELECT printf('aud_%012d', i) AS audio_id,
       CAST(4000 AS BIGINT) AS sr,
       CAST((2 + i % 4) * 1000 AS BIGINT) AS n_samples,
       CASE WHEN i % 2 = 0 THEN 'pcm' ELSE 'qpcm' END AS fmt
FROM (SELECT unnest(generate_series(0, 999)) AS i)
"""


def _oracle_video_frames() -> str:
    # gen_videos id formulas; stride-3 sampling keeps frame_idx % 3 = 0
    return """
WITH v AS (
    SELECT i,
           32 + (i % 3) * 16 AS w,
           32 + (i % 2) * 16 AS h,
           8 + (i % 4) * 4 AS nf
    FROM (SELECT unnest(generate_series(0, 999)) AS i)
),
k AS (SELECT unnest(generate_series(0, 19)) AS k)
SELECT printf('vid_%012d', v.i) AS video_id,
       CAST(k.k AS BIGINT) AS frame_idx,
       CAST(v.w AS BIGINT) AS w,
       CAST(v.h AS BIGINT) AS h
FROM v JOIN k ON k.k < v.nf AND k.k % 3 = 0
"""


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction (rows-only: binary decode is not
    SQL-expressible): decode → luminance/edge stats → grid embedding, then
    aggregate per format."""
    from mcp_crawl4ai_rag_spark.functions.images import extract_image_features

    imgs = gen_images(spark, 500).localCheckpoint(eager=True)
    feats = extract_image_features(imgs)
    joined = feats.join(imgs.select("image_id", "fmt"), "image_id")
    return joined.groupBy("fmt").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("mean_lum"), 3).alias("avg_lum"),
        F.round(F.avg("edge_density"), 3).alias("avg_edge_density"),
        F.min(F.size("features")).cast("long").alias("feat_dim"),
    )


def q_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full RAG path: chunk → embed → upsert-store → top-5 retrieval with
    source filter. Hash-verified since r4: the seeded embedder isn't
    SQL-expressible, so the oracle runs the pure-Python pipeline twin
    driver-side and injects per-chunk similarities as literals while chunk
    content is still derived independently in SQL (_oracle_rag_pipeline)."""
    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://docs.example.com/d/"), F.col("doc_id")).alias("url"),
        F.col("text").alias("markdown"),
    )
    chunks = build_chunks(docs, chunk_size=_RAG_CHUNK)
    batch = with_embeddings(chunks, text_col="content", dim=EMB_DIM)
    store = store_documents(None, batch)
    return search_documents(
        store,
        _RAG_QUERY,
        match_count=5,
        source_filter="docs.example.com",
        dim=EMB_DIM,
    )


_RAG_QUERY = "spark join performance"
_RAG_CHUNK = 400
# The driver runs oracle SQL against sf0.01; the rag_pipeline twin reads the
# same parquet at oracle-build time. Override when selfchecking another SF.
_ORACLE_SF_DIR_ENV = "SPARK_GRAFT_ORACLE_SF_DIR"
_ORACLE_SF_DIR_DEFAULT = "/root/testdata/sf0.01"


def _sql_double(x: float) -> str:
    # bare numeric literals parse as DECIMAL in DuckDB; the driver's value
    # hash is type-sensitive, so every injected float must be a DOUBLE
    return f"CAST({x!r} AS DOUBLE)"


def _seq_cosine(a, b) -> float:
    """Bit-exact Python twin of functions/vectors.cosine_expr: sequential
    left-fold double accumulation for dot and both norms (F.aggregate
    folds in element order with a 0.0 double seed), then dot/(na*nb)."""
    import math

    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _oracle_rag_pipeline() -> str:
    """Hash-verified oracle via Python-twin literal injection (the
    quality_probe precedent): the seeded embedder (BLAKE2b→PCG64→N(0,1),
    functions/embedding.py) is not SQL-expressible, so the builder runs the
    pure-Python pipeline twin driver-side — chunk_markdown(text, 400) →
    clip → embed_text → sequential-fold cosine vs the embedded query — and
    injects per-chunk similarities as a typed literal table. Chunk CONTENT
    is still derived independently in SQL (documents.text degenerates to
    exact 400-char slices — same invariant as the chunk_documents oracle),
    so the gate verifies the Spark chunker, store upsert, source filter,
    top-k ordering AND the distributed embed/cosine path end-to-end."""
    import os

    import duckdb

    from mcp_crawl4ai_rag_spark.config import MAX_DOCUMENT_LENGTH
    from mcp_crawl4ai_rag_spark.functions.chunking import chunk_markdown
    from mcp_crawl4ai_rag_spark.functions.embedding import embed_query, embed_text
    from mcp_crawl4ai_rag_spark.functions.tokenizer import (
        MAX_EMBED_TOKENS,
        get_tokenizer,
    )

    sf_dir = os.environ.get(_ORACLE_SF_DIR_ENV, _ORACLE_SF_DIR_DEFAULT)
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        "WHERE text IS NOT NULL AND length(text) > 0 ORDER BY doc_id"
    ).fetchall()
    con.close()
    tok = get_tokenizer()
    qv = embed_query(_RAG_QUERY, dim=EMB_DIM)
    sims = []
    for doc_id, text in docs:
        for k, chunk in enumerate(chunk_markdown(text, _RAG_CHUNK)):
            clipped = tok.truncate(chunk[:MAX_DOCUMENT_LENGTH], MAX_EMBED_TOKENS)
            v = embed_text(clipped, EMB_DIM)
            sims.append(
                f"({int(doc_id)}, {k}, "
                f"{_sql_double(round(_seq_cosine(v, qv), 4))})"
            )
    vals = ",\n        ".join(sims)
    piece = (
        f"trim(substr(d.text, CAST(ks.k * {_RAG_CHUNK} + 1 AS INTEGER), "
        f"{_RAG_CHUNK}))"
    )
    return f"""
WITH sims(doc_id, chunk_number, similarity) AS (
    VALUES {vals}
),
ch AS (
    SELECT d.doc_id, ks.k AS chunk_number, {piece} AS content
    FROM documents d
    JOIN (SELECT unnest(generate_series(0,
            (SELECT CAST((max(length(text)) - 1) // {_RAG_CHUNK} AS BIGINT)
             FROM documents))) AS k) ks
      ON ks.k <= (length(d.text) - 1) // {_RAG_CHUNK}
    WHERE d.text IS NOT NULL AND length(d.text) > 0
)
SELECT 'https://docs.example.com/d/' || CAST(c.doc_id AS VARCHAR) AS url,
       CAST(c.chunk_number AS INTEGER) AS chunk_number,
       c.content,
       'docs.example.com' AS source,
       s.similarity
FROM ch c
JOIN sims s ON s.doc_id = c.doc_id AND s.chunk_number = c.chunk_number
ORDER BY s.similarity DESC, url ASC, chunk_number ASC
LIMIT 5
"""


def _oracle_media_features() -> str:
    """Hash-verified oracle via Python-twin literal injection: the three
    modality aggregates are pure functions of the closed-form corpus id
    formulas (sources/corpus.py gen_images/gen_audio/gen_videos) and the
    fake codecs, so the builder regenerates all 3×500 payloads in-process
    (numpy, no Spark) with the same per-item math the mapInPandas
    extractors run, aggregates driver-side, and injects the three expected
    rows as typed literals. The gate then verifies the distributed
    plumbing: Arrow batching, codec round-trips, and Spark-side avg."""
    import numpy as np

    from mcp_crawl4ai_rag_spark.functions.images import (
        decode_image,
        encode_image,
        gen_pixels,
    )
    from mcp_crawl4ai_rag_spark.functions.media import (
        decode_audio,
        decode_video,
        encode_audio,
        encode_video,
        gen_frame,
        gen_waveform,
    )

    n = 500
    lums, edges = [], []
    for i in range(n):
        w, h = 32 + (i % 5) * 8, 32 + (i % 3) * 16
        fmt = "png" if i % 2 == 0 else "jpeg"
        blob = encode_image(gen_pixels(f"img_{i:012d}", w, h), fmt)
        _, px = decode_image(blob)
        f = px.astype(np.float64)
        gy, gx = np.gradient(f)
        lums.append(float(f.mean()))
        edges.append(float(np.mean(np.hypot(gx, gy) > 8.0)))
    rmss, zcs = [], []
    for i in range(n):
        sr = 8000 + (i % 3) * 4000
        ns = (sr * (2 + i % 4)) // 4
        fmt = "pcm" if i % 2 == 0 else "qpcm"
        blob = encode_audio(gen_waveform(f"aud_{i:012d}", sr, ns), sr, fmt)
        _, _, s = decode_audio(blob)
        f = s.astype(np.float64)
        rmss.append(float(np.sqrt(np.mean(f**2))))
        zcs.append(
            int(np.count_nonzero(np.signbit(f[1:]) != np.signbit(f[:-1])))
        )
    motions, durs = [], []
    for i in range(n):
        vid = f"vid_{i:012d}"
        w, h = 32 + (i % 3) * 16, 32 + (i % 2) * 16
        nf = 8 + (i % 4) * 4
        frames = np.stack([gen_frame(vid, w, h, k) for k in range(nf)])
        fps, dec = decode_video(encode_video(frames, 8))
        m = (
            float(
                np.mean(
                    np.abs(
                        dec[1:].astype(np.float64) - dec[:-1].astype(np.float64)
                    )
                )
            )
            if dec.shape[0] > 1
            else 0.0
        )
        motions.append(m)
        durs.append(int(dec.shape[0] * 1000) // fps)

    def row(kind: str, a: list, b: list) -> str:
        return (
            f"('{kind}', CAST({n} AS BIGINT), "
            f"{_sql_double(round(sum(a) / n, 3))}, "
            f"{_sql_double(round(sum(b) / n, 3))})"
        )

    vals = ",\n       ".join(
        [row("image", lums, edges), row("audio", rmss, zcs), row("video", motions, durs)]
    )
    return f"SELECT * FROM (VALUES\n       {vals}) AS t(kind, n, avg_a, avg_b)"


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------


def _dfs_order_literals() -> str:
    """DFS-preorder oracle via the sequential twin (visited-set stack DFS
    is not expressible as a min-over-all-paths recursive CTE — the claim
    key must come from each parent's CLAIMED key only, see
    operators/ordering.dfs_preorder). The builder replays
    py_dfs_preorder over the same modular graph at the oracle SF and
    injects (url, rank) literals — the quality_probe/rag_pipeline
    twin-injection precedent."""
    import os

    import duckdb

    from mcp_crawl4ai_rag_spark.operators.ordering import py_dfs_preorder

    sf_dir = os.environ.get(_ORACLE_SF_DIR_ENV, _ORACLE_SF_DIR_DEFAULT)
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()[0]
    con.close()

    class _FormulaTargets(dict):
        def get(self, u, default=None):
            return C.targets_of(u, n)

    def expandable(u: int) -> bool:
        return C.status_of(u) == 200 and u % C.PRIVATE_MOD != 0

    order = py_dfs_preorder(_FormulaTargets(), list(C.SEED_IDS), CRAWL_DEPTH, expandable)
    vals = ",\n       ".join(
        f"('{C.url_of(i, C.N_HOSTS)}', CAST({rank} AS BIGINT))"
        for rank, i in enumerate(order)
    )
    return f"SELECT * FROM (VALUES\n       {vals}) AS t(canonical_url, val)"


def _oracle_crawl_bfs_visited() -> str:
    bfs = f"""
{_WALK_CTE}
SELECT {C.oracle_url_sql('id')} AS canonical_url,
       CAST(MIN(depth) AS BIGINT) AS val
FROM walk
GROUP BY 1
"""
    return (
        _tagged(bfs, "'bfs' AS mode, canonical_url, val")
        + "\nUNION ALL\n"
        + _tagged(_dfs_order_literals(), "'dfs' AS mode, canonical_url, val")
        + "\nUNION ALL\n"
        + _tagged(_redirect_visited_literals(), "'redirect' AS mode, canonical_url, val")
        # stored-frontier leg: bit-identical to the in-memory BFS by
        # design (threshold pop from a bucketed table, non-binding
        # budgets), so it shares the BFS walk closed form
        + "\nUNION ALL\n"
        + _tagged(bfs, "'stored' AS mode, canonical_url, val")
        # composed-hardening leg: every policy guard in one engine run,
        # oracled by the sequential twin (py_crawl_hardened literals)
        + "\nUNION ALL\n"
        + _tagged(_hardened_visited_literals(), "'hardened' AS mode, canonical_url, val")
    )


def _redirect_visited_literals() -> str:
    """Redirect-crawl oracle via the sequential twin (plans/crawl.
    py_crawl_with_redirects) — epoch-bounded same-depth redirect hops are
    not expressible as a min-over-all-paths recursive CTE (a URL reachable
    via redirect at one epoch and via link at another must keep its FIRST
    discoverer's depth, which depends on the engine's seq order), so the
    builder replays the twin over the same closed forms at the oracle SF
    and injects (url, depth) literals — the DFS-leg precedent."""
    import os

    import duckdb

    from mcp_crawl4ai_rag_spark.plans.crawl import py_crawl_with_redirects
    from mcp_crawl4ai_rag_spark.sources.corpus import redirect_of

    sf_dir = os.environ.get(_ORACLE_SF_DIR_ENV, _ORACLE_SF_DIR_DEFAULT)
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()[0]
    con.close()
    visited = py_crawl_with_redirects(
        n, list(C.SEED_IDS), CRAWL_DEPTH, lambda i: redirect_of(i, n)
    )
    vals = ",\n       ".join(
        f"('{u}', CAST({d} AS BIGINT))" for u, d in sorted(visited.items())
    )
    return f"""
SELECT * FROM (VALUES
       {vals}
) AS t(canonical_url, val)
"""


def _oracle_crawl_lineage() -> str:
    exp = C.oracle_expandable_sql("id")
    return f"""
{_WALK_CTE},
d AS (SELECT id, MIN(depth) AS depth FROM walk GROUP BY id),
lv AS (
    SELECT depth,
           CAST(count(*) AS BIGINT) AS urls_scheduled,
           CAST(sum(CASE WHEN {exp} THEN 1 ELSE 0 END) AS BIGINT) AS pages_fetched,
           CAST(sum(CASE WHEN id % {C.PRIVATE_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS robots_denials
    FROM d GROUP BY depth
)
SELECT CAST(l.depth AS BIGINT) AS epoch,
       l.urls_scheduled, l.pages_fetched, l.robots_denials,
       CAST(COALESCE((SELECT x.urls_scheduled FROM lv x WHERE x.depth = l.depth + 1), 0)
            AS BIGINT) AS urls_discovered
FROM lv l
"""


def _oracle_politeness_drain() -> str:
    # closed-form schedule: per-host seq-order ranks; only the hot host
    # exceeds the epoch-0 budget (1800 > 1500); its overflow pops at epoch 1
    # (backoff-halved budget 750 ≥ 300 overflow rows).
    host = f"(CASE WHEN i % {C.HOT_HOST_MOD} = 0 THEN 0 ELSE i % {C.N_HOSTS} END)"
    ranks = f"""
WITH u AS (
    SELECT i, {host} AS h
    FROM (SELECT unnest(generate_series(0, {_DRAIN_M - 1})) AS i)
),
r AS (
    SELECT i, h, row_number() OVER (PARTITION BY h ORDER BY i) - 1 AS rk FROM u
)
"""
    drain = f"""
{ranks}
SELECT {C.oracle_url_sql('i')} AS canonical_url,
       CAST(CASE WHEN h = 0 AND rk >= 1500 THEN 1 ELSE 0 END AS BIGINT) AS epoch_seen
FROM r
"""
    # capped leg: epoch 0 pops everything except the hot host's 300 overflow
    # rows; the max_pages cap then keeps the first _DRAIN_CAP of that popped
    # set in seq (=i) order, and the run stops — every kept row epoch 0.
    capped = f"""
{ranks}
SELECT {C.oracle_url_sql('i')} AS canonical_url,
       CAST(0 AS BIGINT) AS epoch_seen
FROM r
WHERE NOT (h = 0 AND rk >= 1500)
ORDER BY i
LIMIT {_DRAIN_CAP}
"""
    # host_quota leg: every host's epoch-0 budget clamps to the 200 quota,
    # so exactly each host's first 200 rows (by seq) pop, all at epoch 0
    quota = f"""
{ranks}
SELECT {C.oracle_url_sql('i')} AS canonical_url,
       CAST(0 AS BIGINT) AS epoch_seen
FROM r
WHERE rk < {_HOST_QUOTA}
"""
    return (
        _tagged(drain, "'drain' AS mode, canonical_url, epoch_seen")
        + "\nUNION ALL\n"
        + _tagged(capped, "'capped' AS mode, canonical_url, epoch_seen")
        + "\nUNION ALL\n"
        + _tagged(quota, "'host_quota' AS mode, canonical_url, epoch_seen")
        # stored-frontier leg: bit-identical to the in-memory drain by
        # design (threshold pop from the bucketed table, binding budgets)
        + "\nUNION ALL\n"
        + _tagged(drain, "'stored' AS mode, canonical_url, epoch_seen")
    )


def _oracle_politeness_budgets() -> str:
    # effective delay = coalesce(crawl_delay, midpoint 2.0) * 2^backoff_level,
    # capped at 60; budget = max(floor(30/delay), 1). h1 has crawl_delay=2.0
    # (same as midpoint), backoff_level = h % 4.
    budget = f"""
SELECT 'h' || h || '.example.com' AS host,
       CAST(GREATEST(FLOOR(30.0 / LEAST(2.0 * POWER(2.0, h % 4), 60.0)), 1) AS BIGINT)
           AS value
FROM (SELECT unnest(generate_series(0, {C.N_HOSTS - 1})) AS h)
"""
    # quality-prior leg: the same 4dp quality restatement the text_signals
    # oracle uses, fixed-pointed to q4 BEFORE the per-host mean (sum // n)
    prior = f"""
WITH q AS ({_oracle_quality_score().strip()}),
j AS (
  SELECT d.source,
         CAST(floor(q.quality * 10000.0 + 0.5) AS BIGINT) AS q4
  FROM documents d JOIN q ON q.doc_id = d.doc_id
)
SELECT source || '.example.com' AS host,
       CAST(-(sum(q4) // count(*)) AS BIGINT) AS value
FROM j GROUP BY source
"""
    # keyword_prior leg: restate the 5-variant URL build + the fixed-point
    # keyword score. Keywords are matched on the WITH-suffix url (the '#frag'
    # variant scores like the base — no keyword in the fragment); the output
    # key is the fragment-stripped canonical url, mirroring the Spark leg.
    kw = f"""
WITH u AS (
  SELECT id,
         {C.oracle_url_sql('id')} ||
         CASE WHEN id % 5 = 1 THEN '#frag'
              WHEN id % 5 = 2 THEN '/file.pdf'
              WHEN id % 5 = 3 THEN '/sitemap.xml'
              WHEN id % 5 = 4 THEN '/readme.txt'
              ELSE '' END AS url
  FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS id)
)
SELECT CASE WHEN strpos(url, '#') > 0
            THEN substr(url, 1, strpos(url, '#') - 1) ELSE url END AS host,
       CAST(-((1000 * ((CASE WHEN contains(lower(url), 'private') THEN 1 ELSE 0 END)
                     + (CASE WHEN contains(lower(url), 'readme') THEN 1 ELSE 0 END)
                     + (CASE WHEN contains(lower(url), 'sitemap') THEN 1 ELSE 0 END)))
              // 3) AS BIGINT) AS value
FROM u
"""
    # rfc_allow leg: restate the longest-match precedence over the literal
    # rule set of _RFC_ROBOTS_BODY — matched-prefix lengths are constants
    # (Disallow '/private'=8, '/p/1'=4; Allow '/private/p/1'=12, '/p/12'=5),
    # denied iff the longest matching Disallow outweighs the longest Allow.
    rfc = f"""
WITH p AS (
  SELECT CASE WHEN id % 3 = 0 THEN '/private/p/' || id
              ELSE '/p/' || id END AS path
  FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS id)
)
SELECT path AS host,
       CAST(CASE WHEN
         GREATEST(CASE WHEN starts_with(path, '/private') THEN 8 ELSE -1 END,
                  CASE WHEN starts_with(path, '/p/1') THEN 4 ELSE -1 END)
         >
         GREATEST(CASE WHEN starts_with(path, '/private/p/1') THEN 12 ELSE -1 END,
                  CASE WHEN starts_with(path, '/p/12') THEN 5 ELSE -1 END)
       THEN 1 ELSE 0 END AS BIGINT) AS value
FROM p
"""
    # rfc_wildcard leg: the '*'/'$' rule set of _WILDCARD_ROBOTS_BODY
    # restated closed-form on the id that built each path (never a SQL
    # regex engine — the oracle re-derives the MATCH SETS from the path
    # formula). The match TARGET is path+query; query rows (id%3<>0,
    # id%7=1) append '?sessionid=<id>'. Per rule:
    # '/private' (spec 8) ⇔ id%3=0; '/p/*4$' (6) ⇔ non-private and the
    # target ends in '4' — for query rows sessionid=<id> also ends with
    # the id, so the condition is id%10=4 in BOTH cases; '/p/1*3' (6) ⇔
    # non-private, id starts '1' and a '3' follows ('sessionid' has no
    # '3' and the second id copy adds nothing new when id[0]='1');
    # '/p/*?sessionid=*' (16) ⇔ the query rows — the rule a path-only
    # match could never fire; Allow '/p/*44$' (7) ⇔ id%100=44 (loses to
    # the sessionid rule's 16 octets on query rows — precedence
    # exercised). Denied iff max disallow spec > max allow spec.
    wc = f"""
WITH p AS (
  SELECT id,
         CAST(id AS VARCHAR) AS ids,
         CASE WHEN id % 3 = 0 THEN '/private/p/' || id
              WHEN id % 7 = 1 THEN '/p/' || id || '?sessionid=' || id
              ELSE '/p/' || id END AS path
  FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS id)
)
SELECT path AS host,
       CAST(CASE WHEN
         GREATEST(CASE WHEN id % 3 = 0 THEN 8 ELSE -1 END,
                  CASE WHEN id % 3 <> 0 AND id % 10 = 4 THEN 6 ELSE -1 END,
                  CASE WHEN id % 3 <> 0 AND substr(ids, 1, 1) = '1'
                            AND strpos(substr(ids, 2), '3') > 0
                       THEN 6 ELSE -1 END,
                  CASE WHEN id % 3 <> 0 AND id % 7 = 1 THEN 16 ELSE -1 END)
         >
         (CASE WHEN id % 3 <> 0 AND id % 100 = 44 THEN 7 ELSE -1 END)
       THEN 1 ELSE 0 END AS BIGINT) AS value
FROM p
"""
    # template_guard leg: the generalized family of each 5-variant URL is
    # closed-form on id (digits -> 'N'; the literal segments stay), so the
    # oracle rebuilds template strings and GROUP BYs them — same counts
    # the engine's map-side-combined aggregate produces.
    tg = f"""
WITH t AS (
  SELECT 'h' || (CASE WHEN id % {C.HOT_HOST_MOD} = 0 THEN 0
                      ELSE id % {C.N_HOSTS} END) || '.example.com' AS hoststr,
         (CASE WHEN id % {C.PRIVATE_MOD} = 0 THEN '/private/p/N'
               ELSE '/p/N' END) ||
         (CASE WHEN id % 5 = 2 THEN '/file.pdf'
               WHEN id % 5 = 3 THEN '/sitemap.xml'
               WHEN id % 5 = 4 THEN '/readme.txt'
               ELSE '' END) ||
         (CASE WHEN id % 5 = 1 THEN '?a&b&utm_source' ELSE '' END) AS tpl
  FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS id)
)
SELECT hoststr || ' ' || hoststr || tpl AS host,
       CAST(count(*) AS BIGINT) AS value
FROM t GROUP BY hoststr, tpl
"""
    # domain_collapse leg: every corpus host is a subdomain of example.com
    # (n rows collapse to one); the exotic literals restate the eTLD+1
    # rules by hand (multi-label suffixes keep 3 labels; IPs/single-label
    # hosts are themselves)
    dc = f"""
SELECT 'example.com' AS host, CAST({N_SQL} AS BIGINT) AS value
UNION ALL SELECT 'example.net', CAST(1 AS BIGINT)
UNION ALL SELECT 'x.co.uk', CAST(3 AS BIGINT)
UNION ALL SELECT 'single', CAST(1 AS BIGINT)
UNION ALL SELECT '10.0.0.1', CAST(1 AS BIGINT)
UNION ALL SELECT 'user.github.io', CAST(2 AS BIGINT)
UNION ALL SELECT 'shop.com.au', CAST(2 AS BIGINT)
"""
    # robots_status leg: the section-2.3.1 posture of each literal fetch
    # row restated by status class (2xx parses — '/private' is posture 1,
    # empty body posture 0; 4xx open; 5xx/None/3xx closed)
    rs = """
SELECT 's200.example.com' AS host, CAST(1 AS BIGINT) AS value
UNION ALL SELECT 's200empty.example.com', CAST(0 AS BIGINT)
UNION ALL SELECT 's404.example.com', CAST(0 AS BIGINT)
UNION ALL SELECT 's403.example.com', CAST(0 AS BIGINT)
UNION ALL SELECT 's500.example.com', CAST(2 AS BIGINT)
UNION ALL SELECT 's503.example.com', CAST(2 AS BIGINT)
UNION ALL SELECT 'snone.example.com', CAST(2 AS BIGINT)
UNION ALL SELECT 's301.example.com', CAST(2 AS BIGINT)
"""
    # composite_prior leg: the four milli-scores restated — keyword contains
    # flags, path-segment count closed-form from the corpus/suffix formulas,
    # freshness via the same year regex on the same built string, domain
    # authority as a host CASE — then the weighted integer mean, negated.
    comp = f"""
WITH u AS (
  SELECT id,
         (CASE WHEN (id) % {C.HOT_HOST_MOD} = 0 THEN 0 ELSE (id) % {C.N_HOSTS} END) AS h,
         {C.oracle_url_sql('id')} ||
         CASE WHEN id % 4 = 1 THEN '/docs/guide/deep'
              WHEN id % 4 = 2 THEN '/2019/post'
              WHEN id % 4 = 3 THEN '/2026/readme.txt'
              ELSE '' END AS url
  FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS id)
),
s AS (
  SELECT url,
         (1000 * ((CASE WHEN contains(lower(url), 'private') THEN 1 ELSE 0 END)
                + (CASE WHEN contains(lower(url), 'readme') THEN 1 ELSE 0 END)
                + (CASE WHEN contains(lower(url), 'sitemap') THEN 1 ELSE 0 END))) // 3
             AS kw,
         1000 // (1 + ABS(((CASE WHEN id % {C.PRIVATE_MOD} = 0 THEN 3 ELSE 2 END)
                         + (CASE WHEN id % 4 = 1 THEN 3
                                 WHEN id % 4 IN (2, 3) THEN 2
                                 ELSE 0 END)) - 3)) AS pd,
         (CASE WHEN NULLIF(regexp_extract(url, '(19|20)[0-9]{{2}}', 0), '') IS NULL
               THEN 500
               ELSE GREATEST(0, LEAST(1000, 1000 - 100 * ({_COMPOSITE_NOW_YEAR}
                 - CAST(regexp_extract(url, '(19|20)[0-9]{{2}}', 0) AS INT))))
          END) AS fr,
         (CASE WHEN h = 0 THEN 900 WHEN h = 1 THEN 700 ELSE 500 END) AS da
  FROM u
)
SELECT url AS host,
       CAST(-((500 * kw + 250 * pd + 125 * fr + 125 * da) // 1000) AS BIGINT) AS value
FROM s
"""
    return (
        _tagged(budget, "'budget' AS mode, host, value")
        + "\nUNION ALL\n"
        + _tagged(prior, "'quality_prior' AS mode, host, value")
        + "\nUNION ALL\n"
        + _tagged(kw, "'keyword_prior' AS mode, host, value")
        + "\nUNION ALL\n"
        + _tagged(rfc, "'rfc_allow' AS mode, host, value")
        + "\nUNION ALL\n"
        + _tagged(wc, "'rfc_wildcard' AS mode, host, value")
        + "\nUNION ALL\n"
        + _tagged(comp, "'composite_prior' AS mode, host, value")
        + "\nUNION ALL\n"
        + _tagged(tg, "'template_guard' AS mode, host, value")
        + "\nUNION ALL\n"
        + _tagged(dc, "'domain_collapse' AS mode, host, value")
        + "\nUNION ALL\n"
        + _tagged(rs, "'robots_status' AS mode, host, value")
    )


def _oracle_urlseen_antijoin() -> str:
    return f"""
SELECT {C.oracle_url_sql('i')} AS canonical_url
FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS i)
WHERE i % 3 <> 0
"""


def _oracle_url_kernels() -> str:
    base = C.oracle_url_sql("id")
    host = f"(CASE WHEN (id) % {C.HOT_HOST_MOD} = 0 THEN 0 ELSE (id) % {C.N_HOSTS} END)"
    path = (
        f"((CASE WHEN (id) % {C.PRIVATE_MOD} = 0 THEN '/private/p/' ELSE '/p/' END) || id)"
    )
    # trap-decorated rows (id >= 2000): suffix by id % 4 — consecutive-repeat
    # path / 24-deep path / 12-param query / 2100-char segment; none carries
    # a fragment, a tracking param, or an unsorted query, so canonical ==
    # strict == raw for these rows
    trap_suffix = (
        "CASE WHEN id % 4 = 0 THEN '/x/x/x/x'"
        f" WHEN id % 4 = 1 THEN '{_TRAP_DEEP_SUFFIX}'"
        f" WHEN id % 4 = 2 THEN '{_TRAP_PARAM_SUFFIX}'"
        " ELSE '/' || repeat('z', 2100) END"
    )
    trap_path_suffix = (
        "CASE WHEN id % 4 = 0 THEN '/x/x/x/x'"
        f" WHEN id % 4 = 1 THEN '{_TRAP_DEEP_SUFFIX}'"
        " WHEN id % 4 = 2 THEN ''"
        " ELSE '/' || repeat('z', 2100) END"
    )
    return f"""
SELECT id,
       CASE WHEN id >= 2000 THEN {base} || ({trap_suffix})
            WHEN id % 5 = 0 THEN {base}
            WHEN id % 5 = 1 THEN {base} || '?utm_source=x&b=2&a=1'
            WHEN id % 5 = 2 THEN {base} || '/file.pdf'
            WHEN id % 5 = 3 THEN {base} || '/sitemap.xml'
            ELSE {base} || '/readme.txt' END AS canonical_url,
       'h' || {host} || '.example.com' AS host,
       CASE WHEN id >= 2000 THEN {path} || ({trap_path_suffix})
            WHEN id % 5 IN (0, 1) THEN {path}
            WHEN id % 5 = 2 THEN {path} || '/file.pdf'
            WHEN id % 5 = 3 THEN {path} || '/sitemap.xml'
            ELSE {path} || '/readme.txt' END AS path,
       CASE WHEN id < 2000 AND id % 5 = 2 THEN 1 ELSE 0 END AS is_binary,
       CASE WHEN id >= 2000 THEN 'webpage'
            WHEN id % 5 = 4 THEN 'text_file'
            WHEN id % 5 = 3 THEN 'sitemap'
            ELSE 'webpage' END AS url_class,
       -- glob kernel closed-form: '*.txt' ⇔ the readme variant, '*sitemap*'
       -- ⇔ the sitemap variant, '*/private/*' ⇔ the robots-denied path
       -- (trap suffixes never match the first two)
       CASE WHEN id % {C.PRIVATE_MOD} = 0 THEN 1
            WHEN id < 2000 AND id % 5 IN (3, 4) THEN 1
            ELSE 0 END AS glob_hit,
       -- strict canonicalization: utm dropped, remaining query sorted;
       -- hosts already lowercase and portless, so other variants equal
       -- their canonical form (trap rows: p01..p12 already name-sorted)
       CASE WHEN id >= 2000 THEN {base} || ({trap_suffix})
            WHEN id % 5 = 0 THEN {base}
            WHEN id % 5 = 1 THEN {base} || '?a=1&b=2'
            WHEN id % 5 = 2 THEN {base} || '/file.pdf'
            WHEN id % 5 = 3 THEN {base} || '/sitemap.xml'
            ELSE {base} || '/readme.txt' END AS strict_url,
       -- crawl-trap signals: base paths never repeat a segment, so only the
       -- repeat-suffix rows carry a run (1 + the 4 'x' segments start fresh:
       -- run 4); every decorated row trips exactly one structural cap
       CAST(CASE WHEN id >= 2000 AND id % 4 = 0 THEN 4 ELSE 1 END AS BIGINT)
           AS max_seg_run,
       CASE WHEN id >= 2000 THEN 1 ELSE 0 END AS is_trap
FROM (SELECT unnest(generate_series(0, 2399)) AS id)
"""


def _oracle_sitemap_expand() -> str:
    # host(i)=1 ⇔ i%HOT_HOST_MOD≠0 AND i%N_HOSTS=1; the sitemap tree of host
    # h flattens to exactly that host's page set (corpus.gen_sitemaps).
    expand = f"""
SELECT {C.oracle_url_sql('i')} AS canonical_url
FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS i)
WHERE i % {C.HOT_HOST_MOD} <> 0 AND i % {C.N_HOSTS} = 1
"""
    # discovery leg: gen_robots_bodies is closed-form in h — every host
    # advertises sitemap_index.xml, every 3rd also sitemap_news.xml
    discovery = f"""
SELECT 'https://h' || h || '.example.com/sitemap_index.xml' AS canonical_url
FROM (SELECT unnest(generate_series(0, {C.N_HOSTS - 1})) AS h)
UNION ALL
SELECT 'https://h' || h || '.example.com/sitemap_news.xml' AS canonical_url
FROM (SELECT unnest(generate_series(0, {C.N_HOSTS - 1})) AS h)
WHERE h % 3 = 0
"""
    # lastmod leg: same host-1 page set; <lastmod> = 2026-01-(1 + i%28)
    # by the gen_sitemaps closed form, age vs the fixed NOW constant
    lastmod = f"""
SELECT {C.oracle_url_sql('i')} AS canonical_url,
       CAST(GREATEST(0, LEAST(3650, date_diff('day',
           CAST('2026-01-' || lpad(CAST((i % 28) + 1 AS VARCHAR), 2, '0') AS DATE),
           DATE '{_LASTMOD_NOW}'))) AS BIGINT) AS val
FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS i)
WHERE i % {C.HOT_HOST_MOD} <> 0 AND i % {C.N_HOSTS} = 1
"""
    # priority leg: same host-1 page set; <priority> = i%11 ladder
    # ('1.0' at 10, else '0.'||(i%11)) by the gen_sitemaps closed form,
    # inverted fixed-point milli
    priority = f"""
SELECT {C.oracle_url_sql('i')} AS canonical_url,
       CAST(CASE WHEN i % 11 = 10 THEN 0
                 ELSE 1000 - 100 * (i % 11) END AS BIGINT) AS val
FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS i)
WHERE i % {C.HOT_HOST_MOD} <> 0 AND i % {C.N_HOSTS} = 1
"""
    # changefreq leg: same host-1 page set; <changefreq> cycles the
    # sitemaps.org vocabulary by i%7 (gen_sitemaps closed form), mapped
    # to recrawl-interval hours
    changefreq = f"""
SELECT {C.oracle_url_sql('i')} AS canonical_url,
       CAST(CASE i % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 24
                       WHEN 3 THEN 168 WHEN 4 THEN 720 WHEN 5 THEN 8760
                       ELSE 87600 END AS BIGINT) AS val
FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS i)
WHERE i % {C.HOT_HOST_MOD} <> 0 AND i % {C.N_HOSTS} = 1
"""
    return (
        _tagged(expand, "'expand' AS mode, canonical_url, CAST(NULL AS BIGINT) AS val")
        + "\nUNION ALL\n"
        + _tagged(discovery, "'discovery' AS mode, canonical_url, CAST(NULL AS BIGINT) AS val")
        + "\nUNION ALL\n"
        + _tagged(lastmod, "'lastmod' AS mode, canonical_url, val")
        + "\nUNION ALL\n"
        + _tagged(priority, "'priority' AS mode, canonical_url, val")
        + "\nUNION ALL\n"
        + _tagged(changefreq, "'changefreq' AS mode, canonical_url, val")
    )


def _oracle_smart_crawl_sitemap() -> str:
    return f"""
SELECT {C.oracle_url_sql('i')} AS canonical_url
FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS i)
WHERE i % {C.HOT_HOST_MOD} <> 0 AND i % {C.N_HOSTS} = 1
  AND {C.oracle_expandable_sql('i')}
"""


def _oracle_smart_crawl_webpage() -> str:
    # accepted targets = host 0 (prefix 'h0.example.com/p' matches both /p/
    # and /private/p/ paths); expansion only from fetched+robots-allowed.
    return f"""
WITH RECURSIVE walk(id, depth) AS (
    SELECT 4, 0
    UNION ALL
    SELECT tt.t, w.depth + 1
    FROM walk w
    CROSS JOIN (VALUES {_EDGE_JS}) j(j)
    CROSS JOIN LATERAL (
        SELECT ({C.EDGE_A} * w.id + {C.EDGE_B} * j.j + {C.EDGE_C}) % {N_SQL} AS t
    ) tt
    WHERE w.depth < {CRAWL_DEPTH - 1}
      AND {C.oracle_expandable_sql('w.id')}
      AND (tt.t % {C.HOT_HOST_MOD} = 0 OR tt.t % {C.N_HOSTS} = 0)
)
SELECT {C.oracle_url_sql('id')} AS canonical_url,
       CAST(MIN(depth) AS BIGINT) AS depth
FROM walk
GROUP BY 1
"""


# the decoded charset-plant prefixes as a SQL CASE over i % WARC_CHARSET_MOD
# (single-sourced from sources/corpus.WARC_CHARSET_PLAN — prefix paragraph
# + blank line before the page markdown, '' for utf-8 pages)
def _warc_prefix_sql() -> str:
    whens = "".join(
        f" WHEN {r} THEN '{plan[3]}' || chr(10) || chr(10)"
        for r, plan in sorted(C.WARC_CHARSET_PLAN.items())
    )
    return f"(CASE i % {C.WARC_CHARSET_MOD}{whens} ELSE '' END)"


def _oracle_chunk_documents() -> str:
    # leg 'doc': documents.text has no '\n\n', no '```', no '. ' → the
    # greedy chunker degenerates to exact 200-char slices (verified by the
    # engine's own chunker semantics; see functions/chunking.py).
    # legs 'html_md'/'html_chunk': the expected EXTRACTED markdown restated
    # character-for-character from gen_html_pages' closed-form id formulas
    # (sources/corpus.py) — heading markers, entity decodes, fence, list,
    # link/image rewrites, whitespace normalization all included. The
    # html_chunk leg equals the markdown because the page is < 800 chars
    # (single-chunk degeneracy, same invariant family as leg 'doc').
    from mcp_crawl4ai_rag_spark.sources.corpus import oracle_url_sql

    _WARC_PREFIX_SQL = _warc_prefix_sql()
    piece = "trim(substr(d.text, CAST(ks.k * 200 + 1 AS INTEGER), 200))"
    nl = "chr(10)"
    nl2 = f"{nl} || {nl}"
    u0 = oracle_url_sql(f"(31*i + 1) % {_HTML_N_SQL}")
    u2 = oracle_url_sql(f"(31*i + 15) % {_HTML_N_SQL}")
    host = f"(CASE WHEN i % {C.HOT_HOST_MOD} = 0 THEN 0 ELSE i % {C.N_HOSTS} END)"
    md = (
        f"'# Page ' || i || {nl2} || "
        f"'Synthetic host h' || {host} || '.example.com body text with words."
        f" More sentences here.' || {nl2} || "
        f"'## Section' || {nl2} || "
        f"'```' || {nl} || 'code block line ' || (i % 13) || {nl} || '```' || {nl2} || "
        f"'Tail paragraph ' || rtrim(repeat('filler' || (i % 17) || ' ', 12)) || {nl2} || "
        f"'- alpha ' || (i % 7) || {nl} || '- beta & gamma' || {nl2} || "
        f"'See [next page](' || {u0} || ') and [more](' || {u2} || ') and "
        f"![pic ' || i || '](https://h' || {host} || '.example.com/img_' || i || '.png)'"
    )
    return f"""
WITH mdq AS (
    SELECT i, {C.oracle_url_sql('i')} AS url, {md} AS md
    FROM (SELECT unnest(generate_series(0, {_HTML_N_SQL} - 1)) AS i)
)
SELECT 'doc' AS leg,
       CAST(d.doc_id AS VARCHAR) AS key,
       CAST(ks.k AS BIGINT) AS chunk_number,
       {piece} AS content,
       CAST(length({piece}) AS BIGINT) AS char_count,
       CAST(len(regexp_extract_all({piece}, '{_WS_RE}')) AS BIGINT) AS word_count
FROM documents d
JOIN (SELECT unnest(generate_series(0, (SELECT CAST((max(length(text)) - 1) // 200 AS BIGINT) FROM documents))) AS k) ks
  ON ks.k <= (length(d.text) - 1) // 200
WHERE length(d.text) > 0
UNION ALL
SELECT 'html_md', url, CAST(0 AS BIGINT), md,
       CAST(length(md) AS BIGINT),
       CAST(len(regexp_extract_all(md, '{_WS_RE}')) AS BIGINT)
FROM mdq
UNION ALL
SELECT 'html_chunk', url, CAST(0 AS BIGINT), md,
       CAST(length(md) AS BIGINT),
       CAST(len(regexp_extract_all(md, '{_WS_RE}')) AS BIGINT)
FROM mdq
UNION ALL
-- warc leg: the archive parse recovers exactly the live corpus minus the
-- down pages (WARC_404_MOD), then the same extraction closed form applies.
-- Legacy-charset planted pages (WARC_CHARSET_PLAN residues of i % 7) are
-- archived in latin-1 / windows-1251 / shift-jis / BOM'd utf-16 with a
-- non-ASCII prefix paragraph; the oracle restates the DECODED prefix
-- verbatim, so mojibake in the charset sniffer would hash-mismatch here
SELECT 'warc', url, CAST(0 AS BIGINT),
       {_WARC_PREFIX_SQL} || md,
       CAST(length({_WARC_PREFIX_SQL} || md) AS BIGINT),
       CAST(len(regexp_extract_all({_WARC_PREFIX_SQL} || md, '{_WS_RE}')) AS BIGINT)
FROM mdq WHERE i % {C.WARC_404_MOD} <> 0
"""


def _oracle_doc_token_stats() -> str:
    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS char_count,
       CAST(len(regexp_extract_all(text, '{_WS_RE}')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS bpe_tokens,
       CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS BIGINT) AS punct_chars
FROM documents
"""


def _sql_stopword_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(regexp_extract_all(lower(text), '{_WS_RE}'), "
        f"t -> list_contains([{words}], t)))"
    )


def _oracle_lang_id() -> str:
    hits = {lg: f"h_{lg}" for lg in LANG_ORDER}
    hit_cols = ",\n           ".join(
        f"{_sql_stopword_hits(lg)} AS {hits[lg]}" for lg in LANG_ORDER
    )
    best = "GREATEST(" + ", ".join(hits.values()) + ")"
    whens = "\n            ".join(
        f"WHEN {hits[lg]} = {best} THEN '{lg}'" for lg in LANG_ORDER
    )
    return f"""
WITH h AS (
    SELECT doc_id,
           {hit_cols}
    FROM documents
)
SELECT doc_id,
       CASE WHEN {best} = 0 THEN 'und'
            {whens}
            ELSE 'und' END AS lang_pred
FROM h
"""


def _oracle_quality_score() -> str:
    h_en = _sql_stopword_hits("en")
    nw = f"len(regexp_extract_all(text, '{_WS_RE}'))"
    np_ = f"len(regexp_extract_all(text, '{_PUNCT_RE}'))"
    return f"""
SELECT doc_id,
       round(
         0.4 * LEAST(1.0, CAST(length(text) AS DOUBLE) / 500.0)
       + 0.3 * (1.0 - CAST({np_} AS DOUBLE) / GREATEST(CAST(length(text) AS DOUBLE), 1.0))
       + 0.3 * LEAST(1.0, 3.0 * CAST({h_en} AS DOUBLE) / GREATEST(CAST({nw} AS DOUBLE), 1.0)),
       4) AS quality
FROM documents
"""


def _oracle_exact_dedup() -> str:
    return f"""
SELECT md5(array_to_string(regexp_extract_all(lower(text), '{_WS_RE}'), ' '))
           AS fingerprint,
       CAST(count(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS canonical_id
FROM documents
GROUP BY 1
"""


def _oracle_sources_distinct() -> str:
    return """
SELECT source FROM documents WHERE source IS NOT NULL
GROUP BY source ORDER BY source LIMIT 1000
"""


def _sql_shingles(text_expr: str, k: int = 3) -> str:
    w = f"regexp_extract_all(lower({text_expr}), '{_WS_RE}')"
    return (
        f"list_distinct(list_transform("
        f"generate_series(0, GREATEST(len({w}) - {k}, 0)), "
        f"i -> array_to_string(({w})[i + 1:i + {k}], ' ')))"
    )


def _minhash_pairs_ctes(docs_name: str) -> str:
    """CTE chain `shl, sh, mh, bands, cand` computing MinHash+LSH candidate
    pairs over a corpus CTE named ``docs_name`` — shared by the pairs oracle
    and the connected-components oracle. Caller supplies the WITH header and
    a final SELECT over `cand ⋈ shl` for the exact Jaccard."""
    # Kirsch-Mitzenmacher permutations: two 56-bit md5 draws per shingle,
    # perm p = (h1 + p*h2) % 2^56 — mirrors operators/dedup.py exactly
    from mcp_crawl4ai_rag_spark.functions.hashing import sql_md5int56
    from mcp_crawl4ai_rag_spark.operators.dedup import MINHASH_MOD

    mh_cols = ",\n           ".join(
        f"MIN((h1 + {p} * h2) % {MINHASH_MOD}) AS m{p}"
        for p in range(_N_PERMS)
    )
    band_selects = []
    for b in range(_N_BANDS):
        cols = " || ',' || ".join(
            f"CAST(m{b * _ROWS_PER_BAND + r} AS VARCHAR)" for r in range(_ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5({cols}) AS band_key FROM mh"
        )
    bands = "\n    UNION ALL\n    ".join(band_selects)
    return f"""shl AS (SELECT doc_id, {_sql_shingles('text')} AS sh FROM {docs_name}),
sh AS (SELECT doc_id,
              {sql_md5int56("'mhA:' || shingle")} AS h1,
              {sql_md5int56("'mhB:' || shingle")} AS h2
       FROM (SELECT doc_id, unnest(sh) AS shingle FROM shl)),
mh AS (
    SELECT doc_id,
           {mh_cols}
    FROM sh GROUP BY doc_id
),
bands AS (
    {bands}
),
cand AS (
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
    FROM bands x JOIN bands y
      ON x.band_idx = y.band_idx AND x.band_key = y.band_key
     AND x.doc_id < y.doc_id
)"""


_PAIRS_SELECT_SQL = """
SELECT c.id_a, c.id_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) AS jaccard
FROM cand c
JOIN shl a ON a.doc_id = c.id_a
JOIN shl b ON b.doc_id = c.id_b
"""


def _oracle_minhash_lsh_pairs() -> str:
    return f"""
WITH {_DOCS2_SQL.strip()},
{_minhash_pairs_ctes('docs2')}
{_PAIRS_SELECT_SQL.strip()}
"""


_COMPONENTS_MIN_JACCARD = 0.5


def _oracle_dedup_components() -> str:
    """Three tagged legs (see :func:`q_dedup_components`): the minhash
    leg's transitive closure over the ≥-threshold MinHash pair graph via a
    fixpoint recursive CTE (UNION dedups, so cycles terminate), then
    component_id = min reachable id; kept ⇔ the doc IS its component's
    min — mirrors operators/components.py hash-min semantics exactly. The
    quality leg re-ranks the SAME components by whitespace token count
    (ties → lowest id, the best_member_keep struct tie-break). The
    semantic leg re-derives SemDeDup end-to-end (:func:`_oracle_semdedup`)."""
    sel_mh = (
        "'minhash' AS mode, CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(component_id AS BIGINT) AS component_id, kept, "
        "CAST(0.0 AS DOUBLE) AS score"
    )
    sel_qual = (
        "'quality' AS mode, CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(component_id AS BIGINT) AS component_id, kept, "
        "CAST(score AS DOUBLE) AS score"
    )
    sel_sem = (
        "'semantic' AS mode, CAST(doc_id AS BIGINT) AS doc_id, "
        "CAST(component_id AS BIGINT) AS component_id, kept, "
        "CAST(score AS DOUBLE) AS score"
    )
    return (
        _tagged(_oracle_dedup_components_minhash(), sel_mh)
        + "\nUNION ALL\n"
        + _tagged(_oracle_dedup_components_quality(), sel_qual)
        + "\nUNION ALL\n"
        + _tagged(_oracle_semdedup(), sel_sem)
    )


def _oracle_dedup_components_quality() -> str:
    return f"""
WITH RECURSIVE {_DOCS3_SQL.strip()},
{_minhash_pairs_ctes('docs3')},
pairs AS (
    SELECT id_a, id_b FROM ({_PAIRS_SELECT_SQL.strip()}) p
    WHERE p.jaccard >= {_COMPONENTS_MIN_JACCARD}
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM docs3
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src),
tc AS (
    SELECT doc_id, len(regexp_extract_all(text, '{_WS_RE}')) AS tc
    FROM docs3
),
j AS (
    SELECT comp.doc_id, comp.component_id, tc.tc
    FROM comp JOIN tc ON tc.doc_id = comp.doc_id
),
best AS (
    SELECT component_id, doc_id AS best_id FROM (
        SELECT component_id, doc_id,
               row_number() OVER (
                 PARTITION BY component_id ORDER BY tc DESC, doc_id ASC
               ) AS rn
        FROM j
    ) WHERE rn = 1
)
SELECT j.doc_id, j.component_id,
       (j.doc_id = best.best_id) AS kept,
       j.tc AS score
FROM j JOIN best ON best.component_id = j.component_id
"""


def _oracle_dedup_components_minhash() -> str:
    return f"""
WITH RECURSIVE {_DOCS3_SQL.strip()},
{_minhash_pairs_ctes('docs3')},
pairs AS (
    SELECT id_a, id_b FROM ({_PAIRS_SELECT_SQL.strip()}) p
    WHERE p.jaccard >= {_COMPONENTS_MIN_JACCARD}
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM docs3
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id,
       MIN(dst) AS component_id,
       (src = MIN(dst)) AS kept
FROM reach GROUP BY src
"""


def _sql_split_case(key_expr: str) -> str:
    """CASE chain twin of hash_split over ``key_expr`` — cumulative
    boundaries replicated with hash_split's exact float arithmetic
    (0.8 + 0.1 != 0.9 in IEEE; repr round-trips the bits)."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import sql_split_fraction

    frac = sql_split_fraction(key_expr, _SPLIT_SALT)
    total = sum(_SPLIT_WEIGHTS.values())
    items = list(_SPLIT_WEIGHTS.items())
    whens, cum = [], 0.0
    for name, w in items[:-1]:
        cum += w / total
        whens.append(f"WHEN {frac} < {cum!r} THEN '{name}'")
    chain = "\n            ".join(whens)
    return f"CASE {chain}\n            ELSE '{items[-1][0]}' END"


def _oracle_corpus_split() -> str:
    # component leg: same component CTEs as _oracle_dedup_components, split
    # key = min reachable id (every doc reaches itself, so the key is total);
    # CTEs hoisted to the top — WITH cannot follow UNION ALL
    return f"""
WITH RECURSIVE {_DOCS3_SQL.strip()},
{_minhash_pairs_ctes('docs3')},
pairs AS (
    SELECT id_a, id_b FROM ({_PAIRS_SELECT_SQL.strip()}) p
    WHERE p.jaccard >= {_COMPONENTS_MIN_JACCARD}
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM docs3
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src)
SELECT 'doc' AS mode, doc_id,
       {_sql_split_case("doc_id")} AS split
FROM documents
UNION ALL
SELECT 'component' AS mode, doc_id,
       {_sql_split_case("component_id")} AS split
FROM comp
"""


def _oracle_vocab_topk() -> str:
    return f"""
SELECT token,
       CAST(count(*) AS BIGINT) AS tf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{_WS_RE}')) AS token
      FROM documents)
GROUP BY token
ORDER BY tf DESC, token ASC
LIMIT 100
"""


def _oracle_contamination() -> str:
    sel = "eval_id, train_id, n_common, eval_shingles, overlap_frac"
    return (
        _tagged(_oracle_contamination_ngram(), f"'ngram' AS mode, {sel}")
        + "\nUNION ALL\n"
        + _tagged(_oracle_contamination_semantic(), f"'semantic' AS mode, {sel}")
    )


def _oracle_contamination_semantic() -> str:
    cos = _sql_cosine("t.embedding", "e.ev")
    return f"""
WITH ev AS (
  SELECT vec_id + 7000000 AS eval_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * 0.95 + 0.02) AS ev
  FROM embeddings WHERE vec_id % 13 = 0
),
tr AS (SELECT vec_id AS train_id, embedding FROM embeddings)
SELECT e.eval_id, t.train_id,
       CAST(0 AS BIGINT) AS n_common,
       CAST(0 AS BIGINT) AS eval_shingles,
       round({cos}, 4) AS overlap_frac
FROM tr t CROSS JOIN ev e
WHERE round({cos}, 4) >= 0.9
"""


def _oracle_contamination_ngram() -> str:
    sh13 = _sql_shingles("text", 13)
    h = _sql_md5int64("'ct:' || sh")
    return f"""
WITH ev_docs AS (
    SELECT doc_id + 5000000 AS doc_id, substr(text, 101) AS text
    FROM documents WHERE doc_id % 7 = 0
),
tr AS (
    SELECT DISTINCT doc_id AS train_id, {h} AS sh
    FROM (SELECT doc_id, unnest({sh13}) AS sh FROM documents)
),
ev AS (
    SELECT DISTINCT doc_id AS eval_id, {h} AS sh
    FROM (SELECT doc_id, unnest({sh13}) AS sh FROM ev_docs)
),
sizes AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS eval_shingles FROM ev GROUP BY eval_id),
hits AS (
    SELECT ev.eval_id, tr.train_id, CAST(count(*) AS BIGINT) AS n_common
    FROM ev JOIN tr ON ev.sh = tr.sh
    GROUP BY ev.eval_id, tr.train_id
    HAVING count(*) >= 2
)
SELECT h.eval_id, h.train_id, h.n_common, s.eval_shingles,
       round(CAST(h.n_common AS DOUBLE) / CAST(s.eval_shingles AS DOUBLE), 4)
           AS overlap_frac
FROM hits h JOIN sizes s ON h.eval_id = s.eval_id
"""


def _oracle_simhash_pairs() -> str:
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN ((h >> {k}) & 1) = 1 THEN 1 ELSE -1 END) AS b{k}"
        for k in range(_SIM_BITS)
    )
    sim_val = " + ".join(
        f"CASE WHEN b{k} > 0 THEN {1 << k} ELSE 0 END" for k in range(_SIM_BITS)
    )
    return f"""
WITH {_DOCS2_SQL.strip()},
tok AS (
    SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '{_WS_RE}')) AS tok
    FROM docs2
),
th AS (SELECT doc_id, {_sql_md5int64("'sh:' || tok")} AS h FROM tok),
bits AS (
    SELECT doc_id,
           {bit_sums}
    FROM th GROUP BY doc_id
),
sim AS (SELECT doc_id, CAST({sim_val} AS BIGINT) AS simhash FROM bits)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _oracle_embedding_topk() -> str:
    cos = _sql_cosine("e.embedding", "q.qe")
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, round({cos}, 4) AS sim
FROM embeddings e CROSS JOIN q
WHERE e.vec_id > 0
ORDER BY sim DESC, e.vec_id
LIMIT 10
"""


def _oracle_ann_lsh_topk() -> str:
    bucket_terms = " + ".join(
        f"CASE WHEN {_sql_dot('e.embedding', _plane_sql(p, EMB_DIM))} > 0 "
        f"THEN {1 << p} ELSE 0 END"
        for p in range(_LSH_PLANES)
    )
    cos = _sql_cosine("b.embedding", "q.qe")
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
b AS (
    SELECT e.vec_id, e.embedding, ({bucket_terms}) AS bucket
    FROM embeddings e
),
qb AS (SELECT bucket FROM b WHERE vec_id = 0)
SELECT b.vec_id, round({cos}, 4) AS sim
FROM b CROSS JOIN q CROSS JOIN qb
WHERE b.bucket = qb.bucket
ORDER BY sim DESC, b.vec_id
LIMIT 5
"""


def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: exact cosine top-5 over the radius-1 bucket
    ball around the query's bucket (bit_count(xor) ≤ 1) — the recall remedy
    the ann_recall harness motivates."""
    from mcp_crawl4ai_rag_spark.operators.similarity import lsh_multiprobe_ann

    embs = _embs(spark, sf_dir)
    q = list(embs.where(F.col("vec_id") == 0).select("embedding").head()[0])
    return lsh_multiprobe_ann(
        embs.where(F.col("vec_id") > 0), q, 5, EMB_DIM, _LSH_PLANES
    )


def _oracle_ann_multiprobe() -> str:
    bucket_terms = " + ".join(
        f"CASE WHEN {_sql_dot('e.embedding', _plane_sql(p, EMB_DIM))} > 0 "
        f"THEN {1 << p} ELSE 0 END"
        for p in range(_LSH_PLANES)
    )
    cos = _sql_cosine("b.embedding", "q.qe")
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
b AS (
    SELECT e.vec_id, e.embedding, ({bucket_terms}) AS bucket
    FROM embeddings e
),
qb AS (SELECT bucket FROM b WHERE vec_id = 0)
SELECT b.vec_id, round({cos}, 4) AS sim
FROM b CROSS JOIN q CROSS JOIN qb
WHERE b.vec_id > 0 AND bit_count(xor(b.bucket, qb.bucket)) <= 1
ORDER BY sim DESC, b.vec_id
LIMIT 5
"""


def _sql_l2sq(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * "
        f"(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), (acc, v) -> acc + v)"
    )


_PQ_M = 4  # subspaces over the 64-dim embeddings (16 dims each)
_PQ_RERANK = 20


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ-style ANN (operators/similarity.pq_encode/pq_topk): product-
    quantization codes over 4 subspaces, asymmetric-distance (ADC) scan for
    a 20-candidate shortlist, exact-cosine rescore to top-5. Codebook =
    embeddings of vec_id < 8 (data-derived 'training', like the IVF gate,
    so the SQL oracle re-derives codes, LUTs and shortlist from the same
    rows)."""
    from mcp_crawl4ai_rag_spark.operators.similarity import pq_topk

    embs = _embs(spark, sf_dir)
    cbs = embs.where(F.col("vec_id") < _IVF_K_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    q = list(embs.where(F.col("vec_id") == 0).select("embedding").head()[0])
    return pq_topk(
        embs.where(F.col("vec_id") > 0),
        cbs,
        q,
        5,
        n_sub=_PQ_M,
        rerank=_PQ_RERANK,
    )


def _oracle_ann_pq() -> str:
    dim, sub = 64, 64 // _PQ_M
    cos = _sql_cosine("cand.embedding", "q.qe")
    code_cols, adc_terms = [], []
    for j in range(_PQ_M):
        a, b = j * sub + 1, (j + 1) * sub
        xd = _sql_l2sq(f"list_slice(e.embedding, {a}, {b})", f"list_slice(ce, {a}, {b})")
        qd = _sql_l2sq(f"list_slice(q.qe, {a}, {b})", f"list_slice(ce, {a}, {b})")
        dists = f"list_transform(cb.cbs, ce -> {xd})"
        lut = f"list_transform(cb.cbs, ce -> {qd})"
        code_cols.append(
            f"list_position({dists}, list_min({dists})) AS code{j}"
        )
        adc_terms.append(f"list_extract({lut}, enc.code{j})")
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cb AS (
    SELECT list(ce ORDER BY cid) AS cbs
    FROM (SELECT vec_id AS cid, embedding AS ce FROM embeddings
          WHERE vec_id < {_IVF_K_CENTROIDS})
),
enc AS (
    SELECT e.vec_id, e.embedding, {', '.join(code_cols)}
    FROM embeddings e CROSS JOIN cb CROSS JOIN q
    WHERE e.vec_id > 0
),
cand AS (
    SELECT enc.vec_id, enc.embedding
    FROM enc CROSS JOIN cb CROSS JOIN q
    ORDER BY {' + '.join(adc_terms)} ASC, enc.vec_id ASC
    LIMIT {_PQ_RERANK}
)
SELECT cand.vec_id, round({cos}, 4) AS sim
FROM cand CROSS JOIN q
ORDER BY sim DESC, cand.vec_id
LIMIT 5
"""


def _oracle_ann_ivf_topk() -> str:
    cos = _sql_cosine("s.embedding", "q.qe")
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
      WHERE vec_id < {_IVF_K_CENTROIDS}),
probe AS (
    SELECT c.cid FROM c CROSS JOIN q
    ORDER BY {_sql_l2sq('c.ce', 'q.qe')} ASC, c.cid ASC
    LIMIT {_IVF_N_PROBE}
),
assign AS (
    SELECT e.vec_id, e.embedding, c.cid,
           {_sql_l2sq('e.embedding', 'c.ce')} AS d
    FROM embeddings e CROSS JOIN c
    QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d ASC, c.cid ASC) = 1
),
s AS (SELECT a.vec_id, a.embedding FROM assign a JOIN probe p ON a.cid = p.cid)
SELECT s.vec_id, round({cos}, 4) AS sim
FROM s CROSS JOIN q
ORDER BY sim DESC, s.vec_id
LIMIT 5
"""


def _oracle_embedding_neardup() -> str:
    cos = _sql_cosine("a.embedding", "b.embedding")
    bucket_terms = " + ".join(
        f"CASE WHEN {_sql_dot('e.embedding', _plane_sql(p, EMB_DIM))} > 0 "
        f"THEN {1 << p} ELSE 0 END"
        for p in range(_LSH_PLANES)
    )
    return f"""
WITH e2 AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 20 = 0
),
eb AS (SELECT e.vec_id, e.embedding, ({bucket_terms}) AS bucket FROM e2 e)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 4) AS sim
FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({cos}, 4) >= 0.99
"""


def _oracle_events_hourly() -> str:
    return """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
"""


def _oracle_events_sessionize() -> str:
    return """
WITH x AS (
    SELECT user_id,
           CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                THEN 1 ELSE 0 END AS new_s
    FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(1 + sum(new_s) AS BIGINT) AS n_sessions
FROM x GROUP BY user_id
"""


# S4: text-file dispatch — one .txt seed, single fetch, no link following
# (reference crawl_markdown_file, src/crawl4ai_mcp.py:892-913), then the
# chunk pipeline. Body is a closed-form token stream so the chunker
# degenerates to exact 300-char slices the SQL oracle can reproduce.
_TXT_URL = "https://h1.example.com/guides/llms.txt"
_TXT_BODY = "".join(f"word{i:04d} " for i in range(120))  # 1080 chars
_TXT_CHUNK = 300

_PAGES_SCHEMA = (
    "url string, host string, path string, markdown string, "
    "out_links array<string>, image_ids array<string>, status int, success boolean"
)


def q_smart_crawl_txt(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = spark.createDataFrame(
        [
            (
                _TXT_URL, "h1.example.com", "/guides/llms.txt", _TXT_BODY,
                [], [], 200, True,
            )
        ],
        _PAGES_SCHEMA,
    )
    res = smart_crawl(spark, _TXT_URL, pages=pages)
    docs = res.fetched.select(F.col("canonical_url").alias("url"), "markdown")
    chunks = build_chunks(
        docs, chunk_size=_TXT_CHUNK, crawl_type="text_file"
    )
    return chunks.select(
        "url",
        F.col("chunk_number").cast("long").alias("chunk_number"),
        "content",
        F.col("char_count").cast("long").alias("char_count"),
        F.col("word_count").cast("long").alias("word_count"),
        "source",
        "crawl_type",
    )


def _oracle_smart_crawl_txt() -> str:
    n_chunks = (len(_TXT_BODY) + _TXT_CHUNK - 1) // _TXT_CHUNK
    piece = f"trim(substr(b.body, CAST(ks.k * {_TXT_CHUNK} + 1 AS INTEGER), {_TXT_CHUNK}))"
    return f"""
WITH b AS (SELECT '{_TXT_BODY}' AS body)
SELECT '{_TXT_URL}' AS url,
       CAST(ks.k AS BIGINT) AS chunk_number,
       {piece} AS content,
       CAST(length({piece}) AS BIGINT) AS char_count,
       CAST(len(regexp_extract_all({piece}, '\\S+')) AS BIGINT) AS word_count,
       'h1.example.com' AS source,
       'text_file' AS crawl_type
FROM b, (SELECT unnest(generate_series(0, {n_chunks - 1})) AS k) ks
"""


def q_upsert_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: keyed last-writer-wins upsert (reference on_conflict
    'url,chunk_number', src/utils.py:493-500) — existing store from the
    documents table, a batch overwriting every doc_id%3==0 key and adding
    doc_id%7==0 new keys; output the merged store. Runs through the
    INCREMENTAL path (batch-only window + broadcast anti-join; the store
    side never shuffles — the 100-TB ingest shape); equality with the
    windowed store_documents is pinned in tests/test_rag.py.

    Second leg (tagged rows, chunk_number=-1): recrawl change detection
    (plans/rag.doc_change_status) — the reference re-fetches everything
    with CacheMode.BYPASS and upserts blindly (src/crawl4ai_mcp.py:481-487);
    classifying fetched docs new/changed/unchanged against a per-URL md5
    fingerprint index lets recrawl skip re-chunk/re-embed for unchanged
    pages. Zero-shuffle plan (broadcast semi-prune + broadcast lookup;
    PLANS.md "Recrawl change detection").

    Third leg (chunk_number=-2): freshness-aware recrawl scheduling
    (plans/rag.recrawl_schedule).

    Fourth leg (chunk_number=-3, r5): CONDITIONAL recrawl — 304
    Not Modified semantics over a validator index; see the inline block
    below. 304 rows provably skip the body transfer (body0=1 in the
    hashed content) and the emitted etag reads back from the UPDATED
    index."""
    from mcp_crawl4ai_rag_spark.plans.rag import doc_change_status

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    key_url = F.concat(F.lit("u"), (F.col("doc_id") % 100).cast("string"))
    key_chunk = F.floor(F.col("doc_id") / 100).cast("long")
    existing = docs.select(
        key_url.alias("url"),
        key_chunk.alias("chunk_number"),
        F.concat(F.lit("v0:"), F.col("doc_id").cast("string")).alias("content"),
    )
    batch = (
        docs.where(F.col("doc_id") % 3 == 0)
        .select(
            key_url.alias("url"),
            key_chunk.alias("chunk_number"),
            F.concat(F.lit("v1:"), F.col("doc_id").cast("string")).alias("content"),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 7 == 0).select(
                F.concat(F.lit("new"), F.col("doc_id").cast("string")).alias("url"),
                F.lit(0).cast("long").alias("chunk_number"),
                F.concat(F.lit("vn:"), F.col("doc_id").cast("string")).alias("content"),
            )
        )
    )
    # r4: the merge runs THROUGH the snapshot-committed store (write-new-
    # generation → fsync → atomic manifest swap; sources/docstore.py), so
    # the gate covers the crash-safe commit path, not just the plan. Two
    # commits: gen 0 = the pre-existing store, gen 1 = the batch upsert.
    import shutil as _shutil

    from mcp_crawl4ai_rag_spark.sources.docstore import DocumentStore

    _store_root = "/dev/shm/mcp_spark_docstore_gate"
    _shutil.rmtree(_store_root, ignore_errors=True)
    _store = DocumentStore(spark, _store_root)
    _store.commit_batch(existing)
    merged = _store.commit_batch(batch).select(
        "url",
        "chunk_number",
        "content",
        F.lit("").alias("fp"),
        F.lit("").alias("change_kind"),
    )
    prev_idx = docs.select(
        F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("url"),
        F.md5("text").alias("fp"),
    )
    fetched = (
        docs.where(F.col("doc_id") % 3 == 0)
        .select(
            F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("url"),
            F.md5(
                F.when(
                    F.col("doc_id") % 2 == 0, F.concat(F.col("text"), F.lit("!"))
                ).otherwise(F.col("text"))
            ).alias("fp"),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 7 == 0).select(
                F.concat(F.lit("rn"), F.col("doc_id").cast("string")).alias("url"),
                F.md5("text").alias("fp"),
            )
        )
    )
    status = doc_change_status(prev_idx, fetched).select(
        "url",
        F.lit(-1).cast("long").alias("chunk_number"),
        F.lit("").alias("content"),
        "fp",
        "change_kind",
    )
    # third leg (chunk_number=-2): freshness-aware recrawl scheduling
    # (plans/rag.recrawl_schedule) — smoothed change rate × age as exact
    # integer milli-priority; change log derived from documents (doc_id%4+1
    # crawls, changed when (doc_id+seq)%3==0), scored at now_seq=10.
    from mcp_crawl4ai_rag_spark.plans.rag import recrawl_schedule

    log = docs.select(
        F.concat(F.lit("s"), F.col("doc_id").cast("string")).alias("url"),
        F.explode(
            F.sequence(F.lit(1), (F.col("doc_id") % 4 + 1).cast("int"))
        ).alias("crawl_seq"),
        F.col("doc_id"),
    ).select(
        "url",
        "crawl_seq",
        F.when((F.col("doc_id") + F.col("crawl_seq")) % 3 == 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_kind"),
    )
    sched = recrawl_schedule(log, now_seq=10).select(
        "url",
        F.lit(-2).cast("long").alias("chunk_number"),
        F.format_string(
            "obs=%d chg=%d age=%d prio=%d",
            F.col("n_obs"),
            F.col("n_changes"),
            F.col("age"),
            F.col("prio_milli"),
        ).alias("content"),
        F.lit("").alias("fp"),
        F.lit("schedule").alias("change_kind"),
    )
    # fourth leg (chunk_number=-3, r5): CONDITIONAL recrawl — 304
    # semantics. The validator index carries (fp, etag, last_modified);
    # the recrawl splits into conditional/unconditional requests, URLs
    # whose stored ETag still matches answer 304 with NULL body+fp (the
    # transfer provably never happens — body0=1 in the content), classify
    # 'unchanged' with the stored fp carried forward, and keep their
    # index row; doc_id%3==0 pages changed server-side (new body+etag)
    # → 200+'changed'+refreshed validators; doc_id%7==0 are brand-new
    # URLs fetched unconditionally → 'new'. The emitted etag is read
    # back from the UPDATED index, so index advance is hash-checked too.
    from mcp_crawl4ai_rag_spark.plans.rag import (
        conditional_change_status,
        conditional_fetch_split,
        simulate_conditional_fetch,
        update_validator_index,
    )

    did = F.col("doc_id").cast("string")
    changed3 = F.col("doc_id") % 3 == 0
    idx1 = docs.select(
        F.concat(F.lit("q"), did).alias("url"),
        F.md5("text").alias("fp"),
        F.concat(F.lit("e0:"), did).alias("etag"),
        F.lit("2026-01-01").alias("last_modified"),
    )
    server2 = docs.select(
        F.concat(F.lit("q"), did).alias("url"),
        F.when(changed3, F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text"))
        .alias("body"),
        F.when(changed3, F.concat(F.lit("e1:"), did))
        .otherwise(F.concat(F.lit("e0:"), did))
        .alias("etag"),
        F.when(changed3, F.lit("2026-02-01"))
        .otherwise(F.lit("2026-01-01"))
        .alias("last_modified"),
    ).unionByName(
        docs.where(F.col("doc_id") % 7 == 0).select(
            F.concat(F.lit("qn"), did).alias("url"),
            F.col("text").alias("body"),
            F.concat(F.lit("e0:"), did).alias("etag"),
            F.lit("2026-02-01").alias("last_modified"),
        )
    )
    cond, uncond = conditional_fetch_split(idx1, server2.select("url"))
    f2 = simulate_conditional_fetch(cond, server2).unionByName(
        simulate_conditional_fetch(uncond, server2)
    )
    st304 = conditional_change_status(idx1, f2)
    idx2 = update_validator_index(idx1, f2)
    leg304 = (
        st304.join(f2.select("url", "status", "body"), "url")
        .join(idx2.select("url", F.col("etag").alias("__etag2")), "url")
        .select(
            "url",
            F.lit(-3).cast("long").alias("chunk_number"),
            F.format_string(
                "st=%d body0=%d etag=%s",
                F.col("status"),
                F.col("body").isNull().cast("int"),
                F.col("__etag2"),
            ).alias("content"),
            F.coalesce(F.col("fp"), F.lit("")).alias("fp"),
            "change_kind",
        )
    )
    return (
        merged.unionByName(status).unionByName(sched).unionByName(leg304)
    )


def _oracle_upsert_store() -> str:
    return """
WITH existing AS (
  SELECT 'u' || CAST(doc_id % 100 AS VARCHAR) AS url,
         CAST(doc_id // 100 AS BIGINT) AS chunk_number,
         'v0:' || CAST(doc_id AS VARCHAR) AS content
  FROM documents
),
batch AS (
  SELECT 'u' || CAST(doc_id % 100 AS VARCHAR) AS url,
         CAST(doc_id // 100 AS BIGINT) AS chunk_number,
         'v1:' || CAST(doc_id AS VARCHAR) AS content
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT 'new' || CAST(doc_id AS VARCHAR), 0, 'vn:' || CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 7 = 0
),
u AS (
  SELECT *, 0 AS g FROM existing
  UNION ALL
  SELECT *, 1 AS g FROM batch
)
SELECT url, chunk_number, content, '' AS fp, '' AS change_kind
FROM u
QUALIFY row_number() OVER (PARTITION BY url, chunk_number ORDER BY g DESC) = 1
UNION ALL
SELECT f.url, CAST(-1 AS BIGINT) AS chunk_number, '' AS content, f.fp,
       CASE WHEN p.fp IS NULL THEN 'new'
            WHEN p.fp <> f.fp THEN 'changed'
            ELSE 'unchanged' END AS change_kind
FROM (
  SELECT 'r' || CAST(doc_id AS VARCHAR) AS url,
         md5(CASE WHEN doc_id % 2 = 0 THEN text || '!' ELSE text END) AS fp
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT 'rn' || CAST(doc_id AS VARCHAR) AS url, md5(text) AS fp
  FROM documents WHERE doc_id % 7 = 0
) f
LEFT JOIN (
  SELECT 'r' || CAST(doc_id AS VARCHAR) AS url, md5(text) AS fp
  FROM documents
) p ON f.url = p.url
UNION ALL
SELECT url, CAST(-2 AS BIGINT) AS chunk_number,
       -- CASTs: DuckDB SUM() returns HUGEINT, which printf %d rejects
       printf('obs=%d chg=%d age=%d prio=%d',
              CAST(n_obs AS BIGINT), CAST(n_changes AS BIGINT),
              CAST(age AS BIGINT),
              CAST(((2*n_changes + 1) * age * 1000) // (2*(n_obs + 1)) AS BIGINT)
       ) AS content,
       '' AS fp, 'schedule' AS change_kind
FROM (
  SELECT url, COUNT(*) AS n_obs,
         SUM(CASE WHEN change_kind = 'changed' THEN 1 ELSE 0 END) AS n_changes,
         10 - MAX(crawl_seq) AS age
  FROM (
    SELECT 's' || CAST(doc_id AS VARCHAR) AS url, doc_id,
           UNNEST(generate_series(1, CAST(doc_id % 4 + 1 AS BIGINT))) AS crawl_seq
    FROM documents
  ) obs
  CROSS JOIN LATERAL (
    SELECT CASE WHEN (doc_id + crawl_seq) % 3 = 0
                THEN 'changed' ELSE 'unchanged' END AS change_kind
  ) k
  GROUP BY url
) agg
UNION ALL
-- conditional-recrawl leg (-3): doc_id%3==0 changed server-side -> 200,
-- fresh etag, changed; others 304 with NO body (body0=1), stored fp
-- carried, etag kept; doc_id%7==0 brand-new URLs -> unconditional 200
SELECT 'q' || CAST(doc_id AS VARCHAR) AS url,
       CAST(-3 AS BIGINT) AS chunk_number,
       CASE WHEN doc_id % 3 = 0
            THEN 'st=200 body0=0 etag=e1:' || CAST(doc_id AS VARCHAR)
            ELSE 'st=304 body0=1 etag=e0:' || CAST(doc_id AS VARCHAR) END
           AS content,
       CASE WHEN doc_id % 3 = 0 THEN md5(text || '!') ELSE md5(text) END AS fp,
       CASE WHEN doc_id % 3 = 0 THEN 'changed' ELSE 'unchanged' END
           AS change_kind
FROM documents
UNION ALL
SELECT 'qn' || CAST(doc_id AS VARCHAR), CAST(-3 AS BIGINT),
       'st=200 body0=0 etag=e0:' || CAST(doc_id AS VARCHAR),
       md5(text), 'new'
FROM documents WHERE doc_id % 7 = 0
"""


def q_crawl_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10+A4: parameter clamps (reference src/crawl4ai_mcp.py:642-657) and
    the batch-failure gate (src/utils.py:506-516) over a sweep of inputs —
    the driver-side validators surfaced as data the oracle can re-derive."""
    from mcp_crawl4ai_rag_spark.plans.rag import (
        check_batch_failures,
        validate_crawl_params,
    )

    rows = []
    for i in range(50):
        d, c, s = validate_crawl_params(i - 20, i - 5, (i - 3) * 100)
        try:
            check_batch_failures(i % 5, 4)
            abort = 0
        except RuntimeError:
            abort = 1
        rows.append((i, d, c, s, abort))
    return spark.createDataFrame(
        rows, "i long, max_depth long, max_concurrent long, chunk_size long, abort long"
    )


def _oracle_crawl_params() -> str:
    return """
SELECT CAST(i AS BIGINT) AS i,
       CAST(LEAST(GREATEST(i - 20, 0), 10) AS BIGINT) AS max_depth,
       CAST(CASE WHEN i - 5 <= 0 THEN 10
                 WHEN i - 5 > 50 THEN 50
                 ELSE i - 5 END AS BIGINT) AS max_concurrent,
       CAST(CASE WHEN (i - 3) * 100 <= 0 THEN 5000
                 ELSE (i - 3) * 100 END AS BIGINT) AS chunk_size,
       CAST(CASE WHEN (i % 5) / 4.0 > 0.5 THEN 1 ELSE 0 END AS BIGINT) AS abort
FROM (SELECT unnest(generate_series(0, 49)) AS i)
"""


def q_contextual_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/C5: contextual-enrichment concat (reference src/utils.py:217,319)
    with the deterministic situating-context stand-in — document head,
    whitespace-normalized, joined to the chunk with the \\n---\\n separator."""
    from mcp_crawl4ai_rag_spark.functions.embedding import with_contextual_text

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    df = docs.select(
        "doc_id",
        F.col("text").alias("markdown"),
        F.substring("text", 201, 120).alias("content"),
    )
    out = with_contextual_text(
        df, doc_col="markdown", chunk_col="content", enabled=True
    )
    return out.select("doc_id", "contextual_content")


def _oracle_contextual_concat() -> str:
    head = (
        "regexp_replace(regexp_replace(substr(text, 1, 150), "
        "'^\\s+|\\s+$', '', 'g'), '\\s+', ' ', 'g')"
    )
    return f"""
SELECT doc_id,
       'Context: ' || {head} || chr(10) || '---' || chr(10)
       || substr(text, 201, 120) AS contextual_content
FROM documents
"""


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize (decode → nearest-neighbor resample → re-encode in
    Arrow batches): per-format counts and output dimensions, plus a
    non-degenerate payload check — every re-encoded blob must be non-empty
    and lossless-format blobs must still round-trip their phash (the decode
    happens Spark-side; the closed-form oracle states the counts)."""
    from mcp_crawl4ai_rag_spark.functions.images import resize_images

    imgs = gen_images(spark, 600).localCheckpoint(eager=True)
    out = resize_images(imgs, 16, 16)
    return out.groupBy("fmt").agg(
        F.count("*").cast("long").alias("n"),
        F.min("w").cast("long").alias("out_w"),
        F.max("h").cast("long").alias("out_h"),
        F.sum((F.length("bytes") > 0).cast("int")).cast("long").alias("n_nonempty"),
    )


def _oracle_image_resize() -> str:
    return """
SELECT CASE WHEN i % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
       CAST(count(*) AS BIGINT) AS n,
       CAST(16 AS BIGINT) AS out_w,
       CAST(16 AS BIGINT) AS out_h,
       CAST(count(*) AS BIGINT) AS n_nonempty
FROM (SELECT unnest(generate_series(0, 599)) AS i)
GROUP BY 1
"""


def q_contextual_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+E3: chunk rows (document text already dropped by the chunker)
    re-joined to their full documents via the broadcast lookup join, then
    contextual-concat — the reference's url_to_full_document dict handed to
    the contextual embedder, as a join the Catalyst way."""
    from mcp_crawl4ai_rag_spark.functions.embedding import with_contextual_text
    from mcp_crawl4ai_rag_spark.plans.rag import enrich_chunks_with_documents

    docs = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://d.example.com/doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.col("text").alias("markdown"),
    )
    chunks = build_chunks(docs, chunk_size=200, crawl_time=_CHUNK_META_TS)
    joined = enrich_chunks_with_documents(chunks, docs)
    out = with_contextual_text(
        joined, doc_col="markdown", chunk_col="content", enabled=True
    )
    return out.select(
        "url",
        F.col("chunk_number").cast("long").alias("chunk_number"),
        "contextual_content",
    )


def _oracle_contextual_join() -> str:
    piece = "trim(substr(d.text, CAST(ks.k * 200 + 1 AS INTEGER), 200))"
    head = (
        "regexp_replace(regexp_replace(substr(d.text, 1, 150), "
        "'^\\s+|\\s+$', '', 'g'), '\\s+', ' ', 'g')"
    )
    return f"""
SELECT 'https://d.example.com/doc/' || CAST(d.doc_id AS VARCHAR) AS url,
       CAST(ks.k AS BIGINT) AS chunk_number,
       'Context: ' || {head} || chr(10) || '---' || chr(10) || {piece}
         AS contextual_content
FROM documents d
JOIN (SELECT unnest(generate_series(0, (SELECT CAST((max(length(text)) - 1) // 200 AS BIGINT) FROM documents))) AS k) ks
  ON ks.k <= (length(d.text) - 1) // 200
WHERE length(d.text) > 0
"""


def q_link_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """crawl_single_page response parity (reference src/crawl4ai_mcp.py:
    518-527): per-page internal/external link counts — relative hrefs are
    internal by definition, absolute ones internal iff same host — over the
    materialized corpus. Closed-form oracle from the corpus edge formulas."""
    from mcp_crawl4ai_rag_spark.functions.urls import with_link_counts

    n = _lineitem_count(spark, sf_dir)
    pages = materialized_pages(spark, n).select("url", "out_links")
    return with_link_counts(pages).select(
        F.col("url").alias("canonical_url"),
        F.col("n_internal").cast("long").alias("n_internal"),
        F.col("n_external").cast("long").alias("n_external"),
    )


def _oracle_link_counts() -> str:
    # out_links(i) = [edge0, edge1, edge2, same-host binary noise, offsite]:
    # each edge j is internal iff host(t_j) == host(i) (edge 1 is emitted
    # dot-relative exactly when hosts match); binary noise +1 internal,
    # offsite +1 external → n_internal = 1 + Σ_j [host(t_j)=host(i)]
    def host(x: str) -> str:
        return f"(CASE WHEN ({x}) % {C.HOT_HOST_MOD} = 0 THEN 0 ELSE ({x}) % {C.N_HOSTS} END)"

    terms = " + ".join(
        "(CASE WHEN {th} = {hi} THEN 1 ELSE 0 END)".format(
            th=host(f"({C.EDGE_A}*i + {C.EDGE_B * j + C.EDGE_C}) % {N_SQL}"),
            hi=host("i"),
        )
        for j in range(C.OUT_DEGREE)
    )
    return f"""
SELECT {C.oracle_url_sql('i')} AS canonical_url,
       CAST(1 + {terms} AS BIGINT) AS n_internal,
       CAST(5 - (1 + {terms}) AS BIGINT) AS n_external
FROM (SELECT unnest(generate_series(0, {N_SQL} - 1)) AS i)
"""


def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 streaming THROUGH the streaming engine (not a batch twin): a
    real Structured Streaming query — FileStreamSource over the events
    parquet, event-time watermark, tumbling 1h window agg, memory sink —
    run to completion with Trigger.availableNow. One micro-batch processes
    everything, so no window is late-dropped and the result is the
    deterministic windowed aggregate the SQL oracle states. Complete output
    mode emits every window at termination (append mode would hold back
    windows newer than the final watermark)."""
    import os
    import shutil
    import tempfile
    import uuid

    _utc(spark)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    # FileStreamSource requires a directory; stage the single-file table
    # (created only when needed, removed after the stream drains — repeated
    # bench/correctness runs must not accumulate stream_events_* dirs)
    src = f"{sf_dir}/events.parquet"
    tmp_stage = None
    if os.path.isdir(src):
        stage = src
    else:
        tmp_stage = stage = tempfile.mkdtemp(prefix="stream_events_")
        shutil.copy(src, os.path.join(stage, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(stage)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    out = agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
    )
    name = f"stream_win_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if tmp_stage is not None:
        shutil.rmtree(tmp_stage, ignore_errors=True)
    return spark.table(name)


def _oracle_streaming_window() -> str:
    return """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
"""


_CHUNK_META_TS = "2026-01-01T00:00:00+00:00"


def q_chunk_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3+C4+C7: full chunk metadata assembly (reference src/crawl4ai_mcp.py:
    396-402 + store-time fields src/utils.py:473-483) — chunk_index, url,
    source, crawl_type, fixed crawl_time, section info — through the same
    build_chunks plan the RAG store uses, over url-shaped documents rows."""
    docs = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://d"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("text").alias("markdown"),
    )
    chunks = build_chunks(
        docs, chunk_size=200, crawl_type="webpage", crawl_time=_CHUNK_META_TS
    )
    return chunks.select(
        "url",
        F.col("chunk_number").cast("long").alias("chunk_number"),
        F.col("char_count").cast("long").alias("char_count"),
        "headers",
        "source",
        "crawl_type",
        "crawl_time",
    )


def _oracle_chunk_metadata() -> str:
    # documents.text degenerates to exact 200-char slices (no '\n\n'/'```'/
    # '. ' — same invariant the chunk_documents oracle relies on); headers
    # are empty for the same reason (no '#' lines in the corpus text)
    piece = "trim(substr(d.text, CAST(ks.k * 200 + 1 AS INTEGER), 200))"
    return f"""
SELECT 'https://d' || CAST(d.doc_id % 7 AS VARCHAR) || '.example.com/doc/'
         || CAST(d.doc_id AS VARCHAR) AS url,
       CAST(ks.k AS BIGINT) AS chunk_number,
       CAST(length({piece}) AS BIGINT) AS char_count,
       '' AS headers,
       'd' || CAST(d.doc_id % 7 AS VARCHAR) || '.example.com' AS source,
       'webpage' AS crawl_type,
       '{_CHUNK_META_TS}' AS crawl_time
FROM documents d
JOIN (SELECT unnest(generate_series(0, (SELECT CAST((max(length(text)) - 1) // 200 AS BIGINT) FROM documents))) AS k) ks
  ON ks.k <= (length(d.text) - 1) // 200
WHERE length(d.text) > 0
"""


# IVF with a TRAINED codebook: deterministic k-means over a bounded sample
# (operators/similarity.py train_centroids). The corpus is closed-form
# (md5-derived doubles) so the pure-Python twin can re-train the identical
# centroids at oracle-build time and inline them as SQL literals — the gate
# therefore checks the distributed trainer itself: any drift in sample draw,
# assignment tie-break, or summation order changes the centroids, the
# assignment, and the top-k hash.
_KM_N, _KM_DIM, _KM_K = 2000, 8, 8
_KM_ITERS, _KM_SAMPLE = 2, 128


def _km_emb_expr(i):
    from mcp_crawl4ai_rag_spark.functions.hashing import md5int64

    return F.array(
        *[
            F.pmod(
                md5int64(
                    F.concat(F.lit("kv:"), i.cast("string"), F.lit(f":{d}"))
                ),
                F.lit(1000),
            )
            / 1000.0
            for d in range(_KM_DIM)
        ]
    )


def _km_py_vec(i: int) -> list[float]:
    from mcp_crawl4ai_rag_spark.functions.hashing import py_md5int64

    return [
        (py_md5int64(f"kv:{i}:{d}") % 1000) / 1000.0 for d in range(_KM_DIM)
    ]


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_crawl4ai_rag_spark.operators.similarity import train_centroids

    i = F.col("id")
    embs = spark.range(_KM_N).select(
        i.alias("vec_id"), _km_emb_expr(i).alias("embedding")
    )
    cents = train_centroids(embs, _KM_K, iters=_KM_ITERS, sample_n=_KM_SAMPLE)
    return ivf_topk(embs, cents, _km_py_vec(0), 5, n_probe=_IVF_N_PROBE)


def _oracle_ann_ivf_trained() -> str:
    from mcp_crawl4ai_rag_spark.operators.similarity import py_train_centroids

    cents = py_train_centroids(
        [(i, _km_py_vec(i)) for i in range(_KM_N)],
        _KM_K,
        iters=_KM_ITERS,
        sample_n=_KM_SAMPLE,
    )
    cent_rows = ",\n       ".join(
        "({}, [{}])".format(cid, ", ".join(repr(x) for x in ce))
        for cid, ce in cents
    )
    def dim_expr(d: int) -> str:
        src = f"'kv:' || CAST(i AS VARCHAR) || ':{d}'"
        return f"(({_sql_md5int64(src)}) % 1000) / 1000.0"

    emb = "[" + ", ".join(dim_expr(d) for d in range(_KM_DIM)) + "]"
    qvec = "[" + ", ".join(repr(x) for x in _km_py_vec(0)) + "]"
    cos = _sql_cosine("s.embedding", f"{qvec}")
    return f"""
WITH e AS (
  SELECT i AS vec_id, {emb} AS embedding
  FROM (SELECT unnest(generate_series(0, {_KM_N - 1})) AS i)
),
c(cid, ce) AS (
  VALUES {cent_rows}
),
probe AS (
  SELECT c.cid FROM c
  ORDER BY {_sql_l2sq('c.ce', qvec)} ASC, c.cid ASC
  LIMIT {_IVF_N_PROBE}
),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_sql_l2sq('e.embedding', 'c.ce')} AS d
  FROM e CROSS JOIN c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d ASC, c.cid ASC) = 1
),
s AS (SELECT a.vec_id, a.embedding FROM assign a JOIN probe p ON a.cid = p.cid)
SELECT s.vec_id, round({cos}, 4) AS sim
FROM s
ORDER BY sim DESC, s.vec_id
LIMIT 5
"""


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup over the closed-form km corpus (+ planted twins)
# ---------------------------------------------------------------------------

_SEM_MIN_SIM = 0.999
_SEM_STEP = 10  # every 10th base vector gets a planted semantic twin
_SEM_OFF = 1_000_000


def _sem_embs(spark: SparkSession) -> DataFrame:
    """The SemDeDup gate corpus: the closed-form km vectors plus, for every
    ``_SEM_STEP``-th, a perturbed twin (x·0.98 + 0.005 per dim — cosine
    ≥ 0.9999 to its base, so each (base, twin) pair is a planted duplicate
    group that must co-cluster and resolve to exactly one keeper)."""
    i = F.col("id")
    base = spark.range(_KM_N).select(
        i.alias("vec_id"), _km_emb_expr(i).alias("embedding")
    )
    twins = spark.range(0, _KM_N, _SEM_STEP).select(
        (i + _SEM_OFF).alias("vec_id"),
        F.transform(
            _km_emb_expr(i), lambda x: x * F.lit(0.98) + F.lit(0.005)
        ).alias("embedding"),
    )
    return base.unionByName(twins)


def _sem_py_items() -> list[tuple[int, list[float]]]:
    items = [(i, _km_py_vec(i)) for i in range(_KM_N)]
    items += [
        (i + _SEM_OFF, [x * 0.98 + 0.005 for x in _km_py_vec(i)])
        for i in range(0, _KM_N, _SEM_STEP)
    ]
    return items


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) end-to-end: k-means
    codebook trained distributed (bit-exact vs the Python twin), zero-shuffle
    cluster assignment, within-cluster cosine pairs (cid equi-join — never
    all-pairs), connected components, keep = the group member least similar
    to its centroid. Feeds the ⊕ dedup_components gate as the 'semantic'
    leg; also a standalone bench leg."""
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        semdedup,
        train_centroids,
    )

    embs = _sem_embs(spark)
    cents = train_centroids(embs, _KM_K, iters=_KM_ITERS, sample_n=_KM_SAMPLE)
    return semdedup(embs, cents, _SEM_MIN_SIM)


def _oracle_semdedup() -> str:
    """DuckDB twin of :func:`q_semdedup`: corpus and twins restated from the
    closed md5 forms, the TRAINED centroids injected as literals via
    py_train_centroids (bit-identical to the Spark trainer — the
    ann_ivf_trained precedent), assignment/pairs/components/keep re-derived
    entirely in SQL (recursive-CTE closure like the minhash leg)."""
    from mcp_crawl4ai_rag_spark.operators.similarity import py_train_centroids

    cents = py_train_centroids(
        _sem_py_items(), _KM_K, iters=_KM_ITERS, sample_n=_KM_SAMPLE
    )
    cent_rows = ",\n       ".join(
        "({}, [{}])".format(cid, ", ".join(repr(x) for x in ce))
        for cid, ce in cents
    )

    def dim_expr(d: int) -> str:
        src = f"'kv:' || CAST(i AS VARCHAR) || ':{d}'"
        return f"(({_sql_md5int64(src)}) % 1000) / 1000.0"

    emb = "[" + ", ".join(dim_expr(d) for d in range(_KM_DIM)) + "]"
    return f"""
WITH RECURSIVE raw AS (
  SELECT i, {emb} AS v
  FROM (SELECT unnest(generate_series(0, {_KM_N - 1})) AS i)
),
e AS (
  SELECT i AS vec_id, v AS embedding FROM raw
  UNION ALL
  SELECT i + {_SEM_OFF} AS vec_id,
         list_transform(v, x -> x * 0.98 + 0.005) AS embedding
  FROM raw WHERE i % {_SEM_STEP} = 0
),
c(cid, ce) AS (
  VALUES {cent_rows}
),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_sql_l2sq('e.embedding', 'c.ce')} AS d
  FROM e CROSS JOIN c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d ASC, c.cid ASC) = 1
),
scored AS (
  SELECT a.vec_id, a.embedding, a.cid,
         round({_sql_cosine('a.embedding', 'c.ce')}, 4) AS cent_sim
  FROM assign a JOIN c ON a.cid = c.cid
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM scored a JOIN scored b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round({_sql_cosine('a.embedding', 'b.embedding')}, 4) >= {_SEM_MIN_SIM}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT r.src, x.dst FROM reach r JOIN edges x ON r.dst = x.src
),
comp AS (SELECT src AS vec_id, MIN(dst) AS component_id FROM reach GROUP BY src)
SELECT s.vec_id AS doc_id,
       cp.component_id,
       (row_number() OVER (
            PARTITION BY cp.component_id
            ORDER BY s.cent_sim ASC, s.vec_id ASC) = 1) AS kept,
       s.cent_sim AS score
FROM scored s JOIN comp cp ON s.vec_id = cp.vec_id
"""


def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-perplexity-shape LM filters, two tagged legs (Wenzek et al.
    2020): 'unigram' — operators/corpus_ops.unigram_lm_scores, unigram LM
    trained on the corpus itself; 'bigram' —
    operators/corpus_ops.bigram_lm_scores, the interpolated bigram model
    (λ·bigram MLE + (1−λ)·unigram backoff, the KenLM shape) over the same
    corpus. Every document scored by mean token log-likelihood and
    perplexity; schema (model, doc_id, n_tokens, mean_logprob, ppl)."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        bigram_lm_scores,
        unigram_lm_scores,
    )

    docs = _spread(_docs(spark, sf_dir))
    uni = unigram_lm_scores(docs, "doc_id", "text").select(
        F.lit("unigram").alias("model"), "doc_id", "n_tokens",
        "mean_logprob", "ppl",
    )
    bi = q_bigram_lm(spark, sf_dir).select(
        F.lit("bigram").alias("model"), "doc_id", "n_tokens",
        "mean_logprob", "ppl",
    )
    return uni.unionByName(bi)


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone bigram leg (bench cell + the gate's second leg)."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import bigram_lm_scores

    return bigram_lm_scores(_spread(_docs(spark, sf_dir)), "doc_id", "text")


def _oracle_unigram_lm() -> str:
    sel = (
        "doc_id, n_tokens, mean_logprob, ppl"
    )
    return (
        _tagged(_oracle_unigram_lm_leg(), f"'unigram' AS model, {sel}")
        + "\nUNION ALL\n"
        + _tagged(_oracle_bigram_lm_leg(), f"'bigram' AS model, {sel}")
    )


def _oracle_bigram_lm_leg() -> str:
    """DuckDB twin of bigram_lm_scores: identical IEEE literals (λ and 1−λ
    repr-formatted from the SAME Python doubles the engine passes to
    F.lit), identical per-term expression shape; 4dp rounding at the
    boundary absorbs summation order (the unigram/BM25 precedent)."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import BIGRAM_LAM

    lam, om = BIGRAM_LAM, 1.0 - BIGRAM_LAM
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_WS_RE}') AS w
  FROM documents
),
base AS (SELECT doc_id, w, len(w) AS dl FROM toks WHERE len(w) > 0),
uni AS (
  SELECT term, count(*) AS c
  FROM (SELECT unnest(w) AS term FROM base)
  GROUP BY term
),
tot AS (SELECT sum(c) AS t_total FROM uni),
bg AS (
  SELECT doc_id, w[i] AS prev, w[i + 1] AS cur
  FROM base, unnest(generate_series(1, dl - 1)) t(i)
  WHERE dl > 1
),
bgtf AS (
  SELECT doc_id, prev, cur, count(*) AS tf FROM bg GROUP BY doc_id, prev, cur
),
bgc AS (SELECT prev, cur, sum(tf) AS c_bg FROM bgtf GROUP BY prev, cur),
ctx AS (SELECT prev, sum(c_bg) AS c_ctx FROM bgc GROUP BY prev),
bll AS (
  SELECT bgtf.doc_id,
         sum(CAST(tf AS DOUBLE) * ln(
           {lam!r} * (CAST(c_bg AS DOUBLE) / CAST(c_ctx AS DOUBLE))
           + {om!r} * (CAST(u.c AS DOUBLE) / CAST(tot.t_total AS DOUBLE))
         )) AS ll_bg
  FROM bgtf
  JOIN bgc USING (prev, cur)
  JOIN ctx USING (prev)
  JOIN uni u ON u.term = bgtf.cur
  CROSS JOIN tot
  GROUP BY bgtf.doc_id
),
fll AS (
  SELECT base.doc_id, base.dl,
         ln(CAST(u.c AS DOUBLE) / CAST(tot.t_total AS DOUBLE)) AS ll0
  FROM base JOIN uni u ON u.term = w[1] CROSS JOIN tot
),
s AS (
  SELECT fll.doc_id, fll.dl,
         fll.ll0 + COALESCE(bll.ll_bg, 0.0) AS ll
  FROM fll LEFT JOIN bll ON bll.doc_id = fll.doc_id
)
SELECT doc_id,
       CAST(dl AS BIGINT) AS n_tokens,
       round(ll / dl, 4) AS mean_logprob,
       round(exp(-(ll / dl)), 4) AS ppl
FROM s
"""


def _oracle_unigram_lm_leg() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_WS_RE}') AS w
  FROM documents
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (
    SELECT doc_id, len(w) AS dl, unnest(w) AS term
    FROM toks WHERE len(w) > 0
  )
  GROUP BY doc_id, dl, term
),
counts AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term),
tot AS (SELECT sum(c) AS t_total FROM counts),
s AS (
  SELECT tf.doc_id, tf.dl,
         sum(tf.tf * ln(CAST(counts.c AS DOUBLE) / CAST(tot.t_total AS DOUBLE))) AS ll
  FROM tf JOIN counts USING (term) CROSS JOIN tot
  GROUP BY tf.doc_id, tf.dl
)
SELECT doc_id,
       CAST(dl AS BIGINT) AS n_tokens,
       round(ll / dl, 4) AS mean_logprob,
       round(exp(-(ll / dl)), 4) AS ppl
FROM s
"""


# -- weak-label quality classifier (linear probe, exact normal equations) --
# Closed-form synthetic training table (the _KM pattern) so the DuckDB
# oracle's Python twin can retrain bit-identically and receive the learned
# weights as literals. Features are fixed-point ints in [-1000, 1000];
# the weak label is a noisy linear rule over them.
_QP_N, _QP_K = 4000, 3
_QP_FEATS = [f"f{d}" for d in range(_QP_K)]


def _qp_feat_expr(i, d: int):
    from mcp_crawl4ai_rag_spark.functions.hashing import md5int64

    return (
        md5int64(F.concat(F.lit("qf:"), i.cast("string"), F.lit(f":{d}"))) % 2001
        - 1000
    )


def _qp_noise_expr(i):
    from mcp_crawl4ai_rag_spark.functions.hashing import md5int64

    return md5int64(F.concat(F.lit("qn:"), i.cast("string"))) % 601 - 300


def _qp_py_row(i: int) -> tuple:
    from mcp_crawl4ai_rag_spark.functions.hashing import py_md5int64

    f = [py_md5int64(f"qf:{i}:{d}") % 2001 - 1000 for d in range(_QP_K)]
    noise = py_md5int64(f"qn:{i}") % 601 - 300
    label = 1 if 3 * f[0] + 2 * f[1] - f[2] + noise > 0 else 0
    return (*f, label)


def _qp_feats_df(spark: SparkSession) -> DataFrame:
    i = F.col("id")
    base = spark.range(_QP_N).select(
        i.alias("doc_i"),
        *[_qp_feat_expr(i, d).alias(f"f{d}") for d in range(_QP_K)],
        _qp_noise_expr(i).alias("noise"),
    )
    return base.select(
        "doc_i",
        *_QP_FEATS,
        (
            (
                3 * F.col("f0") + 2 * F.col("f1") - F.col("f2") + F.col("noise")
                > 0
            ).cast("long")
        ).alias("label"),
    )


def q_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection scorers, two tagged legs:
    'probe' — distributed weak-label quality classifier
    (operators/corpus_ops.train_linear_probe): least-squares linear probe
    fit by exact normal equations — one map-side-combined Gram-matrix
    aggregation over the corpus, exact rational solve on the driver — then
    every row scored in one codegen projection (the CCNet/fastText-
    distillation shape; weights are a pure function of the data, so the
    oracle retrains via the Python twin and scores with the same
    literals). 'dsir' — Data Selection via Importance Resampling (Xie et
    al. 2023, arXiv:2302.03169; operators/corpus_ops.dsir_select): hashed
    unigram+bigram features, per-bucket importance log-ratios under
    add-λ-smoothed multinomial models (target = the 'de' slice, raw = the
    whole corpus), Gumbel top-k resampling of the top 20%. Schema
    (mode, doc_i, score, pred, label) — score is the 4dp probe score /
    DSIR log-weight, pred the thresholded / resampled verdict, label the
    weak truth (noisy linear rule / target-language membership)."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        linear_probe_score_expr,
        train_linear_probe,
    )

    feats = _qp_feats_df(spark)
    w = train_linear_probe(feats, _QP_FEATS, "label")
    score = F.round(linear_probe_score_expr(w, _QP_FEATS), 4)
    probe = feats.select(
        F.lit("probe").alias("mode"),
        "doc_i",
        score.alias("score"),
        (score >= 0.5).alias("pred"),
        "label",
    )

    docs = _spread(_docs(spark, sf_dir)).select("doc_id", "lang")
    sel = q_dsir_select(spark, sf_dir)
    dsir = sel.join(docs, "doc_id").select(
        F.lit("dsir").alias("mode"),
        F.col("doc_id").alias("doc_i"),
        F.round("log_weight", 4).alias("score"),
        F.col("selected").alias("pred"),
        (F.col("lang") == "de").cast("long").alias("label"),
    )
    return probe.unionByName(dsir)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone DSIR leg (bench cell + the gate's second leg): importance
    resampling of the top 20% of the corpus toward the 'de' target slice."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import dsir_select

    docs = _spread(_docs(spark, sf_dir)).select("doc_id", "text")
    target = _docs(spark, sf_dir).where(F.col("lang") == "de").select(
        "doc_id", "text"
    )
    k = (docs.count() + 4) // 5
    return dsir_select(docs, target, k)


def _oracle_quality_probe() -> str:
    sel = "doc_i, score, pred, label"
    return (
        _tagged(_oracle_quality_probe_leg(), f"'probe' AS mode, {sel}")
        + "\nUNION ALL\n"
        + _tagged(_oracle_dsir_leg(), f"'dsir' AS mode, {sel}")
    )


def _oracle_dsir_leg() -> str:
    """DuckDB twin of dsir_select over the documents table: identical md5
    bucket hashing, identical smoothing literals (repr of the SAME Python
    doubles), identical Gumbel keys from the md5 fraction; the top-k rank
    is a window here (the oracle runs at oracle scale) vs the engine's
    distributed_rank."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        DSIR_BUCKETS,
        DSIR_SMOOTH,
        sql_split_fraction,
    )

    s = float(DSIR_SMOOTH)
    ks = s * float(DSIR_BUCKETS)
    md5f = _sql_md5int64("'dsir:' || a.f")
    gfrac = sql_split_fraction("d.doc_id", "dsir-g")
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_WS_RE}') AS w
  FROM documents
),
unis AS (SELECT doc_id, unnest(w) AS f FROM toks),
bis AS (
  SELECT doc_id, w[i] || chr(31) || w[i + 1] AS f
  FROM toks, unnest(generate_series(1, len(w) - 1)) t(i)
),
feats AS (
  SELECT a.doc_id, ({md5f}) % {DSIR_BUCKETS} AS bucket
  FROM (SELECT * FROM unis UNION ALL SELECT * FROM bis) a
),
tmask AS (SELECT doc_id FROM documents WHERE lang = 'de'),
ct AS (
  SELECT bucket, count(*) AS ct
  FROM feats JOIN tmask USING (doc_id) GROUP BY bucket
),
cq AS (SELECT bucket, count(*) AS cq FROM feats GROUP BY bucket),
tab AS (
  SELECT COALESCE(ct.bucket, cq.bucket) AS bucket,
         COALESCE(ct.ct, 0) AS ct, COALESCE(cq.cq, 0) AS cq
  FROM ct FULL JOIN cq ON ct.bucket = cq.bucket
),
tot AS (SELECT sum(ct) AS ct_tot, sum(cq) AS cq_tot FROM tab),
ratio AS (
  SELECT bucket,
         ln((CAST(ct AS DOUBLE) + {s!r}) / (CAST(ct_tot AS DOUBLE) + {ks!r}))
         - ln((CAST(cq AS DOUBLE) + {s!r}) / (CAST(cq_tot AS DOUBLE) + {ks!r}))
         AS log_ratio
  FROM tab CROSS JOIN tot
),
dtf AS (SELECT doc_id, bucket, count(*) AS tf FROM feats GROUP BY doc_id, bucket),
lw AS (
  SELECT doc_id, sum(CAST(tf AS DOUBLE) * log_ratio) AS log_weight
  FROM dtf JOIN ratio USING (bucket) GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, d.lang, COALESCE(lw.log_weight, 0.0) AS log_weight,
         COALESCE(lw.log_weight, 0.0) + (-ln(-ln({gfrac}))) AS key
  FROM documents d LEFT JOIN lw ON lw.doc_id = d.doc_id
),
kk AS (SELECT (count(*) + 4) // 5 AS k FROM documents),
rk AS (
  SELECT doc_id, lang, log_weight,
         row_number() OVER (ORDER BY key DESC, doc_id) - 1 AS r
  FROM scored
)
SELECT doc_id AS doc_i, round(log_weight, 4) AS score,
       r < (SELECT k FROM kk) AS pred,
       CAST(lang = 'de' AS BIGINT) AS label
FROM rk
"""


def _oracle_quality_probe_leg() -> str:
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        py_train_linear_probe,
        sql_linear_probe_score,
    )

    w = py_train_linear_probe([_qp_py_row(i) for i in range(_QP_N)], _QP_K)

    def feat_sql(d: int) -> str:
        src = f"'qf:' || CAST(i AS VARCHAR) || ':{d}'"
        return f"({_sql_md5int64(src)} % 2001 - 1000)"

    noise = f"({_sql_md5int64(chr(39) + 'qn:' + chr(39) + ' || CAST(i AS VARCHAR)')} % 601 - 300)"
    score = sql_linear_probe_score(w, _QP_FEATS)
    return f"""
WITH base AS (
  SELECT i AS doc_i,
         {feat_sql(0)} AS f0,
         {feat_sql(1)} AS f1,
         {feat_sql(2)} AS f2,
         {noise} AS noise
  FROM (SELECT unnest(generate_series(0, {_QP_N - 1})) AS i)
),
t AS (
  SELECT doc_i, f0, f1, f2,
         CASE WHEN 3*f0 + 2*f1 - f2 + noise > 0 THEN 1 ELSE 0 END AS label
  FROM base
)
SELECT doc_i,
       round({score}, 4) AS score,
       round({score}, 4) >= 0.5 AS pred,
       CAST(label AS BIGINT) AS label
FROM t
"""


def q_crawl_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6+T3+A5: the reference tool-response JSON (src/crawl4ai_mcp.py:
    841-862) — counts, 5-URL preview + "...", partial-failures block with
    the success-rate percentage — over a deterministic fetched-shaped set
    derived from the documents table."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    fetched = docs.select(
        F.concat(
            F.lit("https://d.example.com/doc/"), F.col("doc_id").cast("string")
        ).alias("canonical_url"),
        (F.col("doc_id") % 3).cast("int").alias("depth"),
        F.lit(0).alias("priority"),
        F.col("doc_id").cast("long").alias("seq"),
    )
    from mcp_crawl4ai_rag_spark.plans.crawl import crawl_report

    return crawl_report(
        "https://d.example.com/",
        "webpage",
        fetched,
        2 * n,
        2 * n - 7,
        storage_errors=7,
        failed_batches=1,
        total_batches=(n + 9) // 10,
    )


def _oracle_crawl_report() -> str:
    # byte-identical twin of Spark's to_json output (compact, struct field
    # order, "..." appended past 5 URLs) assembled by string concatenation
    return """
WITH n AS (SELECT COUNT(*) AS n FROM documents),
prev AS (
  SELECT (list('https://d.example.com/doc/' || CAST(doc_id AS VARCHAR)
               ORDER BY doc_id % 3, doc_id))[1:5] AS urls
  FROM documents
)
SELECT '{"success":true,"url":"https://d.example.com/","crawl_type":"webpage","pages_crawled":'
       || n.n || ',"pages_processed":' || n.n
       || ',"chunks_prepared":' || (2 * n.n)
       || ',"chunks_stored":' || (2 * n.n - 7)
       || ',"urls_crawled":['
       || list_aggregate(list_transform(prev.urls, x -> '"' || x || '"'),
                         'string_agg', ',')
       || CASE WHEN n.n > 5 THEN ',"..."' ELSE '' END
       || '],"partial_failures":{"storage_errors":7,"failed_batches":1,"total_batches":'
       || CAST((n.n + 9) // 10 AS VARCHAR)
       || ',"success_rate":"'
       || printf('%.1f', (2.0 * n.n - 7) / (2 * n.n) * 100)
       || '%"}}' AS report
FROM n, prev
"""


# ---------------------------------------------------------------------------
# merged gates
#
# The correctness driver records at most 50 registry rows, so closely-related
# queries are unioned into one gate with a discriminator column (`method` /
# `kind` / `mode`). Every leg keeps its exact per-leg Spark plan and its
# exact per-leg oracle SQL — the merge is a UNION ALL on both sides with
# identical tags and casts, so nothing is weakened: every value of every leg
# is still hash-compared. Per-leg bench timings keep the leg names
# (bench.py resolves q_<leg> directly).
# ---------------------------------------------------------------------------


def _tagged(sql: str, select: str) -> str:
    """Wrap a full oracle query (may carry its own WITH/ORDER/LIMIT) as a
    subquery and project ``select`` over it."""
    return f"SELECT {select} FROM (\n{sql.strip()}\n) __leg"


def q_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 + the ANN family behind one gate: brute-force exact cosine,
    single-bucket LSH, radius-1 multiprobe LSH, IVF (fixed codebook), int8
    quantized rescore, IVF with the distributed-k-means-trained codebook,
    and product-quantization ADC + rescore. Schema (method, vec_id, sim);
    each leg is the unchanged per-leg plan."""
    legs = {
        "brute": q_embedding_topk,
        "lsh": q_ann_lsh_topk,
        "multiprobe": q_ann_multiprobe,
        "ivf": q_ann_ivf_topk,
        "quantized": q_ann_quantized,
        "ivf_trained": q_ann_ivf_trained,
        "pq": q_ann_pq,
    }
    out = None
    for tag, fn in legs.items():
        leg = fn(spark, sf_dir).select(
            F.lit(tag).alias("method"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("sim").cast("double").alias("sim"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def _oracle_ann_suite() -> str:
    legs = {
        "brute": _oracle_embedding_topk(),
        "lsh": _oracle_ann_lsh_topk(),
        "multiprobe": _oracle_ann_multiprobe(),
        "ivf": _oracle_ann_ivf_topk(),
        "quantized": _oracle_ann_quantized(),
        "ivf_trained": _oracle_ann_ivf_trained(),
        "pq": _oracle_ann_pq(),
    }
    sel = "'{tag}' AS method, CAST(vec_id AS BIGINT) AS vec_id, CAST(sim AS DOUBLE) AS sim"
    return "\nUNION ALL\n".join(
        _tagged(sql, sel.format(tag=tag)) for tag, sql in legs.items()
    )


def q_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pair family behind one gate: MinHash+LSH (jaccard),
    SimHash (hamming), image-phash (hamming over decoded pixels), and
    embedding-cosine (LSH-blocked). Schema (method, id_a, id_b, score)."""
    legs = [
        ("minhash", q_minhash_lsh_pairs(spark, sf_dir), "jaccard"),
        ("simhash", q_simhash_pairs(spark, sf_dir), "hamming"),
        ("phash", q_image_phash_pairs(spark, sf_dir), "hamming"),
        ("cosine", q_embedding_neardup(spark, sf_dir), "sim"),
    ]
    out = None
    for tag, df, score_col in legs:
        leg = df.select(
            F.lit(tag).alias("method"),
            F.col("id_a").cast("string").alias("id_a"),
            F.col("id_b").cast("string").alias("id_b"),
            F.col(score_col).cast("double").alias("score"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def _oracle_neardup_pairs() -> str:
    legs = {
        "minhash": (_oracle_minhash_lsh_pairs(), "jaccard"),
        "simhash": (_oracle_simhash_pairs(), "hamming"),
        "phash": (_oracle_image_phash_pairs(), "hamming"),
        "cosine": (_oracle_embedding_neardup(), "sim"),
    }
    return "\nUNION ALL\n".join(
        _tagged(
            sql,
            f"'{tag}' AS method, CAST(id_a AS VARCHAR) AS id_a, "
            f"CAST(id_b AS VARCHAR) AS id_b, CAST({score} AS DOUBLE) AS score",
        )
        for tag, (sql, score) in legs.items()
    )


def q_media_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13 + the media-invariant family: image verify (decode, PSNR,
    phash, caption), audio verify (waveform SNR, metadata), and image
    resize (decode → resample → re-encode counts). Schema
    (kind, fmt, n, m1, m2, m3) — m-columns are the per-leg metrics."""
    img = q_image_verify(spark, sf_dir).select(
        F.lit("image_verify").alias("kind"), "fmt", "n",
        F.col("n_pixel_ok").alias("m1"),
        F.col("n_phash_ok").alias("m2"),
        F.col("n_caption_ok").alias("m3"),
    )
    aud = q_audio_verify(spark, sf_dir).select(
        F.lit("audio_verify").alias("kind"), "fmt", "n",
        F.col("n_sample_ok").alias("m1"),
        F.col("sum_duration_ms").alias("m2"),
        F.col("sum_samples").alias("m3"),
    )
    rsz = q_image_resize(spark, sf_dir).select(
        F.lit("image_resize").alias("kind"), "fmt", "n",
        F.col("out_w").alias("m1"),
        F.col("out_h").alias("m2"),
        F.col("n_nonempty").alias("m3"),
    )
    meta = q_image_meta(spark, sf_dir).select(
        F.lit("image_meta").alias("kind"), "fmt", "n",
        F.col("n_keep").alias("m1"),
        F.col("n_bad_geom").alias("m2"),
        F.col("n_short_caption").alias("m3"),
    )
    return img.unionByName(aud).unionByName(rsz).unionByName(meta)


def q_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'image_meta' leg (also a standalone bench cell): the LAION-style
    metadata prefilter (functions/images.image_meta_quality — min-side,
    integer cross-multiplied aspect bound, caption word count) over the
    image corpus, aggregated per fmt. Runs before any decode; the w/h legs
    of the oracle are closed-form, the caption-word counts are regenerated
    by the Python twin and injected as literals (the rag_pipeline
    precedent), so keep/geom/caption counts are all hash-checked."""
    from mcp_crawl4ai_rag_spark.functions.images import image_meta_quality

    m = image_meta_quality(gen_images(spark, 1000))
    return m.groupBy("fmt").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_keep"),
        F.sum((F.col("small") | F.col("stretched")).cast("int"))
        .cast("long")
        .alias("n_bad_geom"),
        F.sum(F.col("short_caption").cast("int"))
        .cast("long")
        .alias("n_short_caption"),
    )


def _oracle_image_meta() -> str:
    """w/h flags are closed-form over the generator formulas (w = 32 +
    (i%5)·8, h = 32 + (i%3)·16, fmt = i%2); the caption word count is not
    SQL-derivable (PCG64), so the builder regenerates each caption via the
    SAME gen_caption the corpus uses and injects per-image word counts as
    a literal table — the oracle then re-derives small/stretched/short/keep
    and the per-fmt aggregation independently."""
    from mcp_crawl4ai_rag_spark.functions.images import gen_caption

    vals = ",\n        ".join(
        f"({i}, {len(gen_caption('img_%012d' % i).split(' '))})"
        for i in range(1000)
    )
    return f"""
WITH caps(i, nw) AS (VALUES {vals}),
m AS (
    SELECT i,
           CASE WHEN i % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
           32 + (i % 5) * 8 AS w,
           32 + (i % 3) * 16 AS h,
           nw
    FROM caps
),
f AS (
    SELECT fmt,
           (least(w, h) < 40) AS small,
           (greatest(w, h) * 1000 > 1500 * least(w, h)) AS stretched,
           (nw < 8) AS short_caption
    FROM m
)
SELECT fmt,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN NOT (small OR stretched OR short_caption)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(sum(CASE WHEN small OR stretched THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bad_geom,
       CAST(sum(CASE WHEN short_caption THEN 1 ELSE 0 END) AS BIGINT)
           AS n_short_caption
FROM f GROUP BY fmt
"""


def _oracle_media_verify() -> str:
    legs = {
        "image_verify": (
            _oracle_image_verify(), "n_pixel_ok", "n_phash_ok", "n_caption_ok"
        ),
        "audio_verify": (
            _oracle_audio_verify(), "n_sample_ok", "sum_duration_ms", "sum_samples"
        ),
        "image_resize": (_oracle_image_resize(), "out_w", "out_h", "n_nonempty"),
        "image_meta": (
            _oracle_image_meta(), "n_keep", "n_bad_geom", "n_short_caption"
        ),
    }
    return "\nUNION ALL\n".join(
        _tagged(
            sql,
            f"'{tag}' AS kind, fmt, n, CAST({m1} AS BIGINT) AS m1, "
            f"CAST({m2} AS BIGINT) AS m2, CAST({m3} AS BIGINT) AS m3",
        )
        for tag, (sql, m1, m2, m3) in legs.items()
    )


def q_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing + fixed-size batch packing (SDXL/NaViT-style
    training batcher) over the image corpus: nearest-bucket assignment in
    exact fixed-point integer aspect, in-bucket rank via distributed prefix
    sum (NOT a bucket-partitioned window — that's a ~9-partition skew bug),
    batch_idx/pos = integer DIV/mod. The oracle re-derives assignment and
    packing from the closed-form gen_images (w, h) formulas."""
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        DEFAULT_ASPECT_BUCKETS,
        aspect_bucket_batches,
    )

    # gen_images' metadata closed forms (sources/corpus.py) WITHOUT the
    # payload synthesis: the batcher reads only (id, w, h), and mapInPandas
    # codec work can't be column-pruned away by Catalyst
    imgs = spark.range(0, 1000).select(
        F.format_string("img_%012d", F.col("id")).alias("image_id"),
        (F.lit(32) + (F.col("id") % 5) * 8).cast("int").alias("w"),
        (F.lit(32) + (F.col("id") % 3) * 16).cast("int").alias("h"),
    )
    return aspect_bucket_batches(imgs, DEFAULT_ASPECT_BUCKETS, 16).select(
        F.col("bucket_id").cast("long").alias("bucket_id"),
        F.concat_ws("x", F.col("bw"), F.col("bh")).alias("bucket"),
        "image_id",
        "batch_idx",
        "pos_in_batch",
    )


def _oracle_aspect_buckets() -> str:
    # buckets must match corpus_ops.DEFAULT_ASPECT_BUCKETS (ids 0..8);
    # w/h re-derived from gen_images' closed forms (sources/corpus.py)
    return """
WITH ids AS (SELECT unnest(generate_series(0, 999)) AS i),
imgs AS (SELECT printf('img_%012d', i) AS image_id,
                CAST(32 + (i % 5) * 8 AS BIGINT) AS w,
                CAST(32 + (i % 3) * 16 AS BIGINT) AS h
         FROM ids),
buckets(bucket_id, bw, bh) AS (VALUES
  (0, 32, 64), (1, 40, 64), (2, 48, 64), (3, 56, 64), (4, 64, 64),
  (5, 64, 56), (6, 64, 48), (7, 64, 40), (8, 64, 32)),
asg AS (SELECT image_id, bucket_id, bw, bh,
               ROW_NUMBER() OVER (
                 PARTITION BY image_id
                 ORDER BY ABS((w * 1000000) // h
                              - (CAST(bw AS BIGINT) * 1000000) // bh),
                          bucket_id
               ) AS rk
        FROM imgs CROSS JOIN buckets),
ranked AS (SELECT bucket_id, bw, bh, image_id,
                  ROW_NUMBER() OVER (
                    PARTITION BY bucket_id ORDER BY image_id
                  ) - 1 AS r
           FROM asg WHERE rk = 1)
SELECT CAST(bucket_id AS BIGINT) AS bucket_id,
       printf('%dx%d', bw, bh) AS bucket,
       image_id,
       CAST(r // 16 AS BIGINT) AS batch_idx,
       CAST(r % 16 AS BIGINT) AS pos_in_batch
FROM ranked
"""


def q_media_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio resample + video frame sampling + image aspect-bucket batching
    + the composed image pipeline (:func:`q_image_e2e`) behind one gate.
    Schema (kind, media_id, v1, v2, v3, tag): audio → (sr, n_samples, 0,
    fmt); video → (frame_idx, w, h, ''); aspect_buckets → (bucket_id,
    batch_idx, pos_in_batch, 'bwxbh'); image_e2e → (shard_id, pos_bytes,
    item_bytes, '')."""
    aud = q_audio_resample(spark, sf_dir).select(
        F.lit("audio_resample").alias("kind"),
        F.col("audio_id").alias("media_id"),
        F.col("sr").alias("v1"),
        F.col("n_samples").alias("v2"),
        F.lit(0).cast("long").alias("v3"),
        F.col("fmt").alias("tag"),
    )
    vid = q_video_frames(spark, sf_dir).select(
        F.lit("video_frames").alias("kind"),
        F.col("video_id").alias("media_id"),
        F.col("frame_idx").alias("v1"),
        F.col("w").alias("v2"),
        F.col("h").alias("v3"),
        F.lit("").alias("tag"),
    )
    ab = q_aspect_buckets(spark, sf_dir).select(
        F.lit("aspect_buckets").alias("kind"),
        F.col("image_id").alias("media_id"),
        F.col("bucket_id").alias("v1"),
        F.col("batch_idx").alias("v2"),
        F.col("pos_in_batch").alias("v3"),
        F.col("bucket").alias("tag"),
    )
    img = q_image_e2e(spark, sf_dir).select(
        F.lit("image_e2e").alias("kind"),
        F.col("image_id").alias("media_id"),
        F.col("shard_id").alias("v1"),
        F.col("pos_bytes").alias("v2"),
        F.col("item_bytes").alias("v3"),
        F.lit("").alias("tag"),
    )
    return aud.unionByName(vid).unionByName(ab).unionByName(img)


def _oracle_media_transform() -> str:
    aud = _tagged(
        _oracle_audio_resample(),
        "'audio_resample' AS kind, audio_id AS media_id, sr AS v1, "
        "n_samples AS v2, CAST(0 AS BIGINT) AS v3, fmt AS tag",
    )
    vid = _tagged(
        _oracle_video_frames(),
        "'video_frames' AS kind, video_id AS media_id, frame_idx AS v1, "
        "w AS v2, h AS v3, '' AS tag",
    )
    ab = _tagged(
        _oracle_aspect_buckets(),
        "'aspect_buckets' AS kind, image_id AS media_id, bucket_id AS v1, "
        "batch_idx AS v2, pos_in_batch AS v3, bucket AS tag",
    )
    img = _tagged(
        _oracle_image_e2e(),
        "'image_e2e' AS kind, image_id AS media_id, shard_id AS v1, "
        "pos_bytes AS v2, item_bytes AS v3, '' AS tag",
    )
    return f"{aud}\nUNION ALL\n{vid}\nUNION ALL\n{ab}\nUNION ALL\n{img}"


def q_smart_crawl_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """smart_crawl_url dispatch, sitemap + webpage modes behind one gate.
    Schema (mode, canonical_url, depth); the sitemap mode is a flat batch
    fetch (no BFS), so its depth is -1."""
    sm = q_smart_crawl_sitemap(spark, sf_dir).select(
        F.lit("sitemap").alias("mode"),
        "canonical_url",
        F.lit(-1).cast("long").alias("depth"),
    )
    wp = q_smart_crawl_webpage(spark, sf_dir).select(
        F.lit("webpage").alias("mode"), "canonical_url", "depth"
    )
    return sm.unionByName(wp)


def _oracle_smart_crawl_dispatch() -> str:
    sm = _tagged(
        _oracle_smart_crawl_sitemap(),
        "'sitemap' AS mode, canonical_url, CAST(-1 AS BIGINT) AS depth",
    )
    wp = _tagged(
        _oracle_smart_crawl_webpage(),
        "'webpage' AS mode, canonical_url, CAST(depth AS BIGINT) AS depth",
    )
    return f"{sm}\nUNION ALL\n{wp}"


def q_urlseen_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 with both membership prefilters behind one gate: sharded bloom
    and (sharded-build) cuckoo. Both are lossless prefilters over the exact
    anti-join, so each leg's output is an exact set difference."""
    bl = q_urlseen_antijoin(spark, sf_dir).select(
        F.lit("bloom").alias("filter"), "canonical_url"
    )
    ck = q_urlseen_cuckoo(spark, sf_dir).select(
        F.lit("cuckoo").alias("filter"), "canonical_url"
    )
    return bl.unionByName(ck)


def _oracle_urlseen_filters() -> str:
    bl = _tagged(_oracle_urlseen_antijoin(), "'bloom' AS filter, canonical_url")
    ck = _tagged(_oracle_urlseen_cuckoo(), "'cuckoo' AS filter, canonical_url")
    return f"{bl}\nUNION ALL\n{ck}"


def q_bm25_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 through both execution paths behind one gate: on-the-fly stats
    and the persisted stats index (df table pruned to the query's terms at
    the scan). Both must produce the identical ranking."""
    scan = q_bm25_search(spark, sf_dir).select(
        F.lit("scan").alias("path"), "doc_id", "score"
    )
    idx = q_bm25_indexed(spark, sf_dir).select(
        F.lit("indexed").alias("path"), "doc_id", "score"
    )
    return scan.unionByName(idx)


def _oracle_bm25_paths() -> str:
    base = _oracle_bm25_search()
    scan = _tagged(base, "'scan' AS path, doc_id, score")
    idx = _tagged(base, "'indexed' AS path, doc_id, score")
    return f"{scan}\nUNION ALL\n{idx}"


def q_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 + token counting + language-ID + quality scoring in ONE codegen
    projection over documents — the per-document scalar-signal family —
    plus (r4) the vendored mini-BPE tokenizer (C9): real token count and
    the reference's encode→slice→decode truncation boundary at 64 tokens
    (src/utils.py:167-185), hash-verified against a rank-replay BPE twin
    in the oracle builder."""
    from mcp_crawl4ai_rag_spark.functions.tokenizer import (
        mbpe_count_udf,
        mbpe_truncate_udf,
    )

    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length(t).cast("long").alias("char_count"),
        token_count_ws(t).cast("long").alias("ws_tokens"),
        token_count_bpe(t).cast("long").alias("bpe_tokens"),
        punct_count(t).cast("long").alias("punct_chars"),
        lang_id_expr(t).alias("lang_pred"),
        quality_score_expr(t).alias("quality"),
        mbpe_count_udf()(t).alias("mbpe_tokens"),
        F.md5(mbpe_truncate_udf(64)(t)).alias("mbpe_cut64_md5"),
    )


def _mbpe_twin_rows() -> str:
    """Rank-replay BPE twin for the mini-BPE gate columns: applies the
    checked-in merges strictly in rank order, one left-to-right
    replace-all pass per rank — a DIFFERENT algorithm from the engine's
    iterative lowest-rank-pair search (functions/tokenizer.py), equivalent
    because a merge at rank r can only create pairs involving token 256+r,
    whose own merges all have rank > r (new pairs never out-rank the
    current one). Expected (doc_id, n_tokens, md5(truncate@64)) are
    emitted as literals."""
    import hashlib
    import os

    import duckdb

    from mcp_crawl4ai_rag_spark.functions.tokenizer import (
        _PRETOKEN_RE,
        _load_merges,
    )

    merges = _load_merges()
    vocab = [bytes([i]) for i in range(256)]
    for a, b in merges:
        vocab.append(vocab[a] + vocab[b])

    cache: dict[str, list[int]] = {}

    def enc_pre(piece: str) -> list[int]:
        got = cache.get(piece)
        if got is None:
            ids = list(piece.encode("utf-8"))
            for rank, (a, b) in enumerate(merges):
                if len(ids) < 2:
                    break
                nid = 256 + rank
                j = 0
                while j < len(ids) - 1:
                    if ids[j] == a and ids[j + 1] == b:
                        ids[j : j + 2] = [nid]
                    else:
                        j += 1
            got = cache[piece] = ids
        return got

    def enc(text: str) -> list[int]:
        out: list[int] = []
        for m in _PRETOKEN_RE.finditer(text):
            out.extend(enc_pre(m.group(0)))
        return out

    sf_dir = os.environ.get(_ORACLE_SF_DIR_ENV, _ORACLE_SF_DIR_DEFAULT)
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, coalesce(text, '') FROM '{sf_dir}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()
    con.close()
    rows = []
    for doc_id, text in docs:
        ids = enc(text)
        cut = (
            text
            if len(ids) <= 64
            else b"".join(vocab[i] for i in ids[:64]).decode(
                "utf-8", errors="replace"
            )
        )
        h = hashlib.md5(cut.encode("utf-8")).hexdigest()
        rows.append(f"({int(doc_id)}, {len(ids)}, '{h}')")
    return ",\n        ".join(rows)


def _oracle_text_signals() -> str:
    return f"""
SELECT s.doc_id, s.char_count, s.ws_tokens, s.bpe_tokens, s.punct_chars,
       l.lang_pred, q.quality,
       CAST(b.mbpe_tokens AS BIGINT) AS mbpe_tokens,
       b.mbpe_cut64_md5
FROM ({_oracle_doc_token_stats().strip()}) s
JOIN ({_oracle_lang_id().strip()}) l USING (doc_id)
JOIN ({_oracle_quality_score().strip()}) q USING (doc_id)
JOIN (VALUES {_mbpe_twin_rows()})
     b(doc_id, mbpe_tokens, mbpe_cut64_md5) ON b.doc_id = s.doc_id
"""


def q_crawl_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10+A4 (parameter clamps + failure-rate gate) and C6+T3+A5 (the
    tool-response JSON report) behind one gate. Param-sweep rows carry
    report=''; the report row carries i=-1 and zeroed clamp columns."""
    params = q_crawl_params(spark, sf_dir).withColumn("report", F.lit(""))
    rep = q_crawl_report(spark, sf_dir).select(
        F.lit(-1).cast("long").alias("i"),
        F.lit(0).cast("long").alias("max_depth"),
        F.lit(0).cast("long").alias("max_concurrent"),
        F.lit(0).cast("long").alias("chunk_size"),
        F.lit(0).cast("long").alias("abort"),
        "report",
    )
    return params.unionByName(rep)


def _oracle_crawl_ops() -> str:
    params = _tagged(
        _oracle_crawl_params(),
        "i, max_depth, max_concurrent, chunk_size, abort, '' AS report",
    )
    rep = _tagged(
        _oracle_crawl_report(),
        "CAST(-1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS max_depth, "
        "CAST(0 AS BIGINT) AS max_concurrent, CAST(0 AS BIGINT) AS chunk_size, "
        "CAST(0 AS BIGINT) AS abort, report",
    )
    return f"{params}\nUNION ALL\n{rep}"


def q_contextual_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/C5 + J3 behind one gate: the contextual concat kernel alone
    (mode=concat, key=doc_id, chunk_number=-1) and the chunk→document
    broadcast-join path feeding the same kernel (mode=join, key=url)."""
    cc = q_contextual_concat(spark, sf_dir).select(
        F.lit("concat").alias("mode"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(-1).cast("long").alias("chunk_number"),
        "contextual_content",
    )
    cj = q_contextual_join(spark, sf_dir).select(
        F.lit("join").alias("mode"),
        F.col("url").alias("key"),
        "chunk_number",
        "contextual_content",
    )
    return cc.unionByName(cj)


def _oracle_contextual_enrich() -> str:
    cc = _tagged(
        _oracle_contextual_concat(),
        "'concat' AS mode, CAST(doc_id AS VARCHAR) AS key, "
        "CAST(-1 AS BIGINT) AS chunk_number, contextual_content",
    )
    cj = _tagged(
        _oracle_contextual_join(),
        "'join' AS mode, url AS key, chunk_number, contextual_content",
    )
    return f"{cc}\nUNION ALL\n{cj}"


# ---------------------------------------------------------------------------
# end-to-end training-data pipeline gate
# ---------------------------------------------------------------------------


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet/LAION-shape pipeline as ONE composed query — proof the
    corpus operators chain: Gopher shape filter → PII scrub → exact dedup
    (fingerprint keep-min) → MinHash near-dup components keep-list →
    deterministic train split → sequence packing; output is the final
    packed schedule of the surviving train documents.

    The corpus plants one hazard per stage: every doc carries PII (scrub
    must fire), every 5th doc has an exact +2M copy (exact dedup must
    collapse it), every 10th a +1M near-twin (components must drop it),
    and short docs fail the Gopher word floor naturally. Every stage is
    the same operator its standalone gate checks; this gate checks the
    COMPOSITION (each stage consumes the previous stage's actual output).
    """
    from mcp_crawl4ai_rag_spark.functions.text import (
        gopher_pass_expr,
        redact_pii_expr,
        repetition_stats_expr,
    )
    from mcp_crawl4ai_rag_spark.operators.components import (
        canonical_docs,
        connected_components,
    )
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        hash_split,
        pack_sequences,
    )
    from mcp_crawl4ai_rag_spark.operators.dedup import (
        exact_dedup_groups,
        minhash_lsh_pairs,
    )

    docs = _spread(_docs(spark, sf_dir).select("doc_id", "text"))
    pii = docs.select(
        "doc_id",
        F.expr(
            "concat(text, ' contact user', doc_id, '@example.com or "
            "555-123-4567 at 10.0.', doc_id % 256, '.7')"
        ).alias("text"),
    )
    # one scan, not a 3-way union: each doc emits its base row plus the
    # conditionally-planted hazards via explode(array_compact(...)) — the
    # union shape gave each leg its own scan branch whose single task
    # carried 10×/2×/1× the rows (the r4 compose-cell "skew"); exploded,
    # every task's cost is uniform at any corpus multiplier
    corpus = pii.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.struct(
                        F.col("doc_id").alias("doc_id"),
                        F.col("text").alias("text"),
                    ),
                    F.when(
                        F.col("doc_id") % 5 == 0,
                        F.struct(
                            (F.col("doc_id") + 2000000).alias("doc_id"),
                            F.col("text").alias("text"),
                        ),
                    ),
                    F.when(
                        F.col("doc_id") % 10 == 0,
                        F.struct(
                            (F.col("doc_id") + 1000000).alias("doc_id"),
                            F.expr("substring(text, 21)").alias("text"),
                        ),
                    ),
                )
            )
        ).alias("r")
    ).select("r.doc_id", "r.text")
    # stage A: Gopher shape filter (one codegen projection)
    gf = corpus.where(gopher_pass_expr(repetition_stats_expr(F.col("text"))))
    # stage B: PII scrub (codegen regexp chain)
    scrub = gf.select(
        "doc_id", redact_pii_expr(F.col("text"))["clean"].alias("text")
    )
    # stage C: exact dedup — fingerprint groups, keep canonical (min id)
    groups = exact_dedup_groups(scrub)
    ex = scrub.join(
        groups.select(F.col("canonical_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    ).localCheckpoint(eager=True)  # consumed by signatures + verify + keep-list
    # stage D: near-dup components keep-list (MinHash bands → jaccard ≥ 0.5
    # → hash-min components → canonical survivors)
    edges = minhash_lsh_pairs(ex, min_jaccard=_COMPONENTS_MIN_JACCARD).select(
        "id_a", "id_b"
    )
    kept = canonical_docs(ex, connected_components(edges))
    # stage E: deterministic split, keep train
    train = (
        hash_split(kept, _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
        .where(F.col("split") == "train")
        .drop("split")
    )
    # stage F: sequence packing of the survivors
    return pack_sequences(train, _PACK_SEQ_LEN).select(
        F.col("pack_id").cast("long").alias("pack_id"),
        "doc_id",
        F.col("slice_start").cast("long").alias("slice_start"),
        F.col("slice_len").cast("long").alias("slice_len"),
        F.col("pack_pos").cast("long").alias("pack_pos"),
    )


def _oracle_pipeline_e2e() -> str:
    from mcp_crawl4ai_rag_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import sql_split_fraction

    def esc(p: str) -> str:
        return p.replace("'", "''")

    em, ph, ip = esc(PII_EMAIL_RE), esc(PII_PHONE_RE), esc(PII_IPV4_RE)
    frac = sql_split_fraction("doc_id", _SPLIT_SALT)
    train_hi = 0.8 / sum(_SPLIT_WEIGHTS.values())  # hash_split's exact float
    L = _PACK_SEQ_LEN
    return f"""
WITH RECURSIVE piid AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or 555-123-4567 at 10.0.'
                || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
    FROM documents
),
corpus AS (
    SELECT doc_id, text FROM piid
    UNION ALL
    SELECT doc_id + 2000000, text FROM piid WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 1000000, substr(text, 21) FROM piid WHERE doc_id % 10 = 0
),
{_gopher_metrics_ctes('corpus')},
gf AS (
    SELECT c.doc_id, c.text
    FROM corpus c JOIN gm USING (doc_id)
    WHERE {_gopher_keep_sql()}
),
scrub AS (
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{em}', '<EMAIL>', 'g'),
               '{ph}', '<PHONE>', 'g'),
               '{ip}', '<IP>', 'g') AS text
    FROM gf
),
fp AS (
    SELECT doc_id, text,
           md5(array_to_string(regexp_extract_all(lower(text), '{_WS_RE}'), ' ')) AS f
    FROM scrub
),
ex AS (
    SELECT doc_id, text FROM fp
    QUALIFY doc_id = min(doc_id) OVER (PARTITION BY f)
),
{_minhash_pairs_ctes('ex')},
pairs AS (
    SELECT id_a, id_b FROM ({_PAIRS_SELECT_SQL.strip()}) p
    WHERE p.jaccard >= {_COMPONENTS_MIN_JACCARD}
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM ex
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
    SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src
),
kept AS (
    SELECT ex.doc_id, ex.text
    FROM ex JOIN comp USING (doc_id)
    WHERE comp.doc_id = comp.component_id
),
tr AS (
    SELECT doc_id, text FROM kept WHERE {frac} < {train_hi!r}
),
{_pack_ctes('tr', L)}
{_pack_select(L)}
"""


def q_crawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl stack as ONE composed query — counterpart of pipeline_e2e
    for the frontier side: link-graph PageRank → rank-prioritized frontier →
    sharded-bloom + anti-join URL-seen dedup → per-host politeness budgets
    (zero-shuffle attach) → salted two-phase pop. Every stage is the same
    operator its standalone gate checks (link_pagerank, urlseen_filters,
    politeness_budgets, politeness_drain); this gate checks the COMPOSITION:
    the pop ordering consumes the PageRank priorities through the dedup.

    Deterministic: priorities are fixed-point integers, the pop order tuple
    (depth=0, -pr, seq=id) is unique per host, and the bloom prefilter is
    lossless — so the popped set is closed-form for the oracle.
    """
    from mcp_crawl4ai_rag_spark.operators.politeness import (
        attach_budgets,
        pop_per_host,
    )
    from mcp_crawl4ai_rag_spark.operators.urlseen import build_bloom_sharded

    n = _lineitem_count(spark, sf_dir)
    # stage A: PageRank priorities over the corpus link graph
    pr = _pagerank_link_df(spark, sf_dir)
    # stage B: frontier — every corpus URL, priority = -pr (higher rank
    # pops first under the (depth, priority, seq) ascending pop order)
    i = F.col("id")
    u = C._url_expr(i)
    host = F.concat(
        F.lit("h"), C._host_expr(i).cast("string"), F.lit(".example.com")
    )
    frontier = (
        spark.range(0, n, 1, 32)
        .join(pr, "id")
        .select(
            u.alias("canonical_url"),
            url_hash(u).alias("url_hash"),
            host.alias("host"),
            F.lit(0).alias("depth"),
            (-F.col("pr")).alias("priority"),
            i.alias("seq"),
            F.col("pr"),
        )
    )
    # stage C: URL-seen dedup — every 3rd URL already seen; sharded bloom
    # prefilter routes definitely-new rows around the anti-join shuffle
    seen = (
        spark.range(0, n, 3, 32)
        .select(C._url_expr(i).alias("canonical_url"))
        .select(url_hash(F.col("canonical_url")).alias("url_hash"), "canonical_url")
    )
    bloom = build_bloom_sharded(seen, "url_hash", n_shards=8, expected=n // 3)
    fresh = anti_join_seen(frontier, seen, bloom)
    # stage D: per-host budgets (no robots/backoff → midpoint delay 2.0 s,
    # default 30 s epoch → budget 15/host), attached with zero shuffle
    with_b = attach_budgets(fresh, None, None)
    # stage E: salted two-phase pop under those budgets
    popped, _deferred = pop_per_host(with_b, None)
    return popped.select(
        "canonical_url", F.col("pr").cast("long").alias("pr")
    )


def _oracle_crawl_e2e() -> str:
    host = f"(CASE WHEN v.id % {C.HOT_HOST_MOD} = 0 THEN 0 ELSE v.id % {C.N_HOSTS} END)"
    return f"""
WITH {_pagerank_ctes()},
fresh AS (
    SELECT v.id, {host} AS h, p.pr
    FROM verts v JOIN pr{_PR_ITERS} p ON p.id = v.id
    WHERE v.id % 3 <> 0
),
r AS (
    SELECT id, pr,
           row_number() OVER (PARTITION BY h ORDER BY pr DESC, id) AS rk
    FROM fresh
)
SELECT {C.oracle_url_sql('id')} AS canonical_url, CAST(pr AS BIGINT) AS pr
FROM r
WHERE rk <= 15
"""


_SHARD_BYTES = 65536  # image_e2e shard budget (~25 items/shard at avg size)


def q_image_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAION-shape image pipeline as ONE composed query — proof the
    image operators chain: phash near-dup components keep-list → payload
    verify (pixel/phash/caption invariants) → WebDataset-style shard
    packing; output is the packed shard schedule of the surviving images.

    The corpus plants one hazard per stage: every 10th image is re-fetched
    under a twin id after a lossless CDN transcode (reference image
    handling: /root/reference/src/crawl4ai_mcp.py extract_images — dedup
    must drop the twin and keep the original; twin ids sort AFTER their
    original, so hash-min components keep the original), and every 7th
    image carries a swapped-out caption (verify's strict caption equality
    must drop it — the caption↔image contract of BASELINE.json's
    input_hint). Every stage is the same operator its standalone gate
    checks (image_phash_pairs, media_verify, pack_schedule's prefix-sum
    twin); this gate checks the COMPOSITION — each stage consumes the
    previous stage's actual output.

    Shards budget by DECODED size (w·h + 9-byte container header), the
    size a training loader pays, which is also closed-form for the oracle
    (the zlib-compressed stored size is not SQL-expressible).
    """
    from mcp_crawl4ai_rag_spark.functions.images import (
        transcode_images,
        verify_images,
    )
    from mcp_crawl4ai_rag_spark.operators.components import (
        canonical_docs,
        connected_components,
    )
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import pack_shards
    from mcp_crawl4ai_rag_spark.operators.dedup import phash_pairs
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_images

    imgs = gen_images(spark, 1000)
    originals = imgs.select(
        "image_id",
        "bytes",
        "w",
        "h",
        "fmt",
        F.when(
            F.expr("CAST(substring(image_id, 5) AS BIGINT) % 7 = 0"),
            F.lit("swapped caption"),
        )
        .otherwise(F.col("caption"))
        .alias("caption"),
        "phash",
    )
    twin_src = imgs.where(
        F.expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0")
    )
    # lossless transcode keeps decoded pixels → recomputed phash identical
    # to the original's stored phash (same invariant image_phash_pairs pins)
    twins = (
        transcode_images(twin_src, "png")
        .join(twin_src.select("image_id", "caption"), "image_id")
        .select(
            F.concat(F.col("image_id"), F.lit("_dup")).alias("image_id"),
            "bytes",
            "w",
            "h",
            "fmt",
            "caption",
            "phash",
        )
    )
    # components' decreasing-sum termination needs NUMERIC vertex ids
    # (components.py casts labels to decimal), so map image ids to longs:
    # originals keep their digits, twins add 10^6 — min(nid) in a component
    # is then always the original, the keep we want. Long keys also make
    # the banding join key fixed-width instead of a string — the shape the
    # 10^9-image run wants anyway.
    corpus = (
        originals.unionByName(twins)
        .withColumn(
            "nid",
            F.expr("CAST(substring(image_id, 5, 12) AS BIGINT)")
            + F.when(F.col("image_id").endswith("_dup"), F.lit(1000000))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .localCheckpoint(eager=True)
    )  # consumed by pairs + keep-list + verify
    # stage A: phash near-dup pairs → components → canonical keep-list
    # (metadata-only: the banding join never touches payload bytes).
    # dedupe_identical: identical-phash clusters (blank/template images at
    # web scale) feed components as linear star edges, never a clique
    edges = phash_pairs(
        corpus, id_col="nid", max_hamming=4, dedupe_identical=True
    ).select("id_a", "id_b")
    comps = connected_components(edges, id_col="nid")
    kept = canonical_docs(corpus, comps, id_col="nid").drop("nid")
    # stage B: payload verify on the survivors (Arrow-batched decode)
    v = verify_images(kept)
    good = v.where(
        F.col("pixel_ok") & F.col("phash_ok") & F.col("caption_ok")
    ).select("image_id")
    survivors = kept.join(good, "image_id", "left_semi")
    # stage C: shard packing by decoded size
    sized = survivors.select(
        "image_id",
        (F.col("w").cast("long") * F.col("h") + 9).alias("item_bytes"),
    )
    return pack_shards(sized, _SHARD_BYTES).select(
        F.col("shard_id").cast("long").alias("shard_id"),
        "image_id",
        F.col("pos_bytes").cast("long").alias("pos_bytes"),
        F.col("item_bytes").cast("long").alias("item_bytes"),
    )


def _oracle_image_e2e() -> str:
    # gen_images id formulas: w = 32+(i%5)*8, h = 32+(i%3)*16. Survivors =
    # originals minus the %7 caption swaps (twins never survive stage A:
    # planted at hamming 0, canonical = min id = the original; no chance
    # pairs at hamming ≤ 4 in this corpus — the property image_phash_pairs
    # verifies directly). Exclusive prefix sum over image_id order, then
    # integer DIV/% for shard assignment; SUM() OVER is HUGEINT in DuckDB,
    # hence the BIGINT casts on every output expression.
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, 999)) AS i),
kept AS (
    SELECT i, 32 + (i % 5) * 8 AS w, 32 + (i % 3) * 16 AS h
    FROM ids WHERE i % 7 <> 0
),
sized AS (
    SELECT printf('img_%012d', i) AS image_id,
           CAST(w * h + 9 AS BIGINT) AS sz
    FROM kept
),
cum AS (
    SELECT image_id, sz,
           COALESCE(SUM(sz) OVER (ORDER BY image_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
    FROM sized
)
SELECT CAST(c // {_SHARD_BYTES} AS BIGINT) AS shard_id,
       image_id,
       CAST(c % {_SHARD_BYTES} AS BIGINT) AS pos_bytes,
       CAST(sz AS BIGINT) AS item_bytes
FROM cum
"""


# ---------------------------------------------------------------------------
# driver surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship slice (SURVEY.md §7.2) on sf0.001: politeness-budgeted crawl
    over the synthetic corpus → chunk → embed → upsert-store. Returns the
    stored chunk table."""
    sf_dir = "/root/testdata/sf0.001"
    n = _lineitem_count(spark, sf_dir)
    engine = CrawlEngine(
        spark,
        gen_pages(spark, n),
        gen_robots(spark),
        allowed_host_suffix=".example.com",
    )
    res = engine.run(gen_seeds(spark, n), max_depth=CRAWL_DEPTH, politeness=True)
    docs = res.fetched.select(
        F.col("canonical_url").alias("url"), "markdown", "depth"
    )
    chunks = build_chunks(docs, chunk_size=800)
    batch = with_embeddings(chunks, text_col="content", dim=EMB_DIM)
    return store_documents(None, batch)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "crawl_bfs_visited": q_crawl_bfs_visited,
        "crawl_lineage": q_crawl_lineage,
        "politeness_budgets": q_politeness_budgets,
        "politeness_drain": q_politeness_drain,
        "urlseen_filters": q_urlseen_filters,
        "url_kernels": q_url_kernels,
        "sitemap_expand": q_sitemap_expand,
        "smart_crawl_dispatch": q_smart_crawl_dispatch,
        "smart_crawl_txt": q_smart_crawl_txt,
        "chunk_documents": q_chunk_documents,
        "extraction_quality": q_extraction_quality,
        "chunk_metadata": q_chunk_metadata,
        "text_signals": q_text_signals,
        "exact_dedup": q_exact_dedup,
        "sources_distinct": q_sources_distinct,
        "neardup_pairs": q_neardup_pairs,
        "minhash_incremental": q_minhash_incremental,
        "repeated_spans": q_repeated_spans,
        "span_removal": q_span_removal,
        "dedup_components": q_dedup_components,
        "corpus_split": q_corpus_split,
        "vocab_topk": q_vocab_topk,
        "contamination": q_contamination,
        "bm25_paths": q_bm25_paths,
        "hybrid_rrf": q_hybrid_rrf,
        "gopher_filter": q_gopher_filter,
        "pii_scrub": q_pii_scrub,
        "pack_schedule": q_pack_schedule,
        "link_pagerank": q_link_pagerank,
        "corpus_mix": q_corpus_mix,
        "boilerplate_strip": q_boilerplate_strip,
        "embed_cache": q_embed_cache,
        "ann_suite": q_ann_suite,
        "ann_recall": q_ann_recall,
        "caption_alignment": q_caption_alignment,
        "events_hourly": q_events_hourly,
        "events_sessionize": q_events_sessionize,
        "media_verify": q_media_verify,
        "media_transform": q_media_transform,
        "media_features": q_media_features,
        "rag_pipeline": q_rag_pipeline,
        "crawl_ops": q_crawl_ops,
        "upsert_store": q_upsert_store,
        "contextual_enrich": q_contextual_enrich,
        "quality_probe": q_quality_probe,
        "unigram_lm": q_unigram_lm,
        "streaming_window": q_streaming_window,
        "link_counts": q_link_counts,
        "pipeline_e2e": q_pipeline_e2e,
        "crawl_e2e": q_crawl_e2e,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "crawl_bfs_visited": _oracle_crawl_bfs_visited(),
        "crawl_lineage": _oracle_crawl_lineage(),
        "politeness_budgets": _oracle_politeness_budgets(),
        "politeness_drain": _oracle_politeness_drain(),
        "urlseen_filters": _oracle_urlseen_filters(),
        "url_kernels": _oracle_url_kernels(),
        "sitemap_expand": _oracle_sitemap_expand(),
        "smart_crawl_dispatch": _oracle_smart_crawl_dispatch(),
        "smart_crawl_txt": _oracle_smart_crawl_txt(),
        "chunk_documents": _oracle_chunk_documents(),
        "extraction_quality": _oracle_extraction_quality(),
        "chunk_metadata": _oracle_chunk_metadata(),
        "text_signals": _oracle_text_signals(),
        "exact_dedup": _oracle_exact_dedup(),
        "sources_distinct": _oracle_sources_distinct(),
        "neardup_pairs": _oracle_neardup_pairs(),
        "minhash_incremental": _oracle_minhash_incremental(),
        "repeated_spans": _oracle_repeated_spans(),
        "span_removal": _oracle_span_removal(),
        "dedup_components": _oracle_dedup_components(),
        "corpus_split": _oracle_corpus_split(),
        "vocab_topk": _oracle_vocab_topk(),
        "contamination": _oracle_contamination(),
        "bm25_paths": _oracle_bm25_paths(),
        "hybrid_rrf": _oracle_hybrid_rrf(),
        "gopher_filter": _oracle_gopher_filter(),
        "pii_scrub": _oracle_pii_scrub(),
        "pack_schedule": _oracle_pack_schedule(),
        "link_pagerank": _oracle_link_pagerank(),
        "corpus_mix": _oracle_corpus_mix(),
        "boilerplate_strip": _oracle_boilerplate_strip(),
        "embed_cache": _oracle_embed_cache(),
        "ann_suite": _oracle_ann_suite(),
        "ann_recall": _oracle_ann_recall(),
        "caption_alignment": _oracle_caption_alignment(),
        "events_hourly": _oracle_events_hourly(),
        "events_sessionize": _oracle_events_sessionize(),
        "media_verify": _oracle_media_verify(),
        "media_transform": _oracle_media_transform(),
        # media_features / rag_pipeline: the binary feature math and the
        # seeded embedder are not SQL-expressible, so their oracles are
        # Python-twin literal injections (the quality_probe precedent) —
        # expected values recomputed driver-side without Spark, emitted as
        # typed VALUES literals.
        "media_features": _oracle_media_features(),
        "rag_pipeline": _oracle_rag_pipeline(),
        "crawl_ops": _oracle_crawl_ops(),
        "upsert_store": _oracle_upsert_store(),
        "contextual_enrich": _oracle_contextual_enrich(),
        "quality_probe": _oracle_quality_probe(),
        "unigram_lm": _oracle_unigram_lm(),
        "streaming_window": _oracle_streaming_window(),
        "link_counts": _oracle_link_counts(),
        "pipeline_e2e": _oracle_pipeline_e2e(),
        "crawl_e2e": _oracle_crawl_e2e(),
    }
