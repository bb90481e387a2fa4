#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the north-rule frontier throughput job —
one politeness-budgeted frontier epoch (bloom+anti-join dedup → salted
per-host pop) over a synthetic N-URL frontier — at TWO parallelism levels
(cpus/4 and cpus) on identical input, reporting URLs scheduled+deduped/sec
at both and the scaling efficiency between them (the sandbox substitute for
the N-vs-4N-executor criterion; see BASELINE.md).

Prints ONE JSON line:
  {"metric": ..., "value": <urls/sec at full parallelism>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "scaling": {...}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
FRONTIER_N = int(os.environ.get("SPARK_GRAFT_FRONTIER_N", "16000000"))
# One shuffle-partition count for BOTH parallelism levels: on a real cluster
# the partitioning is fixed by the data, only the executor count varies.
SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "128"))
# Ladder rung sizes (comma-separated URL counts). The default three rungs
# (N/4, N, 4N) give the 16× linearity witness; a one-off deeper rung (e.g.
# 256M = 16N) extends the curve another 4× step toward the 10^10 north
# scale — at that size ALSO raise SPARK_GRAFT_DRIVER_MEM: local mode holds
# the whole serialized frontier in the single driver JVM, so the default
# 32g that fits 64M rows would OOM-thrash at 256M (≈25 GB frontier +
# shuffle + bloom shards).
LADDER_NS = [
    int(s)
    for s in os.environ.get(
        "SPARK_GRAFT_LADDER_NS",
        f"{FRONTIER_N // 4},{FRONTIER_N},{FRONTIER_N * 4}",
    ).split(",")
]
DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")

BENCH_QUERIES = [
    "crawl_bfs_visited",
    "dfs_order",
    "crawl_redirects",
    "crawl_stored",
    "crawl_hardened",
    "smart_crawl_sitemap",
    "smart_crawl_webpage",
    "sitemap_expand",
    "robots_discovery",
    "sitemap_lastmod",
    "sitemap_priority",
    "sitemap_changefreq",
    "politeness_drain",
    "drain_capped",
    "drain_host_quota",
    "drain_stored",
    "urlseen_antijoin",
    "urlseen_cuckoo",
    "url_kernels",
    "trap_kernel",
    "template_explosion",
    "domain_collapse",
    "politeness_budgets",
    "host_quality_prior",
    "keyword_prior",
    "robots_rfc",
    "robots_wildcard",
    "composite_prior",
    "sources_distinct",
    "doc_token_stats",
    "chunk_documents",
    "html_extract",
    "extraction_quality",
    "warc_parse",
    "quality_score",
    "lang_id",
    "exact_dedup",
    "minhash_lsh_pairs",
    "minhash_incremental",
    "repeated_spans",
    "span_removal",
    "dedup_components",
    "semdedup",
    "simhash_pairs",
    "corpus_split",
    "vocab_topk",
    "contamination",
    "semantic_contamination",
    "bm25_search",
    "bm25_indexed",
    "hybrid_rrf",
    "gopher_filter",
    "quality_probe",
    "dsir_select",
    "unigram_lm",
    "bigram_lm",
    "pii_scrub",
    "pack_schedule",
    "link_pagerank",
    "corpus_mix",
    "token_budget",
    "boilerplate_strip",
    "paragraph_dedup",
    "c4_clean",
    "embedding_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_quantized",
    "ann_recall",
    "neardup_recall",
    "xmodal_recall",
    "ann_multiprobe",
    "embed_cache",
    "embedding_neardup",
    "caption_alignment",
    "aesthetic_probe",
    "events_hourly",
    "events_sessionize",
    "image_verify",
    "image_meta",
    "image_features",
    "image_phash_pairs",
    "audio_verify",
    "audio_resample",
    "video_frames",
    "media_features",
    "rag_pipeline",
    "crawl_report",
    "smart_crawl_txt",
    "upsert_store",
    "crawl_params",
    "contextual_concat",
    "ann_ivf_trained",
    "ann_pq",
    "chunk_metadata",
    "streaming_window",
    "contextual_join",
    "image_resize",
    "link_counts",
    "pipeline_e2e",
    "crawl_e2e",
    "image_e2e",
    "aspect_buckets",
]


def _mk_spark(cores: int):
    from mcp_crawl4ai_rag_spark import get_spark

    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    spark = get_spark(
        app_name=f"bench-local{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            # single-node substitutes for cluster-local NVMe shuffle dirs
            "spark.local.dir": "/dev/shm/spark-tmp",
            "spark.driver.memory": DRIVER_MEM,
            # keep post-shuffle parallelism at cluster-like granularity: AQE's
            # 64MB default advisory coalesces this workload below core count
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_queries(spark) -> tuple[dict[str, float], dict[str, int]]:
    import gc

    import __spark_entry__ as E

    # Pre-warm the write-once corpus tables OUTSIDE the timed loop: their
    # cache key includes the generator source hash, so the first run after
    # a corpus.py edit would otherwise charge a full rebuild to whichever
    # query touches the corpus first (observed: crawl_bfs_visited 78s dirty
    # vs ~30s warm).
    from mcp_crawl4ai_rag_spark.sources.corpus import (
        materialized_pages,
        materialized_sitemaps,
    )

    n = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    materialized_pages(spark, n).count()
    materialized_sitemaps(spark, n).count()
    # politeness_drain builds its own corpus size (different cache key) —
    # warm it too or a corpus.py edit bills that one-off build to its cell
    materialized_pages(spark, E._DRAIN_M).count()

    qs = E.queries()
    times: dict[str, float] = {}
    probes: dict[str, int] = {}
    for name in BENCH_QUERIES:
        # merged registry gates (ann_suite, neardup_pairs, ...) union several
        # legs; bench keeps timing each LEG under its historical name so the
        # per-query cells stay comparable with BASELINE.md across rounds
        fn = qs.get(name) or getattr(E, f"q_{name}")
        t0 = time.time()
        df = fn(spark, SF_DIR)
        # noop sink: materializes EVERY output column. A count() here lets
        # Catalyst prune computed projections, so scalar-kernel queries
        # would time a parquet metadata row-count instead of the kernel.
        df.write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 2)
        # housekeeping between queries (untimed): drop cached blocks and
        # nudge both GCs so localCheckpoint blocks from this query don't
        # become heap pressure billed to later queries.
        gc.collect()
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        # per-cell contention canary (untimed, ~0.2 s): the busy probe runs
        # while Spark is idle, so a slow sample here means FOREIGN load was
        # present around this cell — co-tenant bursts on a shared VM hit
        # mid-phase and are invisible to start/end witnesses alone. A cell
        # is trustworthy iff its own and its neighbors' canaries are fast.
        probes[name] = busy_probe_ms()
    return times, probes


def frontier_epoch(
    spark, n: int, pop_fraction: float = 0.4, consumer: str = "count"
) -> tuple[int, float, float]:
    """One frontier epoch at scale: n candidate URLs, n/3 already seen,
    bloom-prefiltered exact dedup, per-host politeness budgets, salted
    two-phase pop. Returns (candidates processed, elapsed seconds,
    bloom-build+probe phase seconds).

    ``consumer`` — how the pop output is materialized, which decides what
    the window exchanges actually carry:
    - "count" (headline metric, comparable across rounds): popped.count();
      Catalyst column-prunes the two-phase pop's exchanges to the narrow
      ranking keys (measured: BENCH/bench_r3_pop_shuffle_bytes.json).
    - "noop": noop-sink both popped and deferred at FULL width — the
      engine-faithful shape (plans/crawl.py checkpoints popped with all
      columns and feeds deferred to the next epoch), where the two-phase
      exchanges must carry URL strings."""
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.functions.urls import url_hash
    from mcp_crawl4ai_rag_spark.operators.politeness import (
        attach_budgets,
        pop_per_host,
    )
    from mcp_crawl4ai_rag_spark.operators.urlseen import anti_join_seen, build_bloom

    parts = SHUFFLE_PARTITIONS

    # Frontier-scale host layout: ~1k hosts (a 10^10-URL frontier has ~10^6+
    # hosts; per-host pop parallelism comes from host cardinality) with a hot
    # host carrying ~25% of all URLs to exercise the salted-lane skew path.
    def urls(ids):
        i = F.col("id")
        host_id = F.when(i % 4 == 0, F.lit(0)).otherwise((i % 1021).cast("int"))
        host = F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.com"))
        u = F.concat(F.lit("https://"), host, F.lit("/p/"), i.cast("string"))
        return ids.select(
            u.alias("canonical_url"),
            url_hash(u).alias("url_hash"),
            host.alias("host"),
            F.lit("/p/x").alias("path"),
            (F.col("id") % 4).cast("int").alias("depth"),
            F.lit(0).alias("priority"),
            F.col("id").alias("seq"),
        )

    frontier = urls(spark.range(0, n, 1, parts))
    url_seen = urls(spark.range(0, n, 3, parts)).select("url_hash", "canonical_url")
    # warm both inputs so the timed region is the dedup+pop pipeline only.
    # Serialized level to match the engine's own checkpoints (local_ckpt):
    # the deserialized default's live row objects tax the concurrent bloom
    # fold ~4x at 32 cores (BENCH/ckpt_level_ab_32.json, median 10.8s vs 2.65s).
    from pyspark import StorageLevel as _SL

    frontier = frontier.localCheckpoint(
        eager=True, storageLevel=_SL.MEMORY_AND_DISK
    )
    url_seen = url_seen.localCheckpoint(
        eager=True, storageLevel=_SL.MEMORY_AND_DISK
    )

    # per-host budget sized to pop ~pop_fraction of the deduped frontier,
    # hot-host skew included (host 0 carries ~25% of URLs)
    new_est = n * 2 // 3
    budget_seconds = (new_est * pop_fraction / 1021) * 2.0  # delay midpoint 2.0s

    t0 = time.time()
    bloom = build_bloom(url_seen, "url_hash", expected=n // 3)
    t_bloom = time.time() - t0
    fresh = anti_join_seen(frontier, url_seen, bloom)
    with_b = attach_budgets(fresh, None, None, epoch_seconds=budget_seconds)
    popped, deferred = pop_per_host(with_b, None)
    if consumer == "noop":
        popped.write.format("noop").mode("overwrite").save()
        deferred.write.format("noop").mode("overwrite").save()
        n_popped = 1  # materialized via sink; count not needed
    else:
        n_popped = popped.count()
    elapsed = time.time() - t0
    assert n_popped > 0
    frontier.unpersist()
    url_seen.unpersist()
    return n, elapsed, t_bloom


def ladder_rung(n: int) -> dict:
    """One input-size ladder rung: the full frontier epoch at ``n`` URLs on
    ``CPUS`` cores in a FRESH JVM (the one-JVM-per-cell lesson). The ladder
    is the 100×-scale-up witness the core-count cells can't give: at fixed
    parallelism, URLs/s should hold as the input grows — a super-linear
    time curve would mean some stage (bloom build, window rank, driver
    merge) degrades with input size and would cliff long before 10^10."""
    spark = _mk_spark(CPUS)
    t, bloom = best_frontier_time(spark, n)
    spark.stop()
    return {
        "n": n,
        "sec": round(t, 2),
        "bloom_sec": round(bloom, 2),
        "urls_per_sec": round(n / t, 1),
    }


def best_frontier_time(spark, n: int, reps: int = 2) -> tuple[float, float]:
    """Warm up (JIT/codegen), then take the best of ``reps`` runs — the
    steady-state (total, bloom-phase) times, least polluted by GC noise.
    The per-phase split backs the bandwidth-bound analysis in BASELINE.md."""
    frontier_epoch(spark, max(n // 8, 100_000))
    best = min((frontier_epoch(spark, n) for _ in range(reps)), key=lambda t: t[1])
    return best[1], best[2]


def stored_epoch_time(spark, n: int, reps: int = 2) -> float:
    """Stored-frontier epoch (r5 — the 10^10 cluster shape, executed):
    the frontier lives in a host-BUCKETED parquet table
    (CrawlEngine._store_frontier — one definition), the timed region is
    bloom+anti-join dedup → budget attach → THRESHOLD pop straight off
    the table scan (the table IS the materialization), with BOTH pop
    outputs consumed at FULL width (the engine-faithful shape, where the bucket layout's zero-Exchange pop
    actually matters; BENCH/bench_r5_stored_pop_bytes.json records the pop at
    0 shuffled bytes vs 626 MB for the in-memory two-phase). The table
    write itself is untimed — on the deployment cluster the previous
    epoch wrote it."""
    import tempfile

    from pyspark import StorageLevel as _SL
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.functions.urls import url_hash
    from mcp_crawl4ai_rag_spark.operators.politeness import (
        attach_budgets,
        pop_per_host_threshold,
    )
    from mcp_crawl4ai_rag_spark.operators.urlseen import anti_join_seen, build_bloom
    from mcp_crawl4ai_rag_spark.plans.crawl import CrawlEngine

    def urls(ids):
        i = F.col("id")
        host_id = F.when(i % 4 == 0, F.lit(0)).otherwise((i % 1021).cast("int"))
        host = F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.com"))
        u = F.concat(F.lit("https://"), host, F.lit("/p/"), i.cast("string"))
        return ids.select(
            u.alias("canonical_url"),
            url_hash(u).alias("url_hash"),
            host.alias("host"),
            F.lit("/p/x").alias("path"),
            (F.col("id") % 4).cast("int").alias("depth"),
            F.lit(0).alias("priority"),
            F.col("id").alias("seq"),
        )

    td = tempfile.mkdtemp(prefix="bench_stored_frontier_")
    eng = CrawlEngine(
        spark, urls(spark.range(0)).limit(0),
        frontier_store_dir=td,
    )
    stored = eng._store_frontier(0, urls(spark.range(0, n, 1, SHUFFLE_PARTITIONS)))
    url_seen = urls(spark.range(0, n, 3, SHUFFLE_PARTITIONS)).select(
        "url_hash", "canonical_url"
    ).localCheckpoint(eager=True, storageLevel=_SL.MEMORY_AND_DISK)
    budget_seconds = ((n * 2 // 3) * 0.4 / 1021) * 2.0

    def epoch() -> float:
        t0 = time.time()
        bloom = build_bloom(url_seen, "url_hash", expected=n // 3)
        fresh = anti_join_seen(stored, url_seen, bloom)
        with_b = attach_budgets(fresh, None, None, epoch_seconds=budget_seconds)
        popped, deferred = pop_per_host_threshold(with_b, None)
        popped.write.format("noop").mode("overwrite").save()
        deferred.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    epoch()  # warm (JIT/codegen)
    best = min(epoch() for _ in range(reps))
    url_seen.unpersist()
    return best


def kernel_scan_time(spark, n: int, reps: int = 2) -> float:
    """Compute-bound scaling probe: URL canonicalize + classify + binary
    filter + hash over n generated URLs, whole-stage codegen, no shuffle.
    Separates CPU scaling from the shuffle/memory-bandwidth-bound profile of
    the full epoch (single-node local mode shares one memory bus; a real
    cluster adds bandwidth with every executor node)."""
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.functions.urls import (
        canonical_url,
        classify_url,
        is_binary_url,
        url_hash,
    )

    def job():
        i = F.col("id")
        u = F.concat(
            F.lit("https://h"), (i % 997).cast("string"), F.lit(".example.com/p/"),
            i.cast("string"),
            F.when(i % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
        )
        df = spark.range(0, n, 1, SHUFFLE_PARTITIONS).select(u.alias("url"))
        c = canonical_url(F.col("url"))
        t0 = time.time()
        df.where(~is_binary_url(F.col("url"))).select(
            F.pmod(url_hash(c), F.lit(1000)).alias("h"),
            classify_url(c).alias("k"),
        ).groupBy("k").agg(F.sum("h")).collect()
        return time.time() - t0

    job()  # warm
    return min(job() for _ in range(reps))


def _burn(_arg: int) -> int:
    # pure-Python CPU burner for the hardware-ceiling probe (module-level
    # for multiprocessing pickling)
    s = 0
    for i in range(6_000_000):
        s += i * i
    return s


def _task_skew(spark, min_stage_id: int, min_tasks: int = 8) -> dict:
    """Max/median task-duration skew witness over the HEAVY stages of the
    stages executed since ``min_stage_id`` (Spark UI REST taskSummary).
    Stages with < min_tasks tasks or < 200 ms median are scheduling noise,
    not skew signals, and are skipped — as are stages whose straggler
    EXCESS (max − median) is under 1 s: the witness exists to catch scale
    cliffs (hot key, degenerate salting), and a sub-second excess on a
    short wave is host jitter, not data skew. Evidence: the one real catch
    (pipeline_e2e pre-explode-fix) read median 994 / max 8210 ms — 7.2 s
    excess — while the attribution of every ≥2× trip since
    the fix landed on the 8-task bloom shard-fold collect
    (urlseen.py:227) at median ~300 / max ~620 ms, uniform shuffle reads,
    ratio drifting 1.36→2.59 across runs with ambient
    (BENCH/skew_drill_crawl_e2e_10x.txt). Returns the worst
    ratio plus the stage it came from — 'no task > 2× median on the
    salted paths' is the pass bar (VERDICT r3 #6)."""
    import json as _json
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    try:
        stages = _json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete"
            )
        )
    except Exception:
        return {"err": "ui_unavailable"}
    worst = None
    n_heavy = 0
    for s in stages:
        if s["stageId"] < min_stage_id or s.get("numCompleteTasks", 0) < min_tasks:
            continue
        try:
            q = _json.load(
                urllib.request.urlopen(
                    f"{ui}/api/v1/applications/{app}/stages/{s['stageId']}/"
                    f"{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
                )
            )
        except Exception:
            continue
        med, mx = q["duration"][0], q["duration"][1]
        if med < 200.0 or (mx - med) < 1000.0:
            continue
        n_heavy += 1
        ratio = mx / med
        if worst is None or ratio > worst["max_over_median"]:
            worst = {
                "max_over_median": round(ratio, 2),
                "stage_id": s["stageId"],
                "n_tasks": s["numCompleteTasks"],
                "median_ms": round(med),
                "max_ms": round(mx),
            }
    return {"heavy_stages": n_heavy, "worst": worst}


def _max_stage_id(spark) -> int:
    import json as _json
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    try:
        stages = _json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages")
        )
        return max((s["stageId"] for s in stages), default=-1) + 1
    except Exception:
        return 0


def compose_scale_cell() -> dict:
    """Composed-gate scale cell (VERDICT r3 #6): run crawl_e2e and
    pipeline_e2e ONCE at SPARK_GRAFT_COMPOSE_MULT× (default 10× ≈ sf1 when
    SF_DIR is sf0.1) and record wall time + the max/median task-duration
    skew witness — the cheapest probe for a composition-level scale cliff
    (or a salted path silently degrading to one hot task) that the sf0.1
    gates cannot see. Corpus build (write-once materialization at the new
    size) is warmed untimed."""
    import __spark_entry__ as E
    from mcp_crawl4ai_rag_spark.sources.corpus import materialized_pages

    mult = int(os.environ.get("SPARK_GRAFT_COMPOSE_MULT", "10"))
    # REST task metrics need the UI; _mk_spark disables it, so this phase
    # builds its own session
    spark = _mk_spark_ui(CPUS)
    cell: dict = {"mult": mult}
    os.environ["SPARK_GRAFT_N_MULT"] = str(mult)
    os.environ["SPARK_GRAFT_DOCS_MULT"] = str(mult)
    try:
        n = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count() * mult
        materialized_pages(spark, n).count()  # untimed write-once build
        qs = E.queries()
        for name in ("crawl_e2e", "pipeline_e2e"):
            # cold run: wall time incl. codegen/JIT. warm run: the skew
            # witness — measured cold, the FIRST wave of tasks (one per
            # core) all carry whole-stage-codegen compilation (~2 s vs
            # ~0.25 s later waves, measured) and read as 8x fake "skew";
            # on a cluster with long-lived executors that cost amortizes,
            # so steady-state max/median is the honest salt/balance signal
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            cold = round(time.time() - t0, 2)
            spark.catalog.clearCache()
            wm = _max_stage_id(spark)
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            warm = round(time.time() - t0, 2)
            cell[name] = {
                "sec_cold": cold,
                "sec_warm": warm,
                "skew": _task_skew(spark, wm),
            }
            spark.catalog.clearCache()
    finally:
        os.environ.pop("SPARK_GRAFT_N_MULT", None)
        os.environ.pop("SPARK_GRAFT_DOCS_MULT", None)
        spark.stop()
    return cell


def _mk_spark_ui(cores: int):
    from mcp_crawl4ai_rag_spark import get_spark

    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    spark = get_spark(
        app_name=f"bench-compose-local{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": "/dev/shm/spark-tmp",
            "spark.driver.memory": DRIVER_MEM,
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
            "spark.ui.enabled": "true",  # REST task metrics for the skew witness
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def busy_probe_ms() -> int:
    """Single-thread busy probe (ms for a fixed 3M-iteration loop): only
    slows when something ELSE eats CPU at sample time. THE one probe body
    — canaries and phase witnesses must measure the identical workload."""
    t0 = time.time()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    assert acc >= 0
    return round((time.time() - t0) * 1000)


def memstream_pass_mbps() -> int:
    """Memory-bandwidth witness: MB/s over one 256 MB streaming sum. The
    CPU probe cannot see a HOST-level co-tenant on the memory bus (r3
    polluted run: probes < 400 ms while shuffle cells ran 5-10x slow and
    this read 0.25-4.5 GB/s vs ~9.6 clean)."""
    import numpy as _np

    buf = _np.ones(32_000_000, dtype=_np.float64)  # 256 MB
    t0 = time.time()
    s = float(buf.sum())
    assert s > 0
    return round(256 / (time.time() - t0))



def cpu_ceiling(lo: int, hi: int) -> dict[str, float]:
    """Hardware scaling ceiling: the same fixed-size pure-Python task run on
    lo vs hi concurrent processes (no Spark). SMT sharing + turbo/bandwidth
    limits make per-task time grow with concurrency; the resulting
    efficiency bound is the most ANY perfectly-parallel job can reach going
    lo→hi cores on this box. Emitted so the whole BASELINE.md scaling table
    is reproducible from this one script."""
    import multiprocessing as mp

    def run(n: int) -> float:
        t0 = time.time()
        with mp.Pool(n) as p:
            p.map(_burn, range(n * 3))
        return time.time() - t0

    run(2)  # warm/fork overhead
    thr = {}
    for n in (lo, hi):
        t = min(run(n) for _ in range(2))
        thr[n] = n * 3 / t
    speedup = thr[hi] / thr[lo]
    return {
        "ceiling_speedup": round(speedup, 3),
        "ceiling_efficiency": round(speedup / (hi / lo), 3),
    }


def emit(out: dict) -> None:
    """Print the one-line JSON contract, then (optionally) snapshot it.

    SPARK_GRAFT_SNAPSHOT=<path>: also write the JSON to <path> — but REFUSE
    when the run is witness-dirty (any phase start exceeding
    SPARK_GRAFT_MAX_LOAD loadavg / SPARK_GRAFT_MAX_PROBE_MS busy probe /
    below SPARK_GRAFT_MIN_MEMSTREAM_MBPS bandwidth, or >20% slow query
    canaries) or when the path already holds ANY snapshot (clean or not —
    delete it or pick a new name to re-measure). BASELINE.md quotes only
    snapshot cells, so a polluted run must not silently replace one;
    override with SPARK_GRAFT_FORCE_SNAPSHOT=1 (the witness travels with
    the file either way, so even forced snapshots stay
    self-identifying)."""
    print(json.dumps(out))
    path = os.environ.get("SPARK_GRAFT_SNAPSHOT")
    if not path:
        return
    max_load = float(os.environ.get("SPARK_GRAFT_MAX_LOAD", "4.0"))
    max_probe = float(os.environ.get("SPARK_GRAFT_MAX_PROBE_MS", "400"))
    # Memory-bandwidth floor: the CPU probe is register-bound and BLIND to a
    # host-level co-tenant eating the memory bus — the r3 polluted run
    # passed every probe_ms gate while its memstream witnesses read
    # 1.2-4.5 GB/s against the ~9-10 GB/s this box sustains clean (and the
    # shuffle-heavy cells ran 5-10x slow). Any phase sample below the floor
    # is foreign bandwidth pressure → refuse.
    min_memstream = float(os.environ.get("SPARK_GRAFT_MIN_MEMSTREAM_MBPS", "6000"))
    force = os.environ.get("SPARK_GRAFT_FORCE_SNAPSHOT") == "1"

    witnesses: dict[str, float] = {}
    if out.get("loadavg_at_queries_start") is not None:
        witnesses["queries"] = out["loadavg_at_queries_start"]
    dirty = {t: w for t, w in witnesses.items() if w > max_load}
    # scaling phases gate on the busy PROBE, not loadavg: each phase starts
    # right after the previous phase's own JVM stopped, so 1-min loadavg
    # structurally carries the bench's own decaying threads — only the
    # probe (run while nothing of ours executes) measures foreign load
    for tag, w in ((out.get("scaling") or {}).get("loadavg_at_phase_start") or {}).items():
        witnesses[tag] = w["probe_ms"]
        if w["probe_ms"] > max_probe:
            dirty[tag] = w["probe_ms"]
        ms = w.get("memstream_mbps")
        if ms is not None and ms < min_memstream:
            dirty[f"{tag}_memstream"] = ms
    for tag in ("memstream_at_queries_start", "memstream_at_queries_end"):
        ms = out.get(tag)
        if ms is not None and ms < min_memstream:
            dirty[tag] = ms
    # end-of-phase contention probe: a co-tenant arriving MID-phase is
    # invisible to start loadavg; the busy probe after spark.stop() only
    # slows when foreign CPU load is present right then
    pe = out.get("probe_ms_at_queries_end")
    if pe is not None and pe > max_probe:
        dirty["queries_end_probe_ms"] = pe
    # per-cell canaries: isolated bursts are fine (the affected cells are
    # identifiable and excluded when quoting), but a phase where >20% of
    # canaries ran slow is pervasively polluted — refuse it
    canaries = out.get("probe_ms_per_query") or {}
    slow = [k for k, v in canaries.items() if v > max_probe]
    if canaries and len(slow) > 0.2 * len(canaries):
        dirty["query_canaries_slow"] = len(slow)
    if dirty and not force:
        print(
            f"bench: REFUSING snapshot {path}: witness-dirty phases "
            f"{dirty} exceed gates (loadavg>{max_load} / "
            f"probe>{max_probe}ms / memstream<{min_memstream}MB/s) "
            "(SPARK_GRAFT_FORCE_SNAPSHOT=1 to override)",
            file=sys.stderr,
        )
        return
    if os.path.exists(path) and not force:
        print(
            f"bench: REFUSING to overwrite existing snapshot {path} "
            "(SPARK_GRAFT_FORCE_SNAPSHOT=1 to override)",
            file=sys.stderr,
        )
        return
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"bench: snapshot written to {path} (witnesses {witnesses})", file=sys.stderr)


def main() -> None:
    kernel_n = FRONTIER_N * 4

    # SPARK_GRAFT_PHASES=queries|scaling|all (default all): lets a polluted
    # phase be re-measured alone — per-query and scaling numbers are
    # independent jobs, and ambient VM load rarely ruins both at once.
    phases = os.environ.get("SPARK_GRAFT_PHASES", "all")

    def _probe_ms() -> int:
        # single-thread busy probe: only slows when something ELSE eats CPU
        # at sample time (loadavg would count the bench's own threads)
        return busy_probe_ms()

    def _memstream_mbps() -> int:
        return memstream_pass_mbps()

    qtimes: dict[str, float] = {}
    qprobes: dict[str, int] = {}
    queries_load = None
    queries_probe_end = None
    queries_mem_start = queries_mem_end = None
    if phases in ("all", "queries"):
        # witness at phase START (1-min loadavg + probe + memstream) and
        # again at phase END (after spark.stop(), so own threads are gone)
        # — a co-tenant arriving mid-phase (observed in r2/r3 runs: first
        # cells 4x while later scalar cells were clean) is invisible to the
        # start sample alone
        queries_load = round(os.getloadavg()[0], 1)
        queries_mem_start = _memstream_mbps()
        spark = _mk_spark(CPUS)
        qtimes, qprobes = run_queries(spark)
        spark.stop()
        queries_probe_end = _probe_ms()
        queries_mem_end = _memstream_mbps()
    if phases == "queries":
        emit({
            "metric": "urls_scheduled_deduped_per_sec",
            "value": None, "unit": "sec", "queries": qtimes,
            "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
            "scaling": None,
            "loadavg_at_queries_start": queries_load,
            "probe_ms_at_queries_end": queries_probe_end,
            "memstream_at_queries_start": queries_mem_start,
            "memstream_at_queries_end": queries_mem_end,
            "probe_ms_per_query": qprobes,
        })
        return
    if phases == "ladder":
        # standalone input-size ladder (all three rungs measured fresh);
        # per-rung witnesses land under scaling.loadavg_at_phase_start so
        # the snapshot gate checks them like any scaling cell
        lloads: dict[str, dict[str, float]] = {}

        def _lwit(tag: str) -> None:
            lloads[tag] = {
                "loadavg": round(os.getloadavg()[0], 1),
                "probe_ms": busy_probe_ms(),
                "memstream_mbps": memstream_pass_mbps(),
            }

        rungs = []
        for n in LADDER_NS:
            _lwit(f"ladder_{n}")
            rungs.append(ladder_rung(n))
        _lwit("end")
        emit({
            "metric": "urls_scheduled_deduped_per_sec",
            "value": None, "unit": "sec", "queries": {},
            "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
            "scaling": {
                "input_ladder": {
                    "cores": CPUS,
                    "rungs": rungs,
                    # throughput ratio last/first rung, keyed by the actual
                    # input-size span so a custom SPARK_GRAFT_LADDER_NS run
                    # labels itself (default 3-rung ladder keeps the
                    # historical _16x key)
                    f"throughput_linearity_{LADDER_NS[-1] // LADDER_NS[0]}x":
                        round(
                            rungs[-1]["urls_per_sec"]
                            / rungs[0]["urls_per_sec"],
                            3,
                        ),
                },
                "loadavg_at_phase_start": lloads,
            },
            "loadavg_at_queries_start": None,
            "probe_ms_at_queries_end": None,
        })
        return
    if phases == "compose":
        # standalone compose cell (re-measure after pollution, or quick
        # check) — witnessed start AND end so a snapshot of this phase is
        # gate-checked like any other, never vacuously accepted
        def _wit() -> dict:
            return {
                "loadavg": round(os.getloadavg()[0], 1),
                "probe_ms": busy_probe_ms(),
                "memstream_mbps": memstream_pass_mbps(),
            }

        wit = {"compose": _wit()}
        cell = compose_scale_cell()
        wit["end"] = _wit()
        emit({
            "metric": "urls_scheduled_deduped_per_sec",
            "value": None, "unit": "sec", "queries": {},
            "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
            "scaling": {"compose10x": cell, "loadavg_at_phase_start": wit},
            "loadavg_at_queries_start": None,
            "probe_ms_at_queries_end": None,
        })
        return

    # One FRESH JVM per (phase, parallelism) cell. Round-1 lesson: the
    # kernel scan sharing a JVM with the 16M-row frontier runs inherits its
    # heap garbage and localCheckpoint blocks — at 32 cores that cost the
    # kernel ~2x (BENCH_r01 measured 17.9s vs 8.1s in a clean JVM) and made
    # the committed scaling numbers contradict BASELINE.md's. Isolating each
    # cell removes the order effect entirely.
    lo_cores = max(CPUS // 4, 1)

    # Ambient-load witness: phases run minutes apart on a shared VM, and a
    # noisy neighbor during ONE phase silently wrecks a speedup ratio.
    # Sampling the 1-min loadavg at each phase start makes polluted runs
    # self-identifying instead of mysteriously contradictory.
    loads: dict[str, dict[str, float]] = {}

    def _load(tag: str) -> None:
        # loadavg decays slowly and counts the bench's own threads; the
        # single-thread busy probe measures CPU contention directly — it
        # only slows when something ELSE is eating CPU right now. But it is
        # register-bound, so a HOST-level co-tenant eating memory BANDWIDTH
        # (the resource the 32-thread frontier cells are bound on) is
        # invisible to it — hence the streaming probe: MB/s over a 256 MB
        # pass. Observed failure mode this made diagnosable: lo-core cells
        # reproducing exactly while every hi-core cell degrades 1.5-2x with
        # clean CPU probes.
        loads[tag] = {
            "loadavg": round(os.getloadavg()[0], 1),
            "probe_ms": busy_probe_ms(),
            "memstream_mbps": memstream_pass_mbps(),
        }

    _load("frontier_hi")
    spark_hi = _mk_spark(CPUS)
    t_hi, bloom_hi = best_frontier_time(spark_hi, FRONTIER_N)
    spark_hi.stop()

    _load("frontier_lo")
    spark_lo = _mk_spark(lo_cores)
    t_lo, bloom_lo = best_frontier_time(spark_lo, FRONTIER_N)
    spark_lo.stop()

    _load("kernel_hi")
    spark_khi = _mk_spark(CPUS)
    k_hi = kernel_scan_time(spark_khi, kernel_n)
    spark_khi.stop()

    _load("kernel_lo")
    spark_klo = _mk_spark(lo_cores)
    k_lo = kernel_scan_time(spark_klo, kernel_n)
    spark_klo.stop()
    n_hi = n_lo = FRONTIER_N

    # r5: the stored-frontier epoch (bucketed table + zero-Exchange
    # threshold pop, full-width consumers) at both parallelism levels —
    # the N→4N criterion measured through the shape the engine actually
    # ships for 10^10 (where the pop moves zero bytes between executors)
    _load("stored_hi")
    spark_shi = _mk_spark(CPUS)
    s_hi = stored_epoch_time(spark_shi, FRONTIER_N)
    spark_shi.stop()

    _load("stored_lo")
    spark_slo = _mk_spark(lo_cores)
    s_lo = stored_epoch_time(spark_slo, FRONTIER_N)
    spark_slo.stop()

    # input-size ladder: quarter / 1× / 4× of FRONTIER_N at fixed CPUS
    # cores (the 1× rung reuses the frontier_hi cell above — same shape,
    # same JVM policy). 16× input growth across the ladder.
    _load("ladder_quarter")
    rung_q = ladder_rung(FRONTIER_N // 4)
    _load("ladder_4x")
    rung_4 = ladder_rung(FRONTIER_N * 4)
    ladder = {
        "cores": CPUS,
        "rungs": [
            rung_q,
            {
                "n": FRONTIER_N,
                "sec": round(t_hi, 2),
                "bloom_sec": round(bloom_hi, 2),
                "urls_per_sec": round(FRONTIER_N / t_hi, 1),
            },
            rung_4,
        ],
        # ≥ ~0.8 = throughput flat over 16× input: no stage degrades with
        # input size; the plan's cost is linear in N as the 10^10 frontier
        # requires
        "throughput_linearity_16x": round(
            rung_4["urls_per_sec"] / rung_q["urls_per_sec"], 3
        ),
    }

    _load("compose")
    compose = compose_scale_cell()

    _load("ceiling")
    ceiling = cpu_ceiling(lo_cores, CPUS)
    # final witness AFTER the last measured cell: each cell's start sample
    # doubles as the previous cell's end sample, but the last cells had no
    # end-of-cell witness — contention arriving mid-ceiling was invisible
    _load("end")

    thr_hi = n_hi / t_hi
    thr_lo = n_lo / t_lo
    speedup = t_lo / t_hi
    efficiency = speedup / (CPUS / lo_cores)

    emit(
            {
                "metric": "urls_scheduled_deduped_per_sec",
                "value": round(thr_hi, 1),
                "unit": "sec",
                "queries": qtimes,
                "sf": float(SF_DIR.rstrip("/").split("sf")[-1]),
                "loadavg_at_queries_start": queries_load,
                "probe_ms_at_queries_end": queries_probe_end,
                "memstream_at_queries_start": queries_mem_start,
                "memstream_at_queries_end": queries_mem_end,
                "probe_ms_per_query": qprobes,
                "scaling": {
                    "frontier_urls": FRONTIER_N,
                    "cores_lo": lo_cores,
                    "cores_hi": CPUS,
                    "sec_lo": round(t_lo, 2),
                    "sec_hi": round(t_hi, 2),
                    "urls_per_sec_lo": round(thr_lo, 1),
                    "urls_per_sec_hi": round(thr_hi, 1),
                    "speedup": round(speedup, 3),
                    "efficiency_vs_4x": round(efficiency, 3),
                    "bloom_sec_lo": round(bloom_lo, 2),
                    "bloom_sec_hi": round(bloom_hi, 2),
                    "dedup_pop_sec_lo": round(t_lo - bloom_lo, 2),
                    "dedup_pop_sec_hi": round(t_hi - bloom_hi, 2),
                    "kernel_scan_urls": kernel_n,
                    "kernel_sec_lo": round(k_lo, 2),
                    "kernel_sec_hi": round(k_hi, 2),
                    "kernel_speedup": round(k_lo / k_hi, 3),
                    "kernel_efficiency_vs_4x": round(k_lo / k_hi / (CPUS / lo_cores), 3),
                    "stored_sec_lo": round(s_lo, 2),
                    "stored_sec_hi": round(s_hi, 2),
                    "stored_urls_per_sec_hi": round(FRONTIER_N / s_hi, 1),
                    "stored_speedup": round(s_lo / s_hi, 3),
                    "stored_efficiency_vs_4x": round(s_lo / s_hi / (CPUS / lo_cores), 3),
                    **ceiling,
                    "input_ladder": ladder,
                    "compose10x": compose,
                    "loadavg_at_phase_start": loads,
                },
            }
    )


if __name__ == "__main__":
    main()
