"""Physical-plan audit: dump .explain('formatted') for the key operators and
assert the plan properties the engine is designed around. Writes PLANS.md.

Checked properties:
- parquet scans carry PushedFilters + pruned ReadSchema (no full-width scan
  for narrow projections);
- the fetch-join broadcasts the popped batch, never the corpus;
- top-k plans as TakeOrderedAndProject (per-partition top-k merge, no global
  sort);
- aggregations are partial (map-side combine) before the shuffle;
- scans and scalar kernels sit inside WholeStageCodegen spans.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from mcp_crawl4ai_rag_spark import get_spark
    from mcp_crawl4ai_rag_spark.functions.text import quality_score_expr
    from mcp_crawl4ai_rag_spark.operators.dedup import minhash_signatures
    from mcp_crawl4ai_rag_spark.operators.similarity import brute_topk
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_pages, gen_seeds

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, list[tuple[str, str]]]] = []

    # 1. narrow projection + filter over parquet → pushdown + pruning
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    narrow = docs.where(F.col("lang") == "en").select(
        "doc_id", quality_score_expr(F.col("text")).alias("q")
    )
    sections.append((
        "Narrow scan: quality_score over documents (filter lang='en')",
        formatted(narrow),
        [
            ("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]", "filter pushed to parquet"),
            ("ReadSchema: struct<doc_id:bigint,text:string,lang:string>", "column pruning: 3 of 5 cols"),
            ("codegen id", "scan + filter inside a WholeStageCodegen span"),
        ],
    ))

    # 2. fetch-join: popped batch broadcast, corpus never shuffled
    pages = gen_pages(spark, 10_000)
    batch = (
        E.CrawlEngine(spark, pages)
        ._seed_frontier(gen_seeds(spark, 10_000))
    )
    from mcp_crawl4ai_rag_spark.plans.crawl import CrawlEngine

    eng = CrawlEngine(spark, pages)
    fetch_found = pages.withColumnRenamed("url", "canonical_url").drop(
        "host", "path"
    ).join(F.broadcast(batch), "canonical_url", "inner")
    sections.append((
        "Fetch-join: corpus ⋈ broadcast(popped batch)",
        formatted(fetch_found),
        [("BroadcastHashJoin", "batch broadcast; corpus side streams")],
    ))

    # 3. top-k → TakeOrderedAndProject
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(embs.where(F.col("vec_id") == 0).select("embedding").head()[0])
    topk = brute_topk(embs, q, 10)
    sections.append((
        "Vector top-k (brute cosine)",
        formatted(topk),
        [("TakeOrderedAndProject", "per-partition top-k, no global sort")],
    ))

    # 4. minhash signatures → partial aggregation before shuffle
    sigs = minhash_signatures(docs.select("doc_id", "text"))
    sections.append((
        "MinHash signatures (16 min-aggs over exploded shingles)",
        formatted(sigs),
        [
            ("HashAggregate", "hash aggregation"),
            ("partial_min", "map-side combine before exchange"),
        ],
    ))

    # 5. URL-seen anti-join
    from mcp_crawl4ai_rag_spark.functions.urls import url_hash

    cands = spark.range(0, 100_000).select(
        F.concat(F.lit("https://x/"), F.col("id")).alias("canonical_url")
    ).withColumn("url_hash", url_hash(F.col("canonical_url")))
    seen = cands.limit(50_000)
    anti = cands.join(seen, ["url_hash", "canonical_url"], "left_anti")
    sections.append((
        "URL-seen exact anti-join",
        formatted(anti),
        [("LeftAnti", "anti-join strategy chosen by planner")],
    ))

    # 6. IVF centroid assignment: zero shuffle between scan and argmin
    from mcp_crawl4ai_rag_spark.operators.similarity import ivf_assign

    cents = embs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    assign = ivf_assign(embs, cents)
    assign_plan = formatted(assign)
    sections.append((
        "IVF centroid assignment (per-row K-distance argmin)",
        assign_plan,
        [("Project", "assignment is a pure projection over the scan")],
    ))
    # negative check: the plan must contain NO Exchange at all
    if "Exchange" in assign_plan:
        sections.append((
            "IVF assignment NEGATIVE CHECK",
            "Exchange found in ivf_assign plan — the N×K shuffle is back",
            [("never", "this section only renders on regression")],
        ))

    # 7. bucketed URL-seen anti-join: zero Exchange on either side
    from mcp_crawl4ai_rag_spark.operators.urlseen import (
        bucketed_anti_join_seen,
        write_bucketed,
    )

    spark.sql("DROP TABLE IF EXISTS plans_frontier_bkt")
    spark.sql("DROP TABLE IF EXISTS plans_seen_bkt")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        c2 = spark.range(0, 5000).select(
            F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
            F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        )
        write_bucketed(c2, "plans_frontier_bkt", n_buckets=8)
        write_bucketed(c2.limit(2000), "plans_seen_bkt", n_buckets=8)
        bkt_plan = formatted(
            bucketed_anti_join_seen(spark, "plans_frontier_bkt", "plans_seen_bkt")
        )
        ok_no_exchange = "Exchange" not in bkt_plan
        sections.append((
            "Bucketed URL-seen anti-join (broadcast disabled — the 10^10-row regime)",
            bkt_plan,
            [
                ("SortMergeJoin", "merge join over pre-clustered buckets"),
                (
                    "LeftAnti" if ok_no_exchange else "NO-EXCHANGE-CHECK-FAILED",
                    "zero Exchange on either side (bucketed+sorted layout)",
                ),
            ],
        ))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS plans_frontier_bkt")
        spark.sql("DROP TABLE IF EXISTS plans_seen_bkt")

    # 8. persisted IVF index probe: partition-pruned scan
    import tempfile

    from mcp_crawl4ai_rag_spark.operators.similarity import (
        ivf_query_index,
        ivf_write_index,
    )

    with tempfile.TemporaryDirectory() as td:
        cents = embs.where(F.col("vec_id") < 4).select(
            F.col("vec_id").cast("int").alias("cid"),
            F.col("embedding").alias("ce"),
        )
        ivf_write_index(embs, cents, td + "/idx")
        probe_plan = formatted(ivf_query_index(spark, td + "/idx", cents, q, 5))
        sections.append((
            "Persisted IVF index probe (n_probe=2 of 4 inverted lists)",
            probe_plan,
            [("PartitionFilters: [cid", "probe prunes to the probed cids at the parquet layer")],
        ))

    # 9. hash split: pure projection — zero Exchange, stays in codegen
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        contamination_pairs,
        hash_split,
        vocab_topk,
    )

    split_plan = formatted(
        hash_split(docs.select("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    sections.append((
        "Deterministic hash split (pure projection)",
        split_plan,
        [
            ("ReadSchema: struct<doc_id:bigint>", "scan reads only the id column"),
            ("codegen id", "md5-bucket projection inside WholeStageCodegen"),
        ],
    ))
    if "Exchange" in split_plan:
        sections.append((
            "Hash split NEGATIVE CHECK",
            "Exchange found in hash_split plan — the stateless split started shuffling",
            [("never", "this section only renders on regression")],
        ))

    # 10. vocab top-k: map-side combine + TakeOrderedAndProject
    vocab_plan = formatted(vocab_topk(docs, k=100))
    sections.append((
        "Vocabulary top-k (tf+df counts)",
        vocab_plan,
        [
            ("partial_count", "map-side combine before the token shuffle"),
            ("TakeOrderedAndProject", "top-k merge, no global sort"),
        ],
    ))

    # 11. contamination: shingle-hash equi-join, never a cross join
    ev = docs.limit(50).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.expr("substring(text, 101)").alias("text"),
    )
    cont_plan = formatted(contamination_pairs(docs, ev))
    checks = [
        ("HashAggregate", "distinct shingles + overlap counts aggregate map-side"),
        ("Join", "candidate generation is a join keyed on the shingle hash"),
    ]
    if "CartesianProduct" in cont_plan or "BroadcastNestedLoopJoin" in cont_plan:
        checks.append(("never", "CROSS JOIN FOUND — contamination must stay an equi-join"))
    sections.append(("Contamination check (13-gram equi-join)", cont_plan, checks))

    # 12. connected-components round: one Exchange for the propagate join,
    # reused by the min-aggregate (same key)
    from mcp_crawl4ai_rag_spark.operators.components import connected_components

    edges = spark.range(0, 1000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    und = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).distinct()
    labels = und.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("component_id")
    )
    msgs = und.join(
        labels.select(F.col("doc_id").alias("src"), "component_id"), "src"
    ).select(F.col("dst").alias("doc_id"), "component_id")
    round_df = labels.union(msgs).groupBy("doc_id").agg(
        F.min("component_id").alias("component_id")
    )
    sections.append((
        "Connected-components round (propagate join + min-aggregate)",
        formatted(round_df),
        [
            ("partial_min", "label min combines map-side before the shuffle"),
            ("Join", "propagation is an equi-join on the vertex id"),
        ],
    ))

    # 13. BM25: query-term-filtered explode, broadcast stats, top-k
    from mcp_crawl4ai_rag_spark.operators.search import bm25_search

    bm25_plan = formatted(
        bm25_search(docs, "hash join scan", topk=15, id_col="doc_id", text_col="text")
    )
    sections.append((
        "BM25 keyword search",
        bm25_plan,
        [
            ("BroadcastHashJoin", "df/corpus stats joined broadcast, never shuffled"),
            ("TakeOrderedAndProject", "top-k merge, no global sort"),
        ],
    ))

    # 14. PageRank round: equi-join + map-side-combined sum, no cartesian.
    # (pagerank() localCheckpoints per round, which hides the round plan —
    # audit the round shape inline, pre-checkpoint.)
    vr = spark.range(0, 2000).select(F.col("id"))
    er = vr.select(
        F.col("id").alias("src"), ((F.col("id") * 31 + 1) % 2000).alias("dst")
    ).withColumn("__deg", F.lit(1).cast("long"))
    pr0 = vr.select("id", F.lit(10**9).cast("long").alias("pr"))
    contribs = (
        er.join(pr0.select(F.col("id").alias("src"), "pr"), "src")
        .select(F.col("dst").alias("id"), F.expr("pr DIV __deg").alias("__c"))
        .groupBy("id")
        .agg(F.sum("__c").alias("__s"))
    )
    round_pr = vr.join(contribs, "id", "left").select(
        "id",
        (
            F.lit(150000000)
            + F.expr(
                "85 * (coalesce(__s, 0L) DIV 100)"
                " + (85 * (coalesce(__s, 0L) % 100)) DIV 100"
            )
        ).alias("pr"),
    )
    pr_plan = formatted(round_pr)
    checks = [("partial_sum", "contribution sum combines map-side")]
    if "CartesianProduct" in pr_plan or "BroadcastNestedLoopJoin" in pr_plan:
        checks.append(("never", "CROSS JOIN FOUND in pagerank round"))
    sections.append(("PageRank round (contribs join + sum)", pr_plan, checks))

    # 15. sequence packing prefix sum: range exchange only, NO single-task
    # Window. (distributed_cumsum localCheckpoints mid-plan; audit the
    # pre-checkpoint layout stage.)
    laid = (
        docs.select("doc_id", F.length("text").alias("tok"))
        .repartitionByRange(8, F.col("doc_id").asc())
        .sortWithinPartitions(F.col("doc_id").asc())
        .withColumn("__pid", F.spark_partition_id())
    )
    pack_plan = formatted(laid)
    checks = [
        ("rangepartitioning", "prefix sum rides a range repartition"),
    ]
    if "Window" in pack_plan:
        checks.append(("never", "GLOBAL WINDOW FOUND — packing must not single-task"))
    sections.append((
        "Sequence packing layout stage (distributed prefix sum, no Window)",
        pack_plan,
        checks,
    ))

    # 16. linear-probe training: one Gram-matrix aggregation, map-side
    # combined — the shuffle carries partial sums, not rows.
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import unigram_lm_scores
    from mcp_crawl4ai_rag_spark.operators.similarity import alignment_filter

    feats = E._qp_feats_df(spark)
    cols = [F.lit(1).cast("long")] + [F.col(c).cast("long") for c in E._QP_FEATS]
    aggs = []
    for a in range(len(cols)):
        for b in range(a, len(cols)):
            aggs.append(F.sum(cols[a] * cols[b]).alias(f"xx_{a}_{b}"))
    gram_plan = formatted(feats.agg(*aggs))
    checks = [("partial_sum", "Gram sums combine map-side (shuffle = partial sums, not rows)")]
    sections.append((
        "Linear-probe training (exact Gram aggregation)", gram_plan, checks,
    ))

    # 17. unigram LM: tf groupBy + vocab join, one-row total broadcast;
    # partial aggregation everywhere, no corpus-side cartesian blowup.
    lm_plan = formatted(unigram_lm_scores(docs))
    checks = [
        ("partial_count", "per-(doc,term) tf combines map-side"),
        ("partial_sum", "token counts / per-doc log-likelihood combine map-side"),
        ("BroadcastExchange", "the one-row corpus total is broadcast"),
        ("BroadcastHashJoin", "top-K stop-word counts broadcast — hot tf rows skip the term shuffle"),
    ]
    sections.append(("Unigram-LM scoring (tf ⋈ vocab, hot/cold stop-word split)", lm_plan, checks))

    # 17b. interpolated bigram LM: three hot/cold model joins; tf and model
    # counts combine map-side; the only nested-loop joins are the 1-row
    # corpus-total broadcasts.
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import bigram_lm_scores

    blm_plan = formatted(bigram_lm_scores(docs))
    checks = [
        ("partial_count", "per-(doc,prev,cur) tf combines map-side"),
        ("partial_sum", "bigram/context counts + per-doc log-likelihood combine map-side"),
        ("BroadcastHashJoin", "top-K hot heads of the three model joins broadcast"),
        ("BroadcastExchange", "the one-row corpus total is broadcast"),
    ]
    if "CartesianProduct" in blm_plan:
        checks.append(("never", "CARTESIAN FOUND — bigram LM must not cross-join"))
    sections.append((
        "Bigram-LM scoring (interpolated λ·bigram + (1−λ)·unigram, hot/cold joins)",
        blm_plan,
        checks,
    ))

    # 17c. DSIR importance resampling: the scoring join against the
    # K-bounded log-ratio table must be an explicit broadcast (never a
    # shuffle — K is bounded by construction), and the Gumbel top-k rank
    # must ride the distributed prefix sum's range exchange, not a global
    # single-partition window.
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        dsir_log_weights,
        dsir_select,
    )

    # scoring stage (pre-rank): the log-ratio dim join must be an explicit
    # broadcast and the feature tf must combine map-side
    dsir_lw_plan = formatted(
        dsir_log_weights(
            docs.select("doc_id", "text"),
            docs.where(F.col("lang") == "de").select("doc_id", "text"),
        )
    )
    checks = [
        ("BroadcastHashJoin", "≤K-row log-ratio table broadcast into the scoring join"),
        ("partial_count", "hashed-feature tf combines map-side"),
        ("partial_sum", "per-doc weight sum combines map-side"),
    ]
    if "CartesianProduct" in dsir_lw_plan:
        checks.append(("never", "CARTESIAN FOUND — DSIR scoring must not cross-join"))
    sections.append((
        "DSIR scoring stage (hashed n-grams, broadcast ratio table)",
        dsir_lw_plan,
        checks,
    ))

    # selection tail (post-rank; distributed_rank localCheckpoints
    # mid-plan — its range exchange is audited by the sequence-packing
    # section, same machinery): the top-k membership must be a stateless
    # compare over the Arrow cumsum output, never a global Window.
    dsir_sel_plan = formatted(
        dsir_select(
            docs.select("doc_id", "text"),
            docs.where(F.col("lang") == "de").select("doc_id", "text"),
            k=100,
        )
    )
    checks = [
        ("MapInPandas", "rank comes from the distributed prefix-sum pass"),
    ]
    if "Window" in dsir_sel_plan:
        checks.append(("never", "WINDOW FOUND — top-k membership must not use a global window"))
    sections.append((
        "DSIR Gumbel top-k selection tail (prefix-sum rank, no Window)",
        dsir_sel_plan,
        checks,
    ))

    # 17d. paragraph dedup: winner aggregate combines map-side; the
    # membership join routes hot (storm) fingerprints through the
    # broadcast branch; the rebuild is a per-doc aggregate, not a window.
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import paragraph_dedup

    pd_plan = formatted(
        paragraph_dedup(
            docs.select(
                "doc_id",
                F.concat_ws(
                    "\n", F.lit("SHARED"), F.col("text"), F.lit("TAIL")
                ).alias("text"),
            )
        )
    )
    checks = [
        ("partial_min", "paragraph winners combine map-side"),
        ("BroadcastHashJoin", "hot fingerprint rows take the broadcast branch"),
        ("partial_collect_list", "rebuild state is per-doc, combines map-side"),
    ]
    if "Window" in pd_plan:
        checks.append(("never", "WINDOW FOUND — rebuild must not window"))
    if "CartesianProduct" in pd_plan:
        checks.append(("never", "CARTESIAN FOUND — membership join must be equi"))
    sections.append((
        "Paragraph dedup (first-occurrence winners, hot/cold membership join)",
        pd_plan,
        checks,
    ))

    # 18. alignment filter: pure projection over the pair scan — zero
    # Exchange, whole plan in codegen.
    pairs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("pair_id"),
        F.col("embedding").alias("img"),
        F.col("embedding").alias("txt"),
    )
    al_plan = formatted(alignment_filter(pairs, "img", "txt", threshold=0.8))
    checks = [("codegen id", "score+keep are one WholeStageCodegen projection")]
    if "Exchange" in al_plan:
        checks.append(("never", "EXCHANGE FOUND — alignment filter must not shuffle"))
    sections.append(("Caption-alignment filter (zero-shuffle projection)", al_plan, checks))

    # 19. incremental upsert: the store side is a map-only anti-join against
    # the broadcast batch keys — the ONLY hash Exchange is the bounded-batch
    # dedup window. (store_documents would window the whole store per batch.)
    from mcp_crawl4ai_rag_spark.plans.rag import store_documents_incremental

    existing = docs.select(
        F.concat(F.lit("u"), (F.col("doc_id") % 100).cast("string")).alias("url"),
        (F.col("doc_id") / 100).cast("long").alias("chunk_number"),
        F.col("text").alias("content"),
    )
    up_batch = existing.where(F.col("chunk_number") == 0)
    up_plan = formatted(store_documents_incremental(existing, up_batch))
    checks = [
        ("LeftAnti", "store drops overwritten keys via anti-join"),
        ("BroadcastHashJoin", "batch keys broadcast — the store side never shuffles"),
        ("Window", "duplicate-key winners elected inside the bounded batch only"),
    ]
    if up_plan.count("Exchange hashpartitioning") > 1:
        checks.append(("never", "EXTRA EXCHANGE FOUND — only the batch window may shuffle"))
    sections.append((
        "Incremental upsert (batch window + broadcast anti-join; store side map-only)",
        up_plan,
        checks,
    ))

    # 19b. recrawl change detection: the corpus-sized fingerprint index is
    # pruned to the batch's URLs with a broadcast LEFT SEMI join (index side
    # streams), and the ≤|batch| survivors broadcast back onto the batch —
    # no hash Exchange anywhere.
    from mcp_crawl4ai_rag_spark.plans.rag import doc_change_status

    prev_idx = docs.select(
        F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("url"),
        F.md5("text").alias("fp"),
    )
    cd_fetched = docs.where(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("url"),
        F.md5(F.concat(F.col("text"), F.lit("!"))).alias("fp"),
    )
    cd_plan = formatted(doc_change_status(prev_idx, cd_fetched))
    checks = [
        ("LeftSemi", "index pruned to batch URLs — index side streams, no shuffle"),
        ("BroadcastHashJoin", "both joins broadcast"),
    ]
    if "Exchange hashpartitioning" in cd_plan:
        checks.append(("never", "EXCHANGE FOUND — change detection must not shuffle"))
    sections.append((
        "Recrawl change detection (broadcast semi-prune + broadcast lookup; zero shuffle)",
        cd_plan,
        checks,
    ))

    # 19c. PQ ADC scan: encode + LUT scoring must be one zero-shuffle
    # projection over the scan; the only ordering operator is the
    # TakeOrderedAndProject shortlist cut (then a second one for the
    # rescore top-k over <=rerank rows).
    from mcp_crawl4ai_rag_spark.operators.similarity import pq_topk

    pq_embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pq_cbs = pq_embs.where(F.col("vec_id") < 8).selectExpr(
        "vec_id AS cid", "embedding AS ce"
    )
    pq_q = list(pq_embs.where(F.col("vec_id") == 0).head()["embedding"])
    pq_plan = formatted(
        pq_topk(pq_embs.where(F.col("vec_id") > 0), pq_cbs, pq_q, 5, n_sub=4)
    )
    checks = [
        ("TakeOrderedAndProject", "shortlist + rescore are top-k merges, no global sort"),
    ]
    if "Exchange hashpartitioning" in pq_plan:
        checks.append(("never", "EXCHANGE FOUND — PQ encode/ADC must not shuffle"))
    sections.append((
        "PQ ADC top-k (literal codebook/LUT projection; shortlist then rescore)",
        pq_plan,
        checks,
    ))

    # 20. multiprobe LSH over the written bucket-partitioned index: the
    # hamming-ball bucket ids are enumerated on the driver and prune at the
    # parquet partition layer — no full-corpus bit_count(xor) scan.
    import tempfile

    from mcp_crawl4ai_rag_spark.operators.similarity import (
        lsh_query_index_multiprobe,
        lsh_write_index,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(500)
    emb_dim = len(embs.select("embedding").head()["embedding"])
    with tempfile.TemporaryDirectory() as td:
        lsh_write_index(embs, f"{td}/lsh", dim=emb_dim)
        mp_plan = formatted(
            lsh_query_index_multiprobe(
                spark, f"{td}/lsh", [0.1] * emb_dim, 5, dim=emb_dim, radius=1
            )
        )
    checks = [
        ("PartitionFilters", "bucket IN (...) prunes at the parquet partition layer"),
        ("TakeOrderedAndProject", "top-k merges per-partition heads, no global sort"),
    ]
    sections.append((
        "Multiprobe LSH index probe (driver-enumerated hamming ball, partition-pruned)",
        mp_plan,
        checks,
    ))

    # 21. threshold politeness pop: the wide frontier rows (URL strings)
    # must appear ONLY under the broadcast join — every Exchange in the
    # plan belongs to the narrow-key ranking and must not carry
    # canonical_url/path through the shuffle.
    from mcp_crawl4ai_rag_spark.operators.politeness import (
        attach_budgets as _ab,
        pop_per_host_threshold,
    )

    fr = spark.range(0, 200_000, 1, 16).select(
        F.concat(F.lit("https://h"), (F.col("id") % 101), F.lit(".example.com/p/"), F.col("id")).alias("canonical_url"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("h"), (F.col("id") % 101), F.lit(".example.com")).alias("host"),
        F.concat(F.lit("/p/"), F.col("id")).alias("path"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.lit(0).alias("priority"),
        F.col("id").alias("seq"),
    )
    popped, _deferred = pop_per_host_threshold(
        _ab(fr, None, None, epoch_seconds=100.0), None
    )
    pop_plan = formatted(popped)
    checks = [
        ("BroadcastHashJoin", "O(hosts) threshold table broadcast onto un-shuffled wide rows"),
        ("BroadcastExchange", "only the threshold table is exchanged to executors"),
    ]
    # negative check: no shuffle Exchange's detail block may mention the
    # wide string columns — they would mean frontier rows entered a shuffle
    import re as _re

    for node_id in _re.findall(r"\((\d+)\) Exchange\b", pop_plan):
        block = pop_plan.split(f"({node_id}) Exchange", 1)[1]
        block = block.split("\n\n", 1)[0]
        if "canonical_url" in block or ", path" in block:
            checks.append(("never", f"WIDE COLUMN IN EXCHANGE ({node_id}) — URL strings entered a shuffle"))
    sections.append((
        "Threshold politeness pop (narrow-key ranking + broadcast thresholds; wide rows never shuffle)",
        pop_plan,
        checks,
    ))

    # 22. threshold pop from a STORED frontier — the cluster shape (see
    # pop_per_host_threshold's docstring and BASELINE.md round-3 A/B
    # verdict): both DAG branches re-scan the persisted table, and Catalyst column-prunes the
    # ranking branch's scan to the narrow keys (no URL strings read), so
    # the dual read costs a pruned scan instead of a full-width checkpoint.
    with tempfile.TemporaryDirectory() as td2:
        fr.write.mode("overwrite").parquet(f"{td2}/frontier")
        stored = spark.read.parquet(f"{td2}/frontier")
        popped_s, _def_s = pop_per_host_threshold(
            _ab(stored, None, None, epoch_seconds=100.0), None
        )
        sp_plan = formatted(popped_s)
    checks = [
        ("Scan parquet", "branches read the stored table — no checkpoint node"),
        ("BroadcastHashJoin", "O(hosts) thresholds broadcast onto the wide scan"),
    ]
    schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", sp_plan)
    if not any("canonical_url" not in s for s in schemas):
        checks.append(("never", "NO PRUNED SCAN — ranking branch read the wide columns"))
    if not any("canonical_url" in s for s in schemas):
        checks.append(("never", "NO WIDE SCAN — the broadcast-filter branch vanished"))
    for node_id in _re.findall(r"\((\d+)\) Exchange\b", sp_plan):
        block = sp_plan.split(f"({node_id}) Exchange", 1)[1].split("\n\n", 1)[0]
        if "canonical_url" in block or ", path" in block:
            checks.append(("never", f"WIDE COLUMN IN EXCHANGE ({node_id}) — URL strings entered a shuffle"))
    sections.append((
        "Threshold pop from a stored frontier (ranking branch is a column-pruned scan)",
        sp_plan,
        checks,
    ))

    # 22b (r5). threshold pop from the engine's OWN stored frontier —
    # CrawlEngine._store_frontier writes the table BUCKETED BY host
    # (sorted by the pop order inside each bucket), so the scan reports
    # HashPartitioning(host) and EVERY clustering the pop needs (both
    # rank windows, the threshold groupBy) is already satisfied: the
    # whole pop plans with ZERO shuffle Exchanges — the epoch pop at
    # 10^10 never moves a frontier row between executors.
    from mcp_crawl4ai_rag_spark.plans.crawl import CrawlEngine as _CE

    with tempfile.TemporaryDirectory() as td3:
        eng_s = _CE(spark, fr.limit(0), frontier_store_dir=td3)
        stored_b = eng_s._store_frontier(0, fr)
        popped_b, _def_b = pop_per_host_threshold(
            stored_b.withColumn("budget", F.lit(50)), None
        )
        sb_plan = formatted(popped_b)
    checks = [
        ("SelectedBucketsCount", "bucketed table scan (bucket layout drives partitioning)"),
        ("BroadcastHashJoin", "O(hosts) thresholds broadcast onto the bucketed scan"),
    ]
    if "Exchange hashpartitioning" in sb_plan:
        checks.append(("never", "SHUFFLE EXCHANGE IN BUCKETED POP — the zero-Exchange claim is broken"))
    schemas_b = _re.findall(r"ReadSchema: struct<([^>]*)>", sb_plan)
    if not any("canonical_url" not in s for s in schemas_b):
        checks.append(("never", "NO PRUNED SCAN — ranking branch read the wide columns"))
    sections.append((
        "Threshold pop from the engine's host-bucketed stored frontier (r5: ZERO shuffle Exchanges)",
        sb_plan,
        checks,
    ))

    # image_e2e composition: the two plan-shape-critical stages. Stage A's
    # candidate generation must be a banded equi-join (never all-pairs);
    # stage C's shard schedule must come from the distributed prefix sum,
    # not a single-task global window.
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import pack_shards
    from mcp_crawl4ai_rag_spark.operators.dedup import phash_pairs

    hashes = spark.range(0, 50_000).select(
        F.format_string("img_%012d", F.col("id")).alias("image_id"),
        (F.col("id") * 2654435761).alias("phash"),
        (F.col("id") % 5000 + 1).alias("item_bytes"),
    )
    pairs = phash_pairs(hashes, max_hamming=4)
    sections.append((
        "image_e2e stage A: phash pigeonhole banding",
        formatted(pairs),
        [
            ("Join", "candidates from 8 chunk-value equi-joins, never a cross product"),
            ("bit_count", "hamming popcount verification runs only on candidates"),
        ],
    ))
    shards = pack_shards(hashes.select("image_id", "item_bytes"), 1 << 20)
    sections.append((
        "image_e2e stage C: pack_shards shard schedule",
        formatted(shards),
        [
            ("MapInPandas", "per-partition offset apply — the global state is one long per partition via the driver, no single-task window"),
        ],
    ))

    # incremental phash probe: batch keys broadcast against the persisted
    # index scan; the stored corpus never shuffles for an increment
    import tempfile

    from mcp_crawl4ai_rag_spark.operators.dedup import (
        phash_pairs_incremental,
        phash_write_index,
    )

    with tempfile.TemporaryDirectory() as td:
        idx_path = f"{td}/phash_idx"
        phash_write_index(hashes.select("image_id", "phash"), idx_path)
        batch = spark.range(0, 200).select(
            F.format_string("new_%06d", F.col("id")).alias("image_id"),
            (F.col("id") * 2654435761 + 1).alias("phash"),
        )
        inc = phash_pairs_incremental(spark, idx_path, batch)
        sections.append((
            "Incremental phash probe: persisted index x batch keys",
            formatted(inc),
            [
                ("BroadcastHashJoin", "the increment's chunk keys broadcast; the index scan streams, never shuffles"),
                ("Scan parquet", "old keys come from the persisted index, never recomputed"),
            ],
        ))

    # aspect-ratio bucket batcher: assignment must be a pure projection
    # (literal aspect array, no join against a bucket table) and the
    # in-bucket rank must come from the distributed prefix sum with the
    # bucket offsets broadcast back — never a window partitioned by the
    # ~9-entry ladder.
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import (
        DEFAULT_ASPECT_BUCKETS,
        aspect_bucket_batches,
        assign_aspect_buckets,
    )

    imgs_meta = spark.range(0, 50_000).select(
        F.format_string("img_%012d", F.col("id")).alias("image_id"),
        (F.lit(32) + (F.col("id") % 5) * 8).cast("int").alias("w"),
        (F.lit(32) + (F.col("id") % 3) * 16).cast("int").alias("h"),
    )
    # assignment stage alone (the full op's plan starts at the cumsum
    # checkpoint, hiding this projection)
    asg_plan = formatted(assign_aspect_buckets(imgs_meta, DEFAULT_ASPECT_BUCKETS))
    checks = [
        ("array_position", "nearest-bucket assignment is a literal-array projection, not a bucket-table join"),
        ("codegen id", "the whole assignment is one codegen span"),
    ]
    if "Exchange" in asg_plan:
        checks.append(("never", "EXCHANGE FOUND — assignment must not shuffle"))
    sections.append((
        "Aspect-bucket assignment (zero-shuffle projection)", asg_plan, checks,
    ))
    ab_plan = formatted(aspect_bucket_batches(imgs_meta, DEFAULT_ASPECT_BUCKETS, 256))
    # the prefix-sum rank sits behind its serialized checkpoint (the plan
    # starts at the checkpoint scan); its MapInPandas shape is audited in
    # the "Sequence packing layout stage" section via the same helper
    checks = [
        ("BroadcastHashJoin", "bucket offsets broadcast back; the ranked side never reshuffles"),
        ("Scan ExistingRDD", "batch math reads the checkpointed rank once — the Arrow cumsum pass is not re-executed per consumer"),
    ]
    if "Window" in ab_plan:
        checks.append(("never", "WINDOW FOUND — bucket-partitioned window caps parallelism at ladder size"))
    sections.append((
        "Aspect-bucket batch packing (projection assignment + prefix-sum rank)",
        ab_plan,
        checks,
    ))

    # leakage-safe split: one equi-join against the (small) component
    # table + the stateless split projection — no extra exchange beyond
    # the join itself.
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import split_by_component

    comp_tbl = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") - F.col("id") % 3).alias("component_id")
    )
    all_docs = spark.range(0, 100_000).select(F.col("id").alias("doc_id"))
    sbc_plan = formatted(
        split_by_component(all_docs, comp_tbl, {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    sections.append((
        "Leakage-safe split (component-representative hash)",
        sbc_plan,
        [
            ("BroadcastHashJoin", "small component table broadcasts; the corpus side never shuffles"),
            ("md5", "split is the same stateless md5 projection as hash_split"),
        ],
    ))

    # SemDeDup: candidate generation must be the cid equi-join (never a
    # cross product) over the zero-shuffle assignment, and the keep rule a
    # map-side-combinable min-struct aggregation; the codebook joins in as
    # a K-row broadcast on both stages.
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        _semdedup_stages,
        semdedup,
    )

    sd_embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    sd_cents = sd_embs.where(F.col("vec_id") < 4).selectExpr(
        "CAST(vec_id AS INT) AS cid", "embedding AS ce"
    )
    _scored, sd_pairs = _semdedup_stages(sd_embs, sd_cents, 0.99)
    sdp_plan = formatted(sd_pairs)
    checks = [
        ("BroadcastHashJoin", "K-row codebook broadcast for centroid scoring"),
        ("Join", "within-cluster candidates from the cid equi-join"),
    ]
    if "CartesianProduct" in sdp_plan or "BroadcastNestedLoop" in sdp_plan:
        checks.append(("never", "CROSS JOIN FOUND — candidates must come from the cid equi-join"))
    sections.append((
        "SemDeDup candidate stage (zero-shuffle assignment + cid equi-join pairs)",
        sdp_plan,
        checks,
    ))
    sd_plan = formatted(semdedup(sd_embs, sd_cents, 0.99))
    checks = [
        ("partial_min", "keep-rule winner election combines map-side"),
        ("BroadcastHashJoin", "codebook/winner joins broadcast the small side"),
    ]
    if "Window" in sd_plan:
        checks.append(("never", "WINDOW FOUND — the keep rule must be the min-struct aggregation, not a component-partitioned window"))
    sections.append((
        "SemDeDup keep rule (min-struct aggregation joined back on component)",
        sd_plan,
        checks,
    ))

    # 23. aesthetic head: the Gram training aggregate must combine map-side
    # (one corpus scan, (k+1)(k+2)/2 partials per partition); scoring must
    # be a zero-Exchange codegen projection.
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        AESTHETIC_DIMS,
        aesthetic_feature_expr,
        aesthetic_scores,
    )

    ae_embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ae_feats = ae_embs.select(
        *[
            aesthetic_feature_expr("embedding", i).alias(f"__af{i}")
            for i in range(AESTHETIC_DIMS)
        ],
        (F.col("label") >= 5).cast("long").alias("__y"),
    )
    gram_plan = formatted(
        ae_feats.agg(
            *[F.sum(F.col(f"__af{a}") * F.col("__af0")).alias(f"g{a}") for a in range(4)]
        )
    )
    checks = [
        ("partial_sum", "Gram moments combine map-side — one corpus scan"),
    ]
    sections.append((
        "Aesthetic head training (map-side-combined Gram aggregation)",
        gram_plan,
        checks,
    ))
    ae_plan = formatted(aesthetic_scores(ae_embs, [0.1] * (AESTHETIC_DIMS + 1)))
    checks = [("codegen id", "feature+score+keep are one WholeStageCodegen projection")]
    if "Exchange" in ae_plan:
        checks.append(("never", "EXCHANGE FOUND — aesthetic scoring must not shuffle"))
    sections.append((
        "Aesthetic head scoring (zero-shuffle literal-weight projection)",
        ae_plan,
        checks,
    ))

    # 24. image-metadata prefilter: runs before any decode — the parquet
    # scan must NOT read the payload column, and the flags are one
    # zero-Exchange projection.
    import tempfile as _tf

    from mcp_crawl4ai_rag_spark.functions.images import image_meta_quality
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_images

    with _tf.TemporaryDirectory() as td:
        gen_images(spark, 64, partitions=2).write.parquet(f"{td}/imgs")
        im_plan = formatted(image_meta_quality(spark.read.parquet(f"{td}/imgs")))
    checks = [
        ("ReadSchema: struct<image_id:string,w:int,h:int,fmt:string,caption:string>",
         "payload bytes pruned out of the scan — metadata-only cost"),
    ]
    if "Exchange" in im_plan:
        checks.append(("never", "EXCHANGE FOUND — the metadata prefilter must not shuffle"))
    sections.append((
        "Image-metadata prefilter (bytes-free scan, zero-shuffle flags)",
        im_plan,
        checks,
    ))

    # 25. token-budget sampling tail: the per-source running total comes
    # from distributed_cumsum (its range exchange + MapInPandas pass are
    # audited by the sequence-packing section — same machinery; it sits
    # behind a localCheckpoint here because the cumsum output is consumed
    # twice), rebased by a broadcast MIN-offset — never a per-source
    # window (parallelism capped at source count).
    from mcp_crawl4ai_rag_spark.operators.corpus_ops import token_budget_sample

    tb_plan = formatted(
        token_budget_sample(
            docs.select("doc_id", "source", "text"), {"src0": 100}, 2000
        )
    )
    checks = [
        ("ExistingRDD", "keep tail reads the checkpointed prefix-sum output"),
        ("BroadcastHashJoin", "source-count-sized offsets broadcast back"),
        ("partial_min", "per-source offsets combine map-side"),
    ]
    if "Window" in tb_plan:
        checks.append(("never", "WINDOW FOUND — budgets must not use a per-source window"))
    sections.append((
        "Token-budget sampling (checkpointed prefix-sum + broadcast offsets, no Window)",
        tb_plan,
        checks,
    ))

    # crawl_e2e composition gate: PageRank priorities survive the
    # bloom+anti-join dedup into the budgeted pop, in ONE plan
    e2e = E.q_crawl_e2e(spark, sf_dir)
    e2e_plan = formatted(e2e)
    sections.append((
        "crawl_e2e composition (pagerank -> dedup -> budgets -> pop)",
        e2e_plan,
        [
            ("LeftAnti", "exact URL-seen anti-join present"),
            ("ArrowEvalPython", "bloom prefilter is an Arrow-batched probe"),
            ("row_number", "salted two-phase pop windows"),
            # pagerank's own contrib-join/aggregate shape is audited in the
            # "PageRank round" section — its iterations sit behind a
            # localCheckpoint, so they are not part of this composed plan
        ],
    ))

    # best-first scorer family: one codegen projection over Range — the
    # whole composite priority must stay shuffle-free
    comp = E.q_composite_prior(spark, sf_dir)
    sections.append((
        "Composite best-first priority (keyword+depth+freshness+authority)",
        formatted(comp),
        [
            ("Range", "generated input, no source shuffle"),
            ("!Exchange", "scorer family is a pure projection — zero shuffle"),
            # the path-depth higher-order filter() and the authority map
            # lookup keep the FINAL projection out of whole-stage codegen
            # (interpreted but still JVM-columnar, zero Python); the url
            # build below it stays codegen
            ("codegen id", "url construction inside a codegen span"),
            ("!BatchEvalPython", "no Python in the scorer path"),
        ],
    ))

    # max_pages truncation: ordered take over one bounded batch — must be a
    # per-partition top-k merge, never a global range-sort exchange
    fr = E.CrawlEngine(spark, gen_pages(spark, 10_000))._seed_frontier(
        gen_seeds(spark, 10_000)
    )
    capped = fr.orderBy("depth", "priority", "seq").limit(2000)
    sections.append((
        "max_pages truncation (ordered take of the popped batch)",
        formatted(capped),
        [
            ("TakeOrderedAndProject", "per-partition top-k + driver merge"),
            ("!rangepartitioning", "no global sort exchange"),
        ],
    ))

    # RFC 9309 robots gate: tiny rules table broadcast onto paths — the
    # paths side must stream with no hash-partitioning exchange
    rfc = E.q_robots_rfc(spark, sf_dir)
    sections.append((
        "RFC 9309 Allow/Disallow gate (rules ⋈ paths)",
        formatted(rfc),
        [
            ("BroadcastNestedLoopJoin", "1-row rules table broadcast"),
            ("BroadcastExchange", "only the rules side moves"),
            ("!Exchange hashpartitioning", "paths never shuffle"),
        ],
    ))

    # crawl-trap guard: the structural trap predicate (segment-run fold +
    # segment/param/length caps) must stay ONE zero-Exchange codegen
    # projection with no Python eval — it sits in the discovered-link
    # filter chain at frontier scale.
    from mcp_crawl4ai_rag_spark.functions.urls import is_crawl_trap

    trap_df = spark.range(0, 4096, 1, 4).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % 7).cast("string"),
            F.lit(".example.com/p/"), F.col("id").cast("string"),
        ).alias("url")
    )
    trap_plan = formatted(trap_df.select(is_crawl_trap(F.col("url")).alias("t")))
    checks = [
        ("codegen id", "segment fold + caps fused in a WholeStageCodegen span"),
    ]
    if "Exchange" in trap_plan:
        checks.append(("never", "EXCHANGE FOUND — the trap guard must not shuffle"))
    if "Python" in trap_plan:
        checks.append(("never", "PYTHON EVAL FOUND — the trap guard must stay columnar"))
    sections.append((
        "Crawl-trap guard (zero-shuffle structural predicate)",
        trap_plan,
        checks,
    ))

    # WARC parse: over a stored blob table the content-length-framed fan-out
    # must be scan -> one MapInPandas -- blobs are the unit of parallelism,
    # no shuffle anywhere before the consumer's aggregate.
    from mcp_crawl4ai_rag_spark.sources.warc import parse_warc

    with _tf.TemporaryDirectory() as td:
        from mcp_crawl4ai_rag_spark.sources.corpus import gen_warc_blobs

        gen_warc_blobs(spark, 200, records_per_blob=20).write.parquet(f"{td}/w")
        warc_plan = formatted(parse_warc(spark.read.parquet(f"{td}/w")))
    checks = [("MapInPandas", "one Arrow stage fans blobs out to response rows")]
    if "Exchange" in warc_plan:
        checks.append(("never", "EXCHANGE FOUND — WARC parse must not shuffle"))
    sections.append((
        "WARC archive parse (blob-parallel Arrow fan-out, zero shuffle)",
        warc_plan,
        checks,
    ))

    # wildcard robots gate: rules pre-compiled host-side; the per-URL gate
    # must be the same 1-row broadcast shape as the prefix RFC gate, with
    # paths never shuffling and no Python in the match loop.
    from mcp_crawl4ai_rag_spark.operators.politeness import (
        robots_denied_wildcard_expr,
    )
    from mcp_crawl4ai_rag_spark.sources.robots import (
        compile_rule_patterns,
        parse_robots_rules,
    )

    wc_bodies = spark.createDataFrame(
        [("h0.example.com", "User-agent: *\nDisallow: /p/*4$\nAllow: /p/*44$\n")],
        "host string, body string",
    )
    wc_pats = compile_rule_patterns(parse_robots_rules(wc_bodies)).drop("host")
    wc_paths = spark.range(0, 4096, 1, 4).select(
        F.concat(F.lit("/p/"), F.col("id").cast("string")).alias("path")
    )
    wc_plan = formatted(
        wc_paths.crossJoin(F.broadcast(wc_pats)).select(
            "path", robots_denied_wildcard_expr().alias("denied")
        )
    )
    checks = [
        ("BroadcastNestedLoopJoin", "1-row compiled-rules table broadcast"),
        ("BroadcastExchange", "only the rules side moves"),
        ("!Exchange hashpartitioning", "paths never shuffle"),
    ]
    sections.append((
        "RFC 9309 wildcard robots gate (compiled rules broadcast)",
        wc_plan,
        checks,
    ))

    # template explosion: family counting must combine map-side — the
    # exchange carries (host, template) partial counts, never URL rows.
    from mcp_crawl4ai_rag_spark.operators.politeness import template_explosion

    te_plan = formatted(
        template_explosion(
            spark.range(0, 4096, 1, 4).select(
                F.concat(
                    F.lit("https://h"), (F.col("id") % 7).cast("string"),
                    F.lit(".example.com/p/"), F.col("id").cast("string"),
                ).alias("canonical_url")
            )
        )
    )
    checks = [
        ("partial_count", "family counts combine map-side"),
    ]
    if "Python" in te_plan:
        checks.append(("never", "PYTHON EVAL FOUND — template kernel must stay columnar"))
    sections.append((
        "URL-template explosion (map-side-combined family count)",
        te_plan,
        checks,
    ))

    # redirect hop: the redirect table is corpus-sized at web scale, so
    # the popped BATCH must broadcast into its scan (the _fetch_batch
    # shape) — never the reverse.
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_redirects

    red_tbl = gen_redirects(spark, 100_000)
    red_batch = spark.range(0, 64, 1, 2).select(
        (F.col("id") * 5 + 2).alias("i")
    ).select(
        F.concat(F.lit("https://h1.example.com/p/"), F.col("i").cast("string")).alias("canonical_url"),
        F.lit(0).alias("depth"), F.lit(0).alias("priority"), F.col("i").alias("seq"),
    )
    red_plan = formatted(
        red_tbl.join(
            F.broadcast(red_batch),
            F.col("from_url") == F.col("canonical_url"),
            "inner",
        )
    )
    checks = [
        ("BroadcastHashJoin", "batch broadcast; redirect table streams"),
        ("!Exchange hashpartitioning", "the big redirect side never shuffles"),
    ]
    sections.append((
        "Redirect hop (batch broadcast into the redirect-table scan)",
        red_plan,
        checks,
    ))

    out = ["# Physical-plan audit (auto-generated by tools/explain_plans.py)",
           "", f"sf_dir: {sf_dir}", ""]
    n_fail = 0
    for title, plan, checks in sections:
        out.append(f"## {title}\n")
        for needle, why in checks:
            # a '!' prefix asserts ABSENCE (e.g. '!Exchange' = zero shuffle)
            ok = (needle[1:] not in plan) if needle.startswith("!") else (needle in plan)
            n_fail += 0 if ok else 1
            out.append(f"- {'PASS' if ok else 'FAIL'}: `{needle}` — {why}")
        out.append("\n```\n" + plan.strip() + "\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written, {n_fail} failed checks")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
