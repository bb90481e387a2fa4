"""spark-submit --py-files shipping smoke (north-rule packaging evidence).

The north rule requires the job to ship to a cluster via
``spark-submit --py-files``: the package must be importable from the zip
alone (no repo on sys.path), executors included. This driver script runs a
politeness-budgeted crawl epoch + chunk/embed through the library — both
driver-side plan building AND executor-side Arrow UDFs (bloom fold, pop
lanes, embedder) — so a pass proves the zip carries everything executors
need.

Usage (see tools/submit_smoke.sh):
    cd /tmp && zip -qr pkg.zip mcp_crawl4ai_rag_spark  (from /root/repo)
    spark-submit --master local[8] --py-files pkg.zip tools/submit_smoke.py
"""

from __future__ import annotations

import sys


def main() -> int:
    # Must come from the --py-files zip, not the repo checkout.
    import mcp_crawl4ai_rag_spark as pkg

    if not pkg.__file__.endswith(".zip/mcp_crawl4ai_rag_spark/__init__.py"):
        print(f"NOTE: package loaded from {pkg.__file__} (not a zip)")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.functions.embedding import with_embeddings
    from mcp_crawl4ai_rag_spark.plans.crawl import CrawlEngine
    from mcp_crawl4ai_rag_spark.plans.rag import (
        build_chunks,
        store_documents_incremental,
    )
    from mcp_crawl4ai_rag_spark.sources.corpus import (
        gen_pages,
        gen_robots,
        gen_seeds,
    )

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    pages = gen_pages(spark, 500, partitions=8)
    res = CrawlEngine(
        spark,
        pages,
        robots=gen_robots(spark),
        allowed_host_suffix=".example.com",
    ).run(gen_seeds(spark, 500), max_depth=4)
    n_seen, n_fetched = res.url_seen.count(), res.fetched.count()
    assert (n_seen, n_fetched) == (114, 107), (n_seen, n_fetched)

    docs = res.fetched.select(F.col("canonical_url").alias("url"), "markdown")
    chunks = with_embeddings(build_chunks(docs, chunk_size=400), text_col="content", dim=16)
    store = store_documents_incremental(None, chunks)
    n_store = store.count()
    assert n_store >= n_fetched, n_store

    # r4 zip-safety fixes must hold from inside the shipped artifact:
    # (a) the mini-BPE merges table loads via importlib.resources (NOT a
    #     filesystem path — commit 7a80b2f), driver-side AND executor-side;
    # (b) the html->markdown kernel runs as an executor Arrow UDF.
    from mcp_crawl4ai_rag_spark.functions.html import extract_markdown
    from mcp_crawl4ai_rag_spark.functions.tokenizer import (
        MiniBpeTokenizer,
        mbpe_truncate_udf,
    )

    tok = MiniBpeTokenizer()  # driver-side merges load from the zip
    assert tok.count("the quick brown fox") >= 2
    sample = docs.limit(8).select(
        "url",
        F.concat(F.lit("<h1>T</h1><p>body &amp; tail</p>"), F.col("markdown")).alias("raw_html"),
    )
    md = extract_markdown(sample, "raw_html", "md")
    trunc = md.select(mbpe_truncate_udf(16)(F.col("md")).alias("t"))
    n_tok = trunc.where(F.length("t") > 0).count()  # executor-side merges load
    assert n_tok == 8, n_tok

    print(f"SUBMIT-SMOKE OK seen={n_seen} fetched={n_fetched} chunks={n_store} bpe+html=ok")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
