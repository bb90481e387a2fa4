"""Stored-frontier pop witness (r5): shuffle bytes of the epoch pop when
the frontier is popped FROM the engine's host-bucketed stored table vs the
two in-memory pop impls.

The stored mode's design claim (plans/crawl.CrawlEngine frontier_store_dir)
is structural and load-insensitive, so it is witnessed in BYTES, not
wall-clock (the shuffle_bytes_witness methodology):

- stored_threshold: CrawlEngine._store_frontier writes the frontier
  bucketed by host; pop_per_host_threshold pops from the table scan. The bucket layout satisfies every clustering the pop
  needs, so the pop must shuffle ~ZERO bytes — only the O(hosts)
  threshold broadcast moves.
- inmem_threshold: the same pop over a localCheckpointed frontier —
  narrow ranking keys enter two window exchanges.
- inmem_twophase: the salted two-phase pop — full-width rows enter the
  exchanges (the noop consumer forces materialization of every column).

Each cell runs in a fresh JVM; the pop's own bytes are isolated by
snapshotting the app's stage totals right before the pop and diffing
after. Usage: python tools/stored_pop_witness.py [n_urls] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from tools.shuffle_bytes_witness import _mk_spark_with_ui, app_stage_totals  # noqa: E402


def _frontier(spark, n: int):
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.functions.urls import url_hash

    i = F.col("id")
    host_id = F.when(i % 4 == 0, F.lit(0)).otherwise((i % 1021).cast("int"))
    host = F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.com"))
    u = F.concat(F.lit("https://"), host, F.lit("/p/"), i.cast("string"))
    return spark.range(0, n, 1, bench.SHUFFLE_PARTITIONS).select(
        u.alias("canonical_url"),
        url_hash(u).alias("url_hash"),
        host.alias("host"),
        F.lit("/p/x").alias("path"),
        (i % 4).cast("int").alias("depth"),
        F.lit(0).alias("priority"),
        i.alias("seq"),
    )


def run_cell(mode: str, n: int) -> dict:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.operators.politeness import (
        attach_budgets,
        pop_per_host,
        pop_per_host_threshold,
    )
    from mcp_crawl4ai_rag_spark.plans.crawl import CrawlEngine

    spark = _mk_spark_with_ui(bench.CPUS)
    fr = _frontier(spark, n)
    td = None
    if mode == "stored_threshold":
        td = tempfile.mkdtemp(prefix="stored_pop_witness_")
        eng = CrawlEngine(spark, fr.limit(0), frontier_store_dir=td)
        src = eng._store_frontier(0, fr)
    else:
        src = fr.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    budget_seconds = (n * 0.4 / 1021) * 2.0
    with_b = attach_budgets(src, None, None, epoch_seconds=budget_seconds)

    before = app_stage_totals(spark)
    t0 = time.time()
    if mode == "inmem_twophase":
        popped, deferred = pop_per_host(with_b, None)
    else:
        popped, deferred = pop_per_host_threshold(with_b, None)
    # engine-faithful consumer: both sides materialized at FULL width
    popped.write.format("noop").mode("overwrite").save()
    deferred.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    after = app_stage_totals(spark)
    spark.stop()
    delta = {
        k: after[k] - before[k]
        for k in (
            "shuffle_write_bytes",
            "shuffle_read_bytes",
            "shuffle_write_records",
            "stages",
        )
    }
    return {"mode": mode, "n_urls": n, "wall_sec_incidental": round(wall, 2), **delta}


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    out_path = (
        sys.argv[2] if len(sys.argv) > 2 else "BENCH/bench_r5_stored_pop_bytes.json"
    )
    cells = [
        run_cell(m, n)
        for m in ("stored_threshold", "inmem_threshold", "inmem_twophase")
    ]
    for c in cells:
        print(
            f"{c['mode']}: pop shuffle_write={c['shuffle_write_bytes'] / 1e6:.2f} MB "
            f"({c['shuffle_write_records']} rows; wall {c['wall_sec_incidental']}s incidental)",
            flush=True,
        )
    out = {
        "design": "fresh JVM per cell; pop-only stage totals via REST diff "
        "around the pop; noop consumer at full width (engine-faithful); "
        "bytes are load-insensitive",
        "job": f"pop over n={n} frontier at local[{bench.CPUS}]",
        "cells": cells,
    }
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        f.write(json.dumps(out, indent=1))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
