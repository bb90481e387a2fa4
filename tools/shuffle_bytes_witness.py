"""Load-insensitive frontier-epoch witness: total shuffle bytes, not
wall-clock.

This host takes multi-hour co-tenant memory-bus pressure (BASELINE.md
round-3 section), which makes wall-clock cells noisy even when interleaved.
Shuffle BYTES are immune to ambient load: they are a property of the plan
and the data. The epoch's shuffle is CONSUMER-SHAPE dependent, so the
two-phase pop epoch is measured under both frontier_epoch consumers (see
bench.frontier_epoch):

- consumer="count" (the headline bench shape): popped.count() lets
  Catalyst column-prune the pop's window exchanges down to the narrow
  ranking keys — the epoch's shuffle is dominated by the bloom build +
  exact anti-join.
- consumer="noop" (the engine-faithful shape, plans/crawl.py: popped is
  checkpointed at full width and deferred feeds the next epoch): the
  two-phase exchanges must carry the URL strings.

The threshold pop is compared in tools/stored_pop_witness.py. For each
consumer cell (fresh JVM each) this records, summed over every completed
stage of the app via the Spark UI REST API:

    shuffle_write_bytes, shuffle_read_bytes, records written/read,
    plus the epoch's wall seconds (incidental, NOT the evidence here).

Usage:  python tools/shuffle_bytes_witness.py [n_urls] [out.json]
        (defaults: 4_000_000, BENCH/bench_pop_shuffle_bytes.json)
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _mk_spark_with_ui(cores: int):
    """bench._mk_spark conf, plus the UI (status REST API) enabled —
    the engine default is spark.ui.enabled=false."""
    from mcp_crawl4ai_rag_spark import get_spark

    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    spark = get_spark(
        app_name=f"shuffle-witness-local{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=bench.SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": "/dev/shm/spark-tmp",
            "spark.driver.memory": "32g",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
            "spark.ui.enabled": "true",
            "spark.ui.port": "4321",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def app_stage_totals(spark) -> dict:
    base = spark.sparkContext.uiWebUrl  # e.g. http://host:4040
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.load(r)
    tot = {
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_records": 0,
        "shuffle_read_records": 0,
        "memory_bytes_spilled": 0,
        "disk_bytes_spilled": 0,
        "stages": len(stages),
    }
    for s in stages:
        tot["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        tot["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        tot["shuffle_write_records"] += s.get("shuffleWriteRecords", 0)
        tot["shuffle_read_records"] += s.get("shuffleReadRecords", 0)
        tot["memory_bytes_spilled"] += s.get("memoryBytesSpilled", 0)
        tot["disk_bytes_spilled"] += s.get("diskBytesSpilled", 0)
    return tot


def run_cell(consumer: str, n: int) -> dict:
    spark = _mk_spark_with_ui(bench.CPUS)
    # single epoch, no warmup rep: bytes are deterministic, reps only add
    # identical copies of the same exchanges to the app totals
    _, sec, bloom_sec = bench.frontier_epoch(spark, n, consumer=consumer)
    tot = app_stage_totals(spark)
    spark.stop()
    return {
        "consumer": consumer,
        "n_urls": n,
        "wall_sec_incidental": round(sec, 2),
        "bloom_sec_incidental": round(bloom_sec, 2),
        **tot,
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH/bench_pop_shuffle_bytes.json"
    cells = [run_cell(consumer, n) for consumer in ("count", "noop")]
    for c in cells:
        print(
            f"{c['consumer']}: "
            f"shuffle_write={c['shuffle_write_bytes'] / 1e6:.1f} MB "
            f"read={c['shuffle_read_bytes'] / 1e6:.1f} MB "
            f"(wall {c['wall_sec_incidental']}s incidental)",
            flush=True,
        )
    out = {
        "design": "fresh JVM per consumer cell, one frontier epoch, "
        "totals summed over completed stages via the UI REST API; bytes are "
        "load-insensitive",
        "job": f"frontier_epoch n={n} at local[{bench.CPUS}]",
        "cells": cells,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
