"""Link-graph analytics for crawl prioritization.

The reference crawls breadth-first with no notion of page importance; a
production frontier ranks hosts/pages by link structure (OPIC/PageRank
style). This module provides PageRank over an edge list as iterative
DataFrame ops — a SURVEY.md training-data/crawl addition.

Determinism across engines
--------------------------
Floating-point PageRank sums contributions in partition order, so two
engines (or two runs) disagree in the low bits. This implementation uses
FIXED-POINT INTEGER arithmetic: ranks are scaled longs, per-edge
contributions are ``pr DIV out_degree``, and the damping update is
``(15*scale) DIV 100 + (85*sum) DIV 100`` — integer sums are associative,
so Spark, DuckDB, and a Python loop produce bit-identical ranks. (The
floor divisions leak a few units of rank mass per round — acceptable for
ordering/prioritization, which is what a frontier needs.)

Scale shape
-----------
- Per iteration: one equi-join (edges ⋈ ranks on src — ranks are (long,
  long) rows) and one map-side-combined SUM by dst. Out-degrees are
  computed once. ``localCheckpoint`` per iteration bounds lineage.
- Dangling vertices (no out-edges) simply leak their mass (standard
  simplification); vertices with no in-edges get the base (1-d) mass via
  the left join from the vertex set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import local_ckpt

PR_SCALE = 1_000_000_000  # fixed-point: rank 1.0 == 10^9


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    scale: int = PR_SCALE,
) -> DataFrame:
    """(id, pr): fixed-point PageRank after ``iters`` synchronous rounds,
    damping 0.85, uniform start at ``scale``. Edge multiplicity counts
    (parallel edges contribute twice)."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    e = local_ckpt(e)  # reused every round
    deg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    e_deg = local_ckpt(e.join(deg, "src"))

    v = vertices.select(F.col(id_col).alias("id"))
    pr = v.select("id", F.lit(scale).cast("long").alias("pr"))
    base = (15 * scale) // 100

    for _ in range(iters):
        contribs = (
            e_deg.join(pr.select(F.col("id").alias("src"), "pr"), "src")
            .select(
                F.col("dst").alias("id"),
                F.expr("pr DIV __deg").alias("__c"),
            )
            .groupBy("id")
            .agg(F.sum("__c").alias("__s"))
        )
        # (85·s) DIV 100 decomposed as 85·(s DIV 100) + (85·(s MOD 100)) DIV
        # 100 — algebraically identical (85s = 8500q + 85r) but free of the
        # 85× intermediate, so a hub vertex whose summed contributions
        # approach 2^63 cannot overflow int64.
        pr = local_ckpt(
            v.join(contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        "85 * (coalesce(__s, 0L) DIV 100)"
                        " + (85 * (coalesce(__s, 0L) % 100)) DIV 100"
                    )
                ).cast("long").alias("pr"),
            )
        )
    return pr
