"""Deterministic global ranking without a single-task window.

``row_number() OVER (ORDER BY ...)`` funnels every row through ONE task —
fine for a politeness-bounded batch, fatal for a 10^10-row frontier. This
module computes the identical total order distributed:

1. ``repartitionByRange`` on the sort key (range-partitioned: partition i
   holds keys strictly below partition i+1) + ``sortWithinPartitions``;
2. one pass for per-partition counts → driver cumsum → broadcast offsets
   (a few KB — one long per partition);
3. one ``mapInPandas`` pass adding ``offset[pid] + local_index``.

Determinism: the sort key must be a TOTAL order (include a unique
tie-breaker column). Range boundaries picked by Spark's sampler may vary
between runs, but any boundary placement yields the same global rank because
partitions are globally ordered and internally sorted — boundary variation
only moves WHERE a row sits, never its rank.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import local_ckpt


def distributed_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = EXCLUSIVE prefix sum of ``value_col`` under the
    total order ``order_cols`` — ``sum(value) OVER (ORDER BY ... ROWS
    UNBOUNDED PRECEDING EXCLUDING CURRENT)`` without the single-task global
    window. Same two-phase shape as :func:`distributed_rank`: range
    partition + in-partition sort, per-partition SUMS to the driver (one
    long per partition), broadcast offsets, then a numpy cumsum per
    partition."""
    cols = [F.col(c).asc() for c in order_cols]
    if num_partitions:
        ranged = df.repartitionByRange(num_partitions, *cols)
    else:
        ranged = df.repartitionByRange(*cols)
    ranged = ranged.sortWithinPartitions(*cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    ranged = local_ckpt(ranged)  # sums + final pass share it

    sums = {
        r["__pid"]: r["s"]
        for r in ranged.groupBy("__pid")
        .agg(F.sum(value_col).alias("s"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += int(sums[pid] or 0)

    from pyspark.sql.types import LongType, StructField, StructType

    base_fields = [f for f in ranged.schema.fields if f.name != "__pid"]
    out_schema = StructType(base_fields + [StructField(out_col, LongType(), False)])
    schema_out = [f.name for f in base_fields] + [out_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if local is None:
                local = offsets.get(int(pdf["__pid"].iloc[0]), 0)
            pdf = pdf.drop(columns=["__pid"])
            vals = pdf[value_col].to_numpy()
            ends = vals.cumsum()
            pdf[out_col] = local + ends - vals  # exclusive prefix
            local += int(ends[-1])
            yield pdf[schema_out]

    return ranged.mapInPandas(gen, schema=out_schema)


def distributed_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    offset: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = deterministic 0-based global rank of each row under
    ``ORDER BY order_cols`` (must be a total order), plus ``offset``.

    A rank is the exclusive prefix sum of ones, so this delegates to
    :func:`distributed_cumsum` (same two-phase machinery, no duplicate
    implementation)."""
    out = distributed_cumsum(
        df.withColumn("__ones", F.lit(1).cast("long")),
        order_cols,
        "__ones",
        out_col=out_col,
        num_partitions=num_partitions,
    ).drop("__ones")
    if offset:
        out = out.withColumn(out_col, F.col(out_col) + F.lit(offset))
    return out


# ---------------------------------------------------------------------------
# DFS preorder (crawl4ai DFSDeepCrawlStrategy — the third deep-crawl
# strategy next to BFS and best-first)
# ---------------------------------------------------------------------------

_SEG_W = 8  # zero-padded hex chars per path segment — lex order == pos order


def _seg(pos) -> "F.Column":
    return F.format_string(f"%0{_SEG_W}x", pos)


def dfs_key_segments(key: "F.Column") -> "F.Column":
    """Number of path segments in a DFS key (depth+1)."""
    return (F.length(key) + 1) / F.lit(_SEG_W + 1)


def dfs_preorder(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    max_iters: int | None = None,
) -> DataFrame:
    """Depth-limited DFS preorder of a link graph, computed distributed.

    Sequential DFS (crawl4ai ``DFSDeepCrawlStrategy``: LIFO stack, children
    pushed in link order, visited-set pruning, ``max_depth`` bound) visits
    nodes in exactly the lexicographic order of their CLAIM KEYS, where a
    node's claim key is the concatenation of fixed-width link positions
    along the path that first reached it. That claim key satisfies the
    fixed point

        key(v) = min( seed_key(v),
                      min over edges u→v with segments(key(u)) < max_depth
                          of key(u) || '/' || seg(pos) )

    — the min runs over each parent's CLAIMED key only (not all paths),
    which is precisely the visited-set pruning: a re-reached node never
    re-expands. This propagates like hash-min connected components: a
    min-aggregated key table, re-expanded until no key improves. Iteration
    count is bounded by the claimed-path length (≤ max_depth) plus the
    cascade of improvements — NOT log(n); unbounded-depth DFS is
    inherently sequential (P-complete), and the depth-bounded crawl frontier
    is exactly the case where the fixed point stays shallow.

    ``edges``: (src, dst, pos) with pos = link position within the parent
    (the child-push order). ``seeds``: (id, pos) with pos = seed order.
    Returns (id, dfs_key, dfs_rank) — rank 0-based over the visited set,
    assigned via distributed_rank (never a single-task window).
    """
    limit = max_iters if max_iters is not None else 4 * max_depth
    seed_claims = local_ckpt(
        seeds.select(F.col("id").cast("long").alias("id"), _seg(F.col("pos")).alias("key"))
        .groupBy("id").agg(F.min("key").alias("key"))
    )
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        _seg(F.col("pos")).alias("pseg"),
    )
    # FULL recompute each round (Jacobi iteration from the seed claims), NOT
    # an accumulating min: a child candidate derived from a parent's
    # TRANSIENT key must be retracted when the parent's claim improves to a
    # key at the depth bound (visited-set pruning forbids re-expansion) —
    # an accumulated table would keep the phantom child forever. Entries can
    # therefore appear AND disappear across rounds; convergence is by
    # induction on claim-key length (level-ℓ claims are exact once level
    # ℓ-1 stabilizes), bounded by ~2·max_depth rounds.
    keys = seed_claims
    for _ in range(limit):
        frontier = keys.where(dfs_key_segments(F.col("key")) < max_depth)
        cand = (
            e.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                F.concat(F.col("key"), F.lit("/"), F.col("pseg")).alias("key"),
            )
        )
        new_keys = local_ckpt(
            seed_claims.unionByName(cand)
            .groupBy("id")
            .agg(F.min("key").alias("key"))
        )
        # fixed point ⇔ the claim MAPS are identical — both directions
        # (dropped phantom nodes count as changes too)
        changed = (
            new_keys.alias("n")
            .join(keys.alias("o"), "id", "full")
            .where(
                F.col("o.key").isNull()
                | F.col("n.key").isNull()
                | (F.col("n.key") != F.col("o.key"))
            )
            .limit(1)
            .count()
        )
        keys = new_keys
        if changed == 0:
            break
    return distributed_rank(keys, ["key"], out_col="dfs_rank").withColumnRenamed(
        "key", "dfs_key"
    )


def py_dfs_preorder(
    targets: dict[int, list[int]],
    seeds: list[int],
    max_depth: int,
    expandable=None,
) -> list[int]:
    """Sequential twin: explicit-stack DFS with visited-set pruning and the
    depth bound — crawl4ai's traversal order. ``targets[u]`` lists u's
    children in link order; ``expandable(u)`` gates expansion (robots /
    fetch failures), default all."""
    visited: list[int] = []
    seen: set[int] = set()
    # LIFO stack seeded in REVERSE seed order so seeds pop in order;
    # entries are (id, depth)
    stack: list[tuple[int, int]] = [(s, 0) for s in reversed(seeds)]
    while stack:
        u, d = stack.pop()
        if u in seen:
            continue
        seen.add(u)
        visited.append(u)
        # expansion bound matches the engine/walk contract: children exist
        # only for depths 0..max_depth-2, so visits span depths 0..max_depth-1
        if d >= max_depth - 1:
            continue
        if expandable is not None and not expandable(u):
            continue
        for child in reversed(targets.get(u, [])):
            stack.append((child, d + 1))
    return visited
