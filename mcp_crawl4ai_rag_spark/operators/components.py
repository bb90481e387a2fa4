"""Connected components over near-dup pair graphs — the cluster-formation
stage of a dedup pipeline.

``minhash_lsh_pairs`` / ``simhash_pairs`` / ``cosine_pairs`` emit an EDGE
LIST of near-duplicate pairs; an actual dedup pass must then group edges
into clusters (connected components) and keep one canonical document per
cluster. The reference has no counterpart (it dedups only exact URLs,
src/crawl4ai_mcp.py:980-1004); this is a SURVEY.md training-data
first-class addition.

Algorithm: hash-min label propagation. Every vertex starts labelled with
its own id; each round, every vertex takes the min label over itself and
its neighbours; fixpoint ⇒ every vertex carries the min id of its
component.

Scale shape
-----------
- Hash-min alone needs diameter-many rounds. Near-dup clusters are small
  and dense (docs similar to a common template are usually
  pairwise-similar), so diameter is tiny — 2-4 rounds in practice. The
  default ``accelerate=True`` adds a pointer-jumping step
  (label(v) ← label(label(v)), Shiloach-Vishkin; same O(log n) round bound
  as Kiveris et al.'s large-star/small-star, SoCC'14) so even adversarial
  long-path graphs converge in O(log diameter) rounds — pinned by a
  300-vertex-path test that converges in ≤12 rounds with acceleration and
  provably cannot without.
- Each round: labels ⋈ edges on src (propagate), then groupBy(id).min —
  the join and the aggregate shuffle on the same key, so with AQE the
  exchange is reused. Labels are (long, long) pairs — tiny rows.
- Convergence is detected with a driver-side scalar: min-labels only ever
  decrease, so SUM(label) is strictly decreasing until fixpoint and
  stationary exactly at it. One aggregate action per round, no
  change-count join. The sum is taken as decimal(38,0) so 10^10 vertices
  × 64-bit labels cannot overflow.
- Per-round ``localCheckpoint`` truncates lineage (the iterative plan
  would otherwise double each round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import local_ckpt


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    id_col: str = "doc_id",
    max_rounds: int = 50,
    accelerate: bool = True,
) -> DataFrame:
    """(id_col, component_id): component_id = min vertex id reachable from
    the vertex (its component's canonical representative).

    ``edges`` is an undirected pair list (each pair listed once, either
    orientation). ``vertices`` (a one-column DataFrame named ``id_col``)
    optionally supplies the full vertex set so isolated vertices appear as
    their own singleton components; otherwise only endpoints of edges are
    emitted.

    ``accelerate=True`` adds a pointer-jumping step per round
    (label(v) ← label(label(v)), Shiloach-Vishkin style): labels chase the
    chain twice as far each round, so a diameter-D path converges in
    O(log D) rounds instead of O(D) — the scale path for adversarial
    graphs. The jump is one extra self-join of the (long, long) label
    table; labels only decrease, so the fixpoint and the decreasing-sum
    termination test are unchanged.
    """
    und = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).unionByName(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    )
    # reused by the propagate join every round; distinct also drops
    # duplicate pairs coming from multiple LSH bands
    und = local_ckpt(und.distinct())

    endpoints = und.select(F.col("src").alias(id_col)).distinct()
    if vertices is not None:
        all_vertices = (
            vertices.select(id_col).unionByName(endpoints).distinct()
        )
    else:
        all_vertices = endpoints
    labels = local_ckpt(
        all_vertices.select(F.col(id_col), F.col(id_col).alias("component_id"))
    )

    prev_sum = None
    for _ in range(max_rounds):
        msgs = und.join(
            labels.select(
                F.col(id_col).alias("src"), F.col("component_id")
            ),
            "src",
        ).select(F.col("dst").alias(id_col), "component_id")
        labels = (
            labels.unionByName(msgs)
            .groupBy(id_col)
            .agg(F.min("component_id").alias("component_id"))
        )
        if accelerate:
            # pointer jump: label(v) ← label(label(v)). label(x) ≤ x, so
            # the parent lookup can only lower the label; left join keeps
            # vertices whose label is outside the table (never happens for
            # in-graph labels, but cheap to be total).
            parents = labels.select(
                F.col(id_col).alias("component_id"),
                F.col("component_id").alias("__grand"),
            )
            labels = labels.join(parents, "component_id", "left").select(
                F.col(id_col),
                F.coalesce(F.col("__grand"), F.col("component_id")).alias(
                    "component_id"
                ),
            )
        labels = local_ckpt(labels)
        # coalesce: SUM over zero rows is NULL, which would never equal
        # itself round-to-round and spin an empty graph through max_rounds
        cur = labels.agg(
            F.coalesce(
                F.sum(F.col("component_id").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s")
        ).head()[0]
        if prev_sum is not None and cur == prev_sum:
            break
        prev_sum = cur
    return labels


def canonical_docs(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-list after dedup: one document per component (the one whose id
    IS the component id), plus every document with no near-dup edge.
    Left-anti + semi joins on the component table — the component table is
    orders of magnitude smaller than the corpus and broadcastable when the
    dup rate is low."""
    canon_ids = components.where(
        F.col(id_col) == F.col("component_id")
    ).select(id_col)
    in_graph = components.select(id_col)
    survivors_in_graph = docs.join(canon_ids, id_col, "left_semi")
    isolated = docs.join(in_graph, id_col, "left_anti")
    return survivors_in_graph.unionByName(isolated)


def best_member_keep(
    docs: DataFrame,
    components: DataFrame,
    quality,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware keeper rule: ``(id, component_id, kept, quality)``
    with ``kept`` ⇔ the document is its component's HIGHEST-``quality``
    member (ties → lowest id). What production dedup actually ships —
    :func:`canonical_docs`' min-id rule keeps an arbitrary member, but a
    near-dup cluster of a page and its truncated/boilerplate-wrapped
    variants should survive through its best representative (longest
    body, best quality score, …).

    ``quality`` is any deterministic numeric Column over ``docs``
    (token count, a gopher sub-score, a linear-probe score).

    Scale shape: one equi-join components ⋈ docs (components cover every
    vertex when built with ``vertices=``), then a per-component ``max_by``
    over ``struct(quality, -id)`` — a map-side-combinable aggregate whose
    output is one row per component, NEVER a
    ``row_number() OVER (PARTITION BY component)`` window — and a join
    back on component_id. The struct encodes the tie-break, so the winner
    is deterministic under any partitioning (a bare max_by on equal keys
    is not)."""
    j = components.join(
        docs.select(F.col(id_col), quality.alias("__q")), id_col
    )
    best = j.groupBy("component_id").agg(
        F.expr(f"max_by({id_col}, struct(__q, -{id_col}))").alias("__best")
    )
    return j.join(best, "component_id").select(
        F.col(id_col),
        "component_id",
        (F.col(id_col) == F.col("__best")).alias("kept"),
        F.col("__q").alias("quality"),
    )
