"""Similarity search over an ``array<float>`` embedding column.

Covers the reference's vector top-k (pgvector ``ORDER BY embedding <=>
query LIMIT k``, crawled_pages.sql:49-61) plus the scale-path additions:

- :func:`brute_topk` — exact cosine top-k. Spark plans it as
  TakeOrderedAndProject: each partition keeps only its local top-k, the
  driver merges k×partitions rows — no global sort, no full shuffle.
- :func:`lsh_bucket_ann` — random-hyperplane LSH: ±1 hyperplanes (shared
  constants from md5, reproducible in any engine), signature = sign
  pattern of the dot products, search only the query's bucket. At 10^10
  vectors the bucket join prunes the scan by ~2^n_planes.
- :func:`cosine_pairs` — near-duplicate pairs by embedding cosine.

Exact arithmetic notes: all dot products fold left-to-right in float64 via
``F.aggregate`` so the DuckDB oracle (list_sum over list_zip, same order)
reproduces every sum bit-for-bit; similarities are rounded to 4dp at the
output boundary only.

The builders use the pure-Catalyst cosine (functions/vectors.cosine_expr),
so the whole plan stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import SER_CKPT_LEVEL as _SER_LEVEL  # single engine-wide definition

from ..functions.hashing import py_md5int64
from ..functions.vectors import cosine_expr

DEFAULT_LSH_PLANES = 8


def hyperplane(p: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane p — shared with the SQL oracle."""
    return [1 if py_md5int64(f"hp{p}:{d}") & 1 else -1 for d in range(dim)]


def _dot_plane(vec_col, plane: list[int]):
    """Σ ±v_d as a left fold in float64 (order-stable across engines)."""
    arr = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda v, w: v.cast("double") * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def bucket_expr(vec_col, dim: int, n_planes: int = DEFAULT_LSH_PLANES):
    """LSH bucket id in [0, 2^n_planes): bit p = (v · plane_p) > 0."""
    out = F.lit(0)
    for p in range(n_planes):
        out = out + F.when(
            _dot_plane(vec_col, hyperplane(p, dim)) > 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
    return out.cast("int")


def brute_topk(
    embs: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k vs a fixed query vector: (id, sim). Deterministic
    tie-break on id. The reference's T1 operator (SURVEY.md §2.5)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embs.select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), q), 4).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.col(id_col).asc())
        .limit(k)
    )


def quantize_embeddings(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, qvec array<int>, scale double): symmetric int8 quantization with
    a per-vector scale (max |v| / 127) — a 4× memory/IO reduction for the
    vector corpus, the lever that makes a 10^9-vector scan fit in cluster
    RAM. Quantization uses ``floor(x·127/max + 0.5)`` so every engine
    (Spark / DuckDB / numpy) produces identical codes; zero vectors get
    scale 0 and all-zero codes."""
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    qvec = F.when(mx == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.floor(
                x.cast("double") * F.lit(127.0) / mx + F.lit(0.5)
            ).cast("int"),
        )
    )
    return embs.select(
        F.col(id_col),
        qvec.alias("qvec"),
        (mx / F.lit(127.0)).alias("scale"),
    )


def quantized_topk(
    embs: DataFrame,
    quantized: DataFrame,
    query_vec: list[float],
    k: int,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sim): exact-cosine top-k computed the quantized way — an integer
    dot product over int8 codes ranks a top-``rescore_factor·k`` candidate
    set (the cheap full scan at 1/4 the bytes), then only those candidates
    are rescored with the exact float cosine from the original vectors
    (semi-join pushdown into the corpus scan). Integer dot products are
    exact and order-independent, so the candidate set — and hence the
    result — is engine-reproducible."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    mx = float(np.max(np.abs(q))) if len(q) else 0.0
    if mx == 0.0:
        raise ValueError("zero query vector")
    qq = [int(np.floor(x * 127.0 / mx + 0.5)) for x in q]
    q_arr = F.array(*[F.lit(int(x)) for x in qq])

    approx = quantized.select(
        F.col(id_col),
        F.aggregate(
            F.zip_with(F.col("qvec"), q_arr, lambda a, b: (a * b).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("__qdot"),
        F.aggregate(
            F.transform(F.col("qvec"), lambda a: (a * a).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("__qnormsq"),
    ).select(
        F.col(id_col),
        # cosine-proportional candidate key, engine-exact: rank by
        # qdot·|qdot| / normsq — NOT the raw (dequantized) dot, which is
        # cosine·|v| and lets a long low-cosine vector crowd the true
        # top-k out of the shortlist on unnormalized corpora. Both factors
        # are exact int64 (≤ dim·127² and its square, < 2^53), so the one
        # IEEE division is bit-identical in any engine; zero vectors rank
        # last.
        F.when(
            F.col("__qnormsq") > 0,
            (F.col("__qdot") * F.abs(F.col("__qdot"))).cast("double")
            / F.col("__qnormsq").cast("double"),
        )
        .otherwise(F.lit(float("-inf")))
        .alias("__approx"),
    )
    cands = approx.orderBy(
        F.desc("__approx"), F.col(id_col).asc()
    ).limit(rescore_factor * k)
    return (
        embs.join(cands.select(id_col), id_col, "left_semi")
        .select(
            F.col(id_col),
            F.round(
                cosine_expr(
                    F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in query_vec]),
                ),
                4,
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.col(id_col).asc())
        .limit(k)
    )


def recall_at_k(
    truth: DataFrame,
    approx: DataFrame,
    k: int,
    query_col: str = "qid",
    id_col: str = "vec_id",
) -> DataFrame:
    """(qid, recall): |approx ∩ truth| / k per query — the standard ANN
    quality metric. Inputs are per-query top-k lists (query_col, id_col);
    the intersection is an equi-join on (query, id), counts aggregate
    map-side. An EVALUATION harness shape: run on a query sample, not in
    the serving path."""
    hits = truth.join(approx, [query_col, id_col], "left_semi")
    n_hits = hits.groupBy(query_col).agg(F.count("*").alias("__h"))
    qids = truth.select(query_col).distinct()
    return qids.join(n_hits, query_col, "left").select(
        F.col(query_col),
        F.round(
            F.coalesce(F.col("__h"), F.lit(0)).cast("double") / F.lit(float(k)), 4
        ).alias("recall"),
    )


def query_bucket(query_vec, dim: int, n_planes: int) -> int:
    """Driver-side LSH bucket of a query vector — the EXACT left-fold dot
    (float64, left-to-right, matching F.aggregate / bucket_expr summation
    order). numpy's ``qv @ plane`` pairwise/SIMD summation can flip a
    near-zero sign and shift the whole probe ball off the bucket the
    vectors were written to, so every query-side bucket computation must
    route through this fold."""
    b = 0
    for p in range(n_planes):
        acc = 0.0
        for x, hh in zip(query_vec, hyperplane(p, dim)):
            acc += float(x) * float(hh)
        if acc > 0:
            b |= 1 << p
    return b


def lsh_multiprobe_ann(
    embs: DataFrame,
    query_vec: list[float],
    k: int,
    dim: int,
    n_planes: int = DEFAULT_LSH_PLANES,
    radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sim): exact cosine top-k restricted to buckets within hamming
    ``radius`` of the query's LSH bucket — multi-probe LSH. Single-bucket
    probing misses neighbors that land one sign-flip away (the recall@k
    harness measures ≈0 on isotropic vectors); probing the radius-1 ball
    (1 + n_planes buckets) recovers most of them for (1+n)× the scan of one
    bucket, still a tiny fraction of the corpus. The probe predicate is
    ``bit_count(bucket XOR q_bucket) <= radius`` — pure codegen, no bucket
    list to enumerate, and partition-prunable when the corpus is stored
    bucket-partitioned (write-time layout, operators/similarity
    lsh_write_index)."""
    q_bucket = query_bucket(query_vec, dim, n_planes)
    bucketed = embs.withColumn(
        "__bucket", bucket_expr(F.col(vec_col), dim, n_planes)
    )
    probed = bucketed.where(
        F.bit_count(
            F.col("__bucket").bitwiseXOR(F.lit(q_bucket))
        )
        <= radius
    )
    return brute_topk(probed, query_vec, k, id_col=id_col, vec_col=vec_col)


def lsh_bucket_ann(
    embs: DataFrame,
    query_vec: list[float],
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = DEFAULT_LSH_PLANES,
) -> DataFrame:
    """Approximate top-k: exact cosine restricted to the query's LSH bucket.

    The bucket column is computable at write time and usable as a partition
    key, turning ANN lookup into partition-pruned scan + local top-k.
    """
    q_bucket = query_bucket(query_vec, dim, n_planes)
    bucketed = embs.withColumn("__bucket", bucket_expr(F.col(vec_col), dim, n_planes))
    return brute_topk(
        bucketed.where(F.col("__bucket") == q_bucket), query_vec, k, id_col, vec_col
    )


def l2sq_expr(a, b):
    """Squared L2 distance as a left fold in float64 (order-stable)."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_assign(
    embs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (squared-L2 argmin, ties
    broken by lowest centroid id): (id, vec, cid).

    ``centroids``: (cid, ce) — the codebook, O(K×dim) small by construction,
    collected to the driver and inlined as literals. The argmin is then a
    single per-row projection: an array of K distances + ``array_position``
    of its min — zero shuffle, zero data movement beyond the scan itself
    (the earlier crossJoin+window shape moved N×K full vectors through an
    exchange; at 10^9 vectors × 1024 centroids that plan is dead). At write
    time the assignment becomes a partition column → IVF probe =
    partition-pruned scan of n_probe inverted lists, never a full-corpus
    pass."""
    rows = sorted(
        centroids.select("cid", "ce").collect(), key=lambda r: r["cid"]
    )
    dists = F.array(
        *[
            l2sq_expr(
                F.col(vec_col), F.array(*[F.lit(float(x)) for x in r["ce"]])
            )
            for r in rows
        ]
    )
    cid_arr = F.array(*[F.lit(r["cid"]) for r in rows])
    # cids sorted ascending → array_position's first match IS the lowest-cid
    # tie winner; min compares the exact doubles the array holds.
    idx = F.array_position(dists, F.array_min(dists)).cast("int")
    return embs.select(
        id_col, vec_col, F.element_at(cid_arr, idx).alias("cid")
    )


def ivf_topk(
    embs: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` centroids nearest the
    query, exact cosine only within their inverted lists. ``centroids`` is
    the trained codebook — deterministic here (tests/oracles pass fixed
    rows); at scale it comes from k-means over a sample."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    probe = (
        centroids.withColumn("__d", l2sq_expr(F.col("ce"), q))
        .orderBy(F.col("__d").asc(), F.col("cid").asc())
        .limit(n_probe)
        .select("cid")
    )
    assigned = ivf_assign(embs, centroids, id_col, vec_col)
    survivors = assigned.join(F.broadcast(probe), "cid").select(id_col, vec_col)
    return brute_topk(survivors, query_vec, k, id_col, vec_col)


def cosine_pairs(
    embs: DataFrame,
    min_sim: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_dim: int | None = None,
    n_planes: int = DEFAULT_LSH_PLANES,
) -> DataFrame:
    """(id_a, id_b, sim): embedding near-dup pairs with sim ≥ min_sim.

    With ``block_dim`` set, candidate pairs are BLOCKED on the LSH bucket
    (same algebra as dedup.simhash_pairs banding): only same-bucket pairs
    get an exact cosine — an equi-join instead of a cross join, which is the
    only shape that survives 10^9 vectors. High-sim pairs land in the same
    bucket with prob ≈ (1 - θ/π)^n_planes (θ = angle); exact duplicates
    always do. Without ``block_dim`` it is the exact brute-force cross join.
    """
    a = embs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if block_dim is not None:
        bk = bucket_expr(F.col(vec_col), block_dim, n_planes)
        a = embs.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), bk.alias("__bk")
        )
        b = embs.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), bk.alias("__bk")
        )
        cand = a.join(b, "__bk").where(F.col("id_a") < F.col("id_b")).drop("__bk")
    else:
        cand = a.join(b, F.col("id_a") < F.col("id_b"))
    return cand.select(
        "id_a",
        "id_b",
        F.round(cosine_expr(F.col("va"), F.col("vb")), 4).alias("sim"),
    ).where(F.col("sim") >= min_sim)


# ---------------------------------------------------------------------------
# IVF codebook training: deterministic k-means over a bounded sample
# ---------------------------------------------------------------------------

KM_SAMPLE_SALT = "kmsample:"


def _km_sample_key(id_val: str) -> int:
    from ..functions.hashing import py_md5int64

    return py_md5int64(f"{KM_SAMPLE_SALT}{id_val}")


def train_centroids(
    embs: DataFrame,
    k: int,
    iters: int = 2,
    sample_n: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means-over-sample codebook trainer: (cid, ce).

    Scale shape: the trainer never touches the full corpus — a bounded
    pseudo-random sample (the ``sample_n`` lowest md5-salted ids — a fixed,
    engine-independent draw) feeds Lloyd iterations expressed as DataFrame
    ops: assignment is the shuffle-free per-row argmin of :func:`ivf_assign`,
    the update is a per-(cid, dim) mean whose sum folds in ascending-id
    order (``array_sort(collect_list(struct(id, val)))`` + ``F.aggregate``)
    so the result is BIT-IDENTICAL to the pure-Python twin
    :func:`py_train_centroids` — which is what lets the DuckDB gate oracle
    receive the trained centroids as literals and still catch a trainer
    regression. Per iteration only K×dim doubles cross to the driver.
    Empty clusters keep their previous centroid (standard Lloyd fallback).
    """
    from ..functions.hashing import md5int64

    spark = embs.sparkSession
    h = md5int64(
        F.concat(F.lit(KM_SAMPLE_SALT), F.col(id_col).cast("string"))
    )
    sample = (
        embs.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
            h.alias("__h"),
        )
        .orderBy("__h", "__id")
        .limit(sample_n)
        .localCheckpoint(eager=True, storageLevel=_SER_LEVEL)
    )
    seed_rows = sorted(sample.collect(), key=lambda r: (r["__h"], r["__id"]))[:k]
    cents: list[tuple[int, list[float]]] = [
        (j, list(r["__v"])) for j, r in enumerate(seed_rows)
    ]
    dim = len(cents[0][1])

    body = sample.select("__id", "__v")
    for _ in range(iters):
        cents_df = spark.createDataFrame(cents, "cid int, ce array<double>")
        assigned = ivf_assign(body, cents_df, id_col="__id", vec_col="__v")
        sums = (
            assigned.select(
                "cid", "__id", F.posexplode(F.col("__v")).alias("d", "val")
            )
            .groupBy("cid", "d")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("__id", "val"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["val"],
                ).alias("s"),
                F.count("*").alias("n"),
            )
        )
        means: dict[int, list[float]] = {}
        for r in sums.collect():
            means.setdefault(int(r["cid"]), [0.0] * dim)[int(r["d"])] = (
                r["s"] / r["n"]
            )
        cents = [
            (cid, means.get(cid, old)) for cid, old in cents
        ]
    return spark.createDataFrame(cents, "cid int, ce array<double>")


def py_train_centroids(
    items: list[tuple, ],
    k: int,
    iters: int = 2,
    sample_n: int = 128,
) -> list[tuple[int, list[float]]]:
    """Pure-Python twin of :func:`train_centroids` — identical sample draw,
    assignment tie-break, and ascending-id summation order, so outputs match
    the Spark trainer bit-for-bit. Used to inline trained centroids into the
    SQL gate oracle."""
    ordered = sorted(items, key=lambda t: (_km_sample_key(str(t[0])), t[0]))
    sample = [(i, [float(x) for x in v]) for i, v in ordered[:sample_n]]
    cents = [list(v) for _, v in sample[:k]]
    dim = len(cents[0])

    for _ in range(iters):
        sums = [[0.0] * dim for _ in range(k)]
        counts = [0] * k
        for _id, v in sorted(sample, key=lambda t: t[0]):
            best, best_d = 0, None
            for cid in range(k):
                acc = 0.0
                for d in range(dim):
                    diff = v[d] - cents[cid][d]
                    acc += diff * diff
                if best_d is None or acc < best_d:
                    best, best_d = cid, acc
            counts[best] += 1
            for d in range(dim):
                sums[best][d] += v[d]
        for cid in range(k):
            if counts[cid]:
                cents[cid] = [sums[cid][d] / counts[cid] for d in range(dim)]
    return [(cid, cents[cid]) for cid in range(k)]


# ---------------------------------------------------------------------------
# IVF index persistence: assignment as a partition column → pruned probes
# ---------------------------------------------------------------------------


def ivf_write_index(
    embs: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the inverted lists: vectors written partitioned by their
    assigned centroid. This is the write-time half of the IVF contract —
    the ``cid`` partition column is what turns a probe into a
    partition-PRUNED scan instead of a full-corpus pass."""
    ivf_assign(embs, centroids, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cid").parquet(path)


def ivf_query_index(
    spark,
    path: str,
    centroids: DataFrame,
    query_vec: list[float],
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a written IVF index: pick the ``n_probe`` centroids nearest the
    query on the driver (codebook is tiny), scan ONLY those partitions
    (`cid IN (...)` prunes at the parquet layer — visible as
    PartitionFilters in the plan), exact cosine within them. Identical
    results to :func:`ivf_topk` over the same codebook."""
    rows = sorted(centroids.select("cid", "ce").collect(), key=lambda r: r["cid"])
    probe_cids = _nearest_cids(rows, query_vec, n_probe)

    lists = spark.read.parquet(path).where(F.col("cid").isin(probe_cids))
    return brute_topk(lists, query_vec, k, id_col, vec_col)


def lsh_write_index(
    embs: DataFrame,
    path: str,
    dim: int,
    n_planes: int = DEFAULT_LSH_PLANES,
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH buckets: vectors written partitioned by their
    hyperplane-signature bucket — the write-time contract behind
    :func:`lsh_bucket_ann`'s pruning claim."""
    embs.withColumn(
        "bucket", bucket_expr(F.col(vec_col), dim, n_planes)
    ).write.mode("overwrite").partitionBy("bucket").parquet(path)


def lsh_query_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    dim: int,
    n_planes: int = DEFAULT_LSH_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a written LSH index: compute the query's bucket on the driver,
    scan ONLY that partition (bucket PartitionFilter), exact cosine within.
    Identical results to :func:`lsh_bucket_ann` over the same planes."""
    q_bucket = query_bucket(query_vec, dim, n_planes)
    lists = spark.read.parquet(path).where(F.col("bucket") == q_bucket)
    return brute_topk(lists, query_vec, k, id_col, vec_col)


def lsh_query_index_multiprobe(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    dim: int,
    n_planes: int = DEFAULT_LSH_PLANES,
    radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe over a written LSH index: enumerate the hamming-ball
    buckets around the query's bucket ON THE DRIVER (``sum_{i<=radius}
    C(n_planes, i)`` ids — 1 + n_planes for radius 1) and probe them with
    ``bucket IN (...)``, which prunes at the parquet partition layer
    (PartitionFilters in the plan). Identical results to
    :func:`lsh_multiprobe_ann` over the same planes, but the scan touches
    only the candidate buckets instead of evaluating ``bit_count(xor)``
    over the whole corpus — the 10^10-vector serving shape, mirroring
    :func:`ivf_query_index`."""
    import itertools

    q_bucket = query_bucket(query_vec, dim, n_planes)
    probe = [q_bucket]
    for r in range(1, radius + 1):
        for flips in itertools.combinations(range(n_planes), r):
            b = q_bucket
            for p in flips:
                b ^= 1 << p
            probe.append(b)
    lists = spark.read.parquet(path).where(F.col("bucket").isin(probe))
    return brute_topk(lists, query_vec, k, id_col, vec_col)


def alignment_filter(
    pairs: DataFrame,
    image_col: str,
    text_col: str,
    threshold: float,
    keep_cols: tuple[str, ...] = ("pair_id",),
) -> DataFrame:
    """CLIP-score-style image↔caption alignment filter — the LAION-shape
    gate a web-scale image+caption corpus is cleaned with: score each pair
    by cosine between its image-encoder and text-encoder embeddings, keep
    pairs at or above ``threshold``.

    The encoders themselves are upstream (functions/images.py
    extract_image_features fills the image slot; functions/embedding.py the
    text slot); this operator is the filter over their outputs. Pure
    Catalyst — one codegen projection per row, no shuffle, no UDF — so at
    10^10 pairs it is a single scan whose cost is the embedding reads.
    ``alignment`` is rounded to 4dp at the output boundary and the keep
    decision is made on the rounded value, so any engine reproducing the
    left-to-right float64 fold (see module docstring) makes the identical
    keep/drop call.
    """
    score = F.round(cosine_expr(F.col(image_col), F.col(text_col)), 4)
    return pairs.select(
        *keep_cols,
        score.alias("alignment"),
        (score >= F.lit(float(threshold))).alias("keep"),
    )


def _semdedup_stages(
    embs: DataFrame,
    centroids: DataFrame,
    min_sim: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup's first two stages, exposed for the plan audit:
    ``scored`` = (id, vec, cid, cent_sim) via zero-shuffle assignment + a
    K-row broadcast join; ``pairs`` = within-cluster ≥ min_sim candidate
    pairs via the cid equi-join (never a cross product)."""
    assigned = ivf_assign(embs, centroids, id_col, vec_col)
    scored = assigned.join(F.broadcast(centroids), "cid").select(
        id_col,
        vec_col,
        "cid",
        F.round(cosine_expr(F.col(vec_col), F.col("ce")), 4).alias(
            "cent_sim"
        ),
    )
    a = scored.select(
        "cid", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = scored.select(
        "cid", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    pairs = (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr(F.col("va"), F.col("vb")), 4).alias("sim"),
        )
        .where(F.col("sim") >= F.lit(float(min_sim)))
    )
    return scored, pairs


def semdedup(
    embs: DataFrame,
    centroids: DataFrame,
    min_sim: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column. K-means-cluster the corpus,
    compare pairs ONLY within a cluster, connect the ≥ ``min_sim`` pairs
    into duplicate groups, and inside every group keep the single member
    LEAST similar to its cluster centroid — the paper's rule: the exemplar
    farthest from the cluster center carries the most marginal information.
    Ties break to the lowest id; singletons are trivially kept.

    Returns ``(id_col, cid, component_id, cent_sim, keep)`` — one row per
    input vector, ``cent_sim`` the 4dp-rounded cosine to its own centroid,
    ``keep`` the dedup verdict (the training corpus is ``keep`` == true).

    Scale shape (the reason this composes instead of re-deriving anything):
    assignment is :func:`ivf_assign`'s zero-shuffle literal-argmin
    projection; ``cent_sim`` comes from one K-row broadcast join; candidate
    pairs are an equi-join on ``cid`` — never all-pairs, and the paper's own
    knob (cluster count K grows with corpus size) bounds the per-cluster
    fan-out; duplicate groups reuse the hash-min + pointer-jumping connected
    components (O(log n) rounds); the keep rule is one map-side-combinable
    min-struct aggregation equi-joined back on ``component_id``. Every
    cosine folds left-to-right in float64 and every verdict compares the
    4dp-rounded value, so a DuckDB oracle restating the same formulas makes
    bit-identical keep/drop calls.

    Recall caveat (inherent to the paper's method, not this plan): a
    duplicate pair whose members straddle a cluster boundary is never
    compared and survives dedup — that is the price of the equi-join shape.
    Raise K more slowly than corpus size, or run :func:`cosine_pairs`
    (LSH-blocked) when boundary recall matters more than cost.
    """
    from .components import connected_components

    scored, pairs = _semdedup_stages(embs, centroids, min_sim, id_col, vec_col)
    comps = connected_components(
        pairs.select("id_a", "id_b"),
        vertices=scored.select(id_col),
        id_col=id_col,
    )
    member = scored.select(id_col, "cid", "cent_sim").join(comps, id_col)
    winners = member.groupBy("component_id").agg(
        F.min(F.struct("cent_sim", id_col)).alias("__w")
    )
    return (
        member.join(winners, "component_id")
        .select(
            id_col,
            "cid",
            "component_id",
            "cent_sim",
            (
                (F.col("cent_sim") == F.col("__w.cent_sim"))
                & (F.col(id_col) == F.col(f"__w.{id_col}"))
            ).alias("keep"),
        )
    )


def _py_l2sq(a, b) -> float:
    """Left-to-right float64 squared-L2 fold — the Python twin of
    :func:`l2sq_expr` / the oracle's list_reduce (identical IEEE op order,
    so all three agree bit-for-bit)."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc = acc + d * d
    return acc


def pq_encode(
    embs: DataFrame,
    codebooks: DataFrame,
    n_sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encode: split each D-dim vector into ``n_sub``
    contiguous subspaces and store, per subspace, the 1-based index of the
    nearest codebook slice (squared-L2 argmin, ties to the lowest cid) —
    (id, vec, codes array<int>).

    ``codebooks``: (cid, ce) full-dimension rows, O(K×D) small; their j-th
    slices form subspace j's codebook, so one table serves every subspace
    and a SQL oracle can re-derive the whole scheme from data. Like
    :func:`ivf_assign`, the codebook is inlined as literals and the encode
    is a single zero-shuffle projection — at 10^9 vectors the codes (n_sub
    bytes/vector vs 4·D) are the 100-TB-store serving representation.
    """
    rows = sorted(codebooks.select("cid", "ce").collect(), key=lambda r: r["cid"])
    return embs.select(
        id_col, vec_col, pq_codes_expr(rows, n_sub, vec_col).alias("codes")
    )


def pq_codes_expr(codebook_rows, n_sub: int, vec_col: str = "embedding"):
    """The PQ encode as a single Column over pre-collected codebook rows —
    shared by every encode site so the codebook is collected ONCE per job
    (pq_topk and the index writers previously paid a second driver
    round-trip via pq_encode's own collect)."""
    rows = codebook_rows
    dim = len(rows[0]["ce"])
    assert dim % n_sub == 0, (dim, n_sub)
    sub = dim // n_sub
    codes = []
    for j in range(n_sub):
        x_slice = F.slice(F.col(vec_col), j * sub + 1, sub)
        dists = F.array(
            *[
                l2sq_expr(
                    x_slice,
                    F.array(*[F.lit(float(v)) for v in r["ce"][j * sub : (j + 1) * sub]]),
                )
                for r in rows
            ]
        )
        codes.append(F.array_position(dists, F.array_min(dists)).cast("int"))
    return F.array(*codes)


def pq_topk(
    embs: DataFrame,
    codebooks: DataFrame,
    query_vec: list[float],
    k: int,
    n_sub: int = 4,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ-style approximate top-k via asymmetric distance computation
    (ADC) + exact rescore: encode the corpus with :func:`pq_encode`, score
    every row as the sum over subspaces of the query→centroid distance
    look-up table entry its code selects (Jégou et al.'s ADC — integer
    indexing into an n_sub×K table of doubles, never touching the full
    vector), take the ``rerank`` best candidates, then exact-cosine rescore
    only those for the final top-k: (id, sim).

    Scale shape: the scored scan reads n_sub bytes of codes per row (the
    LUT is literal), the candidate cut is a TakeOrderedAndProject, and the
    exact rescore touches ``rerank`` full vectors — the standard
    100-TB serving plan (PQ scan → shortlist → rescore). Composes with the
    IVF partition-pruned layout (ivf_write_index) for the probe step.
    Determinism: LUT entries are float64 left-fold distances computed in
    Python and inlined as literals — bit-identical to the same fold done
    in Spark or DuckDB — and candidate ties break on id.
    """
    rows = sorted(codebooks.select("cid", "ce").collect(), key=lambda r: r["cid"])
    encoded = embs.select(
        id_col, vec_col, pq_codes_expr(rows, n_sub, vec_col).alias("codes")
    )
    score = _pq_adc_expr(rows, query_vec, n_sub)
    cand = (
        encoded.select(id_col, vec_col, score.alias("__adc"))
        .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
        .limit(rerank)
        .select(id_col, vec_col)
    )
    return brute_topk(cand, query_vec, k, id_col, vec_col)


def _pq_adc_expr(codebook_rows, query_vec: list[float], n_sub: int):
    """ADC score Column over a ``codes`` column: sum over subspaces of the
    literal query→centroid LUT entry each code selects. LUT entries are
    float64 left-fold distances computed in Python (:func:`_py_l2sq`) —
    bit-identical to the same fold in Spark or SQL."""
    dim = len(codebook_rows[0]["ce"])
    assert dim % n_sub == 0, (dim, n_sub)
    sub = dim // n_sub
    score = None
    for j in range(n_sub):
        lut = F.array(
            *[
                F.lit(
                    _py_l2sq(
                        query_vec[j * sub : (j + 1) * sub],
                        r["ce"][j * sub : (j + 1) * sub],
                    )
                )
                for r in codebook_rows
            ]
        )
        term = F.element_at(lut, F.element_at(F.col("codes"), j + 1))
        score = term if score is None else score + term
    return score


def pq_write_index(
    embs: DataFrame,
    path: str,
    codebooks: DataFrame,
    n_sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the PQ index: one (id, codes) row per vector — n_sub small
    ints instead of the 4·D-byte embedding, the at-rest serving artifact a
    10^9-vector store scans per query. Codebook travels separately (it is
    O(K×D) and data-derived here)."""
    pq_encode(embs, codebooks, n_sub, id_col, vec_col).select(
        id_col, "codes"
    ).write.mode("overwrite").parquet(path)


def pq_query_index(
    spark,
    path: str,
    store: DataFrame,
    codebooks: DataFrame,
    query_vec: list[float],
    k: int,
    n_sub: int = 4,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve a top-k from the persisted PQ index: ADC-score the codes scan
    (reads n_sub ints/row — the full vectors never load), shortlist
    ``rerank`` ids, fetch only those vectors from ``store`` via a broadcast
    semi-join (store side streams, zero shuffle), exact-cosine rescore.
    Row-identical to :func:`pq_topk` over the same data (pinned in tests)."""
    rows = sorted(codebooks.select("cid", "ce").collect(), key=lambda r: r["cid"])
    codes = spark.read.parquet(path)
    short = (
        codes.select(id_col, _pq_adc_expr(rows, query_vec, n_sub).alias("__adc"))
        .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
        .limit(rerank)
        .select(id_col)
    )
    fetched = store.join(F.broadcast(short), id_col, "left_semi")
    return brute_topk(fetched, query_vec, k, id_col, vec_col)


def _nearest_cids(centroid_rows, query_vec: list[float], n_probe: int) -> list[int]:
    """The ``n_probe`` coarse centroids nearest the query, computed on the
    driver with the same float64 left-fold as :func:`l2sq_expr` (ties to
    lowest cid) — the codebook is O(K×D) tiny, so probing is free."""
    scored = [
        (_py_l2sq(query_vec, r["ce"]), r["cid"]) for r in centroid_rows
    ]
    return [cid for _, cid in sorted(scored)[:n_probe]]


def ivfpq_write_index(
    embs: DataFrame,
    path: str,
    coarse_centroids: DataFrame,
    pq_codebooks: DataFrame,
    n_sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The combined IVF-PQ index (the FAISS-style 10^9-vector layout): rows
    are PQ codes partitioned by their coarse-quantizer cell, so a query
    reads n_probe partitions × n_sub ints per row — partition pruning AND
    4·D/n_sub compression multiply. Full vectors never land in the index;
    the rescore fetches them from the store by id."""
    assigned = ivf_assign(embs, coarse_centroids, id_col, vec_col)
    pq_rows = sorted(
        pq_codebooks.select("cid", "ce").collect(), key=lambda r: r["cid"]
    )
    # one projection carries codes AND cid: no self-join back on id (which
    # evaluated the ivf_assign argmin twice and shuffled N x N rows)
    assigned.select(
        id_col, pq_codes_expr(pq_rows, n_sub, vec_col).alias("codes"), "cid"
    ).write.mode("overwrite").partitionBy("cid").parquet(path)


def ivfpq_query_index(
    spark,
    path: str,
    store: DataFrame,
    coarse_centroids: DataFrame,
    pq_codebooks: DataFrame,
    query_vec: list[float],
    k: int,
    n_probe: int = 2,
    n_sub: int = 4,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve a top-k from the IVF-PQ index: driver-picked probe cells →
    partition-pruned codes scan (PartitionFilters at the parquet layer) →
    ADC shortlist → broadcast-semi vector fetch from ``store`` → exact
    rescore. Equals the eager composition (IVF survivors → PQ shortlist →
    rescore) row-for-row; pinned in tests."""
    coarse_rows = sorted(
        coarse_centroids.select("cid", "ce").collect(), key=lambda r: r["cid"]
    )
    pq_rows = sorted(
        pq_codebooks.select("cid", "ce").collect(), key=lambda r: r["cid"]
    )
    probe = _nearest_cids(coarse_rows, query_vec, n_probe)
    codes = spark.read.parquet(path).where(F.col("cid").isin(probe))
    short = (
        codes.select(id_col, _pq_adc_expr(pq_rows, query_vec, n_sub).alias("__adc"))
        .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
        .limit(rerank)
        .select(id_col)
    )
    fetched = store.join(F.broadcast(short), id_col, "left_semi")
    return brute_topk(fetched, query_vec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Aesthetic scoring: a linear head over image embeddings — the
# LAION-aesthetic shape (a tiny frozen linear/MLP head applied to CLIP
# image embeddings scores every image; the corpus keeps rows above a
# threshold). The reference stores raw embeddings and filters by cosine
# only (crawled_pages.sql:49-61); a web-scale image+caption pipeline also
# needs the learned per-image quality scalar this head produces.
# ---------------------------------------------------------------------------

AESTHETIC_DIMS = 16  # leading embedding dims used as head features
AESTHETIC_SCALE = 1000  # fixed-point grid: floor(x*1000 + 0.5)


def aesthetic_feature_expr(vec_col, i: int, scale: int = AESTHETIC_SCALE):
    """Fixed-point feature i: ``floor(vec[i]·scale + 0.5)`` as a long.

    float32 → float64 widening is exact, the scale/round arithmetic is a
    single double expression, and floor ties to -inf — every engine (Spark,
    DuckDB, Python) lands on the identical integer, which is what lets the
    trained weights be bit-identical across the gate's two sides. With
    unit-norm embeddings |feat| ≤ scale, so the probe's long Gram sums stay
    exact to ~9·10¹² rows at scale=1000 (see train_linear_probe's bound).
    """
    v = F.element_at(F.col(vec_col), i + 1).cast("double")
    return F.floor(v * F.lit(float(scale)) + F.lit(0.5)).cast("long")


def py_aesthetic_features(
    vec, n_dims: int = AESTHETIC_DIMS, scale: int = AESTHETIC_SCALE
) -> list[int]:
    """Pure-Python twin of :func:`aesthetic_feature_expr` (oracle/tests)."""
    import math

    return [
        int(math.floor(float(vec[i]) * float(scale) + 0.5))
        for i in range(n_dims)
    ]


def train_aesthetic_head(
    embs: DataFrame,
    label_expr,
    n_dims: int = AESTHETIC_DIMS,
    scale: int = AESTHETIC_SCALE,
    vec_col: str = "embedding",
) -> list[float]:
    """Fit the linear head ``quality ≈ w0 + Σ wi·feat_i`` over the corpus
    by exact least squares (operators/corpus_ops.train_linear_probe): one
    map-side-combined Gram aggregation — (k+1)(k+2)/2 + (k+1) longs per
    partition regardless of row count, a single corpus scan at 10^10
    images — then an exact rational solve on the driver, so the weights
    are a pure function of the data (partitioning- and order-invariant)
    and a SQL oracle can receive them as literals."""
    from .corpus_ops import train_linear_probe

    names = [f"__af{i}" for i in range(n_dims)]
    feats = embs.select(
        *[
            aesthetic_feature_expr(vec_col, i, scale).alias(names[i])
            for i in range(n_dims)
        ],
        label_expr.cast("long").alias("__y"),
    )
    return train_linear_probe(feats, names, "__y")


def aesthetic_scores(
    embs: DataFrame,
    weights: list[float],
    threshold: float = 0.5,
    n_dims: int = AESTHETIC_DIMS,
    scale: int = AESTHETIC_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score every image with the trained head and keep rows at or above
    ``threshold``: ``(id, score, keep)``. One codegen projection per row —
    zero shuffle, no UDF — so at 10^10 images the cost is the embedding
    scan itself. ``score`` is rounded to 4dp at the output boundary and the
    keep decision is made on the rounded value (the alignment_filter
    contract), so any engine reproducing the left-to-right float64 weight
    fold makes the identical keep/drop call."""
    from .corpus_ops import linear_probe_score_expr

    names = [f"__af{i}" for i in range(n_dims)]
    feats = embs.select(
        F.col(id_col),
        *[
            aesthetic_feature_expr(vec_col, i, scale).alias(names[i])
            for i in range(n_dims)
        ],
    )
    score = F.round(linear_probe_score_expr(weights, names), 4)
    return feats.select(
        F.col(id_col),
        score.alias("score"),
        (score >= F.lit(float(threshold))).alias("keep"),
    )


def aesthetic_probe(
    embs: DataFrame,
    label_expr,
    threshold: float = 0.5,
    n_dims: int = AESTHETIC_DIMS,
    scale: int = AESTHETIC_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the aesthetic head on a weak label and score the same corpus
    (two scans total: one Gram aggregation, one scoring projection)."""
    w = train_aesthetic_head(embs, label_expr, n_dims, scale, vec_col)
    return aesthetic_scores(embs, w, threshold, n_dims, scale, id_col, vec_col)


def pair_retrieval_recall(
    queries: DataFrame,
    images: DataFrame,
    k: int,
    q_id: str = "qid",
    q_vec: str = "qvec",
    img_id: str = "vec_id",
    img_vec: str = "img_vec",
) -> DataFrame:
    """Cross-modal retrieval evaluation — the CLIP-style Recall@K every
    image+caption corpus is qualified with: each text query's TRUE match is
    the image carrying the same id; rank the image side by cosine and
    report, per query, whether the match lands in the top ``k``
    (``(qid, recall)``, recall ∈ {0.0, 1.0}; the corpus mean is the
    headline Recall@K).

    Scale shape: the query side is a BOUNDED evaluation sample (CLIP evals
    score thousands of pairs, not the corpus) — it collects to one
    normalized float64 matrix broadcast to executors. The image scan then
    runs ONE Arrow-batched numpy matmul per batch (vectorized cosine
    against every query at once — the same work the old per-pair
    ``F.aggregate`` fold did at ~100× the interpreted-lambda cost) and
    emits only each batch's per-query top-``k`` candidates, so the single
    exchange carries ≤ k·|Q|·partitions rows instead of |images|·|Q|.
    A per-batch top-k row set provably contains the global top-k, which a
    final small ranking window recomputes exactly. Similarity is rounded
    to 4dp BEFORE ranking with id tie-break (the engine/oracle order
    contract); the batch sort is id-stable so ties break identically.
    Numpy's pairwise-summed dot differs from the oracle's sequential fold
    only in trailing ulps — measure-zero against the 4dp boundary.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q_rows = queries.select(q_id, q_vec).collect()
    if not q_rows:
        return queries.select(q_id).select(
            F.col(q_id), F.lit(0.0).alias("recall")
        )
    qids = np.array([r[q_id] for r in q_rows], dtype=np.int64)
    qm = np.array([r[q_vec] for r in q_rows], dtype=np.float64)
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
    spark = queries.sparkSession
    bq = spark.sparkContext.broadcast((qids, qn))
    kk = int(k)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_qn = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[img_id].to_numpy(dtype=np.int64)
            m = np.array(list(pdf[img_vec]), dtype=np.float64)
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
            sims = np.round(mn @ b_qn.T, 4)  # rows=images, cols=queries
            # per-query top-k within the batch under (sim desc, id asc):
            # pre-sort rows by id asc, then a STABLE sim argsort keeps the
            # id order among equal sims — exact tie-break, fully vectorized
            order = np.argsort(ids, kind="stable")
            ids_s, sims_s = ids[order], sims[order]
            top = np.argsort(-sims_s, axis=0, kind="stable")[:kk]  # (≤k, Q)
            n_top, n_q = top.shape
            yield pd.DataFrame(
                {
                    "qid": np.repeat(b_qids[None, :], n_top, 0).ravel(),
                    "cand_id": ids_s[top].ravel(),
                    "sim": np.take_along_axis(sims_s, top, axis=0).ravel(),
                }
            )

    cands = images.select(img_id, img_vec).mapInPandas(
        gen, schema="qid long, cand_id long, sim double"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cand_id"))
    top = cands.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= kk
    )
    hits = top.groupBy("qid").agg(
        F.max((F.col("cand_id") == F.col("qid")).cast("int")).alias("__hit")
    )
    return (
        queries.select(F.col(q_id).alias("qid"))
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias(q_id),
            F.coalesce(F.col("__hit"), F.lit(0)).cast("double").alias("recall"),
        )
    )
