"""Similarity search: brute-force cosine top-k, LSH-bucketed ANN, near-dup
pairs. Numpy is the arithmetic oracle (float64, rounded like the engine)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.operators.similarity import (
    brute_topk,
    bucket_expr,
    cosine_pairs,
    hyperplane,
)

DIM = 16
N = 50


def _vecs():
    rng = np.random.Generator(np.random.PCG64(7))
    return rng.standard_normal((N, DIM)).astype(np.float32)


@pytest.fixture(scope="module")
def embs(spark):
    v = _vecs()
    return spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(N)],
        "vec_id long, embedding array<float>",
    )


def _np_cos(a, b):
    a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_brute_topk_matches_numpy(embs):
    v = _vecs()
    q = [float(x) for x in v[0]]
    got = [(r["vec_id"], r["sim"]) for r in brute_topk(embs, q, 5).collect()]
    sims = sorted(
        ((i, round(_np_cos(v[i], q), 4)) for i in range(N)),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert got == sims
    assert got[0] == (0, 1.0)  # query is row 0 itself


def test_bucket_expr_matches_python(embs):
    v = _vecs()
    got = {
        r["vec_id"]: r["b"]
        for r in embs.select(
            "vec_id", bucket_expr(F.col("embedding"), DIM, 4).alias("b")
        ).collect()
    }
    for i in range(N):
        expected = 0
        for p in range(4):
            plane = np.asarray(hyperplane(p, DIM), np.float64)
            # same left-fold order as the engine: sequential sum
            acc = 0.0
            for x, w in zip(v[i], plane):
                acc += float(x) * w
            if acc > 0:
                expected |= 1 << p
        assert got[i] == expected, i


def test_ivf_assign_and_topk(embs, spark):
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.operators.similarity import ivf_assign, ivf_topk

    v = _vecs()
    centroids = embs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    got = {
        r["vec_id"]: r["cid"] for r in ivf_assign(embs, centroids).collect()
    }
    for i in range(N):
        dists = [
            (sum((float(a) - float(b)) ** 2 for a, b in zip(v[i], v[c])), c)
            for c in range(4)
        ]
        assert got[i] == min(dists)[1], i
    # a centroid row is assigned to itself (distance 0)
    assert got[2] == 2

    q = [float(x) for x in v[0]]
    hits = ivf_topk(embs, centroids, q, 3, n_probe=1).collect()
    # query = vec 0 = centroid 0 → its own list is probed, vec 0 ranks first
    assert hits[0]["vec_id"] == 0 and hits[0]["sim"] == 1.0
    probed = {i for i, c in got.items() if c == 0}
    assert all(r["vec_id"] in probed for r in hits)


def test_cosine_pairs_threshold(embs, spark):
    # add an exact duplicate of vec 7 → sim 1.0 pair must surface
    v = _vecs()
    dup = spark.createDataFrame(
        [(999, [float(x) for x in v[7]])], "vec_id long, embedding array<float>"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in cosine_pairs(embs.unionByName(dup), 0.99, id_col="vec_id").collect()
    }
    assert pairs[(7, 999)] == 1.0
    # no random 16-dim pair from N(0,1) reaches 0.99
    assert all(a == 7 and b == 999 for (a, b) in pairs)


def test_train_centroids_matches_python_twin(spark):
    """Distributed k-means trainer must equal the pure-Python twin
    bit-for-bit (the property the ann_ivf_trained gate oracle relies on)."""
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.functions.hashing import md5int64, py_md5int64
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        py_train_centroids,
        train_centroids,
    )

    N, DIM, K = 300, 6, 5

    def pyvec(i):
        return [(py_md5int64(f"kv:{i}:{d}") % 1000) / 1000.0 for d in range(DIM)]

    i = F.col("id")
    emb = F.array(
        *[
            F.pmod(
                md5int64(F.concat(F.lit("kv:"), i.cast("string"), F.lit(f":{d}"))),
                F.lit(1000),
            )
            / 1000.0
            for d in range(DIM)
        ]
    )
    embs = spark.range(N).select(i.alias("vec_id"), emb.alias("embedding"))
    got = {
        r["cid"]: list(r["ce"])
        for r in train_centroids(embs, K, iters=2, sample_n=64).collect()
    }
    want = dict(
        py_train_centroids([(j, pyvec(j)) for j in range(N)], K, iters=2, sample_n=64)
    )
    assert got == want  # exact float equality, not approx


def test_train_centroids_empty_cluster_keeps_old(spark):
    """A centroid that attracts no sample points must survive unchanged."""
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        py_train_centroids,
        train_centroids,
    )

    # two tight blobs + k=3: one centroid inevitably starves
    rows = [(i, [float(i % 2) * 100.0, 0.0]) for i in range(40)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["cid"]: list(r["ce"])
        for r in train_centroids(embs, 3, iters=2, sample_n=40).collect()
    }
    want = dict(py_train_centroids(rows, 3, iters=2, sample_n=40))
    assert got == want and len(got) == 3


def test_ivf_written_index_prunes_partitions_and_matches(spark, tmp_path):
    """The persisted IVF index must (a) return exactly what the in-memory
    ivf_topk returns and (b) scan only the probed partitions — the plan
    carries a cid partition filter, the write-time partitioning contract."""
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.operators.similarity import (
        ivf_query_index,
        ivf_topk,
        ivf_write_index,
    )

    embs = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (d + 3)) % 17).cast("double") for d in range(6)]
        ).alias("embedding"),
    )
    cents = embs.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("embedding").alias("ce")
    )
    q = [float((7 * (d + 3)) % 17) for d in range(6)]

    path = str(tmp_path / "ivf_index")
    ivf_write_index(embs, cents, path)
    got = ivf_query_index(spark, path, cents, q, 5, n_probe=2)
    want = ivf_topk(embs, cents, q, 5, n_probe=2)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters")[1][:120]


def test_lsh_written_index_prunes_and_matches(spark, tmp_path):
    """Single-bucket (radius 0) probe of the written index: equal to the
    full-scan radius-0 multiprobe and pruned by a bucket PartitionFilter."""
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.operators.similarity import (
        lsh_multiprobe_ann,
        lsh_query_index_multiprobe,
        lsh_write_index,
    )

    embs = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(((F.col("id") + d) * 37) % 23 - 11).cast("double") for d in range(6)]
        ).alias("embedding"),
    )
    q = [float(((5 + d) * 37) % 23 - 11) for d in range(6)]
    path = str(tmp_path / "lsh_index")
    lsh_write_index(embs, path, dim=6)
    got = lsh_query_index_multiprobe(spark, path, q, 5, dim=6, radius=0)
    want = lsh_multiprobe_ann(embs, q, 5, dim=6, radius=0)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]


def test_lsh_multiprobe_index_prunes_and_matches(spark, tmp_path):
    """The bucket-enumerated multiprobe over the written index must equal
    the full-scan bit_count(xor) multiprobe AND prune at the partition
    layer (bucket IN (...) as a PartitionFilter, not a post-scan filter)."""
    from pyspark.sql import functions as F

    from mcp_crawl4ai_rag_spark.operators.similarity import (
        lsh_multiprobe_ann,
        lsh_query_index_multiprobe,
        lsh_write_index,
    )

    embs = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(((F.col("id") + d) * 37) % 23 - 11).cast("double") for d in range(6)]
        ).alias("embedding"),
    )
    q = [float(((5 + d) * 37) % 23 - 11) for d in range(6)]
    path = str(tmp_path / "lsh_index_mp")
    lsh_write_index(embs, path, dim=6)
    for radius in (1, 2):
        got = lsh_query_index_multiprobe(spark, path, q, 5, dim=6, radius=radius)
        want = lsh_multiprobe_ann(embs, q, 5, dim=6, radius=radius)
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ], radius
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert (
            "PartitionFilters" in plan
            and "bucket" in plan.split("PartitionFilters")[1][:160]
        )


def test_quantize_embeddings_matches_numpy(spark):
    import numpy as np

    from mcp_crawl4ai_rag_spark.operators.similarity import quantize_embeddings

    vecs = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector edge case
        (3, [3.0, 2.0, -3.0, 1.5]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    for vid, v in vecs:
        a = np.asarray(v)
        mx = float(np.max(np.abs(a)))
        if mx == 0.0:
            assert got[vid]["scale"] == 0.0
            assert got[vid]["qvec"] == [0, 0, 0, 0]
        else:
            exp = [int(np.floor(x * 127.0 / mx + 0.5)) for x in v]
            assert got[vid]["qvec"] == exp
            assert got[vid]["scale"] == mx / 127.0
            assert max(abs(c) for c in got[vid]["qvec"]) == 127


def test_quantized_topk_matches_brute(spark, embs):
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        brute_topk,
        quantize_embeddings,
        quantized_topk,
    )

    q = embs.where(F.col("vec_id") == 0).select("embedding").head()[0]
    base = embs.where(F.col("vec_id") > 0)
    qz = quantize_embeddings(base)
    got = quantized_topk(base, qz, list(q), 5).collect()
    exp = brute_topk(base, list(q), 5).collect()
    assert [(r["vec_id"], r["sim"]) for r in got] == [
        (r["vec_id"], r["sim"]) for r in exp
    ]


def test_recall_at_k(spark):
    from mcp_crawl4ai_rag_spark.operators.similarity import recall_at_k

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 13), (1, 14), (2, 20), (2, 21), (2, 22), (2, 23), (2, 24)],
        "qid long, vec_id long",
    )
    approx = spark.createDataFrame(
        # q1: 3 of 5 right; q2: nothing returned
        [(1, 10), (1, 11), (1, 12), (1, 99), (1, 98)],
        "qid long, vec_id long",
    )
    got = {r["qid"]: r["recall"] for r in recall_at_k(truth, approx, 5).collect()}
    assert got == {1: 0.6, 2: 0.0}


def test_lsh_multiprobe_beats_single_bucket(spark, embs):
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        brute_topk,
        bucket_expr,
        lsh_multiprobe_ann,
    )

    base = embs.where(F.col("vec_id") > 0)
    total_r1 = 0
    total_rm = 0
    for qid in range(4):
        q = list(embs.where(F.col("vec_id") == qid).select("embedding").head()[0])
        truth = {r["vec_id"] for r in brute_topk(base, q, 5).collect()}
        multi = {
            r["vec_id"]
            for r in lsh_multiprobe_ann(base, q, 5, DIM).collect()
        }
        # single bucket = radius 0
        single = {
            r["vec_id"]
            for r in lsh_multiprobe_ann(base, q, 5, DIM, radius=0).collect()
        }
        total_r1 += len(single & truth)
        total_rm += len(multi & truth)
    # multi-probe recall strictly dominates single-bucket on this corpus
    assert total_rm >= total_r1
    assert total_rm > 0


def test_alignment_filter_drops_planted_swaps(spark, embs):
    """CLIP-score-style filter: genuine pairs (image emb = lossy perturbation
    of the text emb) stay; planted caption swaps (neighbor's image emb) drop.
    Scores match a numpy float64 oracle rounded at the same boundary."""
    from mcp_crawl4ai_rag_spark.operators.similarity import alignment_filter

    v = _vecs()
    rows = []
    for i in range(N - 1):
        txt = v[i]
        img = v[i + 1] if i % 10 == 0 else v[i] * 0.9 + 0.01
        rows.append((i, [float(x) for x in img], [float(x) for x in txt]))
    pairs = spark.createDataFrame(
        rows, "pair_id long, img array<double>, txt array<double>"
    )
    out = alignment_filter(pairs, "img", "txt", threshold=0.8).collect()
    assert len(out) == N - 1
    for r in out:
        # float32 storage in `rows` above is avoided (array<double>), so the
        # numpy twin reproduces the engine's fold exactly at 4dp
        i = r["pair_id"]
        img = v[i + 1] if i % 10 == 0 else v[i] * 0.9 + 0.01
        assert r["alignment"] == pytest.approx(
            round(_np_cos(img, v[i]), 4), abs=1e-9
        )
        assert r["keep"] == (i % 10 != 0)


def test_pq_encode_and_topk_match_numpy(spark, embs):
    """PQ codes and the ADC-shortlist top-k must equal the numpy twin
    (float64 left-fold distances, ties to the lowest centroid/id)."""
    from mcp_crawl4ai_rag_spark.operators.similarity import pq_encode, pq_topk

    v = _vecs()
    K, M = 6, 4
    sub = DIM // M
    cbs = spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(K)],
        "cid long, ce array<float>",
    )
    got_codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(embs, cbs, M).collect()
    }

    def l2sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            d = float(np.float32(x)) - float(np.float32(y))
            acc += d * d
        return acc

    want_codes = {}
    for i in range(N):
        cs = []
        for j in range(M):
            xs = v[i][j * sub : (j + 1) * sub]
            ds = [l2sq(xs, v[c][j * sub : (j + 1) * sub]) for c in range(K)]
            cs.append(ds.index(min(ds)) + 1)  # 1-based, first-min tie-break
        want_codes[i] = cs
    assert got_codes == want_codes

    q = [float(x) for x in v[0]]
    got = [(r["vec_id"], r["sim"]) for r in pq_topk(embs, cbs, q, 5, n_sub=M, rerank=12).collect()]

    # twin: ADC score from the same codes, shortlist of 12, exact rescore
    luts = [
        [l2sq(q[j * sub : (j + 1) * sub], v[c][j * sub : (j + 1) * sub]) for c in range(K)]
        for j in range(M)
    ]
    adc = {
        i: sum(luts[j][want_codes[i][j] - 1] for j in range(M)) for i in range(N)
    }
    short = sorted(range(N), key=lambda i: (adc[i], i))[:12]
    want = sorted(
        ((i, round(_np_cos(v[i], q), 4)) for i in short), key=lambda t: (-t[1], t[0])
    )[:5]
    assert got == want
    # the query vector itself must survive ADC (its codes are its own argmins)
    assert got[0] == (0, 1.0)


def test_pq_recall_dominates_random_shortlist(spark, embs):
    """Sanity: the ADC shortlist must recall most of the true top-5 — PQ is
    an approximation of L2, not of nothing."""
    from mcp_crawl4ai_rag_spark.operators.similarity import pq_topk

    v = _vecs()
    K = 8
    cbs = spark.createDataFrame(
        [(i, [float(x) for x in v[N - 1 - i]]) for i in range(K)],
        "cid long, ce array<float>",
    )
    q = [float(x) for x in v[3]]
    truth = {r["vec_id"] for r in brute_topk(embs, q, 5).collect()}
    approx = {
        r["vec_id"]
        for r in pq_topk(embs, cbs, q, 5, n_sub=4, rerank=15).collect()
    }
    assert len(truth & approx) >= 3


def test_pq_index_roundtrip_equals_direct(spark, embs, tmp_path):
    """pq_write_index + pq_query_index must reproduce pq_topk row-for-row,
    and the store-side fetch must be a broadcast semi-join (no store
    shuffle)."""
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        pq_query_index,
        pq_topk,
        pq_write_index,
    )

    v = _vecs()
    K, M = 6, 4
    cbs = spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(K)],
        "cid long, ce array<float>",
    )
    q = [float(x) for x in v[7]]
    path = str(tmp_path / "pq_index")
    pq_write_index(embs, path, cbs, M)

    served = pq_query_index(spark, path, embs, cbs, q, 5, n_sub=M, rerank=12)
    direct = pq_topk(embs, cbs, q, 5, n_sub=M, rerank=12)
    assert [tuple(r) for r in served.collect()] == [tuple(r) for r in direct.collect()]

    plan = served._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final and "LeftSemi" in final, final[:1500]

    # the persisted artifact really is codes-only (no vectors at rest)
    cols = spark.read.parquet(path).columns
    assert set(cols) == {"vec_id", "codes"}


def test_ivfpq_index_matches_eager_composition(spark, embs, tmp_path):
    """The written IVF-PQ index (codes partitioned by coarse cell) must
    serve the same top-k as eagerly composing ivf_assign -> pq shortlist ->
    rescore, with PartitionFilters pruning the codes scan."""
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        ivf_assign,
        ivfpq_query_index,
        ivfpq_write_index,
        pq_topk,
    )

    v = _vecs()
    K_COARSE, K_PQ, M, NPROBE, RERANK = 5, 6, 4, 2, 12
    coarse = spark.createDataFrame(
        [(i, [float(x) for x in v[10 + i]]) for i in range(K_COARSE)],
        "cid long, ce array<float>",
    )
    pq_cbs = spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(K_PQ)],
        "cid long, ce array<float>",
    )
    q = [float(x) for x in v[20]]
    path = str(tmp_path / "ivfpq")
    ivfpq_write_index(embs, path, coarse, pq_cbs, M)

    served = ivfpq_query_index(
        spark, path, embs, coarse, pq_cbs, q, 5,
        n_probe=NPROBE, n_sub=M, rerank=RERANK,
    )
    got = [tuple(r) for r in served.collect()]

    # eager composition over the same pieces: survivors of the probed
    # cells -> PQ shortlist -> rescore (pq_topk restricted to survivors)
    assigned = ivf_assign(embs, coarse)
    import numpy as np

    def l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            d = float(x) - float(y)
            acc += d * d
        return acc

    cd = sorted(
        (l2(q, [float(x) for x in v[10 + i]]), i) for i in range(K_COARSE)
    )[:NPROBE]
    probe = [c for _, c in cd]
    surv = assigned.where(F.col("cid").isin(probe)).select("vec_id", "embedding")
    want = [
        tuple(r)
        for r in pq_topk(surv, pq_cbs, q, 5, n_sub=M, rerank=RERANK).collect()
    ]
    assert got == want and len(got) == 5

    # plan pins: partition pruning on the codes scan, broadcast-semi fetch
    plan = served._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "PartitionFilters: [cid" in final.replace("PartitionFilters: [ cid", "PartitionFilters: [cid") or "PartitionFilters" in final, final[:1200]
    assert "BroadcastHashJoin" in final and "LeftSemi" in final, final[:1200]

    # at-rest schema: codes + partition column only, no vectors
    assert set(spark.read.parquet(path).columns) == {"vec_id", "codes", "cid"}


def test_image_neardup_retrieval_through_ivfpq(spark, tmp_path):
    """Image axis × ANN serving: index the corpus's image features in the
    IVF-PQ layout, query with a lossy-transcoded twin's features — the
    original image must come back as the nearest neighbor through the
    partition-pruned codes path."""
    from mcp_crawl4ai_rag_spark.functions.images import (
        extract_image_features,
        transcode_images,
    )
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        ivfpq_query_index,
        ivfpq_write_index,
    )
    from mcp_crawl4ai_rag_spark.sources.corpus import gen_images

    imgs = gen_images(spark, 40, partitions=4).cache()
    feats = extract_image_features(imgs).select("image_id", "features").cache()
    rows = {r["image_id"]: list(r["features"]) for r in feats.collect()}
    M = 4  # 16-dim grid features -> 4 subspaces

    coarse = spark.createDataFrame(
        [(i, rows[f"img_{i:012d}"]) for i in range(4)], "cid long, ce array<float>"
    )
    pq_cbs = spark.createDataFrame(
        [(i, rows[f"img_{i + 4:012d}"]) for i in range(6)], "cid long, ce array<float>"
    )
    path = str(tmp_path / "img_ivfpq")
    ivfpq_write_index(
        feats, path, coarse, pq_cbs, M, id_col="image_id", vec_col="features"
    )

    # the probe image: a png row re-encoded lossy (jpeg) — near, not equal
    target = "img_%012d" % 22
    twin = transcode_images(
        imgs.where(F.col("image_id") == target), "jpeg"
    )
    qfeat = list(
        extract_image_features(twin).select("features").head()["features"]
    )
    assert qfeat != rows[target]  # lossy: the twin moved

    got = ivfpq_query_index(
        spark, path, feats, coarse, pq_cbs, qfeat, 3,
        n_probe=3, n_sub=M, rerank=10, id_col="image_id", vec_col="features",
    ).collect()
    assert got and got[0]["image_id"] == target, [tuple(r) for r in got]


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup (cluster → within-cluster pairs → keep rule)
# ---------------------------------------------------------------------------


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _fold_cos(a, b):
    import math

    na = math.sqrt(_fold_dot(a, a))
    nb = math.sqrt(_fold_dot(b, b))
    return _fold_dot(a, b) / (na * nb)


def _py_semdedup(vecs, cents, min_sim):
    """Pure-Python twin of operators.similarity.semdedup: identical fold
    order, identical 4dp rounding, identical tie-breaks."""
    from mcp_crawl4ai_rag_spark.operators.similarity import _py_l2sq

    cids = sorted(cents)
    assign = {}
    for i, v in vecs.items():
        d = [(_py_l2sq(v, cents[c]), c) for c in cids]
        assign[i] = min(d)[1]
    cent_sim = {
        i: round(_fold_cos(v, cents[assign[i]]), 4) for i, v in vecs.items()
    }
    parent = {i: i for i in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(vecs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if assign[a] != assign[b]:
                continue
            if round(_fold_cos(vecs[a], vecs[b]), 4) >= min_sim:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {i: find(i) for i in vecs}
    winners = {}
    for i in vecs:
        key = (cent_sim[i], i)
        c = comp[i]
        if c not in winners or key < winners[c]:
            winners[c] = key
    return {
        i: (assign[i], comp[i], cent_sim[i], winners[comp[i]][1] == i)
        for i in vecs
    }


def _sem_corpus():
    """50 random vectors + a perturbed twin for every 5th — planted
    duplicate groups whose members co-cluster by construction."""
    v = _vecs()
    vecs = {i: [float(x) for x in v[i]] for i in range(N)}
    for i in range(0, N, 5):
        vecs[i + 1000] = [x * 0.98 + 0.005 for x in vecs[i]]
    return vecs


def test_semdedup_matches_python_twin(spark):
    from mcp_crawl4ai_rag_spark.operators.similarity import semdedup

    vecs = _sem_corpus()
    v = _vecs()
    cents = {c: [float(x) for x in v[c]] for c in range(4)}
    embs = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )
    cents_df = spark.createDataFrame(
        sorted(cents.items()), "cid int, ce array<double>"
    )
    got = {
        r["vec_id"]: (r["cid"], r["component_id"], r["cent_sim"], r["keep"])
        for r in semdedup(embs, cents_df, 0.99).collect()
    }
    want = _py_semdedup(vecs, cents, 0.99)
    assert got == want
    # planted twins form non-trivial groups: exactly one of each pair kept
    for i in range(0, N, 5):
        assert got[i][1] == got[i + 1000][1] == i  # co-component, min id
        assert got[i][3] != got[i + 1000][3]  # exactly one kept
    # the paper's rule: the kept member is the one LEAST similar to the
    # centroid (ties to lowest id)
    for i in range(0, N, 5):
        a, b = got[i], got[i + 1000]
        kept, dropped = (a, b) if a[3] else (b, a)
        assert (kept[2], i if a[3] else i + 1000) <= (
            dropped[2],
            i + 1000 if a[3] else i,
        )


def test_semdedup_singletons_kept_and_plan_has_no_cartesian(spark):
    from mcp_crawl4ai_rag_spark.operators.similarity import semdedup

    vecs = _sem_corpus()
    v = _vecs()
    cents = {c: [float(x) for x in v[c]] for c in range(4)}
    embs = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )
    cents_df = spark.createDataFrame(
        sorted(cents.items()), "cid int, ce array<double>"
    )
    out = semdedup(embs, cents_df, 0.99)
    rows = out.collect()
    # every singleton component is kept; exactly one keeper per component
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component_id"], []).append(r)
    for comp, members in by_comp.items():
        assert sum(m["keep"] for m in members) == 1
        if len(members) == 1:
            assert members[0]["keep"]
    # candidate generation is the cid equi-join, never a cross join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_semdedup_duplicate_recall_vs_all_pairs(spark):
    """Quantify the documented recall trade-off: every true ≥min_sim pair
    whose members share a cluster must co-component (within-cluster recall
    is exact by construction); overall pair recall on this corpus is pinned
    ≥ 0.9 so a silent assignment regression (e.g. a perturbed argmin
    scattering twins across clusters) trips the gate."""
    from mcp_crawl4ai_rag_spark.operators.similarity import semdedup

    vecs = _sem_corpus()
    v = _vecs()
    cents = {c: [float(x) for x in v[c]] for c in range(4)}
    embs = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<double>"
    )
    cents_df = spark.createDataFrame(
        sorted(cents.items()), "cid int, ce array<double>"
    )
    out = {
        r["vec_id"]: (r["cid"], r["component_id"])
        for r in semdedup(embs, cents_df, 0.99).collect()
    }
    ids = sorted(vecs)
    truth = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if round(_fold_cos(vecs[a], vecs[b]), 4) >= 0.99
    ]
    assert truth  # non-vacuous: the planted twins are in there
    same_cluster = [(a, b) for a, b in truth if out[a][0] == out[b][0]]
    hit = [(a, b) for a, b in truth if out[a][1] == out[b][1]]
    # exactness where the method looks: every same-cluster true pair found
    assert all(out[a][1] == out[b][1] for a, b in same_cluster)
    # and the method looks almost everywhere on this corpus
    assert len(hit) / len(truth) >= 0.9, (len(hit), len(truth))


def test_pair_retrieval_recall_identity_and_misses(spark):
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        pair_retrieval_recall,
    )

    # images identical to queries -> every pair found at k=1
    v = _vecs()
    qs = spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(12)],
        "qid long, qvec array<float>",
    )
    imgs = spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(12)],
        "vec_id long, img_vec array<double>",
    )
    out = {r["qid"]: r["recall"] for r in pair_retrieval_recall(qs, imgs, 1).collect()}
    assert out == {i: 1.0 for i in range(12)}
    # swap two images -> those two queries miss at k=1 but hit at k<=N
    rows = [(i, [float(x) for x in v[i]]) for i in range(12)]
    rows[0], rows[1] = (0, rows[1][1]), (1, rows[0][1])
    swapped = spark.createDataFrame(rows, "vec_id long, img_vec array<double>")
    out1 = {r["qid"]: r["recall"] for r in pair_retrieval_recall(qs, swapped, 1).collect()}
    assert out1[0] == 0.0 and out1[1] == 0.0
    assert all(out1[i] == 1.0 for i in range(2, 12))
    # at k = corpus size every query recovers its pair by exhaustion
    outN = {r["qid"]: r["recall"] for r in pair_retrieval_recall(qs, swapped, 12).collect()}
    assert outN == {i: 1.0 for i in range(12)}


def test_vector_constants_pass_as_one_value_each(spark):
    """Every constant vector a similarity plan carries (query, hyperplanes,
    centroids, PQ codebook slices and look-up tables, quantized query,
    centroid ids) is one expression, not one literal per component: at 256
    dimensions each analyzed plan holds fewer literals than one vector has
    components, and the values equal numpy's."""
    from mcp_crawl4ai_rag_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        pq_topk,
        quantize_embeddings,
        quantized_topk,
    )

    dim, n = 256, 24
    v = np.random.Generator(np.random.PCG64(11)).standard_normal((n, dim)).astype(np.float32)
    big = spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    cents = big.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    q = [float(x) for x in v[3]]
    plans = {
        "brute_topk": brute_topk(big, q, 5),
        "bucket_expr": big.select(bucket_expr(F.col("embedding"), dim).alias("b")),
        "quantized_topk": quantized_topk(big, quantize_embeddings(big), q, 5),
        "ivf_assign": ivf_assign(big, cents),
        "ivf_topk": ivf_topk(big, cents, q, 5),
        "pq_topk": pq_topk(big, cents, q, 5, n_sub=4),
    }
    for name, df in plans.items():
        js = df._jdf.queryExecution().analyzed().toJSON()
        n_lit = js.count('"class":"org.apache.spark.sql.catalyst.expressions.Literal"')
        assert 0 < n_lit < dim, (name, n_lit)

    sims = sorted(((i, round(_np_cos(v[i], q), 4)) for i in range(n)), key=lambda t: (-t[1], t[0]))
    assert [(r["vec_id"], r["sim"]) for r in plans["brute_topk"].collect()] == sims[:5]
    got = {r["vec_id"]: r["cid"] for r in plans["ivf_assign"].collect()}
    v64 = v.astype(np.float64)
    for i in range(n):
        d = ((v64[i] - v64[:6]) ** 2).sum(axis=1)
        assert got[i] == int(np.argmin(d)), i
