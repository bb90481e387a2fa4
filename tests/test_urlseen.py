"""Bloom / cuckoo / anti-join membership tests (north_star components)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.operators.urlseen import (
    BloomFilter,
    CuckooFilter,
    _probe_value,
    anti_join_seen,
    build_bloom,
)


def _probed(df, filt):
    """``df`` plus ``hit``: the JVM membership probe of its ``url_hash``."""
    return df.crossJoin(_probe_value(df.sparkSession, filt)).select(
        *df.columns, filt.sql_contains("url_hash", "__filter").alias("hit")
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
    probed = _probed(df, bloom)
    assert probed.where(~F.col("hit")).count() == 0  # zero false negatives


def _hash_probes(rng, n):
    """``n`` random int64 hashes plus the edge cases of the SQL probe's
    arithmetic: sign bit, all-ones, zero high/low halves and zero cuckoo
    fingerprints (bits 48-63 clear)."""
    edges = np.array(
        [0, 1, -1, -(2**63), 2**63 - 1, 2**32, 2**32 - 1, -(2**32), 2**48 - 1, 12345],
        dtype=np.int64,
    )
    return np.concatenate([edges, rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)])


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
@pytest.mark.parametrize("n_shards", [1, 5, 8])
def test_jvm_probe_equals_numpy_twin(spark, kind, n_shards):
    """The Spark SQL probe answers exactly what the numpy ``contains_hashes``
    twin answers, bit for bit, over members, random non-members and the
    arithmetic edge cases, and never misses a member."""
    rng = np.random.default_rng(100 + n_shards)
    members = _hash_probes(rng, 3000)
    if kind == "bloom":
        filt = BloomFilter.sized_for(len(members), 0.01, n_shards=n_shards)
    else:
        filt = CuckooFilter(capacity=2 * len(members), n_shards=n_shards)
    filt.add_hashes(members)
    probes = np.concatenate([members, rng.integers(-(2**63), 2**63 - 1, 20_000, dtype=np.int64)])
    df = spark.createDataFrame(pd.DataFrame({"url_hash": probes})).repartition(4)
    got = _probed(df, filt).toPandas()
    want = filt.contains_hashes(got["url_hash"].to_numpy(dtype=np.int64))
    assert np.array_equal(got["hit"].to_numpy(dtype=bool), want)
    assert want[np.isin(got["url_hash"].to_numpy(), members)].all()
    assert 0 < want.sum() < len(want)  # non-members do miss


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


_PY_EVAL = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


def _plan_nodes_of(node):
    """``node`` and every node below it."""
    kids = node.children()
    return [node] + [x for i in range(kids.size()) for x in _plan_nodes_of(kids.apply(i))]


def _plan_nodes(df):
    """Every node of ``df``'s physical plan (before AQE wraps it)."""
    return _plan_nodes_of(df._jdf.queryExecution().sparkPlan())


def _leaf_names(node):
    return {n.nodeName() for n in _plan_nodes_of(node) if n.children().size() == 0}


def _is_probe_join(node):
    return node.nodeName() == "BroadcastNestedLoopJoin" and "__filter" in node.simpleString(100)


def test_anti_join_never_probes_url_seen(spark):
    """The bloom is built from url_seen, so probing url_seen's own rows is
    pure waste: every probe answers True. The JVM probe joins only the
    candidates (once per union branch), the exact anti-join's candidate
    input is probe-filtered under a broadcast and a sort-merge anti-join
    alike, the filter words go no further than the probe joins, no Python
    runs, and the result equals the exact anti-join."""
    from mcp_crawl4ai_rag_spark import local_ckpt

    cand = spark.range(0, 1000, 1, 4).select(
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
    )
    # a checkpoint scan, so url_seen's leaf is told apart from cand's Range
    seen = local_ckpt(spark.range(0, 600, 1, 4).select(
        F.concat(F.lit("u"), (F.col("id") * 3)).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), (F.col("id") * 3))).alias("url_hash"),
    ))
    bloom = build_bloom(seen, "url_hash", expected=600)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for thresh in (old_thresh, "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
            fresh = anti_join_seen(cand, seen, bloom)
            nodes = _plan_nodes(fresh)
            assert not [n for n in nodes if n.nodeName() in _PY_EVAL]
            probes = [n for n in nodes if _is_probe_join(n)]
            assert len(probes) == 2
            assert all(_leaf_names(p) == {"Range", "LocalTableScan"} for p in probes)
            # the words stop at the probe joins: rows that carry them on
            # cost several times the probe's CPU
            carriers = {"BroadcastNestedLoopJoin", "BroadcastExchange", "LocalTableScan"}
            assert not [
                n.nodeName() for n in nodes
                if "__filter" in n.simpleString(100) and n.nodeName() not in carriers
            ]
            (anti,) = [n for n in nodes if "LeftAnti" in n.simpleString(100)]
            left, right = anti.children().apply(0), anti.children().apply(1)
            assert any(_is_probe_join(n) for n in _plan_nodes_of(left))
            assert "__filter" not in right.toString()
            key = lambda df: sorted(r[0] for r in df.select("canonical_url").collect())
            assert key(fresh) == key(anti_join_seen(cand, seen, None))
            assert len(key(fresh)) == 1000 - 334
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_probe_value_refuses_an_oversized_filter(spark, monkeypatch):
    """A filter too large for one broadcast value fails when the anti-join
    is built, with the sizes in the message, before any job runs."""
    from mcp_crawl4ai_rag_spark.operators import urlseen as us

    bloom = BloomFilter.sized_for(10_000, 0.01)
    monkeypatch.setattr(us, "MAX_PROBE_BYTES", bloom.words().nbytes - 1)
    cand = spark.range(0, 10).select(
        F.col("id").cast("string").alias("canonical_url"), F.col("id").alias("url_hash")
    )
    with pytest.raises(ValueError, match="broadcast probe value"):
        anti_join_seen(cand, cand, bloom)


def test_dedup_and_pop_job_runs_no_python(spark, monkeypatch):
    """The frontier epoch's bloom-prefiltered anti_join_seen ->
    attach_budgets -> pop_per_host runs in the pop's one checkpoint job,
    and that job's plan holds no Python evaluation: the fold is the only
    Python-touching job of an epoch."""
    import mcp_crawl4ai_rag_spark as pkg
    from mcp_crawl4ai_rag_spark.operators.politeness import attach_budgets, pop_per_host

    def urls(ids):
        u = F.concat(F.lit("https://h"), (F.col("id") % 7), F.lit(".x/p/"), F.col("id"))
        return ids.select(
            u.alias("canonical_url"),
            F.xxhash64(u).alias("url_hash"),
            F.concat(F.lit("h"), (F.col("id") % 7), F.lit(".x")).alias("host"),
            (F.col("id") % 3).cast("int").alias("depth"),
            F.lit(0).alias("priority"),
            F.col("id").alias("seq"),
        )

    frontier = urls(spark.range(0, 3000, 1, 8))
    seen = urls(spark.range(0, 3000, 3, 8)).select("url_hash", "canonical_url")
    bloom = build_bloom(seen, "url_hash", expected=1000)
    checkpointed = []
    real = pkg.local_ckpt

    def spy(df, *a, **kw):
        checkpointed.append(df)
        return real(df, *a, **kw)

    monkeypatch.setattr(pkg, "local_ckpt", spy)
    fresh = anti_join_seen(frontier, seen, bloom)
    popped, deferred = pop_per_host(attach_budgets(fresh, None, None, epoch_seconds=200.0), None)
    (job,) = checkpointed
    for df in (job, popped, deferred):
        assert not [n.nodeName() for n in _plan_nodes(df) if n.nodeName() in _PY_EVAL]
    assert any(_is_probe_join(n) for n in _plan_nodes(job))
    assert popped.count() + deferred.count() == 2000


def test_one_shard_fold_runs_one_wave(spark):
    """A one-shard build folds in at most one task per slot: over an
    8-partition input on the 4-slot session it runs 4 fold tasks (the
    fold coalesced to 16, so it ran all 8), and the filter is unchanged."""
    sc = spark.sparkContext
    df = spark.range(0, 4000, 1, 8).select(F.xxhash64("id").alias("url_hash"))
    group = "one-shard-fold"
    sc.setJobGroup(group, "one-shard bloom fold")
    try:
        bloom = build_bloom(df, "url_hash", expected=4000)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    (job,) = st.getJobIdsForGroup(group)
    tasks = [st.getStageInfo(s).numTasks for s in st.getJobInfo(job).stageIds]
    assert sc.defaultParallelism == 4 and tasks == [4]
    ref = BloomFilter.sized_for(4000)
    ref.add_hashes(np.array([r[0] for r in df.collect()], dtype=np.int64))
    assert np.array_equal(bloom.bits, ref.bits)


def test_cuckoo_insert_contains_delete():
    cf = CuckooFilter(capacity=1000)
    # seeded keys: the outcome must not depend on the process's hash salt
    rng = np.random.default_rng(5)
    xs = [int(x) for x in rng.integers(-(2**63), 2**63 - 1, 500, dtype=np.int64)]
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
    hits = _probed(seen, sb)
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

    seen_h = [r["url_hash"] for r in seen.collect()]
    h = seen_h[:5]
    for x in h:
        assert cf.delete(x)
    assert not cf.contains_hashes(_np.array(h, dtype=_np.int64)).any()
    # deleting a key never takes a neighbour's fingerprint
    assert cf.contains_hashes(_np.array(seen_h[5:], dtype=_np.int64)).all()


def test_sharded_cuckoo_zero_false_negatives_across_shards():
    rng = np.random.default_rng(13)
    xs = np.unique(rng.integers(-(2**62), 2**62, 4000, dtype=np.int64))
    S = 8
    per_cap = 2 * (len(xs) // S + 1)
    sc = CuckooFilter(capacity=S * per_cap, n_shards=S)
    sc.add_hashes(xs)
    # shard s occupies its own bucket slice and holds exactly the table a
    # one-shard filter over the keys with pmod(h, S) == s would hold
    shard_of = np.mod(xs, S)
    nb = sc.n_buckets
    for s in range(S):
        one = CuckooFilter(capacity=per_cap)
        one.add_hashes(xs[shard_of == s])
        assert one.n_buckets == nb
        assert np.array_equal(sc.table[s * nb : (s + 1) * nb], one.table)
    assert sc.contains_hashes(xs).all()  # no false negative crosses a shard
    others = np.setdiff1d(rng.integers(-(2**62), 2**62, 20000, dtype=np.int64), xs)
    assert sc.contains_hashes(others).mean() < 0.01  # 16-bit fp FPP
    # merge re-inserts shard by shard; shard counts must agree
    half_a = CuckooFilter(capacity=S * per_cap, n_shards=S)
    half_b = CuckooFilter(capacity=S * per_cap, n_shards=S)
    half_a.add_hashes(xs[::2])
    half_b.add_hashes(xs[1::2])
    assert half_a.merge(half_b).contains_hashes(xs).all()
    with pytest.raises(AssertionError):
        half_a.merge(CuckooFilter(capacity=S * per_cap))
    # delete routes to the owning shard and un-members the key
    victims = xs[:5]
    for x in victims:
        assert sc.delete(int(x))
    # (fingerprint collisions within a bucket could keep a deleted key
    # "present"; with 16-bit fps at this load that is vanishingly rare)
    assert sc.contains_hashes(victims).sum() <= 1


@pytest.mark.parametrize("n_shards, ref_buckets", [(8, 65536), (6, 131072)])
def test_sharded_cuckoo_fpp_matches_one_shard(n_shards, ref_buckets):
    """Sharding must not cost accuracy: a sharded cuckoo's false-positive
    rate stays within 2x of a one-shard cuckoo with at least as many
    buckets. Shard and in-shard bucket both taken from the low hash bits
    put each shard's keys in 1/S of its primary buckets (S = 8), which
    crowds them into long eviction chains: on this seed that FPP read
    3.8x the one-shard filter's. S = 6 covers a shard count that is not a
    power of two (sharded table 3/4 the reference's size)."""
    rng = np.random.default_rng(13)
    xs = np.unique(rng.integers(-(2**63), 2**63 - 1, 100_000, dtype=np.int64))
    probes = np.setdiff1d(
        rng.integers(-(2**63), 2**63 - 1, 2_000_000, dtype=np.int64), xs
    )
    one = CuckooFilter(capacity=4 * ref_buckets)
    sharded = CuckooFilter(capacity=4 * 65536, n_shards=n_shards)
    assert one.n_buckets == ref_buckets
    assert n_shards * sharded.n_buckets <= ref_buckets
    one.add_hashes(xs)
    sharded.add_hashes(xs)
    assert sharded.contains_hashes(xs).all()
    fpp_one = one.contains_hashes(probes).mean()
    fpp_sharded = sharded.contains_hashes(probes).mean()
    assert fpp_sharded <= 2 * fpp_one, (fpp_sharded, fpp_one)


@pytest.mark.parametrize("n_shards", [8, 6])
def test_sharded_bloom_fpp_matches_one_shard(n_shards):
    """Sharding must not cost accuracy: a sharded bloom sized for the same
    keys and target FPP stays within 2x of the one-shard filter's false-
    positive rate. Within a shard every key shares ``pmod(h, S)``, so the
    low hash bits (which feed the probe stride) are partly fixed there;
    this guards the index derivation against that correlation."""
    rng = np.random.default_rng(23)
    xs = np.unique(rng.integers(-(2**63), 2**63 - 1, 100_000, dtype=np.int64))
    probes = np.setdiff1d(
        rng.integers(-(2**63), 2**63 - 1, 2_000_000, dtype=np.int64), xs
    )
    one = BloomFilter.sized_for(len(xs), 0.01)
    sharded = BloomFilter.sized_for(len(xs), 0.01, n_shards=n_shards)
    one.add_hashes(xs)
    sharded.add_hashes(xs)
    assert sharded.contains_hashes(xs).all()
    fpp_one = one.contains_hashes(probes).mean()
    fpp_sharded = sharded.contains_hashes(probes).mean()
    assert fpp_one < 0.015
    assert fpp_sharded <= 2 * fpp_one, (fpp_sharded, fpp_one)


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
    assert isinstance(sc, CuckooFilter) and sc.n_shards == 8
    # zero false negatives through the distributed build + sharded probe
    misses = _probed(seen, sc).where(~F.col("hit"))
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
        anti_join_seen,
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
        out = anti_join_seen(spark.table("t_frontier_bkt"), spark.table("t_seen_bkt"))
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
    """Above AUTO_SHARD_BYTES build_bloom must return a sharded
    filter (collect O(m) total, the 10^10 shape) instead of collecting one
    full-width bitset per fold — the monolithic collect measurably blows
    spark.driver.maxResultSize at a 1B-URL epoch (the failed 1B rung in
    BENCH/bench_r5_ladder_deep.jsonl). The gate keeps the worst monolithic
    collect at half the default 1 GiB limit, and a bitset of exactly the
    gate size stays monolithic while one byte more shards. Threshold shrunk
    so the switch is exercised at test scale; anti-join output must be
    bit-identical to the exact anti-join either way."""
    from mcp_crawl4ai_rag_spark.operators import urlseen as us

    assert us.AUTO_SHARD_BYTES * us._FOLD_PARTITIONS == 512 * 1024 * 1024

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

    monkeypatch.setattr(us, "AUTO_SHARD_BYTES", bitset_bytes)
    at_gate = us.build_bloom(seen, "url_hash", expected=1500)
    assert at_gate.n_shards == 1 and np.array_equal(at_gate.bits, mono.bits)

    monkeypatch.setattr(us, "AUTO_SHARD_BYTES", bitset_bytes - 1)
    monkeypatch.setattr(us, "_SHARD_TARGET_BYTES", 32)
    auto = us.build_bloom(seen, "url_hash", expected=1500)
    # ~1500-key bitset is ~1.8 kB → ceil(1.8k/32) ≈ 57 shards ≥ the floor of 8
    assert auto.n_shards >= 8
    assert len(auto.bits) == auto.n_shards * auto.bytes_per_shard
    hits = _probed(seen, auto)
    assert hits.where(~F.col("hit")).count() == 0  # zero false negatives
    exact = set(
        r[0] for r in anti_join_seen(cand, seen, None).select("canonical_url").collect()
    )
    with_auto = set(
        r[0]
        for r in anti_join_seen(cand, seen, auto).select("canonical_url").collect()
    )
    assert exact == with_auto and len(exact) == 1500


def test_build_cuckoo_auto_shards_above_driver_budget(spark, monkeypatch):
    """build_cuckoo shares build_bloom's driver-collect gate: a table of
    exactly AUTO_SHARD_BYTES stays one-shard, one byte more shards (a
    one-shard fold collects _FOLD_PARTITIONS full tables). Gate shrunk so
    the switch is exercised at test scale; anti-join output must be
    identical to the exact anti-join either way."""
    from mcp_crawl4ai_rag_spark.operators import urlseen as us

    cand = spark.range(0, 3000, 1, 8).select(
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
    )
    seen = spark.range(0, 1500, 1, 8).select(
        F.concat(F.lit("u"), (F.col("id") * 2)).alias("canonical_url"),
        F.xxhash64(F.concat(F.lit("u"), (F.col("id") * 2))).alias("url_hash"),
    )
    mono = us.build_cuckoo(seen, "url_hash")
    assert mono.n_shards == 1  # below the gate
    table_bytes = mono.table.nbytes

    monkeypatch.setattr(us, "AUTO_SHARD_BYTES", table_bytes)
    at_gate = us.build_cuckoo(seen, "url_hash")
    assert at_gate.n_shards == 1 and at_gate.table.shape == mono.table.shape

    monkeypatch.setattr(us, "AUTO_SHARD_BYTES", table_bytes - 1)
    monkeypatch.setattr(us, "_SHARD_TARGET_BYTES", 1024)
    auto = us.build_cuckoo(seen, "url_hash")
    assert auto.n_shards >= 8
    assert auto.table.shape == (auto.n_shards * auto.n_buckets, 4)
    hits = _probed(seen, auto)
    assert hits.where(~F.col("hit")).count() == 0  # zero false negatives
    exact = set(
        r[0] for r in anti_join_seen(cand, seen, None).select("canonical_url").collect()
    )
    with_auto = set(
        r[0]
        for r in anti_join_seen(cand, seen, auto).select("canonical_url").collect()
    )
    assert exact == with_auto and len(exact) == 1500
