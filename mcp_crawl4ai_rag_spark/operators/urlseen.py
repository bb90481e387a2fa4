"""URL-seen membership: Bloom pre-filter + exact anti-join, cuckoo add-on.

Replaces the reference's in-memory ``visited: set`` + ``threading.Lock``
(src/crawl4ai_mcp.py:980-1004) with the north_star design: a Bloom filter
over 64-bit hashes of canonical URLs built with vectorized numpy over Arrow
batches, used as a *pre-filter* that routes the definitely-new majority
around the exact anti-join. The anti-join on ``(url_hash, canonical_url)``
remains the authority — the Bloom filter has zero false negatives by
construction (property-tested), so the split is lossless.

Scale notes (10^10 URLs): a monolithic 1%-FPP bloom for 1e10 keys is ~12 GB —
too big to broadcast. :func:`build_bloom_sharded` is the deployment shape:
the bitset is sharded by ``pmod(url_hash, n_shards)`` so each fold task
holds one m/S-bit shard (``BloomFilter(n_shards=S)``).
Raising FPP for the pre-filter role also helps (a 10% FPP filter is 5x
smaller and still removes 90% of the join traffic). The exact anti-join
stays bucketed on ``url_hash`` so state and probes co-locate.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..config import BLOOM_FPP

_MIX = np.uint64(0x9E3779B97F4A7C15)  # splitmix64 increment for h2 derivation


def _indices(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(k, n) bit indices via Kirsch-Mitzenmacher double hashing — pure numpy.

    Division-free beyond the two base modulos: probe j is (h1 + j*h2) mod m
    computed by iterated add + conditional subtract (both operands < m, so
    one subtract suffices). Integer division has no SIMD path — the naive
    37M-modulo broadcast costs ~2.7s for a 5.3M-key build vs ~0.6s here."""
    h1 = hashes.astype(np.uint64)
    h2 = h1 * _MIX
    h2 = (h2 ^ (h2 >> np.uint64(31))) | np.uint64(1)  # odd → full period
    mm = np.uint64(m)
    out = np.empty((k, len(h1)), dtype=np.uint64)
    np.mod(h1, mm, out=out[0])
    step = h2 % mm
    for j in range(1, k):
        np.add(out[j - 1], step, out=out[j])
        out[j][out[j] >= mm] -= mm
    return out.astype(np.int64)


@dataclass
class BloomFilter:
    """Bitset bloom over int64 hashes, optionally sharded by hash.

    With ``n_shards > 1`` the filter is ``n_shards`` m-bit shards laid end
    to end in ``bits``: hash ``h`` lives only in shard ``pmod(h, n_shards)``
    (the 10^10-key deployment shape, see :func:`build_bloom_sharded`). A
    probe is one fancy-index gather over ``bits`` either way, so a
    sharded probe costs what a monolithic one does."""

    bits: np.ndarray  # uint8, n_shards packed m-bit shards end to end
    m: int  # bits per shard
    k: int
    n_shards: int = 1

    @classmethod
    def sized_for(
        cls, n_items: int, fpp: float = BLOOM_FPP, n_shards: int = 1
    ) -> "BloomFilter":
        # a shard holds ~1/n_shards of the keys (+1 covers the remainder)
        n = max(n_items if n_shards == 1 else n_items // n_shards + 1, 1)
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        bits = np.zeros(n_shards * ((m + 7) // 8), dtype=np.uint8)
        return cls(bits=bits, m=m, k=k, n_shards=n_shards)

    @property
    def bytes_per_shard(self) -> int:
        return (self.m + 7) // 8

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        """(k, n) bit positions into ``bits``: the double-hash probes within
        the shard, offset to the hash's shard when sharded."""
        idx = _indices(hashes, self.m, self.k)
        if self.n_shards > 1:
            # numpy's floored mod == Spark pmod for positive modulus
            shard = np.mod(hashes.astype(np.int64), self.n_shards)
            idx += shard * (self.bytes_per_shard * 8)  # broadcasts over k
        return idx

    def add_hashes(self, hashes: np.ndarray) -> None:
        # np.bitwise_or.at is an unbuffered scatter and turns superlinear past
        # ~1M probes (measured 0.12s for 333k hashes but 8.5s for 5.3M — 4x
        # per-op). For big batches, scatter plain boolean stores into an
        # unpacked bit array (duplicate stores are benign) and OR the packed
        # result in; below the crossover the direct scatter is cheaper than
        # the m-bit unpack. The unpack is O(m) MEMORY (one bool byte per
        # bit: a 10^10-bit bloom would allocate ~10 GB per call), so it is
        # gated on the filter size staying proportional to the batch; huge
        # sparse filters take the sort+reduceat path instead — O(n log n)
        # time, O(n) memory, same resulting bitset (pinned in tests).
        idx = self._positions(hashes).ravel()
        if idx.size >= 1 << 20:
            m_bool_bytes = len(self.bits) * 8
            if m_bool_bytes <= max(1 << 26, idx.size << 4):
                unpacked = np.zeros(m_bool_bytes, dtype=bool)
                unpacked[idx] = True
                self.bits |= np.packbits(unpacked, bitorder="little")
            else:
                byte_idx = (idx >> 3).astype(np.int64)
                masks = np.uint8(1) << (idx & 7).astype(np.uint8)
                order = np.argsort(byte_idx, kind="stable")
                b, mk = byte_idx[order], masks[order]
                starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
                ub = b[starts]  # unique byte indices → fancy |= is safe
                self.bits[ub] |= np.bitwise_or.reduceat(mk, starts)
        else:
            np.bitwise_or.at(
                self.bits, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8)
            )

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._positions(hashes)  # (k, n)
        bit = (self.bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return bit.all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert (self.m, self.k, self.n_shards) == (other.m, other.k, other.n_shards)
        return replace(self, bits=np.bitwise_or(self.bits, other.bits))


# Above this bitset size build_bloom() delegates to the sharded build: the
# monolithic fold collects one FULL bitset per fold task, so the driver
# receives _FOLD_PARTITIONS × bitset bytes. The default
# spark.driver.maxResultSize is 1 GiB; 16 folds × 32 MiB = 512 MiB keeps the
# collect at half of it (at 64 MiB it was 16 × 64 MiB = the whole limit; the
# 1B-URL rung, 399 MB × 16 ≈ 6.4 GB, measurably failed:
# BENCH/bench_r5_ladder_deep.jsonl). The sharded build keeps the collect O(m)
# TOTAL, at the cost of one narrow repartition of (hash, shard) pairs.
BLOOM_AUTO_SHARD_BYTES = 32 * 1024 * 1024
_BLOOM_SHARD_TARGET_BYTES = 32 * 1024 * 1024
# Fold tasks per filter build: each carries a FULL filter, so cost (alloc +
# driver collect) is O(folds × m) while the hashing itself is cheap —
# coalescing to ~16 folds is a ~10x win over folding on 64+ scan partitions.
_FOLD_PARTITIONS = 16


def build_bloom(
    df: DataFrame,
    hash_col: str,
    expected: int | None = None,
    fpp: float = BLOOM_FPP,
) -> BloomFilter:
    """Distributed build: each of ``_FOLD_PARTITIONS`` tasks folds its Arrow
    batches into a local bitset (mapInPandas), the driver ORs the bitsets.
    One pass, no shuffle; only bitsets cross to the driver. Once the bitset
    exceeds ``BLOOM_AUTO_SHARD_BYTES`` the build delegates to
    :func:`build_bloom_sharded` (collect O(m) total across shard-sized
    bitsets); both return a :class:`BloomFilter`, so callers never pick."""
    if expected is None:
        expected = df.count()
    out = BloomFilter.sized_for(expected, fpp)
    m, k = out.m, out.k
    if len(out.bits) > BLOOM_AUTO_SHARD_BYTES:
        n_shards = max(8, -(-len(out.bits) // _BLOOM_SHARD_TARGET_BYTES))
        return build_bloom_sharded(
            df, hash_col, n_shards=n_shards, expected=expected, fpp=fpp
        )

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = BloomFilter(bits=np.zeros((m + 7) // 8, dtype=np.uint8), m=m, k=k)
        seen_any = False
        for pdf in batches:
            if len(pdf):
                seen_any = True
                local.add_hashes(pdf[hash_col].to_numpy(dtype=np.int64))
        if seen_any:
            yield pd.DataFrame({"bits": [local.bits.tobytes()]})

    folds = df.select(hash_col).coalesce(_FOLD_PARTITIONS)
    for row in folds.mapInPandas(fold, schema="bits binary").collect():
        out.bits |= np.frombuffer(row["bits"], dtype=np.uint8)
    return out


def build_bloom_sharded(
    df: DataFrame,
    hash_col: str,
    n_shards: int = 8,
    expected: int | None = None,
    fpp: float = BLOOM_FPP,
) -> BloomFilter:
    """Distributed sharded build: repartition the seen-set on
    ``pmod(hash, n_shards)`` so each task sees (mostly) one shard, fold each
    shard's hashes into its own m-bit bitset, OR each into its shard's slice
    of the result on the driver. A monolithic 1%-FPP bloom over 1e10 keys is
    ~12 GB — too big to collect from every fold — but each of S=1024
    shards is ~12 MB, so every fold task allocates shard-sized bitsets and
    the driver collect stays O(m) total. Lossless per shard (same
    zero-false-negative property as the monolithic build — property-tested)."""
    if expected is None:
        expected = df.count()
    out = BloomFilter.sized_for(expected, fpp, n_shards)
    m, k, bps = out.m, out.k, out.bytes_per_shard

    sharded = df.select(
        F.col(hash_col).alias("h"),
        F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int").alias("__shard"),
    ).repartition(n_shards, "__shard")

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local: dict[int, BloomFilter] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["h"].to_numpy(dtype=np.int64)
            sh = pdf["__shard"].to_numpy()  # one conversion per batch
            for s in np.unique(sh):
                bf = local.setdefault(
                    int(s),
                    BloomFilter(bits=np.zeros(bps, dtype=np.uint8), m=m, k=k),
                )
                bf.add_hashes(h[sh == s])
        for s, bf in local.items():
            yield pd.DataFrame({"shard": [s], "bits": [bf.bits.tobytes()]})

    for row in sharded.mapInPandas(fold, schema="shard int, bits binary").collect():
        s = row["shard"]
        out.bits[s * bps : (s + 1) * bps] |= np.frombuffer(row["bits"], dtype=np.uint8)
    return out


def maybe_contains(filt, hash_col: Column) -> Column:
    """Arrow-batched membership probe column for any filter with
    ``contains_hashes`` (bloom, sharded or not; cuckoo, sharded or not).
    The filter rides in the UDF closure, so it is serialized once per task
    and each Arrow batch probes it in place — no per-batch copy."""

    @F.pandas_udf(BooleanType())
    def _probe(h: pd.Series) -> pd.Series:
        return pd.Series(filt.contains_hashes(h.to_numpy(dtype=np.int64)))

    return _probe(hash_col)


def anti_join_seen(
    candidates: DataFrame,
    url_seen: DataFrame,
    bloom: "BloomFilter | CuckooFilter | ShardedCuckoo | None" = None,
) -> DataFrame:
    """Rows of ``candidates`` whose (url_hash, canonical_url) is NOT in
    ``url_seen`` — the J1/J2 visited-membership kernel (SURVEY.md §2.3).

    With an approximate-membership prefilter over url_seen's hashes (bloom
    or cuckoo, sharded or not), the definitely-new rows skip the shuffle
    entirely; only maybe-seen rows join. Lossless: none of the filters has
    false negatives (the cuckoo build raises on overflow to guarantee it).
    """
    if bloom is None:
        return candidates.join(
            url_seen.select("url_hash", "canonical_url"),
            on=["url_hash", "canonical_url"],
            how="left_anti",
        )
    flagged = candidates.withColumn(
        "__maybe_seen", maybe_contains(bloom, F.col("url_hash"))
    )
    definitely_new = flagged.where(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = flagged.where(F.col("__maybe_seen")).drop("__maybe_seen")
    survivors = maybe.join(
        url_seen.select("url_hash", "canonical_url"),
        on=["url_hash", "canonical_url"],
        how="left_anti",
    )
    return definitely_new.unionByName(survivors)


def build_cuckoo(
    df: DataFrame,
    hash_col: str,
    capacity: int | None = None,
) -> "CuckooFilter":
    """Distributed cuckoo build, same shape as :func:`build_bloom`: each
    fold task inserts its Arrow batches into a local table, the driver
    unions the tables by fingerprint re-insertion. All tables share one
    bucket count so (bucket, alt) geometry is identical everywhere.

    Sized at 2x the seen-set by default: cuckoo tables degrade (eviction
    loops) near full occupancy, and an overflow would mean false negatives
    — both build and merge raise instead of degrading silently.

    Probes are fully vectorized (two numpy gathers per batch); insertion is
    per-hash inside the Arrow batch because cuckoo eviction chains are
    inherently sequential — construction cost, not query-path cost. The
    bloom remains the default prefilter; the cuckoo buys deletability
    (frontier retraction) at that build premium."""
    if capacity is None:
        capacity = max(df.count() * 2, 8)
    proto = CuckooFilter(capacity=capacity)
    n_buckets = proto.n_buckets

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = CuckooFilter(capacity=n_buckets * 4)
        seen_any = False
        for pdf in batches:
            if len(pdf):
                seen_any = True
                local.add_hashes(pdf[hash_col].to_numpy(dtype=np.int64))
        if seen_any:
            yield pd.DataFrame({"table": [local.table.tobytes()]})

    folds = df.select(hash_col).coalesce(_FOLD_PARTITIONS)
    parts = folds.mapInPandas(fold, schema="table binary").collect()
    out = proto
    for row in parts:
        other = CuckooFilter(capacity=n_buckets * 4)
        other.table = np.frombuffer(row["table"], dtype=np.uint16).reshape(
            n_buckets, 4
        ).copy()
        out = out.merge(other)
    return out


@dataclass
class ShardedCuckoo:
    """Hash-space-sharded cuckoo: shard ``s`` holds only hashes with
    ``pmod(hash, n_shards) == s``, each in its own capacity/S table.

    Same deployment argument as :func:`build_bloom_sharded`: at the 10^10-URL
    north-rule scale a monolithic cuckoo table is ~40 GB and the
    :func:`build_cuckoo` driver merge re-inserts every fingerprint on one
    machine. Sharding makes each fold task allocate exactly one
    shard-sized table and keeps the driver merge O(capacity/S) per shard
    — the same fix build_bloom_sharded applied to the bloom in round 1.
    Delete (the reason the cuckoo exists) routes to one shard."""

    shards: list[CuckooFilter]
    n_shards: int

    def _shard_of(self, hashes: np.ndarray) -> np.ndarray:
        # numpy's floored mod == Spark pmod for positive modulus
        return np.mod(hashes.astype(np.int64), self.n_shards)

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        h = hashes.astype(np.int64)
        shard_of = self._shard_of(h)
        out = np.zeros(len(h), dtype=bool)
        for s in np.unique(shard_of):
            mask = shard_of == s
            out[mask] = self.shards[int(s)].contains_hashes(h[mask])
        return out

    def delete(self, h: int) -> bool:
        return self.shards[int(np.mod(np.int64(h), self.n_shards))].delete(h)


def build_cuckoo_sharded(
    df: DataFrame,
    hash_col: str,
    n_shards: int = 8,
    capacity: int | None = None,
) -> "ShardedCuckoo":
    """Distributed sharded cuckoo build, mirror of
    :func:`build_bloom_sharded`: repartition the seen-set on
    ``pmod(hash, n_shards)`` so each task sees (mostly) one shard, insert
    each shard's hashes into its own capacity/S table, merge same-shard
    tables on the driver by fingerprint re-insertion. Lossless per shard
    (build and merge raise on overflow, so zero false negatives —
    property-tested across shards)."""
    if capacity is None:
        capacity = max(df.count() * 2, 8)
    per_shard = max(capacity // n_shards, 8)
    proto = CuckooFilter(capacity=per_shard)
    n_buckets = proto.n_buckets

    sharded = df.select(
        F.col(hash_col).alias("h"),
        F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int").alias("__shard"),
    ).repartition(n_shards, "__shard")

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local: dict[int, CuckooFilter] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["h"].to_numpy(dtype=np.int64)
            sh = pdf["__shard"].to_numpy()
            for s in np.unique(sh):
                cf = local.setdefault(int(s), CuckooFilter(capacity=n_buckets * 4))
                cf.add_hashes(h[sh == s])
        for s, cf in local.items():
            yield pd.DataFrame({"shard": [s], "table": [cf.table.tobytes()]})

    parts = sharded.mapInPandas(fold, schema="shard int, table binary").collect()
    shards = [CuckooFilter(capacity=n_buckets * 4) for _ in range(n_shards)]
    for row in parts:
        other = CuckooFilter(capacity=n_buckets * 4)
        other.table = (
            np.frombuffer(row["table"], dtype=np.uint16)
            .reshape(n_buckets, 4)
            .copy()
        )
        shards[row["shard"]] = shards[row["shard"]].merge(other)
    return ShardedCuckoo(shards=shards, n_shards=n_shards)


# ---------------------------------------------------------------------------
# Cuckoo filter — deletable approximate membership (north_star add-on).
# ---------------------------------------------------------------------------


class CuckooFilter:
    """Bucketed cuckoo filter over int64 hashes (16-bit fingerprints,
    4 slots/bucket). Supports delete — which a Bloom filter cannot — for
    frontier *retraction* (e.g. un-marking URLs whose politeness lease
    expired). numpy storage; per-partition instances merge by re-insertion."""

    def __init__(self, capacity: int):
        n_buckets = 1
        while n_buckets * 4 < capacity:
            n_buckets *= 2
        self.n_buckets = max(n_buckets, 2)
        self.table = np.zeros((self.n_buckets, 4), dtype=np.uint16)
        self.max_kicks = 500

    def _fp_and_bucket(self, h: int) -> tuple[int, int]:
        h = h & 0xFFFFFFFFFFFFFFFF
        fp = (h >> 48) & 0xFFFF
        fp = fp if fp != 0 else 1
        return fp, (h & (self.n_buckets - 1))

    def _alt_bucket(self, bucket: int, fp: int) -> int:
        return (bucket ^ (fp * 0x5BD1E995)) & (self.n_buckets - 1)

    def insert(self, h: int) -> bool:
        fp, b1 = self._fp_and_bucket(h)
        for b in (b1, self._alt_bucket(b1, fp)):
            empty = np.where(self.table[b] == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        # evict loop
        rng = np.random.Generator(np.random.PCG64(h & 0xFFFFFFFF))
        b = b1
        for _ in range(self.max_kicks):
            slot = int(rng.integers(0, 4))
            fp, self.table[b, slot] = int(self.table[b, slot]), fp
            b = self._alt_bucket(b, fp)
            empty = np.where(self.table[b] == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        return False  # full

    def contains(self, h: int) -> bool:
        fp, b1 = self._fp_and_bucket(h)
        return bool(
            (self.table[b1] == fp).any()
            or (self.table[self._alt_bucket(b1, fp)] == fp).any()
        )

    # -- vectorized / distributed surface (north_star: Arrow-batched probes) --

    def add_hashes(self, hashes: np.ndarray) -> None:
        """Insert a hash batch; raises if the table overflows (an overflowed
        cuckoo loses membership → false negatives, which would silently
        break the lossless prefilter contract)."""
        for h in hashes.astype(np.uint64).tolist():
            if not self.insert(int(h)):
                raise RuntimeError(
                    "cuckoo filter overflow — size capacity for the seen-set"
                )

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership: both candidate buckets checked with one
        numpy gather each — no per-row Python."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        h = hashes.astype(np.uint64)
        fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1
        b1 = (h & np.uint64(self.n_buckets - 1)).astype(np.int64)
        alt = (
            b1 ^ (fp.astype(np.int64) * 0x5BD1E995)
        ) & (self.n_buckets - 1)
        hit1 = (self.table[b1] == fp[:, None]).any(axis=1)
        hit2 = (self.table[alt] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Union by re-inserting the other table's occupied slots. Sound
        because a fingerprint's two legal buckets are (b, alt(b, fp)) and
        alt is an involution — a stored (bucket, fp) pair re-inserted at
        either legal bucket stays findable by contains()."""
        assert self.n_buckets == other.n_buckets
        out = CuckooFilter(capacity=self.n_buckets * 4)
        out.table = self.table.copy()
        bs, slots = np.nonzero(other.table)  # iterate occupied slots only
        for b, sl in zip(bs.tolist(), slots.tolist()):
            if not out._insert_fp(int(b), int(other.table[b, sl])):
                raise RuntimeError("cuckoo merge overflow")
        return out

    def _insert_fp(self, bucket: int, fp: int) -> bool:
        for b in (bucket, self._alt_bucket(bucket, fp)):
            empty = np.where(self.table[b] == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        rng = np.random.Generator(np.random.PCG64((bucket << 16) | fp))
        b = bucket
        for _ in range(self.max_kicks):
            slot = int(rng.integers(0, 4))
            fp, self.table[b, slot] = int(self.table[b, slot]), fp
            b = self._alt_bucket(b, fp)
            empty = np.where(self.table[b] == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        return False

    def delete(self, h: int) -> bool:
        fp, b1 = self._fp_and_bucket(h)
        for b in (b1, self._alt_bucket(b1, fp)):
            hit = np.where(self.table[b] == fp)[0]
            if len(hit):
                self.table[b, hit[0]] = 0
                return True
        return False


# ---------------------------------------------------------------------------
# Bucketed layout: the shuffle-free exact anti-join (10^10-row deployment)
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Persist a frontier/url_seen-shaped table bucketed AND sorted on
    (url_hash, canonical_url) — the layout that makes the exact anti-join
    shuffle-free: both sides arrive hash-clustered on the join keys, so the
    sort-merge join needs no Exchange (asserted in tests). At 10^10 rows the
    anti-join shuffle is the single biggest data movement in an epoch; the
    bucketed layout removes it entirely as long as frontier and seen share
    one bucket count (Iceberg: a shared bucket partition transform)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, "url_hash", "canonical_url")
        .sortBy("url_hash", "canonical_url")
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_anti_join_seen(spark, frontier_table: str, seen_table: str) -> DataFrame:
    """J1 over two bucketed tables: candidates not present in the seen set,
    with zero shuffle on either side."""
    return spark.table(frontier_table).join(
        spark.table(seen_table).select("url_hash", "canonical_url"),
        on=["url_hash", "canonical_url"],
        how="left_anti",
    )
