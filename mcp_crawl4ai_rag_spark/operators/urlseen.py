"""URL-seen membership: Bloom or cuckoo pre-filter + exact anti-join.

Replaces the reference's in-memory ``visited: set`` + ``threading.Lock``
(src/crawl4ai_mcp.py:980-1004) with the north_star design: a Bloom filter
over 64-bit hashes of canonical URLs built with vectorized numpy over Arrow
batches, used as a *pre-filter* that routes the definitely-new majority
around the exact anti-join. The anti-join on ``(url_hash, canonical_url)``
remains the authority — the filters have zero false negatives by
construction (property-tested), so the split is lossless. The cuckoo
filter is the deletable alternative (frontier retraction).

Both filters are one type each (:class:`BloomFilter`, :class:`CuckooFilter`)
with an ``n_shards`` field, built by one fold (:func:`_fold`, the only
Python work) and probed inside the JVM: :func:`anti_join_seen` broadcasts
the filter as one ``array<bigint>`` value (``words()``) and tests each
candidate with a Spark SQL expression (``sql_contains``) that computes
exactly what the numpy twin ``contains_hashes`` computes.

Scale notes (10^10 URLs): a monolithic 1%-FPP bloom for 1e10 keys is ~12 GB —
too big to broadcast. Sharding is the build's deployment shape: the filter
is sharded by ``pmod(url_hash, n_shards)`` so each fold task holds one
shard-sized local; ``build_bloom``/``build_cuckoo`` shard on their own
above ``AUTO_SHARD_BYTES``. The probe still broadcasts the whole filter,
so :func:`anti_join_seen` refuses one above ``MAX_PROBE_BYTES`` (512 MiB,
~440M keys at 1% FPP) before any job starts.
Raising FPP for the pre-filter role also helps (a 10% FPP filter is 5x
smaller and still removes 90% of the join traffic). The exact anti-join
stays bucketed on ``url_hash`` so state and probes co-locate.
"""

from __future__ import annotations

import copy
import math
from collections.abc import Callable, Iterator
from dataclasses import dataclass, replace
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import BLOOM_FPP

_LOW32 = 0xFFFFFFFF


def _indices(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(k, n) bit indices via Kirsch-Mitzenmacher double hashing — pure numpy.

    Probe j is (a + j*b) mod m over the hash's two 32-bit halves: a the
    high half, b the low half forced odd. Every term stays below
    (k + 1) * 2^32, so Spark SQL computes the same index without a 64-bit
    overflow under ANSI arithmetic (:meth:`BloomFilter.sql_contains`).
    numpy stays division-free beyond the two base modulos: iterated add +
    conditional subtract (both operands < m, so one subtract suffices).
    Integer division has no SIMD path — the naive 37M-modulo broadcast
    costs ~2.7s for a 5.3M-key build vs ~0.6s here."""
    u = hashes.astype(np.uint64)
    a = u >> np.uint64(32)
    b = (u & np.uint64(_LOW32)) | np.uint64(1)
    mm = np.uint64(m)
    out = np.empty((k, len(u)), dtype=np.uint64)
    np.mod(a, mm, out=out[0])
    step = b % mm
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

    def words(self) -> np.ndarray:
        """``bits`` as little-endian int64 words, zero-padded to a whole
        word: filter bit g is bit ``g & 63`` of word ``g >> 6``."""
        padded = np.zeros(-(-len(self.bits) // 8) * 8, dtype=np.uint8)
        padded[: len(self.bits)] = self.bits
        return padded.view("<i8")

    def sql_contains(self, h: str, words: str) -> Column:
        """:meth:`contains_hashes` as a Spark SQL expression over the bigint
        column ``h`` and the array<bigint> column ``words`` holding
        :meth:`words`: the k positions of :func:`_indices`, offset to the
        hash's shard, each one word gather and one bit test. Parsed from
        one SQL string: built call by call through py4j, the expression
        took ~80 ms of driver time per epoch."""
        a = f"shiftrightunsigned({h}, 32)"
        b = f"(({h} & {_LOW32}L) | 1L)"
        shard = self.bytes_per_shard * 8
        base = f" + pmod({h}, {self.n_shards}) * {shard}L" if self.n_shards > 1 else ""
        terms = []
        for j in range(self.k):
            g = f"(pmod({a} + {b} * {j}, {self.m}L){base})"
            word = f"element_at({words}, cast(shiftright({g}, 6) + 1 AS INT))"
            terms.append(f"getbit({word}, cast({g} & 63 AS INT)) = 1")
        return F.expr(" AND ".join(terms))

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert (self.m, self.k, self.n_shards) == (other.m, other.k, other.n_shards)
        return replace(self, bits=np.bitwise_or(self.bits, other.bits))

    # -- fold surface (see _fold): empty local, payload, driver merge --

    @classmethod
    def _empty(cls, m: int, k: int) -> "BloomFilter":
        return cls(bits=np.zeros((m + 7) // 8, dtype=np.uint8), m=m, k=k)

    def _local_maker(self) -> Callable[[], "BloomFilter"]:
        """Picklable maker of an empty one-shard filter of this shard
        geometry; it carries m and k, never the bitset."""
        return partial(BloomFilter._empty, self.m, self.k)

    def _payload(self) -> bytes:
        return self.bits.tobytes()

    def _merge_payload(self, shard: int, payload: bytes) -> None:
        """OR a one-shard local's bitset into shard ``shard``."""
        bps = self.bytes_per_shard
        self.bits[shard * bps : (shard + 1) * bps] |= np.frombuffer(
            payload, dtype=np.uint8
        )


# ---------------------------------------------------------------------------
# Cuckoo filter — deletable approximate membership (north_star add-on).
# ---------------------------------------------------------------------------

_U64 = 0xFFFFFFFFFFFFFFFF
_ALT_MUL = 0x5BD1E995  # murmur2 multiplier: fingerprint → alt-bucket offset


class CuckooFilter:
    """Bucketed cuckoo filter over int64 hashes (16-bit fingerprints,
    4 slots/bucket), optionally sharded by hash like :class:`BloomFilter`.
    Supports delete — which a Bloom filter cannot — for frontier
    *retraction* (e.g. un-marking URLs whose politeness lease expired).

    ``table`` holds ``n_shards`` tables of ``n_buckets`` buckets end to end:
    hash ``h`` lives only in shard ``pmod(h, n_shards)``. Within a shard its
    bucket comes from bits 16-47 of ``h`` and its fingerprint from bits
    48-63, so neither shares bits with the shard selector's low bits (the
    in-shard bucket ranges over the whole shard for every shard count).
    The alternate bucket flips only in-shard bucket bits, so probe, insert,
    delete and merge are one code path for any shard count, and a probe is
    one numpy gather either way."""

    def __init__(self, capacity: int, n_shards: int = 1):
        n_buckets = 1
        while n_buckets * 4 < capacity // n_shards:
            n_buckets *= 2
        self.n_buckets = max(n_buckets, 2)  # per shard
        self.n_shards = n_shards
        self.table = np.zeros((n_shards * self.n_buckets, 4), dtype=np.uint16)
        self.max_kicks = 500

    def _locate(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(fingerprint, primary bucket into ``table``) per int64 hash."""
        u = hashes.view(np.uint64)
        fp = (u >> np.uint64(48)).astype(np.uint16)
        fp[fp == 0] = 1  # 0 marks an empty slot
        b = ((u >> np.uint64(16)) & np.uint64(self.n_buckets - 1)).astype(np.int64)
        if self.n_shards > 1:
            # numpy's floored mod == Spark pmod for positive modulus
            b += np.mod(hashes, self.n_shards) * self.n_buckets
        return fp, b

    def _locate_one(self, h: int) -> tuple[int, int]:
        fp, b = self._locate(np.array([h & _U64], dtype=np.uint64).view(np.int64))
        return int(fp[0]), int(b[0])

    def _alt_bucket(self, bucket, fp):
        """The other legal bucket of ``fp``: flips in-shard bits only, and
        is an involution, so (b, alt(b)) is the same pair from either end."""
        return bucket ^ ((fp * _ALT_MUL) & (self.n_buckets - 1))

    def _insert_fp(self, bucket: int, fp: int) -> bool:
        """Store ``fp`` in ``bucket`` or its alternate, kicking residents to
        their alternates when both are full. False if the table is full."""
        for b in (bucket, self._alt_bucket(bucket, fp)):
            empty = np.flatnonzero(self.table[b] == 0)
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        # seeded by the in-shard bucket: a shard's layout is the same at
        # any shard index
        seed = ((bucket % self.n_buckets) << 16) | fp
        rng = np.random.Generator(np.random.PCG64(seed))
        b = bucket
        for _ in range(self.max_kicks):
            slot = int(rng.integers(0, 4))
            fp, self.table[b, slot] = int(self.table[b, slot]), fp
            b = self._alt_bucket(b, fp)
            empty = np.flatnonzero(self.table[b] == 0)
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        return False

    def insert(self, h: int) -> bool:
        fp, b = self._locate_one(h)
        return self._insert_fp(b, fp)

    def contains(self, h: int) -> bool:
        fp, b1 = self._locate_one(h)
        return bool(
            (self.table[b1] == fp).any()
            or (self.table[self._alt_bucket(b1, fp)] == fp).any()
        )

    def delete(self, h: int) -> bool:
        fp, b1 = self._locate_one(h)
        for b in (b1, self._alt_bucket(b1, fp)):
            hit = np.flatnonzero(self.table[b] == fp)
            if len(hit):
                self.table[b, hit[0]] = 0
                return True
        return False

    # -- vectorized / distributed surface --

    def add_hashes(self, hashes: np.ndarray) -> None:
        """Insert a hash batch; raises if the table overflows (an overflowed
        cuckoo loses membership → false negatives, which would silently
        break the lossless prefilter contract)."""
        fp, b = self._locate(hashes.astype(np.int64))
        for bucket, f in zip(b.tolist(), fp.tolist()):
            if not self._insert_fp(bucket, f):
                raise RuntimeError(
                    "cuckoo filter overflow — size capacity for the seen-set"
                )

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership: both candidate buckets of every hash in
        one numpy gather — no per-row Python, no per-shard loop."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fp, b1 = self._locate(hashes.astype(np.int64))
        both = np.stack([b1, self._alt_bucket(b1, fp.astype(np.int64))])
        return (self.table[both] == fp[:, None]).any(axis=(0, 2))

    def words(self) -> np.ndarray:
        """``table`` as one int64 word per bucket, slot s in bits
        16s..16s+15."""
        return self.table.astype("<u2", copy=False).view("<i8").ravel()

    def sql_contains(self, h: str, words: str) -> Column:
        """:meth:`contains_hashes` as a Spark SQL expression over the bigint
        column ``h`` and the array<bigint> column ``words`` holding
        :meth:`words`: :meth:`_locate` and :meth:`_alt_bucket` in int64 (no
        term reaches 2^48), then the fingerprint against the four slots of
        both buckets. A zero fingerprint reads as 1, so ``greatest``."""
        mask = self.n_buckets - 1
        fp = f"greatest(shiftrightunsigned({h}, 48), 1L)"
        b1 = (
            f"((shiftrightunsigned({h}, 16) & {mask}L)"
            f" + pmod({h}, {self.n_shards}) * {self.n_buckets}L)"
        )
        b2 = f"({b1} ^ (({fp} * {_ALT_MUL}L) & {mask}L))"
        terms = []
        for b in (b1, b2):
            word = f"element_at({words}, cast({b} + 1 AS INT))"
            terms += [f"(shiftrightunsigned({word}, {16 * s}) & 65535L) = {fp}" for s in range(4)]
        return F.expr(" OR ".join(terms))

    def _reinsert(self, table: np.ndarray, first_bucket: int) -> None:
        """Re-insert ``table``'s occupied slots, its bucket b landing at
        ``first_bucket + b``. Sound because a stored (bucket, fp) pair
        re-inserted at either legal bucket stays findable (alt is an
        involution); raises on overflow rather than drop a member."""
        bs, slots = np.nonzero(table)
        for b, fp in zip((bs + first_bucket).tolist(), table[bs, slots].tolist()):
            if not self._insert_fp(b, fp):
                raise RuntimeError("cuckoo merge overflow")

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Union by fingerprint re-insertion; a fingerprint's two buckets
        share a shard, so each shard merges into its own slice."""
        assert (self.n_buckets, self.n_shards) == (other.n_buckets, other.n_shards)
        out = copy.deepcopy(self)
        out._reinsert(other.table, 0)
        return out

    # -- fold surface (see _fold): empty local, payload, driver merge --

    def _local_maker(self) -> Callable[[], "CuckooFilter"]:
        """Picklable maker of an empty one-shard table of this shard
        geometry; it carries the bucket count, never the table."""
        return partial(CuckooFilter, 4 * self.n_buckets)

    def _payload(self) -> bytes:
        return self.table.tobytes()

    def _merge_payload(self, shard: int, payload: bytes) -> None:
        """Re-insert a one-shard local's fingerprints into shard ``shard``."""
        table = np.frombuffer(payload, dtype=np.uint16).reshape(-1, 4)
        self._reinsert(table, shard * self.n_buckets)


# ---------------------------------------------------------------------------
# Distributed builds: one fold for every filter and shard count
# ---------------------------------------------------------------------------

# Above this size a filter is built sharded: the one-shard fold collects one
# FULL filter per fold task, so the driver receives _FOLD_PARTITIONS × filter
# bytes. The default spark.driver.maxResultSize is 1 GiB; 16 folds × 32 MiB =
# 512 MiB keeps the collect at half of it (at 64 MiB it was 16 × 64 MiB = the
# whole limit; the 1B-URL bloom rung, 399 MB × 16 ≈ 6.4 GB, measurably failed:
# BENCH/bench_r5_ladder_deep.jsonl). The sharded fold keeps the collect O(m)
# TOTAL, at the cost of one narrow repartition of the hashes.
AUTO_SHARD_BYTES = 32 * 1024 * 1024
_SHARD_TARGET_BYTES = 32 * 1024 * 1024
# Fold tasks per one-shard build: each carries a FULL filter, so cost (alloc +
# driver collect) is O(folds × m) while the hashing itself is cheap —
# coalescing to ~16 folds is a ~10x win over folding on 64+ scan partitions.
_FOLD_PARTITIONS = 16


def _auto_shards(nbytes: int) -> int:
    """Shard count for a filter whose one-shard form is ``nbytes``: one up
    to ``AUTO_SHARD_BYTES``, else ~``_SHARD_TARGET_BYTES`` shards (≥ 8)."""
    if nbytes <= AUTO_SHARD_BYTES:
        return 1
    return max(8, -(-nbytes // _SHARD_TARGET_BYTES))


def _fold(
    df: DataFrame, hash_col: str, out: "BloomFilter | CuckooFilter"
) -> "BloomFilter | CuckooFilter":
    """Fill the empty filter ``out`` with ``df[hash_col]`` and return it —
    the one distributed build behind every builder.

    Each task folds its Arrow batches into one local filter per shard it
    sees (made by ``out._local_maker()``, so only shard geometry rides in
    the closure) and yields ``(shard, payload)``; the driver merges each
    payload into that shard of ``out`` (bloom: bitwise OR; cuckoo:
    fingerprint re-insertion). One shard coalesces to at most
    ``_FOLD_PARTITIONS`` tasks and never more than the task slots, so it
    folds in one wave with no shuffle (each extra task only adds a wave and
    one more collected filter). More shards repartition on
    ``pmod(hash, n_shards)`` so each task (mostly) sees one shard,
    allocates shard-sized locals, and the driver collect stays O(filter)
    in total."""
    n_shards = out.n_shards
    hashes = df.select(hash_col)
    if n_shards == 1:
        slots = df.sparkSession.sparkContext.defaultParallelism
        hashes = hashes.coalesce(min(_FOLD_PARTITIONS, slots))
    else:
        hashes = hashes.repartition(
            n_shards, F.pmod(F.col(hash_col), F.lit(n_shards))
        )
    new_local = out._local_maker()

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = {}
        for pdf in batches:
            h = pdf[hash_col].to_numpy(dtype=np.int64)
            shard = np.mod(h, n_shards)  # == the repartition's pmod
            for s in np.unique(shard).tolist():
                if s not in local:
                    local[s] = new_local()
                local[s].add_hashes(h[shard == s])
        for s, filt in local.items():
            yield pd.DataFrame({"shard": [s], "payload": [filt._payload()]})

    schema = "shard int, payload binary"
    for row in hashes.mapInPandas(fold, schema=schema).collect():
        out._merge_payload(row["shard"], row["payload"])
    return out


def build_bloom(
    df: DataFrame,
    hash_col: str,
    expected: int | None = None,
    fpp: float = BLOOM_FPP,
) -> BloomFilter:
    """Distributed bloom build (see :func:`_fold`): one pass, only bitsets
    cross to the driver. Once the bitset exceeds ``AUTO_SHARD_BYTES`` the
    filter is sharded (:func:`build_bloom_sharded`, collect O(m) total);
    either way it is a :class:`BloomFilter`, so callers never pick."""
    if expected is None:
        expected = df.count()
    n_shards = _auto_shards(len(BloomFilter.sized_for(expected, fpp).bits))
    return build_bloom_sharded(df, hash_col, n_shards, expected, fpp)


def build_bloom_sharded(
    df: DataFrame,
    hash_col: str,
    n_shards: int = 8,
    expected: int | None = None,
    fpp: float = BLOOM_FPP,
) -> BloomFilter:
    """Distributed bloom build with ``n_shards`` m/S-bit shards. A
    monolithic 1%-FPP bloom over 1e10 keys is ~12 GB — too big to collect
    from every fold — but each of S=1024 shards is ~12 MB, so every fold
    task allocates shard-sized bitsets and the driver collect stays O(m)
    total. Lossless per shard (same zero-false-negative property as the
    one-shard build — property-tested)."""
    if expected is None:
        expected = df.count()
    return _fold(df, hash_col, BloomFilter.sized_for(expected, fpp, n_shards))


def build_cuckoo(
    df: DataFrame,
    hash_col: str,
    capacity: int | None = None,
) -> CuckooFilter:
    """Distributed cuckoo build (see :func:`_fold`), sharded like
    :func:`build_bloom` once the table exceeds ``AUTO_SHARD_BYTES``.

    Sized at 2x the seen-set by default: cuckoo tables degrade (eviction
    loops) near full occupancy, and an overflow would mean false negatives
    — both build and merge raise instead of degrading silently.

    Probes are fully vectorized (one numpy gather per batch); insertion is
    per-hash inside the Arrow batch because cuckoo eviction chains are
    inherently sequential — construction cost, not query-path cost. The
    bloom remains the default prefilter; the cuckoo buys deletability
    (frontier retraction) at that build premium."""
    if capacity is None:
        capacity = max(df.count() * 2, 8)
    n_shards = _auto_shards(CuckooFilter(capacity).table.nbytes)
    return build_cuckoo_sharded(df, hash_col, n_shards, capacity)


def build_cuckoo_sharded(
    df: DataFrame,
    hash_col: str,
    n_shards: int = 8,
    capacity: int | None = None,
) -> CuckooFilter:
    """Distributed cuckoo build with ``n_shards`` capacity/S tables. At the
    10^10-URL scale a monolithic table is ~40 GB and its driver merge
    re-inserts every fingerprint on one machine; sharded, each fold task
    allocates shard-sized tables and the driver merge is O(capacity/S) per
    shard. Lossless (build and merge raise on overflow, so zero false
    negatives — property-tested across shards)."""
    if capacity is None:
        capacity = max(df.count() * 2, 8)
    return _fold(df, hash_col, CuckooFilter(capacity, n_shards))


# The probe ships the filter to every task as ONE broadcast row, and a
# broadcast is collected through the driver (spark.driver.maxResultSize,
# 1 GiB by default): the same 512 MiB budget as the fold's worst collect.
MAX_PROBE_BYTES = 512 * 1024 * 1024


def _probe_value(spark, filt: "BloomFilter | CuckooFilter") -> DataFrame:
    """The one-row broadcast frame a probe joins: ``filt.words()`` as
    ``__filter`` array<bigint>, plus a constant ``__maybe_seen`` = true
    that every row passing the probe picks up. It reaches the JVM as one
    Arrow batch, and the probe reads the words in place: a literal array
    would be deserialized per task."""
    import pyarrow as pa

    words = filt.words()
    if words.nbytes > MAX_PROBE_BYTES:
        raise ValueError(
            f"membership filter of {words.nbytes} bytes exceeds the "
            f"{MAX_PROBE_BYTES}-byte broadcast probe value; raise its fpp "
            "or anti-join without a prefilter"
        )
    col = pa.ListArray.from_arrays(pa.array([0, len(words)], pa.int32()), pa.array(words))
    row = pa.table({"__filter": col, "__maybe_seen": pa.array([True])})
    return F.broadcast(spark.createDataFrame(row))


def anti_join_seen(
    candidates: DataFrame,
    url_seen: DataFrame,
    bloom: "BloomFilter | CuckooFilter | None" = None,
) -> DataFrame:
    """Rows of ``candidates`` whose (url_hash, canonical_url) is NOT in
    ``url_seen`` — the J1/J2 visited-membership kernel (SURVEY.md §2.3).

    With an approximate-membership prefilter over url_seen's hashes (bloom
    or cuckoo, any shard count), the definitely-new rows skip the exact
    anti-join entirely; only maybe-seen rows join. Lossless: none of the
    filters has false negatives (the cuckoo build raises on overflow to
    guarantee it).

    The probe runs in the JVM: each branch joins the candidates to the one
    broadcast filter row on the filter's ``sql_contains`` expression (or
    its negation), so url_seen's side carries no probe. The maybe-seen
    rows bring the row's ``__maybe_seen`` into the exact anti-join's
    condition. Without a condition column from the probe row, Catalyst
    pushes the LeftAnti below the probe join, so every candidate would
    enter the anti-join (and its shuffle under a sort-merge join). Nothing
    above a probe join reads the filter words: a maybe-seen branch that
    did (a tag column computed from them) took 4x the executor CPU, 628
    against 148 ms over 60k candidates.
    """
    if bloom is None:
        return candidates.join(
            url_seen.select("url_hash", "canonical_url"),
            on=["url_hash", "canonical_url"],
            how="left_anti",
        )
    seen = url_seen.select(
        F.col("url_hash").alias("__seen_hash"),
        F.col("canonical_url").alias("__seen_url"),
    )
    same = (F.col("url_hash") == F.col("__seen_hash")) & (
        F.col("canonical_url") == F.col("__seen_url")
    )
    probed = candidates.crossJoin(_probe_value(candidates.sparkSession, bloom))
    hit = bloom.sql_contains("url_hash", "__filter")
    definitely_new = probed.where(~hit).select(*candidates.columns)
    survivors = (
        probed.where(hit)
        .drop("__filter")
        .join(seen, same & F.col("__maybe_seen"), "left_anti")
        .select(*candidates.columns)
    )
    return definitely_new.unionByName(survivors)


# ---------------------------------------------------------------------------
# Bucketed layout: the shuffle-free exact anti-join (10^10-row deployment)
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Persist a frontier/url_seen-shaped table bucketed AND sorted on
    (url_hash, canonical_url) — the layout that makes the exact anti-join
    shuffle-free: :func:`anti_join_seen` over two such tables (no filter)
    gets both sides hash-clustered on the join keys, so the sort-merge join
    needs no Exchange (asserted in tests). At 10^10 rows the
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
