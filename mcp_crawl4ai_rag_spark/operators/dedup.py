"""Document deduplication for training-data pipelines.

Exact (fingerprint group-by), MinHash + LSH banding (near-dup candidate
generation at scale), and SimHash (hamming-ball near-dup with pigeonhole
banding). No counterpart in the reference (it dedups only whole URLs,
src/crawl4ai_mcp.py:980-1004); these are the SURVEY.md training-data
first-class additions.

Scale shape
-----------
- MinHash signatures: one hash-aggregate over the exploded shingle stream —
  map-side combine makes the shuffle carry only (doc, 16×min) partials, not
  shingles. Banding turns the quadratic all-pairs problem into an equi-join
  on (band_idx, band_key): at 10^9 docs the join shuffles only band buckets,
  and AQE's skew split handles pathological buckets (e.g. boilerplate docs).
- SimHash pairs: pigeonhole banding — with the 32-bit hash cut into 4 chunks
  of 8 bits, any pair at hamming distance ≤ 3 must agree on ≥ 1 whole chunk,
  so candidates come from 4 equi-joins instead of a cross join. Verification
  (popcount of xor) runs only on candidates.

Hashes are md5-derived (functions/hashing.py) so an independent ANSI-SQL
oracle reproduces every value bit-for-bit — the DuckDB twins live in
``__spark_entry__.py``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import local_ckpt

from ..functions.hashing import md5int64
from ..functions.text import fingerprint_expr, word_shingles_expr, words_expr

MINHASH_PERMS = 16
LSH_BANDS = 4
LSH_ROWS_PER_BAND = 4
SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4  # 8 bits each; pigeonhole-safe for max_hamming <= 3


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fingerprint, n_docs, canonical_id): one row per distinct normalized
    content; ``canonical_id`` = min id of the group (the kept copy)."""
    return (
        docs.select(
            F.col(id_col), fingerprint_expr(F.col(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


MINHASH_MOD = 1 << 56  # md5int56 range; h1 + 15*h2 < 2^60, overflow-safe


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = MINHASH_PERMS,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, m0..m{P-1}): per-document MinHash signature over distinct k-word
    shingles.

    Permutation p is the Kirsch-Mitzenmacher combination
    ``(h1 + p*h2) mod 2^56`` of TWO md5 draws per shingle
    (md5int56('mhA:'+s), md5int56('mhB:'+s)) — the standard double-hashing
    construction. vs one salted md5 per permutation this cuts the dominant
    cost (P md5s per exploded shingle row) to 2 regardless of P — measured
    ~4x on the signature stage at sf0.1 — while every value stays exactly
    reproducible in SQL/Python (56-bit operands keep h1 + 15*h2 below 2^60,
    so no engine overflows)."""
    from ..functions.hashing import md5int56

    if num_perms > 128:
        # KM combination h1 + p*h2 with 56-bit operands: p*h2 crosses
        # 2^63 around p=128, and a wrapped negative breaks the exact
        # cross-engine reproducibility the construction exists for
        raise ValueError(
            f"num_perms must be <= 128 (got {num_perms}): h1 + p*h2 "
            "overflows int64 past that, breaking oracle reproducibility"
        )
    shingles = docs.select(
        F.col(id_col),
        F.explode(word_shingles_expr(F.col(text_col), shingle_k)).alias("shingle"),
    )
    hashed = shingles.select(
        F.col(id_col),
        md5int56(F.concat(F.lit("mhA:"), F.col("shingle"))).alias("__h1"),
        md5int56(F.concat(F.lit("mhB:"), F.col("shingle"))).alias("__h2"),
    )
    aggs = [
        F.min(
            (F.col("__h1") + F.lit(p) * F.col("__h2")) % F.lit(MINHASH_MOD)
        ).alias(f"m{p}")
        for p in range(num_perms)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_band_keys(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS_PER_BAND,
) -> DataFrame:
    """(id, band_idx, band_key): one row per (doc, band); band_key is the md5
    of the band's signature slice — collision ⇒ the slice matches exactly."""
    entries = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("band")
    ).select(id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key"))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    shingle_k: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """(id_a, id_b, jaccard): candidate near-dup pairs from LSH banding,
    verified with the exact shingle-set Jaccard (computed only on candidates).
    id_a < id_b; jaccard rounded to 4dp for cross-engine comparison."""
    rows_per_band = num_perms // bands
    # signatures are one compact row per doc — materialize them so the band
    # self-join below doesn't recompute the whole shingle+hash pipeline twice
    sigs = minhash_signatures(docs, text_col, id_col, num_perms, shingle_k)
    sigs = local_ckpt(sigs)
    bk = lsh_band_keys(sigs, id_col, bands, rows_per_band)

    left = bk.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_key"
    )
    right = bk.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_key"
    )
    cand = (
        left.join(right, on=["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    sets = local_ckpt(  # reused by both sides of the pair join
        docs.select(
            F.col(id_col), word_shingles_expr(F.col(text_col), shingle_k).alias("sh")
        )
    )
    out = (
        cand.join(sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )
    if min_jaccard > 0.0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


def minhash_write_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    shingle_k: int = 3,
    mode: str = "overwrite",
) -> None:
    """Persist the LSH band index (id, band_idx, band_key) for a corpus.

    The production shape for a growing corpus: signatures are computed ONCE
    per document ever; each day's increment band-joins against this table
    and then appends its own bands (``mode='append'``). Partitioned by
    band_idx so a band-restricted probe prunes at the parquet layer."""
    rows_per_band = num_perms // bands
    sigs = minhash_signatures(docs, text_col, id_col, num_perms, shingle_k)
    bk = lsh_band_keys(sigs, id_col, bands, rows_per_band)
    bk.write.mode(mode).partitionBy("band_idx").parquet(path)


def minhash_pairs_incremental(
    spark,
    index_path: str,
    old_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    shingle_k: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """(id_a=old, id_b=new, jaccard): near-dup pairs BETWEEN the existing
    corpus (via its persisted band index — signatures never recomputed) and
    an increment batch. Within-increment pairs come from the ordinary
    ``minhash_lsh_pairs(new_docs)``; a full ingest runs both and then
    appends the increment's bands via :func:`minhash_write_index`.

    Scale shape: the increment's bands are small → Spark broadcasts them
    against the index scan; verification joins fetch shingle sets only for
    candidate ids (semi-join pushdown into the corpus scan)."""
    rows_per_band = num_perms // bands
    new_sigs = minhash_signatures(new_docs, text_col, id_col, num_perms, shingle_k)
    new_bands = lsh_band_keys(new_sigs, id_col, bands, rows_per_band)
    index = spark.read.parquet(index_path)

    cand = (
        index.select(
            F.col(id_col).alias("id_a"), "band_idx", "band_key"
        )
        .join(
            new_bands.select(
                F.col(id_col).alias("id_b"), "band_idx", "band_key"
            ),
            on=["band_idx", "band_key"],
        )
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # restrict the old corpus to candidate ids BEFORE shingling: the whole
    # point of the persisted index is that an increment never recomputes
    # full-corpus text kernels (a semi-join the optimizer cannot derive
    # from the inner join below on its own). cand is read twice (id
    # pruning + the verify join) — pin it or the band join re-runs
    cand = local_ckpt(cand)
    cand_ids = cand.select(F.col("id_a").alias(id_col)).distinct()
    old_sets = (
        old_docs.join(cand_ids, id_col, "left_semi")
        .select(
            F.col(id_col).alias("id_a"),
            word_shingles_expr(F.col(text_col), shingle_k).alias("sh_a"),
        )
    )
    new_sets = new_docs.select(
        F.col(id_col).alias("id_b"),
        word_shingles_expr(F.col(text_col), shingle_k).alias("sh_b"),
    )
    out = (
        cand.join(old_sets, "id_a")
        .join(new_sets, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )
    if min_jaccard > 0.0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


def repeated_spans(
    docs: DataFrame,
    k: int = 50,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, span_start, span_end, n_windows): maximal token spans covered by
    k-token windows that occur ≥ ``min_occurrences`` times across the
    corpus — the exact-substring duplication pass of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed relationally instead of with a suffix array.

    span_start/span_end are 0-based token offsets, end exclusive; a span at
    [s, e) means tokens s..e-1 sit inside some globally-repeated k-window.

    Scale shape: one explode to (window-hash, doc, pos) — linear in corpus
    tokens; repeated hashes found by a map-side-combined count; a doc's
    duplicated windows come back via semi-join; the interval merge is a
    per-document window function (partitioned by doc id — bounded, never
    global). Window hashes are 60-bit md5s so the DuckDB twin reproduces
    them exactly.
    """
    from pyspark.sql import Window

    from ..functions.hashing import md5int64
    from ..functions.text import words_expr

    # k-token window starting at pos: hash of the joined slice (docs with
    # fewer than k tokens contribute no windows)
    w_arr = words_expr(F.col(text_col))
    idx = F.when(
        F.size(w_arr) >= k,
        F.sequence(F.lit(0), F.size(w_arr) - F.lit(k)),
    ).otherwise(F.expr("array()").cast("array<int>"))
    windows = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                idx,
                lambda i: md5int64(
                    F.concat(
                        F.lit("rs:"), F.array_join(F.slice(w_arr, i + 1, k), " ")
                    )
                ),
            )
        ).alias("pos", "wh"),
    )
    # consumed twice (count aggregate + semi-join probe) — without the
    # pin, the dominant cost (one md5 per k-token window over the whole
    # corpus) executes twice
    windows = local_ckpt(windows)
    dup_h = (
        windows.groupBy("wh")
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") >= min_occurrences)
        .select("wh")
    )
    dup_pos = windows.join(dup_h, "wh", "left_semi")

    wspec = Window.partitionBy(id_col).orderBy("pos")
    # windows at pos and prev cover overlapping/adjacent token ranges iff
    # pos <= prev + k; a larger gap starts a new merged span
    marked = dup_pos.withColumn(
        "__new",
        (
            F.coalesce(
                (F.col("pos") - F.lag("pos").over(wspec)) > k, F.lit(True)
            )
        ).cast("int"),
    ).withColumn("__span", F.sum("__new").over(wspec))
    return (
        marked.groupBy(id_col, "__span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .drop("__span")
    )


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, clean, n_tokens_removed): excise the tokens covered by
    :func:`repeated_spans` output and rebuild the text — the apply step of
    the exact-substring dedup pass.

    Tokens are the original-case ``\\S+`` runs (same boundaries as the
    span detector's lowercased tokens, so positions align); documents WITH
    spans are rebuilt single-space-joined (whitespace canonicalized),
    documents without spans pass through byte-identical. Per-doc work is an
    equi-join on the doc id plus a range predicate — span tables are tiny
    relative to the corpus."""
    toks = local_ckpt(
        docs.select(
            F.col(id_col),
            F.posexplode(
                F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)
            ).alias("pos", "tok"),
        )
    )  # tokenized once: removed-probe, anti-join, and rebuild all read it
    removed = (
        toks.join(spans, id_col)
        .where(
            (F.col("pos") >= F.col("span_start"))
            & (F.col("pos") < F.col("span_end"))
        )
        .select(id_col, "pos")
        .distinct()
    )
    from ..functions.text import ordered_rebuild_agg

    kept = toks.join(removed, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        ordered_rebuild_agg("pos", "tok", " ").alias("__clean"),
    )
    n_removed = removed.groupBy(id_col).agg(
        F.count("*").alias("__n_removed")
    )
    return (
        docs.select(F.col(id_col), F.col(text_col))
        .join(rebuilt, id_col, "left")
        .join(n_removed, id_col, "left")
        .select(
            F.col(id_col),
            F.when(
                F.coalesce(F.col("__n_removed"), F.lit(0)) > 0,
                F.coalesce(F.col("__clean"), F.lit("")),
            )
            .otherwise(F.col(text_col))
            .alias("clean"),
            F.coalesce(F.col("__n_removed"), F.lit(0))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def simhash_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, simhash): SimHash over the document's DISTINCT lowercase tokens.
    Bit k is set iff sum over tokens of (bit k of md5int64('sh:'+token) ? +1
    : -1) is > 0. One explode + one hash-aggregate (map-side combined)."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(words_expr(F.col(text_col)))).alias("tok"),
    ).withColumn("h", md5int64(F.concat(F.lit("sh:"), F.col("tok"))))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{k}")
        for k in range(bits)
    ]
    agged = toks.groupBy(id_col).agg(*aggs)
    sim = reduce(
        lambda acc, k: acc
        + F.when(F.col(f"b{k}") > 0, F.lit(1 << k).cast("long")).otherwise(F.lit(0).cast("long")),
        range(bits),
        F.lit(0).cast("long"),
    )
    return agged.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    n_chunks: int = SIMHASH_CHUNKS,
) -> DataFrame:
    """(id_a, id_b, hamming): pairs at hamming distance ≤ max_hamming.

    Pigeonhole banding: requires max_hamming < n_chunks so every qualifying
    pair shares at least one whole chunk — candidates come from chunk
    equi-joins, never a cross join.
    """
    # one compact row per doc; materialize so the chunk self-join below
    # doesn't recompute the token+hash aggregation on both sides
    sims = local_ckpt(simhash_docs(docs, text_col, id_col, bits))
    return hamming_pairs(
        sims, id_col, "simhash", bits=bits, n_chunks=n_chunks, max_hamming=max_hamming
    )


def hamming_chunk_keys(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    n_chunks: int = 8,
) -> DataFrame:
    """(id, __hv, chunk_idx, chunk_val): pigeonhole band keys for hamming
    banding — the persistable index rows (mirror of lsh_band_keys). The
    sign-extending arithmetic shiftright is masked off per chunk, so signed
    64-bit hashes round-trip exactly."""
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    return hashes.select(
        F.col(id_col),
        F.col(hash_col).alias("__hv"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col(hash_col), c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select(
        id_col,
        "__hv",
        F.col("ck.chunk_idx").alias("chunk_idx"),
        F.col("ck.chunk_val").alias("chunk_val"),
    )


def hamming_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    n_chunks: int = 8,
    max_hamming: int = 3,
    dedupe_identical: bool = False,
) -> DataFrame:
    """(id_a, id_b, hamming): all pairs of rows whose ``hash_col`` values lie
    within hamming distance ``max_hamming`` — the generic pigeonhole-banded
    kernel behind simhash (text) and phash (image/frame) near-dup.

    Requires max_hamming < n_chunks: a qualifying pair then must agree on at
    least one whole chunk, so candidates come from n_chunks equi-joins on
    (chunk_idx, chunk_val) — never a cross join; verification (popcount of
    xor) runs only on candidates. Signed 64-bit hashes are fine: the
    arithmetic shiftright's sign-extension is masked off per chunk.

    ``dedupe_identical=True`` changes the output CONTRACT from the full
    pair clique to a component-equivalent edge set: rows sharing one exact
    hash value collapse to their min-id representative — each non-rep
    member contributes ONE star edge (rep, member, 0) and the banding runs
    over DISTINCT hash values only, emitting rep↔rep pairs. Connected
    components (the consumer that matters — dedup keep-lists) are
    identical, but an identical-hash cluster of k rows costs k-1 edges
    instead of k(k-1)/2 pairs. At web scale this is not optional: blank /
    solid-color / template images land MILLIONS of rows on one phash, and
    a clique there is 10^12 pairs while the star is linear. The group-by
    collapse is a map-side-combined aggregate; the star join is an
    equi-join on the hash (AQE skew-join splits the hot value).
    """
    assert max_hamming < n_chunks, "pigeonhole requires max_hamming < n_chunks"
    if dedupe_identical:
        reps = hashes.groupBy(hash_col).agg(F.min(id_col).alias("__rep"))
        star = (
            hashes.select(id_col, hash_col)
            .join(reps, hash_col)
            .where(F.col(id_col) != F.col("__rep"))
            .select(
                F.col("__rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0).alias("hamming"),
            )
        )
        distinct_hashes = reps.select(
            F.col("__rep").alias(id_col), F.col(hash_col)
        )
        cross = hamming_pairs(
            distinct_hashes, id_col, hash_col, bits, n_chunks, max_hamming
        )
        return star.unionByName(cross)
    chunks = hamming_chunk_keys(hashes, id_col, hash_col, bits, n_chunks)

    left = chunks.select(
        F.col(id_col).alias("id_a"), F.col("__hv").alias("sh_a"), "chunk_idx", "chunk_val"
    )
    right = chunks.select(
        F.col(id_col).alias("id_b"), F.col("__hv").alias("sh_b"), "chunk_idx", "chunk_val"
    )
    return (
        left.join(right, on=["chunk_idx", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def phash_pairs(
    images: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 4,
    n_chunks: int = 8,
    dedupe_identical: bool = False,
) -> DataFrame:
    """Image/frame near-dup pairs over a 64-bit perceptual-hash column
    (functions/images.phash64 — stored in the corpus or recomputed by
    verify_images / sample_frames). Same banding kernel as simhash; at
    10^9 images the join still shuffles only 8-bit-chunk buckets.
    ``dedupe_identical=True`` (see hamming_pairs) is the component-feed
    shape for web-scale image corpora, where blank/solid/template images
    concentrate millions of rows on a single phash."""
    return hamming_pairs(
        images.select(id_col, phash_col),
        id_col,
        phash_col,
        bits=64,
        n_chunks=n_chunks,
        max_hamming=max_hamming,
        dedupe_identical=dedupe_identical,
    )


def phash_write_index(
    images: DataFrame,
    path: str,
    id_col: str = "image_id",
    phash_col: str = "phash",
    bits: int = 64,
    n_chunks: int = 8,
    mode: str = "overwrite",
    dedupe_identical: bool = False,
) -> None:
    """Persist the pigeonhole chunk index (id, phash, chunk_idx, chunk_val)
    for an image corpus — the phash mirror of minhash_write_index.

    The production shape for a growing crawl: chunk keys are computed ONCE
    per image ever; each batch probes this table and then appends its own
    keys (``mode='append'``). Partitioned by chunk_idx so the 8 probe
    joins cluster at the parquet layer; the full 64-bit hash travels with
    each row, so verification needs no second lookup into the corpus
    (unlike minhash, whose jaccard verify refetches shingle sets)."""
    src = images.select(id_col, phash_col)
    if dedupe_identical:
        # store ONE row family (the min-id rep) per distinct hash: a hot
        # phash (blank/template images, millions of rows) otherwise makes
        # every future increment's probe join emit |old|x|new| pairs — the
        # clique blowup the batch path's dedupe_identical star kills.
        # Contract: incremental pairs connect new members to stored REPS
        # (component-equivalent, like hamming_pairs dedupe_identical);
        # in-store identical members were star-linked when THEY were the
        # increment. One aggregate at build time, probes stay linear.
        src = src.groupBy(phash_col).agg(F.min(id_col).alias(id_col))
    keys = hamming_chunk_keys(
        src, id_col, phash_col, bits, n_chunks
    ).select(
        id_col,
        F.col("__hv").alias(phash_col),
        "chunk_idx",
        "chunk_val",
    )
    keys.write.mode(mode).partitionBy("chunk_idx").parquet(path)


def phash_pairs_incremental(
    spark,
    index_path: str,
    new_images: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    bits: int = 64,
    n_chunks: int = 8,
    max_hamming: int = 4,
    dedupe_identical: bool = False,
) -> DataFrame:
    """(id_a=indexed, id_b=new, hamming): near-dup pairs BETWEEN the
    existing corpus (via its persisted chunk index — keys never recomputed)
    and an increment batch. Within-increment pairs come from the ordinary
    ``phash_pairs(new_images)``; a full ingest runs both and then appends
    the increment's keys via :func:`phash_write_index` — the same
    three-step contract as minhash_pairs_incremental.

    Scale shape: the typical increment's chunk keys are small relative to
    the index, so broadcasting them against the index scan avoids
    shuffling the (much larger) index. But "typical" is a caller
    assumption, not an invariant — a huge recrawl batch (millions of
    images × n_chunks rows) can exceed driver/broadcast memory where a
    shuffle join would succeed. So a cheap count on the increment decides:
    ≤ ~1M chunk-key rows get the broadcast hint, larger increments leave
    the join strategy to Catalyst/AQE (runtime-sized).
    Candidates are old×new only (never old×old), and verification is one
    popcount on columns already in hand. A re-crawled id present in both
    sides self-pairs and is filtered."""
    new_src = new_images.select(id_col, phash_col)
    star = None
    if dedupe_identical:
        # mirror hamming_pairs(dedupe_identical=True) on the increment
        # side: in-batch identical hashes collapse to star edges and only
        # distinct hashes probe the index (pair with phash_write_index's
        # dedupe_identical store for end-to-end linear identical clusters)
        reps = new_src.groupBy(phash_col).agg(F.min(id_col).alias("__rep"))
        star = (
            new_src.join(reps, phash_col)
            .where(F.col(id_col) != F.col("__rep"))
            .select(
                F.col("__rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0).alias("hamming"),
            )
        )
        new_src = reps.select(F.col("__rep").alias(id_col), F.col(phash_col))
    new_keys = hamming_chunk_keys(
        new_src, id_col, phash_col, bits, n_chunks
    )
    probe = new_keys.select(
        F.col(id_col).alias("id_b"),
        F.col("__hv").alias("__hvb"),
        "chunk_idx",
        "chunk_val",
    )
    # one count over the (distinct-hash) increment decides; 1M chunk-key
    # rows ≈ tens of MB — safely under default broadcast limits, while a
    # mega-recrawl falls through to AQE's choice
    if probe.limit(1_000_001).count() <= 1_000_000:
        probe = F.broadcast(probe)
    index = spark.read.parquet(index_path)
    out = (
        index.select(
            F.col(id_col).alias("id_a"),
            F.col(phash_col).alias("__hva"),
            "chunk_idx",
            "chunk_val",
        )
        .join(probe, on=["chunk_idx", "chunk_val"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__hva").bitwiseXOR(F.col("__hvb"))).alias(
                "hamming"
            ),
        )
        # hamming filter BEFORE the dedup exchange: candidates over
        # max_hamming dominate on template-heavy corpora and would
        # otherwise be shuffled only to be dropped
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    if star is not None:
        out = out.unionByName(star)
    return out


def exact_jaccard_neighbors(
    docs: DataFrame,
    sample_ids: DataFrame,
    min_jaccard: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """(qid, did, jaccard): EXACT shingle-set Jaccard neighbors of a bounded
    query sample against the whole corpus — the ground truth a banding index
    is measured against.

    Scale shape: the contamination equi-join — the sample's distinct
    shingles join the corpus's shingle postings (never an all-pairs scan),
    so cost is Σ document-frequency over the sample's shingles. Like the
    contamination gate, a stop-shingle can fan out; this is an EVALUATION
    harness over a bounded sample, not a production pass, and the sample
    ids broadcast-prune the left side. Jaccard is exact over distinct
    shingle sets, rounded to 4dp before thresholding — bit-identical to
    :func:`minhash_lsh_pairs`'s verify arithmetic (same integers, same
    double division), so verified candidates are a subset of this truth.
    """
    sh = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles_expr(F.col(text_col), shingle_k))
        ).alias("__sh"),
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__n"))
    qsh = sh.join(
        F.broadcast(sample_ids.select(F.col(id_col))), id_col, "left_semi"
    ).select(F.col(id_col).alias("qid"), "__sh")
    common = (
        qsh.join(
            sh.select(F.col(id_col).alias("did"), "__sh"), "__sh"
        )
        .where(F.col("qid") != F.col("did"))
        .groupBy("qid", "did")
        .agg(F.count("*").alias("__c"))
    )
    j = (
        common.join(sizes.select(F.col(id_col).alias("qid"), F.col("__n").alias("__na")), "qid")
        .join(sizes.select(F.col(id_col).alias("did"), F.col("__n").alias("__nb")), "did")
        .select(
            "qid",
            "did",
            F.round(
                F.col("__c").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("__c")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )
    return j.where(F.col("jaccard") >= float(min_jaccard))


def neardup_recall(
    docs: DataFrame,
    sample_ids: DataFrame,
    min_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """(qid, n_true, n_found, recall): measured recall of the MinHash+LSH
    near-dup path against exact-Jaccard truth, per sample document — the
    evaluation loop that keeps the banding index honest (the text twin of
    the ANN recall harness). A banding scheme has a known S-curve
    P(candidate | jaccard); this harness turns that theory into a measured
    number on the operator's own corpus, so band/perm choices are evidence,
    not assertion.

    Truth = :func:`exact_jaccard_neighbors` (exact, equi-join shape).
    Found = :func:`minhash_lsh_pairs` verified at the same threshold,
    restricted to pairs touching the sample. Verified candidates are a
    subset of truth by construction (identical Jaccard arithmetic), so
    recall = n_found / n_true; sample docs with zero true neighbors are
    excluded (no defined recall).
    """
    # both sides are consumed twice below (n_true agg + the found∩truth
    # semi-join; the two direction-normalized selects) — pin them or the
    # shingle equi-join and the candidate verify join each run twice
    truth = local_ckpt(
        exact_jaccard_neighbors(
            docs, sample_ids, min_jaccard, text_col, id_col, shingle_k
        )
    )
    pairs = local_ckpt(
        minhash_lsh_pairs(
            docs,
            text_col,
            id_col,
            num_perms,
            bands,
            shingle_k,
            min_jaccard=float(min_jaccard),
        )
    )
    found = (
        pairs.select(F.col("id_a").alias("qid"), F.col("id_b").alias("did"))
        .unionByName(
            pairs.select(F.col("id_b").alias("qid"), F.col("id_a").alias("did"))
        )
        .join(
            F.broadcast(sample_ids.select(F.col(id_col).alias("qid"))),
            "qid",
            "left_semi",
        )
    )
    n_true = truth.groupBy("qid").agg(F.count("*").alias("n_true"))
    n_found = (
        truth.join(found, ["qid", "did"], "left_semi")
        .groupBy("qid")
        .agg(F.count("*").alias("n_found"))
    )
    return n_true.join(n_found, "qid", "left").select(
        "qid",
        F.col("n_true").cast("long").alias("n_true"),
        F.coalesce(F.col("n_found"), F.lit(0)).cast("long").alias("n_found"),
        F.round(
            F.coalesce(F.col("n_found"), F.lit(0)).cast("double")
            / F.col("n_true").cast("double"),
            4,
        ).alias("recall"),
    )
