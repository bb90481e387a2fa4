"""Chunk → embed → store → retrieve: the reference's RAG dataflow.

Re-expresses add_documents_to_supabase (reference src/utils.py:327-516),
search_documents (src/utils.py:520-592) and get_available_sources
(src/crawl4ai_mcp.py:1069-1123) as DataFrame pipelines over a
``crawled_pages``-shaped table:

    (url, chunk_number, content, source, headers, char_count, word_count,
     crawl_type, embedding array<float>)

unique key (url, chunk_number) — the reference's upsert conflict key
(crawled_pages.sql:16, src/utils.py:495). ``store_documents`` implements the
upsert as a keyed overwrite (last-writer-wins within the batch via a window
rank); against Iceberg this becomes a MERGE INTO on the same key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import local_ckpt

from ..config import DEFAULT_MATCH_COUNT
from ..functions.chunking import explode_chunks, with_section_info
from ..functions.embedding import embed_query, with_embeddings
from ..functions.urls import url_host
from ..functions.vectors import cosine_expr, vector_lit


def build_chunks(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "markdown",
    chunk_size: int = 5000,
    crawl_type: str = "webpage",
    crawl_time: str | None = None,
) -> DataFrame:
    """Documents → one row per chunk with the reference's metadata columns
    (src/crawl4ai_mcp.py:396-402: chunk_index, url, source, crawl_type,
    crawl_time + section info).

    ``crawl_time``: C4 crawl timestamp — the reference stamps
    ``datetime.now(timezone.utc).isoformat()`` (src/crawl4ai_mcp.py:401);
    pass a fixed ISO string for deterministic tests/oracles, or None to
    stamp ``current_timestamp()`` like the reference."""
    chunks = explode_chunks(docs, text_col=text_col, chunk_size=chunk_size)
    chunks = with_section_info(chunks, "content")
    # stamp in UTC regardless of session timezone (get_spark pins UTC, but
    # the stamp must not silently shift under a foreign session): convert
    # the session-wall-clock timestamp to UTC wall clock, label +00:00
    ts = (
        F.date_format(
            F.to_utc_timestamp(F.current_timestamp(), F.current_timezone()),
            "yyyy-MM-dd'T'HH:mm:ss'+00:00'",
        )
        if crawl_time is None
        else F.lit(crawl_time)
    )
    return (
        chunks.withColumn("source", url_host(F.col(url_col)))
        .withColumn("crawl_type", F.lit(crawl_type))
        .withColumn("crawl_time", ts)
    )


def embed_chunks(chunks: DataFrame) -> DataFrame:
    return with_embeddings(chunks, text_col="content", out_col="embedding")


def enrich_chunks_with_documents(
    chunks: DataFrame,
    docs: DataFrame,
    url_col: str = "url",
    doc_text_col: str = "markdown",
) -> DataFrame:
    """J3: chunk→full-document lookup as a broadcast hash join — the
    reference's ``url_to_full_document`` dict handed to the contextual
    embedder (src/crawl4ai_mcp.py:377-388, src/utils.py:425-426). The
    document set of one store batch is DOCUMENT_BATCH_SIZE-bounded (≪ the
    chunk fan-out), so the build side broadcasts and the chunk stream never
    shuffles. Feeds functions/embedding.with_contextual_text."""
    return chunks.join(
        F.broadcast(docs.select(url_col, doc_text_col)), url_col, "left"
    )


def _row_tiebreak(df: DataFrame, exclude: tuple[str, ...] = ()) -> Column:
    """Deterministic within-generation winner key for duplicate (url,
    chunk_number) rows: md5 over the JSON of the row's SCALAR columns.
    Array columns (the embedding — the store's widest field) are excluded:
    JSON-encoding a 1536-float vector per row just to break near-never ties
    dominated the upsert projection, and the embedding is a deterministic
    function of the text content already included, so rows that differ at
    all differ in a scalar."""
    cols = [
        c
        for c, t in df.dtypes
        if c not in exclude and not t.startswith("array")
    ]
    return F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))


def store_documents(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Idempotent upsert on (url, chunk_number) — reference src/utils.py:
    493-500. New batch rows replace existing rows with the same key; ties
    within a generation (a batch carrying duplicate keys) break on the row
    fingerprint so the winner is deterministic, not partition-order luck."""
    if existing is None:
        keyed = batch.withColumn("__gen", F.lit(1))
    else:
        keyed = existing.withColumn("__gen", F.lit(0)).unionByName(
            batch.withColumn("__gen", F.lit(1))
        )
    tiebreak = _row_tiebreak(keyed, exclude=("__gen",))
    w = Window.partitionBy("url", "chunk_number").orderBy(
        F.desc("__gen"), tiebreak.asc()
    )
    return (
        keyed.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__gen", "__rk")
    )


def store_documents_incremental(
    existing: DataFrame | None, batch: DataFrame
) -> DataFrame:
    """Scale-safe upsert on (url, chunk_number): same result as
    :func:`store_documents` when ``existing`` is a well-formed store
    (unique keys — the invariant both paths maintain), but the store side
    NEVER shuffles.

    :func:`store_documents` windows the union of store+batch over every
    key — at 100 TB that reshuffles the whole store per ingest batch. Here
    the window runs over the BATCH ONLY (bounded by the ingest batch size:
    reference DOCUMENT_BATCH_SIZE, src/utils.py:395), then the existing
    store drops overwritten keys with a broadcast anti-join and unions the
    winners — a map-side-only plan on the store side (zero Exchange; see
    PLANS.md "Incremental upsert"). With Iceberg this whole function is
    the documented ``MERGE INTO`` on the same key (SURVEY §2.5)."""
    tiebreak = _row_tiebreak(batch)
    w = Window.partitionBy("url", "chunk_number").orderBy(tiebreak.asc())
    winners = (
        batch.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )
    if existing is None:
        return winners
    # Keys straight from the raw batch (NOT from `winners`): an anti-join
    # build side tolerates duplicate keys, and deriving from `winners` would
    # re-run the dedup window a second time just to feed the broadcast.
    batch_keys = batch.select("url", "chunk_number")
    untouched = existing.join(
        F.broadcast(batch_keys), ["url", "chunk_number"], "left_anti"
    )
    return untouched.unionByName(winners)


def doc_change_status(
    prev_index: DataFrame | None,
    fetched: DataFrame,
    url_col: str = "url",
    fp_col: str = "fp",
) -> DataFrame:
    """Recrawl change detection: classify each fetched document as
    ``new`` / ``changed`` / ``unchanged`` against a per-URL fingerprint
    index from the previous crawl.

    The reference always re-fetches with ``CacheMode.BYPASS`` and upserts
    every chunk (src/crawl4ai_mcp.py:481-487, src/utils.py:493-500) — at
    100 TB that re-chunks and re-embeds the whole corpus on every recrawl
    even though most pages did not change. Gating the chunk/embed stages on
    this status makes recrawl incremental: only ``new``/``changed`` rows
    proceed, and embedding (the expensive stage) is skipped for the rest.

    Scale shape: the fetched batch is ingest-bounded (small); the index is
    corpus-sized (huge). The index is first pruned to the batch's URLs with
    a broadcast LEFT SEMI join (the index side streams — zero Exchange),
    and the surviving ≤|batch| rows broadcast back onto the batch, so
    neither side ever shuffles (PLANS.md "Recrawl change detection").
    ``prev_index`` must be keyed by ``url_col`` (unique), the invariant
    :func:`update_fingerprint_index` maintains.
    """
    out_cols = [F.col(url_col), F.col(fp_col)]
    if prev_index is None:
        return fetched.select(*out_cols).withColumn(
            "change_kind", F.lit("new")
        )
    relevant = prev_index.select(
        url_col, F.col(fp_col).alias("__prev_fp")
    ).join(F.broadcast(fetched.select(url_col)), url_col, "left_semi")
    return (
        fetched.select(*out_cols)
        .join(F.broadcast(relevant), url_col, "left")
        .withColumn(
            "change_kind",
            # eqNullSafe: a NULL fetched fingerprint (failed extraction)
            # must read as CHANGED vs a real stored fp, not fall through
            # the null-propagating != to 'unchanged' and go stale
            F.when(F.col("__prev_fp").isNull(), F.lit("new"))
            .when(
                ~F.col("__prev_fp").eqNullSafe(F.col(fp_col)),
                F.lit("changed"),
            )
            .otherwise(F.lit("unchanged")),
        )
        .drop("__prev_fp")
    )


def update_fingerprint_index(
    prev_index: DataFrame | None,
    fetched: DataFrame,
    url_col: str = "url",
    fp_col: str = "fp",
) -> DataFrame:
    """Advance the recrawl fingerprint index after an ingest batch: fetched
    fingerprints replace their URL's row, untouched URLs carry over via a
    broadcast anti-join (index side never shuffles — same ingest shape as
    :func:`store_documents_incremental`). Re-running
    :func:`doc_change_status` for the same batch against the updated index
    yields all-``unchanged`` (pinned in tests)."""
    w = Window.partitionBy(url_col).orderBy(F.col(fp_col).asc())
    batch = (
        fetched.select(url_col, fp_col)
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )
    if prev_index is None:
        return batch
    untouched = prev_index.select(url_col, fp_col).join(
        F.broadcast(batch.select(url_col)), url_col, "left_anti"
    )
    return untouched.unionByName(batch)


def conditional_fetch_split(
    prev_index: DataFrame,
    urls: DataFrame,
    url_col: str = "url",
    etag_col: str = "etag",
    lastmod_col: str = "last_modified",
) -> tuple[DataFrame, DataFrame]:
    """Split a recrawl batch into (conditional, unconditional) requests.

    The missing third leg of the freshness story (r5): doc_change_status
    classifies AFTER a full fetch, but a real recrawl at scale must skip
    the BODY TRANSFER itself — a URL whose stored validator (ETag /
    Last-Modified) is still current answers ``304 Not Modified`` with an
    empty body. URLs present in the validator index get their stored
    validators projected on (If-None-Match / If-Modified-Since headers);
    the rest fetch plain. The reference refetches everything blindly
    (CacheMode.BYPASS, src/crawl4ai_mcp.py:481-487).

    Scale shape: same as :func:`doc_change_status` — the corpus-sized
    index is semi-pruned to the batch with a broadcast (index side
    streams), and the ≤|batch| survivors broadcast back. Zero shuffle."""
    vals = (
        prev_index.select(url_col, etag_col, lastmod_col)
        .where(F.col(etag_col).isNotNull() | F.col(lastmod_col).isNotNull())
        .join(F.broadcast(urls.select(url_col)), url_col, "left_semi")
    )
    j = urls.join(F.broadcast(vals), url_col, "left")
    has_val = F.col(etag_col).isNotNull() | F.col(lastmod_col).isNotNull()
    return j.where(has_val), j.where(~has_val).drop(etag_col, lastmod_col)


def simulate_conditional_fetch(
    requests: DataFrame,
    server: DataFrame,
    url_col: str = "url",
    body_col: str = "body",
) -> DataFrame:
    """Sandbox stand-in for the conditional-GET HTTP layer (the fetch-join
    twin of CrawlEngine._fetch_batch): ``requests`` rows optionally carry
    ``etag``/``last_modified`` validators; ``server`` is the current
    (url, body, etag, last_modified) state. Returns the fetch table
    ``(url, status, fp, etag, last_modified, body)``:

    * validator matches the server's current one (If-None-Match first,
      Last-Modified fallback — RFC 9110 §13.1.3 precedence) → status 304
      with **NULL body and NULL fp**: the body provably never transfers;
    * otherwise (or no validator) → status 200 with the body, its md5
      fingerprint, and the server's fresh validators;
    * URL gone from the server → 404, NULL body.

    At real scale this function is replaced by a mapInPandas HTTP stage
    with the identical input/output schema; the join here broadcasts the
    ingest-bounded request batch into the server/corpus scan."""
    req = requests
    if "etag" not in req.columns:
        req = req.withColumn("etag", F.lit(None).cast("string"))
    if "last_modified" not in req.columns:
        req = req.withColumn("last_modified", F.lit(None).cast("string"))
    req = req.select(
        url_col,
        F.col("etag").alias("__req_etag"),
        F.col("last_modified").alias("__req_lm"),
    )
    srv = server.select(
        url_col,
        F.col(body_col).alias("__srv_body"),
        F.col("etag").alias("__srv_etag"),
        F.col("last_modified").alias("__srv_lm"),
    )
    j = srv.join(F.broadcast(req), url_col, "inner")
    etag_hit = F.col("__req_etag").isNotNull() & F.col("__req_etag").eqNullSafe(
        F.col("__srv_etag")
    )
    lm_hit = (
        F.col("__req_etag").isNull()
        & F.col("__req_lm").isNotNull()
        & F.col("__req_lm").eqNullSafe(F.col("__srv_lm"))
    )
    not_modified = etag_hit | lm_hit
    found = local_ckpt(
        j.select(
            url_col,
            F.when(not_modified, F.lit(304)).otherwise(F.lit(200)).alias("status"),
            F.when(not_modified, F.lit(None).cast("string"))
            .otherwise(F.md5(F.col("__srv_body")))
            .alias("fp"),
            F.when(not_modified, F.lit(None).cast("string"))
            .otherwise(F.col("__srv_etag"))
            .alias("etag"),
            F.when(not_modified, F.lit(None).cast("string"))
            .otherwise(F.col("__srv_lm"))
            .alias("last_modified"),
            F.when(not_modified, F.lit(None).cast("string"))
            .otherwise(F.col("__srv_body"))
            .alias("body"),
        )
    )
    missing = req.join(
        F.broadcast(found.select(url_col)), url_col, "left_anti"
    ).select(
        url_col,
        F.lit(404).alias("status"),
        F.lit(None).cast("string").alias("fp"),
        F.lit(None).cast("string").alias("etag"),
        F.lit(None).cast("string").alias("last_modified"),
        F.lit(None).cast("string").alias("body"),
    )
    return found.unionByName(missing)


def conditional_change_status(
    prev_index: DataFrame,
    fetched: DataFrame,
    url_col: str = "url",
    fp_col: str = "fp",
    status_col: str = "status",
) -> DataFrame:
    """304-aware :func:`doc_change_status`: ``fetched`` carries an HTTP
    status column. 304 rows transferred NO body, so they classify
    ``unchanged`` with the STORED fingerprint carried forward (the index
    row remains authoritative) — zero fp computation, zero chunk/embed
    work downstream. Other rows classify new/changed/unchanged by
    fingerprint exactly as before. A 304 for a URL the index has no row
    for is a protocol violation (we never sent a validator) — classified
    ``new`` with a NULL fp so the pipeline refetches it rather than
    silently trusting it. Failed fetches (404/5xx — no body) classify
    ``failed``: never chunk/embed-eligible, and the change log records
    the observation without poisoning the fingerprint trail. Same
    zero-shuffle broadcast shape."""
    not_mod = fetched.where(F.col(status_col) == 304)
    failed = fetched.where(~F.col(status_col).isin(200, 304)).select(
        url_col,
        F.lit(None).cast("string").alias(fp_col),
        F.lit("failed").alias("change_kind"),
    )
    full = fetched.where(F.col(status_col) == 200)
    relevant = prev_index.select(
        url_col, F.col(fp_col).alias("__prev_fp")
    ).join(F.broadcast(not_mod.select(url_col)), url_col, "left_semi")
    leg304 = (
        not_mod.select(url_col)
        .join(F.broadcast(relevant), url_col, "left")
        .select(
            url_col,
            F.col("__prev_fp").alias(fp_col),
            F.when(F.col("__prev_fp").isNull(), F.lit("new"))
            .otherwise(F.lit("unchanged"))
            .alias("change_kind"),
        )
    )
    return (
        doc_change_status(prev_index.select(url_col, fp_col), full, url_col, fp_col)
        .unionByName(leg304)
        .unionByName(failed)
    )


def update_validator_index(
    prev_index: DataFrame | None,
    fetched: DataFrame,
    url_col: str = "url",
    fp_col: str = "fp",
    status_col: str = "status",
) -> DataFrame:
    """Advance the (url, fp, etag, last_modified) VALIDATOR index after a
    conditional-recrawl batch: 200 rows replace their URL's row with the
    fresh fingerprint + validators; 304 rows leave the stored row in
    place (nothing transferred — the stored body and validators remain
    authoritative); untouched URLs carry over via broadcast anti-join
    (the corpus-sized index side never shuffles — the
    :func:`update_fingerprint_index` ingest shape)."""
    cols = [url_col, fp_col, "etag", "last_modified"]
    full = fetched.where(
        (F.col(status_col) == 200) & F.col(fp_col).isNotNull()
    ).select(*cols)
    w = Window.partitionBy(url_col).orderBy(
        F.col(fp_col).asc(), F.col("etag").asc_nulls_last()
    )
    batch = (
        full.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )
    if prev_index is None:
        return batch
    untouched = prev_index.select(*cols).join(
        F.broadcast(batch.select(url_col)), url_col, "left_anti"
    )
    return untouched.unionByName(batch)


def recrawl_schedule(
    change_log: DataFrame,
    now_seq: int,
    url_col: str = "url",
) -> DataFrame:
    """Freshness-aware recrawl prioritization over the change log that
    :func:`doc_change_status` produces per crawl.

    ``change_log`` rows are ``(url, crawl_seq, change_kind)`` — one row per
    (URL, crawl) observation. Per URL this estimates a smoothed change rate
    ``lambda = (2*n_changes + 1) / (2*(n_obs + 1))`` (add-half smoothing, so
    never-observed-changing URLs still age back into the frontier) and
    scores expected staleness ``priority = lambda * age`` where ``age =
    now_seq - last_seq`` — the uniform-refresh-beats-proportional insight
    reduced to its schedulable core: revisit what is both stale AND likely
    to have changed. The reference has no recrawl policy at all (every
    smart_crawl re-fetches everything, src/crawl4ai_mcp.py:481-487); at
    10^10 URLs the frontier MUST be fed by a policy like this.

    ``prio_milli`` is computed with integer arithmetic only
    (``... * 1000 DIV ...``) so Spark and any SQL oracle agree bit-for-bit
    at any scale. Plan shape: one map-side-combinable groupBy(url) — the
    minimal shuffle for a per-URL aggregate; the output feeds the
    frontier's ``priority`` column (T4 ordering contract, lower = sooner),
    so ``-prio_milli`` is the natural priority value.
    """
    agg = change_log.groupBy(url_col).agg(
        F.count("*").alias("n_obs"),
        F.sum(
            F.when(F.col("change_kind") == "changed", F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("n_changes"),
        F.max("crawl_seq").alias("last_seq"),
    )
    return agg.select(
        url_col,
        F.col("n_obs").cast("long").alias("n_obs"),
        F.col("n_changes").cast("long").alias("n_changes"),
        (F.lit(now_seq) - F.col("last_seq")).cast("long").alias("age"),
        F.expr(
            f"CAST(((2*n_changes + 1) * (({now_seq}) - last_seq) * 1000) "
            "DIV (2*(n_obs + 1)) AS BIGINT)"
        ).alias("prio_milli"),
    )


def search_documents(
    store: DataFrame,
    query: str,
    match_count: int = DEFAULT_MATCH_COUNT,
    source_filter: str | None = None,
    contextual: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Top-k chunks by cosine similarity to the embedded query — the
    perform_rag_query path (reference src/crawl4ai_mcp.py:1125-1214;
    similarity = 1 - cosine distance, crawled_pages.sql:57). Metadata filter
    becomes a pushed-down column predicate."""
    kwargs = {"dim": dim} if dim else {}
    qv = embed_query(query, contextual=contextual, **kwargs)
    df = store
    if source_filter is not None:
        df = df.where(F.col("source") == source_filter)
    q = vector_lit(qv)
    # contextual-content swap (reference src/utils.py:583-586): when an
    # enriched text was stored for the chunk, return it AS the content
    content = (
        F.coalesce(
            F.when(F.col("contextual_content") != "", F.col("contextual_content")),
            F.col("content"),
        )
        if "contextual_content" in store.columns
        else F.col("content")
    )
    return (
        df.select(
            "url",
            "chunk_number",
            content.alias("content"),
            "source",
            F.round(cosine_expr(F.col("embedding"), q), 4).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), F.col("url"), F.col("chunk_number"))
        .limit(match_count)
    )


BATCH_FAILURE_THRESHOLD = 0.5  # reference src/utils.py:23


def check_batch_failures(n_failed: int, n_total: int) -> None:
    """A4 failure-rate gate (reference src/utils.py:506-516): abort the run
    when more than half the store batches failed."""
    if n_total > 0 and n_failed / n_total > BATCH_FAILURE_THRESHOLD:
        raise RuntimeError(
            f"batch failure rate {n_failed}/{n_total} exceeds "
            f"{BATCH_FAILURE_THRESHOLD:.0%} — aborting storage"
        )


def validate_crawl_params(
    max_depth: int = 3, max_concurrent: int = 10, chunk_size: int = 5000
) -> tuple[int, int, int]:
    """F10 parameter clamps (reference src/crawl4ai_mcp.py:642-657):
    max_depth clamped to [0,10]; max_concurrent<=0 resets to the default 10,
    >50 caps at 50; chunk_size<=0 (or None) resets to the default 5000 —
    warn-and-continue semantics, never raise."""
    from ..config import (
        DEFAULT_CHUNK_SIZE,
        DEFAULT_MAX_CONCURRENT,
        DEFAULT_MAX_DEPTH,
        MAX_CONCURRENT_CAP,
        MAX_DEPTH_CAP,
    )

    def _as_int(v, default: int) -> int:
        # warn-and-continue means NEVER raise: None / non-numeric input
        # resets to the default like the reference's parameter handling
        try:
            return int(v)
        except (TypeError, ValueError):
            return default

    max_depth = max(0, min(_as_int(max_depth, DEFAULT_MAX_DEPTH), MAX_DEPTH_CAP))
    max_concurrent = _as_int(max_concurrent, DEFAULT_MAX_CONCURRENT)
    if max_concurrent <= 0:
        max_concurrent = DEFAULT_MAX_CONCURRENT
    elif max_concurrent > MAX_CONCURRENT_CAP:
        max_concurrent = MAX_CONCURRENT_CAP
    chunk_size = _as_int(chunk_size, DEFAULT_CHUNK_SIZE)
    if chunk_size <= 0:
        chunk_size = DEFAULT_CHUNK_SIZE
    return max_depth, max_concurrent, chunk_size


def available_sources(store: DataFrame, limit: int = 1000) -> DataFrame:
    """Distinct non-null sources, sorted, capped — reference
    get_available_sources (src/crawl4ai_mcp.py:1096-1112)."""
    return (
        store.select("source")
        .where(F.col("source").isNotNull())
        .distinct()
        .orderBy("source")
        .limit(limit)
    )
