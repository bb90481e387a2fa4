"""Embedding surface.

The reference embeds chunk batches via the OpenAI API (src/utils.py:148-202,
batch ≤20, dim 1536, token-truncated to 8191). This sandbox has no network,
so the engine ships a *deterministic local embedder*: seeded BLAKE2b of the
text → PCG64 stream → N(0,1) vector → L2 normalize. It is a drop-in stand-in
with the same dataflow shape (Arrow-batched mapInPandas stage, bounded batch
size); swapping in a real API client touches only ``_embed_batch``.

Truncation reproduces the reference's two guards:
- MAX_DOCUMENT_LENGTH char cap (src/utils.py:258-259)
- token cap ≤8191 (src/utils.py:167-185) via functions/tokenizer.py: the
  tiktoken adapter when importable (reference-faithful), else a
  prefix-preserving regex tokenizer behind the SAME interface — the swap
  point is explicit and conformance-tested, so changing vocabulary never
  silently changes truncation semantics.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from ..config import EMBEDDING_DIM, MAX_DOCUMENT_LENGTH, QUERY_CONTEXT_PREFIX
from .tokenizer import MAX_EMBED_TOKENS, get_tokenizer


def _clip_series(texts: pd.Series, max_tokens: int = MAX_EMBED_TOKENS) -> list[str]:
    """The reference's two pre-embedding guards in order (src/utils.py:
    258-259 char cap, :167-185 token cap) over one Arrow batch."""
    tok = get_tokenizer()
    clipped = texts.fillna("").str.slice(0, MAX_DOCUMENT_LENGTH)
    return [tok.truncate(t, max_tokens) for t in clipped]


def embed_text(text: str, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """Deterministic unit vector for ``text`` (float32)."""
    digest = hashlib.blake2b(text.encode("utf-8"), digest_size=16).digest()
    seed = int.from_bytes(digest, "big")
    rng = np.random.Generator(np.random.PCG64(seed))
    v = rng.standard_normal(dim).astype(np.float32)
    norm = float(np.linalg.norm(v))
    return v / norm if norm > 0 else v


def _embed_batch(texts: list[str], dim: int) -> list[list[float]]:
    # Swap point for a real embedding API; retry/classify logic would live
    # here (reference exponential backoff, src/utils.py:78-131).
    return [embed_text(t, dim).tolist() for t in texts]


def embed_udf(dim: int = EMBEDDING_DIM):
    """Arrow-batched ``string -> array<float>`` embedding UDF."""

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        return pd.Series(_embed_batch(_clip_series(texts), dim))

    return _embed


def with_embeddings(
    df: DataFrame,
    text_col: str = "content",
    out_col: str = "embedding",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    return df.withColumn(out_col, embed_udf(dim)(F.col(text_col)))


def with_embeddings_cached(
    df: DataFrame,
    text_col: str = "content",
    out_col: str = "embedding",
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Embed each DISTINCT text once and join the vectors back — the cost
    lever for corpora with duplicated chunks (boilerplate, re-crawls, exact
    dups): an embedding API is priced per call, and at 100 TB the dup rate
    of chunk text is routinely 20-50%.

    Shape: md5-fingerprint projection → distinct (map-side combined) →
    embed only distinct rows → equi-join back on the fingerprint. The
    distinct side is strictly smaller than the corpus; Spark broadcasts it
    when small. Output rows/columns match :func:`with_embeddings` plus a
    ``__text_md5`` is NOT retained. Adds ``n_unique``-sized embed work
    instead of ``n_rows``.

    NULL-text contract: the embedder clips NULL to "" before hashing
    (``_clip_series`` fillna), so the fingerprint is md5(coalesce(text, ''))
    — NULL and empty text share one cache slot and one embedding, and the
    equi-join never sees a NULL key, so no row is silently dropped; output
    matches :func:`with_embeddings` row-for-row."""
    fp = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    # match with_embeddings' withColumn REPLACE semantics: if df already
    # carries out_col (re-embedding a store), drop it before the join or
    # the output holds two ambiguous columns of that name
    if out_col in df.columns:
        df = df.drop(out_col)
    with_fp = df.withColumn("__text_md5", fp)
    uniq = (
        with_fp.select("__text_md5", F.col(text_col).alias("__t"))
        .dropDuplicates(["__text_md5"])
        .withColumn(out_col, embed_udf(dim)(F.col("__t")))
        .select("__text_md5", out_col)
    )
    return with_fp.join(uniq, "__text_md5").drop("__text_md5")


def embed_query(query: str, contextual: bool = False, dim: int = EMBEDDING_DIM) -> list[float]:
    """Query-side embedding; when ``contextual`` the reference prepends a
    search prompt (src/utils.py:552-561)."""
    text = (QUERY_CONTEXT_PREFIX + query) if contextual else query
    text = get_tokenizer().truncate(text[:MAX_DOCUMENT_LENGTH])
    return embed_text(text, dim).tolist()


# ---------------------------------------------------------------------------
# E3: contextual embedding enrichment (reference src/utils.py:227-325)
# ---------------------------------------------------------------------------

CONTEXT_DOC_PREFIX_CHARS = 150  # stand-in context = document head


def _situating_context(full_document: str, chunk: str) -> str:
    # Deterministic stand-in for the reference's LLM-written situating
    # context (src/utils.py:268-303): the document head identifies the doc.
    head = " ".join(full_document[:CONTEXT_DOC_PREFIX_CHARS].split())
    return f"Context: {head}"


def with_contextual_text(
    df: DataFrame,
    doc_col: str = "markdown",
    chunk_col: str = "content",
    out_col: str = "contextual_content",
    enabled: bool | None = None,
) -> DataFrame:
    """Optional contextual-enrichment stage: ``out_col`` =
    ``f"{context}\\n---\\n{chunk}"`` (reference src/utils.py:217,319), the
    text that then feeds the embedder instead of the raw chunk.

    Env-gated exactly like the reference (``MODEL_CHOICE``,
    src/utils.py:237-241): disabled → ``out_col`` = the raw chunk (the
    reference's fallback path). The enrich body is a mapInPandas batch stage
    — swapping the stub for a real LLM call touches only
    ``_situating_context``.
    """
    import os as _os

    if enabled is None:
        enabled = bool(_os.environ.get("MODEL_CHOICE"))
    if not enabled:
        return df.withColumn(out_col, F.col(chunk_col))

    from pyspark.sql.types import StringType, StructField, StructType

    # NB: StructType.add mutates in place — never call it on df.schema (the
    # DataFrame caches that object); build a copy instead.
    schema_out = StructType(df.schema.fields + [StructField(out_col, StringType())])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[out_col] = [
                f"{_situating_context(doc or '', ch or '')}\n---\n{ch or ''}"
                for doc, ch in zip(pdf[doc_col], pdf[chunk_col])
            ]
            yield pdf

    return df.mapInPandas(gen, schema=schema_out)


# ---------------------------------------------------------------------------
# E5: retry with exponential backoff (reference src/utils.py:56-131)
# ---------------------------------------------------------------------------

# Substrings that mark an error as non-retryable (reference classification,
# src/utils.py:56-76: auth failures and invalid-model errors fail fast).
CRITICAL_ERROR_MARKERS = (
    "401", "403", "invalid_api_key", "model_not_found", "invalid model",
    "authentication", "permission",
)
RETRY_MAX_RETRIES = 3
RETRY_BASE_DELAY = 1.0
RETRY_JITTER_FRAC = 0.1


def is_critical_error(exc: Exception) -> bool:
    msg = str(exc).lower()
    return any(m in msg for m in CRITICAL_ERROR_MARKERS)


def retry_with_backoff(
    fn,
    *args,
    max_retries: int = RETRY_MAX_RETRIES,
    base_delay: float = RETRY_BASE_DELAY,
    sleep=None,
    **kwargs,
):
    """Call ``fn`` with the reference's retry policy: up to ``max_retries``
    retries, delay base_delay × 2^attempt + 10% deterministic jitter;
    critical errors (auth / invalid model) are never retried and re-raise
    immediately. ``sleep`` is injectable for tests. Runs INSIDE UDF bodies
    (per Arrow batch), layered under Spark's own ``spark.task.maxFailures``.
    """
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep
    attempt = 0
    while True:
        try:
            return fn(*args, **kwargs)
        except Exception as exc:
            if is_critical_error(exc) or attempt >= max_retries:
                raise
            delay = base_delay * (2**attempt)
            # deterministic jitter: seeded by attempt, not wall clock
            delay += delay * RETRY_JITTER_FRAC * ((attempt * 2654435761 % 100) / 100)
            do_sleep(delay)
            attempt += 1
