"""Text-analysis kernels for training-data pipelines.

Language-ID (stopword heuristic), quality scoring, token counting, and
document fingerprinting over a ``documents``-shaped table. Everything is a
pure Catalyst column expression (no Python in the hot path) and every formula
is simple enough to restate in ANSI SQL — the DuckDB oracles in
``__spark_entry__.py`` are generated from the same constants below.

No counterpart exists in the reference (it delegates text understanding to
the embedding model); these are the SURVEY.md "training-data pipeline"
first-class additions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization regexes (shared with the DuckDB oracle verbatim).
WS_TOKEN_RE = r"\S+"
# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_RE = r"[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deterministic tie-break: first language in this order wins.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "you", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "ich"),
    "fr": ("le", "et", "les", "des", "une", "est", "dans", "que", "pour", "qui"),
    "es": ("el", "los", "y", "en", "un", "una", "es", "por", "con", "para"),
}
LANG_ORDER = ("en", "de", "fr", "es")


def words_expr(text: Column | str) -> Column:
    """Lower-cased whitespace tokens, no empties."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(WS_TOKEN_RE), 0)


def token_count_ws(text: Column | str) -> Column:
    # regexp_count: same matcher as size(regexp_extract_all(...)) but stays
    # in codegen and never materializes the token array
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(WS_TOKEN_RE))


def token_count_bpe(text: Column | str) -> Column:
    """Count under the BPE-ish pre-tokenizer (letters/digits/punct split)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(PUNCT_RE))


def stopword_hits(text: Column | str, lang: str) -> Column:
    """Number of whitespace tokens exactly equal to a stopword of ``lang``.

    One codegen'd regexp_count pass over the space-padded text instead of
    extract-all-tokens + interpreted higher-order filter (2.5x faster
    measured, value-identical: the leading ``\\s`` anchors the token start,
    the lookahead leaves the trailing space for the next token, and Java
    backtracking handles prefix-overlapping stopwords like a/and). The
    DuckDB oracle keeps the list_filter formulation — same values, so the
    gate still cross-checks the tokenization semantics."""
    import re as _re

    alt = "|".join(_re.escape(w) for w in STOPWORDS[lang])
    padded = F.concat(F.lit(" "), F.lower(
        F.col(text) if isinstance(text, str) else text
    ), F.lit(" "))
    return F.regexp_count(padded, F.lit(rf"\s({alt})(?=\s)"))


def lang_id_expr(text: Column | str) -> Column:
    """Predicted language = argmax stopword-hit count, ties broken by
    LANG_ORDER; 'und' (undetermined) when no stopword matches."""
    hits = [stopword_hits(text, lg) for lg in LANG_ORDER]
    best = F.greatest(*hits)
    out = F.lit("und")
    # Build when-chain in reverse so earlier languages win ties.
    for lg, h in reversed(list(zip(LANG_ORDER, hits))):
        out = F.when((best > 0) & (h == best), F.lit(lg)).otherwise(out)
    return out


def quality_score_expr(text: Column | str) -> Column:
    """Heuristic quality in [0,1]: length saturation + low punctuation +
    English-stopword density. Rounded to 4dp for cross-engine stability."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c).cast("double")
    n_words = token_count_ws(c).cast("double")
    length_part = F.least(F.lit(1.0), n_chars / F.lit(500.0))
    punct_part = F.lit(1.0) - punct_count(c).cast("double") / F.greatest(
        n_chars, F.lit(1.0)
    )
    sw_part = F.least(
        F.lit(1.0),
        F.lit(3.0) * stopword_hits(c, "en").cast("double") / F.greatest(n_words, F.lit(1.0)),
    )
    return F.round(
        F.lit(0.4) * length_part + F.lit(0.3) * punct_part + F.lit(0.3) * sw_part, 4
    )


def fingerprint_expr(text: Column | str) -> Column:
    """Normalization fingerprint: md5 of the lowercase, whitespace-collapsed
    token stream. Cross-engine reproducible (md5 in Spark and DuckDB);
    the scale-path 64-bit variant is functions/dedup simhash."""
    return F.md5(F.array_join(words_expr(text), " "))


def ordered_rebuild_agg(pos_col: str, val_col: str, sep: str) -> Column:
    """Aggregate expression: ``val_col`` values joined by ``sep`` in
    ``pos_col`` order — the order-preserving text-rebuild step shared by
    boilerplate removal and span excision (collect_list is unordered;
    array_sort on (pos, val) structs restores the original sequence
    deterministically)."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(pos_col, val_col))),
            lambda s: s[val_col],
        ),
        sep,
    )


# PII scrubbing patterns — ASCII-only, backtracking-free, identical
# semantics under Java regex (Spark) and RE2 (DuckDB oracle).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}[- ]\d{3}[- ]?\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii_expr(text: Column | str) -> Column:
    """Struct (clean, n_emails, n_phones, n_ips): text with emails, phone
    numbers, and IPv4 addresses replaced by typed placeholders, plus match
    counts — the standard pre-training scrub pass, entirely in codegen
    (three regexp_replace + three regexp_count, no Python)."""
    c = F.col(text) if isinstance(text, str) else text
    n_emails = F.regexp_count(c, F.lit(PII_EMAIL_RE))
    clean = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    n_phones = F.regexp_count(clean, F.lit(PII_PHONE_RE))
    clean = F.regexp_replace(clean, PII_PHONE_RE, "<PHONE>")
    n_ips = F.regexp_count(clean, F.lit(PII_IPV4_RE))
    clean = F.regexp_replace(clean, PII_IPV4_RE, "<IP>")
    return F.struct(
        clean.alias("clean"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ips.cast("long").alias("n_ips"),
    )


# Gopher-style document filter thresholds (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", appendix A1.1 — public paper values).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MAX_DUP_LINE_FRAC = 0.3


def repetition_stats_expr(text: Column | str) -> Column:
    """Struct of Gopher-style repetition/shape signals, all computed in one
    codegen'd projection (no explode, no shuffle):

    - n_words, mean_word_len
    - symbol_ratio: '#'/'…' symbols per word
    - bullet_frac / ellipsis_frac: fraction of lines starting with a bullet
      / ending with an ellipsis
    - dup_line_frac: fraction of non-empty lines that are duplicates

    Every formula is restated in ANSI SQL by the DuckDB oracle.
    """
    c = F.col(text) if isinstance(text, str) else text
    words = words_expr(c)
    n_words = F.size(words).cast("double")
    total_word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    ).cast("double")
    mean_word_len = total_word_chars / F.greatest(n_words, F.lit(1.0))
    n_symbols = (
        F.regexp_count(c, F.lit(r"#")) + F.regexp_count(c, F.lit(r"\.\.\.|…"))
    ).cast("double")
    lines = F.filter(F.split(c, F.lit("\n")), lambda x: F.length(x) > 0)
    n_lines = F.size(lines).cast("double")
    safe_lines = F.greatest(n_lines, F.lit(1.0))
    bullet_frac = (
        F.size(
            F.filter(lines, lambda x: x.rlike(r"^\s*([-*•]|\d+[.)])\s"))
        ).cast("double")
        / safe_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))).cast(
            "double"
        )
        / safe_lines
    )
    dup_line_frac = (
        n_lines - F.size(F.array_distinct(lines)).cast("double")
    ) / safe_lines
    symbol_ratio = n_symbols / F.greatest(n_words, F.lit(1.0))
    return F.struct(
        F.size(words).cast("long").alias("n_words"),
        # 4dp-rounded display fields: hash-stable across engines in gate
        # output. The keep verdict must NOT use these (a doc within 5e-5 of
        # a threshold would flip between engines) — gopher_pass_expr reads
        # the raw r_* twins below.
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_frac"),
        F.round(dup_line_frac, 4).alias("dup_line_frac"),
        mean_word_len.alias("r_mean_word_len"),
        symbol_ratio.alias("r_symbol_ratio"),
        bullet_frac.alias("r_bullet_frac"),
        ellipsis_frac.alias("r_ellipsis_frac"),
        dup_line_frac.alias("r_dup_line_frac"),
    )


def gopher_pass_expr(stats: Column) -> Column:
    """Boolean Gopher filter verdict over a :func:`repetition_stats_expr`
    struct — the keep/drop decision a pretraining cleaning pass applies.

    Thresholds compare the RAW (unrounded) metric fields, matching the
    DuckDB oracle's ``graw`` CTE exactly; the 4dp fields exist only for
    display/hash output."""
    return (
        (stats["n_words"] >= GOPHER_MIN_WORDS)
        & (stats["n_words"] <= GOPHER_MAX_WORDS)
        & (stats["r_mean_word_len"] >= GOPHER_MIN_MEAN_WORD_LEN)
        & (stats["r_mean_word_len"] <= GOPHER_MAX_MEAN_WORD_LEN)
        & (stats["r_symbol_ratio"] <= GOPHER_MAX_SYMBOL_RATIO)
        & (stats["r_bullet_frac"] <= GOPHER_MAX_BULLET_FRAC)
        & (stats["r_ellipsis_frac"] <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (stats["r_dup_line_frac"] <= GOPHER_MAX_DUP_LINE_FRAC)
    )


def word_shingles_expr(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles (for MinHash). A document shorter than k
    words yields one shingle containing all its words."""
    w = words_expr(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - F.lit(k), F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(w, i + 1, k), " "))
    )


# C4 heuristic cleaning rules (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning with a Unified Text-to-Text Transformer", §2.2 — public
# paper values). The reference has no cleaning stage at all (it stores
# crawl4ai's markdown verbatim, src/utils.py:478-500); this is the
# line-level half of a web-corpus cleaning pipeline, complementing the
# document-level Gopher filter above.
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3
# A line must end in a terminal punctuation mark (., !, ?, or a closing
# double quote), optionally followed by trailing whitespace.
C4_TERMINAL_RE = r'[.!?"]\s*$'
C4_LINE_BADWORD = "javascript"  # lowercase substring, line-level drop
C4_PAGE_DROP_LOREM = "lorem ipsum"  # lowercase substring, page-level drop
C4_PAGE_DROP_BRACE = "{"  # raw substring (code page), page-level drop


def c4_line_keep_expr(line: Column) -> Column:
    """C4's per-line keep predicate: terminal punctuation, ≥ 5 words, and
    no 'javascript'. Pure codegen (rlike + regexp_count + contains); the
    DuckDB oracle restates the identical regexes."""
    return (
        line.rlike(C4_TERMINAL_RE)
        & (F.regexp_count(line, F.lit(WS_TOKEN_RE)) >= C4_MIN_LINE_WORDS)
        & ~F.lower(line).contains(F.lit(C4_LINE_BADWORD))
    )


def c4_clean_expr(text: Column | str) -> Column:
    """Struct (clean, n_removed, page_keep) implementing the C4 cleaning
    pass in ONE codegen projection — no explode, no shuffle, trivially
    data-parallel at 100 TB:

    - ``clean``: the document rebuilt from lines passing
      :func:`c4_line_keep_expr`, joined by newline;
    - ``n_removed``: dropped line count;
    - ``page_keep``: page-level verdict — ≥ ``C4_MIN_KEPT_LINES`` surviving
      lines (C4's "at least 3 sentences" proxy), no 'lorem ipsum', no '{'.

    Dropped pages are FILTERED by the DataFrame wrapper
    (operators/corpus_ops.c4_clean), mirroring C4's page removal.
    """
    c = F.col(text) if isinstance(text, str) else text
    lines = F.split(c, F.lit("\n"))
    kept = F.filter(lines, c4_line_keep_expr)
    page_keep = (
        (F.size(kept) >= C4_MIN_KEPT_LINES)
        & ~F.lower(c).contains(F.lit(C4_PAGE_DROP_LOREM))
        & ~c.contains(F.lit(C4_PAGE_DROP_BRACE))
    )
    return F.struct(
        F.array_join(kept, "\n").alias("clean"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_removed"),
        page_keep.alias("page_keep"),
    )
