"""HTML → markdown extraction.

The reference never converts HTML itself — it consumes crawl4ai's
DefaultMarkdownGenerator output (``result.markdown`` at
src/crawl4ai_mcp.py:948,1016). At 100 TB this stage is where a real
pretraining pipeline spends much of its compute, so the engine ships its
own deterministic converter:

- ``html_to_markdown``: pure-Python kernel (regex block/inline rewrite;
  no HTML library dependency), covering headings → ``#``, paragraphs,
  ``<pre><code>`` → fenced blocks, links ``[text](href)``, images
  ``![alt](src)``, list items ``- ``, ``<br>``; script/style/head/comment
  stripping; entity decoding; whitespace normalization.
- ``extract_markdown_udf`` / ``extract_markdown``: the Arrow-batched Spark
  surface — one ``pandas_udf string → string`` projection, no shuffle, no
  per-row Python round-trip. Output feeds functions/chunking.explode_chunks
  unchanged, so the full crawl → extract → chunk → embed path composes.

Conversion rules are ORDERED: fenced code is cut out first (protected from
all later rewrites via NUL-delimited placeholders that cannot occur in
text), inline elements next (their replacements contain no markup), block
tags after that (they only emit newlines), then tag stripping, entity
decoding, and whitespace normalization.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (module convention)
from pyspark.sql.types import StringType

import pandas as pd

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_DROP_RE = re.compile(r"<(script|style|head)(?:\s[^>]*)?>.*?</\1\s*>", re.S | re.I)
_PRE_RE = re.compile(r"<pre(?:\s[^>]*)?>(.*?)</pre\s*>", re.S | re.I)
_A_RE = re.compile(r"<a\s[^>]*?href=(\"([^\"]*)\"|'([^']*)')[^>]*>(.*?)</a\s*>", re.S | re.I)
_IMG_RE = re.compile(r"<img\s[^>]*?/?>", re.S | re.I)
_ATTR_SRC_RE = re.compile(r"\bsrc=(\"([^\"]*)\"|'([^']*)')", re.I)
_ATTR_ALT_RE = re.compile(r"\balt=(\"([^\"]*)\"|'([^']*)')", re.I)
_H_OPEN_RE = re.compile(r"<h([1-6])(?:\s[^>]*)?>", re.I)
_H_CLOSE_RE = re.compile(r"</h[1-6]\s*>", re.I)
_LI_OPEN_RE = re.compile(r"<li(?:\s[^>]*)?>", re.I)
_LI_CLOSE_RE = re.compile(r"</li\s*>", re.I)
_BR_RE = re.compile(r"<br\s*/?>", re.I)
_BLOCK_RE = re.compile(
    r"</?(p|div|ul|ol|blockquote|table|thead|tbody|tr|section|article|header"
    r"|footer|main|nav|html|body|figure|figcaption)(?:\s[^>]*)?>",
    re.I,
)
_TAG_RE = re.compile(r"<[^>]+>")
_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}
_ENTITY_RE = re.compile("|".join(_ENTITIES))
_FENCE_SLOT_RE = re.compile("\x00(\\d+)\x00")


def _unescape(s: str) -> str:
    return _ENTITY_RE.sub(lambda m: _ENTITIES[m.group(0)], s)


def html_to_markdown(html: str) -> str:
    """Deterministic HTML → markdown conversion (pure function; the kernel
    the Arrow-batched UDF applies per cell)."""
    if not html:
        return ""
    # NUL delimits the fence placeholders below; strip it from the input so
    # adversarial bytes (\x001\x00) can't splice fences or index past the
    # list and kill the whole Arrow batch. NUL is invalid in HTML anyway.
    s = html.replace("\x00", "") if "\x00" in html else html
    s = _COMMENT_RE.sub("", s)
    s = _DROP_RE.sub("", s)

    fences: list[str] = []

    def _fence(m: re.Match) -> str:
        code = _TAG_RE.sub("", m.group(1))
        code = _unescape(code).strip("\n")
        fences.append(f"```\n{code}\n```")
        return f"\n\n\x00{len(fences) - 1}\x00\n\n"

    s = _PRE_RE.sub(_fence, s)

    def _link(m: re.Match) -> str:
        href = m.group(2) if m.group(2) is not None else m.group(3)
        text = _TAG_RE.sub("", m.group(4)).strip()
        return f"[{text}]({href})"

    s = _A_RE.sub(_link, s)

    def _img(m: re.Match) -> str:
        tag = m.group(0)
        srcm = _ATTR_SRC_RE.search(tag)
        altm = _ATTR_ALT_RE.search(tag)
        src = (srcm.group(2) or srcm.group(3)) if srcm else ""
        alt = (altm.group(2) or altm.group(3)) if altm else ""
        return f"![{alt}]({src})"

    s = _IMG_RE.sub(_img, s)
    s = _H_OPEN_RE.sub(lambda m: "\n\n" + "#" * int(m.group(1)) + " ", s)
    s = _H_CLOSE_RE.sub("\n\n", s)
    s = _LI_OPEN_RE.sub("\n- ", s)
    s = _LI_CLOSE_RE.sub("", s)
    s = _BR_RE.sub("\n", s)
    s = _BLOCK_RE.sub("\n\n", s)
    s = _TAG_RE.sub("", s)
    # whitespace normalization happens BEFORE entity decode so literal
    # entities (&nbsp;) survive collapsing, and before fence restore so
    # fenced content is never touched
    s = re.sub(r"[ \t]+", " ", s)
    s = re.sub(r"\n ", "\n", s)
    s = re.sub(r" \n", "\n", s)
    s = re.sub(r"\n{3,}", "\n\n", s)
    s = _unescape(s)
    s = _FENCE_SLOT_RE.sub(lambda m: fences[int(m.group(1))], s)
    return s.strip()


def extract_markdown_udf():
    """Arrow-batched ``string → string`` extraction UDF."""

    @F.pandas_udf(StringType())
    def _extract(htmls: pd.Series) -> pd.Series:
        return htmls.map(lambda h: html_to_markdown(h) if h else "")

    return _extract


def extract_markdown(
    df: DataFrame, html_col: str = "raw_html", out_col: str = "markdown"
) -> DataFrame:
    """Adds ``out_col`` with the markdown extraction of ``html_col`` — one
    stateless Arrow projection, trivially parallel at any scale."""
    return df.withColumn(out_col, extract_markdown_udf()(F.col(html_col)))
