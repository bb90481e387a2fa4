"""Deterministic synthetic corpus: web graph + image payloads + crawl config.

This module is the SINGLE SOURCE OF TRUTH for the graph formulas. Three
independent consumers reproduce them exactly:

1. Spark generation here (pure column expressions over ``spark.range``);
2. the DuckDB recursive-CTE oracle in ``__spark_entry__.py`` (its edge step
   is rendered from EDGE_A/EDGE_B/EDGE_C/OUT_DEGREE, its fetch/robots
   predicate via :func:`oracle_expandable_sql`);
3. the plain-Python BFS oracle in tests (:func:`py_graph`).

Graph contract for page id ``i`` in ``[0, n)``:

- host(i)   = 0 if i % HOT_HOST_MOD == 0 else i % n_hosts    (host 0 is hot —
              exercises skew/salting)
- path(i)   = '/private/p/{i}' if i % PRIVATE_MOD == 0 else '/p/{i}'
              ('/private' is robots-disallowed on every host)
- url(i)    = 'https://h{host(i)}.example.com' + path(i)
- status(i) = 404 if i % FAIL404_MOD == 0 else 429 if i % FAIL429_MOD == 0
              else 200; success = status == 200
- edges     : t_j(i) = (EDGE_A*i + EDGE_B*j + EDGE_C) % n  for j in 0..OUT_DEGREE-1

``out_links`` as *emitted by pages* additionally exercise every link filter:
target j==1 is emitted dot-relative ('../p/{t}') when same-host, target j==0
gets a '#frag' fragment when (i+t) % FRAG_MOD == 0, and every page emits one
binary-extension link and one off-domain link (both must be dropped by the
engine and never reach the frontier). The *logical* edge set is exactly the
t_j formula — that is what the oracles reproduce.

Everything is seeded/modular — no wall clock, no unseeded RNG (FIXTURES.md
determinism rules).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.images import decode_image, encode_image, gen_caption, gen_pixels, phash64

# --- graph constants (shared with all oracles) ---
N_HOSTS = 10
HOT_HOST_MOD = 4
PRIVATE_MOD = 41
FAIL404_MOD = 37
FAIL429_MOD = 53
OUT_DEGREE = 3
EDGE_A, EDGE_B, EDGE_C = 31, 7, 1
FRAG_MOD = 5
SEED_IDS = (1, 2, 3)  # chosen to avoid the failure/robots residues
IMAGES_PER_PAGE = 2
IMG_FK_A, IMG_FK_B = 13, 5


def host_of(i: int, n_hosts: int = N_HOSTS) -> int:
    return 0 if i % HOT_HOST_MOD == 0 else i % n_hosts


def path_of(i: int) -> str:
    return f"/private/p/{i}" if i % PRIVATE_MOD == 0 else f"/p/{i}"


def url_of(i: int, n_hosts: int = N_HOSTS) -> str:
    return f"https://h{host_of(i, n_hosts)}.example.com{path_of(i)}"


def status_of(i: int) -> int:
    if i % FAIL404_MOD == 0:
        return 404
    if i % FAIL429_MOD == 0:
        return 429
    return 200


def targets_of(i: int, n: int) -> list[int]:
    return [(EDGE_A * i + EDGE_B * j + EDGE_C) % n for j in range(OUT_DEGREE)]


def py_graph(n: int, n_hosts: int = N_HOSTS) -> dict[int, dict]:
    """Plain-Python materialization for the differential BFS oracle."""
    return {
        i: {
            "url": url_of(i, n_hosts),
            "host": host_of(i, n_hosts),
            "path": path_of(i),
            "status": status_of(i),
            "robots_denied": i % PRIVATE_MOD == 0,
            "targets": targets_of(i, n),
        }
        for i in range(n)
    }


# ---------------------------------------------------------------------------
# Spark generators (pure column expressions — scale-out by construction)
# ---------------------------------------------------------------------------


def _host_expr(i):
    return F.when(i % HOT_HOST_MOD == 0, F.lit(0)).otherwise(
        (i % N_HOSTS).cast("int")
    )


def _url_expr(i):
    host = _host_expr(i)
    path = F.when(
        i % PRIVATE_MOD == 0, F.concat(F.lit("/private/p/"), i.cast("string"))
    ).otherwise(F.concat(F.lit("/p/"), i.cast("string")))
    return F.concat(F.lit("https://h"), host.cast("string"), F.lit(".example.com"), path)


def gen_pages(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Synthetic fetchable web corpus: what a fetch of url(i) returns.

    Models the crawl-result shape {url, markdown, links, success} of the
    reference (src/crawl4ai_mcp.py:948,1016,523-526). ``out_links`` are hrefs
    *as a page would emit them* (relative/fragment/binary/off-domain noise
    included); markdown includes headers and ``` fences to exercise the
    chunker.
    """
    df = spark.range(0, n, 1, partitions).select(F.col("id").cast("long"))
    i = F.col("id")
    n_lit = F.lit(n)

    host = _host_expr(i)
    url = _url_expr(i)
    hostname = F.concat(F.lit("h"), host.cast("string"), F.lit(".example.com"))

    def target(j: int):
        return (i * EDGE_A + F.lit(EDGE_B * j + EDGE_C)) % n_lit

    def target_url(j: int):
        return _url_expr(target(j))

    # href emission: j=0 absolute (+#frag when (i+t)%FRAG_MOD==0),
    # j=1 dot-relative when same host else absolute, j=2 absolute.
    t0, t1 = target(0), target(1)
    href0 = F.when(
        (i + t0) % FRAG_MOD == 0, F.concat(target_url(0), F.lit("#frag"))
    ).otherwise(target_url(0))
    t1_path = F.when(
        t1 % PRIVATE_MOD == 0, F.concat(F.lit("../private/p/"), t1.cast("string"))
    ).otherwise(F.concat(F.lit("../p/"), t1.cast("string")))
    href1 = F.when(_host_expr(t1) == host, t1_path).otherwise(target_url(1))
    href2 = target_url(2)
    noise_binary = F.concat(url, F.lit("/img_"), i.cast("string"), F.lit(".png"))
    noise_offsite = F.concat(F.lit("https://offsite.example.org/x"), i.cast("string"))

    markdown = F.concat(
        F.lit("# Page "), i.cast("string"),
        F.lit("\n\nSynthetic host "), hostname,
        F.lit(" body text with words. More sentences here. "),
        F.lit("\n\n## Section\n\n```\ncode block line\n```\n\nTail paragraph "),
        # 12 repeats keeps multi-chunk docs (chunk_size<=800 paths) while not
        # making synthetic-markdown generation dominate crawl benchmarks
        F.repeat(F.concat(F.lit("filler"), (i % 17).cast("string"), F.lit(" ")), 12),
    )

    status = (
        F.when(i % FAIL404_MOD == 0, F.lit(404))
        .when(i % FAIL429_MOD == 0, F.lit(429))
        .otherwise(F.lit(200))
    )

    img = lambda k: F.format_string("img_%012d", (i * IMG_FK_A + F.lit(k * IMG_FK_B)) % n_lit)

    return df.select(
        url.alias("url"),
        hostname.alias("host"),
        F.when(i % PRIVATE_MOD == 0, F.concat(F.lit("/private/p/"), i.cast("string")))
        .otherwise(F.concat(F.lit("/p/"), i.cast("string")))
        .alias("path"),
        markdown.alias("markdown"),
        F.array(href0, href1, href2, noise_binary, noise_offsite).alias("out_links"),
        F.array(*[img(k) for k in range(IMAGES_PER_PAGE)]).alias("image_ids"),
        status.alias("status"),
        (status == 200).alias("success"),
    )


def gen_html_pages(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Raw-HTML corpus for the HTML→markdown extraction stage (the input
    shape crawl4ai's generator consumes before the reference ever sees
    ``result.markdown``, src/crawl4ai_mcp.py:948). Rendered from the same
    modular id formulas as :func:`gen_pages` — headings, bold, entities
    (&nbsp; &amp;), a fenced code block, a list, double- and single-quoted
    links to graph edge targets, an image tag, plus comment/style/script
    noise the extractor must drop — so the expected extracted markdown has
    a closed form the DuckDB oracle restates."""
    df = spark.range(0, n, 1, partitions)
    i = F.col("id")
    host = _host_expr(i)
    hostname = F.concat(F.lit("h"), host.cast("string"), F.lit(".example.com"))
    url = _url_expr(i)

    def turl(j: int):
        return _url_expr((i * EDGE_A + F.lit(EDGE_B * j + EDGE_C)) % F.lit(n))

    img_src = F.concat(
        F.lit("https://"), hostname, F.lit("/img_"), i.cast("string"), F.lit(".png")
    )
    filler = F.repeat(
        F.concat(F.lit("filler"), (i % 17).cast("string"), F.lit(" ")), 12
    )
    raw_html = F.concat(
        F.lit("<html><head><title>Page "), i.cast("string"),
        F.lit("</title><style>body { margin: 0; }</style></head>\n<body>\n<!-- gen page "),
        i.cast("string"),
        F.lit(" -->\n<h1>Page "), i.cast("string"),
        F.lit("</h1>\n<p>Synthetic host <b>"), hostname,
        F.lit("</b> body text with&nbsp;words. More sentences here.</p>\n"
              "<h2>Section</h2>\n<pre><code>code block line "),
        (i % 13).cast("string"),
        F.lit("</code></pre>\n<p>Tail paragraph "), filler,
        F.lit("</p>\n<ul><li>alpha "), (i % 7).cast("string"),
        F.lit('</li><li>beta &amp; gamma</li></ul>\n<p>See <a href="'), turl(0),
        F.lit("\">next page</a> and <a href='"), turl(2),
        F.lit("'>more</a> and <img src=\""), img_src,
        F.lit('" alt="pic '), i.cast("string"),
        F.lit('"/></p>\n<script>var x = '), i.cast("string"),
        F.lit(";</script>\n</body></html>"),
    )
    return df.select(
        i.alias("page_id"), url.alias("url"), raw_html.alias("raw_html")
    )


N_BOILER_HOSTS = 5
# marker inventory of the extraction-quality harness (single-sourced for
# generator, gate, oracle, tests): 2 unique-per-page MAIN markers; 7
# boilerplate markers per host — 4 rendered as real text (nav link,
# cookie banner, social bar, footer: they SURVIVE extraction and must
# die in the corpus-level strip) and 3 buried in script/comment/onclick
# (they must die at EXTRACTION itself)
BOILER_MAIN_MARKERS = ("mainA{i}token", "mainB{i}token")
BOILER_TEXT_MARKERS = ("bpnav{h}x", "bpcookie{h}x", "bpshare{h}x", "bpfoot{h}x")
BOILER_CODE_MARKERS = ("bpjs{h}x", "bpcmt{h}x", "bpclick{h}x")


def gen_boiler_html_pages(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Ground-truth corpus for the extraction-QUALITY harness (r5): every
    page plants unique MAIN-content markers and per-host BOILERPLATE
    markers across the hazard classes a real crawl serves — nav soup,
    cookie banner, social bar, footer (host-constant text lines), plus
    inline-JS/comment/onclick remnants. Because the truth is planted,
    precision/recall of extract_markdown + strip_boilerplate against it
    is EXACT (the neardup_recall precedent applied to extraction): main
    markers must all survive both stages; text-boilerplate markers must
    survive extraction (they are real text) and die in the strip;
    code-boilerplate markers must die at extraction. The reference
    delegates all of this to crawl4ai's generator and never measures it
    (src/crawl4ai_mcp.py:948)."""
    df = spark.range(0, n, 1, partitions)
    i = F.col("id").cast("string")
    h = (F.col("id") % N_BOILER_HOSTS).cast("string")
    url = F.concat(F.lit("https://b"), h, F.lit(".example.com/art/"), i)
    raw_html = F.concat(
        F.lit("<html><head><title>Article "), i,
        F.lit("</title><style>body{margin:0}</style></head>\n<body>\n"
              '<nav><ul><li><a href="/home">Home bpnav'), h,
        F.lit('x</a></li><li><a href="/about">About</a></li></ul></nav>\n'
              '<div class="cookie">This site uses cookies bpcookie'), h,
        F.lit("x accept or decline</div>\n<h1>Article "), i,
        F.lit("</h1>\n<p>Main body mainA"), i,
        F.lit("token with unique content sentence "), i,
        F.lit(".</p>\n<p>Second paragraph mainB"), i,
        F.lit("token continues the article text "), i,
        F.lit('.</p>\n<script>var tracker = "bpjs'), h,
        F.lit('x";</script>\n<!-- analytics bpcmt'), h,
        F.lit("x -->\n<a href=\"#\" onclick=\"track('bpclick"), h,
        F.lit("x')\">share</a>\n"
              '<div class="share">Share on FaceSpace bpshare'), h,
        F.lit("x like subscribe</div>\n<footer>Copyright bpfoot"), h,
        F.lit("x 2026 All rights reserved</footer>\n</body></html>"),
    )
    return df.select(
        F.col("id").alias("page_id"),
        url.alias("url"),
        F.concat(F.lit("b"), h, F.lit(".example.com")).alias("host"),
        raw_html.alias("raw_html"),
    )


IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
    ]
)


def gen_images(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Image+caption corpus in the exact BASELINE.json input_hint shape.

    Payload synthesis runs distributed in mapInPandas (numpy + fake codec);
    w/h are multiples of 8 in [32, 64]; fmt alternates png/jpeg.
    """
    base = spark.range(0, n, 1, partitions).select(
        F.format_string("img_%012d", F.col("id")).alias("image_id"),
        (F.lit(32) + (F.col("id") % 5) * 8).cast("int").alias("w"),
        (F.lit(32) + (F.col("id") % 3) * 16).cast("int").alias("h"),
        F.when(F.col("id") % 2 == 0, F.lit("png")).otherwise(F.lit("jpeg")).alias("fmt"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, w, h, fmt in zip(pdf["image_id"], pdf["w"], pdf["h"], pdf["fmt"]):
                px = gen_pixels(iid, int(w), int(h))
                blob = encode_image(px, fmt)
                # stored phash is of the DECODED pixels (what a verifier can
                # recompute), so lossy fmt still matches exactly
                _, dec = decode_image(blob)
                rows.append(
                    (iid, blob, int(w), int(h), fmt, gen_caption(iid), phash64(dec))
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
            )

    return base.mapInPandas(gen, schema=IMAGES_SCHEMA)


AUDIO_SCHEMA = StructType(
    [
        StructField("audio_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("sr", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("fmt", StringType()),
    ]
)


def gen_audio(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Audio-clip corpus (deterministic fake PCM codec, functions/media.py).

    Metadata is a pure function of the clip index so the DuckDB oracle can
    recompute it: sr ∈ {8,12,16} kHz by id%3, n_samples = sr*(2+id%4)/4
    (0.5–1.25 s), fmt alternates pcm (lossless) / qpcm (lossy)."""
    from ..functions.media import encode_audio, gen_waveform

    base = spark.range(0, n, 1, partitions).select(
        F.format_string("aud_%012d", F.col("id")).alias("audio_id"),
        (F.lit(8000) + (F.col("id") % 3) * 4000).cast("int").alias("sr"),
        F.col("id").alias("i"),
        F.when(F.col("id") % 2 == 0, F.lit("pcm")).otherwise(F.lit("qpcm")).alias("fmt"),
    ).select(
        "audio_id",
        "sr",
        ((F.col("sr") * (F.lit(2) + F.col("i") % 4)) / 4).cast("long").alias("n_samples"),
        "fmt",
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, sr, ns, fmt in zip(
                pdf["audio_id"], pdf["sr"], pdf["n_samples"], pdf["fmt"]
            ):
                wave = gen_waveform(aid, int(sr), int(ns))
                rows.append((aid, encode_audio(wave, int(sr), fmt), int(sr), int(ns), fmt))
            yield pd.DataFrame(
                rows, columns=["audio_id", "bytes", "sr", "n_samples", "fmt"]
            )

    return base.mapInPandas(gen, schema=AUDIO_SCHEMA)


VIDEOS_SCHEMA = StructType(
    [
        StructField("video_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("fps", IntegerType()),
    ]
)


def gen_videos(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Video corpus (deterministic fake frame-stack codec, functions/media.py).

    Closed-form metadata: w = 32+(id%3)*16, h = 32+(id%2)*16,
    n_frames = 8+(id%4)*4, fps = 8 — so frame-sampling row counts are
    SQL-derivable while the binary decode itself runs on the Spark side."""
    import numpy as np

    from ..functions.media import encode_video, gen_frame

    base = spark.range(0, n, 1, partitions).select(
        F.format_string("vid_%012d", F.col("id")).alias("video_id"),
        (F.lit(32) + (F.col("id") % 3) * 16).cast("int").alias("w"),
        (F.lit(32) + (F.col("id") % 2) * 16).cast("int").alias("h"),
        (F.lit(8) + (F.col("id") % 4) * 4).cast("int").alias("n_frames"),
        F.lit(8).cast("int").alias("fps"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, w, h, nf, fps in zip(
                pdf["video_id"], pdf["w"], pdf["h"], pdf["n_frames"], pdf["fps"]
            ):
                frames = np.stack(
                    [gen_frame(vid, int(w), int(h), k) for k in range(int(nf))]
                )
                rows.append(
                    (vid, encode_video(frames, int(fps)), int(w), int(h), int(nf), int(fps))
                )
            yield pd.DataFrame(
                rows,
                columns=["video_id", "bytes", "w", "h", "n_frames", "fps"],
            )

    return base.mapInPandas(gen, schema=VIDEOS_SCHEMA)


SITEMAPS_PER_HOST = 3


def gen_sitemaps(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Sitemap corpus (url, body binary): per host, one ``sitemap_index.xml``
    pointing at SITEMAPS_PER_HOST gzipped ``sitemap_{k}.xml.gz`` files, which
    list the host's pages with ``i % SITEMAPS_PER_HOST == k``. The flattened
    expansion of host h's index is therefore exactly {url(i) : host(i) = h} —
    SQL-reproducible without XML (the oracle's contract)."""
    from pyspark.sql.types import BinaryType

    i = F.col("id")
    host = _host_expr(i)
    # deterministic <lastmod>: day-of-January keyed by id — the closed form
    # the lastmod gate leg re-derives (age vs the fixed NOW constant)
    lastmod = F.concat(
        F.lit("2026-01-"), F.lpad(((i % 28) + 1).cast("string"), 2, "0")
    )
    # deterministic <priority>: i%11 spans the full sitemaps.org range
    # 0.0 .. 0.9, 1.0 — the closed form the priority gate leg re-derives
    priority = F.when(i % 11 == 10, F.lit("1.0")).otherwise(
        F.concat(F.lit("0."), (i % 11).cast("string"))
    )
    # deterministic <changefreq>: i%7 cycles the full sitemaps.org
    # vocabulary — the closed form the changefreq gate leg re-derives
    changefreq = F.element_at(
        F.array(*[F.lit(v) for v in CHANGEFREQ_VALUES]), (i % 7 + 1).cast("int")
    )
    entries = spark.range(0, n, 1, partitions).select(
        host.alias("h"),
        (i % SITEMAPS_PER_HOST).alias("k"),
        i.alias("id"),
        F.concat(
            F.lit("<url><loc>"), _url_expr(i), F.lit("</loc><lastmod>"),
            lastmod, F.lit("</lastmod><changefreq>"), changefreq,
            F.lit("</changefreq><priority>"), priority,
            F.lit("</priority></url>"),
        ).alias("e"),
    )
    urlsets = entries.groupBy("h", "k").agg(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("id", "e"))), lambda s: s["e"]
                ),
                "",
            ),
            F.lit("</urlset>"),
        ).alias("xml")
    )

    @F.pandas_udf(BinaryType())
    def _gz(xmls: pd.Series) -> pd.Series:
        import gzip

        return xmls.map(lambda x: gzip.compress(x.encode("utf-8"), 6))

    sub = urlsets.select(
        F.concat(
            F.lit("https://h"), F.col("h").cast("string"),
            F.lit(".example.com/sitemap_"), F.col("k").cast("string"), F.lit(".xml.gz"),
        ).alias("url"),
        _gz(F.col("xml")).alias("body"),
    )

    hosts = spark.range(0, N_HOSTS).select(F.col("id").alias("h"))
    idx_entries = F.concat_ws(
        "",
        F.array(
            *[
                F.concat(
                    F.lit("<sitemap><loc>https://h"), F.col("h").cast("string"),
                    F.lit(f".example.com/sitemap_{k}.xml.gz</loc></sitemap>"),
                )
                for k in range(SITEMAPS_PER_HOST)
            ]
        ),
    )
    index = hosts.select(
        F.concat(
            F.lit("https://h"), F.col("h").cast("string"),
            F.lit(".example.com/sitemap_index.xml"),
        ).alias("url"),
        F.encode(
            F.concat(
                F.lit('<?xml version="1.0"?><sitemapindex>'), idx_entries,
                F.lit("</sitemapindex>"),
            ),
            "utf-8",
        ).alias("body"),
    )
    return sub.unionByName(index)


def gen_seeds(spark: SparkSession, n: int, n_hosts: int = N_HOSTS) -> DataFrame:
    rows = [
        (url_of(s, n_hosts), 0, 0, k) for k, s in enumerate(SEED_IDS) if s < n
    ]
    return spark.createDataFrame(rows, "url string, priority int, depth int, seq long")


def gen_robots(spark: SparkSession, n_hosts: int = N_HOSTS) -> DataFrame:
    rows = [
        (f"h{h}.example.com", ["/private"], 2.0 if h == 1 else None)
        for h in range(n_hosts)
    ]
    return spark.createDataFrame(
        rows, "host string, disallow_prefixes array<string>, crawl_delay double"
    )


def gen_robots_bodies(spark: SparkSession, n_hosts: int = N_HOSTS) -> DataFrame:
    """(host, body): deterministic raw robots.txt bodies whose PARSE equals
    :func:`gen_robots` exactly (pinned in tests) and which carry the
    sitemap-discovery surface: every host advertises its sitemap index via
    a global ``Sitemap:`` directive, every 3rd host a second (news)
    sitemap, and host 1 a crawl-delay — all closed-form in h so a SQL
    oracle re-derives the discovery output from generate_series."""
    rows = []
    for h in range(n_hosts):
        host = f"h{h}.example.com"
        lines = [
            "# synthetic robots corpus",
            "User-agent: *",
            "Disallow: /private",
        ]
        if h == 1:
            lines.append("Crawl-delay: 2")
        lines.append(f"Sitemap: https://{host}/sitemap_index.xml")
        if h % 3 == 0:
            lines.append(f"Sitemap: https://{host}/sitemap_news.xml")
        rows.append((host, "\n".join(lines) + "\n"))
    return spark.createDataFrame(rows, "host string, body string")


# ---------------------------------------------------------------------------
# Oracle SQL fragments (DuckDB) — rendered from the same constants
# ---------------------------------------------------------------------------


def oracle_url_sql(id_expr: str) -> str:
    """SQL expression rebuilding url(i) — DuckDB dialect."""
    host = f"(CASE WHEN ({id_expr}) % {HOT_HOST_MOD} = 0 THEN 0 ELSE ({id_expr}) % {N_HOSTS} END)"
    path = (
        f"(CASE WHEN ({id_expr}) % {PRIVATE_MOD} = 0 THEN '/private/p/' ELSE '/p/' END)"
    )
    return f"('https://h' || {host} || '.example.com' || {path} || ({id_expr}))"


def oracle_expandable_sql(id_expr: str) -> str:
    """Predicate: page ``id_expr`` was fetched successfully AND robots-allowed
    (only such pages contribute out-edges)."""
    return (
        f"(({id_expr}) % {FAIL404_MOD} <> 0 AND ({id_expr}) % {FAIL429_MOD} <> 0 "
        f"AND ({id_expr}) % {PRIVATE_MOD} <> 0)"
    )


# ---------------------------------------------------------------------------
# Write-once materialization: the deployment shape is an engine reading a
# STORED corpus table (Iceberg/parquet), not a generator re-running inside
# every scan. Cache key = md5(this module's source + n), so any edit to the
# generators invalidates automatically; the rename publish keeps concurrent
# builders from observing half-written tables.
# ---------------------------------------------------------------------------

_CORPUS_CACHE_DIR = "/dev/shm/mcp_spark_corpus"


def _materialized(spark: SparkSession, name: str, n: int, gen) -> DataFrame:
    import hashlib
    import os

    # zip-import-safe source read (spark-submit --py-files ships the
    # package as a zip, where open(__file__) raises): the module loader's
    # get_source works in both layouts
    import importlib.util

    spec = importlib.util.find_spec(__name__)
    src = (spec.loader.get_source(__name__) or "").encode()
    key = hashlib.md5(src + f":{name}:{n}".encode()).hexdigest()[:12]
    path = os.path.join(_CORPUS_CACHE_DIR, f"{name}_{n}_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.build{os.getpid()}"
        gen(spark, n).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # lost the publish race — another builder finished first
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def materialized_pages(spark: SparkSession, n: int) -> DataFrame:
    """Parquet-materialized ``gen_pages(n)`` (write-once per generator
    version): fetch-joins then scan a real columnar table — with column
    pruning and pushdown — instead of re-running string synthesis."""
    return _materialized(spark, "pages", n, gen_pages)


def materialized_sitemaps(spark: SparkSession, n: int) -> DataFrame:
    """Parquet-materialized ``gen_sitemaps(n)`` (gzip+XML synthesis is the
    costliest generator; one build serves every query/run of this code)."""
    return _materialized(spark, "sitemaps", n, gen_sitemaps)


# WARC archive synthesis: page i is DOWN (response 404, empty body) when
# i % WARC_404_MOD == 0; every WARC_REQ_MOD-th page also archives its
# 'request' record (the parser must skip it); every WARC_GZ_MOD-th blob is
# gzip-compressed (the parser must sniff the magic)
WARC_404_MOD = 23
WARC_REQ_MOD = 5
WARC_GZ_MOD = 3

# Legacy-charset planting (r5): Common Crawl bodies arrive in every
# encoding, so pages at i % WARC_CHARSET_MOD residues are archived in a
# NON-UTF-8 encoding, each declared through a different channel the
# sniffer must honor (sources/warc.sniff_charset) — and each prefixed
# with a non-ASCII paragraph whose decoded markdown the oracle restates
# verbatim, so mojibake is provably absent from the hash gate:
#   residue 1: latin-1, declared in the Content-Type header;
#   residue 2: windows-1251, declared ONLY by an in-document
#              <meta charset> (header says bare text/html);
#   residue 3: shift-jis, declared in the Content-Type header;
#   residue 4: utf-16 WITH BOM while the header LIES (charset=utf-8) —
#              BOM precedence must win.
WARC_CHARSET_MOD = 7
# residue -> (codec, Content-Type header, meta tag to inject, prefix text)
WARC_CHARSET_PLAN: dict[int, tuple[str, str, str, str]] = {
    1: (
        "latin-1",
        "text/html; charset=ISO-8859-1",
        "",
        "Café naïve résumé über señor",
    ),
    2: (
        "cp1251",
        "text/html",
        '<meta charset="windows-1251">',
        "Привет мир "
        "данные тест",
    ),
    3: (
        "shift_jis",
        "text/html; charset=Shift_JIS",
        "",
        "こんにちは世界のデータ",
    ),
    4: (
        "utf-16",
        "text/html; charset=utf-8",  # deliberately wrong — BOM wins
        "",
        "Ωμέγα δεδομ"
        "ένα κείμενο",
    ),
}


def gen_warc_blobs(
    spark: SparkSession, n: int, records_per_blob: int = 20
) -> DataFrame:
    """WARC archive corpus: the ``gen_html_pages`` corpus re-rendered as
    deterministic WARC/1.0 blobs (sources/warc.py documents the format) —
    (warc_file string, data binary), one blob per ``records_per_blob``
    consecutive page ids. Each blob opens with a ``warcinfo`` record; each
    page contributes a ``response`` record (HTTP 404 with an empty body for
    down pages, else 200 carrying the closed-form raw HTML), preceded by a
    skippable ``request`` record for every WARC_REQ_MOD-th page; every
    WARC_GZ_MOD-th blob is gzipped. Rendering groups by blob id in
    ``applyInPandas`` so the HTML closed form stays single-sourced in
    :func:`gen_html_pages`."""
    import gzip as _gzip

    from .warc import render_http_response, render_warc_record

    pages = gen_html_pages(spark, n).withColumn(
        "blob_id", (F.col("page_id") / records_per_blob).cast("long")
    )

    out_schema = StructType(
        [
            StructField("warc_file", StringType()),
            StructField("data", BinaryType()),
        ]
    )

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("page_id")
        bid = int(pdf["blob_id"].iloc[0])
        fname = f"crawl-{bid:06d}.warc"
        parts = [
            render_warc_record(
                "warcinfo",
                None,
                b"software: mcp_crawl4ai_rag_spark synthetic archive\r\n",
                record_id=f"info-{bid}",
                content_type="application/warc-fields",
            )
        ]
        for pid, url, html in zip(pdf["page_id"], pdf["url"], pdf["raw_html"]):
            pid = int(pid)
            if pid % WARC_REQ_MOD == 0:
                req = (
                    f"GET {url} HTTP/1.1\r\nHost: example.com\r\n\r\n"
                ).encode("utf-8")
                parts.append(
                    render_warc_record(
                        "request",
                        url,
                        req,
                        record_id=f"req-{pid}",
                        content_type="application/http; msgtype=request",
                    )
                )
            if pid % WARC_404_MOD == 0:
                block = render_http_response("", status=404)
            elif pid % WARC_CHARSET_MOD in WARC_CHARSET_PLAN:
                codec, ctype, meta, prefix = WARC_CHARSET_PLAN[
                    pid % WARC_CHARSET_MOD
                ]
                payload = (f"{meta}<p>{prefix}</p>" + html).encode(codec)
                block = render_http_response(
                    payload, status=200, content_type=ctype
                )
            else:
                block = render_http_response(html, status=200)
            parts.append(
                render_warc_record(
                    "response", url, block, record_id=f"resp-{pid}"
                )
            )
        data = b"".join(parts)
        if bid % WARC_GZ_MOD == 0:
            fname += ".gz"
            data = _gzip.compress(data, compresslevel=1, mtime=0)
        return pd.DataFrame({"warc_file": [fname], "data": [data]})

    return pages.groupBy("blob_id").applyInPandas(render, out_schema)


# sitemaps.org <changefreq> vocabulary, in the i%7 cycle order gen_sitemaps
# emits (the closed form the changefreq gate leg re-derives)
CHANGEFREQ_VALUES = (
    "always", "hourly", "daily", "weekly", "monthly", "yearly", "never",
)


# Redirect map closed form: url(i) 301s to url((i*REDIR_MULT + REDIR_ADD)
# % n) when i % REDIR_MOD == REDIR_RESIDUE — dense enough that a BFS from
# the seeds hits redirect sources within CRAWL_DEPTH levels (pinned
# non-vacuous in tests)
REDIR_MOD = 5
REDIR_RESIDUE = 2
REDIR_MULT = 7
REDIR_ADD = 3


def redirect_of(i: int, n: int) -> int | None:
    """Python twin of the redirect closed form (None = no redirect)."""
    if i % REDIR_MOD == REDIR_RESIDUE:
        return (i * REDIR_MULT + REDIR_ADD) % n
    return None


def gen_redirects(spark: SparkSession, n: int, partitions: int = 16) -> DataFrame:
    """(from_url, to_url) redirect table over the synthetic corpus —
    feed to ``CrawlEngine(redirects=...)``."""
    i = F.col("id")
    src = spark.range(0, n, 1, partitions).where(i % REDIR_MOD == REDIR_RESIDUE)
    return src.select(
        _url_expr(i).alias("from_url"),
        _url_expr((i * REDIR_MULT + F.lit(REDIR_ADD)) % F.lit(n)).alias("to_url"),
    )
