"""RAG store/query plan: chunk → embed → upsert → top-k retrieve
(reference add_documents_to_supabase / search_documents semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcp_crawl4ai_rag_spark.functions.embedding import embed_query, embed_text
from mcp_crawl4ai_rag_spark.plans.rag import (
    available_sources,
    build_chunks,
    search_documents,
    store_documents,
    store_documents_incremental,
)
from mcp_crawl4ai_rag_spark.functions.embedding import with_embeddings

DIM = 32


@pytest.fixture(scope="module")
def store(spark):
    docs = spark.createDataFrame(
        [
            ("https://a.example.com/x", "alpha content about spark joins. " * 30),
            ("https://a.example.com/y", "beta content about python udfs. " * 30),
            ("https://b.example.com/z", "gamma content about bloom filters. " * 30),
        ],
        "url string, markdown string",
    )
    chunks = build_chunks(docs, chunk_size=300)
    return store_documents(None, with_embeddings(chunks, text_col="content", dim=DIM))


def test_chunks_have_reference_metadata(store):
    cols = set(store.columns)
    assert {"url", "chunk_number", "content", "source", "headers",
            "char_count", "word_count", "crawl_type", "crawl_time",
            "embedding"} <= cols
    r = store.where(F.col("chunk_number") == 0).head()
    assert r["source"] in ("a.example.com", "b.example.com")
    assert len(r["embedding"]) == DIM


def test_upsert_replaces_on_key(store, spark):
    replacement = store.limit(1).withColumn("content", F.lit("REPLACED"))
    merged = store_documents(store, replacement)
    assert merged.count() == store.count()  # same keys, no growth
    key = replacement.select("url", "chunk_number").head()
    got = merged.where(
        (F.col("url") == key["url"]) & (F.col("chunk_number") == key["chunk_number"])
    ).collect()
    assert len(got) == 1 and got[0]["content"] == "REPLACED"


def test_search_topk_and_source_filter(store):
    # query identical to stored content → its chunk must rank first with sim 1.0
    target = store.orderBy("url", "chunk_number").head()
    hits = search_documents(
        store, target["content"], match_count=3, dim=DIM
    ).collect()
    assert hits[0]["url"] == target["url"]
    assert hits[0]["chunk_number"] == target["chunk_number"]
    assert hits[0]["similarity"] == 1.0

    only_b = search_documents(
        store, "anything", match_count=10, source_filter="b.example.com", dim=DIM
    ).collect()
    assert only_b and all(h["source"] == "b.example.com" for h in only_b)


def test_contextual_query_prefix_changes_embedding():
    assert embed_query("q", contextual=True, dim=DIM) != embed_query(
        "q", contextual=False, dim=DIM
    )
    assert embed_query("q", dim=DIM) == list(embed_text("q", DIM))


def test_available_sources_sorted_distinct(store):
    got = [r["source"] for r in available_sources(store).collect()]
    assert got == ["a.example.com", "b.example.com"]


def test_batch_failure_gate():
    import pytest as _pytest

    from mcp_crawl4ai_rag_spark.plans.rag import check_batch_failures

    check_batch_failures(1, 2)  # exactly 50% passes (strict >)
    check_batch_failures(0, 0)
    with _pytest.raises(RuntimeError):
        check_batch_failures(2, 3)


def test_validate_crawl_params_clamps():
    from mcp_crawl4ai_rag_spark.plans.rag import validate_crawl_params

    # reference src/crawl4ai_mcp.py:642-657: warn-and-continue — invalid
    # (<=0) max_concurrent/chunk_size reset to their defaults, never raise
    assert validate_crawl_params(99, 99, 100) == (10, 50, 100)
    assert validate_crawl_params(-5, 0, 5000) == (0, 10, 5000)
    assert validate_crawl_params(3, 10, 0) == (3, 10, 5000)
    assert validate_crawl_params(3, -7, None) == (3, 10, 5000)


def test_upsert_duplicate_key_winner_is_deterministic(spark):
    """A batch carrying duplicate (url, chunk_number) keys must elect the
    same winner regardless of input partitioning (the row-fingerprint
    tie-break, not partition-order luck)."""
    rows = [
        ("u", 0, "alpha"), ("u", 0, "beta"), ("u", 0, "gamma"),
        ("v", 1, "only"),
    ]
    schema = "url string, chunk_number int, content string"
    winners = set()
    for parts in (1, 3, 7):
        batch = spark.createDataFrame(rows, schema).repartition(parts)
        merged = {
            (r["url"], r["chunk_number"]): r["content"]
            for r in store_documents(None, batch).collect()
        }
        assert merged[("v", 1)] == "only"
        winners.add(merged[("u", 0)])
    assert len(winners) == 1  # same winner under every partitioning
    # and the existing+batch path prefers the batch generation for the key
    existing = spark.createDataFrame([("u", 0, "old")], schema)
    batch = spark.createDataFrame([("u", 0, "new")], schema)
    out = {r["url"]: r["content"] for r in store_documents(existing, batch).collect()}
    assert out["u"] == "new"


def test_incremental_upsert_matches_windowed(spark):
    """store_documents_incremental must equal store_documents row-for-row on
    a well-formed store (unique keys), including batches that carry their own
    duplicate keys — while its plan keeps the store side shuffle-free."""
    schema = "url string, chunk_number int, content string"
    existing = spark.createDataFrame(
        [(f"u{i % 40}", i // 40, f"old-{i}") for i in range(200)], schema
    ).repartition(7)
    batch_rows = (
        # overwrite half the store's keys
        [(f"u{i % 40}", i // 40, f"new-{i}") for i in range(0, 200, 2)]
        # brand-new keys
        + [(f"w{i}", 0, f"add-{i}") for i in range(25)]
        # duplicate keys inside the batch (tie-break must pick one winner)
        + [("u1", 0, "dup-a"), ("u1", 0, "dup-b")]
    )
    batch = spark.createDataFrame(batch_rows, schema).repartition(5)

    want = sorted(map(tuple, store_documents(existing, batch).collect()))
    merged = store_documents_incremental(existing, batch)
    got = sorted(map(tuple, merged.collect()))
    assert got == want

    # exactly one required hash Exchange: the bounded-batch window. The store
    # side is a map-only BroadcastHashJoin(left_anti) — zero store shuffle per
    # ingest. (Count only ENSURE_REQUIREMENTS exchanges in the final plan:
    # the test's own repartition() calls and AQE's echoed initial plan would
    # otherwise pollute the tally.)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    required = [
        ln
        for ln in final.splitlines()
        if "Exchange hashpartitioning" in ln and "ENSURE_REQUIREMENTS" in ln
    ]
    assert len(required) == 1, final[:1500]
    assert "BroadcastHashJoin" in final and "LeftAnti" in final, final[:1500]

    # no-existing path: identical to the windowed path
    assert sorted(map(tuple, store_documents_incremental(None, batch).collect())) == sorted(
        map(tuple, store_documents(None, batch).collect())
    )


def test_search_returns_contextual_content_when_stored(spark):
    """perform_rag_query parity (reference src/utils.py:583-586): a stored
    contextual_content replaces the raw chunk in search results; chunks
    without one keep their original content."""
    from mcp_crawl4ai_rag_spark.plans.rag import search_documents

    docs = spark.createDataFrame(
        [
            ("https://a.example.com/x", "alpha spark joins " * 20),
            ("https://a.example.com/y", "beta python udfs " * 20),
        ],
        "url string, markdown string",
    )
    chunks = build_chunks(docs, chunk_size=200)
    store = with_embeddings(chunks, text_col="content", dim=DIM).withColumn(
        "contextual_content",
        F.when(F.col("url").endswith("/x"), F.concat(F.lit("CTX: "), F.col("content"))).otherwise(F.lit("")),
    )
    res = search_documents(store, "spark joins", match_count=10, dim=DIM)
    rows = res.collect()
    assert rows
    for r in rows:
        if r["url"].endswith("/x"):
            assert r["content"].startswith("CTX: ")
        else:
            assert not r["content"].startswith("CTX: ")


def test_doc_change_status_classifies(spark):
    """Recrawl change detection: new/changed/unchanged against the previous
    crawl's fingerprint index, with a zero-shuffle plan (both joins
    broadcast; the corpus-sized index side never enters an Exchange)."""
    from mcp_crawl4ai_rag_spark.plans.rag import (
        doc_change_status,
        update_fingerprint_index,
    )

    prev = spark.createDataFrame(
        [(f"u{i}", f"fp-{i}") for i in range(100)], "url string, fp string"
    ).repartition(7)
    fetched = spark.createDataFrame(
        [(f"u{i}", f"fp-{i}") for i in range(0, 30)]          # unchanged
        + [(f"u{i}", f"FP2-{i}") for i in range(30, 50)]      # changed
        + [(f"n{i}", f"fp-n{i}") for i in range(5)],          # new
        "url string, fp string",
    )
    status = doc_change_status(prev, fetched)
    got = {r["url"]: r["change_kind"] for r in status.collect()}
    assert len(got) == 55
    assert all(got[f"u{i}"] == "unchanged" for i in range(30))
    assert all(got[f"u{i}"] == "changed" for i in range(30, 50))
    assert all(got[f"n{i}"] == "new" for i in range(5))

    # plan pin: no required hash Exchange anywhere — semi-prune and lookup
    # are both BroadcastHashJoins (ignore the test's own repartition() and
    # AQE's echoed initial plan, as in test_incremental_upsert).
    plan = status._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    required = [
        ln
        for ln in final.splitlines()
        if "Exchange hashpartitioning" in ln and "ENSURE_REQUIREMENTS" in ln
    ]
    assert not required, final[:1500]
    assert final.count("BroadcastHashJoin") >= 2, final[:1500]

    # no previous index: everything is new
    assert {
        r["change_kind"] for r in doc_change_status(None, fetched).collect()
    } == {"new"}

    # advancing the index and re-detecting the same batch → all unchanged
    nxt = update_fingerprint_index(prev, fetched)
    assert nxt.count() == 105  # 100 carried + 5 new URLs
    redo = doc_change_status(nxt, fetched)
    assert {r["change_kind"] for r in redo.collect()} == {"unchanged"}


def test_update_fingerprint_index_duplicate_batch_urls_deterministic(spark):
    """A batch carrying the same URL twice with different fingerprints must
    resolve to one deterministic winner (fp-ascending tiebreak), mirroring
    store_documents_incremental's contract."""
    from mcp_crawl4ai_rag_spark.plans.rag import update_fingerprint_index

    fetched = spark.createDataFrame(
        [("u1", "b"), ("u1", "a"), ("u2", "z")], "url string, fp string"
    )
    got = sorted(map(tuple, update_fingerprint_index(None, fetched).collect()))
    assert got == [("u1", "a"), ("u2", "z")]


def test_recrawl_schedule_matches_python_twin(spark):
    """Per-URL smoothed change rate × age, exact integer arithmetic — must
    equal the plain-Python estimator row for row."""
    from mcp_crawl4ai_rag_spark.plans.rag import recrawl_schedule

    rows = []
    for u in range(40):
        for seq in range(1, (u % 5) + 2):
            kind = "changed" if (u + seq) % 3 == 0 else "unchanged"
            rows.append((f"u{u}", seq, kind))
    log = spark.createDataFrame(
        rows, "url string, crawl_seq int, change_kind string"
    ).repartition(7)
    now = 10
    got = {
        r["url"]: (r["n_obs"], r["n_changes"], r["age"], r["prio_milli"])
        for r in recrawl_schedule(log, now).collect()
    }

    want = {}
    for u in range(40):
        obs = [(seq, (u + seq) % 3 == 0) for seq in range(1, (u % 5) + 2)]
        n_obs = len(obs)
        n_changes = sum(1 for _, c in obs if c)
        last = max(s for s, _ in obs)
        age = now - last
        prio = ((2 * n_changes + 1) * age * 1000) // (2 * (n_obs + 1))
        want[f"u{u}"] = (n_obs, n_changes, age, prio)
    assert got == want

    # ordering sanity: with equal observation counts, more changes and more
    # age both raise the priority
    one = lambda ch, age_: ((2 * ch + 1) * age_ * 1000) // 4
    assert one(1, 5) > one(0, 5) and one(0, 8) > one(0, 4)


def test_recrawl_schedule_composes_with_change_status(spark):
    """Two crawls through doc_change_status → a change log → a schedule:
    URLs that changed both times outrank stable ones of the same age."""
    from mcp_crawl4ai_rag_spark.plans.rag import (
        doc_change_status,
        recrawl_schedule,
        update_fingerprint_index,
    )

    def fp(df):
        return df.select("url", F.md5("text").alias("fp"))

    base = spark.createDataFrame(
        [(f"u{i}", f"text-{i}") for i in range(20)], "url string, text string"
    )
    # crawl 1: volatile URLs (i%4==0) changed; crawl 2: they changed again
    def mutate(df, gen):
        return df.withColumn(
            "text",
            F.when(
                F.regexp_extract("url", "u(\\d+)", 1).cast("int") % 4 == 0,
                F.concat(F.col("text"), F.lit(f"-v{gen}")),
            ).otherwise(F.col("text")),
        )

    idx = update_fingerprint_index(None, fp(base))
    c1 = mutate(base, 1)
    s1 = doc_change_status(idx, fp(c1)).withColumn("crawl_seq", F.lit(1))
    idx = update_fingerprint_index(idx, fp(c1))
    c2 = mutate(c1, 2)
    s2 = doc_change_status(idx, fp(c2)).withColumn("crawl_seq", F.lit(2))
    log = s1.unionByName(s2).select("url", "crawl_seq", "change_kind")

    sched = {r["url"]: r["prio_milli"] for r in recrawl_schedule(log, 5).collect()}
    volatile = [sched[f"u{i}"] for i in range(0, 20, 4)]
    stable = [sched[f"u{i}"] for i in range(20) if i % 4 != 0]
    assert min(volatile) > max(stable)


def test_fingerprint_index_update_is_idempotent(spark):
    """Applying the same batch twice must equal applying it once, and an
    empty batch must leave the index untouched — the invariants that make
    the recrawl loop safe to retry (crash between index write and store
    write; re-run the batch)."""
    from mcp_crawl4ai_rag_spark.plans.rag import update_fingerprint_index

    prev = spark.createDataFrame(
        [(f"u{i}", f"fp-{i}") for i in range(20)], "url string, fp string"
    )
    batch = spark.createDataFrame(
        [("u1", "NEW1"), ("u3", "NEW3"), ("w9", "W9")], "url string, fp string"
    )
    once = update_fingerprint_index(prev, batch)
    twice = update_fingerprint_index(once, batch)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))

    empty = batch.limit(0)
    same = update_fingerprint_index(prev, empty)
    assert sorted(map(tuple, same.collect())) == sorted(map(tuple, prev.collect()))


def test_doc_change_status_null_fp_is_changed(spark):
    """A NULL fetched fingerprint (failed extraction) for an indexed URL
    must classify CHANGED — the null-propagating != would silently read it
    as 'unchanged' and leave the store stale."""
    from mcp_crawl4ai_rag_spark.plans.rag import doc_change_status

    prev = spark.createDataFrame(
        [("u1", "fp-1"), ("u2", "fp-2")], "url string, fp string"
    )
    fetched = spark.createDataFrame(
        [("u1", None), ("u2", "fp-2"), ("u3", None)], "url string, fp string"
    )
    got = {
        r["url"]: r["change_kind"]
        for r in doc_change_status(prev, fetched).collect()
    }
    assert got == {"u1": "changed", "u2": "unchanged", "u3": "new"}


def test_validate_crawl_params_never_raises():
    """The documented warn-and-continue contract: None / junk input resets
    to defaults instead of raising."""
    from mcp_crawl4ai_rag_spark.plans.rag import validate_crawl_params

    assert validate_crawl_params(None, None, None) == (3, 10, 5000)
    assert validate_crawl_params("abc", "xyz", "nope") == (3, 10, 5000)
    assert validate_crawl_params(99, 99, 100) == (10, 50, 100)
    assert validate_crawl_params(-1, 0, 0) == (0, 10, 5000)


def test_build_chunks_default_stamp_is_utc(spark):
    """With crawl_time=None the stamp must be UTC-labeled (+00:00) and stay
    UTC even under a foreign session timezone."""
    import pyspark.sql.functions as F

    from mcp_crawl4ai_rag_spark.plans.rag import build_chunks

    docs = spark.createDataFrame(
        [("https://d.example.com/x", "hello world " * 20)],
        "url string, markdown string",
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        row_ny = build_chunks(docs).select("crawl_time").head()
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        row_utc = build_chunks(docs).select("crawl_time").head()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert row_ny["crawl_time"].endswith("+00:00")
    assert row_utc["crawl_time"].endswith("+00:00")
    # same instant (minute precision tolerance): the NY-session stamp must
    # not be shifted 4-5 hours off the UTC-session stamp
    from datetime import datetime

    fmt = "%Y-%m-%dT%H:%M:%S%z"
    t1 = datetime.strptime(row_ny["crawl_time"], fmt)
    t2 = datetime.strptime(row_utc["crawl_time"], fmt)
    assert abs((t2 - t1).total_seconds()) < 120


def test_conditional_recrawl_304_skips_body_and_advances_index(spark):
    """The conditional-GET recrawl path (r5): URLs whose stored validator
    still matches answer 304 with NULL body+fp (the transfer provably
    never happened), classify 'unchanged' with the stored fp carried
    forward, and leave their index row in place; changed URLs answer 200
    and replace fp+validators; unknown URLs fetch unconditionally as
    'new'; vanished URLs 404."""
    from mcp_crawl4ai_rag_spark.plans.rag import (
        conditional_change_status,
        conditional_fetch_split,
        simulate_conditional_fetch,
        update_validator_index,
    )

    def srv(rows):
        return spark.createDataFrame(
            rows, "url string, body string, etag string, last_modified string"
        )

    # crawl 1: server v1, full fetch, index built
    v1 = srv([
        ("u/a", "body-a", "ea0", "2026-01-01"),
        ("u/b", "body-b", "eb0", "2026-01-01"),
        ("u/c", "body-c", None, "2026-01-02"),  # no etag -> Last-Modified
        ("u/gone", "body-g", "eg0", "2026-01-01"),
    ])
    f1 = simulate_conditional_fetch(v1.select("url"), v1)
    assert {r["status"] for r in f1.collect()} == {200}
    idx1 = update_validator_index(None, f1)

    # crawl 2: a changed (new body+etag), b unchanged, c unchanged
    # (Last-Modified match), gone vanished, n brand new
    v2 = srv([
        ("u/a", "body-a2", "ea1", "2026-02-01"),
        ("u/b", "body-b", "eb0", "2026-01-01"),
        ("u/c", "body-c", None, "2026-01-02"),
        ("u/n", "body-n", "en0", "2026-02-01"),
    ])
    batch = spark.createDataFrame(
        [("u/a",), ("u/b",), ("u/c",), ("u/gone",), ("u/n",)], "url string"
    )
    cond, uncond = conditional_fetch_split(idx1, batch)
    assert {r["url"] for r in cond.collect()} == {"u/a", "u/b", "u/c", "u/gone"}
    assert {r["url"] for r in uncond.collect()} == {"u/n"}

    f2 = simulate_conditional_fetch(cond.unionByName(
        uncond.select("url",
                      F.lit(None).cast("string").alias("etag"),
                      F.lit(None).cast("string").alias("last_modified"))
    ), v2)
    rows = {r["url"]: r for r in f2.collect()}
    assert rows["u/a"]["status"] == 200 and rows["u/a"]["body"] == "body-a2"
    assert rows["u/b"]["status"] == 304 and rows["u/b"]["body"] is None
    assert rows["u/b"]["fp"] is None  # no body => no fingerprint computed
    assert rows["u/c"]["status"] == 304 and rows["u/c"]["body"] is None
    assert rows["u/gone"]["status"] == 404
    assert rows["u/n"]["status"] == 200

    st = {r["url"]: r for r in conditional_change_status(idx1, f2).collect()}
    assert st["u/a"]["change_kind"] == "changed"
    assert st["u/gone"]["change_kind"] == "failed"  # 404: no body, no embed
    assert st["u/b"]["change_kind"] == "unchanged"
    # stored fp carried forward onto the 304 row
    import hashlib
    assert st["u/b"]["fp"] == hashlib.md5(b"body-b").hexdigest()
    assert st["u/c"]["change_kind"] == "unchanged"
    assert st["u/n"]["change_kind"] == "new"
    # only new/changed rows are chunk/embed-eligible AND only they carry
    # a body — the 304 rows cannot be re-embedded even by accident
    eligible = {u for u, r in st.items() if r["change_kind"] in ("new", "changed")}
    with_body = {u for u, r in rows.items() if r["body"] is not None}
    assert eligible == {"u/a", "u/n"} and with_body == {"u/a", "u/n"}

    idx2 = {r["url"]: r for r in update_validator_index(idx1, f2).collect()}
    assert idx2["u/a"]["etag"] == "ea1"  # refreshed
    assert idx2["u/b"]["etag"] == "eb0"  # carried (304 left it in place)
    assert idx2["u/c"]["last_modified"] == "2026-01-02"
    assert "u/gone" in idx2  # 404 leaves the stored row (policy: retry later)
    assert idx2["u/n"]["etag"] == "en0"

    # protocol violation: a 304 for an un-indexed URL classifies 'new'
    rogue = spark.createDataFrame(
        [("u/rogue", 304, None, None, None, None)],
        "url string, status int, fp string, etag string, "
        "last_modified string, body string",
    )
    st2 = conditional_change_status(idx1, rogue).collect()
    assert [(r["url"], r["change_kind"], r["fp"]) for r in st2] == [
        ("u/rogue", "new", None)
    ]


def test_search_passes_the_query_vector_as_one_value(store):
    """The query vector is one expression, not one literal per component
    (1 536 of them at the default width), and the top-k rows and
    similarities equal a per-component literal array's."""
    from mcp_crawl4ai_rag_spark.functions.vectors import cosine_expr

    plan = search_documents(store, "bloom filters")._jdf.queryExecution().analyzed()
    n_literals = plan.toJSON().count('"class":"org.apache.spark.sql.catalyst.expressions.Literal"')
    assert 0 < n_literals < 50

    for query in ("spark joins", "python udfs", "bloom filters", "anything else"):
        qv = embed_query(query, dim=DIM)
        ref = (
            store.select(
                "url",
                "chunk_number",
                F.round(
                    cosine_expr(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qv])), 4
                ).alias("similarity"),
            )
            .orderBy(F.desc("similarity"), "url", "chunk_number")
            .limit(5)
        )
        got = search_documents(store, query, match_count=5, dim=DIM)
        assert [tuple(r) for r in got.select("url", "chunk_number", "similarity").collect()] == [
            tuple(r) for r in ref.collect()
        ]
