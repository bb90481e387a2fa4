"""Snapshot-committed document store (sources/docstore.py): atomic upsert
commit + crash-resume, matching the reference's race-safe Postgres upsert
guarantee (src/utils.py:388-389, 493-500) on the parquet emulation."""

import json
import os

import pyspark.sql.functions as F
import pytest

from mcp_crawl4ai_rag_spark.sources.docstore import DocumentStore


def _rows(df):
    return sorted((r["url"], r["chunk_number"], r["content"]) for r in df.collect())


def _mk_batch(spark, items):
    return spark.createDataFrame(
        items, "url string, chunk_number long, content string"
    )


@pytest.fixture()
def store(spark, tmp_path):
    return DocumentStore(spark, str(tmp_path / "docstore"))


def test_commit_matches_incremental_upsert(spark, store):
    from mcp_crawl4ai_rag_spark.plans.rag import store_documents_incremental

    existing = _mk_batch(spark, [(f"u{i}", 0, f"v0:{i}") for i in range(20)])
    batch = _mk_batch(
        spark,
        [(f"u{i}", 0, f"v1:{i}") for i in range(0, 20, 3)]
        + [(f"new{i}", 0, f"vn:{i}") for i in range(3)],
    )
    store.commit_batch(existing)
    got = store.commit_batch(batch)
    want = store_documents_incremental(existing, batch)
    assert _rows(got) == _rows(want)
    # read() returns the committed snapshot
    assert _rows(store.read()) == _rows(want)


def test_kill_before_publish_leaves_store_untouched_then_resumes(
    spark, store, monkeypatch
):
    """Kill between generation write and manifest swap: the manifest still
    points at the old generation (no torn store); retrying the SAME batch
    completes and yields the exact post-upsert state."""
    existing = _mk_batch(spark, [(f"u{i}", 0, f"v0:{i}") for i in range(10)])
    store.commit_batch(existing)
    before = _rows(store.read())
    batch = _mk_batch(spark, [("u1", 0, "v1:1"), ("new", 0, "vn")])

    boom = RuntimeError("killed before manifest swap")
    monkeypatch.setattr(
        DocumentStore, "_publish", lambda self, gen: (_ for _ in ()).throw(boom)
    )
    with pytest.raises(RuntimeError):
        store.commit_batch(batch)
    # torn-store check: the new generation parquet EXISTS on disk, but the
    # committed view is bit-identical to the pre-kill store
    assert _rows(store.read()) == before
    assert store.current_gen() == 0

    monkeypatch.undo()
    got = store.commit_batch(batch)  # resume = retry, idempotent
    want = dict((r[0], r) for r in before)
    want["u1"] = ("u1", 0, "v1:1")
    want["new"] = ("new", 0, "vn")
    assert _rows(got) == sorted(want.values())
    assert store.current_gen() == 1


def test_retry_after_successful_commit_is_idempotent(spark, store):
    existing = _mk_batch(spark, [(f"u{i}", 0, f"v0:{i}") for i in range(5)])
    batch = _mk_batch(spark, [("u2", 0, "v1:2")])
    store.commit_batch(existing)
    first = _rows(store.commit_batch(batch))
    second = _rows(store.commit_batch(batch))  # crash-after-commit replay
    assert first == second


def test_uncommitted_generation_is_invisible(spark, store):
    existing = _mk_batch(spark, [("u0", 0, "v0")])
    store.commit_batch(existing)
    # a partially written generation with NO manifest pointing at it
    stray = os.path.join(store.root, "gen_7")
    os.makedirs(stray)
    with open(os.path.join(stray, "part-junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    assert _rows(store.read()) == [("u0", 0, "v0")]
    # and the next commit still works off the manifest's generation count
    got = store.commit_batch(_mk_batch(spark, [("u1", 0, "v1")]))
    assert _rows(got) == [("u0", 0, "v0"), ("u1", 0, "v1")]


def test_manifest_swap_is_fsynced_rename(spark, store, monkeypatch):
    """The publish path must go through os.replace (atomic on POSIX), not
    truncate-and-write — pinned so a refactor can't silently regress it."""
    calls = []
    real_replace = os.replace

    def spy(src, dst):
        calls.append((src, dst))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", spy)
    store.commit_batch(_mk_batch(spark, [("u0", 0, "v0")]))
    manifest_swaps = [d for _, d in calls if d.endswith("MANIFEST.json")]
    assert manifest_swaps, "manifest must be published via os.replace"
    with open(os.path.join(store.root, "MANIFEST.json")) as fh:
        assert json.load(fh)["gen"] == 0


def test_empty_store_reads_none(store):
    assert store.read() is None
    assert store.current_gen() is None


def test_commit_batch_evaluates_its_batch_once(spark, store):
    """The upsert reads the batch twice (broadcast key set, dedup window);
    the commit materializes it first, so its Python lineage runs once. The
    counted UDF produces ``url``, so neither branch can prune it away."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    store.commit_batch(_mk_batch(spark, [(f"u{i}", 0, f"v0:{i}") for i in range(10)]))
    evals = spark.sparkContext.accumulator(0)

    @pandas_udf("string")
    def counted_url(url: pd.Series) -> pd.Series:
        evals.add(len(url))
        return url

    items = [(f"u{i}", 0, f"v1:{i}") for i in range(0, 30, 2)]
    batch = _mk_batch(spark, items).withColumn("url", counted_url("url"))
    got = store.commit_batch(batch)
    assert evals.value == len(items)
    want = {f"u{i}": (f"u{i}", 0, f"v0:{i}") for i in range(10)}
    want.update((r[0], r) for r in items)
    assert _rows(got) == sorted(want.values())


def test_read_and_snapshot_start_no_job_and_keep_the_inferred_schema(
    spark, store, monkeypatch
):
    """Opening a generation reads its schema from the manifest: neither
    read() nor the snapshot commit_batch returns (nor the store side of the
    upsert) starts a schema-inference job, and the schema is the one
    inference would give."""
    from pyspark.sql import DataFrameReader

    sc = spark.sparkContext
    group = "docstore-open"
    real_parquet = DataFrameReader.parquet

    def parquet_in_group(self, *paths, **options):
        sc.setJobGroup(group, "opening a docstore generation")
        try:
            return real_parquet(self, *paths, **options)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    store.commit_batch(_mk_batch(spark, [(f"u{i}", 0, f"v0:{i}") for i in range(5)]))
    monkeypatch.setattr(DataFrameReader, "parquet", parquet_in_group)
    snap = store.commit_batch(_mk_batch(spark, [("u1", 0, "v1:1"), ("new", 0, "vn")]))
    read = store.read()
    monkeypatch.undo()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    inferred = spark.read.parquet(os.path.join(store.root, "gen_1")).schema
    assert snap.schema == inferred
    assert read.schema == inferred
    assert _rows(read) == _rows(snap) == sorted(
        [(f"u{i}", 0, f"v0:{i}") for i in (0, 2, 3, 4)] + [("u1", 0, "v1:1"), ("new", 0, "vn")]
    )


def test_manifest_without_schema_still_reads(spark, store):
    """A ``{"gen": k}`` manifest, written before the manifest carried the
    schema, reads by inference, and the next commit upgrades it."""
    store.commit_batch(_mk_batch(spark, [("u0", 0, "v0"), ("u1", 0, "v1")]))
    with open(os.path.join(store.root, "MANIFEST.json"), "w") as fh:
        json.dump({"gen": 0}, fh)
    assert store.current_gen() == 0
    assert _rows(store.read()) == [("u0", 0, "v0"), ("u1", 0, "v1")]
    got = store.commit_batch(_mk_batch(spark, [("u1", 0, "v1b")]))
    assert _rows(got) == [("u0", 0, "v0"), ("u1", 0, "v1b")]
    with open(os.path.join(store.root, "MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert manifest["gen"] == 1 and "schema" in manifest
