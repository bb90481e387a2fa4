"""Snapshot-committed document store: atomic upsert with crash-resume.

The reference gets atomicity from Postgres — delete + insert per batch
inside the client call (src/utils.py:388-389, 493-500) — so a killed ingest
never leaves a torn ``crawled_pages``. The engine's parquet emulation gets
the same guarantee from a generation/manifest protocol (the Iceberg
snapshot-commit shape, mirroring sources/checkpoint.py's marker-last rule):

    <root>/gen_<k>/...parquet     immutable full-store snapshot k
    <root>/MANIFEST.json          {"gen": k, "schema": <StructType JSON>}
                                  — the ONE mutable file

A commit materializes its batch once (``local_ckpt``), so the upsert's
broadcast key set and its dedup window read one evaluation of the batch's
lineage instead of re-running its Python rows and UDFs per branch. It then
writes the next generation directory COMPLETELY (Spark parquet +
``_SUCCESS``), fsyncs the new manifest content to a temp file, then
``os.replace``s it over MANIFEST.json — the atomic publication point. A
kill anywhere before the replace leaves the manifest pointing at the old
generation (readers never observe partial files); a kill after it is a
completed commit. Re-running the same batch after a kill is idempotent
because the upsert is keyed last-writer-wins on (url, chunk_number).

The manifest carries the snapshot's schema, so :meth:`DocumentStore.read`
and the snapshot ``commit_batch`` returns open a generation with
``spark.read.schema(...)`` and start no schema-inference job (a file source
makes every field nullable either way, so the schema equals the inferred
one). A manifest without ``schema`` (written before it carried one) still
reads, by inference.

On Iceberg, ``commit_batch`` is MERGE INTO + the table's own snapshot
commit; this class is the swap point (SURVEY §2.5).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .. import local_ckpt
from ..plans.rag import store_documents_incremental
from .checkpoint import write_json_atomic


class DocumentStore:
    MANIFEST = "MANIFEST.json"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, self.MANIFEST)

    def _manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as fh:
                manifest = json.load(fh)
            manifest["gen"] = int(manifest["gen"])
            return manifest
        except (FileNotFoundError, ValueError, KeyError, TypeError, json.JSONDecodeError):
            return None

    def current_gen(self) -> int | None:
        manifest = self._manifest()
        return None if manifest is None else manifest["gen"]

    def _gen_dir(self, gen: int) -> str:
        return os.path.join(self.root, f"gen_{gen}")

    def _publish(self, manifest: dict) -> None:
        """fsync-then-rename manifest swap — the atomic commit point."""
        write_json_atomic(self._manifest_path(), manifest)

    # -- read/commit ------------------------------------------------------

    def read(self) -> DataFrame | None:
        """The latest COMMITTED snapshot (None for an empty store).
        Partially written generations are invisible by construction."""
        manifest = self._manifest()
        if manifest is None:
            return None
        return self._open(manifest)

    def _open(self, manifest: dict) -> DataFrame:
        reader = self.spark.read
        if "schema" in manifest:
            reader = reader.schema(StructType.fromJson(manifest["schema"]))
        return reader.parquet(self._gen_dir(manifest["gen"]))

    def commit_batch(self, batch: DataFrame) -> DataFrame:
        """Keyed last-writer-wins upsert of ``batch`` into the store as ONE
        atomic snapshot commit; returns the new committed snapshot.

        Write path: full next-generation parquet first (store side of the
        merge never shuffles — plans/rag.store_documents_incremental),
        manifest swap last. Idempotent under kill/retry.

        The batch is checkpointed first (one eager job, O(batch)): the
        upserted generation reads it twice, once for the broadcast key set
        and once for the dedup window."""
        cur = self._manifest()
        cur_gen = None if cur is None else cur["gen"]
        existing = None if cur is None else self._open(cur)
        merged = store_documents_incremental(existing, local_ckpt(batch))
        next_gen = 0 if cur_gen is None else cur_gen + 1
        gen_dir = self._gen_dir(next_gen)
        if os.path.isdir(gen_dir):  # leftover from a killed attempt
            shutil.rmtree(gen_dir)
        merged.write.mode("overwrite").parquet(gen_dir)
        manifest = {"gen": next_gen, "schema": merged.schema.jsonValue()}
        self._publish(manifest)
        self._gc(keep=(next_gen, cur_gen))
        return self._open(manifest)

    def _gc(self, keep: tuple[int | None, ...]) -> None:
        """Drop generations other than the committed one and its parent
        (kept one deep for concurrent readers mid-scan — Iceberg's snapshot
        retention, minimally)."""
        keep_names = {f"gen_{g}" for g in keep if g is not None}
        for name in os.listdir(self.root):
            if name.startswith("gen_") and name not in keep_names:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
