"""Snapshot-committed document store: atomic upsert with crash-resume.

The reference gets atomicity from Postgres — delete + insert per batch
inside the client call (src/utils.py:388-389, 493-500) — so a killed ingest
never leaves a torn ``crawled_pages``. The engine's parquet emulation gets
the same guarantee from a generation/manifest protocol (the Iceberg
snapshot-commit shape, mirroring sources/checkpoint.py's marker-last rule):

    <root>/gen_<k>/...parquet     immutable full-store snapshot k
    <root>/MANIFEST.json          {"gen": k}  — the ONE mutable file

A commit writes the next generation directory COMPLETELY (Spark parquet +
``_SUCCESS``), fsyncs the new manifest content to a temp file, then
``os.replace``s it over MANIFEST.json — the atomic publication point. A
kill anywhere before the replace leaves the manifest pointing at the old
generation (readers never observe partial files); a kill after it is a
completed commit. Re-running the same batch after a kill is idempotent
because the upsert is keyed last-writer-wins on (url, chunk_number).

On Iceberg, ``commit_batch`` is MERGE INTO + the table's own snapshot
commit; this class is the swap point (SURVEY §2.5).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

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

    def current_gen(self) -> int | None:
        try:
            with open(self._manifest_path()) as fh:
                return int(json.load(fh)["gen"])
        except (FileNotFoundError, ValueError, KeyError, json.JSONDecodeError):
            return None

    def _gen_dir(self, gen: int) -> str:
        return os.path.join(self.root, f"gen_{gen}")

    def _publish(self, gen: int) -> None:
        """fsync-then-rename manifest swap — the atomic commit point."""
        write_json_atomic(self._manifest_path(), {"gen": gen})

    # -- read/commit ------------------------------------------------------

    def read(self) -> DataFrame | None:
        """The latest COMMITTED snapshot (None for an empty store).
        Partially written generations are invisible by construction."""
        gen = self.current_gen()
        if gen is None:
            return None
        return self.spark.read.parquet(self._gen_dir(gen))

    def commit_batch(self, batch: DataFrame) -> DataFrame:
        """Keyed last-writer-wins upsert of ``batch`` into the store as ONE
        atomic snapshot commit; returns the new committed snapshot.

        Write path: full next-generation parquet first (store side of the
        merge never shuffles — plans/rag.store_documents_incremental),
        manifest swap last. Idempotent under kill/retry."""
        cur_gen = self.current_gen()
        existing = self.read()
        merged = store_documents_incremental(existing, batch)
        next_gen = 0 if cur_gen is None else cur_gen + 1
        gen_dir = self._gen_dir(next_gen)
        if os.path.isdir(gen_dir):  # leftover from a killed attempt
            shutil.rmtree(gen_dir)
        merged.write.mode("overwrite").parquet(gen_dir)
        self._publish(next_gen)
        self._gc(keep=(next_gen, cur_gen))
        return self.spark.read.parquet(gen_dir)

    def _gc(self, keep: tuple[int | None, ...]) -> None:
        """Drop generations other than the committed one and its parent
        (kept one deep for concurrent readers mid-scan — Iceberg's snapshot
        retention, minimally)."""
        keep_names = {f"gen_{g}" for g in keep if g is not None}
        for name in os.listdir(self.root):
            if name.startswith("gen_") and name not in keep_names:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
