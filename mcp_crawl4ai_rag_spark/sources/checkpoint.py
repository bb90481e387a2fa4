"""Epoch snapshot checkpointing + lineage for resumable crawls.

north_rule: every frontier epoch checkpoints with per-partition lineage
(pages fetched, dedup hits, robots denials) so a killed run resumes
bit-identically. The production design is one Iceberg snapshot per epoch
(MERGE + snapshot id in lineage); this sandbox has no Iceberg runtime jar,
so snapshots are modeled as immutable parquet directories

    <dir>/epoch=<N>/{frontier,url_seen}/ + <dir>/epoch=<N>/state.json
    <dir>/fetched/epoch=<N>/           (append-only results log)
    <dir>/lineage/epoch=<N>/

which preserves the properties the tests need: atomic publication
(state.json written last and swapped in whole = commit marker), time travel
by epoch, and idempotent re-execution of a partially written epoch (rewrite,
then publish).
Swapping to Iceberg replaces write_epoch/load_epoch bodies only.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_json_atomic(path: str, obj: dict) -> None:
    """Publish ``obj`` as the JSON file ``path`` so readers see the old file
    or the whole new one, never a torn one: fsync a temp file, ``os.replace``
    it over ``path``, then fsync the directory so the rename itself
    survives power loss."""
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    dfd = os.open(os.path.dirname(path), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _epoch_dir(self, epoch: int) -> str:
        return os.path.join(self.root, f"epoch={epoch}")

    def latest_epoch(self) -> int | None:
        """Highest epoch with a commit marker (state.json)."""
        best = None
        if not os.path.isdir(self.root):
            return None
        for name in os.listdir(self.root):
            if name.startswith("epoch="):
                e = int(name.split("=", 1)[1])
                if os.path.exists(os.path.join(self._epoch_dir(e), "state.json")):
                    best = e if best is None else max(best, e)
        return best

    def write_epoch(
        self,
        epoch: int,
        frontier: DataFrame,
        url_seen: DataFrame,
        fetched: DataFrame,
        lineage: DataFrame,
        state: dict,
    ) -> tuple[DataFrame, DataFrame]:
        """Persist the epoch snapshot; returns (frontier, url_seen) re-read
        from disk — truncating DataFrame lineage exactly like an Iceberg
        snapshot boundary would."""
        d = self._epoch_dir(epoch)
        if os.path.isdir(d):  # partially written epoch from a killed run
            shutil.rmtree(d)
        frontier.write.mode("overwrite").parquet(os.path.join(d, "frontier"))
        url_seen.write.mode("overwrite").parquet(os.path.join(d, "url_seen"))
        # plain dir names (no 'k=v') so readers don't partition-infer a
        # duplicate epoch column — the DataFrames carry `epoch` themselves
        fetched.write.mode("overwrite").parquet(
            os.path.join(self.root, "fetched", f"ep_{epoch}")
        )
        lineage.write.mode("overwrite").parquet(
            os.path.join(self.root, "lineage", f"ep_{epoch}")
        )
        # commit marker LAST — readers only trust epochs that have it
        write_json_atomic(os.path.join(d, "state.json"), {"epoch": epoch, **state})
        return (
            self.spark.read.parquet(os.path.join(d, "frontier")),
            self.spark.read.parquet(os.path.join(d, "url_seen")),
        )

    def load_epoch(self, epoch: int) -> tuple[DataFrame, DataFrame, dict]:
        d = self._epoch_dir(epoch)
        with open(os.path.join(d, "state.json")) as f:
            state = json.load(f)
        return (
            self.spark.read.parquet(os.path.join(d, "frontier")),
            self.spark.read.parquet(os.path.join(d, "url_seen")),
            state,
        )

    def _read_log(self, name: str, upto_epoch: int) -> DataFrame:
        paths = [
            os.path.join(self.root, name, f"ep_{e}")
            for e in range(upto_epoch + 1)
            if os.path.isdir(os.path.join(self.root, name, f"ep_{e}"))
        ]
        return self.spark.read.parquet(*paths)

    def read_fetched(self, upto_epoch: int) -> DataFrame:
        return self._read_log("fetched", upto_epoch)

    def read_lineage(self, upto_epoch: int) -> DataFrame:
        return self._read_log("lineage", upto_epoch)
