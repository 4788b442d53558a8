"""Checkpointed, resumable pipeline runs with per-partition lineage +
metrics (north_rule: "every stage checkpoints ... with per-partition
lineage and metrics rows so a killed run resumes at the last committed
partition").

Storage contract (Iceberg-shaped, parquet-backed — the sandbox has no
Iceberg runtime jars; the same interface maps 1:1 onto Iceberg
`writeTo(...).overwritePartitions()` + a lineage table):

  <warehouse>/<stage>/part_id=<k>/*.parquet   data, one commit unit
  <warehouse>/_lineage/<stage>/<k>.json       commit marker + metrics

A partition is committed iff its lineage marker exists; the marker is
written via atomic rename AFTER the data write succeeds. Re-running a
partition overwrites its directory then re-marks — idempotent, so a
kill between data-write and marker neither loses nor duplicates rows
(exactly-once per partition on resume).

Partition key: pmod(xxhash64(conv_id), n_buckets) — conversations never
straddle commits, matching the per-conversation grouping the node-map
stage needs anyway. At 100 TB the same key becomes the Iceberg
partition transform bucket(conv_id, N).
"""
from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


class Ledger:
    def __init__(self, warehouse: str, stage: str):
        self.dir = os.path.join(warehouse, "_lineage", stage)
        os.makedirs(self.dir, exist_ok=True)

    def committed(self) -> set[int]:
        return {int(f[:-5]) for f in os.listdir(self.dir)
                if f.endswith(".json")}

    def commit(self, part_id: int, metrics: dict) -> None:
        tmp = os.path.join(self.dir, f".{part_id}.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"part_id": part_id, **metrics}, f)
        os.rename(tmp, os.path.join(self.dir, f"{part_id}.json"))

    def metrics(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.dir)):
            if f.endswith(".json"):
                with open(os.path.join(self.dir, f)) as fh:
                    out.append(json.load(fh))
        return out


def run_checkpointed_triples(
        spark: SparkSession, transcripts: DataFrame, warehouse: str,
        n_buckets: int = 16, stage: str = "triples",
        use_kernel_path: bool = False,
        on_bucket_done=None) -> dict:
    """Run the transcript→triples pipeline one partition-commit at a
    time, skipping partitions already in the ledger. Returns run stats."""
    from .kernel_path import kernel_transcript_triples
    from .vectorized import transcript_triples

    ledger = Ledger(warehouse, stage)
    done = ledger.committed()
    stats = {"resumed_from": len(done), "ran": 0, "skipped": len(done)}
    src = transcripts.withColumn("_part", bucket_col(n_buckets))
    fn = kernel_transcript_triples if use_kernel_path \
        else transcript_triples
    for k in range(n_buckets):
        if k in done:
            continue
        t0 = time.time()
        triples = fn(src.filter(F.col("_part") == k).drop("_part"))
        out_dir = os.path.join(warehouse, stage, f"part_id={k}")
        if os.path.exists(out_dir):  # partial write from a killed run
            shutil.rmtree(out_dir)
        triples.write.mode("overwrite").parquet(out_dir)
        n_out = spark.read.parquet(out_dir).count()
        ledger.commit(k, {
            "stage": stage,
            "rows_out": n_out,
            "wall_s": round(time.time() - t0, 3),
            "committed_at": time.time(),
            "path": out_dir,
        })
        stats["ran"] += 1
        if on_bucket_done is not None:
            on_bucket_done(k)
    return stats


def read_committed(spark: SparkSession, warehouse: str,
                   stage: str = "triples") -> DataFrame:
    """Read exactly the committed partitions (uncommitted partials are
    invisible, matching Iceberg snapshot-isolation reads)."""
    ledger = Ledger(warehouse, stage)
    paths = [os.path.join(warehouse, stage, f"part_id={k}")
             for k in sorted(ledger.committed())]
    if not paths:
        raise ValueError(f"no committed partitions for stage {stage}")
    return spark.read.parquet(*paths)
