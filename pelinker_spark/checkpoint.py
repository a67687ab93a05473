"""Resumable stage checkpointing with per-partition lineage + metrics.

The reference checkpoints work units as fingerprint-keyed JSON with atomic
tmp+rename writes and a completed-set skip on resume
(pelinker/model_selection_checkpoint.py:122-183, :236-252;
model_selection/runner.py:221-262). Here that pattern is lifted to tables
(SURVEY.md §2.10): every pipeline stage writes its output to
``<root>/<stage>/`` as parquet, then commits it with one atomic JSON
record, ``<root>/<stage>/_CHECKPOINT``:

    {fingerprint, schema, wall_ms, updated_at,
     partitions: [[partition_id, n_rows], ...]}

The per-partition row counts come from the parquet footers of the files
the write produced (the per-file record counts an Iceberg manifest keeps),
so a stage costs its write job and nothing more. On resume, a stage whose
output has Spark's ``_SUCCESS`` marker and a record with this run's
fingerprint is read back with the recorded schema — no Spark job, no
schema inference; any other stage directory (no record, an unreadable
one, another fingerprint) is rebuilt. The record is written only after
the write commits, and an overwrite deletes it with the old output, so a
record always describes the parquet next to it.

``metrics()`` turns the records under the root into rows

    (run_fingerprint, stage, partition_id, n_rows, wall_ms, status,
     updated_at)
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from datetime import datetime, timezone

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .fsio import (
    fs_exists,
    fs_list_subdirs,
    fs_mkdirs,
    fs_parquet_part_rows,
    fs_read_text,
    fs_write_text_atomic,
)


def run_fingerprint(config: dict, input_id: str | None = None) -> str:
    """sha256 of sorted-key config JSON plus an input-identity token
    (reference keys work units per (config, input),
    model_selection_checkpoint.py:122-124). Without input identity,
    resuming the same config against different pages would silently read
    back stale stage parquet (ADVICE r1)."""
    payload = {"config": config, "input_id": input_id}
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def input_identity(df: DataFrame) -> str:
    """Cheap, deterministic identity for a source table: scan file paths +
    sizes when file-backed (no data pass), else the logical plan string.
    On Iceberg this would be the snapshot id."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    if files:
        token = ";".join(files)
    else:
        # strip per-construction expression ids (#123) so the same logical
        # input re-built in another session fingerprints identically
        import re

        token = re.sub(
            r"#\d+L?", "#", df._jdf.queryExecution().logical().toString()
        )
    return hashlib.sha256(token.encode()).hexdigest()[:16]


RECORD = "_CHECKPOINT"
_RECORD_KEYS = {"fingerprint", "schema", "wall_ms", "updated_at", "partitions"}

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_fingerprint", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("wall_ms", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)


def _read_record(spark: SparkSession, stage_path: str) -> dict | None:
    """The stage's commit record, or None when it is missing, unreadable
    or not a record (an old-layout or damaged stage directory)."""
    marker = os.path.join(stage_path, RECORD)
    if not fs_exists(spark, marker):
        return None
    try:
        rec = json.loads(fs_read_text(spark, marker))
    except (ValueError, Py4JJavaError):
        return None
    return rec if isinstance(rec, dict) and _RECORD_KEYS <= rec.keys() else None


class CheckpointManager:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        config: dict,
        input_df: DataFrame | None = None,
    ):
        self.spark = spark
        self.root = root
        self.fingerprint = run_fingerprint(
            config, input_identity(input_df) if input_df is not None else None
        )
        # records of the stages this manager built or resumed
        self._records: dict[str, dict] = {}
        # Hadoop-FS, not os.makedirs: the checkpoint root lives wherever
        # the stage parquet lives (HDFS/S3 on a real cluster) — a
        # driver-local mkdir/exists would make every resume a silent full
        # recompute there.
        fs_mkdirs(spark, root)

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _committed(self, stage: str) -> dict | None:
        """The stage's record if its output is complete for this run."""
        p = self._stage_path(stage)
        if not fs_exists(self.spark, os.path.join(p, "_SUCCESS")):
            return None
        rec = _read_record(self.spark, p)
        return rec if rec and rec["fingerprint"] == self.fingerprint else None

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Run (or resume) a stage. Returns the stage output DataFrame,
        always backed by parquet so downstream stages re-read columnar data
        rather than re-deriving lineage."""
        path = self._stage_path(name)
        rec = self._committed(name)
        if rec is None:
            t0 = time.monotonic()
            df = build()
            df.write.mode("overwrite").parquet(path)
            rec = {
                "fingerprint": self.fingerprint,
                "schema": df.schema.jsonValue(),
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "updated_at": datetime.now(timezone.utc).isoformat(),
                "partitions": fs_parquet_part_rows(self.spark, path),
            }
            fs_write_text_atomic(
                self.spark, os.path.join(path, RECORD), json.dumps(rec)
            )
        self._records[name] = rec
        schema = T.StructType.fromJson(rec["schema"])
        return self.spark.read.schema(schema).parquet(path)

    def rows(self, stage: str) -> int:
        """Row count of a stage this manager built or resumed, from its
        record (no Spark job)."""
        return sum(n for _, n in self._records[stage]["partitions"])

    def metrics(self) -> DataFrame:
        """One row per (stage, partition) from the record of every stage
        directory under the root, whatever its fingerprint. Built on the
        driver: no Spark job runs until an action."""
        rows = []
        for stage in fs_list_subdirs(self.spark, self.root):
            rec = _read_record(self.spark, self._stage_path(stage))
            if rec is None:
                continue
            updated_at = datetime.fromisoformat(rec["updated_at"])
            rows += [
                (rec["fingerprint"], stage, pid, n, rec["wall_ms"], "complete",
                 updated_at)
                for pid, n in rec["partitions"]
            ]
        return self.spark.createDataFrame(rows, METRICS_SCHEMA)
