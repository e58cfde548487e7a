"""Per-partition lineage + per-batch metrics (SURVEY.md §2 B8, B11).

- ``with_lineage``: stamps each row with its physical provenance
  (partition id, input file) using native expressions — the table-level
  generalization of the reference's txt->raw lineage map (rtfproc.c:979).
- ``ProgressListener``: a StreamingQueryListener recording per-batch input
  rows, processed rows/sec, and watermark — including the count of late rows
  dropped by the watermark (B8), surfaced via stateOperators metrics — plus
  the batch's ``durationMs`` breakdown and, per state operator, its state
  partitions, state rows and update/removal/commit times.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


def with_lineage(df: DataFrame) -> DataFrame:
    return df.withColumns(
        {
            "_partition_id": F.spark_partition_id(),
            "_input_file": F.input_file_name(),
        }
    )


def partition_metrics(df: DataFrame) -> DataFrame:
    """rows/bytes per physical partition (one tiny agg, for audits)."""
    return (
        with_lineage(df)
        .groupBy("_partition_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("text")).alias("text_chars"),
            F.countDistinct("_input_file").alias("n_files"),
        )
    )


class ProgressListener(StreamingQueryListener):
    """Collects per-batch progress; optionally appends JSONL to a path."""

    def __init__(self, jsonl_path: str | None = None):
        self.progress: list[dict] = []
        self.jsonl_path = jsonl_path

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        row = {
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "processed_rows_per_sec": p.processedRowsPerSecond,
            "watermark": p.eventTime.get("watermark") if p.eventTime else None,
            "state_rows_dropped_by_watermark": sum(
                (op.numRowsDroppedByWatermark or 0) for op in (p.stateOperators or [])
            ),
            # addBatch, triggerExecution, queryPlanning, walCommit, ...
            "duration_ms": dict(p.durationMs or {}),
            "state_operators": [
                {
                    "operator_name": op.operatorName,
                    "num_shuffle_partitions": op.numShufflePartitions,
                    "num_rows_total": op.numRowsTotal,
                    "all_updates_time_ms": op.allUpdatesTimeMs,
                    "all_removals_time_ms": op.allRemovalsTimeMs,
                    "commit_time_ms": op.commitTimeMs,
                }
                for op in (p.stateOperators or [])
            ],
        }
        self.progress.append(row)
        if self.jsonl_path:
            with open(self.jsonl_path, "a") as f:
                f.write(json.dumps(row) + "\n")

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass
