"""Exactly-once idempotent sink (SURVEY.md §2 B9).

The reference writes raw bytes to fout only once they are provably final
(deferred raw emission, rtfproc.c:360-367); the streaming analogue is a sink
that commits each micro-batch idempotently so replays after a crash cannot
duplicate rows.

Implementation (plain parquet, no table-format jars): one parquet
subdirectory per epoch batch, written to a temp path then atomically renamed
to ``batch_id=N``. A replayed batch N overwrites the same directory —
idempotent by construction. Readers merge by key taking the newest batch
(``read_sink``), i.e. MERGE-by-key semantics materialized at read time.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType
from pyspark.sql.window import Window


def _hashable(dt) -> bool:
    """True iff ``xxhash64`` accepts the type (no MapType at any depth)."""
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def _publish(df: DataFrame, base: str, batch_id: int) -> str:
    """Write-then-rename per-batch publish: ``df`` goes to
    ``_tmp_batch_N`` and is renamed to ``batch_id=N``, replacing the
    directory a replayed batch N left (idempotent under replay). Returns
    the published directory."""
    final = os.path.join(base, f"batch_id={batch_id}")
    tmp = os.path.join(base, f"_tmp_batch_{batch_id}")
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


@dataclass
class IdempotentSink:
    path: str
    keys: list[str] = field(default_factory=lambda: ["conv_id", "turn_idx"])
    metrics: list = field(default_factory=list)

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        n = _count_parquet_rows(_publish(batch_df, self.path, batch_id))
        m = {
            "batch_id": batch_id,
            "rows": n,
            "secs": round(time.monotonic() - t0, 4),
        }
        self.metrics.append(m)
        with open(os.path.join(self.path, "_metrics.jsonl"), "a") as f:
            f.write(json.dumps(m) + "\n")

    def writer(self):
        return self.foreach_batch


def _count_parquet_rows(d: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def read_sink(spark, path: str, keys: list[str] | None = None) -> DataFrame:
    """Merged view of the sink: newest batch wins per key.

    The sink writes each batch as it arrives, without a key-dedup shuffle
    of the wide payload columns, so a single batch directory may hold
    several rows per key (at-least-once sources); the merge window tiebreaks
    WITHIN a batch by a hash of the payload columns — deterministic for any
    input (and a no-op when same-batch duplicates are byte-identical, the
    common at-least-once-source case). ``_metrics`` row counts remain raw
    per-batch counts, i.e. they include in-batch duplicates.
    """
    keys = keys or ["conv_id", "turn_idx"]
    df = spark.read.option("basePath", path).parquet(os.path.join(path, "batch_id=*"))
    payload = [c for c in df.columns if c not in keys and c != "batch_id"]
    order = [F.col("batch_id").desc()]
    # xxhash64 rejects some types at analysis time (MapType, anywhere in a
    # nested field) — restrict the tiebreak to hashable columns so the
    # merge still analyzes on any schema (the tiebreak stays deterministic
    # as long as the hashable columns distinguish the duplicates; rows
    # identical on every hashable column tie arbitrarily, as before).
    payload = [c for c in payload if _hashable(df.schema[c].dataType)]
    if payload:
        order.append(F.xxhash64(*payload).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )
