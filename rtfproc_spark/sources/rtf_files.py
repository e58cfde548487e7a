"""Raw .rtf file source: the reference's actual input format as a Spark
scan (reference usage: stdin/file round-trip, test/letter.c:21-56).

A reference user's corpus is a directory of RTF FILES, not a parquet
column — ``read_rtf_files`` turns that directory into the engine's
extraction output with byte-exact semantics:

- ``spark.read.format("binaryFile")`` scans the files distributed (each
  file one row: path, length, content bytes; pathGlobFilter prunes
  non-RTF entries at the listing, and files land on executors whole —
  RTF is stateful front-to-back, exactly why the reference streams one
  document per process);
- the kernel runs in the BYTES domain end-to-end (``rtf_extract_bytes``),
  so ``rtf_out`` round-trips byte-for-byte even for non-UTF-8 codepage
  bytes, and ``plain_text`` is returned as bytes too (the reference's
  uc-countdown quirk can emit invalid UTF-8 — see kernel/api.py) —
  decode at the edge if/when the downstream needs str.

At 100 TB the same scan works against an object store (binaryFile is a
plain FileFormat: partition listing, predicate-on-metadata pushdown for
path/length/modificationTime); very large single files are the only
caveat — one row each, so per-task memory is bounded by the largest
document, the same bound the reference's 64K-window design relaxes to
whole-file when memory allows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import RTFEngine, compile_replacements

BINARY_EXTRACT_SCHEMA = StructType(
    [
        StructField("rtf_out", BinaryType()),
        StructField("plain_text", BinaryType()),
        StructField("error", StringType()),
        StructField("n_text_bytes", IntegerType()),
    ]
)


def rtf_extract_binary_cols(col, pairs=None):
    """Bytes-domain extraction UDF: binary content in, (rtf_out bytes,
    plain_text bytes, error, n_text_bytes) out — no str decode anywhere,
    so outputs are byte-identical to the reference CLI on the same file."""
    rs = compile_replacements(pairs)

    @F.pandas_udf(BINARY_EXTRACT_SCHEMA)
    def extract(contents: pd.Series) -> pd.DataFrame:
        n = len(contents)
        out = {
            "rtf_out": [None] * n,
            "plain_text": [None] * n,
            "error": [None] * n,
            "n_text_bytes": [0] * n,
        }
        eng = RTFEngine(rs)
        for i, raw in enumerate(contents):
            if raw is None:
                continue
            rtf_b, plain_b, err = eng.run(bytes(raw))
            out["rtf_out"][i] = rtf_b
            out["plain_text"][i] = plain_b
            out["error"][i] = err
            out["n_text_bytes"][i] = len(plain_b)
        pdf = pd.DataFrame(out)
        pdf["n_text_bytes"] = pdf["n_text_bytes"].astype("int32")
        return pdf

    return extract(col if isinstance(col, Column) else F.col(col))


def read_rtf_files(
    spark: SparkSession,
    path: str,
    pairs=None,
    glob: str = "*.rtf",
) -> DataFrame:
    """Directory of .rtf files -> one row per document:
    (path, length, rtf_out, plain_text, error, n_text_bytes)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return files.select(
        "path",
        "length",
        rtf_extract_binary_cols("content", pairs).alias("_x"),
    ).select("path", "length", "_x.*")


BINARY_FILE_DDL = (
    "path string, modificationTime timestamp, length long, content binary"
)


def stream_rtf_files(
    spark: SparkSession,
    path: str,
    pairs=None,
    glob: str = "*.rtf",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``read_rtf_files``: a directory WATCHED for
    arriving .rtf documents (binaryFile is a regular file-stream source:
    exactly-once file tracking via the checkpoint's seen-files log), each
    extracted in the bytes domain as it lands. Same output schema as the
    batch reader; attach ``writeStream`` + checkpoint downstream —
    byte-parity with the batch scan over the same files is pinned by
    tests/test_spark_extract.py::test_stream_rtf_files_matches_batch."""
    reader = spark.readStream.format("binaryFile").schema(BINARY_FILE_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.option("pathGlobFilter", glob).load(path)
    return files.select(
        "path",
        "length",
        rtf_extract_binary_cols("content", pairs).alias("_x"),
    ).select("path", "length", "_x.*")
