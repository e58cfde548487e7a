"""Vectorized Spark-facing RTF kernels (SURVEY.md §2 B2, A29).

The reference's entire UDF surface is the rtfprocess callback
(/root/reference/src/rtfproc.c:309-332); here it becomes composable
Arrow-batched pandas UDFs — no per-row Python at the Spark API level:

- ``rtf_extract_cols(pairs)``  -> struct(rtf_out, plain_text, error, n_text_bytes)
- ``rtf_strip_col``            -> plain_text string
- ``rtf_replace_col(pairs)``   -> rtf_out string

A vectorized prefilter skips the state machine entirely for cells that
contain no RTF markup and no replacement-key first character — at transcript
scale most turns are markup-free, so the hot path is pandas C code.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import ReplacementSet, RTFEngine, compile_replacements

EXTRACT_SCHEMA = StructType(
    [
        StructField("rtf_out", StringType()),
        StructField("plain_text", StringType()),
        StructField("error", StringType()),
        StructField("n_text_bytes", IntegerType()),
    ]
)

# str-domain equivalent of the engine's boring-text transform:
# \r \n dropped from text, \v -> space (engine.py _TXT_TRANSLATE).
_STR_TXT_TABLE = {0x0D: None, 0x0A: None, 0x0B: 0x20}


def _passthrough_mask(texts: pd.Series, rs: ReplacementSet) -> pd.Series:
    """True where the engine provably acts as identity + text transform:
    pure-ASCII cell with no structural byte and no key first byte.

    Restricting to pure ASCII keeps the str-level scan equal to the
    byte-level one (chars == bytes), so the mask is exact, and byte counts
    equal char counts on the fast rows.
    """
    import re as _re

    ascii_firsts = "".join(
        _re.escape(chr(b)) for b in sorted(rs.first_bytes) if b < 0x80
    )
    # \x00 is the engine's deferred-setup sentinel (never enters plain_text);
    # \x0b's txt-image is a space, so when a key starts with 0x20 a \x0b cell
    # can begin a match and must go through the engine.
    extra = "\x00" + ("\x0b" if 0x20 in rs.first_bytes else "")
    # one pass: any non-ASCII char, structural byte, or ASCII key-first byte
    pat = _re.compile(r"[^\x01-\x7f]|[{}\\" + _re.escape(extra) + ascii_firsts + "]")
    return ~texts.str.contains(pat, regex=True, na=True)


def _split_run(texts: pd.Series, rs: ReplacementSet):
    """The prefilter/engine split every kernel UDF shares.

    Returns ``(filled, fast, slow_idx, runs)``: the re-indexed cells with
    nulls as ``""``, the pass-through mask, the index of the non-null cells
    the mask rejects, and one ``RTFEngine.run`` result per such cell, in
    order. ``RTFEngine`` is resolved from this module's globals on every
    call, so a substituted engine class sees every run."""
    texts = texts.reset_index(drop=True)
    filled = texts.fillna("")
    fast = _passthrough_mask(filled, rs) & texts.notna()
    slow_mask = (texts.notna() & ~fast).to_numpy()
    runs = []
    if slow_mask.any():
        eng = RTFEngine(rs)  # one engine per batch, reset per row
        runs = [eng.run(t.encode("utf-8")) for t in filled.to_numpy()[slow_mask]]
    return filled, fast, texts.index[slow_mask], runs


def make_extract_fn(pairs=None):
    """Returns a pandas Series->DataFrame function implementing rtf_extract."""
    rs = compile_replacements(pairs)

    def extract(texts: pd.Series) -> pd.DataFrame:
        filled, fast, slow_idx, runs = _split_run(texts, rs)
        n = len(filled)
        rtf_out = pd.Series([None] * n, dtype=object)
        plain = pd.Series([None] * n, dtype=object)
        error = pd.Series([None] * n, dtype=object)
        nbytes = pd.Series([0] * n, dtype="int64")
        if fast.any():
            ft = filled[fast]
            rtf_out[fast] = ft
            pt = ft.str.translate(_STR_TXT_TABLE)
            plain[fast] = pt
            nbytes[fast] = pt.str.len()  # pure-ASCII: chars == bytes
        if runs:
            rtf_out[slow_idx] = [o.decode("utf-8", errors="replace") for o, _, _ in runs]
            plain[slow_idx] = [p.decode("utf-8", errors="replace") for _, p, _ in runs]
            error[slow_idx] = [e for _, _, e in runs]
            nbytes[slow_idx] = [len(p) for _, p, _ in runs]
        return pd.DataFrame(
            {
                "rtf_out": rtf_out,
                "plain_text": plain,
                "error": error,
                "n_text_bytes": nbytes.astype("int32"),
            }
        )

    return extract


def _single_output_fn(pairs, which: str):
    """Series->Series kernel producing only one output column — half the
    Arrow transfer (and no struct assembly) when a pipeline needs just the
    stripped text or just the replaced RTF."""
    rs = compile_replacements(pairs)
    want_plain = which == "plain_text"

    def one(texts: pd.Series) -> pd.Series:
        filled, fast, slow_idx, runs = _split_run(texts, rs)
        out = pd.Series([None] * len(filled), dtype=object)
        if fast.any():
            ft = filled[fast]
            out[fast] = ft.str.translate(_STR_TXT_TABLE) if want_plain else ft
        if runs:
            out[slow_idx] = [
                (p if want_plain else o).decode("utf-8", errors="replace")
                for o, p, _ in runs
            ]
        return out

    return one


def _col(col) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def _extract_udf(pairs):
    return F.pandas_udf(make_extract_fn(pairs), returnType=EXTRACT_SCHEMA)


def _single_udf(pairs, which: str):
    return F.pandas_udf(_single_output_fn(pairs, which), returnType=StringType())


def rtf_extract_cols(col, pairs=None) -> Column:
    """df.select(rtf_extract_cols("text", pairs).alias("x")) -> struct column."""
    return _extract_udf(pairs)(_col(col))


def rtf_strip_col(col) -> Column:
    return _single_udf(None, "plain_text")(_col(col))


def rtf_replace_col(col, pairs) -> Column:
    return _single_udf(pairs, "rtf_out")(_col(col))


def with_rtf_extract(df, pairs=None, text_col: str = "text"):
    """Extraction projection (SURVEY.md §2 B2): adds rtf_out, plain_text,
    error, n_text_bytes columns in one vectorized pass."""
    x = rtf_extract_cols(text_col, pairs).alias("_x")
    return df.select("*", x).select("*", "_x.*").drop("_x")


def register_sql_functions(spark, pairs=None, prefix: str = "rtf_") -> list[str]:
    """Register the engine's kernels as Spark SQL functions so plain
    ``spark.sql`` users (the reference's CLI/callback audience, SURVEY §2
    A29) get the full surface without touching the DataFrame API:

        SELECT {prefix}strip(text)   AS plain_text,   -- text extraction
               {prefix}replace(text) AS rtf_out,      -- match-and-replace
               {prefix}extract(text) AS x             -- struct of both + error
        FROM transcripts

    ``pairs`` fixes the replacement set at registration (SQL functions
    cannot take a Python list per call); register under different prefixes
    for different replacement sets. Returns the registered names. The
    registered functions are the same Arrow-batched pandas UDFs as the
    column API — one Python island per projection, no per-row Python."""
    udfs = {
        f"{prefix}strip": _single_udf(None, "plain_text"),
        f"{prefix}replace": _single_udf(pairs, "rtf_out"),
        f"{prefix}extract": _extract_udf(pairs),
    }
    for name, udf in udfs.items():
        spark.udf.register(name, udf)
    return list(udfs)
