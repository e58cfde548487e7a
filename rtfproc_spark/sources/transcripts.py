"""Deterministic transcripts synthesizer (FIXTURES.md §1-§3).

Builds the Iceberg-shaped transcripts table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` whose per-turn ``text`` is an RTF document exercising every
operator in SURVEY.md §2 Part A, plus the two reference golden conversations
verbatim. Seed-stable: same args -> byte-identical table, no wall clock.

Scale posture: generation is distributed (spark.range -> mapInPandas), so a
bench-scale corpus is produced in parallel on all cores / executors and the
same generator would run on a 1000-executor cluster unchanged.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta
from pathlib import Path

import pandas as pd

EPOCH = datetime(2024, 1, 1)
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "calc", "code", "fetch")

# Default replacement dictionary for the pipeline (keys planted in the
# synthetic docs in every split the reference fixtures exercise).
DEFAULT_REPLACEMENTS = [
    ("«Client Rank»", "Colonel"),
    ("«Client Full Name»", "Chesty A. Puller"),
    ("JAMES", "BOOBEAR"),
    ("MEXICAN", "LATIN"),
    ("ATTORNEY", "Maj J. L. Ockert"),
    ("TORTLOCATION", "Colorado Springs, CO"),
    ("NEEDLE_ALPHA", "REPL_ALPHA"),
    ("NEEDLE_BETA", "REPL_BETA"),
]

_WORDS = (
    "the quick brown fox jumps over lazy dog while spark executors shuffle "
    "arrow batches across partitions watermark state store checkpoint merge "
    "window session join salt skew lineage metric turn conversation agent"
).split()

_HEADER = (
    r"{\rtf1\ansi\ansicpg1252\deff0"
    r"{\fonttbl\f0\fmodern\fcharset0 Courier New;\f1\fnil\fcharset128 MS Mincho;}"
)


def _rng_for(conv: int, turn: int, seed: int) -> random.Random:
    return random.Random((seed * 1_000_003 + conv) * 1_000_033 + turn)


def _words(r: random.Random, n: int) -> str:
    return " ".join(r.choice(_WORDS) for _ in range(n))


def _hexkey(key: str) -> str:
    """Encode an ASCII-ish key via cp1252 \\'hh escapes (splits the key
    across hex escapes — FIXTURES.md §3)."""
    out = []
    for ch in key:
        b = ch.encode("cp1252", errors="replace")[0]
        if 0x20 <= b < 0x7F and ch not in "\\{}'":
            out.append(ch if random.Random(b).random() < 0.5 else "\\'%02x" % b)
        else:
            out.append("\\'%02x" % b)
    return "".join(out)


def make_rtf_doc(conv: int, turn: int, seed: int = 42, doc_words: int = 40) -> str:
    """One synthetic RTF document; feature mix per FIXTURES.md §3."""
    r = _rng_for(conv, turn, seed)
    parts = [_HEADER, r"\f0\fs20 "]
    keys = [k for k, _ in DEFAULT_REPLACEMENTS]

    def para(n):
        parts.append(_words(r, n))
        parts.append("\\par\n" if r.random() < 0.8 else "\\line ")

    para(r.randint(4, doc_words))
    roll = r.random()
    if roll < 0.25:
        # plant a key — whole, split by control words, or hex-escaped
        key = r.choice(keys)
        how = r.random()
        if how < 0.4:
            parts.append(f" {key} ")
        elif how < 0.6:
            cut = r.randint(1, max(1, len(key) - 1))
            parts.append(f" {key[:cut]}\\i0 {key[cut:]} ")
        elif how < 0.8 and "«" not in key:
            parts.append(" " + _hexkey(key) + " ")
        else:
            # overlapping-prefix family noise: JAMEXICAN etc.
            parts.append(" JAMEXICAN FOOD ")
    elif roll < 0.35:
        # unicode escapes incl. surrogate pairs and \uc variants
        parts.append(r"\uc%d\u10084 \u-497 <3 " % r.choice((0, 1, 2)))
        parts.append(r"{\uc0\u-10179\u-8704} ")  # U+1F600 via surrogates
        parts.append(r"\u9731 ? ")
    elif roll < 0.45:
        # cp932 DBCS run under \f1 (test/cpgtoutest.c byte stream)
        parts.append(r"{\f1 \'94\'45\'8e\'d2\'90\'ed} ")
    elif roll < 0.55:
        # escaped literals and stand-ins
        parts.append(r"literal \{braces\} and back\\slash \~nb \_hyph \-soft ")
    elif roll < 0.65:
        # shunted destinations — keys inside MUST NOT match
        blob = "".join(r.choice("0123456789abcdef") for _ in range(64))
        parts.append(r"{\pict " + blob + " JAMES MEXICAN}")
        parts.append(r"{\*\unkdest hidden ATTORNEY}")
    elif roll < 0.72:
        # }{-noise inside a key span (net-brace check)
        parts.append(r" NEEDLE_}{ALPHA ".replace("}{", "}{"))
    para(r.randint(4, 12))
    if r.random() < 0.1:
        parts.append("\\tab x\\'ab\\'bb ")
    parts.append("}")
    return "".join(parts)


def golden_conversations() -> list[dict]:
    """The two reference golden fixtures as conversations (FIXTURES.md §2)."""
    rows = []
    ref = Path("/root/reference/test")
    for i, stem in enumerate(("letter", "latepartial")):
        p = ref / f"{stem}-input.rtf"
        if not p.exists():  # keep the synthesizer usable off-sandbox
            continue
        rows.append(
            {
                "conv_id": f"golden-{stem}",
                "turn_idx": 0,
                "role": "user",
                "text": p.read_bytes().decode("utf-8", errors="replace"),
                "tool": None,
                "ts": EPOCH + timedelta(minutes=i),
            }
        )
    return rows


def _turns_pdf(
    convs: range, turns_per_conv: int, seed: int, hot_frac: float, late_frac: float
) -> pd.DataFrame:
    rows = []
    for conv in convs:
        r = random.Random(seed * 7_777_777 + conv)
        # hot conversations carry ~5x the turns (skew knob)
        n_turns = turns_per_conv * (5 if r.random() < hot_frac else 1)
        base = EPOCH + timedelta(seconds=conv * 97 % 86_400)
        t = base
        for turn in range(n_turns):
            t = t + timedelta(seconds=r.randint(5, 180))
            ts = t
            if r.random() < late_frac:
                ts = t - timedelta(minutes=r.randint(15, 120))  # late arrival
            role = ROLES[turn % 3] if r.random() < 0.9 else r.choice(ROLES)
            rows.append(
                {
                    "conv_id": f"conv-{conv:06d}",
                    "turn_idx": turn,
                    "role": role,
                    "text": make_rtf_doc(conv, turn, seed),
                    "tool": r.choice(TOOLS) if role == "tool" else None,
                    "ts": ts,
                }
            )
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # parquet TIMESTAMP(MICROS)
    return pdf


def synthesize_transcripts_pdf(
    n_convs: int = 50,
    turns_per_conv: int = 8,
    seed: int = 42,
    hot_frac: float = 0.05,
    late_frac: float = 0.03,
    include_golden: bool = True,
) -> pd.DataFrame:
    """Small-scale driver (single pandas frame) for tests."""
    pdf = _turns_pdf(range(n_convs), turns_per_conv, seed, hot_frac, late_frac)
    if include_golden:
        g = pd.DataFrame(golden_conversations())
        if len(g):
            pdf = pd.concat([g, pdf], ignore_index=True)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


TRANSCRIPTS_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def synthesize_transcripts_df(
    spark,
    n_convs: int = 200,
    turns_per_conv: int = 8,
    seed: int = 42,
    hot_frac: float = 0.05,
    late_frac: float = 0.03,
    include_golden: bool = True,
    parallelism: int | None = None,
):
    """Distributed synthesizer: one task per conv-range chunk via mapInPandas
    (generation scales with the cluster; no driver-side materialization)."""
    if parallelism is None:
        parallelism = max(8, spark.sparkContext.defaultParallelism)
    chunks = spark.range(0, n_convs, numPartitions=min(parallelism, n_convs))

    def gen(batches):
        for pdf in batches:
            convs = pdf["id"].tolist()
            if not convs:
                continue
            out = _turns_pdf(convs, turns_per_conv, seed, hot_frac, late_frac)
            yield out[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]

    df = chunks.mapInPandas(gen, schema=TRANSCRIPTS_DDL)
    if include_golden:
        g = golden_conversations()
        if g:
            gdf = spark.createDataFrame(pd.DataFrame(g), schema=TRANSCRIPTS_DDL)
            df = df.unionByName(gdf)
    return df


def write_transcripts_bucketed(
    spark, table: str, n_buckets: int = 64, **kwargs
) -> None:
    """Ingest path for co-located per-conversation work: bucket + sort by
    conv_id so downstream groupBy(conv_id)/sessionization plans with ZERO
    exchanges (pinned in tests/test_plans.py). At 100 TB this is the Iceberg
    table's bucket(conv_id) partition transform; locally a bucketed
    saveAsTable."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous session may have left the managed location behind (the
    # in-memory catalog forgets, the filesystem does not)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, table), ignore_errors=True)
    df = synthesize_transcripts_df(spark, **kwargs)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "ts")
        .saveAsTable(table)
    )
