"""Seeded input generators for the four workloads.

Everything here runs in the benchmark process on one thread and depends only
on the seed, so the same seed gives byte-identical inputs. The program under
test only ever sees the parquet files these functions return as frames.

- ``rtf_transcripts``: every turn is a ``make_rtf_doc`` RTF document (the
  public synthesizer's mix: planted / split / hex-escaped keys, ``\\u`` and
  surrogates, cp932 DBCS, shunted destinations, 5% hot conversations with
  5x turns, 3% late turns).
- ``chat_turn_files``: open-loop turn files, mostly plain lowercase ASCII chat
  text that the extraction prefilter passes through, with a planted minority
  of RTF documents.
- ``events``: Zipf-skewed ``user_id``, planted view/click/purchase funnels,
  a per-user random-walk ``value`` for the ticker, and a share of events
  delivered out of order.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from rtfproc_spark.sources.transcripts import (
    EPOCH,
    ROLES,
    make_rtf_doc,
    synthesize_transcripts_pdf,
)

_CHAT = (
    "sure here is the summary you asked for please check the numbers "
    "thanks that looks right can you also add the totals by region i "
    "think the second step failed let me retry with a smaller batch ok "
    "done the job finished in under a minute what about the late rows"
).split()


def rtf_transcripts(seed: int, n_convs: int, turns_per_conv: int) -> pd.DataFrame:
    """All-RTF transcripts table from the public synthesizer."""
    return synthesize_transcripts_pdf(
        n_convs=n_convs,
        turns_per_conv=turns_per_conv,
        seed=seed,
        hot_frac=0.05,
        late_frac=0.03,
        include_golden=False,
    )


def _chat_text(r: random.Random) -> str:
    words = [r.choice(_CHAT) for _ in range(r.randint(6, 40))]
    text = " ".join(words)
    if r.random() < 0.3:
        text += f" {r.randint(0, 9999)}"
    return text + r.choice((".", "?", "!", ""))


def chat_turn_files(
    seed: int, n_files: int, turns_per_file: int, rtf_share: float, n_convs: int
) -> list[pd.DataFrame]:
    """``n_files`` transcript frames; conversations continue across files."""
    r = random.Random(seed * 1_000_003 + 17)
    next_turn = [0] * n_convs
    clock = [EPOCH] * n_convs
    files = []
    for _ in range(n_files):
        rows = []
        for _ in range(turns_per_file):
            conv = r.randrange(n_convs)
            turn = next_turn[conv]
            next_turn[conv] += 1
            clock[conv] = clock[conv] + pd.Timedelta(seconds=r.randint(5, 180))
            role = ROLES[turn % 3]
            if r.random() < rtf_share:
                text = make_rtf_doc(conv, turn, seed)
            else:
                text = _chat_text(r)
            rows.append(
                {
                    "conv_id": f"conv-{conv:06d}",
                    "turn_idx": turn,
                    "role": role,
                    "text": text,
                    "tool": "search" if role == "tool" else None,
                    "ts": clock[conv],
                }
            )
        pdf = pd.DataFrame(rows)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        files.append(pdf)
    return files


# events: Zipf exponent of user_id, mean event-time gap, share of positions
# that start a planted funnel, share of events delivered late and their
# largest lateness (below the stream's 10-minute watermark, so none drop)
EVENT_ZIPF_S = 1.1
EVENT_MEAN_GAP_S = 0.5
EVENT_FUNNEL_SHARE = 0.03
EVENT_OOO_SHARE = 0.05
EVENT_MAX_LAG_S = 240


def events(seed: int, n_events: int, n_users: int) -> pd.DataFrame:
    """Event log in ARRIVAL order: ``event_id, user_id, event_type, ts, value``.

    ``event_id`` follows event-time order. A share ``EVENT_OOO_SHARE`` of
    events arrives up to ``EVENT_MAX_LAG_S`` of event time after its
    timestamp (so after later events); every other event arrives in
    timestamp order.
    """
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_users + 1) ** EVENT_ZIPF_S
    users = rng.choice(n_users, size=n_events, p=weights / weights.sum())
    types = rng.choice(
        np.array(["view", "click", "purchase", "scroll", "search", "cart"]),
        size=n_events,
        p=[0.30, 0.20, 0.05, 0.20, 0.15, 0.10],
    ).astype(object)
    gaps = rng.exponential(EVENT_MEAN_GAP_S, size=n_events)
    t = np.cumsum(gaps)
    # planted funnels: view -> click -> purchase by one (uniformly drawn)
    # user a few tens of seconds apart
    starts = np.flatnonzero(rng.random(n_events) < EVENT_FUNNEL_SHARE)
    for s in starts:
        if s + 40 >= n_events:
            continue
        u = rng.integers(n_users)
        j1 = s + int(rng.integers(5, 20))
        j2 = j1 + int(rng.integers(5, 20))
        users[s] = users[j1] = users[j2] = u
        types[s], types[j1], types[j2] = "view", "click", "purchase"
    # per-user random walk for the ticker's PREV(value) navigation
    steps = np.round(rng.normal(0.0, 1.0, size=n_events), 2)
    value = np.empty(n_events)
    level: dict[int, float] = {}
    for i in range(n_events):
        u = int(users[i])
        level[u] = round(level.get(u, 100.0) + steps[i], 2)
        value[i] = level[u]
    ts = pd.Timestamp(EPOCH) + pd.to_timedelta(np.round(t * 1e6), unit="us")
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "user_id": users.astype("int64"),
            "event_type": types,
            "ts": ts.astype("datetime64[us]"),
            "value": value,
        }
    )
    # arrival key: ts, plus a lag for the out-of-order share
    lag = np.where(
        rng.random(n_events) < EVENT_OOO_SHARE,
        rng.uniform(1.0, EVENT_MAX_LAG_S, size=n_events),
        0.0,
    )
    order = np.argsort(t + lag, kind="stable")
    return pdf.iloc[order].reset_index(drop=True)


def input_properties(keys: pd.Series, ts: pd.Series | None = None, texts=None) -> dict:
    """Measured input properties every run reports: rows, distinct keys,
    the share of rows on the top 1% of keys, the share of rows that arrive
    after a row with a later timestamp (``ts`` in arrival order), and the
    share of texts that are RTF documents."""
    counts = keys.value_counts()
    top = max(1, int(np.ceil(len(counts) * 0.01)))
    out = {
        "sources.rows": len(keys),
        "sources.distinct_keys": len(counts),
        "sources.top1pct_key_share": float(counts.iloc[:top].sum() / counts.sum()),
        "sources.out_of_order_share": 0.0,
        "sources.rtf_row_share": 0.0,
    }
    if ts is not None:
        v = ts.to_numpy()
        out["sources.out_of_order_share"] = float((v < np.maximum.accumulate(v)).mean())
    if texts is not None:
        out["sources.rtf_row_share"] = float(texts.str.startswith("{\\rtf").mean())
    return out
