"""The stream CEP state codec, without Spark: random partials and buffers
round-trip exactly through their one layout, and state written by an older
build, or for another payload width, raises the fresh-checkpoint error."""

import json
import math
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rtfproc_spark.operators.cep import (
    _I64_NONE,
    decode_buffer,
    decode_state,
    encode_buffer,
    encode_partials,
)

# ts values never equal the int64 sentinel that encodes None
TS = st.integers(_I64_NONE + 1, 2**63 - 1)
ID = st.integers(-(2**63), 2**63 - 1)
U8, U32 = st.integers(0, 255), st.integers(0, 2**32 - 1)
DBL = st.floats(allow_nan=True, allow_infinity=True)
HOP = st.tuples(TS, ID, U8).map(list)
PAIRS = st.lists(st.tuples(TS, ID).map(list), max_size=2)
CTR = st.tuples(U32, st.none() | TS, U32, U8, PAIRS).map(list)


def _partial(n_loops, n_caps, slots):
    base = st.tuples(
        U8, TS, TS,
        st.lists(st.none() | HOP, max_size=4),  # None: a skipped hop
        st.none() | TS,
        st.none() | HOP,  # pending optional candidate
        st.lists(CTR, max_size=2),
    ).map(list)
    loops = st.lists(CTR, min_size=n_loops, max_size=n_loops)
    caps = st.lists(st.none() | st.lists(DBL, max_size=3),
                    min_size=n_caps, max_size=n_caps)
    tail = [loops, caps][:slots]
    return st.tuples(base, *tail).map(lambda t: [*t[0], *t[1:]])


@st.composite
def _state(draw):
    slots = draw(st.integers(0, 2))
    n_loops = draw(st.integers(0, 2)) if slots else 0
    n_caps = draw(st.integers(0, 3)) if slots > 1 else 0
    partials = draw(st.lists(_partial(n_loops, n_caps, slots), max_size=3))
    last_end = draw(st.none() | st.tuples(TS, ID).map(list))
    sess = draw(st.none() | st.tuples(TS, U32).map(list))
    return partials, last_end, sess


def _canon(x):
    """NaN compares equal to NaN; lists and tuples keep their type."""
    if isinstance(x, float) and math.isnan(x):
        return "nan"
    if isinstance(x, (list, tuple)):
        return type(x)(_canon(v) for v in x)
    return x


@settings(max_examples=60, deadline=None)
@given(_state())
def test_partials_roundtrip(state):
    partials, last_end, sess = state
    blob = encode_partials(partials, last_end, sess)
    assert _canon(decode_state(blob)) == _canon((partials, last_end, sess))
    if partials:
        assert blob[1] == len(partials[0]) - 7  # the header's slot count


@st.composite
def _buffer(draw):
    m = draw(st.integers(0, 3))
    vals = st.lists(DBL, min_size=m, max_size=m)
    ev = st.tuples(TS, ID, U8)
    if m:
        ev = st.tuples(TS, ID, U8, vals)
    events = draw(st.lists(ev, max_size=6))
    tail = draw(st.lists(vals, max_size=4)) if m else []
    return events, tail, m


@settings(max_examples=60, deadline=None)
@given(_buffer())
def test_buffer_roundtrip(buf):
    events, tail, m = buf
    assert _canon(decode_buffer(encode_buffer(events, tail, m), m)) == _canon(
        (events, tail)
    )


@settings(max_examples=20, deadline=None)
@given(_buffer(), st.integers(0, 3))
def test_buffer_width_mismatch_is_fenced(buf, m_run):
    events, tail, m = buf
    if m_run == m:
        return
    with pytest.raises(ValueError, match="nav columns does not match"):
        decode_buffer(encode_buffer(events, tail, m), m_run)


def _older_blobs():
    """Partials blobs in the formats older builds wrote: a v2 blob (pair
    hops), v4/v5/v6 blobs (session header; v5 adds loop slots, v6 capture
    slots) and the JSON format before the binary codec."""
    t = 1_704_067_200_000_000_000
    head = struct.pack("<qq", t, 42)
    v2 = b"".join([
        struct.pack("<B", 2), head, struct.pack("<H", 1),
        struct.pack("<Bqqq", 2, t + 900, t + 60, _I64_NONE),
        struct.pack("<qq", _I64_NONE, _I64_NONE),
        struct.pack("<H", 1), struct.pack("<qq", t, 11),
        struct.pack("<B", 0),
    ])
    partial = b"".join([
        struct.pack("<Bqqq", 1, t + 900, t, _I64_NONE),
        struct.pack("<qqB", _I64_NONE, _I64_NONE, 0),
        struct.pack("<H", 1), struct.pack("<qqB", t, 11, 0),
        struct.pack("<B", 0),
    ])
    sess = struct.pack("<qI", _I64_NONE, 0)
    out = [v2]
    for ver, extra in ((4, b""), (5, b"\x00"), (6, b"\x00\x01\x00")):
        out.append(b"".join([struct.pack("<B", ver), head, sess,
                             struct.pack("<H", 1), partial, extra]))
    return out + [json.dumps([]).encode(), b'{"partials": []}']


@pytest.mark.parametrize(
    "blob", _older_blobs(),
    ids=["v2", "v4", "v5", "v6", "json-list", "json-object"],
)
def test_older_partials_blob_is_fenced(blob):
    with pytest.raises(ValueError, match="fresh checkpoint"):
        decode_state(blob)
