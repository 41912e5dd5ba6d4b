"""Property-based tests (hypothesis) for the pure-Python wire codecs and
formula helpers — no SparkSession needed, so these run in milliseconds
and cover the input space the example-based tests can't. The one
exception checks the numpy ``quantize`` twin against Spark's column
over local relations, which Spark evaluates without a job."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from polar_spark.sources.frames import (
    decode_frame,
    decode_poll_response,
    encode_frame,
    encode_poll_response,
)

# printable-ish payload text; the codecs are byte-transparent but query
# values are utf-8 strings in practice
_text = st.text(alphabet=string.printable, max_size=200)
_ts_us = st.integers(min_value=0, max_value=4_102_444_800_000_000)  # ≤ year 2100


@settings(max_examples=200)
@given(
    stream_id=st.integers(min_value=0, max_value=65535),
    key=_text,
    records=st.lists(st.tuples(_ts_us, _text), min_size=0, max_size=20),
)
def test_produce_frame_roundtrip(stream_id, key, records):
    buf = encode_frame(stream_id, key, records)
    decoded = decode_frame(buf)
    assert decoded is not None
    sid, dkey, recs = decoded
    assert sid == stream_id and dkey == key
    assert recs == list(records)


@settings(max_examples=100)
@given(
    data=st.binary(min_size=12, max_size=200),
    flip=st.integers(min_value=0, max_value=11),
)
def test_produce_frame_rejects_corruption(data, flip):
    """A frame with a corrupted header/CRC byte must decode to None (the
    validate-and-skip contract), never raise or return garbage rows."""
    buf = encode_frame(1, "k", [(1, "v")])
    corrupted = bytearray(buf)
    corrupted[flip] ^= 0xFF
    out = decode_frame(bytes(corrupted))
    # either detected (None) or — if the flipped byte was in a don't-care
    # position (e.g. stream id, which is not CRC-covered) — the records
    # are intact; never an exception or a mutated record
    if out is not None:
        assert out[2] == [(1, "v")]


@settings(max_examples=100)
@given(
    items=st.lists(
        st.fixed_dictionaries(
            {
                "token": st.integers(min_value=-(2**63), max_value=2**63 - 1),
                "range_idx": st.integers(min_value=0, max_value=255),
                "version": st.integers(min_value=0, max_value=2**32 - 1),
                "topic": st.text(
                    alphabet=string.ascii_lowercase + string.digits, min_size=1, max_size=40
                ),
                "start_offset": st.integers(min_value=-1, max_value=2**62),
                "records": st.lists(
                    st.tuples(_ts_us, st.binary(max_size=100)), max_size=10
                ),
            }
        ),
        max_size=8,
    )
)
def test_poll_response_roundtrip(items):
    buf = encode_poll_response(items)
    decoded = decode_poll_response(buf)
    assert decoded == items


@settings(max_examples=300)
@given(n=st.integers(min_value=0, max_value=10_000))
def test_chunk_count_formula(n):
    """The integer chunk-count form used by chunk_documents (and its
    DuckDB oracle) equals the textbook ceil((n-W)/step)+1 for n > W and
    1 otherwise — no float division, no negative-div traps."""
    W, step = 64, 48
    ours = 1 if n <= W else (n - W - 1) // step + 2
    import math

    textbook = 1 if n <= W else math.ceil((n - W) / step) + 1
    assert ours == textbook
    # coverage law: the last chunk reaches the end, no chunk starts past n
    if n > 0:
        last_start = (ours - 1) * step  # 0-based
        assert last_start < n
        assert last_start + W >= n


@settings(max_examples=300)
@given(
    counts=st.dictionaries(
        st.integers(min_value=0, max_value=63),
        st.integers(min_value=1, max_value=10_000),
        min_size=1,
        max_size=32,
    ),
    prior=st.lists(
        st.integers(min_value=0, max_value=5_000), min_size=1, max_size=16
    ),
    p=st.integers(min_value=1, max_value=16),
)
def test_keyless_offset_plan_invariants(counts, prior, p):
    """The keyless fast path's arithmetic offset allocation: for ANY
    per-task counts, prior tails, and partition count — task ranges are
    disjoint, stack contiguously per partition starting at the prior
    tail, and new tails equal old tail + rows routed to that partition."""
    from polar_spark.produce import keyless_offset_plan

    tails = {q: prior[q] - 1 if q < len(prior) else -1 for q in range(p)}
    rot, bases, new_tails = keyless_offset_plan(counts, tails, p)

    # reconstruct every (partition, offset) pair a task would write
    seen: dict[int, list] = {}
    for t, n in counts.items():
        q = (t + rot) % p
        lo, hi = bases[t] + 1, bases[t] + n
        seen.setdefault(q, []).append((lo, hi))
    for q, ranges in seen.items():
        ranges.sort()
        # stacks on the prior tail...
        assert ranges[0][0] == tails.get(q, -1) + 1
        # ...with disjoint, gap-free ranges
        for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
            assert lo2 == hi1 + 1
        # and the final tail is exact
        assert new_tails[q] == ranges[-1][1]
    # partitions receiving nothing keep their tail
    for q in range(p):
        if q not in seen:
            assert new_tails[q] == tails.get(q, -1)


@settings(max_examples=200)
@given(
    keys=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=200
    ),
    probes=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=50
    ),
    m_log2=st.integers(min_value=8, max_value=16),
    k=st.integers(min_value=1, max_value=8),
)
def test_bloom_bitmap_never_false_negative(keys, probes, m_log2, k):
    """Pure-numpy core of operators/bloomjoin: every inserted key tests
    positive for any (m, k); non-members may collide but membership is
    never lost."""
    import numpy as np

    from polar_spark.operators.bloomjoin import _positions

    m = 1 << m_log2
    bm = np.zeros(m // 8, dtype=np.uint8)
    pos = _positions(np.array(keys, dtype=np.int64), m, k).ravel()
    np.bitwise_or.at(bm, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))

    def member(x: int) -> bool:
        p = _positions(np.array([x], dtype=np.int64), m, k)
        return bool((((bm[p >> 3] >> (p & 7).astype(np.uint8)) & 1).all()))

    assert all(member(x) for x in keys)
    # sanity: probing is deterministic (same answer twice)
    for x in probes[:10]:
        assert member(x) == member(x)


# float32 components for the quantize twin: the drawn range, ±0.0,
# subnormals, exact multiples of 1e-4, dyadic values whose float64
# product with 1e4 lands on an integer, and ±1e10
_f32 = st.one_of(
    st.floats(min_value=-1e10, max_value=1e10, width=32),
    st.sampled_from([0.0, -0.0, 1e10, -1e10, 1e-45, -1e-45, 1.1754942e-38]),
    st.integers(min_value=-(10**8), max_value=10**8).map(lambda k: k / 10_000),
    st.integers(min_value=-(2**24), max_value=2**24).map(lambda k: k / 64),
)


@settings(max_examples=60, deadline=None)
@given(v=st.lists(_f32, min_size=1, max_size=16))
def test_quantize_np_equals_spark_quantize(spark, v):
    """``quantize_np`` (the driver-side twin) gives bit for bit the int64
    vector Spark's ``quantize`` column gives for the same float32
    values."""
    import numpy as np
    import pandas as pd

    from polar_spark.functions.similarity import quantize, quantize_np

    x = np.array(v, dtype=np.float32)
    df = spark.createDataFrame(pd.DataFrame({"v": [x]}), "v array<float>")
    want = df.select(quantize("v").alias("q")).collect()[0]["q"]
    got = quantize_np(x)
    assert got is not None and got.dtype == np.int64
    assert got.tolist() == want


def test_quantize_np_declines_non_finite_and_out_of_range():
    """NaN and ±inf, and a product with ``|x·1e4| ≥ 2^63`` (where Spark's
    long cast gives 0 or saturates), make the twin decline."""
    import numpy as np

    from polar_spark.functions.similarity import quantize_np

    for bad in (np.nan, np.inf, -np.inf, 1e15, -1e15, 3e38):
        assert quantize_np(np.array([0.5, bad], dtype=np.float32)) is None, bad
    assert quantize_np(np.array([9e14], dtype=np.float32)).tolist() == [
        int(np.floor(np.float64(np.float32(9e14)) * 10_000))
    ]
