"""Property-based tests (hypothesis) — pure driver-side math, no Spark.

Mirrors the reference's pytest layer over pure functions
(``python/grass/temporal/tests/*.py``).
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from grass_spark.functions import compress as C
from grass_spark.functions.granularity import (
    adjust_datetime_to_granularity,
    granule_series,
    increment_datetime,
    infer_granularity_absolute,
    infer_granularity_relative,
    parse_granularity,
)

TS0 = 1_700_000_000_000_000  # anchor microseconds


# ---------------- codec round-trips ----------------


@given(
    st.lists(
        st.integers(min_value=0, max_value=10**9), min_size=0, max_size=500
    )
)
@settings(max_examples=60, deadline=None)
def test_ts_codec_roundtrip_any_deltas(deltas):
    ts = TS0 + np.cumsum(np.array(deltas + [0], dtype=np.int64))
    assert np.array_equal(C.decode_timestamps(C.encode_timestamps(ts)), ts)


@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=400
    )
)
@settings(max_examples=60, deadline=None)
def test_int_codec_roundtrip(vals):
    v = np.array(vals, dtype=np.int64)
    assert np.array_equal(C.decode_ints(C.encode_ints(v)), v)


# ---------------- granularity inference ----------------


@given(
    st.integers(min_value=1, max_value=3600),
    st.integers(min_value=1, max_value=20),
    st.lists(st.integers(min_value=1, max_value=50), min_size=2, max_size=30),
)
@settings(max_examples=60, deadline=None)
def test_relative_granularity_divides_everything(base, mult, steps):
    """Inferred relative granularity divides every interval + gap."""
    pos = 0
    times = []
    for s in steps:
        times.append((pos, pos + base * s))
        pos += base * s + base * mult
    g = infer_granularity_relative(times)
    assert g is not None and g % base == 0 or g == base or base % g == 0
    for s, e in times:
        assert (e - s) % g == 0


@given(st.lists(st.integers(min_value=1, max_value=500), min_size=2, max_size=40))
@settings(max_examples=60, deadline=None)
def test_absolute_granularity_seconds_gcd(mults):
    """Instant series at k*gcd second spacings infers the GCD."""
    t = datetime(2020, 1, 1)
    times = []
    for m in mults:
        times.append((t, None))
        t += timedelta(seconds=int(m))
    g = infer_granularity_absolute(times)
    num, unit = parse_granularity(g)
    secs = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit]
    # n instants have n-1 gaps: the last step never materializes
    expected = math.gcd(*mults[:-1])
    assert num * secs == expected


# ---------------- granule arithmetic ----------------

GRANS = ["15 seconds", "1 minute", "2 hours", "1 day", "1 week", "1 month", "3 months", "1 year"]


@given(
    st.sampled_from(GRANS),
    st.datetimes(
        min_value=datetime(1990, 1, 5), max_value=datetime(2049, 12, 24)
    ),
)
@settings(max_examples=120, deadline=None)
def test_alignment_idempotent_and_bounding(gran, dt):
    a = adjust_datetime_to_granularity(dt, gran)
    assert a <= dt
    assert adjust_datetime_to_granularity(a, gran) == a
    # the next granule strictly bounds dt
    assert increment_datetime(a, gran) > a


@given(
    st.sampled_from(GRANS),
    st.datetimes(min_value=datetime(2000, 1, 1), max_value=datetime(2030, 1, 1)),
    st.integers(min_value=1, max_value=40),
)
@settings(max_examples=80, deadline=None)
def test_granule_series_contiguous(gran, start, n):
    end = increment_datetime(adjust_datetime_to_granularity(start, gran), gran, n)
    gs = granule_series(start, end, gran)
    assert gs, "non-empty series"
    for (s1, e1), (s2, _) in zip(gs, gs[1:]):
        assert e1 == s2, "granules are contiguous"
    assert gs[0][0] <= start < gs[0][1] or gs[0][0] <= start
    assert gs[-1][1] >= end


# ---------------- Allen relations: exclusive + complete ----------------


def test_allen_relations_exclusive_complete_spark():
    """For interval pairs, exactly ONE of the 13 relations holds
    (Allen's exclusivity/completeness), and the instant special cases
    never yield more than one — over a seeded random sample."""
    import itertools
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from grass_spark.functions import relations as rel
    from grass_spark.session import get_spark

    spark = get_spark("allen_prop", cores=4, shuffle_partitions=4)
    rng = np.random.default_rng(11)
    base = datetime(2020, 1, 1)
    exts = []
    for _ in range(40):
        s = base + timedelta(hours=int(rng.integers(0, 50)))
        if rng.random() < 0.25:
            exts.append((s, None))  # instant
        else:
            exts.append((s, s + timedelta(hours=int(rng.integers(1, 30)))))
    pairs = [
        (a_s, a_e, b_s, b_e)
        for (a_s, a_e), (b_s, b_e) in itertools.product(exts, exts)
    ]
    df = spark.createDataFrame(
        pairs, "a_s timestamp, a_e timestamp, b_s timestamp, b_e timestamp"
    )
    n_rel = sum(
        fn("a_s", "a_e", "b_s", "b_e").cast("int")
        for fn in rel.RELATIONS.values()
    )
    counts = (
        df.select(n_rel.alias("n")).groupBy("n").count().collect()
    )
    by_n = {r["n"]: r["count"] for r in counts}
    # never two relations at once
    assert set(by_n) <= {0, 1}
    # completeness for interval x interval pairs (instants can be
    # relation-less only vs other instants at different times? no —
    # before/after cover those; a pair may be 0 only when A == B
    # positionally for instants... verify interval pairs are complete:
    iv = df.filter("a_e IS NOT NULL AND b_e IS NOT NULL")
    iv_zero = iv.filter(n_rel == 0).count()
    assert iv_zero == 0, "interval pairs must match exactly one relation"


# ---------------- greedy subword tokenizer ----------------


@given(
    st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=0, max_size=80,
    )
)
@settings(max_examples=120, deadline=None)
def test_greedy_pattern_covers_every_nonspace_char(s):
    """Python re is leftmost-first like java.util.regex and RE2: the
    compiled vocab pattern tokenizes ANY input with full coverage —
    concatenating the pieces reproduces the de-spaced text (the [^ ]
    fallback guarantees no character is ever skipped or duplicated)."""
    import re

    from grass_spark.operators.textstats import (
        DEFAULT_SUBWORDS,
        greedy_vocab_pattern,
    )

    norm = " ".join(s.lower().split())
    pieces = re.findall(greedy_vocab_pattern(DEFAULT_SUBWORDS), norm)
    assert "".join(pieces) == norm.replace(" ", "")


@given(
    st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=6),
        min_size=1, max_size=20, unique=True,
    ),
    st.text(alphabet="abcdef ", min_size=0, max_size=60),
)
@settings(max_examples=120, deadline=None)
def test_greedy_pattern_is_greedy_longest_for_any_vocab(vocab, s):
    """At every position the chosen piece is the LONGEST vocab piece
    matching there (single-char fallback otherwise) — the MaxMatch
    invariant, for arbitrary vocabularies."""
    import re

    from grass_spark.operators.textstats import greedy_vocab_pattern

    norm = " ".join(s.split())
    pat = re.compile(greedy_vocab_pattern(vocab))
    vset = sorted(set(vocab), key=len, reverse=True)
    i, out = 0, []
    while i < len(norm):
        if norm[i] == " ":
            i += 1
            continue
        for v in vset:
            if norm.startswith(v, i):
                out.append(v)
                i += len(v)
                break
        else:
            out.append(norm[i])
            i += 1
    assert pat.findall(norm) == out
