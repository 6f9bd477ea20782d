"""Property-based test: the Catalyst first-mismatch expression vs a plain
Python reference, over arbitrary list pairs with NULL elements (Hypothesis).
Each generated batch is one DataFrame evaluated with one collect."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from log_anomaly_detector_spark.rules.token_equality import first_mismatch
from log_anomaly_detector_spark.session import local_frame

tokens = st.lists(st.one_of(st.none(), st.integers(0, 5)), max_size=8)
pair = st.one_of(
    st.tuples(tokens, tokens),
    tokens.map(lambda a: (a, list(a))),  # equal arrays
    st.tuples(tokens, tokens).map(lambda p: (p[0], p[0] + p[1])),  # prefix
)
batches = st.lists(pair, min_size=1, max_size=100)


def _reference(a: list, b: list) -> tuple:
    """(idx, obs, exp): NULL equals NULL, a NULL element reads as None, a
    slot past the end as -1; (-1, -1, -1) for equal arrays."""
    for i in range(min(len(a), len(b))):
        if a[i] != b[i]:
            return i, a[i], b[i]
    if len(a) != len(b):
        i = min(len(a), len(b))
        return i, (a[i] if len(a) > len(b) else -1), (b[i] if len(b) > len(a) else -1)
    return -1, -1, -1


@settings(max_examples=20, deadline=None)
@given(batches)
def test_first_mismatch_matches_reference(spark, rows):
    df = local_frame(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "i int, a array<int>, b array<int>",
    )
    got = {
        r["i"]: tuple(r["m"])
        for r in df.select("i", first_mismatch("a", "b").alias("m")).collect()
    }
    for i, (a, b) in enumerate(rows):
        assert got[i] == _reference(a, b), (i, a, b)
