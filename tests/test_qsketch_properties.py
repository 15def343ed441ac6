"""Property tests for the log-bucket quantile sketch's bucket
geometry and readout law, against a pure-Python model (the
test_rbo_properties pattern: a third implementation independent of
both engines; hypothesis drives only the Python side, so the loop is
fast — the Spark/DuckDB agreement is pinned separately in
the distribution-audit tests' boundary sweep and oracle diffs)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from week4_musemotion_spark.operators.qsketch import bucket_bounds_full


def _py_bucket(v: int) -> int:
    """Pure-Python model of log_bucket (independent derivation: bit
    arithmetic, not bin()-string reads)."""
    if v <= 3:
        return v
    blen = v.bit_length()
    sub = (v >> (blen - 3)) & 3
    return 4 * blen + sub


_BOUNDS = dict((b, (lb, ub)) for b, lb, ub in bucket_bounds_full())


@given(st.integers(min_value=0, max_value=(1 << 63) - 1))
def test_bucket_contains_its_value_and_quarter_octave_width(v):
    b = _py_bucket(v)
    lb, ub = _BOUNDS[b]
    assert lb <= v <= ub
    if v > 3:
        # width = 2^(blen-3) and lb >= 2^(blen-1) = 4*width, so the
        # relative under-read of a bucket lower bound is <= 25% exactly
        assert (ub - lb + 1) * 4 <= lb


@given(st.integers(min_value=0, max_value=(1 << 63) - 2))
def test_bucket_monotone(v):
    assert _py_bucket(v) <= _py_bucket(v + 1)


@given(
    st.lists(st.integers(min_value=0, max_value=1 << 40), min_size=1, max_size=300),
    st.sampled_from([(1, 2), (9, 10), (99, 100)]),
)
@settings(max_examples=200)
def test_readout_brackets_the_true_quantile(values, p):
    """The sketch read (lower bound of the first bucket whose
    cumulative count reaches ceil(p*n)) must satisfy
    read <= true_quantile <= ub(read's bucket)."""
    pn, pd = p
    n = len(values)
    k = -(-n * pn // pd)  # ceil
    true_q = sorted(values)[k - 1]
    counts: dict[int, int] = {}
    for v in values:
        b = _py_bucket(v)
        counts[b] = counts.get(b, 0) + 1
    cum = 0
    for b in sorted(counts):
        cum += counts[b]
        if cum >= k:
            lb, ub = _BOUNDS[b]
            assert lb <= true_q <= ub, (lb, true_q, ub)
            return
    raise AssertionError("cumulative count never reached k")


def test_python_model_agrees_with_engine_bucket_table():
    # the model's bucket for every bound endpoint must be that bucket
    for b, lb, ub in bucket_bounds_full():
        assert _py_bucket(lb) == b
        assert _py_bucket(ub) == b
