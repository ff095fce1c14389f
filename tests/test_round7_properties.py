"""Property tests for round-7 arithmetic cores: the NTILE closed form and
the exact-rank quantile thresholds, against plain-Python references."""

from __future__ import annotations

import math

from hypothesis import example, given, settings
from hypothesis import strategies as st


def _ntile_reference(n: int, buckets: int = 5) -> list[int]:
    """Spark/DuckDB NTILE semantics: first (n mod b) buckets get one extra."""
    q, r = divmod(n, buckets)
    out = []
    for b in range(1, buckets + 1):
        out += [b] * (q + (1 if b <= r else 0))
    return out


def _bucket_closed_form(k: int, n: int, buckets: int = 5) -> int:
    """The integer closed form used by q_rfm_segments' distributed NTILE."""
    q, r = divmod(n, buckets)
    head = r * (q + 1)
    if k <= head:
        return (k + q) // (q + 1)
    return r + (k - head + q - 1) // q


@given(st.integers(min_value=1, max_value=2000))
@settings(max_examples=200, deadline=None)
def test_ntile_closed_form_matches_reference(n):
    ref = _ntile_reference(n)
    got = [_bucket_closed_form(k, n) for k in range(1, n + 1)]
    assert got == ref


def _threshold_reference(values: list[int], p: float) -> int:
    """PERCENTILE_DISC: smallest value whose cumulative count >= ceil(p*n)."""
    s = sorted(values)
    return s[math.ceil(p * len(s)) - 1]


@given(
    st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60),
    st.floats(min_value=0.01, max_value=1.0),
)
# 12 examples, not 60 (r13): every example runs a full Spark
# createDataFrame→aggregate→collect round-trip (~1.6 s each), so this one
# test dominated the suite's wall clock (99 s of a 35-min run). The same
# plan shape is exercised by every draw; the rank boundaries (p = k/n,
# p = 1.0, a single value) are pinned by the @examples, and the operator is
# additionally pinned by test_grouped_quantiles + the oracle-checked
# consumers (q_rfm_segments, q_winsorize_prices).
@example(values=[5, -3, 8, 1, 0], p=0.4)  # p = k/n, inexact as a float
@example(values=[5, -3, 8, 1, 0], p=1.0)
@example(values=[42], p=0.3)
@settings(max_examples=12, deadline=None)
def test_quantile_thresholds_exact_matches_disc_reference(spark, values, p):
    from pyspark.sql import functions as F

    from arc_maskdata_pipeline_plugin_spark.operators.quantiles import (
        quantile_thresholds,
    )

    df = spark.createDataFrame([(v,) for v in values], ["v"]).select(
        F.col("v").cast("bigint").alias("v")
    )
    got = quantile_thresholds(df, "v", {"t": p}).collect()[0].t
    assert got == _threshold_reference(values, p)


def _hysteresis_state_machine(vals, low, high):
    """The streaming operator's semantics: alert on low->high transitions."""
    alerts, is_high = [], False
    for i, v in enumerate(vals):
        if v > high:
            if not is_high:
                alerts.append(i)
                is_high = True
        elif v < low:
            is_high = False
    return alerts


def _hysteresis_carry_forward(vals, low, high):
    """The batch-oracle reformulation: event i alerts iff v > high and the
    most recent regime-defining event before it was a low (or none)."""
    alerts, prev_regime = [], None
    for i, v in enumerate(vals):
        if v > high and (prev_regime is None or prev_regime == 0):
            alerts.append(i)
        if v > high:
            prev_regime = 1
        elif v < low:
            prev_regime = 0
    return alerts


@given(
    st.lists(st.integers(min_value=0, max_value=100), min_size=0, max_size=120),
    st.integers(min_value=10, max_value=40),
    st.integers(min_value=60, max_value=90),
)
@settings(max_examples=300, deadline=None)
def test_hysteresis_reformulation_equivalent(vals, low, high):
    """The non-recursive last-regime-defining-event rule (the DuckDB
    oracle's last_value IGNORE NULLS window) is exactly the regime state
    machine, for every value sequence and threshold pair."""
    assert _hysteresis_state_machine(vals, low, high) == _hysteresis_carry_forward(
        vals, low, high
    )
