"""Lyon moment correctness: engine (vectorized) vs numpy oracle
(loops), including the Appendix-A edge cases."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pulsarfeatureextractor_spark.functions.moments import (
    moments_matrix,
    moments_rows,
    with_lyon_features,
)
from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences
from tests.oracle import lyon_moments_oracle

EDGE_ARRAYS = [
    np.array([5], dtype=np.int32),                      # n=1 -> stdev 0
    np.array([7, 7, 7, 7], dtype=np.int32),             # constant -> skew/kurt 0
    np.array([0, 255], dtype=np.int32),
    np.array([-3, 0, 3], dtype=np.int32),               # negatives
    np.arange(64, dtype=np.int32),
    np.arange(128, dtype=np.int32)[::-1].copy(),
]


def test_edge_cases_match_oracle():
    got = moments_rows(EDGE_ARRAYS)
    want = np.array([lyon_moments_oracle(a) for a in EDGE_ARRAYS])
    assert np.allclose(got, want, rtol=1e-9, atol=1e-12)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=40),
        min_size=1,
        max_size=20,
    )
)
def test_property_random_arrays(arrays):
    arrs = [np.array(a, dtype=np.int64) for a in arrays]
    got = moments_rows(arrs)
    want = np.array([lyon_moments_oracle(a) for a in arrs])
    assert np.allclose(got, want, rtol=1e-9, atol=1e-9)


def test_matrix_path_equals_row_path():
    rng = np.random.default_rng(7)
    mat = rng.integers(0, 256, size=(50, 64)).astype(np.float64)
    a = moments_matrix(mat)
    b = np.array([lyon_moments_oracle(row) for row in mat])
    assert np.allclose(a, b, rtol=1e-9, atol=1e-12)


def test_spark_udf_matches_oracle(spark):
    df = synthetic_sequences(spark, n_rows=300, seed=42)
    out = with_lyon_features(df).select("doc_id", "tokens", "mean", "stdev", "skew", "kurt")
    pdf = out.toPandas()
    want = np.array([lyon_moments_oracle(t) for t in pdf["tokens"]])
    got = pdf[["mean", "stdev", "skew", "kurt"]].to_numpy()
    assert np.allclose(got, want, rtol=1e-9, atol=1e-12)


def test_token_invariant(spark):
    """Engine never mutates tokens (BASELINE.json input_hint)."""
    df = synthetic_sequences(spark, n_rows=200, seed=42)
    before = df.select("doc_id", "tokens").toPandas()
    after = with_lyon_features(df).select("doc_id", "tokens").toPandas()
    key = lambda pdf: sorted(
        (d, tuple(np.asarray(t).tolist())) for d, t in zip(pdf["doc_id"], pdf["tokens"])
    )
    assert key(before) == key(after)


def test_scalar_udf_bit_identical_to_arrow_builder(spark):
    """``lyon_moments`` (scalar pandas UDF) and ``with_lyon_features``
    (the mapInArrow builder) run one kernel: equal bit for bit, not
    merely to the ~1e-9 the centered two-pass formulation would give."""
    from pulsarfeatureextractor_spark.functions.moments import lyon_moments

    rng = np.random.default_rng(11)
    rows = [(i, rng.integers(0, 256, rng.integers(1, 401)).tolist())
            for i in range(400)]
    rows += [(400, None), (401, [])]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    udf = df.select("doc_id", lyon_moments("tokens").alias("m")).select(
        "doc_id", "m.*").toPandas().sort_values("doc_id")
    arrow = with_lyon_features(df).select(
        "doc_id", "mean", "stdev", "skew", "kurt").toPandas().sort_values("doc_id")
    for c in ("mean", "stdev", "skew", "kurt"):
        assert np.array_equal(udf[c].to_numpy(), arrow[c].to_numpy()), c
