"""In-engine linear-model training (functions/regression.py).

Differential strategy: the one-pass sufficient-statistics fit is
checked against numpy's independent lstsq on the same rows; the JVM
column-arithmetic scorer is checked BIT-identical to the Arrow fixture
scorer (functions/inference.linear_model) because both accumulate
left-associatively in float64; the end-to-end exact-oracle path
(quality_regression_docs, shared-text Cramer solve) is gated by
tools/driver_sim.py against DuckDB like every tail query.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsarfeatureextractor_spark.functions.regression import (  # noqa: E402
    cramer3_sql,
    fit_linear_model,
    fit_lpm,
    linear_pred_sql,
    with_linear_score,
)


@pytest.fixture(scope="module")
def reg_df(spark):
    rng = np.random.default_rng(7)
    X = rng.normal(size=(400, 3))
    y = 2.5 + 1.25 * X[:, 0] - 0.75 * X[:, 1] + 0.125 * X[:, 2] + rng.normal(
        scale=0.3, size=400
    )
    rows = [
        (float(a), float(b), float(c), float(t))
        for (a, b, c), t in zip(X, y)
    ]
    return (
        spark.createDataFrame(
            rows, "f0 double, f1 double, f2 double, label double"
        ).repartition(8),
        X,
        y,
    )


def test_fit_matches_numpy_lstsq(reg_df):
    df, X, y = reg_df
    fit = fit_linear_model(df, ["f0", "f1", "f2"], "label")
    A = np.column_stack([np.ones(len(X)), X])
    ref, *_ = np.linalg.lstsq(A, y, rcond=None)
    assert fit["n"] == 400
    got = np.array([fit["bias"], *fit["weights"]])
    # distributed float64 sums reassociate vs numpy — allclose, not exact
    assert np.allclose(got, ref, rtol=1e-8, atol=1e-10), (got, ref)


def test_ridge_shrinks_weights(reg_df):
    df, _, _ = reg_df
    ols = fit_linear_model(df, ["f0", "f1", "f2"], "label")
    ridge = fit_linear_model(df, ["f0", "f1", "f2"], "label", l2=1e4)
    assert np.linalg.norm(ridge["weights"]) < 0.5 * np.linalg.norm(
        ols["weights"]
    )


def test_underdetermined_raises(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "f0 double, label double")
    with pytest.raises(ValueError, match="cannot determine"):
        fit_linear_model(df, ["f0"], "label")


def test_linear_score_bit_identical_to_arrow_fixture(reg_df):
    """The JVM column scorer and the Arrow fixture scorer accumulate in
    the same left-associative float64 order — outputs must be
    bit-identical, not merely close."""
    from pulsarfeatureextractor_spark.functions.inference import (
        linear_model,
        score_with_model,
    )

    df, _, _ = reg_df
    w, b = [1.25, -0.75, 0.125], 2.5
    cols = ["f0", "f1", "f2"]
    jvm = with_linear_score(df, w, b, cols, "s_jvm")
    arrow = score_with_model(jvm, cols, linear_model(w, b), "s_arrow")
    n_diff = arrow.where(F.col("s_jvm") != F.col("s_arrow")).count()
    assert n_diff == 0


def test_fit_lpm_separates_sources(spark):
    """LPM on (source == gold): gold-like docs must score higher."""
    rows = []
    for i in range(200):
        if i % 2 == 0:  # "gold": long, lexically diverse
            rows.append((i, "gold", 200.0 + (i % 7), 6.0, 0.9))
        else:  # "crawl": short, repetitive
            rows.append((i, "crawl", 30.0 + (i % 5), 3.5, 0.4))
    df = spark.createDataFrame(
        rows,
        "doc_id long, source string, n_tokens double, "
        "mean_word_len double, type_token_ratio double",
    )
    feats = ["n_tokens", "mean_word_len", "type_token_ratio"]
    fit = fit_lpm(df, feats, F.col("source") == "gold", l2=1e-9)
    scored = with_linear_score(df, fit["weights"], fit["bias"], feats)
    means = {
        r["source"]: r["m"]
        for r in scored.groupBy("source")
        .agg(F.avg("model_score").alias("m"))
        .collect()
    }
    assert means["gold"] > 0.9 > 0.1 > means["crawl"]


def test_cramer3_sql_solves_exactly(spark):
    """The shared-text Cramer expressions solve a known integer system
    to the exact closed-form coefficients (plane y = 10 + 2*x1 + 3*x2
    fits residual-free, so the solve must recover 10, 2, 3 exactly)."""
    rows = [
        (x1, x2, 10 + 2 * x1 + 3 * x2)
        for x1 in range(1, 11)
        for x2 in range(1, 11)
    ]
    m = spark.createDataFrame(rows, "x1 long, x2 long, y long")
    s = m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    co = cramer3_sql("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y")
    row = s.select(
        F.expr(co["b0"]).alias("b0"),
        F.expr(co["b1"]).alias("b1"),
        F.expr(co["b2"]).alias("b2"),
    ).collect()[0]
    assert (row["b0"], row["b1"], row["b2"]) == (10.0, 2.0, 3.0)
    # and the prediction twin is residual-free on every row
    pred = linear_pred_sql(
        repr(row["b0"]), repr(row["b1"]), repr(row["b2"]),
        "CAST(x1 AS DOUBLE)", "CAST(x2 AS DOUBLE)",
    )
    n_bad = m.where(
        F.expr(f"CAST(y AS DOUBLE) <> {pred}")
    ).count()
    assert n_bad == 0


def test_curate_job_trained_quality_gate(spark, tmp_path):
    """--train-quality-source: the CLI fits the gate in-engine and the
    survivors match an independently-refit model (up to float-sum
    reassociation at the threshold boundary — docs with a clear margin
    must agree exactly)."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    from pulsarfeatureextractor_spark.functions.inference import (
        QUALITY_FEATURES,
    )
    from pulsarfeatureextractor_spark.functions.text import (
        with_quality_metrics,
        words_col,
    )

    src = "/root/testdata/sf0.01/documents.parquet"
    out = str(tmp_path / "curated_trained")
    # src0 is 1/20 of the corpus, so fitted probabilities scatter
    # around the 0.05 base rate — gate at the base rate so both sides
    # are populated
    threshold = 0.05
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "20",
        "--train-quality-source", "src0",
        "--model-threshold", str(threshold),
    ])
    assert len(res["written"]) > 0
    out_ids = {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    }
    # independent refit on the same post-length-filter population
    docs = spark.read.parquet(src)
    lengthy = docs.where(F.size(words_col("text")) >= 20)
    feats = with_quality_metrics(lengthy)
    fit = fit_lpm(feats, QUALITY_FEATURES, F.col("source") == "src0", l2=1e-6)
    scored = with_linear_score(
        feats, fit["weights"], fit["bias"], QUALITY_FEATURES
    )
    margin = 1e-6
    must_pass = {
        r["doc_id"]
        for r in scored.where(
            F.col("model_score") >= threshold + margin
        ).select("doc_id").collect()
    }
    must_fail = {
        r["doc_id"]
        for r in scored.where(
            F.col("model_score") < threshold - margin
        ).select("doc_id").collect()
    }
    n_len = lengthy.count()
    assert 0 < len(must_pass) < n_len  # the learned gate splits the corpus
    # dedup/split stages only ever REMOVE docs — survivors must be a
    # subset of the model-pass set, and no clear-fail doc may survive
    assert not (out_ids & must_fail)
    from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable

    m = IcebergLikeTable(os.path.join(out, "_table")).manifest()["metrics"][
        "metrics"
    ]
    assert m["dropped_model"] >= len(must_fail)


def test_fit_excludes_incomplete_rows(spark):
    """Rows with a NULL label or feature must not feed the fit at all:
    per-column F.sum NULL-skipping would otherwise build a Gram matrix
    and moment vector from DIFFERENT row sets."""
    clean = [(float(i), float(2 * i + 1)) for i in range(10)]
    df_clean = spark.createDataFrame(clean, "f0 double, label double")
    dirty = clean + [(999.0, None), (None, 999.0), (None, None)]
    df_dirty = spark.createDataFrame(dirty, "f0 double, label double")
    a = fit_linear_model(df_clean, ["f0"], "label")
    b = fit_linear_model(df_dirty, ["f0"], "label")
    assert a == b  # NULL rows contributed nothing anywhere
    # all-NULL labels: zero complete rows -> clear error, not TypeError
    df_null = spark.createDataFrame(
        [(1.0, None), (2.0, None)], "f0 double, label double"
    )
    with pytest.raises(ValueError, match="complete"):
        fit_linear_model(df_null, ["f0"], "label")


def test_singular_system_yields_null_on_both_engines(spark):
    """Degenerate corpus (identical features everywhere -> determinant
    exactly 0): the shared-text Cramer solve must produce NULL on BOTH
    engines (raw double x/0.0 is where they diverge: Spark NULL,
    DuckDB inf)."""
    import duckdb

    co = cramer3_sql("n", "s1", "s2", "sy", "s11", "s12", "s22",
                     "s1y", "s2y")
    stats_sql = (
        "SELECT CAST(4 AS BIGINT) AS n, CAST(8 AS BIGINT) AS s1, "
        "CAST(12 AS BIGINT) AS s2, CAST(40 AS BIGINT) AS sy, "
        "CAST(16 AS BIGINT) AS s11, CAST(24 AS BIGINT) AS s12, "
        "CAST(36 AS BIGINT) AS s22, CAST(80 AS BIGINT) AS s1y, "
        "CAST(120 AS BIGINT) AS s2y"
    )  # every row has x1=2, x2=3 -> rank-1 system, D = 0
    q = f"SELECT {co['b0']} AS b0, {co['b1']} AS b1, {co['b2']} AS b2 FROM ({stats_sql})"
    srow = spark.sql(q).collect()[0]
    drow = duckdb.sql(q).fetchone()
    assert (srow["b0"], srow["b1"], srow["b2"]) == (None, None, None)
    assert drow == (None, None, None)


def test_with_linear_score_rejects_length_mismatch(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "f0 double, f1 double")
    with pytest.raises(ValueError, match="weights for"):
        with_linear_score(df, [1.0], 0.0, ["f0", "f1"])


def test_cli_train_without_threshold_refused(tmp_path):
    """--train-quality-source without --model-threshold must refuse
    loudly, not silently skip the gate."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    with pytest.raises(SystemExit):
        curate_corpus.main([
            "--input", "/root/testdata/sf0.01/documents.parquet",
            "--output", str(tmp_path / "x"),
            "--train-quality-source", "src0",
        ])


# ---- property tests (hypothesis; DuckDB evaluates the shared SQL, so
# each example costs microseconds, no Spark round-trip) ----

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(
    b0=st.integers(-50, 50),
    b1=st.integers(-50, 50),
    b2=st.integers(-50, 50),
)
def test_cramer3_recovers_any_integer_plane_exactly(b0, b1, b2):
    """For ANY residual-free integer plane over a non-degenerate grid,
    the shared-text Cramer solve must recover the coefficients EXACTLY
    (integer statistics + IEEE-exact small-determinant arithmetic) —
    evaluated through DuckDB, the oracle engine of the driver gate."""
    import duckdb

    co = cramer3_sql("n", "s1", "s2", "sy", "s11", "s12", "s22",
                     "s1y", "s2y")
    got = duckdb.sql(f"""
        WITH m AS (
            SELECT x1, x2, {b0} + {b1} * x1 + {b2} * x2 AS y
            FROM (SELECT unnest(range(1, 7)) AS x1),
                 (SELECT unnest(range(1, 7)) AS x2)
        ), s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x1) AS BIGINT) AS s1,
                   CAST(SUM(x2) AS BIGINT) AS s2,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x1 * x1) AS BIGINT) AS s11,
                   CAST(SUM(x1 * x2) AS BIGINT) AS s12,
                   CAST(SUM(x2 * x2) AS BIGINT) AS s22,
                   CAST(SUM(x1 * y) AS BIGINT) AS s1y,
                   CAST(SUM(x2 * y) AS BIGINT) AS s2y
            FROM m
        )
        SELECT {co['b0']}, {co['b1']}, {co['b2']} FROM s
    """).fetchone()
    assert got == (float(b0), float(b1), float(b2))


@settings(max_examples=60, deadline=None)
@given(
    counts=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.floats(1.0, 1e12, allow_nan=False),
        min_size=2,
        max_size=5,
    ),
    alpha=st.floats(0.0, 1.0, allow_nan=False),
)
def test_temperature_weights_properties(counts, alpha):
    """Invariants for any counts/alpha: weights normalize to 1, ranking
    is preserved, and the dominant share never EXCEEDS its natural
    share (alpha<=1 only ever flattens)."""
    from pulsarfeatureextractor_spark.operators.mixing import (
        temperature_weights,
    )

    w = temperature_weights(counts, alpha=alpha)
    assert abs(sum(w.values()) - 1.0) < 1e-9
    assert set(w) == set(counts)
    total = sum(counts.values())
    top = max(counts, key=counts.get)
    # order preservation
    for s in w:
        if counts[s] < counts[top]:
            assert w[s] <= w[top] + 1e-12
    # flattening: the biggest source's share never grows
    assert w[top] <= counts[top] / total + 1e-9
