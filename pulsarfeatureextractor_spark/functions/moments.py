"""Lyon et al. (MNRAS 459:1104, 2016) statistical moments, vectorized.

The reference computes, per candidate, the mean / standard deviation /
skewness / excess kurtosis of (a) the integrated pulse profile and (b)
the DM–SNR curve — 8 features per candidate (provenance: BASELINE.json
north_star names "Lyon et al. profile/DM-curve moments"; SURVEY.md §2A
A7; /root/reference was empty, see SURVEY.md §0).

Conventions pinned here and in tests/oracle.py (SURVEY.md Appendix A):

- mean       mu    = sum(x) / n
- stdev      sigma = sqrt( sum((x-mu)^2) / (n-1) )        (ddof=1; 0.0 if n < 2)
- skewness   g1    = m3 / m2**1.5                          (population moments,
- ex-kurtosis k    = m4 / m2**2 - 3                         ddof=0 denominator;
                                                            0.0 if m2 == 0)

where m_k = sum((x-mu)**k) / n.

Execution model: every Spark path (the ``mapInArrow`` builder behind
``with_lyon_features`` and the scalar ``lyon_moments`` pandas UDF) runs
ONE kernel, :func:`moments_list_array`: power sums over the Arrow list
column's flat value buffer in the pinned expression order of
:func:`_moments_from_sums` — NEVER per-row Python (north_star mandate),
and bit-identical to the DuckDB oracles.  :func:`moments_rows` /
:func:`moments_matrix` are the centered two-pass formulation, kept as
an independent reference that agrees to ~1e-9 relative.  At 10^12
rows this is embarrassingly parallel: no shuffle, no state, pure map —
the scan partitioning is the job partitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pulsarfeatureextractor_spark.functions.featureset import (
    Kernel,
    list_layout,
    map_features,
)

LYON_FIELDS = ["mean", "stdev", "skew", "kurt"]

LYON_STRUCT = T.StructType(
    [T.StructField(name, T.DoubleType(), True) for name in LYON_FIELDS]
)


def moments_matrix(mat: np.ndarray) -> np.ndarray:
    """Row-wise (mean, stdev, skew, kurt) for a dense 2-D float matrix.

    Returns an (n_rows, 4) float64 array.  Pure numpy — no scipy (not
    installed in this environment).
    """
    mat = np.asarray(mat, dtype=np.float64)
    n = mat.shape[1]
    mu = mat.mean(axis=1)
    d = mat - mu[:, None]
    d2 = d * d
    m2 = d2.mean(axis=1)
    m3 = (d2 * d).mean(axis=1)
    m4 = (d2 * d2).mean(axis=1)

    if n >= 2:
        stdev = np.sqrt(d2.sum(axis=1) / (n - 1))
    else:
        stdev = np.zeros_like(mu)

    with np.errstate(divide="ignore", invalid="ignore"):
        skew = np.where(m2 > 0.0, m3 / np.power(m2, 1.5), 0.0)
        kurt = np.where(m2 > 0.0, m4 / (m2 * m2) - 3.0, 0.0)
    return np.column_stack([mu, stdev, skew, kurt])


def moments_rows(arrays: "list[np.ndarray] | pd.Series") -> np.ndarray:
    """(n, 4) moments for a sequence of 1-D arrays of varying length.

    Groups rows by length so each group is processed as one dense
    matrix (vectorized), then scatters results back into input order.
    Empty/None arrays yield all-zero moments (defined convention).
    """
    if isinstance(arrays, pd.Series):
        arrays = arrays.tolist()
    n = len(arrays)
    out = np.zeros((n, 4), dtype=np.float64)
    by_len: dict[int, list[int]] = {}
    for i, a in enumerate(arrays):
        length = 0 if a is None else len(a)
        by_len.setdefault(length, []).append(i)
    for length, idxs in by_len.items():
        if length == 0:
            continue
        mat = np.empty((len(idxs), length), dtype=np.float64)
        for j, i in enumerate(idxs):
            mat[j, :] = np.asarray(arrays[i], dtype=np.float64)
        out[np.asarray(idxs), :] = moments_matrix(mat)
    return out


def _moments_from_sums(n, s1, s2, s3, s4):
    """(mu, stdev, skew, kurt) from power sums in the PINNED float
    expression order mirrored token-for-token by the DuckDB oracles and
    the grouped UDAF — results are bit-identical across engines, so the
    round(6) differential can never straddle a rounding boundary.
    (Centered two-pass math differed from any SQL engine's summation
    order by ~1 ulp, which flipped a round-half case at sf0.001.)"""
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3c = s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu
    m4c = s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu * mu * mu * mu
    m2 = np.maximum(m2, 0.0)

    stdev = np.where(n >= 2, np.sqrt(m2 * n / np.maximum(n - 1, 1)), 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        skew = np.where(m2 > 0.0, m3c / np.power(m2, 1.5), 0.0)
        kurt = np.where(m2 > 0.0, m4c / (m2 * m2) - 3.0, 0.0)
    return mu, stdev, skew, kurt


def moments_segments(
    values: np.ndarray, starts: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """Row-wise (mean, stdev, skew, kurt) over (start, count) segments
    of a FLAT value buffer: row i owns values[start:start+count].  No
    per-row Python objects are ever created — this is the 10^12-row hot
    path (profiling showed Arrow->pandas conversion of list columns, i.e.
    one numpy object per row, costs ~10x the moment arithmetic itself).
    Interleaved-boundary ``add.reduceat`` sums exactly [start,
    start+count) per row, so gap values can never leak into a
    neighbouring row; empty rows yield all-zero moments."""
    n_rows = len(counts)
    out = np.zeros((n_rows, 4), dtype=np.float64)
    valid = counts > 0
    if not valid.any():
        return out
    s = np.asarray(starts, dtype=np.int64)[valid]
    e = s + np.asarray(counts, dtype=np.int64)[valid]
    bounds = np.empty(2 * len(s), dtype=np.int64)
    bounds[0::2] = s
    bounds[1::2] = e
    # pad one slot so an end index == len(values) is a legal reduceat index
    x = np.zeros(len(values) + 1, dtype=np.float64)
    x[:-1] = values
    n = (e - s).astype(np.float64)

    # EXACT integer power sums (tokens are int32 < 2^8, n <= O(10^3):
    # every partial sum stays < 2^53, so s1..s4 are exact in float64
    # regardless of summation order)
    s1 = np.add.reduceat(x, bounds)[0::2]
    p = x * x  # then x^3, x^4 in place: one temporary, not three
    s2 = np.add.reduceat(p, bounds)[0::2]
    p *= x
    s3 = np.add.reduceat(p, bounds)[0::2]
    p *= x
    s4 = np.add.reduceat(p, bounds)[0::2]

    mu, stdev, skew, kurt = _moments_from_sums(n, s1, s2, s3, s4)
    out[valid, 0] = mu
    out[valid, 1] = stdev
    out[valid, 2] = skew
    out[valid, 3] = kurt
    return out


def moments_list_array(arr) -> np.ndarray:
    """(n, 4) moments for a pyarrow List/LargeList array (no row objects)."""
    return moments_segments(*list_layout(arr))


@F.pandas_udf(LYON_STRUCT)
def lyon_moments_udf(tokens: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized Series[array] → DataFrame[mean,stdev,skew,kurt],
    through the same kernel as ``with_lyon_features`` (bit-identical)."""
    import pyarrow as pa

    res = moments_list_array(pa.array(tokens, type=pa.list_(pa.float64())))
    return pd.DataFrame(res, columns=LYON_FIELDS)


def lyon_moments(col: "Column | str") -> Column:
    """Column expression: struct<mean,stdev,skew,kurt> of an array column."""
    return lyon_moments_udf(F.col(col) if isinstance(col, str) else col)


def grouped_moments(
    df: DataFrame, group_cols: "list[str] | str", value_col: str
) -> DataFrame:
    """Per-GROUP moments of a scalar integer series (SURVEY.md G4/V4).

    The grouped-map twin of the per-row array moments: one Arrow batch
    per group through ``applyInPandas``.  The series must be integral —
    power sums are accumulated exactly (python ints), then converted to
    the reported moments with a PINNED float expression order that the
    DuckDB differential oracle mirrors token-for-token, so results are
    bit-identical across engines:

        mu   = s1/n
        m2   = s2/n - mu*mu
        m3c  = s3/n - 3*mu*(s2/n) + 2*mu*mu*mu
        m4c  = s4/n - 4*mu*(s3/n) + 6*mu*mu*(s2/n) - 3*mu*mu*mu*mu
        stdev= sqrt(m2*n/(n-1));  skew = m3c/m2^1.5;  kurt = m4c/m2^2-3

    Scale: partial aggregation does NOT apply to grouped-map UDFs — at
    10^12 rows prefer the pure-SQL power-sum formulation (same formulas
    via groupBy().agg(sum(pow(...)))); this UDAF exists for parity with
    the reference's per-set statistics and as the V4 pattern exemplar.
    """
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    out_schema = T.StructType(
        [df.schema[c] for c in group_cols]
        + [T.StructField("n", T.LongType())]
        + [T.StructField(name, T.DoubleType()) for name in LYON_FIELDS]
    )

    def agg(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value_col].dropna().astype(np.int64).to_numpy()
        n = len(x)
        row = dict(zip(group_cols, key))
        row["n"] = n
        if n == 0:
            row.update({f: 0.0 for f in LYON_FIELDS})
            return pd.DataFrame([row])
        # accumulate in PYTHON ints (arbitrary precision): int64 numpy
        # sums silently wrap for |value| beyond ~2^15 at the fourth
        # power, diverging from the DuckDB oracle.  Fast path: when the
        # max power-sum term provably fits int64 (n * max|x|^4 < 2^62),
        # numpy is exact and ~100x faster.
        amax = int(np.abs(x).max())
        if n * (amax ** 4) < (1 << 62):
            s1 = int(x.sum())
            s2 = int((x * x).sum())
            s3 = int((x * x * x).sum())
            s4 = int((x * x * x * x).sum())
        else:
            xs = x.tolist()
            s1 = sum(xs)
            s2 = sum(v * v for v in xs)
            s3 = sum(v * v * v for v in xs)
            s4 = sum(v * v * v * v for v in xs)
        mu = s1 / n
        m2 = s2 / n - mu * mu
        m3c = s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu
        m4c = s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu * mu * mu * mu
        row["mean"] = mu
        row["stdev"] = float(np.sqrt(m2 * n / (n - 1))) if n >= 2 else 0.0
        row["skew"] = m3c / m2 ** 1.5 if m2 > 0 else 0.0
        row["kurt"] = m4c / (m2 * m2) - 3.0 if m2 > 0 else 0.0
        return pd.DataFrame([row])

    return df.groupBy(*group_cols).applyInPandas(agg, out_schema)


def lyon8_features(
    df: DataFrame,
    id_col: str = "doc_id",
    kind_col: str = "kind",
    tokens_col: str = "tokens",
    profile_kind: str = "profile",
    dm_kind: str = "dm",
) -> DataFrame:
    """The full 8-feature Lyon vector (SURVEY.md §2A A6/A7): the four
    moments of the integrated PROFILE curve and the four moments of the
    DM–SNR curve, composed into ONE row per candidate.

    Input: long-form rows (id, kind, tokens) with kind ∈ {profile, dm}
    — the natural storage shape when the two curves arrive as separate
    token sequences.  The moments run through the same zero-object
    mapInArrow kernel; the pivot is a single hash aggregate on the id
    (conditional-max pivot — no second shuffle, no join).
    """
    feats = with_lyon_features(df, tokens_col)
    aggs = []
    for kind, suffix in ((profile_kind, "_prof"), (dm_kind, "_dm")):
        for f in LYON_FIELDS:
            aggs.append(
                F.max(F.when(F.col(kind_col) == kind, F.col(f))).alias(f + suffix)
            )
    return feats.groupBy(id_col).agg(*aggs)


def with_lyon_features(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Append the four Lyon moment columns computed from ``tokens_col``
    (one ``featureset.map_features`` crossing; the token array is never
    mutated — BASELINE.json input_hint)."""
    return map_features(
        df, [Kernel(tokens_col, tuple(LYON_FIELDS), moments_list_array)]
    )
