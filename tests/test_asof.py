"""As-of join: every physical plan vs pandas merge_asof, tie semantics,
tolerance, forward and nearest directions, NULL right values, and the
zero-temporal-leakage property."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.operators.asof import (
    asof_bucketed_storage,
    asof_join,
    asof_self_join,
    prepare_bucketed_asof_table,
)

EPOCH = pd.Timestamp("2024-01-01")
_STRATEGIES = ("window", "bucketed", "broadcast")


def _plans(direction):
    """``nearest`` runs on the window plan only."""
    return ("window",) if direction == "nearest" else _STRATEGIES


def _random_tables(seed: int, n_left=400, n_right=300, n_entities=25):
    rng = np.random.default_rng(seed)
    left = pd.DataFrame({
        "entity": [f"e{i}" for i in rng.integers(0, n_entities, n_left)],
        "ts": EPOCH + pd.to_timedelta(rng.integers(0, 10_000, n_left), unit="s"),
        "lval": rng.normal(size=n_left),
    })
    right = pd.DataFrame({
        "entity": [f"e{i}" for i in rng.integers(0, n_entities, n_right)],
        "ts": EPOCH + pd.to_timedelta(rng.integers(0, 10_000, n_right), unit="s"),
        "rval": rng.normal(size=n_right),
    })
    # force exact-tie timestamps between sides for ~10% of right rows
    ties = right.sample(frac=0.1, random_state=seed)
    if len(ties) and len(left):
        right.loc[ties.index, "ts"] = left["ts"].iloc[: len(ties)].to_numpy()
    # one right row per (entity, ts): duplicate right timestamps have no
    # pinned winner across implementations (documented tie ambiguity)
    right = right.groupby(["entity", "ts"], as_index=False).first()
    return left, right


def _pandas_asof(left, right, direction="backward", tolerance=None):
    lo = left.sort_values(["ts", "entity"], kind="mergesort").reset_index(drop=True)
    ro = right.sort_values(["ts", "entity"], kind="mergesort").reset_index(drop=True)
    tol = pd.Timedelta(seconds=tolerance) if tolerance is not None else None
    return pd.merge_asof(
        lo, ro[["entity", "ts", "rval"]], on="ts", by="entity",
        direction=direction, tolerance=tol,
    )


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(["entity", "ts", "lval"], kind="mergesort").reset_index(drop=True)
    return out[["entity", "ts", "lval", "rval"]]


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_both_plans_match_pandas(spark, seed, direction):
    left, right = _random_tables(seed)
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    want = _canon(_pandas_asof(left, right, direction))
    for strategy in _plans(direction):
        got = asof_join(
            ldf, rdf, on="ts", by="entity", direction=direction,
            strategy=strategy, bucket_seconds=600.0,
        ).toPandas()
        got = _canon(got)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-12)


@pytest.mark.parametrize("tolerance", [60.0, 1000.0])
def test_tolerance(spark, tolerance):
    left, right = _random_tables(5)
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    for direction in ("backward", "nearest"):
        want = _canon(_pandas_asof(left, right, direction, tolerance))
        for strategy in _plans(direction):
            got = _canon(asof_join(
                ldf, rdf, on="ts", by="entity", tolerance=tolerance,
                direction=direction, strategy=strategy, bucket_seconds=600.0,
            ).toPandas())
            pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-12)


def test_exact_tie_matches(spark):
    """A right row at exactly t must be visible to a left row at t."""
    left = pd.DataFrame({"entity": ["a"], "ts": [EPOCH], "lval": [1.0]})
    right = pd.DataFrame({"entity": ["a"], "ts": [EPOCH], "rval": [9.0]})
    for strategy in _STRATEGIES:
        got = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", by="entity", strategy=strategy,
        ).toPandas()
        assert got["rval"].iloc[0] == 9.0


def test_no_match_yields_null(spark):
    left = pd.DataFrame({"entity": ["a"], "ts": [EPOCH], "lval": [1.0]})
    right = pd.DataFrame({
        "entity": ["a"], "ts": [EPOCH + pd.Timedelta(seconds=10)], "rval": [9.0]
    })
    for strategy in _STRATEGIES:
        got = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", by="entity", strategy=strategy,
        ).toPandas()
        assert pd.isna(got["rval"].iloc[0])


def test_zero_temporal_leakage(spark):
    """Property (BASELINE.json north_star): the as-of result at (e, t)
    is unchanged when the right table is censored to rows <= t."""
    left, right = _random_tables(11, n_left=100, n_right=200)
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    full = _canon(asof_join(ldf, rdf, on="ts", by="entity").toPandas())
    rng = np.random.default_rng(0)
    for idx in rng.choice(len(full), size=10, replace=False):
        row = full.iloc[int(idx)]
        censored = right[right["ts"] <= row["ts"]]
        cdf = spark.createDataFrame(censored) if len(censored) else rdf.limit(0)
        got = asof_join(
            ldf.where(f"entity = '{row['entity']}'"), cdf, on="ts", by="entity"
        ).toPandas()
        got_row = got[(got["entity"] == row["entity"]) & (got["ts"] == row["ts"])]
        want_val = row["rval"]
        got_vals = got_row["rval"].to_numpy()
        assert len(got_vals) >= 1
        if pd.isna(want_val):
            assert all(pd.isna(v) for v in got_vals)
        else:
            assert any(
                (not pd.isna(v)) and abs(v - want_val) < 1e-12 for v in got_vals
            )


def test_null_keys_and_timestamps_sql_semantics(spark):
    """NULL entity keys / timestamps never match, on either side —
    ANSI equality-join semantics, pinned across all three plans."""
    left = pd.DataFrame({
        "entity": ["a", None, "a", "b"],
        "ts": [EPOCH + pd.Timedelta(seconds=10), EPOCH + pd.Timedelta(seconds=10),
               pd.NaT, EPOCH + pd.Timedelta(seconds=10)],
        "lval": [1.0, 2.0, 3.0, 4.0],
    })
    right = pd.DataFrame({
        "entity": ["a", None, "a", "b"],
        "ts": [EPOCH, EPOCH, pd.NaT, pd.NaT],
        "rval": [10.0, 20.0, 30.0, 40.0],
    })
    for strategy in _STRATEGIES:
        got = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", by="entity", strategy=strategy,
        ).toPandas().sort_values("lval").reset_index(drop=True)
        assert len(got) == 4, strategy
        # valid (a, t=10) matches the valid right row only
        assert got.loc[0, "rval"] == 10.0, strategy
        # null key, null ts, and entity with only-null right rows -> no match
        assert pd.isna(got.loc[1, "rval"]), strategy
        assert pd.isna(got.loc[2, "rval"]), strategy
        assert pd.isna(got.loc[3, "rval"]), strategy


def test_broadcast_plan_shape(spark, tmp_path):
    """``strategy="broadcast"``: the big (left) side is never shuffled
    or sorted.  Plan pins: BroadcastHashJoin, exactly ONE Exchange
    hashpartitioning (the small right-side aggregate feeding the
    broadcast), and zero Sort operators anywhere — the left scan's
    partitioning flows straight through the join."""
    left, right = _random_tables(13)
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(left).write.parquet(lp)
    spark.createDataFrame(right).write.parquet(rp)
    out = asof_join(spark.read.parquet(lp), spark.read.parquet(rp),
                    on="ts", by="entity", strategy="broadcast")
    out.collect()
    # pin the FINAL plan section only (AQE repeats operators under
    # "== Initial Plan ==")
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Sort [") == 0, plan


# ---- one-pass self as-of: asof_self_join == asof_join(df, derived snaps)

_SELF_SCHEMA = ("rid long, doc_id string, event_time timestamp, n_tok int, "
                "mean double, stdev double")
_T0 = dt.datetime(2024, 1, 1)


def _self_rows(seed: int, n: int = 300, n_docs: int = 15) -> list[tuple]:
    """Random feature rows with NULL doc_id / event_time / n_tok (the
    obs_on input), duplicate (doc_id, event_time) rows and fully
    duplicated rows.  (doc_id, obs_time) stays unique among the rows
    that yield a right side: two different observations at one instant
    have no pinned winner in any as-of plan."""
    rng = np.random.default_rng(seed)
    rows, seen = [], set()
    for rid in range(n):
        doc = None if rng.random() < 0.05 else f"d{rng.integers(0, n_docs)}"
        ts = None if rng.random() < 0.05 else _T0 + dt.timedelta(
            seconds=int(rng.integers(0, 5_000)))
        if rows and rng.random() < 0.1:  # duplicate (doc_id, event_time)
            doc, ts = rows[int(rng.integers(0, len(rows)))][1:3]
        n_tok = None if rng.random() < 0.05 else int(rng.integers(0, 300))
        obs = None if ts is None or n_tok is None else ts - dt.timedelta(seconds=n_tok)
        if doc is not None and obs is not None:
            if (doc, obs) in seen:
                continue
            seen.add((doc, obs))
        rows.append((rid, doc, ts, n_tok, float(rng.normal()), float(rng.random())))
    rows += [(n + i, *rows[i][1:]) for i in range(0, len(rows), 25)]  # exact dups
    return rows


def _self_vs_two_pass(df, direction="backward", tolerance=None):
    obs = F.col("event_time") - F.make_interval(secs=F.col("n_tok").cast("double"))
    values = {"f_mean_obs": F.col("mean"), "f_std_obs": F.col("stdev")}
    got = asof_self_join(df, on="event_time", by="doc_id", obs_on=obs,
                         values=values, direction=direction, tolerance=tolerance)
    snaps = df.select("doc_id", obs.alias("obs_time"),
                      *[c.alias(n) for n, c in values.items()])
    want = asof_join(df, snaps, on="event_time", right_on="obs_time",
                     by="doc_id", value_cols=list(values), direction=direction,
                     tolerance=tolerance, strategy="window")
    assert got.schema.simpleString() == want.schema.simpleString()

    def canon(d):
        return sorted((tuple(r) for r in d.collect()),
                      key=lambda r: tuple((v is None, v) for v in r))

    return canon(got), canon(want)


@pytest.mark.parametrize("tolerance", [None, 120.0])
@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("seed", [1, 2])
def test_self_join_equals_two_pass(spark, seed, direction, tolerance):
    df = spark.createDataFrame(_self_rows(seed), _SELF_SCHEMA)
    got, want = _self_vs_two_pass(df, direction, tolerance)
    assert len(got) == df.count()
    assert got == want
    # the fixture must exercise both matches and NULL fills
    matched = sum(r[-2] is not None for r in got)
    assert len(got) // 10 < matched < len(got)


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_self_join_nulls_and_duplicates_by_hand(spark, direction):
    """Pinned values: NULL doc_id / event_time rows match nothing; a
    NULL n_tok row yields no observation but still gets one; duplicate
    (doc_id, event_time) rows get the same fill; a matched observation
    with a NULL value fills NULL."""
    t = lambda s: _T0 + dt.timedelta(seconds=s)  # noqa: E731
    rows = [
        (0, "a", t(100), 10, 1.0, 0.1),    # obs at 90
        (1, "a", t(100), 50, 2.0, 0.2),    # duplicate ts, obs at 50
        (2, "a", t(95), None, 3.0, 0.3),   # NULL obs_on: no right row
        (3, None, t(100), 5, 4.0, 0.4),    # NULL key: matches nothing
        (4, "a", None, 5, 5.0, 0.5),       # NULL ts: matches nothing
        (5, "b", t(10), 0, 6.0, 0.6),      # obs == event_time: exact tie
        (6, "c", t(50), None, 7.0, 0.7),   # "c" has no valid observation:
        (7, "c", None, 5, 8.0, 0.8),       # NULL-time ones must not leak
        (8, "d", t(100), 2, None, 0.9),    # obs at 98 with a NULL value:
        (9, "d", t(99), 50, 9.0, 1.0),     # matched, not skipped for obs 49
    ]
    got, want = _self_vs_two_pass(spark.createDataFrame(rows, _SELF_SCHEMA),
                                  direction)
    assert got == want
    fill = {r[0]: r[-2] for r in got}
    if direction == "backward":
        assert fill == {0: 1.0, 1: 1.0, 2: 1.0, 3: None, 4: None, 5: 6.0,
                        6: None, 7: None, 8: None, 9: None}
    else:
        assert fill == {0: None, 1: None, 2: None, 3: None, 4: None, 5: 6.0,
                        6: None, 7: None, 8: None, 9: None}


def test_self_join_empty_input(spark):
    got, want = _self_vs_two_pass(spark.createDataFrame([], _SELF_SCHEMA))
    assert got == want == []


def test_self_join_rejects_bad_arguments(spark):
    df = spark.createDataFrame([], _SELF_SCHEMA)
    obs = F.col("event_time")
    with pytest.raises(ValueError, match="already in df"):
        asof_self_join(df, "event_time", "doc_id", obs, {"mean": F.col("mean")})
    with pytest.raises(ValueError, match="direction"):
        asof_self_join(df, "event_time", "doc_id", obs, {"m": F.col("mean")},
                       direction="nearest")


# ---- nearest ties, NULL right values, argument checks

def test_nearest_equal_distance_goes_backward(spark):
    t = lambda s: EPOCH + pd.Timedelta(seconds=s)  # noqa: E731
    left = pd.DataFrame({"entity": ["a"] * 4, "ts": [t(10), t(12), t(3), t(40)],
                         "lval": [1.0, 2.0, 3.0, 4.0]})
    right = pd.DataFrame({"entity": ["a", "a"], "ts": [t(5), t(15)],
                          "rval": [50.0, 150.0]})
    out = asof_join(spark.createDataFrame(left), spark.createDataFrame(right),
                    on="ts", by="entity", direction="nearest")
    # t=10: both 5 s away -> backward; t=12: forward closer; t=3 / t=40:
    # only one side exists
    assert out.toPandas().sort_values("lval")["rval"].tolist() == [
        50.0, 150.0, 50.0, 150.0]
    # one exchange, two running frames, never an unbounded-following one
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window [") == 2, plan
    assert "unboundedfollowing" not in plan.lower(), plan


_T = lambda s: EPOCH + pd.Timedelta(seconds=s)  # noqa: E731
# backward from t=10, forward from t=6 and nearest from t=10 all match
# the t=8 row, whose value is NULL
_NULL_LEFT = pd.DataFrame({"entity": ["a", "a"], "ts": [_T(10), _T(6)],
                           "lval": [1.0, 2.0]})
_NULL_RIGHT = pd.DataFrame({"entity": ["a"] * 3, "ts": [_T(5), _T(8), _T(20)],
                            "rval": [1.0, None, 2.0]})


@pytest.fixture(scope="module")
def null_value_table(spark, tmp_path_factory):
    name = "asof_null_value_tbl"
    prepare_bucketed_asof_table(
        spark.createDataFrame(_NULL_LEFT), spark.createDataFrame(_NULL_RIGHT),
        name, str(tmp_path_factory.mktemp("asof_null") / "tbl"),
        on="ts", by="entity", value_cols=["rval"], n_buckets=2,
    )
    return name


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_null_right_value_is_not_skipped(spark, null_value_table, direction):
    """DuckDB ASOF and pandas return the matched row's NULL value, not
    the value of an older row."""
    ldf = spark.createDataFrame(_NULL_LEFT)
    rdf = spark.createDataFrame(_NULL_RIGHT)
    want = _canon(_pandas_asof(_NULL_LEFT, _NULL_RIGHT, direction))
    assert want["rval"].isna().sum() == 1
    outs = {s: asof_join(ldf, rdf, on="ts", by="entity", direction=direction,
                         strategy=s, bucket_seconds=7.0)
            for s in _plans(direction)}
    outs["storage"] = asof_bucketed_storage(
        spark, null_value_table, on="ts", by="entity", value_cols=["rval"],
        direction=direction)
    for name, out in outs.items():
        pd.testing.assert_frame_equal(_canon(out.toPandas()), want,
                                      check_dtype=False, obj=name)


def test_asof_rejects_removed_and_unsupported_arguments(spark, null_value_table):
    ldf = spark.createDataFrame(_NULL_LEFT)
    rdf = spark.createDataFrame(_NULL_RIGHT)
    with pytest.raises(ValueError, match="strategy"):
        asof_join(ldf, rdf, on="ts", by="entity", strategy="merge_asof")
    for strategy in ("bucketed", "broadcast", "auto"):
        with pytest.raises(ValueError, match="nearest"):
            asof_join(ldf, rdf, on="ts", by="entity", direction="nearest",
                      strategy=strategy)
    with pytest.raises(ValueError, match="direction"):
        asof_join(ldf, rdf, on="ts", by="entity", direction="backwards")
    with pytest.raises(ValueError, match="direction"):
        asof_bucketed_storage(spark, null_value_table, on="ts", by="entity",
                              value_cols=["rval"], direction="backwrd")
