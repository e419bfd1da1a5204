"""Physical-plan assertions: the optimizations we claim must show up in
explain output (SURVEY.md §4).  These tests pin the plan SHAPE, not
timings — the properties that decide 100 TB behavior:

- predicate + projection pushdown reach the parquet scan,
- small dims broadcast (no shuffle of the big side),
- the as-of window plan is single-shuffle,
- aggregations are partial (map-side combine),
- the Arrow feature path contains no row-at-a-time Python and no shuffle.
"""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    from pulsarfeatureextractor_spark.sources.readers import load_table

    li = load_table(spark, SF, "lineitem")
    q = li.where(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads only the 3 referenced columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_partkey" not in read_schema


def test_dim_joins_broadcast(spark):
    import __spark_entry__ as e

    plan = _plan(e.revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_q1_partial_aggregation(spark):
    import __spark_entry__ as e

    plan = _plan(e.q1_pricing_summary(spark, SF))
    # partial + final hash aggregate pair -> map-side combine before the
    # exchange; exactly one shuffle for the groupBy
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Partial" in plan


def test_asof_window_plan_single_shuffle(spark):
    from pulsarfeatureextractor_spark.operators.asof import asof_join
    from pulsarfeatureextractor_spark.sources.tokenized import (
        synthetic_sequences,
        synthetic_snapshots,
        with_event_time,
    )

    seqs = with_event_time(synthetic_sequences(spark, 200))
    snaps = synthetic_snapshots(spark, 100, 150)
    joined = asof_join(
        seqs, snaps, on="event_time", right_on="obs_time", by="doc_id",
        value_cols=["f_mean"], strategy="window",
    )
    plan = _plan(joined)
    # ONE hash-partitioning exchange (by doc_id) feeds the sort+window;
    # union of the two sides happens before it
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan and "Union" in plan
    # no Python anywhere in the as-of path
    assert "Python" not in plan and "Arrow" not in plan.replace("ArrowEvalPython", "X")


def test_lyon_arrow_path_no_shuffle_no_rowpython(spark):
    from pulsarfeatureextractor_spark.functions.moments import with_lyon_features
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    df = with_lyon_features(synthetic_sequences(spark, 100))
    plan = _plan(df)
    assert "Exchange" not in plan           # pure map: scan partitioning kept
    assert "BatchEvalPython" not in plan    # row-at-a-time Python banned
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan or "ArrowEval" in plan


def test_salted_join_no_skew_partition(spark):
    """Salted join spreads a hot key across k partitions: the join keys
    in the plan are the salted composites, not the raw key."""
    from pulsarfeatureextractor_spark.operators.salt import salted_join

    left = spark.range(1000).selectExpr("'hot' as k", "id as v")
    right = spark.range(10).selectExpr("concat('k', id) as k", "id as w") \
        .union(spark.range(1).selectExpr("'hot' as k", "id as w"))
    joined = salted_join(left, right, "k", k=8, how="inner")
    plan = _optimized(joined)
    assert "salt" in plan.lower()
    assert joined.count() == 1000


def test_fused_pipeline_one_python_one_exchange(spark):
    """The full scaling workload (fused features + as-of) must plan
    EXACTLY one Python operator and one exchange — the invariant behind
    the N->4N scaling posture (BENCH/BASELINE.md)."""
    from pulsarfeatureextractor_spark.functions.featureset import extract_features
    from pulsarfeatureextractor_spark.operators.asof import asof_join
    from pulsarfeatureextractor_spark.sources.tokenized import (
        synthetic_sequences,
        synthetic_snapshots,
        with_event_time,
    )

    seqs = with_event_time(synthetic_sequences(spark, 200)).select(
        "doc_id", "event_time", "tokens"
    )
    snaps = synthetic_snapshots(spark, 100, 150)
    out = asof_join(
        extract_features(seqs, ("lyon", "thornton"), drop=("tokens",)),
        snaps, on="event_time", right_on="obs_time", by="doc_id",
        value_cols=["f_mean", "f_std"], strategy="window",
    ).select("doc_id", "event_time", "mean", "stdev", "f_mean")
    plan = _plan(out)
    assert plan.count("MapInArrow") == 1
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # token arrays are dropped AT the Python boundary: no tokens column
    # may appear anywhere downstream of the map
    post = plan.split("MapInArrow")[0]
    assert "tokens" not in post


def test_pack_sequences_plan_two_level_scan(spark):
    """The distributed prefix sum must NOT be a single global window:
    full rows shuffle exactly once (by bucket); the bucket-total branch
    is a partial aggregate (narrow shuffle); the bucket-prefix window is
    the only SinglePartition exchange (metadata-sized) and comes back
    via broadcast."""
    from pulsarfeatureextractor_spark.operators.packing import pack_sequences

    df = spark.range(0, 2000).selectExpr("id AS doc_id", "(id % 7) + 1 AS n_tok")
    plan = _plan(pack_sequences(df, 16, bucket_size=100))
    assert plan.count("Exchange hashpartitioning") == 2  # wide rows + partial sums
    assert plan.count("Exchange SinglePartition") == 1   # bucket totals only
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan  # totals branch combines map-side
    assert "Python" not in plan


def test_hash_split_fused_into_scan(spark):
    """Split assignment is row-local: no exchange of any kind."""
    from pulsarfeatureextractor_spark.functions.splits import hash_split

    df = spark.range(0, 100).selectExpr("id AS doc_id")
    plan = _plan(hash_split(df, hasher="xxhash"))
    assert "Exchange" not in plan


def test_contamination_single_shingle_shuffle_no_python(spark):
    from pulsarfeatureextractor_spark.operators.contamination import (
        contamination_ratio,
    )

    train = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    ev = spark.createDataFrame([(2, "a b c e")], "doc_id long, text string")
    plan = _plan(contamination_ratio(train, ev))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_chunk_and_redact_fuse_into_scan(spark):
    """Chunking and PII redaction are row-local: no exchange, no Python."""
    from pulsarfeatureextractor_spark.functions.text import (
        chunk_documents,
        redact_pii,
    )

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    for out in (chunk_documents(df, chunk_tokens=4, overlap=2), redact_pii(df)):
        plan = _plan(out)
        assert "Exchange" not in plan
        assert "Python" not in plan


def test_trained_model_plan_one_agg_broadcast_scoreback(spark):
    """In-engine model training (quality_regression_docs): the fit must
    be ONE partially-aggregated statistics pass whose one-row result
    broadcasts back over the corpus — never a shuffle of the data side,
    never a Python operator.  This is what makes training one-scan at
    100 TB."""
    import __spark_entry__ as e

    plan = _plan(e.quality_regression_docs(spark, SF))
    # the solve rides a one-row broadcast, the corpus side stays in place
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate") == 2  # partial + final, one agg
    assert "Python" not in plan and "MapInArrow" not in plan
    # the only exchanges: the single-row stats combine + its broadcast
    import re

    assert len(re.findall(r"\bExchange\b", plan)) <= 1
    assert "BroadcastExchange" in plan


def test_embedding_generation_plan_pure_map(spark):
    """Docs->embeddings generation must be a pure map: one
    ArrowEvalPython (the encoder, batched), the explode Generate, no
    Exchange anywhere — at 100 TB this stage rides whatever
    partitioning the pipeline already has."""
    import __spark_entry__ as e

    plan = _plan(e.embedding_generation_docs(spark, SF))
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time python


@pytest.mark.parametrize("feature_set", [
    None, "thornton", "stats", "widths", "peace", "spinn", "raw", "all",
])
def test_feature_job_lineage_evaluated_once(spark, tmp_path, feature_set):
    """The shipped job's plan (jobs/extract_features.build_pipeline)
    scans the snapshot once, crosses into Python once and shuffles once,
    for every --feature-set: Lyon and the set's Arrow families share one
    crossing, the self as-of derives its right side from the same pass,
    and lag/sessionize reuse the as-of's doc_id partitioning."""
    import argparse
    import importlib.util
    import os

    from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    table = str(tmp_path / "table")
    IcebergLikeTable(table).write(synthetic_sequences(spark, 200, seed=3),
                                  partition_by=["source"])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "extract_features", os.path.join(root, "jobs", "extract_features.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    args = argparse.Namespace(input=table, snapshot=None, asof=None,
                              scores=False, feature_set=feature_set,
                              gap_seconds=1800.0)
    plan = _plan(job.build_pipeline(spark, args)[0])
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange") == 1, plan
    # token arrays are dropped AT the Python boundary
    assert "tokens" not in plan.split("MapInArrow")[0], plan


def test_dump_plans_rewrites_only_generated_region():
    """tools/dump_plans.py replaces the marked region of PLANS.md and
    keeps the hand-written text around it; without markers it refuses."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "dump_plans.py")
    spec = importlib.util.spec_from_file_location("dump_plans", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    doc = f"# head\n{tool.BEGIN}\n## old plan\n{tool.END}\n## hand-written\nkept\n"
    new = tool.replace_generated(doc, "## new plan\n")
    assert new == f"# head\n{tool.BEGIN}\n\n## new plan\n\n{tool.END}\n## hand-written\nkept\n"
    assert tool.replace_generated(new, "## new plan") == new
    with pytest.raises(ValueError, match="markers"):
        tool.replace_generated("# no markers\n## hand-written\n", "## x")
    with open(tool.PLANS) as f:
        assert f.read().count(tool.BEGIN) == 1
