"""Lineage snapshots + checkpoint/resume (SURVEY.md §5.2 resume layer).

Gates pinned by BASELINE.json north_rule: a killed run re-emits only
missing partitions; final output identical to an uninterrupted run;
per-partition outputs carry lineage + metrics; snapshot time travel.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable
from pulsarfeatureextractor_spark.sinks.partitioned import (
    load_checkpoint,
    run_partitioned_job,
)


@pytest.fixture()
def seq_df(spark):
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    return synthetic_sequences(spark, 400, seed=7)


def _rows(df):
    return sorted(
        (r.doc_id, r.n_tok, r.source, tuple(r.tokens)) for r in df.collect()
    )


def test_snapshot_write_read_roundtrip(spark, seq_df, tmp_path):
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    man = t.write(seq_df, partition_by=["source"])
    assert man["snapshot_id"] == 1
    assert man["partition_spec"] == ["source"]
    assert man["total_rows"] == 400
    assert all(f["rows"] > 0 for f in man["files"])

    back = t.read(spark)
    assert _rows(back.select("doc_id", "n_tok", "source", "tokens")) == _rows(seq_df)


def test_snapshot_time_travel_append(spark, seq_df, tmp_path):
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    first = seq_df.where(F.col("source") != "src0")
    extra = seq_df.where(F.col("source") == "src0")
    t.write(first)
    t.write(extra, mode="append")
    assert t.snapshot_ids() == [1, 2]
    # snapshot 1 must NOT see the appended rows
    assert t.read(spark, snapshot_id=1).count() == first.count()
    assert t.read(spark, snapshot_id=2).count() == 400
    # overwrite starts a fresh file list but old snapshots stay readable
    t.write(extra, mode="overwrite")
    assert t.read(spark, snapshot_id=3).count() == extra.count()
    assert t.read(spark, snapshot_id=2).count() == 400


def test_manifest_file_pruning(spark, seq_df, tmp_path):
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    t.write(seq_df.withColumn("n_tok_d", F.col("n_tok")), partition_by=["n_tok"])
    man = t.manifest()
    all_files = [f["path"] for f in man["files"]]
    # n_tok is the dir key; prune on the stats of the data column copy
    only_64 = t.prune_files("n_tok_d", 0, 64)
    assert set(only_64) < set(all_files)
    kept = spark.read.parquet(*only_64)
    assert kept.where(F.col("n_tok_d") == 64).count() > 0


def test_resume_reemits_only_missing_partitions(spark, seq_df, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt.json")
    df = seq_df.withColumn("mean", F.lit(1.0))

    # uninterrupted reference run
    ref_out = str(tmp_path / "ref")
    res = run_partitioned_job(df, ref_out, ["source"], str(tmp_path / "c2.json"),
                              batch_size=0)
    assert res["skipped"] == []
    ref = spark.read.parquet(ref_out)

    # killed run: 3 batches of 4 partitions, dies before batch 3
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_partitioned_job(df, out, ["source"], ckpt, batch_size=4,
                            fail_after_batches=2)
    done_after_kill = set(load_checkpoint(ckpt)["done"])
    assert len(done_after_kill) == 8  # 2 committed batches

    # rerun: re-emits ONLY the missing partitions
    res2 = run_partitioned_job(df, out, ["source"], ckpt, batch_size=4)
    assert set(res2["skipped"]) == done_after_kill
    assert set(res2["written"]).isdisjoint(done_after_kill)
    assert len(res2["written"]) == 20 - 8

    # final output identical to uninterrupted run
    cols = ["doc_id", "n_tok", "source", "mean"]
    assert sorted(map(tuple, spark.read.parquet(out).select(*cols).collect())) == \
        sorted(map(tuple, ref.select(*cols).collect()))

    # third run: everything skipped, nothing written
    res3 = run_partitioned_job(df, out, ["source"], ckpt, batch_size=4)
    assert res3["written"] == []
    assert len(res3["skipped"]) == 20


def test_lineage_sidecars_written(spark, seq_df, tmp_path):
    out = str(tmp_path / "out")
    df = seq_df.withColumn("mean", F.lit(1.0))
    run_partitioned_job(
        df, out, ["source"],
        lineage={"snapshot_id": 7, "input_manifest": ["f1.parquet"]},
        batch_size=0,
    )
    side = json.load(open(os.path.join(out, "source=src0", "_lineage.json")))
    assert side["snapshot_id"] == 7
    assert side["partition_spec"] == ["source"]
    assert side["batch_metrics"]["rows"] == 400
    assert side["batch_metrics"]["partitions"] == 20


def _last_sql_execution(spark) -> int:
    """Id of the latest SQL execution (ids are sequential; -1: none yet),
    read from the session's status store once its listener bus drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def test_batched_kill_then_single_batch_resume(spark, seq_df, tmp_path):
    """A batch_size=4 run killed after two batches, resumed with
    batch_size=0: the one-pass write skips the done keys, writes exactly
    the 12 missing ones and lands the same rows as an uninterrupted run."""
    df = seq_df.withColumn("mean", F.lit(1.0))
    ref_out = str(tmp_path / "ref")
    run_partitioned_job(df, ref_out, ["source"], str(tmp_path / "ref.json"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt.json")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_partitioned_job(df, out, ["source"], ckpt, batch_size=4,
                            fail_after_batches=2)
    done = set(load_checkpoint(ckpt)["done"])
    assert len(done) == 8

    res = run_partitioned_job(df, out, ["source"], ckpt, batch_size=0)
    all_keys = {f"src{i}" for i in range(20)}
    assert res["written"] == sorted(all_keys - done)
    assert set(res["skipped"]) == done
    assert set(load_checkpoint(ckpt)["done"]) == all_keys
    side = json.load(open(os.path.join(out, f"source={res['written'][0]}",
                                       "_lineage.json")))
    missing_rows = df.where(~F.col("source").isin(sorted(done))).count()
    assert side["batch_metrics"] == {"rows": missing_rows, "partitions": 12}
    cols = ["doc_id", "n_tok", "source", "mean"]
    assert sorted(map(tuple, spark.read.parquet(out).select(*cols).collect())) == \
        sorted(map(tuple, spark.read.parquet(ref_out).select(*cols).collect()))


def test_single_batch_write_is_one_sql_execution(spark, seq_df, tmp_path):
    """batch_size=0 plans nothing up front: the write is the only SQL
    execution, and its observation supplies the written keys."""
    df = seq_df.withColumn("mean", F.lit(1.0))
    mark = _last_sql_execution(spark)
    res = run_partitioned_job(df, str(tmp_path / "out"), ["source"],
                              str(tmp_path / "ckpt.json"))
    assert _last_sql_execution(spark) - mark == 1
    assert len(res["written"]) == 20
    # a fully done rerun is still one pass, and writes nothing
    mark = _last_sql_execution(spark)
    res2 = run_partitioned_job(df, str(tmp_path / "out"), ["source"],
                               str(tmp_path / "ckpt.json"))
    assert _last_sql_execution(spark) - mark == 1
    assert res2 == {"written": [], "skipped": res["written"]}


def test_single_batch_null_and_bool_keys(spark, tmp_path):
    """NULL and boolean partition values round-trip through the
    observed-key path: the keys read back from the observation are the
    same Spark-rendered strings the batched path collects."""
    from pyspark.sql import Row

    rows = [
        Row(part="a", flag=True, v=1),
        Row(part="a", flag=False, v=2),
        Row(part=None, flag=True, v=3),
        Row(part=None, flag=False, v=4),
        Row(part="b", flag=None, v=5),
    ]
    df = spark.createDataFrame(rows)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt.json")
    with pytest.raises(RuntimeError):
        run_partitioned_job(df, out, ["part", "flag"], ckpt, batch_size=2,
                            fail_after_batches=1)
    done = set(load_checkpoint(ckpt)["done"])
    res = run_partitioned_job(df, out, ["part", "flag"], ckpt)
    want = {"a/true", "a/false", "__HIVE_DEFAULT_PARTITION__/true",
            "__HIVE_DEFAULT_PARTITION__/false", "b/__HIVE_DEFAULT_PARTITION__"}
    assert set(res["written"]) == want - done and len(done) == 2
    assert set(load_checkpoint(ckpt)["done"]) == want
    assert os.path.exists(os.path.join(
        out, "part=__HIVE_DEFAULT_PARTITION__", "flag=false", "_lineage.json"))
    assert sorted(r["v"] for r in spark.read.parquet(out).collect()) == [1, 2, 3, 4, 5]
