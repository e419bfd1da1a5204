"""FeatureStore facade + snapshot expiry/orphan maintenance."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable
from pulsarfeatureextractor_spark.store import FeatureStore


@pytest.fixture(scope="module")
def table_dir(spark, tmp_path_factory):
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    d = str(tmp_path_factory.mktemp("store") / "tbl")
    t = IcebergLikeTable(d)
    seqs = synthetic_sequences(spark, 300, seed=31)
    t.write(seqs.where(F.col("source") != "src0"), partition_by=["source"])
    t.write(seqs.where(F.col("source") == "src0"), mode="append")
    return d


def test_fluent_pipeline(spark, table_dir, tmp_path):
    fs = FeatureStore(spark)
    out = str(tmp_path / "out")
    res = (
        fs.read_snapshot(table_dir)
        .with_event_time()
        .features("lyon")
        .sessionize(gap_seconds=1800)
        .drop("tokens")
        .write(out, partition_cols=["source"])
    )
    assert len(res["written"]) == 20
    feat = spark.read.parquet(out)
    assert {"mean", "stdev", "skew", "kurt", "session_id"} <= set(feat.columns)
    assert feat.count() == 300
    # the output table's manifest names the snapshot read
    import os

    side = IcebergLikeTable(os.path.join(out, "_table")).manifest()["metrics"]
    assert side["snapshot_id"] == 2


def test_fluent_asof(spark, table_dir):
    fs = FeatureStore(spark)
    feats = fs.read_snapshot(table_dir).with_event_time().features("lyon")
    snaps = feats.select(
        "doc_id",
        (F.col("event_time") - F.expr("INTERVAL 1 HOUR")).alias("obs_time"),
        F.col("mean").alias("f_mean_obs"),
    )
    joined = feats.asof_join(
        snaps, on="event_time", right_on="obs_time", by="doc_id",
        value_cols=["f_mean_obs"],
    ).toPandas()
    ok = joined["f_mean_obs"].notna()
    assert ok.all()
    # duplicate doc_ids share an event_time, so each row's attached
    # value is the mean of SOME row of the same doc (the as-of winner)
    means = joined.groupby("doc_id")["mean"].agg(set)
    for _, r in joined.iterrows():
        assert any(np.isclose(r["f_mean_obs"], m) for m in means[r["doc_id"]])


def test_expire_and_orphans(spark, tmp_path):
    # fresh table (manifests hold absolute paths — like Iceberg URIs —
    # so a dir copy would orphan everything)
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    d = str(tmp_path / "tbl2")
    t = IcebergLikeTable(d)
    seqs = synthetic_sequences(spark, 300, seed=31)
    t.write(seqs.where(F.col("source") != "src0"), partition_by=["source"])
    t.write(seqs.where(F.col("source") == "src0"), mode="append")
    assert t.snapshot_ids() == [1, 2]
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1] and t.snapshot_ids() == [2]
    # snapshot 2 (append) references snapshot 1's files too -> no orphans
    assert t.remove_orphans(dry_run=True) == []
    # an overwrite snapshot drops old files; expiring to it orphans them
    t.write(synthetic_sequences(spark, 10, seed=1), mode="overwrite")
    t.expire_snapshots(keep_last=1)
    orphans = t.remove_orphans()
    assert len(orphans) > 0
    # surviving snapshot still fully readable
    assert t.read(spark).count() == 10


def test_compact_small_files(spark, tmp_path):
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    d = str(tmp_path / "tbl3")
    t = IcebergLikeTable(d)
    t.write(synthetic_sequences(spark, 400, seed=3).repartition(32))
    assert len(t.manifest()["files"]) >= 16
    res = t.compact(target_file_mb=128)
    assert res["after_files"] < res["before_files"]
    assert t.read(spark).count() == 400
    # old snapshot still time-travelable until expired
    assert t.read(spark, snapshot_id=1).count() == 400


def test_streaming_exact_dedup(spark, tmp_path):
    from pulsarfeatureextractor_spark.sources.readers import load_table
    from pulsarfeatureextractor_spark.streaming.mirror import (
        EVENTS_SCHEMA,
        streaming_exact_dedup,
    )

    # simulate at-least-once delivery: every event twice
    src = str(tmp_path / "dup_events")
    e = load_table(spark, "/root/testdata/sf0.001", "events")
    e.union(e).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (streaming_exact_dedup(stream).writeStream.format("memory")
         .queryName("t_dedup").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("t_dedup")
    assert got.count() == e.count()
    assert got.select("event_id").distinct().count() == e.count()


def test_fluent_fused_features(spark):
    from pulsarfeatureextractor_spark.store import FeatureFrame
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    ff = FeatureFrame(spark, synthetic_sequences(spark, 100, seed=4))
    out = ff.features(("lyon", "thornton"), drop=("tokens",)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "tokens" not in plan.split("MapInArrow")[0]
    assert "tokens" not in out.columns
    assert {"mean", "stdev", "sin_chi2", "sn_ratio"} <= set(out.columns)
    assert out.count() == 100


def test_store_read_incremental(spark, table_dir):
    store = FeatureStore(spark)
    t = IcebergLikeTable(table_dir)
    first = t.snapshot_ids()[0]
    ff = store.read_incremental(table_dir, first)
    # only the second append (source == src0) is incremental
    assert ff.df.select("source").distinct().collect()[0]["source"] == "src0"
    assert ff.lineage["incremental_from"] == first
    assert ff.df.count() == t.read(spark).where(F.col("source") == "src0").count()
