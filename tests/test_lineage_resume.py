"""Lineage snapshots + resume (SURVEY.md §5.2 resume layer).

Gates pinned by BASELINE.json north_rule: a killed run re-emits only
missing partitions; final output identical to an uninterrupted run;
per-partition outputs carry lineage + metrics; snapshot time travel.
The sink's output is an IcebergLikeTable under ``<out>/_table``: its
head manifest is the resume checkpoint and carries the lineage.
"""

import os
import threading

import pytest
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.sinks.manifest import (
    CommitConflictError,
    IcebergLikeTable,
    _partition_values,
)
from pulsarfeatureextractor_spark.sinks.partitioned import (
    _manifest_key,
    run_partitioned_job,
)


@pytest.fixture()
def seq_df(spark):
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    return synthetic_sequences(spark, 400, seed=7)


def _out_table(out):
    return IcebergLikeTable(os.path.join(out, "_table"))


def _done(out):
    """Partition keys the output table's head manifest lists."""
    man = _out_table(out).manifest()
    return {_manifest_key(f["partition"], man["partition_spec"])
            for f in man["files"]}


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
    df = seq_df.withColumn("mean", F.lit(1.0))

    # uninterrupted reference run
    ref_out = str(tmp_path / "ref")
    res = run_partitioned_job(df, ref_out, ["source"], batch_size=0)
    assert res["skipped"] == []
    ref = spark.read.parquet(ref_out)

    # killed run: 3 batches of 4 partitions, dies before batch 3
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_partitioned_job(df, out, ["source"], batch_size=4,
                            fail_after_batches=2)
    done_after_kill = _done(out)
    assert len(done_after_kill) == 8  # 2 committed batches

    # rerun: re-emits ONLY the missing partitions
    res2 = run_partitioned_job(df, out, ["source"], batch_size=4)
    assert set(res2["skipped"]) == done_after_kill
    assert set(res2["written"]).isdisjoint(done_after_kill)
    assert len(res2["written"]) == 20 - 8

    # final output identical to uninterrupted run
    cols = ["doc_id", "n_tok", "source", "mean"]
    assert sorted(map(tuple, spark.read.parquet(out).select(*cols).collect())) == \
        sorted(map(tuple, ref.select(*cols).collect()))

    # third run: everything skipped, nothing written
    res3 = run_partitioned_job(df, out, ["source"], batch_size=4)
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
    man = _out_table(out).manifest()
    side = man["metrics"]
    assert side["snapshot_id"] == 7
    assert man["partition_spec"] == ["source"]
    assert side["batch_metrics"]["rows"] == 400
    assert side["batch_metrics"]["partitions"] == 20
    # true per-partition rows, from the written files' footers
    per_part: dict = {}
    for f in man["files"]:
        per_part[f["partition"]["source"]] = \
            per_part.get(f["partition"]["source"], 0) + f["rows"]
    counts = spark.read.parquet(out).groupBy("source").count().collect()
    assert per_part == {r["source"]: r["count"] for r in counts}


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
    run_partitioned_job(df, ref_out, ["source"])
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_partitioned_job(df, out, ["source"], batch_size=4,
                            fail_after_batches=2)
    done = _done(out)
    assert len(done) == 8

    res = run_partitioned_job(df, out, ["source"], batch_size=0)
    all_keys = {f"src{i}" for i in range(20)}
    assert res["written"] == sorted(all_keys - done)
    assert set(res["skipped"]) == done
    assert _done(out) == all_keys
    side = _out_table(out).manifest()["metrics"]
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
    res = run_partitioned_job(df, str(tmp_path / "out"), ["source"])
    assert _last_sql_execution(spark) - mark == 1
    assert len(res["written"]) == 20
    # a fully done rerun is still one pass, and writes nothing
    mark = _last_sql_execution(spark)
    res2 = run_partitioned_job(df, str(tmp_path / "out"), ["source"])
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
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError):
        run_partitioned_job(df, out, ["part", "flag"], batch_size=2,
                            fail_after_batches=1)
    done = _done(out)
    res = run_partitioned_job(df, out, ["part", "flag"])
    want = {"a/true", "a/false", "__HIVE_DEFAULT_PARTITION__/true",
            "__HIVE_DEFAULT_PARTITION__/false", "b/__HIVE_DEFAULT_PARTITION__"}
    assert set(res["written"]) == want - done and len(done) == 2
    assert _done(out) == want
    assert {"part": None, "flag": "false"} in [
        f["partition"] for f in _out_table(out).manifest()["files"]]
    assert sorted(r["v"] for r in spark.read.parquet(out).collect()) == [1, 2, 3, 4, 5]


def test_escaped_partition_values_in_manifest_and_resume(spark, tmp_path):
    """Spark escapes '/', ':' and '%' in partition directory names and
    writes NULL as the hive default token.  The manifest records the
    data's own values, a killed sink run resumes skipping exactly the
    committed keys, and every written partition's lineage is in the
    output table's manifest."""
    sources = ["a/b", "x:y", "p q%", None, "plain"]
    df = spark.createDataFrame(
        [(i, sources[i % 5]) for i in range(20)], "v long, source string")
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    man = t.write(df, partition_by=["source"])
    recorded = {f["partition"]["source"] for f in man["files"]}
    assert recorded == set(sources)
    assert recorded == {r["source"] for r in t.read(spark).collect()}
    # a merge maps Spark's file URIs back to these escaped paths, and
    # writes its rows back under them
    merged = t.merge_upsert(df.where(F.col("v") < 5), keys=["v"])
    new = [f for f in merged["files"] if f not in man["files"]]
    assert {f["partition"]["source"] for f in new} == set(sources)
    for f in new:
        assert f["partition"] == _partition_values(f["base"], f["path"])
    assert sorted(map(tuple, t.read(spark).collect()), key=str) == \
        sorted(map(tuple, df.collect()), key=str)

    out = str(tmp_path / "out")
    lineage = {"snapshot_id": man["snapshot_id"]}
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_partitioned_job(df, out, ["source"], lineage=lineage,
                            batch_size=2, fail_after_batches=1)
    committed = _done(out)
    assert len(committed) == 2
    res = run_partitioned_job(df, out, ["source"], lineage=lineage, batch_size=2)
    assert set(res["skipped"]) == committed
    assert len(res["written"]) == 3 and committed.isdisjoint(res["written"])

    out_table = _out_table(out)
    head = out_table.manifest()
    assert {f["partition"]["source"] for f in head["files"]} == set(sources)
    for sid in out_table.snapshot_ids():
        assert out_table.manifest(sid)["metrics"]["snapshot_id"] == 1
    rows = {}
    for f in head["files"]:
        rows[f["partition"]["source"]] = rows.get(f["partition"]["source"], 0) + f["rows"]
    assert rows == {s: 4 for s in sources}
    back = out_table.read(spark)
    assert sorted(map(tuple, back.select("v", "source").collect()), key=str) == \
        sorted(map(tuple, df.collect()), key=str)
    assert back.exceptAll(spark.read.parquet(out)).count() == 0


def test_concurrent_appends_keep_both_snapshots(spark, tmp_path, monkeypatch):
    """Two writers append to one table after reading the same head.
    Both commits survive: the loser of the snapshot id re-bases on the
    new head, and no temp file is left behind."""
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    t.write(spark.createDataFrame([(0, "base")], "v long, who string"))

    # every head read made while only the base snapshot exists waits
    # for the other writer's read, so both plan against snapshot 1
    barrier = threading.Barrier(2, timeout=120)
    real_ids = IcebergLikeTable.snapshot_ids
    writers: set = set()

    def synced_ids(self):
        ids = real_ids(self)
        if threading.get_ident() in writers and ids == [1]:
            barrier.wait()
        return ids

    monkeypatch.setattr(IcebergLikeTable, "snapshot_ids", synced_ids)
    errors: list = []

    def append(who):
        writers.add(threading.get_ident())
        try:
            t.write(spark.createDataFrame([(1, who)], "v long, who string"))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=append, args=(w,)) for w in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    monkeypatch.undo()
    assert errors == []

    assert t.snapshot_ids() == [1, 2, 3]
    head = t.manifest()
    assert head["total_rows"] == 3
    assert {f["path"] for f in t.manifest(2)["files"]} < \
        {f["path"] for f in head["files"]}
    assert sorted(r["who"] for r in t.read(spark).collect()) == ["a", "b", "base"]
    assert sorted(os.listdir(t.manifest_dir)) == [
        "snap-1.json", "snap-2.json", "snap-3.json"]
    assert not [n for n in os.listdir(t.path) if n.endswith(".tmp")]


def test_commit_planned_on_stale_head_raises(spark, tmp_path):
    """A merge, overwrite or compaction computed its files from one
    head; if another commit landed since, publishing would drop it."""
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame([(0, "x")], "k long, v string")
    first = t.write(df)
    t.write(df)  # lands after ``first`` was read
    for op in ("merge", "overwrite", "compact"):
        with pytest.raises(CommitConflictError, match="planned on snapshot 1"):
            t.commit([], t.path, op, [], first["schema"],
                     carried=first["files"], parent=first["snapshot_id"])
    assert t.snapshot_ids() == [1, 2]
    assert sorted(os.listdir(t.manifest_dir)) == ["snap-1.json", "snap-2.json"]
    assert not [n for n in os.listdir(t.path) if n.endswith(".tmp")]


def test_empty_string_and_null_share_a_partition(spark, tmp_path):
    """Spark writes '' and NULL partition values to the same directory,
    so they must be one key: a resume that wrote them as two batches
    would dynamically overwrite the committed one's rows."""
    df = spark.createDataFrame(
        [("", 1), (None, 2), ("a", 3)], "part string, v long")
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_partitioned_job(df, out, ["part"], batch_size=1,
                            fail_after_batches=1)
    res = run_partitioned_job(df, out, ["part"], batch_size=1)
    assert sorted(res["skipped"] + res["written"]) == \
        ["__HIVE_DEFAULT_PARTITION__", "a"]
    assert sorted(r["v"] for r in spark.read.parquet(out).collect()) == [1, 2, 3]


def test_resume_refuses_other_partition_spec(spark, seq_df, tmp_path):
    """A rerun into the same output with other partition columns cannot
    read its done keys from the head manifest: it is refused, by name."""
    out = str(tmp_path / "out")
    run_partitioned_job(seq_df, out, ["source"])
    with pytest.raises(ValueError, match="partition_spec.*new --output"):
        run_partitioned_job(seq_df, out, ["n_tok"])


@pytest.mark.parametrize("cols", [[], [""], ["source", " "]])
def test_sink_refuses_no_or_blank_partition_columns(spark, seq_df, tmp_path, cols):
    """Without a partition column the sink's overwrite would replace
    the whole output directory, its ``_table`` manifests included."""
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="partition_cols"):
        run_partitioned_job(seq_df, out, cols)
    assert not os.path.exists(out)


def test_resume_under_a_static_overwrite_session(spark, seq_df, tmp_path):
    """Dynamic overwrite is the sink's write option: under a session
    whose overwrite mode is static, a resumed batch replaces only its
    own partitions, and the session's mode is left as it was."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path / "out")
        with pytest.raises(RuntimeError, match="simulated kill"):
            run_partitioned_job(seq_df, out, ["source"], batch_size=1,
                                fail_after_batches=1)
        run_partitioned_job(seq_df, out, ["source"], batch_size=1)
        assert spark.conf.get(key) == "static"
        assert _rows(spark.read.parquet(out)) == _rows(seq_df)
    finally:
        spark.conf.unset(key)
