"""The manifest plans the snapshot scan: the file list and the schema
come from the manifest, so a read builds without a Spark listing or
schema-inference job, and reads exactly the files the snapshot lists."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.sinks.manifest import (
    IcebergLikeTable,
    _partition_values,
)
from pulsarfeatureextractor_spark.sinks.partitioned import run_partitioned_job


def _last_job(spark) -> int:
    """Id of the latest Spark job (ids are sequential; -1: none yet),
    read once the listener bus drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None) or [-1])


def _forty_files(spark, n=400):
    """2 tasks x 20 ``source`` values: a 40-file partitioned snapshot,
    more paths than Spark's parallel-discovery threshold (32)."""
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).cast("string").alias("source"),
        F.lit("v").alias("v"),
    ).repartition(2)


def _keys(df):
    return sorted(r["k"] for r in df.select("k").collect())


def _assert_written_under_partitions(before, after):
    """Every file ``after`` added over ``before`` records the partition
    values its directory holds, and none records ``{}``."""
    old = {f["path"] for f in before["files"]}
    new = [f for f in after["files"] if f["path"] not in old]
    assert new
    for f in new:
        assert f["partition"] and f["partition"] == _partition_values(
            f["base"], f["path"])


def test_fresh_snapshot_read_starts_no_spark_job(spark, tmp_path):
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    man = t.write(_forty_files(spark), partition_by=["source"])
    assert len(man["files"]) == 40
    mark = _last_job(spark)
    df = t.read(spark)
    assert _last_job(spark) - mark == 0
    assert df.count() == 400


def test_scan_reads_no_file_the_manifest_does_not_list(spark, tmp_path):
    """A visible parquet file dropped beside a snapshot's files (an
    orphan, a concurrent writer's uncommitted output) is not read, nor
    does one in a foreign layout break the scan."""
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    man = t.write(_forty_files(spark), partition_by=["source"])
    src = man["files"][0]["path"]
    shutil.copy(src, os.path.join(os.path.dirname(src), "part-orphan.parquet"))
    assert _keys(t.read(spark)) == list(range(400))
    foreign = os.path.join(man["files"][0]["base"], "other")
    os.makedirs(foreign)
    shutil.copy(src, os.path.join(foreign, "part-0.parquet"))
    assert _keys(t.read(spark)) == list(range(400))


def test_time_travel_around_a_merge_reads_each_snapshots_rows(spark, tmp_path):
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    before = t.write(_forty_files(spark), partition_by=["source"])
    upd = spark.range(0, 400, 7).select(
        F.col("id").alias("k"), (F.col("id") % 20).cast("string").alias("source"),
        F.lit("new").alias("v"))
    t.merge_upsert(upd, keys=["k"])
    old = t.read(spark, before["snapshot_id"])
    assert _keys(old) == list(range(400))
    assert old.where(F.col("v") == "new").count() == 0
    head = t.read(spark)
    assert _keys(head) == list(range(400))
    assert sorted(r["k"] for r in head.where(F.col("v") == "new").collect()) == \
        list(range(0, 400, 7))


def test_pruned_read_returns_the_kept_files_rows(spark, tmp_path):
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    t.write(spark.range(400).select(F.col("id").alias("k"))
            .repartitionByRange(4, "k"))
    assert len(t.prune_files("k", 150, 250)) == 2
    assert _keys(t.read(spark, prune=("k", 150, 250))) == list(range(100, 300))


def test_sink_table_reads_only_committed_files(spark, tmp_path):
    out = str(tmp_path / "out")
    run_partitioned_job(_forty_files(spark), out, ["source"])
    table = IcebergLikeTable(os.path.join(out, "_table"))
    src = table.manifest()["files"][0]["path"]
    shutil.copy(src, os.path.join(os.path.dirname(src), "part-uncommitted.parquet"))
    assert _keys(table.read(spark)) == list(range(400))


def test_partition_values_keep_their_type(spark, tmp_path):
    """A string partition column whose values look numeric reads back
    as the strings written: the scan takes the manifest's schema."""
    df = spark.createDataFrame(
        [("001", 1), ("010", 2), ("2", 3)], "p string, x long")
    want = [("001", 1), ("010", 2), ("2", 3)]

    def rows(d):
        assert dict(d.dtypes)["p"] == "string"
        return sorted((r["p"], r["x"]) for r in d.collect())

    t = IcebergLikeTable(str(tmp_path / "tbl"))
    before = t.write(df, partition_by=["p"])
    assert rows(t.read(spark)) == want
    # the merge rewrites '2' and carries the '001' and '010' files
    man = t.merge_upsert(
        spark.createDataFrame([("2", 3)], "p string, x long"), keys=["x"])
    assert man["metrics"]["files_carried"] == 2
    _assert_written_under_partitions(before, man)
    assert rows(t.read(spark)) == want

    out = str(tmp_path / "out")
    run_partitioned_job(df, out, ["p"])
    assert rows(IcebergLikeTable(os.path.join(out, "_table")).read(spark)) == want


def test_table_path_through_dotdot_commits_its_files(spark, tmp_path):
    """Hadoop writes to '<missing>/../input' as '<tmp>/input'; the
    table and the sink commit the files it wrote there."""
    df = _forty_files(spark)
    t = IcebergLikeTable(str(tmp_path / "missing" / ".." / "input"))
    man = t.write(df, partition_by=["source"])
    assert man["total_rows"] == 400 and len(man["files"]) == 40
    assert _keys(t.read(spark)) == list(range(400))
    assert t.path == str(tmp_path / "input")

    run_partitioned_job(df, str(tmp_path / "gone" / ".." / "out"), ["source"])
    out_table = IcebergLikeTable(str(tmp_path / "out" / "_table"))
    assert out_table.manifest()["total_rows"] == 400
    assert _keys(out_table.read(spark)) == list(range(400))


def test_commit_lists_and_keeps_no_zero_row_file(spark, tmp_path):
    """A write's empty tasks leave zero-row files: they are deleted,
    not listed, so the snapshot directory holds exactly its manifest's
    files (and stays readable as one root)."""
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    one = spark.createDataFrame([(1, "a")], "k long, v string")
    for man in (t.write(one), t.merge_upsert(one, keys=["k"])):
        [f] = man["files"]
        assert f["rows"] == 1
        assert glob.glob(os.path.join(f["base"], "**", "*.parquet"),
                         recursive=True) == [f["path"]]
        assert t.read(spark).collect() == [(1, "a")]


def test_append_keeps_older_columns_and_widens_types(spark, tmp_path):
    """An append records the head's schema merged with its own: a column
    only older files hold still reads through ``read``, ``merge_upsert``
    and ``compact``; int files appended over long ones read as long; a
    type no reader holds both ways is refused."""
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    t.write(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, v string, extra long"))
    t.write(spark.createDataFrame([(3, "c")], "k int, v string"), mode="append")
    want = {1: ("a", 10), 2: ("b", 20), 3: ("c", None)}

    def rows():
        d = t.read(spark)
        assert dict(d.dtypes)["k"] == "bigint"
        return {r["k"]: (r["v"], r["extra"]) for r in d.collect()}

    assert rows() == want
    t.merge_upsert(spark.createDataFrame([(2, "B")], "k long, v string"), keys=["k"])
    want[2] = ("B", None)
    assert rows() == want
    t.compact()
    assert rows() == want
    with pytest.raises(ValueError, match="extra"):
        t.write(spark.createDataFrame(
            [(4, "d", "x")], "k long, v string, extra string"), mode="append")
    assert rows() == want


def test_a_base_read_in_part_is_not_listed_whole_first(spark, tmp_path):
    """A merge's carried subset and a ``prune=`` read list fewer files
    than were committed under their base, so they go straight to the
    path list: listing the 40-partition directory first would start a
    Spark job of its own."""
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    t.write(spark.range(40).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("p"))
        .repartition(1), partition_by=["p"])
    t.merge_upsert(spark.createDataFrame([(0, "0")], "k long, p string"), keys=["k"])
    mark = _last_job(spark)
    head = t.read(spark)
    assert _last_job(spark) - mark == 1  # the 39 carried paths, listed once
    assert _keys(head) == list(range(40))
    mark = _last_job(spark)
    pruned = t.read(spark, prune=("k", 1, 35))
    assert _last_job(spark) - mark == 1
    assert _keys(pruned) == list(range(1, 36))


def test_compact_keeps_partition_values(spark, tmp_path):
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    before = t.write(_forty_files(spark), partition_by=["source"])
    t.compact()
    after = t.manifest()
    _assert_written_under_partitions(before, after)
    assert len(after["files"]) == 20
    assert _keys(t.read(spark)) == list(range(400))


def test_write_refuses_an_unknown_mode(spark, tmp_path):
    """A misspelt mode is neither an append nor an overwrite: it would
    commit a snapshot listing only the new files."""
    t = IcebergLikeTable(str(tmp_path / "tbl"))
    t.write(spark.range(10).select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="apend"):
        t.write(spark.range(10, 12).select(F.col("id").alias("k")), mode="apend")
    assert t.snapshot_ids() == [1]
    assert _keys(t.read(spark)) == list(range(10))


def test_sink_table_takes_only_the_sinks_appends(spark, tmp_path):
    """A sink's ``<out>/_table`` lists the files of the output directory
    itself: a merge, write or compaction of the table would land only in
    the table view.  Each is refused, the two views stay equal and a
    rerun of the sink still skips every partition."""
    df = _forty_files(spark, n=100)
    out = str(tmp_path / "out")
    run_partitioned_job(df, out, ["source"])
    table = IcebergLikeTable(os.path.join(out, "_table"))
    one = spark.createDataFrame([(1, "1", "new")], "k long, source string, v string")
    for op in (lambda: table.merge_upsert(one, keys=["k"]),
               lambda: table.write(one, partition_by=["source"]),
               lambda: table.compact()):
        with pytest.raises(ValueError, match="sink's table"):
            op()
    assert table.snapshot_ids() == [1]
    assert not os.path.exists(os.path.join(table.path, "data"))
    hive = spark.read.parquet(out)
    view = table.read(spark)
    assert hive.where(F.col("v") == "new").count() == 0
    assert hive.exceptAll(view).count() == 0 and view.exceptAll(hive).count() == 0
    res = run_partitioned_job(df, out, ["source"])
    assert res["written"] == [] and len(res["skipped"]) == 20
