"""Big-side posture for cross-corpus dedup (VERDICT r03 next-round #4):
the reference digest set is bucketed ONCE on digest; every later
incremental-crawl anti join then shuffles only the new-crawl side.

Plan-shape pinned: exactly one Exchange (the crawl side), bucketed scan
on the reference side, results identical to the plain two-shuffle
dedup_against."""

import pytest
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.operators.dedup import (
    dedup_against,
    dedup_against_bucketed,
    exact_dedup,
    prepare_digest_reference,
)


@pytest.fixture(scope="module")
def corpora(spark):
    ingested = spark.range(0, 5000).select(
        F.concat(F.lit("doc "), (F.col("id") % 3000).cast("string")).alias("text")
    )
    crawl = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        # ids 0..999 collide with the ingested corpus, 1000+ are new
        F.concat(
            F.lit("doc "),
            F.when(F.col("id") < 1000, (F.col("id") % 3000))
            .otherwise(F.col("id") + 100000)
            .cast("string"),
        ).alias("text"),
    )
    return ingested, crawl


@pytest.fixture(scope="module")
def ref_table(spark, corpora, tmp_path_factory):
    ingested, _ = corpora
    path = str(tmp_path_factory.mktemp("digest_ref") / "tbl")
    return prepare_digest_reference(
        ingested, "digest_ref_test_tbl", path, text_col="text", n_buckets=8
    )


def test_only_crawl_side_shuffles(spark, corpora, ref_table):
    """Pin the at-scale plan: broadcast disabled (the reference digest
    set is the BIG side in production — a test-sized fixture would
    otherwise be broadcast and hide the bucketing), sort-merge anti
    join, bucketed scan on the reference, and exactly ONE Exchange —
    the new-crawl side."""
    _, crawl = corpora
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup_against_bucketed(crawl, ref_table, "text")
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" not in plan, plan
    assert plan.count("Exchange") == 1, plan  # the crawl side only
    assert "Bucketed: true" in plan, plan
    assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan


def test_matches_plain_dedup_against(spark, corpora, ref_table):
    ingested, crawl = corpora
    bucketed = sorted(
        r["doc_id"]
        for r in dedup_against_bucketed(crawl, ref_table, "text").collect()
    )
    plain = sorted(
        r["doc_id"]
        for r in dedup_against(
            crawl, exact_dedup(ingested, "text", "text"), "text"
        ).collect()
    )
    assert bucketed == plain
    assert len(bucketed) == 1000  # exactly the non-colliding ids survive


def test_accepts_digest_table_input(spark, corpora, tmp_path_factory):
    ingested, crawl = corpora
    digests = exact_dedup(ingested, "text", "text").select("digest")
    path = str(tmp_path_factory.mktemp("digest_ref2") / "tbl")
    name = prepare_digest_reference(
        digests, "digest_ref_test_tbl2", path, n_buckets=4
    )
    out = dedup_against_bucketed(crawl, name, "text")
    assert out.count() == 1000


def test_incremental_append_maintains_layout(spark, corpora, ref_table):
    """INSERT INTO keeps the bucketed layout: after appending the
    crawl's own digests, a re-run dedups against crawl ∪ ingested."""
    _, crawl = corpora
    new_digests = (
        crawl.select(F.md5(F.col("text")).alias("digest")).dropDuplicates()
    )
    new_digests.repartition(8, F.col("digest")).write.insertInto(ref_table)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup_against_bucketed(crawl, ref_table, "text")
        assert out.count() == 0  # everything is now known
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("Exchange") == 1, plan


# ---- fuzzy tier: MinHash index + near-dup dedup_against ----------------

from pulsarfeatureextractor_spark.operators.dedup import (  # noqa: E402
    minhash_dedup_against,
    prepare_minhash_reference,
)


def _fuzzy_corpora(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    ingested = spark.createDataFrame(
        [(i, base + f" variant {i}") for i in range(20)],
        "doc_id long, text string",
    )
    crawl = spark.createDataFrame(
        [
            # near-dup of the ingested family (one-token difference)
            (100, base + " variant 999"),
            # unrelated document — must survive
            (101, "completely different content about spark bucketed "
                  "join physical plans and shuffle elimination at scale"),
        ],
        "doc_id long, text string",
    )
    return ingested, crawl


@pytest.fixture(scope="module")
def mh_ref_table(spark, tmp_path_factory):
    ingested, _ = _fuzzy_corpora(spark)
    path = str(tmp_path_factory.mktemp("mh_ref") / "tbl")
    return prepare_minhash_reference(
        ingested, "mh_ref_test_tbl", path, n_buckets=8
    )


def test_fuzzy_drops_neardup_keeps_unrelated(spark, mh_ref_table):
    _, crawl = _fuzzy_corpora(spark)
    out = minhash_dedup_against(crawl, mh_ref_table, threshold=0.5)
    assert [r.doc_id for r in out.collect()] == [101]


def test_fuzzy_threshold_one_keeps_non_identical(spark, mh_ref_table):
    # at threshold 1.0 only (near-)identical signatures drop; the
    # one-token variant's signature differs in >0 of 64 slots
    _, crawl = _fuzzy_corpora(spark)
    out = minhash_dedup_against(crawl, mh_ref_table, threshold=1.0)
    assert sorted(r.doc_id for r in out.collect()) == [100, 101]


def test_fuzzy_reference_never_reshuffles(spark, mh_ref_table):
    """The at-scale plan pin: bucketed scan on the reference feeds the
    candidate join directly (join key == bucket key band_hash); no
    Exchange above the reference scan, no broadcast."""
    _, crawl = _fuzzy_corpora(spark)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = minhash_dedup_against(crawl, mh_ref_table, threshold=0.5)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan, plan
    assert "BroadcastExchange" not in plan, plan
    # no exchange keyed on the reference's output: every Exchange in
    # the plan is on the probe/candidate side (band_hash or doc_id)
    import re
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert all("ref_" not in k or "doc_id" in k for k in keys), keys
    assert sum("band_hash" in k for k in keys) == 1, keys  # probe only


def test_fuzzy_incremental_insert(spark, mh_ref_table):
    """INSERT INTO maintains the index: after appending the unrelated
    crawl doc's bands, a re-probe drops it too."""
    _, crawl = _fuzzy_corpora(spark)
    from pulsarfeatureextractor_spark.operators.dedup import banded_minhash

    extra = banded_minhash(
        crawl.where(F.col("doc_id") == 101), "text", "doc_id"
    ).select(
        "band", "band_hash",
        F.col("doc_id").alias("ref_id"),
        "signature",
    )
    extra.write.insertInto("mh_ref_test_tbl")
    out = minhash_dedup_against(crawl, mh_ref_table, threshold=0.5)
    assert out.count() == 0


def test_fuzzy_banding_mismatch_refused(spark, mh_ref_table):
    """A probe with different banding parameters would produce
    band_hash values that never match the index — silently deduping
    nothing; the recorded TBLPROPERTIES make it an explicit error."""
    _, crawl = _fuzzy_corpora(spark)
    with pytest.raises(ValueError, match="banding mismatch"):
        minhash_dedup_against(crawl, mh_ref_table, num_perm=32, bands=8)


@pytest.mark.parametrize("prepare", [prepare_digest_reference,
                                     prepare_minhash_reference])
def test_refused_overwrite_keeps_index_registered(spark, tmp_path, prepare):
    """A refused rebuild over a non-empty path (overwrite=False) must
    leave the live index registered: the path check runs BEFORE the
    DROP TABLE, so the failed call changes nothing."""
    ingested, _ = _fuzzy_corpora(spark)
    name = f"refused_{prepare.__name__}"
    path = str(tmp_path / "tbl")
    kw = {"text_col": "text"} if prepare is prepare_digest_reference else {}
    prepare(ingested, name, path, n_buckets=4, **kw)
    before = spark.table(name).count()
    with pytest.raises(ValueError, match="non-empty"):
        prepare(ingested, name, path, n_buckets=4, **kw)
    assert spark.catalog.tableExists(name)
    assert spark.table(name).count() == before
    spark.sql(f"DROP TABLE IF EXISTS {name}")
