"""Streaming mirrors == batch twins under availableNow replay.

Each test replays a parquet events table through the streaming
operator with trigger(availableNow=True) into a memory sink and
asserts equality with the batch computation on the same input.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.streaming.mirror import (
    stream_events_from_table,
    streaming_ffill_state,
    streaming_lyon_features,
    streaming_session_windows,
    streaming_tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # single output file -> deterministic intra-key order for the
    # stateful ffill replay
    from pulsarfeatureextractor_spark.sources.readers import load_table

    out = str(tmp_path_factory.mktemp("stream") / "events")
    # declared schema (TimestampType, not inferred NTZ) — matches the
    # streaming reader's EVENTS_SCHEMA
    load_table(spark, SF, "events").coalesce(1).write.parquet(out)
    return out


def _run(stream_df, name, spark, ckpt_dir, mode="append"):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode)
         .option("checkpointLocation", f"{ckpt_dir}/{name}")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name).toPandas()


def _canon(pdf):
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def test_streaming_tumbling_counts_match_batch(spark, events_dir, tmp_path):
    stream = stream_events_from_table(spark, events_dir)
    got = _run(streaming_tumbling_counts(stream), "t_tumble", spark,
               str(tmp_path), mode="complete")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
                "event_type", "n_events", "sum_value")
        .toPandas()
    )
    a, b = _canon(got), _canon(batch)
    assert len(a) == len(b)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_streaming_sessions_match_batch_session_window(spark, events_dir, tmp_path):
    stream = stream_events_from_table(spark, events_dir)
    got = _run(streaming_session_windows(stream, gap="30 minutes"), "t_sess",
               spark, str(tmp_path), mode="complete")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"), F.max("ts").alias("session_end"))
        .select("user_id", "session_start", "session_end", "n_events")
        .toPandas()
    )
    pd.testing.assert_frame_equal(_canon(got), _canon(batch), check_dtype=False)


def test_streaming_sessions_match_batch_sessionize_operator(spark, events_dir, tmp_path):
    """The streaming session_window agg and the batch lag/cumsum
    sessionize operator agree on (start, end, n_events) per session."""
    from pulsarfeatureextractor_spark.operators.sessionize import session_aggregates

    stream = stream_events_from_table(spark, events_dir)
    got = _run(streaming_session_windows(stream, gap="30 minutes"), "t_sess2",
               spark, str(tmp_path), mode="complete")
    batch = (
        session_aggregates(spark.read.parquet(events_dir), "user_id", "ts", 1800.0)
        .select("user_id", "session_start", "session_end", "n_events")
        .toPandas()
    )
    pd.testing.assert_frame_equal(_canon(got), _canon(batch), check_dtype=False)


def test_streaming_ffill_matches_batch_ffill(spark, events_dir, tmp_path):
    from pulsarfeatureextractor_spark.operators.windows import ffill

    stream = stream_events_from_table(spark, events_dir)
    got = _run(streaming_ffill_state(stream), "t_ffill", spark, str(tmp_path))

    e = spark.read.parquet(events_dir)
    v = e.withColumn("pval", F.when(F.col("event_type") == "purchase", F.col("value")))
    batch = (ffill(v, "user_id", "ts", ["pval"])
             .select("user_id", "event_id", "ts", F.col("pval").alias("pval_ffill"))
             .toPandas())
    a, b = _canon(got), _canon(batch)
    assert len(a) == len(b)
    assert np.allclose(a["pval_ffill"].fillna(-1), b["pval_ffill"].fillna(-1))


def test_streaming_asof_matches_batch_asof(spark, events_dir, tmp_path):
    from pulsarfeatureextractor_spark.operators.asof import asof_join
    from pulsarfeatureextractor_spark.streaming.mirror import streaming_asof_state

    # the same events with every third purchase value NULL: the as-of
    # value is the matched row's, so a NULL must not be filled from an
    # older purchase on either side
    e = spark.read.parquet(events_dir)
    nulled_dir = str(tmp_path / "events_null_values")
    e.withColumn("value", F.when(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 3 == 0),
        F.lit(None)).otherwise(F.col("value"))
    ).coalesce(1).write.parquet(nulled_dir)

    n_null = []
    for name, src in (("t_asof", events_dir), ("t_asof_null", nulled_dir)):
        stream = stream_events_from_table(spark, src)
        got = _run(streaming_asof_state(stream), name, spark, str(tmp_path))

        e = spark.read.parquet(src)
        views = e.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
        purchases = e.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("value").alias("last_purchase_value")
        )
        batch = asof_join(
            views, purchases, on="ts", by="user_id",
            value_cols=["last_purchase_value"], strategy="window",
        ).toPandas()
        # independent reference: pandas merge_asof (matched row's value)
        ref = pd.merge_asof(
            views.toPandas().sort_values("ts", kind="mergesort"),
            purchases.toPandas().sort_values("ts", kind="mergesort"),
            on="ts", by="user_id",
        )
        a, b, c = _canon(got), _canon(batch), _canon(ref)
        assert len(a) == len(b) == len(c)
        for other in (b, c):
            assert np.allclose(a["last_purchase_value"].fillna(-9e9),
                               other["last_purchase_value"].fillna(-9e9))
        n_null.append(int(a["last_purchase_value"].isna().sum()))
    assert n_null[1] > n_null[0]  # the NULL values were matched


def test_streaming_lyon_features_match_batch(spark, tmp_path):
    from pulsarfeatureextractor_spark.functions.moments import with_lyon_features
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    seq_dir = str(tmp_path / "seqs")
    synthetic_sequences(spark, 300, seed=9).write.parquet(seq_dir)
    static = spark.read.parquet(seq_dir)
    stream = spark.readStream.schema(static.schema).parquet(seq_dir)
    got = _run(streaming_lyon_features(stream), "t_lyon", spark, str(tmp_path))
    batch = with_lyon_features(static).toPandas()
    cols = ["doc_id", "n_tok", "mean", "stdev", "skew", "kurt"]
    a, b = _canon(got[cols]), _canon(batch[cols])
    assert np.allclose(a[["mean", "stdev", "skew", "kurt"]],
                       b[["mean", "stdev", "skew", "kurt"]], rtol=1e-9)


def test_streaming_minhash_matches_batch(spark, tmp_path):
    from pulsarfeatureextractor_spark.operators.dedup import minhash_signatures
    from pulsarfeatureextractor_spark.sources.readers import load_table
    from pulsarfeatureextractor_spark.streaming.mirror import (
        streaming_minhash_signatures,
    )

    docs_dir = str(tmp_path / "docs")
    batch_docs = load_table(spark, SF, "documents").select("doc_id", "text")
    batch_docs.coalesce(1).write.parquet(docs_dir)

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(docs_dir))
    got = _run(streaming_minhash_signatures(stream), "t_minhash", spark,
               str(tmp_path))
    want = minhash_signatures(spark.read.parquet(docs_dir)).toPandas()
    got = got.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert all(
        list(a) == list(b) for a, b in zip(got["signature"], want["signature"])
    )


def test_stream_snapshot_table_matches_batch(spark, tmp_path):
    """Streaming tail of the snapshot table == full batch read after
    availableNow replay (append-only table)."""
    from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable
    from pulsarfeatureextractor_spark.streaming.mirror import stream_snapshot_table
    from pyspark.sql import types as T

    tbl = IcebergLikeTable(str(tmp_path / "tbl"))
    tbl.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    tbl.write(
        spark.createDataFrame([(3, "c")], "k long, v string"), mode="append"
    )
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    stream = stream_snapshot_table(spark, tbl.path, schema)
    q = (
        stream.writeStream.format("memory")
        .queryName("t_snap_tail")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["k"], r["v"]) for r in spark.table("t_snap_tail").collect()
    )
    want = sorted((r["k"], r["v"]) for r in tbl.read(spark).collect())
    assert got == want == [(1, "a"), (2, "b"), (3, "c")]


def test_streaming_gopher_rules_match_batch(spark, tmp_path):
    """gopher_rules is a stateless scan-fused projection, so it is
    stream-safe by construction — the same call works on a readStream
    frame and matches the batch output row-for-row."""
    from pulsarfeatureextractor_spark.functions.text import gopher_rules
    from pulsarfeatureextractor_spark.sources.readers import load_table

    docs_dir = str(tmp_path / "docs_g")
    load_table(spark, SF, "documents").select(
        "doc_id", "text"
    ).coalesce(1).write.parquet(docs_dir)

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(docs_dir))
    got = _canon(_run(gopher_rules(stream, min_stop_hits=1), "t_gopher",
                      spark, str(tmp_path)))
    want = _canon(
        gopher_rules(spark.read.parquet(docs_dir),
                     min_stop_hits=1).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_streaming_blocklist_match_batch(spark, tmp_path):
    """blocklist_filter is stateless and scan-fused like gopher_rules,
    so the same call on a readStream frame matches batch row-for-row."""
    from pulsarfeatureextractor_spark.functions.text import blocklist_filter
    from pulsarfeatureextractor_spark.sources.readers import load_table

    docs_dir = str(tmp_path / "docs_b")
    load_table(spark, SF, "documents").select(
        "doc_id", "text"
    ).coalesce(1).write.parquet(docs_dir)

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(docs_dir))
    got = _canon(_run(blocklist_filter(stream, ["big", "slow"]),
                      "t_blk", spark, str(tmp_path)))
    want = _canon(
        blocklist_filter(
            spark.read.parquet(docs_dir), ["big", "slow"]
        ).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_streaming_dsir_scoring_matches_batch(spark, tmp_path):
    """DSIR scoring of a STREAM against a pre-trained (static)
    log-ratio model is a stream-static broadcast join + a streaming
    aggregate — the production shape: train the model on yesterday's
    corpus, score today's crawl as it lands."""
    from pulsarfeatureextractor_spark.functions.dsir import (
        dsir_log_ratios,
        gram_table,
        _bucketed,
    )
    from pulsarfeatureextractor_spark.sources.readers import load_table
    import pyspark.sql.functions as SF_

    docs_dir = str(tmp_path / "docs_d")
    batch = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang"
    )
    batch.coalesce(1).write.parquet(docs_dir)
    static = spark.read.parquet(docs_dir)
    lr = dsir_log_ratios(static.where("lang = 'en'"), static)
    lr.persist().count()  # pin the static model

    def score_stream(df):
        rg = _bucketed(gram_table(df), "dsir")
        scored = rg.join(SF_.broadcast(lr), ["bucket"], "left")
        return scored.groupBy("doc_id").agg(
            SF_.count(SF_.lit(1)).alias("n_grams"),
            SF_.round(SF_.sum("lr").cast("double"), 6).alias("dsir_logw"),
        )

    stream = (spark.readStream.schema("doc_id long, text string, lang string")
              .parquet(docs_dir))
    got = _canon(_run(score_stream(stream), "t_dsir", spark,
                      str(tmp_path), mode="complete"))
    want = _canon(score_stream(static).toPandas())
    lr.unpersist()
    pd.testing.assert_frame_equal(got, want)


def test_streaming_nb_scoring_matches_batch(spark, tmp_path):
    """NB classification of a STREAM against a pre-trained (static)
    model table is a stream-static join + one streaming (doc, label)
    aggregate — train on yesterday's labeled corpus, score today's
    crawl as it lands.  (The final argmax joins an aggregate, which
    streaming forbids mid-query — production runs it in foreachBatch
    or downstream; the scoring kernel is what must match batch.)"""
    from pulsarfeatureextractor_spark.functions.nb import train_nb, _words
    from pulsarfeatureextractor_spark.sources.readers import load_table
    import pyspark.sql.functions as SF_

    docs_dir = str(tmp_path / "docs_nb")
    load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang"
    ).coalesce(1).write.parquet(docs_dir)
    static = spark.read.parquet(docs_dir)
    model = train_nb(static, "text", "lang")
    model.persist().count()  # pin the static model

    def score_stream(df):
        toks = _words(df, "text").select(
            "doc_id", SF_.explode("__nb_ws").alias("token")
        )
        return toks.join(SF_.broadcast(model), "token").groupBy(
            "doc_id", "label"
        ).agg(
            SF_.sum("log_cond").cast("double").alias("s"),
            SF_.count(SF_.lit(1)).alias("n"),
        )

    stream = (spark.readStream.schema("doc_id long, text string, lang string")
              .parquet(docs_dir))
    got = _canon(_run(score_stream(stream), "t_nb", spark,
                      str(tmp_path), mode="complete"))
    want = _canon(score_stream(static).toPandas())
    model.unpersist()
    pd.testing.assert_frame_equal(got, want)


def test_streaming_dedup_against_matches_batch(spark, tmp_path):
    """Cross-corpus exact dedup of a STREAM against the static digest
    reference is a stream-static LEFT ANTI join — dedup today's crawl
    against the ingested corpus as it lands.  availableNow replay
    equals the batch anti join row-for-row."""
    from pulsarfeatureextractor_spark.operators.dedup import dedup_against
    from pulsarfeatureextractor_spark.sources.readers import load_table

    docs_dir = str(tmp_path / "docs_dd")
    d = load_table(spark, SF, "documents").select("doc_id", "text")
    # reference = every third doc's text; the stream replays ALL docs
    ref = d.where(F.col("doc_id") % 3 == 0).select(
        F.md5(F.col("text")).alias("digest")
    )
    ref.persist().count()
    d.coalesce(1).write.parquet(docs_dir)

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(docs_dir))
    got = _canon(_run(dedup_against(stream, ref), "t_dd", spark,
                      str(tmp_path)))
    want = _canon(dedup_against(spark.read.parquet(docs_dir), ref).toPandas())
    ref.unpersist()
    pd.testing.assert_frame_equal(got, want)
