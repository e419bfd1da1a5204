"""End-to-end job CLI: snapshot in -> resumable lineage-carrying features out."""

import os
import subprocess
import sys

import pytest

from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable


def _lineage(out):
    """Lineage + metrics of the head snapshot of a job's output table."""
    return IcebergLikeTable(os.path.join(out, "_table")).manifest()["metrics"]


@pytest.fixture(scope="module")
def table_dir(spark, tmp_path_factory):
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    d = str(tmp_path_factory.mktemp("job") / "table")
    IcebergLikeTable(d).write(
        synthetic_sequences(spark, 500, seed=13), partition_by=["source"]
    )
    return d


def test_job_end_to_end(spark, table_dir, tmp_path):
    sys.path.insert(0, "/root/repo/jobs")
    import extract_features

    out = str(tmp_path / "out")
    res = extract_features.main([
        "--input", table_dir, "--output", out,
        "--asof", "2024-01-20T00:00:00", "--scores",
        "--batch-size", "5",
    ])
    assert len(res["written"]) > 0
    feat = spark.read.parquet(out)
    cols = set(feat.columns)
    assert {"mean", "stdev", "skew", "kurt", "sin_chi2", "session_id",
            "f_mean_obs", "mean_lag1"} <= cols
    assert "tokens" not in cols
    # leakage guard: nothing after the as-of instant
    from pyspark.sql import functions as F
    assert feat.where(F.col("event_time") > "2024-01-20T00:00:00").count() == 0
    # the output table's manifest names the input snapshot
    side = _lineage(out)
    assert side["snapshot_id"] == 1 and side["input_manifest"]

    # rerun: everything skipped (the output manifest is complete)
    res2 = extract_features.main([
        "--input", table_dir, "--output", out,
        "--asof", "2024-01-20T00:00:00", "--scores",
        "--batch-size", "5",
    ])
    assert res2["written"] == []


def test_job_refuses_stale_resume(spark, tmp_path, monkeypatch):
    """A kill-and-resume with the same arguments resumes; a rerun into
    the same output after a new snapshot (or with another feature set)
    must fail instead of skipping every partition and keeping the old
    rows."""
    import functools

    from pulsarfeatureextractor_spark.sinks import partitioned
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import extract_features

    d = str(tmp_path / "table")
    table = IcebergLikeTable(d)
    table.write(synthetic_sequences(spark, 300, seed=21), partition_by=["source"])
    out = str(tmp_path / "out")
    args = ["--input", d, "--output", out, "--batch-size", "8"]

    run = partitioned.run_partitioned_job
    monkeypatch.setattr(partitioned, "run_partitioned_job",
                        functools.partial(run, fail_after_batches=1))
    with pytest.raises(RuntimeError, match="simulated kill"):
        extract_features.main(args)
    monkeypatch.setattr(partitioned, "run_partitioned_job", run)
    res = extract_features.main(args)
    assert len(res["skipped"]) == 8 and len(res["written"]) == 12
    assert spark.read.parquet(out).count() == 300

    table.write(synthetic_sequences(spark, 300, seed=22), partition_by=["source"])
    with pytest.raises(ValueError, match="snapshot_id.*new --output"):
        extract_features.main(args)
    with pytest.raises(ValueError, match="feature_set"):
        extract_features.main([*args, "--snapshot", "1", "--feature-set", "stats"])
    # nothing was rewritten: the output still holds snapshot 1's rows
    assert spark.read.parquet(out).count() == 300
    assert extract_features.main([*args, "--snapshot", "1"])["written"] == []


def test_job_reads_the_snapshot_its_lineage_names(spark, tmp_path, monkeypatch):
    """Without --snapshot the scan is pinned to the head whose manifest
    the lineage records: a commit landing in between changes neither."""
    import argparse

    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import extract_features

    table = IcebergLikeTable(str(tmp_path / "table"))
    df = synthetic_sequences(spark, 50, seed=3)
    table.write(df)
    seen = []
    real = IcebergLikeTable.read

    def read(self, spark, snapshot_id=None, *a, **kw):
        table.write(df)  # the concurrent commit
        seen.append(snapshot_id)
        return real(self, spark, snapshot_id, *a, **kw)

    monkeypatch.setattr(IcebergLikeTable, "read", read)
    args = argparse.Namespace(input=table.path, snapshot=None, asof=None,
                              scores=False, feature_set=None, gap_seconds=1800.0)
    feats, lineage = extract_features.build_pipeline(spark, args)
    assert seen == [lineage["snapshot_id"]] == [1]
    assert feats.count() == 50


@pytest.mark.slow
def test_job_via_spark_submit(table_dir, tmp_path):
    """The literal deployment path: spark-submit --py-files."""
    spark_submit = "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this machine")
    out = str(tmp_path / "out")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "jobs/extract_features.py",
         "--input", table_dir, "--output", out, "--gap-seconds", "1800"],
        capture_output=True, text=True, timeout=420, cwd="/root/repo", env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert '"status": "ok"' in proc.stdout
    assert os.path.isdir(out)


def test_curate_job_end_to_end(spark, tmp_path):
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    src = "/root/testdata/sf0.01/documents.parquet"
    out = str(tmp_path / "curated")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "20", "--split-weights", "train:0.8,val:0.1,test:0.1",
    ])
    assert len(res["written"]) > 0
    cur = spark.read.parquet(out)
    cols = set(cur.columns)
    assert {"doc_id", "text", "group_size", "split"} <= cols
    # canonical-keep: every doc appears once, splits partition the output
    assert cur.select("doc_id").distinct().count() == cur.count()
    splits = {r["split"] for r in cur.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    # lineage sidecar carries the per-stage survivor metrics
    side = _lineage(out)
    m = side["metrics"]
    assert m["docs_in"] >= m["docs_after_quality"] >= m["docs_canonical"] > 0
    assert m["dropped_dup"] > 0  # the fixtures plant near-dups


def test_curate_job_model_filter_stage(spark, tmp_path):
    """Round-4: the optional learned-quality gate (--model-threshold)
    drops exactly the docs whose fixture logit is below the threshold,
    and the lineage metrics account for them separately."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    from pulsarfeatureextractor_spark.functions.inference import (
        QUALITY_FEATURES,
        quality_model,
        score_with_model,
    )
    from pulsarfeatureextractor_spark.functions.text import (
        with_quality_metrics,
        words_col,
    )
    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.01/documents.parquet"
    out = str(tmp_path / "curated_model")
    threshold = 0.0
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "20", "--model-threshold", str(threshold),
    ])
    assert len(res["written"]) > 0
    cur = spark.read.parquet(out)
    # independent expectation: which docs pass length + model gates
    docs = spark.read.parquet(src)
    lengthy = docs.where(F.size(words_col("text")) >= 20)
    scored = score_with_model(
        with_quality_metrics(lengthy), QUALITY_FEATURES, quality_model()
    )
    expect_pass = scored.where(F.col("model_score") >= threshold)
    n_len, n_pass = lengthy.count(), expect_pass.count()
    assert 0 < n_pass < n_len  # the gate actually splits the corpus
    side = _lineage(out)
    m = side["metrics"]
    assert m["dropped_model"] == n_len - n_pass
    assert m["docs_after_quality"] == n_pass
    # every surviving doc's id is in the model-pass set
    pass_ids = {r["doc_id"] for r in expect_pass.select("doc_id").collect()}
    out_ids = {r["doc_id"] for r in cur.select("doc_id").collect()}
    assert out_ids <= pass_ids


def test_curate_job_expectations_gate(spark, tmp_path):
    """Round-4: the --expectations data-contract gate.  A violated
    contract aborts BEFORE any curation spend (fail) or records the
    violation in lineage and continues (warn); a satisfied contract
    records passing metrics."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    src = "/root/testdata/sf0.01/documents.parquet"

    # the fixture corpus has unique non-null doc_ids -> contract passes
    out_ok = str(tmp_path / "cur_ok")
    res = curate_corpus.main([
        "--input", src, "--output", out_ok,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--expectations", "not_null:text;unique:doc_id",
    ])
    assert len(res["written"]) > 0
    side = _lineage(out_ok)
    assert side["contract"]["passed"] is True
    assert side["contract"]["metrics"]["text_null_count"] == 0

    # an impossible range violates -> fail action aborts with the rule name
    with pytest.raises(RuntimeError, match="in_range"):
        curate_corpus.main([
            "--input", src, "--output", str(tmp_path / "cur_fail"),
            "--expectations", "in_range:n_chars:0:1",
        ])

    # warn action: violation recorded, pipeline still runs
    out_warn = str(tmp_path / "cur_warn")
    res = curate_corpus.main([
        "--input", src, "--output", out_warn,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--expectations", "in_range:n_chars:0:1",
        "--expectations-action", "warn",
    ])
    assert len(res["written"]) > 0
    side = _lineage(out_warn)
    assert side["contract"]["passed"] is False
    assert any("in_range" in f for f in side["contract"]["failures"])


def test_curate_job_mix_stage(spark, tmp_path):
    """Round-4: the --mix-weights recipe stage.  Only recipe sources
    survive, up-sampled docs repeat with dense copy_ix, every copy of
    a doc lands in ONE split (no leakage through epochs), and lineage
    records available/target/achieved tokens per source."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.01/documents.parquet"
    out = str(tmp_path / "cur_mix")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--mix-weights", "src0:3,src1:1", "--mix-budget", "30000",
        "--mix-max-rate", "4.0",
    ])
    assert len(res["written"]) > 0
    cur = spark.read.parquet(out)
    assert {r["source"] for r in cur.select("source").distinct().collect()} <= {
        "src0", "src1"
    }
    assert "copy_ix" in cur.columns
    # dense 0-based epochs per doc; all copies in one split
    per_doc = (
        cur.groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.collect_set("copy_ix").alias("ixs"),
            F.countDistinct("split").alias("nsplit"),
        )
        .collect()
    )
    assert any(r["n"] > 1 for r in per_doc)  # src0 is up-sampled
    for r in per_doc:
        assert sorted(r["ixs"]) == list(range(r["n"]))
        assert r["nsplit"] == 1
    side = _lineage(out)
    mix = side["mix"]
    assert set(mix["achieved_tokens"]) <= {"src0", "src1"}
    assert mix["target_tokens"]["src0"] == 22500.0
    # achieved within sampling noise of target (25 docs/source fixture)
    for s in mix["achieved_tokens"]:
        assert abs(mix["achieved_tokens"][s] - mix["target_tokens"][s]) / mix[
            "target_tokens"
        ][s] < 0.35
    m = side["metrics"]
    assert m["rows_out"] != m["docs_canonical"]
    # --mix-weights without --mix-budget refuses
    with pytest.raises(ValueError, match="mix-budget"):
        curate_corpus.main([
            "--input", src, "--output", str(tmp_path / "cur_mix_bad"),
            "--mix-weights", "src0:1",
        ])


def test_parse_expectations_mini_language():
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    rules = curate_corpus.parse_expectations(
        "not_null:text;unique:doc_id;unique_approx:source;"
        "in_range:n_chars:0:1000000;matches:lang:^[a-z]{2}$;"
        "in_set:lang:en,fr,de"
    )
    assert [r.name for r in rules] == [
        "not_null(text)", "unique(doc_id)", "unique_approx(source)",
        "in_range(n_chars, 0.0, 1000000.0)",
        "matches(lang, '^[a-z]{2}$')",
        "in_set(lang, ['de', 'en', 'fr'])",
    ]
    with pytest.raises(ValueError, match="unknown expectation"):
        curate_corpus.parse_expectations("bogus:x")


def test_curate_job_perplexity_filter_stage(spark, tmp_path):
    """Round-4: the optional CCNet-style LM gate (--max-ppl) drops
    exactly the docs whose self-trained bigram perplexity exceeds the
    threshold, accounted separately in the lineage metrics."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    from pulsarfeatureextractor_spark.functions.lm import with_lm_perplexity
    from pulsarfeatureextractor_spark.functions.text import words_col
    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.01/documents.parquet"
    docs = spark.read.parquet(src)
    lengthy = docs.where(F.size(words_col("text")) >= 20)
    ppl = with_lm_perplexity(lengthy, "text", "doc_id")
    # pick a threshold that actually splits the corpus: the median ppl
    thr = ppl.approxQuantile("lm_ppl", [0.5], 0.0)[0]
    expect_pass = ppl.where(F.col("lm_ppl") <= thr)
    n_len, n_pass = lengthy.count(), expect_pass.count()
    assert 0 < n_pass < n_len

    out = str(tmp_path / "curated_ppl")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "20", "--max-ppl", str(thr),
    ])
    assert len(res["written"]) > 0
    side = _lineage(out)
    m = side["metrics"]
    assert m["dropped_perplexity"] == n_len - n_pass
    assert m["docs_after_quality"] == n_pass
    pass_ids = {r["doc_id"] for r in expect_pass.select("doc_id").collect()}
    cur = spark.read.parquet(out)
    out_ids = {r["doc_id"] for r in cur.select("doc_id").collect()}
    assert out_ids <= pass_ids


def test_curate_job_boilerplate_stage(spark, tmp_path):
    """Round-4: --boilerplate-ratio cleans the corpus BEFORE filtering;
    output text contains no token from the boilerplate vocabulary."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    from pulsarfeatureextractor_spark.functions.text import boilerplate_tokens

    src = "/root/testdata/sf0.01/documents.parquet"
    docs = spark.read.parquet(src)
    frequent = {r["token"]
                for r in boilerplate_tokens(docs, ratio=(79, 100)).collect()}
    assert frequent  # the fixture corpus has >=79%-DF tokens

    out = str(tmp_path / "curated_bp")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "10", "--boilerplate-ratio", "79:100",
    ])
    assert len(res["written"]) > 0
    cur = spark.read.parquet(out)
    texts = [r["text"] for r in cur.select("text").collect()]
    assert texts
    for t in texts:
        assert not (set(t.split(" ")) & frequent)


def test_curate_job_mix_temperature_stage(spark, tmp_path):
    """--mix-temperature: the recipe derives its weights from the
    corpus's own token distribution (alpha-sampling), records them in
    lineage, and refuses to combine with --mix-weights."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    src = "/root/testdata/sf0.01/documents.parquet"
    out = str(tmp_path / "cur_mix_temp")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--mix-temperature", "0.3", "--mix-budget", "30000",
    ])
    assert len(res["written"]) > 0
    side = _lineage(out)
    mix = side["mix"]
    assert mix["temperature"] == 0.3
    # derived weights: normalized, one per surviving source
    assert abs(sum(mix["weights"].values()) - 1.0) < 1e-9
    assert set(mix["achieved_tokens"]) <= set(mix["weights"])
    with pytest.raises(ValueError, match="exclusive"):
        curate_corpus.main([
            "--input", src, "--output", str(tmp_path / "x"),
            "--mix-temperature", "0.3", "--mix-weights", "src0:1",
            "--mix-budget", "1000",
        ])


def test_curate_job_model_percentile_gate(spark, tmp_path):
    """--model-percentile: keeps ~the top P fraction by model score
    (approx-quantile cutoff), and the threshold/percentile flags are
    mutually exclusive."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    from pyspark.sql import functions as F
    from pulsarfeatureextractor_spark.functions.text import words_col

    src = "/root/testdata/sf0.01/documents.parquet"
    out = str(tmp_path / "cur_pct")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "20",
        "--train-quality-source", "src0",
        "--model-percentile", "0.5",
    ])
    assert len(res["written"]) > 0
    m = _lineage(out)["metrics"]
    n_len = (
        spark.read.parquet(src)
        .where(F.size(words_col("text")) >= 20)
        .count()
    )
    kept = m["docs_after_quality"]
    # top-50% gate: kept fraction within approx-quantile + tie slack
    assert 0.35 * n_len <= kept <= 0.65 * n_len, (kept, n_len)
    with pytest.raises(SystemExit):
        curate_corpus.main([
            "--input", src, "--output", str(tmp_path / "x"),
            "--model-threshold", "0.0", "--model-percentile", "0.5",
        ])
    with pytest.raises(SystemExit):
        curate_corpus.main([
            "--input", src, "--output", str(tmp_path / "y"),
            "--model-percentile", "1.5",
        ])


def test_curate_job_percentile_gate_empty_stage(spark, tmp_path):
    """--model-percentile on a stage whose upstream filters dropped
    every doc: approxQuantile returns [] — the job must keep nothing,
    not crash with IndexError."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    src = "/root/testdata/sf0.01/documents.parquet"
    out = str(tmp_path / "cur_pct_empty")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "1000000",  # drops every document
        "--model-percentile", "0.5",
    ])
    assert res["written"] == [] or all(
        spark.read.parquet(out).count() == 0 for _ in [0]
    )


def test_curate_job_line_dedup_and_blocklist(spark, tmp_path):
    """--line-dedup-min-count rewrites text before all filters;
    --blocklist drops into the quality bucket; the ledger still sums."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus
    from pyspark.sql import functions as F

    src = str(tmp_path / "docs_lines")
    rows = []
    for i in range(40):
        # plant a duplicated line in even docs; odd docs unique + one
        # blocklisted word in docs 1,3,5
        dup = "common boiler line"
        body = " ".join(f"tok{i}w{j}" for j in range(30))
        text = (dup + "\n" + body) if i % 2 == 0 else body
        if i in (1, 3, 5):
            text += " badword"
        rows.append((i, text, "en", "web"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "curated_lines")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.99",
        "--min-tokens", "5",
        "--line-dedup-min-count", "2",
        "--blocklist", "badword,otherbad",
        "--split-weights", "train:1.0",
    ])
    assert len(res["written"]) > 0
    cur = spark.read.parquet(out)
    # the duplicated line is gone from every survivor
    assert cur.where(F.col("text").contains("common boiler line")).count() == 0
    # the three blocklisted docs were dropped
    ids = {r["doc_id"] for r in cur.select("doc_id").collect()}
    assert ids.isdisjoint({1, 3, 5})
    side = _lineage(out)
    m = side["metrics"]
    assert m["dropped_quality"] >= 3  # blocklist drops land here
    assert (
        m["docs_in"] - m["dropped_quality"] - m["dropped_model"]
        - m["dropped_perplexity"] - m["dropped_repeated_spans"]
        - m["dropped_dup"] - m["dropped_dsir"]
        == m["rows_out"]
    )


def test_curate_job_round5_stages(spark, tmp_path):
    """--gopher + --max-dup-fraction + --dsir-target-lang: the three
    round-5 stages chained through the CLI, each reporting its drops
    in the lineage metrics."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    src = "/root/testdata/sf0.01/documents.parquet"
    out = str(tmp_path / "curated_r5")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "20",
        "--gopher", "--gopher-min-stop-hits", "1",
        "--max-dup-fraction", "0.98",
        "--dsir-target-lang", "en", "--dsir-frac", "0.5",
        "--split-weights", "train:0.8,val:0.1,test:0.1",
    ])
    assert len(res["written"]) > 0
    cur = spark.read.parquet(out)
    assert cur.select("doc_id").distinct().count() == cur.count()
    side = _lineage(out)
    m = side["metrics"]
    # every stage fired and the ledger adds up
    assert m["dropped_quality"] > 0          # gopher folded in here
    assert m["dropped_repeated_spans"] >= 0
    assert m["dropped_dsir"] > 0             # top-50% per source cut
    assert (
        m["docs_in"] - m["dropped_quality"] - m["dropped_model"]
        - m["dropped_perplexity"] - m["dropped_repeated_spans"]
        - m["dropped_dup"] - m["dropped_dsir"]
        == m["rows_out"]
    )
    # determinism: rerun writes the identical doc set
    out2 = str(tmp_path / "curated_r5b")
    curate_corpus.main([
        "--input", src, "--output", out2,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "20",
        "--gopher", "--gopher-min-stop-hits", "1",
        "--max-dup-fraction", "0.98",
        "--dsir-target-lang", "en", "--dsir-frac", "0.5",
        "--split-weights", "train:0.8,val:0.1,test:0.1",
    ])
    ids1 = sorted(r["doc_id"] for r in cur.select("doc_id").collect())
    ids2 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(out2).select("doc_id").collect()
    )
    assert ids1 == ids2


def test_curate_job_nb_langid_and_percentile_by(spark, tmp_path):
    """--nb-keep-lang trains the NB langid in-engine and keeps only
    docs PREDICTED as the target language (dropped_langid counts the
    cut); --model-percentile-by applies the exact per-group rank gate
    instead of the global sketch cutoff.  The lineage ledger still
    sums to rows_out with both new stages on."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    src = "/root/testdata/sf0.01/documents.parquet"
    out = str(tmp_path / "cur_nb")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "5",
        "--nb-keep-lang", "en",
        "--model-percentile", "0.5",
        "--model-percentile-by", "source",
    ])
    assert len(res["written"]) > 0
    m = _lineage(out)["metrics"]
    # the planted corpus is majority-en; the learned gate must both
    # keep a nontrivial en core and cut a nontrivial non-en share
    assert m["dropped_langid"] > 0
    assert m["docs_after_quality"] > 0
    assert (
        m["docs_in"] - m["dropped_quality"] - m["dropped_langid"]
        - m["dropped_model"] - m["dropped_perplexity"]
        - m["dropped_repeated_spans"] - m["dropped_dup"]
        - m["dropped_dsir"]
        == m["rows_out"]
    )
    # per-group gate kept ~half of each source's survivors (ties kept)
    assert m["dropped_model"] > 0
    # determinism: the same invocation reproduces the ledger exactly
    res2 = curate_corpus.main([
        "--input", src, "--output", str(tmp_path / "cur_nb2"),
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "5",
        "--nb-keep-lang", "en",
        "--model-percentile", "0.5",
        "--model-percentile-by", "source",
    ])
    m2 = _lineage(str(tmp_path / "cur_nb2"))["metrics"]
    assert m == m2


def test_curate_job_percentile_by_requires_percentile(tmp_path):
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    with pytest.raises(SystemExit):
        curate_corpus.main([
            "--input", "/root/testdata/sf0.01/documents.parquet",
            "--output", str(tmp_path / "z"),
            "--model-percentile-by", "source",
        ])


def test_curate_job_dedup_against_stage(spark, tmp_path):
    """--dedup-against: crawl docs whose raw text already exists in
    the ingested digest set are dropped FIRST and counted as
    dropped_ingested; the ledger still sums to rows_out."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.01/documents.parquet"
    # ingested reference = digests of every doc with doc_id < 250
    ref_path = str(tmp_path / "ingested_digests")
    (
        spark.read.parquet(src)
        .where(F.col("doc_id") < 250)
        .select(F.md5(F.col("text")).alias("digest"))
        .write.parquet(ref_path)
    )
    out = str(tmp_path / "cur_dd")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "5",
        "--dedup-against", ref_path,
    ])
    assert len(res["written"]) > 0
    m = _lineage(out)["metrics"]
    # every doc_id < 250 is digested in the reference -> all dropped
    assert m["dropped_ingested"] >= 250
    assert (
        m["docs_in"] - m["dropped_ingested"] - m["dropped_quality"]
        - m["dropped_langid"] - m["dropped_model"]
        - m["dropped_perplexity"] - m["dropped_repeated_spans"]
        - m["dropped_dup"] - m["dropped_dsir"]
        == m["rows_out"]
    )


def test_curate_job_fuzzy_dedup_stage(spark, tmp_path):
    """--fuzzy-dedup-ref: crawl docs with a NEAR-duplicate in the
    prebuilt MinHash index are dropped (banding read from the index's
    TBLPROPERTIES); ledger sums with both ingest-dedup counters."""
    sys.path.insert(0, "/root/repo/jobs")
    import curate_corpus

    from pyspark.sql import functions as F
    from pulsarfeatureextractor_spark.operators.dedup import (
        prepare_minhash_reference,
    )

    src = "/root/testdata/sf0.01/documents.parquet"
    ref = spark.read.parquet(src).where(F.col("doc_id") % 3 == 0)
    prepare_minhash_reference(
        ref, "cli_fuzzy_ref_tbl", str(tmp_path / "fz") + "/t", n_buckets=8
    )
    out = str(tmp_path / "cur_fz")
    res = curate_corpus.main([
        "--input", src, "--output", out,
        "--pair-source", "ngram", "--dup-threshold", "0.5",
        "--min-tokens", "5",
        "--fuzzy-dedup-ref", "cli_fuzzy_ref_tbl",
        "--fuzzy-dedup-threshold", "0.5",
    ])
    assert len(res["written"]) > 0
    m = _lineage(out)["metrics"]
    # every doc_id % 3 == 0 is its own exact member of the index ->
    # at least those drop (est 1.0), plus genuine near-dups
    assert m["dropped_ingested_fuzzy"] >= 150
    assert (
        m["docs_in"] - m["dropped_ingested"] - m["dropped_ingested_fuzzy"]
        - m["dropped_quality"] - m["dropped_langid"] - m["dropped_model"]
        - m["dropped_perplexity"] - m["dropped_repeated_spans"]
        - m["dropped_dup"] - m["dropped_dsir"]
        == m["rows_out"]
    )
