"""Round-2 regression pins: the defects VERDICT.md / ADVICE.md called
out, each with the failing shape it used to mishandle.

- Arrow list arrays whose NULL slots own a nonzero extent (legal
  layout; crashed / could misalign the flat-buffer kernels)
- grouped-moment power sums beyond int64 (silent numpy wraparound)
- NULL / boolean partition values in the resumable sink (silent data
  loss: key recorded done, rows never written)
- ngram-jaccard document-frequency cap (the 100 TB stop-shingle
  quadratic blowup)
- single-pass Arrow simhash == 64-fold SQL simhash
- manifest file pruning actually wired into IcebergLikeTable.read
- hash-id vocab tokenization: shuffle-free plan
- Lyon-8 two-curve composition
- CSV/ARFF interchange writers (A11)
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.oracle import lyon_moments_oracle


# ---------------------------------------------------------------- moments

def test_moments_list_array_null_slot_with_extent():
    from pulsarfeatureextractor_spark.functions.moments import (
        moments_list_array,
        moments_rows,
    )

    # row1 is NULL but its slot spans values[3:8] — a legal Arrow layout
    values = pa.array([1, 2, 3, 99, 99, 99, 99, 99, 4, 5], type=pa.int32())
    offsets = pa.array([0, 3, 8, 10], type=pa.int32())
    arr = pa.ListArray.from_arrays(
        offsets, values, mask=pa.array([False, True, False])
    )
    got = moments_list_array(arr)
    # same power-sum kernel over the COMPACTED buffer (null slot empty)
    from pulsarfeatureextractor_spark.functions.moments import moments_segments

    want = moments_segments(
        np.array([1, 2, 3, 4, 5], dtype=np.float64),
        starts=np.array([0, 3, 3]), counts=np.array([3, 0, 2]),
    )
    assert np.array_equal(got, want)
    assert (got[1] == 0.0).all()
    # and allclose vs the independent centered-moment oracle
    loose = moments_rows([np.array([1, 2, 3]), None, np.array([4, 5])])
    assert np.allclose(got, loose, rtol=1e-12)


def test_moments_segments_gap_never_leaks():
    from pulsarfeatureextractor_spark.functions.moments import (
        moments_rows,
        moments_segments,
    )

    # buffer has poison values in the gaps; segments skip them
    buf = np.array([1, 2, 3, 1e30, -1e30, 4, 5, 6, 1e30], dtype=np.float64)
    got = moments_segments(buf, starts=np.array([0, 5]), counts=np.array([3, 3]))
    want = moments_segments(
        np.array([1, 2, 3, 4, 5, 6], dtype=np.float64),
        starts=np.array([0, 3]), counts=np.array([3, 3]),
    )
    assert np.array_equal(got, want)
    assert np.allclose(
        got, moments_rows([np.array([1, 2, 3]), np.array([4, 5, 6])]), rtol=1e-12
    )


def test_scores_list_array_null_slot_with_extent():
    from pulsarfeatureextractor_spark.functions.scores import (
        scores_list_array,
        scores_matrix,
    )

    rng = np.random.default_rng(3)
    row0 = rng.integers(0, 256, 64)
    row2 = rng.integers(0, 256, 64)
    poison = np.full(16, 9999)
    values = pa.array(
        np.concatenate([row0, poison, row2]).astype(np.int32), type=pa.int32()
    )
    offsets = pa.array([0, 64, 80, 144], type=pa.int32())
    arr = pa.ListArray.from_arrays(
        offsets, values, mask=pa.array([False, True, False])
    )
    got = scores_list_array(arr)
    want = scores_matrix(np.vstack([row0, row2]).astype(np.float64))
    assert np.array_equal(got[[0, 2]], want)
    assert (got[1] == 0.0).all()


def test_grouped_moments_exact_beyond_int64(spark):
    from pulsarfeatureextractor_spark.functions.moments import grouped_moments

    # |x| ~ 2^17 --> x^4 ~ 2^68: int64 power sums would wrap silently
    vals = [1 << 17, (1 << 17) - 3, -(1 << 17) + 7, 12345, -54321]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v long")
    [row] = grouped_moments(df, "k", "v").collect()

    n = len(vals)
    s1 = sum(vals)
    s2 = sum(v * v for v in vals)
    s3 = sum(v**3 for v in vals)
    s4 = sum(v**4 for v in vals)
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3c = s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu
    m4c = s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu**4
    assert row["mean"] == mu
    assert row["skew"] == m3c / m2**1.5
    assert row["kurt"] == m4c / (m2 * m2) - 3.0


# ---------------------------------------------------------------- sink

def test_partitioned_sink_null_and_bool_keys(spark, tmp_path):
    from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable
    from pulsarfeatureextractor_spark.sinks.partitioned import (
        _manifest_key,
        run_partitioned_job,
    )

    rows = [
        Row(part="a", flag=True, v=1),
        Row(part="a", flag=False, v=2),
        Row(part=None, flag=True, v=3),
        Row(part=None, flag=False, v=4),
        Row(part="b", flag=None, v=5),
    ]
    df = spark.createDataFrame(rows)
    out = str(tmp_path / "out")
    res = run_partitioned_job(df, out, ["part", "flag"], batch_size=2)
    assert len(res["written"]) == 5
    back = spark.read.parquet(out)
    # NULL and boolean partition values must all round-trip (the round-1
    # key path silently dropped NULL partitions while marking them done)
    assert sorted(r["v"] for r in back.collect()) == [1, 2, 3, 4, 5]
    done = {_manifest_key(f["partition"], ["part", "flag"]) for f in
            IcebergLikeTable(os.path.join(out, "_table")).manifest()["files"]}
    assert "__HIVE_DEFAULT_PARTITION__/true" in done
    assert "b/__HIVE_DEFAULT_PARTITION__" in done
    # resume: nothing left to write, nothing lost
    res2 = run_partitioned_job(df, out, ["part", "flag"])
    assert res2["written"] == [] and len(res2["skipped"]) == 5
    assert sorted(r["v"] for r in spark.read.parquet(out).collect()) == [1, 2, 3, 4, 5]


def test_partitioned_sink_null_key_survives_kill(spark, tmp_path):
    from pulsarfeatureextractor_spark.sinks.partitioned import run_partitioned_job

    rows = [Row(part=None, v=1), Row(part="a", v=2), Row(part="b", v=3)]
    df = spark.createDataFrame(rows)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError):
        run_partitioned_job(df, out, ["part"], batch_size=1,
                            fail_after_batches=1)
    res = run_partitioned_job(df, out, ["part"], batch_size=1)
    assert len(res["skipped"]) == 1
    assert sorted(r["v"] for r in spark.read.parquet(out).collect()) == [1, 2, 3]


# ---------------------------------------------------------------- dedup

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_ngram_jaccard_max_df_same_pairs(spark):
    from pulsarfeatureextractor_spark.operators.dedup import ngram_jaccard_pairs

    rng = np.random.default_rng(5)
    stop = "of the and"  # planted corpus-wide stop-shingle
    texts = []
    for i in range(12):
        words = [f"w{i}_{j}" for j in range(30)]
        texts.append(" ".join(words) + " " + stop)
    # plant one near-dup pair: doc 12 = doc 0 with a one-word change
    texts.append(texts[0].replace("w0_7", "CHANGED"))

    df = _docs(spark, texts)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_df=6).collect()
    }
    assert uncapped == capped == {(0, 12)}


def test_ngram_jaccard_cap_drops_hot_postings(spark):
    from pulsarfeatureextractor_spark.operators.dedup import ngram_jaccard_pairs

    # EVERY doc shares one shingle; docs otherwise disjoint.  Uncapped,
    # the posting self-join on the hot shingle is quadratic in corpus
    # size; capped, the hot posting list is dropped before the join and
    # the pair output is identical (empty).
    stop = "aaa bbb ccc"
    texts = [" ".join(f"u{i}_{j}" for j in range(10)) + " " + stop
             for i in range(40)]
    df = _docs(spark, texts)
    capped = ngram_jaccard_pairs(df, threshold=0.3, max_df=5)
    assert capped.count() == 0
    assert ngram_jaccard_pairs(df, threshold=0.3).count() == 0


def test_simhash_arrow_equals_sql(spark, sf_correct):
    from pulsarfeatureextractor_spark.operators.dedup import simhash_signatures
    from pulsarfeatureextractor_spark.sources.readers import load_table

    d = load_table(spark, sf_correct, "documents")
    arrow = simhash_signatures(d, impl="arrow").orderBy("doc_id").collect()
    sql = simhash_signatures(d, impl="sql").orderBy("doc_id").collect()
    assert [r["simhash"] for r in arrow] == [r["simhash"] for r in sql]


# ---------------------------------------------------------------- manifest

def test_manifest_prune_wired_into_read(spark, tmp_path):
    from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable

    path = str(tmp_path / "tbl")
    t = IcebergLikeTable(path)
    lo = spark.range(0, 100).withColumn("x", F.col("id"))
    hi = spark.range(1000, 1100).withColumn("x", F.col("id"))
    t.write(lo)
    t.write(hi, mode="append")

    full = t.read(spark)
    pruned = t.read(spark, prune=("x", 0, 99), where=F.col("x") <= 99)
    assert pruned.count() == 100
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # prune is an over-approximation guard, never a row filter
    assert t.read(spark, prune=("x", 0, 2000)).count() == 200
    assert t.read(spark, prune=("x", 5000, 6000)).count() == 0


# ---------------------------------------------------------------- vocab

def test_vocab_hash_default_is_shuffle_free(spark):
    from pulsarfeatureextractor_spark.sources.tokenized import vocab_tokenize

    df = _docs(spark, ["alpha beta gamma", "beta beta delta"])
    out = vocab_tokenize(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure per-row expression
    rows = {r["doc_id"]: r for r in out.collect()}
    # same word -> same id, order preserved, ids in [1, 2^31)
    t0, t1 = rows["0"]["tokens"], rows["1"]["tokens"]
    assert t0[1] == t1[0] == t1[1]
    assert all(1 <= t < (1 << 31) for t in t0 + t1)
    assert rows["1"]["n_tok"] == 3

    rank = vocab_tokenize(df, id_mode="rank")
    got = {r["doc_id"]: r["tokens"] for r in rank.collect()}
    # sorted vocab: alpha=1 beta=2 delta=3 gamma=4
    assert got["0"] == [1, 2, 4] and got["1"] == [2, 2, 3]


# ---------------------------------------------------------------- lyon8

def test_lyon8_two_curve_features(spark):
    from pulsarfeatureextractor_spark.functions.moments import lyon8_features

    rng = np.random.default_rng(9)
    prof = rng.integers(0, 256, 64)
    dm = rng.integers(0, 256, 100)
    df = spark.createDataFrame(
        [("c1", "profile", [int(v) for v in prof]),
         ("c1", "dm", [int(v) for v in dm])],
        "doc_id string, kind string, tokens array<int>",
    )
    [row] = lyon8_features(df).collect()
    mp = lyon_moments_oracle(prof)
    md = lyon_moments_oracle(dm)
    for i, name in enumerate(["mean", "stdev", "skew", "kurt"]):
        assert np.isclose(row[name + "_prof"], mp[i], rtol=1e-12)
        assert np.isclose(row[name + "_dm"], md[i], rtol=1e-12)


# ---------------------------------------------------------------- A11

def test_interchange_csv_and_arff(spark, tmp_path):
    from pulsarfeatureextractor_spark.sinks.interchange import (
        assemble_single_file,
        write_arff,
        write_csv,
    )

    df = spark.createDataFrame(
        [("c1", 1.5, 10), ("c2", -2.25, 20), ("c3", 0.0, 30)],
        "doc_id string, score double, n int",
    )
    csv_dir = str(tmp_path / "csv")
    write_csv(df, csv_dir, order_by=["doc_id"])
    back = spark.read.option("header", True).schema(df.schema).csv(csv_dir)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    arff_dir = str(tmp_path / "arff")
    write_arff(df, arff_dir, relation="pfe", order_by=["doc_id"])
    single = assemble_single_file(arff_dir, str(tmp_path / "out.arff"))
    text = open(single).read()
    assert text.startswith("@relation pfe")
    assert "@attribute score numeric" in text
    assert "@attribute doc_id string" in text
    body = text.split("@data\n", 1)[1].strip().splitlines()
    assert body == ["c1,1.5,10", "c2,-2.25,20", "c3,0.0,30"]


def test_interchange_arff_roundtrip_read(spark, tmp_path):
    """write_arff -> read_arff closes the classifier interchange loop:
    the schema comes back from the O(columns) header sidecar (numerics
    widen to double — ARFF carries no width) and the data section is a
    distributed schema'd CSV scan."""
    from pulsarfeatureextractor_spark.sinks.interchange import (
        parse_arff_header,
        read_arff,
        write_arff,
    )

    df = spark.createDataFrame(
        [("c1", 1.5, 10), ("c2", -2.25, 20), ("c3", 0.0, 30)],
        "doc_id string, score double, n int",
    )
    arff_dir = str(tmp_path / "arff_rt")
    write_arff(df, arff_dir, relation="pfe")
    back = read_arff(spark, arff_dir)
    assert [f.name for f in back.schema.fields] == ["doc_id", "score", "n"]
    assert back.schema["n"].dataType.simpleString() == "double"  # widened
    want = sorted((r[0], float(r[1]), float(r[2])) for r in df.collect())
    got = sorted(map(tuple, back.collect()))
    assert got == want
    with pytest.raises(ValueError, match="unsupported ARFF attribute"):
        parse_arff_header("@attribute x relational\n@data\n")
    with pytest.raises(ValueError, match="no @attribute"):
        parse_arff_header("@relation r\n@data\n")


def test_interchange_assembly_cap(spark, tmp_path):
    from pulsarfeatureextractor_spark.sinks.interchange import (
        assemble_single_file,
        write_csv,
    )

    df = spark.range(0, 1000).withColumn("s", F.lit("x" * 100))
    d = str(tmp_path / "big")
    write_csv(df, d)
    with pytest.raises(ValueError, match="refusing driver-side assembly"):
        assemble_single_file(d, str(tmp_path / "big.csv"), max_bytes=1000)


# ---------------------------------------------------------------- as-of auto

def test_asof_auto_strategy_detects_skew(spark):
    from pulsarfeatureextractor_spark.operators.asof import (
        asof_join,
        choose_asof_strategy,
    )
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    uniform = synthetic_sequences(spark, 20_000, seed=3)
    skewed = synthetic_sequences(spark, 20_000, seed=3, skew=True)
    assert choose_asof_strategy(uniform, ["doc_id"], sample_fraction=0.2) == "window"
    assert choose_asof_strategy(skewed, ["doc_id"], sample_fraction=0.2) == "bucketed"

    # auto == window plan output on uniform data
    from pulsarfeatureextractor_spark.sources.tokenized import (
        synthetic_snapshots,
        with_event_time,
    )

    left = with_event_time(synthetic_sequences(spark, 2_000, seed=5))
    snaps = synthetic_snapshots(spark, 500, n_docs=1500, seed=6)
    kw = dict(on="event_time", right_on="obs_time", by="doc_id",
              value_cols=["f_mean"])
    auto = asof_join(left, snaps, strategy="auto", **kw)
    window = asof_join(left, snaps, strategy="window", **kw)
    a = sorted(map(tuple, auto.select("doc_id", "event_time", "f_mean").collect()))
    w = sorted(map(tuple, window.select("doc_id", "event_time", "f_mean").collect()))
    assert a == w


# ---------------------------------------------------------------- IVF

def test_ivf_lloyd_recall_vs_bruteforce(spark, sf_correct):
    from pulsarfeatureextractor_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from pulsarfeatureextractor_spark.sources.readers import load_table

    emb = load_table(spark, sf_correct, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=8).collect()
    }
    recall = len(truth & approx) / len(truth)
    # measured on this fixture: 0.83 with 5 Lloyd iters vs 0.75 raw
    # hash-sample init (synthetic near-random vectors are the IVF
    # worst case — real embedding corpora cluster far better)
    assert recall >= 0.8, recall
    raw = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=8,
                          lloyd_iters=0).collect()
    }
    assert recall >= len(truth & raw) / len(truth)


# ---------------------------------------------------------------- A9 sets

def test_peace_spinn_edge_cases(spark):
    from pulsarfeatureextractor_spark.functions.scores import (
        with_peace_features,
        with_spinn_features,
    )

    df = spark.createDataFrame(
        [("const", [7] * 64), ("tiny", [1, 9]), ("single", [5])],
        "doc_id string, tokens array<int>",
    )
    p = {r["doc_id"]: r for r in with_peace_features(df).collect()}
    s = {r["doc_id"]: r for r in with_spinn_features(df).collect()}
    # constant curve: zero S/N, no peaks, flat smoothness
    assert p["const"]["peace_snr"] == 0.0
    assert p["const"]["peace_n_peaks"] == 0
    assert p["const"]["peace_mean_adiff"] == 0.0
    assert s["const"]["spinn_log_snr"] == 0.0
    assert s["const"]["spinn_tail_frac"] == 0.0
    # n=2: no interior points -> no peaks; adiff over one gap
    assert p["tiny"]["peace_n_peaks"] == 0
    assert p["tiny"]["peace_mean_adiff"] == 8.0
    # n=1: all guards fire, nothing NULL/NaN
    for row in (p["single"], s["single"]):
        assert all(v is not None for v in row.asDict().values())


def test_peace_spinn_featureset_wiring(spark):
    from pulsarfeatureextractor_spark.functions.featureset import extract_features
    from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences

    seqs = synthetic_sequences(spark, 50, seed=2)
    assert "peace_snr" in extract_features(seqs, "peace").columns
    assert "spinn_duty" in extract_features(seqs, "spinn").columns


# ------------------------------------------------------- property tests

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.booleans(),                      # row is valid?
            st.integers(min_value=0, max_value=17),  # extent (null rows may own one!)
        ),
        min_size=1, max_size=12,
    ),
    st.integers(min_value=0, max_value=1000),
    st.integers(min_value=0, max_value=11),     # slice start
)
def test_moments_list_array_any_layout(rows, seed, cut):
    """Every Arrow kernel must be exact for EVERY legal Arrow layout:
    any mix of valid/null slots where null slots may own buffer extent,
    sliced or not.  All three kernels decode the layout through the one
    ``featureset.list_layout`` helper; each must equal itself on the
    same rows laid out compactly (fresh array, NULL slots empty)."""
    from functools import partial

    from pulsarfeatureextractor_spark.functions.moments import (
        moments_list_array,
        moments_segments,
    )
    from pulsarfeatureextractor_spark.functions.scores import (
        scores_list_array,
        subband_scores_list_array,
    )

    rng = np.random.default_rng(seed)
    values, offsets, mask = [], [0], []
    compact_vals, compact_offs, compact_rows = [], [0], []
    for valid, extent in rows:
        chunk = rng.integers(0, 256, extent).tolist()
        values += chunk
        offsets.append(offsets[-1] + extent)
        mask.append(not valid)
        if valid:
            compact_vals += chunk
            compact_offs.append(compact_offs[-1] + extent)
        else:
            compact_offs.append(compact_offs[-1])
        compact_rows.append(chunk if valid else None)
    arr = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(values, type=pa.int32()),
        mask=pa.array(mask),
    )
    got = moments_list_array(arr)
    compact_offs = np.asarray(compact_offs, dtype=np.int64)
    want = moments_segments(
        np.asarray(compact_vals, dtype=np.float64),
        compact_offs[:-1], np.diff(compact_offs),
    )
    assert np.array_equal(got, want)

    cut = min(cut, len(rows))
    for kernel in (moments_list_array, scores_list_array,
                   partial(subband_scores_list_array, n_chan=2)):
        for layout, start in ((arr, 0), (arr[cut:], cut)):
            fresh = pa.array(compact_rows[start:], type=pa.list_(pa.int32()))
            assert np.array_equal(kernel(layout), kernel(fresh)), (kernel, start)


# ------------------------------------------------- RP-LSH lazy dim

def test_rp_lsh_lazy_dim_matches_explicit(spark, sf_correct):
    """dim=None derives the hyperplanes executor-side from the first
    Arrow batch; planes are a pure function of (seed, n_bits, n_tables,
    dim) so the output must be IDENTICAL to the explicit-dim path (and
    no driver-side one-row probe job is needed)."""
    from pyspark.sql import functions as F

    from pulsarfeatureextractor_spark.operators.similarity import rp_lsh_topk
    from pulsarfeatureextractor_spark.sources.readers import load_table

    emb = load_table(spark, sf_correct, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cols = ("query_id", "vec_id", "rank")
    explicit = sorted(
        map(tuple, rp_lsh_topk(emb, queries, k=5, dim=64,
                               n_bits=10, n_tables=6).select(*cols).collect())
    )
    lazy = sorted(
        map(tuple, rp_lsh_topk(emb, queries, k=5, dim=None,
                               n_bits=10, n_tables=6).select(*cols).collect())
    )
    assert explicit == lazy and len(lazy) > 0
