"""Batch model-inference stage (functions/inference.py) — VERDICT r03
next-round item #3: Arrow-batched scoring with an INJECTED model; the
deterministic linear fixture doubles as the DuckDB-oracle twin for the
driver-gated `model_score_docs` query."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.functions.inference import (
    QUALITY_BIAS,
    QUALITY_FEATURES,
    QUALITY_WEIGHTS,
    keep_flag,
    linear_model,
    quality_logit_sql,
    quality_model,
    score_with_model,
)
from pulsarfeatureextractor_spark.functions.text import with_quality_metrics
from pulsarfeatureextractor_spark.sources.readers import load_table


def make_fake_onnx_session(weights, bias):
    """ONNX-InferenceSession-shaped fake (records batch sizes).  The
    class is defined INSIDE this factory so cloudpickle serializes it
    by value — a module-level test class is pickled by reference and
    executors cannot import the test module."""

    class FakeOnnxSession:
        def __init__(self):
            self._score = linear_model(weights, bias)
            self.batch_sizes = []

        def run(self, _output_names, feed):  # ONNX-like entry point
            X = feed["float_input"]
            self.batch_sizes.append(len(X))
            return [self._score(X)]

        def __call__(self, X: np.ndarray) -> np.ndarray:  # engine contract
            return self.run(None, {"float_input": X})[0]

    return FakeOnnxSession()


def test_linear_model_matches_sequential_accumulation():
    rng = np.random.default_rng(7)
    X = rng.normal(size=(100, 3))
    m = linear_model([0.5, -0.25, 2.0], 1.5)
    z = np.full(100, 1.5)
    for j, w in enumerate([0.5, -0.25, 2.0]):
        z = z + w * X[:, j]
    assert np.array_equal(m(X), z)  # bit-exact, not allclose


def test_linear_model_rejects_wrong_width():
    m = linear_model([1.0, 2.0])
    with pytest.raises(ValueError, match="expected"):
        m(np.zeros((4, 3)))


def test_score_with_model_requires_injection(spark, sf_smoke):
    d = load_table(spark, sf_smoke, "documents")
    with pytest.raises(NotImplementedError, match="injected model"):
        score_with_model(with_quality_metrics(d), QUALITY_FEATURES)


def test_scores_match_numpy_reference_and_batched(spark, sf_smoke):
    d = load_table(spark, sf_smoke, "documents")
    feats = with_quality_metrics(d)
    fake = make_fake_onnx_session(QUALITY_WEIGHTS, QUALITY_BIAS)
    rows = (
        score_with_model(feats, QUALITY_FEATURES, fake)
        .select("doc_id", *QUALITY_FEATURES, "model_score")
        .collect()
    )
    assert rows
    # independent numpy differential on the collected feature values
    ref = quality_model()
    X = np.array(
        [[float(r[c]) for c in QUALITY_FEATURES] for r in rows],
        dtype=np.float64,
    )
    expect = ref(X)
    got = np.array([r["model_score"] for r in rows])
    assert np.array_equal(got, expect)  # fixture is deterministic: bit-exact


def test_model_called_batched_not_per_row(spark, sf_smoke):
    d = load_table(spark, sf_smoke, "documents")
    n = d.count()
    assert n > 1
    fake = make_fake_onnx_session(QUALITY_WEIGHTS, QUALITY_BIAS)
    out = score_with_model(
        with_quality_metrics(d).coalesce(1), QUALITY_FEATURES, fake
    )
    scored = out.where(keep_flag(threshold=-100.0)).count()
    assert scored == n
    # the fake runs on executors; its driver-side copy saw nothing —
    # so prove batching structurally instead: a model that REJECTS
    # batches smaller than the full partition still succeeds.
    class MinBatch:
        def __call__(self, X):
            if len(X) < 2:
                raise AssertionError("called per-row")
            return np.zeros(len(X))

    assert (
        score_with_model(
            with_quality_metrics(d).coalesce(1), QUALITY_FEATURES, MinBatch()
        ).agg(F.sum("model_score")).collect()[0][0] == 0.0
    )


def test_logit_sql_twin_renders_left_assoc():
    sql = quality_logit_sql(["a", "b", "c"])
    # innermost term is the bias + first weight — left association
    assert sql.startswith("(((")
    assert repr(QUALITY_BIAS) in sql
    for w in QUALITY_WEIGHTS:
        assert repr(w) in sql


def test_spark_scores_equal_duckdb_logit(spark, sf_correct):
    """End-to-end twin of the driver check for model_score_docs."""
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__ as entrymod

    sdf = entrymod.queries()["model_score_docs"](spark, sf_correct)
    got = {
        r["doc_id"]: (r["model_score"], r["keep"]) for r in sdf.collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_correct}/documents.parquet')"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            entrymod.oracle_sql()["model_score_docs"]
        ).fetchall()
    }
    assert set(got) == set(want)
    for k in got:
        gs, gk = got[k]
        ws, wk = want[k]
        assert gk == wk, k
        assert np.float64(gs).tobytes() == np.float64(ws).tobytes(), k


# ---- vector-output batch inference (docs -> embeddings) ----


def test_embed_with_model_fixture_matches_python_twin(spark):
    """Engine embeddings == the pure-python fixture applied per text."""
    from pulsarfeatureextractor_spark.functions.inference import (
        embed_with_model,
        length_bucket_embedder,
    )

    texts = ["a bb ccc dddd", "x  y", "", "eeeeeeee f"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["embedding"]
        for r in embed_with_model(
            df, "text", length_bucket_embedder(8), dim=8
        ).collect()
    }
    enc = length_bucket_embedder(8)
    for i, t in enumerate(texts):
        want = enc([t])[0].tolist()
        assert out[i] == want, (t, out[i], want)


def test_embed_null_text_yields_null_vector(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        embed_with_model,
        length_bucket_embedder,
    )

    df = spark.createDataFrame(
        [(0, "a b"), (1, None)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r["embedding"]
        for r in embed_with_model(
            df, "text", length_bucket_embedder(4), dim=4
        ).collect()
    }
    assert rows[1] is None and rows[0] is not None


def test_embed_rejects_wrong_shape(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        embed_with_model,
    )

    df = spark.createDataFrame([(0, "a"), (1, "b")], "doc_id long, text string")

    def bad(texts):
        return np.zeros((len(texts), 3))

    out = embed_with_model(df, "text", bad, dim=8)
    with pytest.raises(Exception, match="expected"):
        out.collect()
    with pytest.raises(ValueError, match="dim"):
        embed_with_model(df, "text", bad, dim=0)


def test_embed_called_batched_and_feeds_consumers(spark, sf_smoke):
    """The encoder sees BATCHES (one call per Arrow batch, not per
    row), and the produced column composes directly with the embedding
    consumers (cosine top-k over the generated vectors)."""
    from pulsarfeatureextractor_spark.functions.inference import (
        embed_with_model,
        length_bucket_embedder,
    )

    docs = load_table(spark, sf_smoke, "documents").limit(50)

    # the encoder runs on executors — a driver-side recording list
    # never sees the calls (cloudpickle copies it by value), so prove
    # batching STRUCTURALLY, like test_model_called_batched_not_per_row:
    # an encoder that REJECTS batches smaller than 2 texts still
    # succeeds over a single-partition input.
    class MinBatchEncoder:
        def __call__(self, texts):
            if len(texts) < 2:
                raise AssertionError("encoder called per-row")
            return np.zeros((len(texts), 8))

    out = embed_with_model(
        docs.coalesce(1), "text", MinBatchEncoder(), dim=8
    )
    n = out.where(F.col("embedding").isNotNull()).count()
    assert n == 50
    emb = embed_with_model(
        docs, "text", length_bucket_embedder(8), dim=8
    )
    from pulsarfeatureextractor_spark.operators.similarity import (
        cosine_topk,
    )

    topk = cosine_topk(
        emb.select("doc_id", "embedding"),
        emb.select(
            F.col("doc_id").alias("query_id"), "embedding"
        ).limit(2),
        id_col="doc_id",
        vec_col="embedding",
        k=3,
    )
    assert topk.count() == 6  # 2 queries x top-3 over generated vectors


def test_keep_top_fraction_basic_and_tie_semantics(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        keep_top_fraction,
    )

    # 100 distinct scores 0..99: keep-top 0.2 -> cutoff ~ the 0.8
    # quantile; ties kept via >=, so the kept set is exactly the top
    # scores down to (and including) the cutoff value
    df = spark.range(100).select(F.col("id").cast("double").alias("s"))
    kept = {r["s"] for r in keep_top_fraction(df, "s", 0.2).collect()}
    assert min(kept) >= 79.0 and max(kept) == 99.0
    assert len(kept) in (20, 21)  # boundary blur of one rank at most

    # massive tie block AT the cutoff: every tied row is kept (>=),
    # so the kept fraction may exceed the request - pinned semantics
    tied = spark.createDataFrame(
        [(float(1),)] * 90 + [(float(2),)] * 10, "s double"
    )
    kept_tied = keep_top_fraction(tied, "s", 0.5)
    vals = [r["s"] for r in kept_tied.collect()]
    assert set(vals) == {1.0, 2.0} and len(vals) == 100  # all ties kept


def test_keep_top_fraction_empty_and_null_guard(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        keep_top_fraction,
    )

    empty = spark.createDataFrame([], "s double")
    assert keep_top_fraction(empty, "s", 0.5).count() == 0
    nulls = spark.createDataFrame([(None,), (None,)], "s double")
    assert keep_top_fraction(nulls, "s", 0.5).count() == 0
    # NULL scores drop even when real scores exist
    mixed = spark.createDataFrame([(None,), (5.0,), (1.0,)], "s double")
    got = sorted(r["s"] for r in keep_top_fraction(mixed, "s", 1.0).collect())
    assert got == [1.0, 5.0]


def test_keep_top_fraction_validates_fraction(spark):
    import pytest

    from pulsarfeatureextractor_spark.functions.inference import (
        keep_top_fraction,
    )

    df = spark.createDataFrame([(1.0,)], "s double")
    with pytest.raises(ValueError):
        keep_top_fraction(df, "s", 1.5)


def test_classify_with_model_langid_fixture(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        LANGID_CLASSES,
        classify_with_model,
        langid_model,
    )
    from pulsarfeatureextractor_spark.functions.text import langid_features

    docs = spark.createDataFrame(
        [
            (1, "the of and to a in is was"),        # en stopwords
            (2, "el la de que los una"),             # es stopwords
            (3, "zzz qqq xxx"),                      # no hits -> und
            (4, "的是了在 xyz"),     # zh stopwords + CJK
            (5, None),                               # NULL text -> und
            (6, "中文文本"),         # CJK chars ONLY (no
                                                     # stopword hit): the
                                                     # script feature must
                                                     # carry zh past abstention
        ],
        "doc_id long, text string",
    )
    feats, names = langid_features(docs, "text")
    out = classify_with_model(
        feats, names, langid_model(), LANGID_CLASSES,
        output_col="lang_pred", min_score=0.0, fallback="und",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in out.collect()}
    assert got == {1: "en", 2: "es", 3: "und", 4: "zh", 5: "und", 6: "zh"}


def test_classify_tie_breaks_to_first_class(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        classify_with_model,
        multinomial_linear_model,
    )

    # both classes score identically -> np.argmax first max -> 'aa'
    df = spark.createDataFrame([(1.0, 1.0)], "x double, y double")
    m = multinomial_linear_model([[1.0, 0.0], [0.0, 1.0]], [0.0, 0.0])
    out = classify_with_model(df, ["x", "y"], m, ["aa", "bb"])
    assert out.first()["class_pred"] == "aa"


def test_classify_called_batched_not_per_row(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        classify_with_model,
    )

    class MinBatchClassifier:
        def __call__(self, X):
            if len(X) < 2:
                raise AssertionError("classifier called per-row")
            return np.column_stack([X[:, 0], -X[:, 0]])

    df = spark.range(200).select(
        (F.col("id").cast("double") - F.lit(100.0)).alias("x")
    ).coalesce(1)
    out = classify_with_model(df, ["x"], MinBatchClassifier(), ["p", "n"])
    assert out.where(F.col("class_pred") == "p").count() == 100  # x=0 ties->p
    assert out.where(F.col("class_pred") == "n").count() == 100


def test_classify_rejects_wrong_class_count(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        classify_with_model,
        multinomial_linear_model,
    )

    df = spark.createDataFrame([(1.0,)], "x double")
    m = multinomial_linear_model([[1.0], [2.0]], [0.0, 0.0])  # K=2
    bad = classify_with_model(df, ["x"], m, ["only_one_label"])
    with pytest.raises(Exception, match="expected"):
        bad.collect()


def test_top_fraction_by_hand_fixture(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        keep_top_fraction_by,
    )

    rows = [
        # lang a: scores 9,7,7,3 -> n=4, k=ceil(2)=2, but the 7s TIE at
        # the boundary (rank 2) so THREE rows keep
        (1, "a", 9.0), (2, "a", 7.0), (3, "a", 7.0), (4, "a", 3.0),
        # lang b: 5,1 -> n=2, k=1 -> only the 5 keeps
        (5, "b", 5.0), (6, "b", 1.0),
        # lang c: NULL scores never keep; n counts non-NULL only
        (7, "c", 2.0), (8, "c", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, s double")
    out = {
        r.doc_id: r
        for r in keep_top_fraction_by(df, "s", "lang", 0.5).collect()
    }
    assert [out[i].keep_frac for i in range(1, 9)] == [
        True, True, True, False, True, False, True, False,
    ]
    assert out[2].grp_rank == 2 and out[3].grp_rank == 2
    assert out[8].grp_n == 1 and out[8].keep_frac is False


def test_top_fraction_by_all_null_group_and_bounds(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        keep_top_fraction_by,
    )

    df = spark.createDataFrame(
        [(1, "x", None), (2, "x", None)], "doc_id long, lang string, s double"
    )
    out = keep_top_fraction_by(df, "s", "lang", 0.5)
    assert [r.keep_frac for r in out.collect()] == [False, False]
    with pytest.raises(ValueError):
        keep_top_fraction_by(df, "s", "lang", 0.0)
    with pytest.raises(ValueError):
        keep_top_fraction_by(df, "s", "lang", 1.5)


@pytest.mark.parametrize("col", ["grp_n", "grp_rank", "keep_frac"])
def test_top_fraction_by_refuses_existing_output_column(spark, col):
    from pulsarfeatureextractor_spark.functions.inference import (
        keep_top_fraction_by,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0, 7)], f"doc_id long, lang string, s double, {col} long"
    )
    with pytest.raises(ValueError, match=col):
        keep_top_fraction_by(df, "s", "lang", 0.5)


def test_top_fraction_by_one_exchange(spark):
    from pulsarfeatureextractor_spark.functions.inference import (
        keep_top_fraction_by,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0)], "doc_id long, lang string, s double"
    ).repartition(4)
    plan = (
        keep_top_fraction_by(df, "s", "lang", 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # both windows reuse ONE hash exchange on the group key (the
    # repartition above is the input's own round-robin, not keyed)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


def test_classify_null_features_abstain(spark):
    """NULL features propagate to NaN scores where argmax picks an
    arbitrary class and min_score never fires — such rows must take
    the fallback, not a confident label (review finding)."""
    from pulsarfeatureextractor_spark.functions.inference import (
        classify_with_model,
        multinomial_linear_model,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -5.0)], "doc_id long, x double"
    )
    m = multinomial_linear_model([[1.0], [-1.0]], [0.0, 0.0])
    out = {
        r.doc_id: r.class_pred
        for r in classify_with_model(
            df, ["x"], m, ["pos", "neg"], min_score=0.0, fallback="und"
        ).collect()
    }
    assert out == {1: "pos", 2: "und", 3: "neg"}
