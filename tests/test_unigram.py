"""Distributed unigram-LM tokenizer training (functions/unigram.py) —
model determinism across partitionings, equivalence with the
independent pure-python twin (tools/gen_value_oracles.py), the pinned
Viterbi tie-break contract, and the single-Arrow-crossing encode plan."""

from __future__ import annotations

import math
import sys

from pulsarfeatureextractor_spark.functions.unigram import (
    UNK_LOGP,
    train_unigram,
    unigram_encode,
    unigram_model_table,
    viterbi_segment,
)

sys.path.insert(0, "/root/repo")
from tools.gen_value_oracles import (  # noqa: E402
    _uni_twin_train,
    _uni_twin_viterbi,
)

TEXTS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
]

PARAMS = dict(vocab_size=16, max_piece_len=4, seed_max_pieces=48,
              em_iters=2, prune_frac=0.25)


def _docs(spark, texts=TEXTS):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_model_matches_twin(spark):
    got = train_unigram(_docs(spark), **PARAMS)
    want = _uni_twin_train(TEXTS, **PARAMS)
    assert got == want  # exact float equality — the determinism contract
    # coverage guarantee: every corpus character survives training
    chars = {c for t in TEXTS for c in t if c != " "}
    vocab = {p for p, _ in got}
    assert chars <= vocab
    assert all(lp < 0.0 for _, lp in got)


def test_model_deterministic_across_partitionings(spark):
    d = _docs(spark)
    base = train_unigram(d, **PARAMS)
    assert train_unigram(d.repartition(1), **PARAMS) == base
    assert train_unigram(d.repartition(13), **PARAMS) == base


def test_viterbi_contract_longest_piece_wins_ties(spark):
    # 'ab' vs 'a'+'b' with logp('ab') == logp('a') + logp('b'):
    # the strict-> increasing-i scan keeps the longest piece (i small)
    lp = {"a": math.log(0.25), "b": math.log(0.25),
          "ab": math.log(0.25) + math.log(0.25)}
    assert viterbi_segment("ab", lp, 4) == ["ab"]
    assert _uni_twin_viterbi("ab", lp, 4) == ["ab"]


def test_viterbi_unk_fallback():
    lp = {"a": math.log(0.5)}
    # 'q' unseen: consumed as a single-char UNK piece at UNK_LOGP
    assert viterbi_segment("aqa", lp, 4) == ["a", "q", "a"]
    assert _uni_twin_viterbi("aqa", lp, 4) == ["a", "q", "a"]
    assert UNK_LOGP < -1e8


def test_encode_matches_twin_token_for_token(spark):
    d = _docs(spark)
    model = train_unigram(d, **PARAMS)
    logp = dict(model)
    got = {
        r["doc_id"]: r["unigram_tokens"]
        for r in unigram_encode(d, model).collect()
    }
    for i, t in enumerate(TEXTS):
        want = []
        for w in t.split(" "):
            if w:
                want.extend(_uni_twin_viterbi(w, logp, 4))
        assert got[i] == want
        # round trip: pieces re-concatenate to the original words
        assert "".join(got[i]) == t.replace(" ", "")


def test_null_and_empty_text(spark):
    texts = [None, "", "aa aa aa bb"]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    model = train_unigram(d, **PARAMS)
    assert model == _uni_twin_train(texts, **PARAMS)
    out = {r["doc_id"]: r["unigram_tokens"]
           for r in unigram_encode(d, model).collect()}
    assert out[0] == [] and out[1] == []
    assert out[2] and "".join(out[2]) == "aaaaaabb"


def test_vocab_size_and_char_floor(spark):
    model = train_unigram(_docs(spark), **PARAMS)
    chars = {c for t in TEXTS for c in t if c != " "}
    # final cut: n_chars always kept + at most vocab_size - n_chars multi
    n_multi = sum(1 for p, _ in model if len(p) >= 2)
    assert n_multi <= max(PARAMS["vocab_size"] - len(chars), 0)
    assert len(model) >= len(chars)


def test_max_distinct_words_guard(spark):
    d = _docs(spark)
    try:
        train_unigram(d, max_distinct_words=2, **PARAMS)
    except ValueError as e:
        assert "max_distinct_words" in str(e)
    else:
        raise AssertionError("guard did not fire")


def test_model_table_shape(spark):
    t = unigram_model_table(spark, [("a", -1.5), ("ab", -2.5)])
    rows = {r["piece"]: r["logp"] for r in t.collect()}
    assert rows == {"a": -1.5, "ab": -2.5}


def test_encode_plan_single_arrow_crossing_no_exchange(spark):
    """unigram_encode is ONE Arrow-batched crossing fused into the
    scan: zero shuffles (the 100 TB posture claim, pinned)."""
    d = _docs(spark)
    model = train_unigram(d, **PARAMS)
    plan = (
        unigram_encode(d, model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_tokenizer_eval_metrics_and_unk(spark):
    """tokenizer_eval: fertility/chars-per-token/unk-rate per group
    with exact integer counts, UNK = pieces outside the model
    vocabulary (an unseen character segments to a single-char
    fallback piece), NULL-safe ratios."""
    from pulsarfeatureextractor_spark.functions.unigram import (
        tokenizer_eval,
    )

    d = _docs(spark)
    model = train_unigram(d, **PARAMS)
    vocab = {p for p, _ in model}
    # evaluate on a corpus containing a character the model never saw
    ev = spark.createDataFrame(
        [(1, "low lower", "a"), (2, "low Z", "b"), (3, None, "b")],
        "doc_id long, text string, lang string",
    )
    out = {r.lang: r for r in tokenizer_eval(ev, model).collect()}
    # twin-compute group a
    toks_a = []
    logp = dict(model)
    for w in ["low", "lower"]:
        toks_a.extend(_uni_twin_viterbi(w, logp, PARAMS["max_piece_len"]))
    assert out["a"].n_words == 2 and out["a"].n_tokens == len(toks_a)
    assert out["a"].fertility == round(len(toks_a) / 2, 6)
    assert out["a"].chars_per_token == round(
        sum(len(p) for p in toks_a) / len(toks_a), 6
    )
    assert out["a"].n_unk == 0 and out["a"].unk_rate == 0.0
    # group b: 'Z' is unseen -> single-char fallback NOT in the vocab
    assert "Z" not in vocab
    assert out["b"].n_unk >= 1 and out["b"].unk_rate > 0.0
    # NULL text contributes zero words/tokens but counts as a doc
    assert out["b"].n_docs == 2


def test_tokenizer_eval_zero_token_group_null_ratios(spark):
    from pulsarfeatureextractor_spark.functions.unigram import (
        tokenizer_eval,
    )

    model = train_unigram(_docs(spark), **PARAMS)
    ev = spark.createDataFrame(
        [(1, "", "empty"), (2, None, "empty")],
        "doc_id long, text string, lang string",
    )
    row = tokenizer_eval(ev, model).collect()[0]
    assert row.n_tokens == 0 and row.n_words == 0 and row.n_docs == 2
    assert row.fertility is None
    assert row.chars_per_token is None and row.unk_rate is None


def test_train_unigram_empty_corpus_returns_empty_model(spark):
    """Empty / all-empty-text corpus yields [], matching train_bpe,
    instead of a math domain error from the M-step (review finding)."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert train_unigram(empty, **PARAMS) == []
    blank = spark.createDataFrame(
        [(1, ""), (2, None)], "doc_id long, text string"
    )
    assert train_unigram(blank, **PARAMS) == []


def test_tokenizer_eval_oracle_null_lang(spark, tmp_path, monkeypatch):
    """The committed-oracle generator (gen_tokenizer_eval) keeps a NULL
    lang as its own group, like the engine's groupBy: its VALUES SQL run
    in DuckDB equals tokenizer_eval on the same documents."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import tools.gen_value_oracles as gvo
    from pulsarfeatureextractor_spark.functions.unigram import tokenizer_eval

    langs = ["en", None, "en", "fr"]
    pq.write_table(pa.table({"doc_id": list(range(len(TEXTS))), "text": TEXTS,
                             "lang": langs}),
                   str(tmp_path / "documents.parquet"))
    monkeypatch.setattr(gvo, "SF_DIR", str(tmp_path))
    ids, texts = gvo.load_docs()
    want = duckdb.sql(gvo.gen_tokenizer_eval(ids, texts)).fetchall()

    d = spark.read.parquet(str(tmp_path / "documents.parquet"))
    model = train_unigram(d, vocab_size=64, max_piece_len=4,
                          seed_max_pieces=256, em_iters=2, prune_frac=0.25)
    got = [tuple(r) for r in tokenizer_eval(d, model).collect()]

    def key(r):
        return (r[0] is None, r[0] or "")

    assert sorted(got, key=key) == sorted(want, key=key)
    assert [r[0] for r in sorted(want, key=key)] == ["en", "fr", None]
