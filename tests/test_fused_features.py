"""One Arrow crossing for several feature families == the composed
one-crossing-per-family path.

The shared builder (``featureset.map_features``, reached through
``extract_features``) exists for the Python-boundary traffic (one Arrow
crossing instead of one per family, tokens dropped at the boundary);
it must change NOTHING about the values: moments are bit-exact (same
kernel, same batches), scores allclose at 1e-12 (the lstsq kernel is
batch-composition-dependent at ~1e-16, see tools/gen_value_oracles.py).
"""

import numpy as np
import pytest

from pulsarfeatureextractor_spark.functions.featureset import (
    Kernel,
    extract_features,
    map_features,
)
from pulsarfeatureextractor_spark.functions.moments import (
    LYON_FIELDS,
    moments_list_array,
    with_lyon_features,
)
from pulsarfeatureextractor_spark.functions.scores import (
    SCORE_FIELDS,
    scores_list_array,
    with_thornton_scores,
)
from pulsarfeatureextractor_spark.sources.tokenized import synthetic_sequences


@pytest.fixture(scope="module")
def seqs(spark):
    return synthetic_sequences(spark, 600, seed=21).cache()


def _kernels():
    return [Kernel("tokens", LYON_FIELDS, moments_list_array),
            Kernel("tokens", SCORE_FIELDS, scores_list_array)]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fused_equals_composed(spark, seqs):
    composed = with_thornton_scores(with_lyon_features(seqs)).toPandas()
    composed = composed.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
    for out in (map_features(seqs, _kernels()),
                extract_features(seqs, ("lyon", "thornton"))):
        fused = out.toPandas()
        assert list(fused.columns) == list(composed.columns)
        fused = fused.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        for c in LYON_FIELDS:
            assert np.array_equal(fused[c].to_numpy(), composed[c].to_numpy()), c
        for c in SCORE_FIELDS:
            assert np.allclose(
                fused[c].to_numpy(), composed[c].to_numpy(), rtol=1e-12, atol=1e-14
            ), c


def test_fused_drop_removes_tokens_at_boundary(spark, seqs):
    out = extract_features(seqs, "lyon", drop=("tokens",))
    assert "tokens" not in out.columns
    assert [f for f in LYON_FIELDS if f in out.columns] == list(LYON_FIELDS)
    assert out.count() == seqs.count()
    # the drop happens IN the Python operator: its output schema has no
    # tokens column, so nothing above it can carry the arrays
    assert "tokens" not in _plan(out).split("MapInArrow")[0]


def test_fused_single_python_crossing(spark, seqs):
    fused_plan = _plan(map_features(seqs, _kernels(), drop=("tokens",)))
    assert fused_plan.count("MapInArrow") == 1
    composed_plan = _plan(with_thornton_scores(with_lyon_features(seqs)))
    assert composed_plan.count("MapInArrow") == 2
    # every Arrow family of a set, and of several sets, shares one crossing
    for sets in ("all", ("lyon", "thornton"), ("lyon", "subband")):
        assert _plan(extract_features(seqs, sets)).count("MapInArrow") == 1, sets
