"""Type-selectable feature extraction — the engine's analogue of the
reference CLI's feature-type flag — and the one Arrow builder every
Python feature family runs through.

The reference family exposes a numbered feature-type switch choosing
which published feature set to emit per candidate (SURVEY.md §2A A9;
BASELINE.json north_star names the Lyon moments and Thornton-style
scores explicitly — those two are correctness-pinned; the remaining
sets are passthrough/derived conveniences in the same vectorized
patterns).  Sets:

- ``lyon``      : 4 moment features of the token array (A7; the 8-set
  = profile + DM curve is two rows/kinds of the same 4).  Arrow.
- ``thornton``  : 10 curve-fit/peak scores (A8 1-D subset).  Arrow.
- ``stats``     : SQL-expressible quick stats (S/N, peak offset) — the
  JVM-only tier for cheap prefiltering.
- ``widths``    : Eatough-style pulse-width / peak-shape features
  (W50/W25 proxies, peak-to-mean, crest) — JVM-only.
- ``peace``     : Lee et al. 2013 PEACE-style six scores (S/N, duty,
  segment persistence, decile contrast, peaks, smoothness) — JVM-only.
- ``spinn``     : Morello et al. 2014 SPINN-style six features
  (log S/N, duty, persistence, contrast, tail fraction, log length) —
  JVM-only, documented substitutions for absent DM/period inputs.
- ``raw``       : the token array cast to double, unmodified — the
  raw-bins passthrough set (classifier-side normalization).
- ``subband``   : Thornton/Bates-style 2-D sub-band scores (A8 2-D
  family) over the deterministic synthetic cube derived from the token
  curve (real sub-band data is absent from the hinted input shape; a
  real cube loads into the same flat band-major column and scores via
  ``scores.with_subband_scores`` directly).  Arrow.
- ``all``       : lyon + thornton + widths + stats (the two thornton
  columns that stats duplicates are suffixed ``_t``).

Physical plan: ONE ``mapInArrow`` crossing per ``extract_features``
call, however many Arrow families the requested sets name
(:func:`map_features`).  The JVM families are projected before it, so
``drop`` can remove the token arrays at the Python boundary and the
return crossing ships only the narrow feature columns.  Output columns
are the input's (minus ``drop``) followed by each family's columns in
set order; ``tokens`` is never mutated (input_hint invariant).
"""

from __future__ import annotations

from typing import Callable, NamedTuple, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SETS = (
    "lyon", "thornton", "stats", "widths", "peace", "spinn", "subband",
    "raw", "all",
)


class Kernel(NamedTuple):
    """An Arrow feature family: ``fn`` maps the pyarrow list array in
    column ``col`` to an (n, len(fields)) float64 matrix."""

    col: str
    fields: Sequence[str]
    fn: Callable[..., np.ndarray]


def list_layout(arr) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """``(values, starts, counts)`` of a pyarrow List/LargeList array:
    row i owns ``values[starts[i]:starts[i] + counts[i]]``.

    ``values`` is the UNSLICED child buffer and ``starts`` are absolute
    offsets into it, so a sliced array needs no rebasing.  A legal Arrow
    list array may give a NULL slot a nonzero extent; its count is
    zeroed so those child values are never read.
    """
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = np.asarray(arr.offsets, dtype=np.int64)
    counts = np.diff(offsets)
    if arr.null_count:
        counts = np.where(np.asarray(arr.is_valid()), counts, 0)
    return np.asarray(arr.values), offsets[:-1], counts


def map_features(
    df: DataFrame, kernels: Sequence[Kernel], drop: Sequence[str] = ()
) -> DataFrame:
    """Append every kernel's columns in ONE ``mapInArrow`` pass.

    Each Arrow batch crosses into Python once; every kernel reads its
    list column as flat buffers (no per-row Python objects) and the
    feature matrices come back as plain float64 arrays.  Kept columns
    pass through by reference.  ``drop`` removes columns from the
    OUTPUT batches at the Python boundary (typically ``("tokens",)``),
    so the return crossing never echoes the token buffers back.
    Embarrassingly parallel: no shuffle, the scan partitioning is the
    job partitioning.
    """
    import pyarrow as pa

    keep = [f for f in df.schema.fields if f.name not in drop]
    keep_names = [f.name for f in keep]
    feat_names = [n for k in kernels for n in k.fields]
    names = keep_names + feat_names
    out_schema = T.StructType(
        keep + [T.StructField(n, T.DoubleType(), True) for n in feat_names]
    )

    def compute(batches):
        for batch in batches:
            arrays = [batch.column(n) for n in keep_names]
            for k in kernels:
                mat = k.fn(batch.column(k.col))
                arrays.extend(
                    pa.array(mat[:, i], type=pa.float64())
                    for i in range(mat.shape[1])
                )
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(compute, out_schema)


def _with_raw_bins(df: DataFrame, tokens_col: str) -> DataFrame:
    return df.withColumn(
        "raw_bins", F.transform(F.col(tokens_col), lambda v: v.cast("double"))
    )


def _families(feature_set: str, tokens_col: str) -> list:
    """The set's families in output order: a :class:`Kernel` (Arrow) or
    a JVM function ``(df, tokens_col) -> df``."""
    from pulsarfeatureextractor_spark.functions.moments import (
        LYON_FIELDS,
        moments_list_array,
    )
    from pulsarfeatureextractor_spark.functions import scores as s
    from pulsarfeatureextractor_spark.sources.tokenized import (
        with_synthetic_subbands,
    )

    lyon = Kernel(tokens_col, tuple(LYON_FIELDS), moments_list_array)
    thornton = Kernel(tokens_col, tuple(s.SCORE_FIELDS), s.scores_list_array)
    sets = {
        "lyon": [lyon],
        "thornton": [thornton],
        "stats": [s.with_profile_stats_sql],
        "widths": [s.with_width_features],
        "peace": [s.with_peace_features],
        "spinn": [s.with_spinn_features],
        "raw": [_with_raw_bins],
        "subband": [
            with_synthetic_subbands,
            Kernel("sb_flat", tuple(s.SUBBAND_FIELDS), s.subband_scores_list_array),
        ],
        # stats columns duplicate two thornton columns; suffix those
        "all": [
            lyon,
            thornton._replace(fields=tuple(
                f + "_t" if f in ("sn_ratio", "peak_offset") else f
                for f in s.SCORE_FIELDS
            )),
            s.with_width_features,
            s.with_profile_stats_sql,
        ],
    }
    if feature_set not in sets:
        raise ValueError(
            f"unknown feature set {feature_set!r}; one of {FEATURE_SETS}"
        )
    return sets[feature_set]


def extract_features(
    df: DataFrame,
    feature_set: "str | Sequence[str]" = "lyon",
    tokens_col: str = "tokens",
    drop: Sequence[str] = (),
) -> DataFrame:
    """Append the chosen feature set's columns (see module docstring).

    ``feature_set`` is a set name or a sequence of them; a family named
    by several sets is computed once (``("lyon", "all")`` equals
    ``"all"``).  All Arrow families share one :func:`map_features`
    crossing, which removes ``drop`` at the Python boundary; the JVM
    families are projected before it, so they may read dropped columns.
    """
    names = [feature_set] if isinstance(feature_set, str) else feature_set
    families = []
    for name in names:
        families += [f for f in _families(name, tokens_col) if f not in families]

    added = {}
    out = df
    for fam in families:
        if not isinstance(fam, Kernel):
            before = set(out.columns)
            out = fam(out, tokens_col)
            added[fam] = [c for c in out.columns if c not in before]
    kernels = [f for f in families if isinstance(f, Kernel)]
    out = map_features(out, kernels, drop) if kernels else out.drop(*drop)
    return out.select(
        *[c for c in df.columns if c not in drop],
        *[c for f in families
          for c in (f.fields if isinstance(f, Kernel) else added[f])],
    )
