"""Structured Streaming mirrors of the batch operators.

The reference is strictly offline (one directory walk per run;
SURVEY.md §3.1) — these mirrors exist because the engine's recast
(point-in-time feature store) has a natural online counterpart: the
same windowed/sessionized features maintained incrementally.

Design rules:

- every mirror is the SAME logical computation as its batch twin
  (tests assert equality under trigger(availableNow) replay);
- state is bounded by watermarks (X2) — at 10^12-row scale the state
  store is the scaling limit, so session/ffill state carries only the
  columns it must;
- the Python boundary stays Arrow-vectorized (mapInArrow /
  applyInPandasWithState) exactly like the batch side.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def stream_events_from_table(
    spark: SparkSession, path: str, max_files_per_trigger: "int | None" = None
) -> DataFrame:
    """File-source replay of an events parquet dir (X1).

    ``trigger(availableNow=True)`` downstream turns this into a
    deterministic "process everything then stop" run — the test bridge
    between batch and streaming semantics.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_tumbling_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """X3: watermarked tumbling-window counts per event_type."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"),
                "event_type", "n_events", "sum_value")
    )


def streaming_session_windows(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """X3/W5: gap-based session windows per user (session_window agg).

    The streaming twin of operators/sessionize.py — same gap semantics,
    maintained incrementally with watermark-bounded state.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"))
        .select("user_id", "session_start", "session_end", "n_events")
    )


_FFILL_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("pval_ffill", T.DoubleType()),
])

_FFILL_STATE = T.StructType([T.StructField("last_val", T.DoubleType())])


def streaming_ffill_state(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """X4: stateful forward-fill of the last purchase value per user.

    ``applyInPandasWithState`` — state is ONE double per user (the last
    observed purchase value), the minimal-state realization of the
    batch ffill window (operators/windows.py).  Batches for a key are
    sorted on event time before folding, so within-trigger order is
    deterministic.
    """

    def fold(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        last = state.get[0] if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            pval = pdf["value"].where(pdf["event_type"] == "purchase")
            filled = pval.ffill()
            if last is not None:
                filled = filled.fillna(last)
            nonnull = pval.dropna()
            if len(nonnull):
                last = float(nonnull.iloc[-1])
            yield pd.DataFrame({
                "user_id": user_id,
                "event_id": pdf["event_id"],
                "ts": pdf["ts"],
                "pval_ffill": filled,
            })
        state.update((last,))

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold, _FFILL_OUT, _FFILL_STATE, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def streaming_exact_dedup(
    stream: DataFrame,
    keys: "list[str] | None" = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within
    the watermark window (at-least-once ingest -> effectively-once
    output).  State = one entry per key, expired by the watermark —
    the streaming twin of the batch md5-groupBy exact_dedup; at
    10^12-row scale the watermark bound is what keeps the dedup state
    finite."""
    keys = keys or ["event_id"]
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


_ASOF_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("last_purchase_value", T.DoubleType()),
])

_ASOF_STATE = T.StructType([T.StructField("last_val", T.DoubleType())])


def streaming_asof_state(
    stream: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    watermark: str = "1 hour",
) -> DataFrame:
    """X4: stateful streaming AS-OF — the online twin of the batch
    backward as-of join.

    One event stream carries both sides; per-entity state is the value
    of the last right-side row, NULL included (exactly the state a
    10^12-row feature store needs per entity — one row,
    watermark-bounded).  Within each trigger the
    key's rows are folded in (ts, side) order with right rows visible
    at equal ts — the same tie convention as the batch window plan and
    DuckDB ASOF; across triggers the state seeds the fold.  Left rows
    are emitted with the as-of value attached.
    """

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        last = state.get[0] if state.exists else None
        for pdf in pdfs:
            pdf = pdf[pdf["event_type"].isin([left_type, right_type])]
            if pdf.empty:
                continue
            # right rows sort before left rows at equal ts
            side = (pdf["event_type"] == left_type).astype(int)
            pdf = pdf.assign(__side=side).sort_values(
                ["ts", "__side", "event_id"], kind="mergesort"
            )
            # each row takes the value of the LAST right row so far,
            # whatever it is (a NULL stays NULL, as in the batch join);
            # rows with no right row earlier in the trigger take the state
            is_right = (pdf["event_type"] == right_type).to_numpy()
            vals = pdf["value"].to_numpy(dtype=float, na_value=np.nan)
            pos = np.maximum.accumulate(
                np.where(is_right, np.arange(len(pdf)), -1))
            seed = np.nan if last is None else last
            filled = np.where(pos >= 0, vals[pos], seed)
            if pos[-1] >= 0:
                last = None if np.isnan(vals[pos[-1]]) else float(vals[pos[-1]])
            if is_right.all():
                continue
            lefts = pdf[~is_right]
            yield pd.DataFrame({
                "user_id": user_id,
                "event_id": lefts["event_id"],
                "ts": lefts["ts"],
                "last_purchase_value": filled[~is_right],
            })
        state.update((last,))

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold, _ASOF_OUT, _ASOF_STATE, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def streaming_lyon_features(stream: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Stateless streaming feature extraction: the batch mapInArrow
    moment path applied to a stream — identical code, identical plan
    shape (pure map, no state)."""
    from pulsarfeatureextractor_spark.functions.moments import with_lyon_features

    return with_lyon_features(stream, tokens_col)


def streaming_minhash_signatures(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
) -> DataFrame:
    """Stateless streaming sketching: the batch MinHash signature path
    applied verbatim to a stream (shingle -> xxhash64 -> vectorized
    permutation minima; pure map, no state).  This is the
    dedup-at-ingest building block — pair it with the watermark pattern
    of streaming_exact_dedup to drop near-duplicates as documents
    arrive, instead of re-sketching the corpus in batch."""
    from pulsarfeatureextractor_spark.operators.dedup import minhash_signatures

    return minhash_signatures(stream, text_col, id_col, num_perm=num_perm)


def stream_snapshot_table(
    spark: SparkSession,
    table_path: str,
    schema: T.StructType,
    max_files_per_trigger: "int | None" = None,
) -> DataFrame:
    """Streaming tail of an IcebergLikeTable's data files (X1 over the
    lakehouse sink): every snapshot commit writes an immutable
    ``data/snap-<uuid>/`` directory, so a recursive file stream over
    ``data/`` sees exactly the committed files, append-ordered — the
    streaming counterpart of ``IcebergLikeTable.read_incremental``.

    Semantics notes (and why this is honest without a transaction log):
    - a data dir becomes visible to readers only AFTER its manifest
      commit on the batch side, but the file stream keys on file
      arrival; since data files are written before the manifest, a
      crash between the two could stream an orphan dir that no
      manifest references — acceptable for at-least-once mirrors,
      NOT for exactly-the-committed-table semantics (a real Iceberg
      streaming source reads the snapshot log instead; this mirrors
      the gap documented in sinks/manifest.py);
    - compaction/overwrite snapshots REWRITE rows into new files: the
      stream re-surfaces them (file streams cannot distinguish
      re-layout from append — the batch read_incremental can, which
      is why it walks manifests).  Tail only append/merge tables;
    - PARTITIONED tables are rejected: recursiveFileLookup disables
      hive partition-dir inference, and the partition values live only
      in the dir names (manifest.py writes via partitionBy) — tailing
      one would silently yield NULL partition columns.
    """
    import os

    from pulsarfeatureextractor_spark.sinks.manifest import (
        DATA_DIR,
        IcebergLikeTable,
    )

    tbl = IcebergLikeTable(table_path)
    if tbl.snapshot_ids():
        spec = tbl.manifest().get("partition_spec") or []
        if spec:
            raise ValueError(
                f"stream_snapshot_table cannot tail a partitioned table "
                f"(partition_spec={spec}): partition values live in dir "
                f"names the file stream does not decode"
            )
    reader = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(os.path.join(table_path, DATA_DIR))
