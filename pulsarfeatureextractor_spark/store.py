"""FeatureStore — the engine's library entry point (SURVEY.md §3.3).

A thin fluent facade over the operator modules: every method only
appends to the lazy logical plan; nothing executes until an action
(write / collect).  The same Catalyst path as the spark-submit job.

    fs = FeatureStore(spark)
    (fs.read_snapshot("/path/table")
       .with_event_time()
       .features("lyon")
       .asof_join(snaps, on="event_time", right_on="obs_time",
                  by="doc_id", value_cols=["f_mean"])
       .sessionize(gap_seconds=1800)
       .write("/out", partition_cols=["source"]))
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession


class FeatureFrame:
    """A DataFrame wrapper carrying the store context; composable."""

    def __init__(self, spark: SparkSession, df: DataFrame, lineage: "dict | None" = None):
        self.spark = spark
        self.df = df
        self.lineage = lineage or {}

    def _wrap(self, df: DataFrame) -> "FeatureFrame":
        return FeatureFrame(self.spark, df, self.lineage)

    # -- plan builders -------------------------------------------------
    def with_event_time(self, doc_id: str = "doc_id", mode: str = "xxhash"):
        from pulsarfeatureextractor_spark.sources.tokenized import with_event_time

        return self._wrap(with_event_time(self.df, doc_id, mode))

    def features(self, feature_set: "str | Sequence[str]" = "lyon",
                 tokens_col: str = "tokens", drop: Sequence[str] = ()):
        """Every Arrow family of the set(s) in ONE Python crossing,
        dropping ``drop`` at its boundary (see
        functions.featureset.extract_features)."""
        from pulsarfeatureextractor_spark.functions.featureset import extract_features

        return self._wrap(extract_features(self.df, feature_set, tokens_col, drop))

    def asof_join(self, right, **kwargs):
        from pulsarfeatureextractor_spark.operators.asof import asof_join

        right_df = right.df if isinstance(right, FeatureFrame) else right
        return self._wrap(asof_join(self.df, right_df, **kwargs))

    def sessionize(self, by="doc_id", ts="event_time", gap_seconds: float = 1800.0):
        from pulsarfeatureextractor_spark.operators.sessionize import sessionize

        return self._wrap(sessionize(self.df, by, ts, gap_seconds))

    def lagged(self, by="doc_id", ts="event_time", cols: Sequence[str] = (), **kw):
        from pulsarfeatureextractor_spark.operators.windows import lagged

        return self._wrap(lagged(self.df, by, ts, list(cols), **kw))

    def ffill(self, by="doc_id", ts="event_time", cols: Sequence[str] = ()):
        from pulsarfeatureextractor_spark.operators.windows import ffill

        return self._wrap(ffill(self.df, by, ts, list(cols)))

    def where(self, cond):
        return self._wrap(self.df.where(cond))

    def select(self, *cols):
        return self._wrap(self.df.select(*cols))

    def drop(self, *cols):
        return self._wrap(self.df.drop(*cols))

    # -- actions -------------------------------------------------------
    def write(self, out_dir: str, partition_cols: Iterable[str] = ("source",),
              batch_size: int = 0) -> dict:
        from pulsarfeatureextractor_spark.sinks.partitioned import run_partitioned_job

        return run_partitioned_job(
            self.df, out_dir, list(partition_cols), lineage=self.lineage,
            batch_size=batch_size,
        )

    def toPandas(self):
        return self.df.toPandas()


class FeatureStore:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def read_snapshot(self, table_path: str, snapshot_id: "int | None" = None) -> FeatureFrame:
        from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable

        t = IcebergLikeTable(table_path)
        man = t.manifest(snapshot_id)
        lineage = {
            "snapshot_id": man["snapshot_id"],
            "partition_spec_in": man["partition_spec"],
            "input_manifest": [f["path"] for f in man["files"]],
        }
        return FeatureFrame(self.spark, t.read(self.spark, man["snapshot_id"]), lineage)

    def read_incremental(
        self,
        table_path: str,
        from_snapshot: int,
        to_snapshot: "int | None" = None,
    ) -> FeatureFrame:
        """Incremental backfill entry point: only the data added after
        ``from_snapshot`` (manifest diff; compactions contribute
        nothing, overwrites raise — see IcebergLikeTable.read_incremental).
        Lineage records the snapshot interval."""
        from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable

        t = IcebergLikeTable(table_path)
        if to_snapshot is None:
            ids = t.snapshot_ids()
            if not ids:
                raise FileNotFoundError(f"no snapshots under {table_path}")
            to_snapshot = ids[-1]
        lineage = {
            "snapshot_id": to_snapshot,
            "incremental_from": from_snapshot,
            "partition_spec_in": t.manifest(to_snapshot).get(
                "partition_spec", []
            ),
        }
        return FeatureFrame(
            self.spark,
            t.read_incremental(self.spark, from_snapshot, to_snapshot),
            lineage,
        )

    def read_parquet(self, path: str) -> FeatureFrame:
        return FeatureFrame(self.spark, self.spark.read.parquet(path))

    def frame(self, df: DataFrame) -> FeatureFrame:
        return FeatureFrame(self.spark, df)
