"""Sinks: Iceberg-like snapshot manifests and the partitioned write
whose output is one such table, resumed from its head manifest
(SURVEY.md §2B S1/S3/S4)."""

from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable  # noqa: F401
from pulsarfeatureextractor_spark.sinks.partitioned import (  # noqa: F401
    run_partitioned_job,
)
