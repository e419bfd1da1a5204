from pulsarfeatureextractor_spark.operators.asof import asof_join, asof_self_join
from pulsarfeatureextractor_spark.operators.sessionize import sessionize, session_aggregates
from pulsarfeatureextractor_spark.operators.windows import (
    ffill,
    bfill,
    lagged,
    rolling_agg,
    top_k_per_group,
)
from pulsarfeatureextractor_spark.operators.salt import salted_join

__all__ = [
    "asof_join",
    "asof_self_join",
    "sessionize",
    "session_aggregates",
    "ffill",
    "bfill",
    "lagged",
    "rolling_agg",
    "top_k_per_group",
    "salted_join",
]
