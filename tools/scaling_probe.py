"""Per-stage scaling decomposition (diagnostic, not part of the bench).

Times each pipeline component separately at one parallelism level so the
non-scaling component can be identified:

  scan   — parquet read + event_time + select (no Python)
  lyon   — scan + fused moments only
  feats  — scan + fused moments+scores (the Python boundary)
  join   — scan + as-of join WITHOUT features (shuffle + sort + window)
  full   — the whole scaling workload

Usage: taskset -c 0-7 python tools/scaling_probe.py 8 /tmp/bench_input
       python tools/scaling_probe.py 32 /tmp/bench_input
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(sys.argv[1])
    input_dir = sys.argv[2]
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    from pulsarfeatureextractor_spark.functions.featureset import extract_features
    from pulsarfeatureextractor_spark.operators.asof import asof_join
    from pulsarfeatureextractor_spark.session import get_spark
    from pulsarfeatureextractor_spark.sources.tokenized import with_event_time

    extra = {"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024)}
    if os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/spark_bench"
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8),
                      app_name=f"probe-{cpus}", extra_confs=extra)

    def scan():
        s = with_event_time(spark.read.parquet(os.path.join(input_dir, "sequences")))
        return s.select("doc_id", "event_time", "tokens")

    def snaps():
        return spark.read.parquet(os.path.join(input_dir, "snapshots"))

    cases = {
        "scan": lambda: scan(),
        "lyon": lambda: extract_features(scan(), "lyon", drop=("tokens",)),
        "feats": lambda: extract_features(scan(), ("lyon", "thornton"),
                                          drop=("tokens",)),
        "join_only": lambda: asof_join(
            scan().drop("tokens"), snaps(), on="event_time", right_on="obs_time",
            by="doc_id", value_cols=["f_mean", "f_std", "f_skew", "f_kurt"],
            strategy="window"),
        "full": lambda: asof_join(
            extract_features(scan(), ("lyon", "thornton"), drop=("tokens",)),
            snaps(), on="event_time", right_on="obs_time", by="doc_id",
            value_cols=["f_mean", "f_std", "f_skew", "f_kurt"],
            strategy="window"
        ).select("doc_id", "event_time", "mean", "stdev", "skew", "kurt",
                 "f_mean", "f_std"),
    }

    out = {"cpus": cpus}
    for name, build in cases.items():
        build().write.format("noop").mode("overwrite").save()  # warmup
        best = []
        for _ in range(runs):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            best.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min": min(best), "all": best}
    print(json.dumps(out))
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.terminate()
        except Exception:
            pass


if __name__ == "__main__":
    main()
