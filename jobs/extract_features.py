#!/usr/bin/env python
"""Batch feature-extraction job (spark-submit entry point).

The engine's deployment surface (BASELINE.json north_star):

    spark-submit --py-files engine.zip jobs/extract_features.py \
        --input /path/to/sequences_table --snapshot 3 \
        --output /path/to/features_out \
        --asof 2024-01-20T00:00:00 --gap-seconds 1800 --scores

Pipeline (SURVEY.md §3.2): snapshot scan (with manifest file pruning)
-> time filter -> derive event_time -> Lyon moments (+ optional
Thornton scores) -> as-of join of prior feature observations ->
lag/session features -> partitioned write committed as snapshots of the
output's own manifest table, carrying lineage (snapshot id, partition
spec, input manifest) + metrics.

Run it on a cluster by dropping --master local overrides; everything
below is master-agnostic.  The output is itself an IcebergLikeTable
(manifests under <output>/_table, one snapshot per committed batch,
lineage in each snapshot's metrics).  Resumability: re-running after a
kill re-emits only partitions missing from that table's head manifest.
A rerun whose lineage (snapshot, as-of, feature set, gap) differs from
the head snapshot's is refused: it needs a new --output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_pipeline(spark, args):
    from pyspark.sql import functions as F

    from pulsarfeatureextractor_spark.functions.featureset import extract_features
    from pulsarfeatureextractor_spark.operators.asof import asof_self_join
    from pulsarfeatureextractor_spark.operators.sessionize import sessionize
    from pulsarfeatureextractor_spark.operators.windows import lagged
    from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable
    from pulsarfeatureextractor_spark.sources.tokenized import with_event_time

    table = IcebergLikeTable(args.input)
    manifest = table.manifest(args.snapshot)
    # the snapshot the lineage names, even if a commit lands meanwhile
    seqs = table.read(spark, manifest["snapshot_id"])
    seqs = with_event_time(seqs)
    if args.asof:
        # leakage guard at the scan: nothing after the as-of instant is
        # ever read (predicate pushes down to the parquet row groups)
        seqs = seqs.where(F.col("event_time") <= F.lit(args.asof).cast("timestamp"))

    # Lyon moments are always computed (the as-of snapshots carry them);
    # the chosen set rides the SAME library call, so every Arrow family
    # shares one Python crossing.  Token arrays are dropped at that
    # boundary: they never come back from Python nor enter the as-of
    # shuffle.  Columns: the input's minus tokens, then Lyon, then the
    # set's own (for "all", its columns as extract_features orders them).
    feature_set = args.feature_set or ("all" if args.scores else "lyon")
    feats = extract_features(seqs, ("lyon", feature_set), drop=("tokens",))

    # prior observations of the same features (obs_time strictly before
    # event_time by construction) as-of joined back — W1 lag features.
    # The one-pass self join reads ``feats`` once: the scan and the
    # Arrow crossing run once, not once per as-of side.
    joined = asof_self_join(
        feats, on="event_time", by="doc_id",
        obs_on=F.col("event_time")
        - F.make_interval(secs=F.col("n_tok").cast("double")),
        values={"f_mean_obs": F.col("mean"), "f_std_obs": F.col("stdev")},
    )
    enriched = lagged(joined, "doc_id", "event_time", ["mean"], offsets=(1,))
    enriched = sessionize(enriched, "doc_id", "event_time", args.gap_seconds)
    lineage = {
        "snapshot_id": manifest["snapshot_id"],
        "partition_spec_in": manifest["partition_spec"],
        "input_manifest": [f["path"] for f in manifest["files"]],
        "asof": args.asof,
        "feature_set": feature_set,
        "gap_seconds": args.gap_seconds,
    }
    return enriched, lineage


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="IcebergLikeTable dir")
    ap.add_argument("--snapshot", type=int, default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--asof", default=None, help="ISO timestamp upper bound")
    ap.add_argument("--gap-seconds", type=float, default=1800.0)
    ap.add_argument("--scores", action="store_true",
                    help="default --feature-set to 'all' when no explicit "
                         "--feature-set is given")
    ap.add_argument("--feature-set", default=None,
                    choices=["lyon", "thornton", "stats", "widths", "peace", "spinn", "raw", "all"],
                    help="feature family to emit (reference -t switch "
                         "analogue; default lyon, or all with --scores)")
    ap.add_argument("--partition-cols", default="source")
    ap.add_argument("--batch-size", type=int, default=0)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pulsarfeatureextractor_spark.session import get_spark
    from pulsarfeatureextractor_spark.sinks.partitioned import run_partitioned_job

    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="extract_features", master=args.master)
    try:
        df, lineage = build_pipeline(spark, args)
        result = run_partitioned_job(
            df,
            args.output,
            args.partition_cols.split(","),
            lineage=lineage,
            batch_size=args.batch_size,
        )
        print(json.dumps({"status": "ok", **{k: len(v) for k, v in result.items()}}))
        return result
    finally:
        if not preexisting:  # don't stop a session we merely joined
            spark.stop()


if __name__ == "__main__":
    main()
