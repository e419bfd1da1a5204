"""Resumable partitioned sink with per-partition lineage + metrics.

North-rule contract (BASELINE.json): per-partition outputs carry
lineage (snapshot-id, partition spec, input-file manifest) and metrics,
and a killed job re-emits ONLY missing partitions on rerun.

Design:

- resume bookkeeping is a driver-side JSON checkpoint manifest listing
  completed partition keys (fsync'd, atomically replaced after every
  batch commit — a crash can lose at most the in-flight batch, never
  corrupt the file);
- the default single-batch write (``batch_size=0``) plans nothing up
  front: it filters out the completed keys and reads the keys it wrote
  back from the write's own ``df.observe`` accumulator, so the input
  lineage runs exactly once;
- batched writes need their key list first: ``resume_plan`` = planned
  partitions LEFT ANTI JOIN completed partitions, a relational diff
  rather than driver-side set math at scale (SURVEY.md §2B J4);
- each batch of partitions is one atomic Spark parquet job writing
  under ``out_dir`` with dynamic partition overwrite, so a partition
  dir is either fully committed by the parquet protocol or invisible;
- per-partition row counts come from ``df.observe`` accumulators — no
  second scan — and are written into the partition's lineage sidecar
  together with the input snapshot id / spec / file manifest.

The reference has no notion of resume (a killed run restarts its
directory walk from scratch; SURVEY.md §3.1) — this is new semantics
mandated by the recast.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def load_checkpoint(path: str) -> dict:
    """Read the checkpoint manifest ({'done': {partition_key: info}})."""
    if not os.path.exists(path):
        return {"done": {}}
    with open(path) as f:
        return json.load(f)


def _save_checkpoint(path: str, ckpt: dict) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(ckpt, f, indent=1, default=str)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


# Spark's hive-style writer renders a NULL partition value as this
# directory name; using the same token in the checkpoint key keeps the
# key, the batch filter, and the on-disk layout in agreement.
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_key_expr(partition_cols: Sequence[str]):
    """THE canonical partition-key expression — every consumer (resume
    diff, batch filter, checkpoint bookkeeping, sidecar paths) derives
    keys from this ONE Spark expression, so a key can never be computed
    two different ways.  NULL-safe: ``concat_ws`` silently skips NULLs
    (which would alias ('a', NULL, 'b') with ('a', 'b')), so each value
    is coalesced to the hive null token first; non-string types render
    via Spark's cast (booleans as 'true'/'false', matching the writer's
    directory names), never Python ``str()``."""
    return F.concat_ws(
        "/",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(NULL_PARTITION))
            for c in partition_cols
        ],
    )


def resume_plan(
    planned: DataFrame, checkpoint_path: str, partition_cols: Sequence[str]
) -> DataFrame:
    """planned partitions ∖ completed partitions, as a LEFT ANTI join.

    ``planned`` must have one row per partition key.  Completed keys are
    parallelized from the checkpoint and anti-joined — the same plan
    works when 'planned' is 10^5 partitions of a 10^12-row table.
    """
    spark = planned.sparkSession
    ckpt = load_checkpoint(checkpoint_path)
    done_keys = list(ckpt["done"].keys())
    if not done_keys:
        return planned
    done_df = spark.createDataFrame(
        [(k,) for k in done_keys], schema="__done_key string"
    )
    return (
        planned.withColumn("__key", _partition_key_expr(partition_cols))
        .join(
            F.broadcast(done_df),
            F.col("__key") == F.col("__done_key"),
            "left_anti",
        )
        .drop("__key")
    )


def _refuse_stale_resume(ckpt: dict, lineage: dict, checkpoint_path: str) -> None:
    """A done key is skipped only when it was written from this run's
    lineage: a rerun after a new snapshot, or with another feature set,
    would otherwise keep the old rows and report nothing to write.
    Compared in the checkpoint's JSON form (written with ``default=str``)."""
    want = json.loads(json.dumps(lineage, default=str))
    for key, info in ckpt["done"].items():
        for field, value in want.items():
            if info.get(field) != value:
                raise ValueError(
                    f"checkpoint {checkpoint_path} holds partition {key!r} "
                    f"written with {field}={info.get(field)!r}, but this run "
                    f"has {field}={value!r}; resuming would mix the two in "
                    "one output — write to a new --output instead")


def run_partitioned_job(
    df: DataFrame,
    out_dir: str,
    partition_cols: Sequence[str],
    checkpoint_path: "str | None" = None,
    lineage: "dict | None" = None,
    batch_size: int = 0,
    fail_after_batches: int = 0,
) -> dict:
    """Write ``df`` partitioned by ``partition_cols``, resumably.

    Returns ``{"written": [keys...], "skipped": [keys...]}``.

    - ``batch_size=0``: all missing partitions in ONE Spark job
      (fastest; resume granularity = whole run).
    - ``batch_size=k``: k partitions per atomic job, checkpoint updated
      after each — a kill between batches loses only the in-flight
      batch and the rerun re-emits exactly the missing partitions.
    - ``fail_after_batches`` (tests only): simulate a mid-run kill.

    A checkpointed key is only skipped when its recorded lineage equals
    ``lineage``; any difference raises ``ValueError`` naming the field.

    Scale note: ``batch_size=0`` evaluates ``df`` once — one SQL
    execution, no planning job.  The completed keys are filtered out
    with ``isin`` and the written keys come back through the write's
    ``Observation`` as a ``collect_set`` (#partitions values, not
    #rows).  ``batch_size=k`` first collects the distinct partition
    keys (one extra evaluation of ``df``'s lineage, reduced to
    #partitions rows), then runs one plain partitioned parquet write
    per batch with AQE sizing.
    """
    checkpoint_path = checkpoint_path or os.path.join(out_dir, "_checkpoint.json")
    part_cols = list(partition_cols)
    lineage = lineage or {}
    ckpt = load_checkpoint(checkpoint_path)
    _refuse_stale_resume(ckpt, lineage, checkpoint_path)
    skipped = sorted(ckpt["done"].keys())
    key_expr = _partition_key_expr(part_cols)

    batches: "list[list[str] | None]"
    if batch_size <= 0:
        # one write, no planning job: the batch is "every key not yet
        # done"
        batches = [None]
    else:
        # collect the SAME Spark-computed __key the batch filter uses —
        # a driver-side str() of raw values would disagree on NULLs
        # ('None') and booleans ('True'), silently dropping those
        # partitions while marking them done (data loss on every rerun).
        todo_df = resume_plan(df.select(*part_cols).distinct(),
                              checkpoint_path, part_cols)
        todo = sorted(
            r["__key"] for r in todo_df.select(key_expr.alias("__key")).collect()
        )
        if not todo:
            return {"written": [], "skipped": skipped}
        batches = [todo[i:i + batch_size] for i in range(0, len(todo), batch_size)]

    spark = df.sparkSession
    # dynamic overwrite: only the partitions present in the batch are
    # replaced — an interrupted batch's rerun is idempotent.  The conf
    # is restored on exit (this runs inside shared sessions — e.g. the
    # driver verify session — which must not inherit the mode).
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    written: list[str] = []
    try:
        for bi, batch in enumerate(batches):
            if fail_after_batches and bi >= fail_after_batches:
                raise RuntimeError(f"simulated kill before batch {bi}")
            obs = Observation(f"batch-{bi}")
            batch_df = df.withColumn("__key", key_expr)
            if batch is not None:
                batch_df = batch_df.where(F.col("__key").isin(batch))
            elif skipped:
                batch_df = batch_df.where(~F.col("__key").isin(skipped))
            # the written keys come from the write itself, not the plan
            observed = batch_df.observe(
                obs, F.count(F.lit(1)).alias("rows"),
                F.collect_set("__key").alias("__keys"),
            ).drop("__key")
            (observed.write.mode("overwrite")
             .partitionBy(*part_cols).parquet(out_dir))
            metrics = dict(obs.get)
            keys = sorted(metrics.pop("__keys"))
            if not keys:  # every partition was already done
                continue
            metrics["partitions"] = len(keys)
            for key in keys:
                sidecar = {
                    "partition": key,
                    "partition_spec": part_cols,
                    "batch_metrics": metrics,
                    **lineage,
                }
                part_dir = os.path.join(
                    out_dir, *[f"{c}={v}" for c, v in zip(part_cols, key.split("/"))]
                )
                if os.path.isdir(part_dir):
                    with open(os.path.join(part_dir, "_lineage.json"), "w") as f:
                        json.dump(sidecar, f, default=str)
                ckpt["done"][key] = sidecar
            _save_checkpoint(checkpoint_path, ckpt)
            written.extend(keys)
    finally:
        if prev_mode is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    return {"written": written, "skipped": skipped}
