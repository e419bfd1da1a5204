"""Restartable partitioned sink whose output is an ``IcebergLikeTable``.

North-rule contract (BASELINE.json): per-partition outputs carry
lineage (snapshot-id, partition spec, input-file manifest) and metrics,
and a killed job re-emits ONLY missing partitions on rerun.

Design:

- the data lands in Spark's hive layout under ``out_dir``, one atomic
  parquet job per batch of partitions with dynamic partition
  overwrite (a write option): a partition dir is fully committed or
  invisible, and rewriting it is idempotent;
- each batch then commits one ``append`` snapshot of
  ``IcebergLikeTable(<out_dir>/_table)`` listing its files, with their
  partition values and footer row counts.  The snapshot's ``metrics``
  hold the run's lineage plus ``batch_metrics`` (rows, partitions)
  from the write's own ``df.observe`` — no second scan.  Readers of
  ``out_dir`` (Spark, pyarrow's hive dataset) skip the ``_`` dir;
- that table's head manifest is the driver-side checkpoint: its files'
  partitions are the done keys, and a rerun whose lineage differs from
  the head snapshot's is refused.

The reference has no notion of resume (a killed run restarts its
directory walk from scratch; SURVEY.md §3.1) — this is new semantics
mandated by the recast.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.sinks.manifest import (
    NULL_PARTITION,
    IcebergLikeTable,
    _list_parquet,
    _partition_values,
)

TABLE_DIR = "_table"


def _partition_key_expr(partition_cols: Sequence[str]):
    """THE canonical partition-key expression — the batch filter, the
    observed keys and (through :func:`_manifest_key`) the done keys all
    take this form, so a key can never be computed two different ways.
    NULL-safe: ``concat_ws`` silently skips NULLs (which would alias
    ('a', NULL, 'b') with ('a', 'b')), so each value is coalesced to
    the hive null token first — an empty string too, since Spark writes
    it to the same directory; non-string types render via Spark's cast
    (booleans as 'true'/'false', matching the writer's directory
    names), never Python ``str()``."""
    return F.concat_ws(
        "/",
        *[
            F.coalesce(F.nullif(F.col(c).cast("string"), F.lit("")),
                       F.lit(NULL_PARTITION))
            for c in partition_cols
        ],
    )


def _manifest_key(values: dict, partition_cols: Sequence[str]) -> str:
    """The :func:`_partition_key_expr` form of a manifest file's
    (unescaped) partition values."""
    return "/".join(
        NULL_PARTITION if values[c] is None else values[c] for c in partition_cols
    )


def _refuse_stale_resume(head: dict, lineage: dict, table_path: str) -> None:
    """Done keys are skipped only when they were written from this
    run's lineage and partition spec: a rerun after a new snapshot, or
    with another feature set, would otherwise keep the old rows and
    report nothing to write.  Compared in the manifest's JSON form
    (written with ``default=str``)."""
    want = json.loads(json.dumps(lineage, default=str))
    have = {"partition_spec": head["partition_spec"], **head["metrics"]}
    for field, value in want.items():
        if have.get(field) != value:
            raise ValueError(
                f"output table {table_path} holds partitions written with "
                f"{field}={have.get(field)!r}, but this run has "
                f"{field}={value!r}; resuming would mix the two in one "
                "output — write to a new --output instead")


def run_partitioned_job(
    df: DataFrame,
    out_dir: str,
    partition_cols: Sequence[str],
    lineage: "dict | None" = None,
    batch_size: int = 0,
    fail_after_batches: int = 0,
) -> dict:
    """Write ``df`` partitioned by ``partition_cols``; a rerun resumes.

    Returns ``{"written": [keys...], "skipped": [keys...]}``.

    - ``batch_size=0``: all missing partitions in ONE Spark job
      (fastest; resume granularity = whole run).
    - ``batch_size=k``: k partitions per atomic job, each committed as
      a snapshot of ``<out_dir>/_table`` — a kill between batches loses
      only the in-flight batch and the rerun re-emits exactly the
      missing partitions.
    - ``fail_after_batches`` (tests only): simulate a mid-run kill.

    Partitions in the output table are only skipped when the head
    snapshot's lineage equals ``lineage``; any difference raises
    ``ValueError`` naming the field, as do no or a blank partition
    column.

    Scale note: ``batch_size=0`` evaluates ``df`` once — one SQL
    execution, no planning job: the done keys are filtered out with
    ``isin`` and the written keys come back through the write's
    ``Observation`` (#partitions values, not #rows).  ``batch_size=k``
    first collects the distinct missing keys (one extra evaluation of
    ``df``'s lineage), then runs one write per batch.  Commits list
    ``out_dir`` and read footers on the driver: no Spark action.
    """
    part_cols = list(partition_cols)
    if not part_cols or not all(c.strip() for c in part_cols):
        # an unpartitioned overwrite would replace out_dir, _table included
        raise ValueError(f"partition_cols {part_cols!r}: name at least one "
                         "column, and no blank one")
    lineage = lineage or {}
    # absolute and '..'-free like the table path: the committed file
    # paths must be the ones Spark's writer and file index use
    out_dir = os.path.abspath(out_dir)
    table = IcebergLikeTable(os.path.join(out_dir, TABLE_DIR))
    done: list[str] = []
    if table.snapshot_ids():
        head = table.manifest()
        _refuse_stale_resume(head, {"partition_spec": part_cols, **lineage},
                             table.path)
        done = sorted({_manifest_key(f["partition"], part_cols)
                       for f in head["files"]})
    todo_df = df.withColumn("__key", _partition_key_expr(part_cols))
    if done:
        todo_df = todo_df.where(~F.col("__key").isin(done))

    batches: "list[list[str] | None]"
    if batch_size <= 0:
        # one write, no planning job: the batch is "every key not yet
        # done"
        batches = [None]
    else:
        todo = sorted(r["__key"] for r in todo_df.select("__key").distinct().collect())
        batches = [todo[i:i + batch_size] for i in range(0, len(todo), batch_size)]

    written: list[str] = []
    for bi, batch in enumerate(batches):
        if fail_after_batches and bi >= fail_after_batches:
            raise RuntimeError(f"simulated kill before batch {bi}")
        obs = Observation(f"batch-{bi}")
        batch_df = todo_df
        if batch is not None:
            batch_df = batch_df.where(F.col("__key").isin(batch))
        # the written keys come from the write itself, not the plan
        observed = batch_df.observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.collect_set("__key").alias("__keys"),
        ).drop("__key")
        # dynamic overwrite replaces only the batch's partitions: a
        # batch's rerun is idempotent and ``_table`` is never touched
        (observed.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(*part_cols).parquet(out_dir))
        metrics = dict(obs.get)
        keys = sorted(metrics.pop("__keys"))
        if not keys:  # every partition was already done
            continue
        metrics["partitions"] = len(keys)
        # the batch's partition dirs hold exactly its files now
        keyset = set(keys)
        files = [p for p in _list_parquet(out_dir) if _manifest_key(
            _partition_values(out_dir, p), part_cols) in keyset]
        table.commit(files, out_dir, "append", part_cols,
                     df.schema.jsonValue(),
                     {**lineage, "batch_metrics": metrics})
        written.extend(keys)

    return {"written": written, "skipped": done}
