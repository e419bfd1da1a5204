"""Iceberg-like snapshot layer over parquet (SURVEY.md §1.4).

No Iceberg runtime jar is available offline, so this layer reproduces
the *surface the north rule needs* on plain parquet + JSON sidecars:

- monotonic **snapshot_id** per committed write,
- a **partition spec** recorded with every snapshot,
- an **input-file manifest** per snapshot: every data file with its
  row count and per-column min/max stats (pruning + lineage),
- **time travel**: read the table as of any snapshot id (reads exactly
  the files that snapshot's manifest lists — late files are invisible).

The semantics mirror Iceberg's snapshot/manifest model; nothing here
switches to a real Iceberg catalog, so moving to ``iceberg-spark-runtime``
means changing the call sites to ``spark.read.format("iceberg")``.

Commit protocol (crash safety without table-format transactions):
data files are written into an immutable ``data/snap-<uuid>/``
directory FIRST; the manifest JSON naming that directory is written
with write-temp + atomic ``os.replace`` LAST.  A crash between the two
leaves an orphan data dir that no manifest references — invisible to
every reader, exactly Iceberg's orphan-file semantics.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "snapshots"
DATA_DIR = "data"


def _uri_local_path(p: str) -> str:
    """Canonical local path for a file URI or bare path: `file:/x`,
    `file:///x` and `/x` all map to `/x`.  Non-file schemes (s3a, hdfs)
    pass through whole so distinct stores never collide."""
    from urllib.parse import unquote, urlparse

    u = urlparse(p)
    if u.scheme in ("", "file"):
        return unquote(u.path) or p
    return p


def _fsync_write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)  # atomic commit


def _file_stats(spark: SparkSession, files: list[str]) -> list[dict]:
    """Per-file row counts + min/max column stats from parquet footers.

    Footer-only reads (pyarrow metadata) — never a data scan; this is
    what lets ``read_snapshot`` prune files before Spark ever sees them.
    """
    import pyarrow.parquet as pq

    out = []
    for path in files:
        md = pq.ParquetFile(path).metadata
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                name = col.path_in_schema
                lo, hi = st.min, st.max
                if isinstance(lo, bytes):
                    try:
                        lo, hi = lo.decode(), hi.decode()
                    except UnicodeDecodeError:
                        continue
                if name not in mins or lo < mins[name]:  # type: ignore[operator]
                    mins[name] = lo
                if name not in maxs or hi > maxs[name]:  # type: ignore[operator]
                    maxs[name] = hi
        out.append({
            "path": path,
            "rows": md.num_rows,
            "bytes": os.path.getsize(path),
            "min": mins,
            "max": maxs,
        })
    return out


def _partition_values(base: str, path: str) -> dict:
    """Hive-style k=v partition values encoded in the file's dir path."""
    rel = os.path.relpath(os.path.dirname(path), base)
    vals = {}
    for seg in rel.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            vals[k] = v
    return vals


def _list_parquet(root: str) -> list[str]:
    found = []
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                found.append(os.path.join(dirpath, n))
    return sorted(found)


@dataclass
class IcebergLikeTable:
    """A parquet directory with Iceberg-like snapshot manifests."""

    path: str
    spark: SparkSession = field(repr=False, default=None)  # type: ignore[assignment]

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.path, MANIFEST_DIR)

    def snapshot_ids(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        ids = []
        for name in os.listdir(self.manifest_dir):
            if name.startswith("snap-") and name.endswith(".json"):
                ids.append(int(name[len("snap-"):-len(".json")]))
        return sorted(ids)

    def manifest(self, snapshot_id: "int | None" = None) -> dict:
        ids = self.snapshot_ids()
        if not ids:
            raise FileNotFoundError(f"no snapshots under {self.path}")
        sid = ids[-1] if snapshot_id is None else snapshot_id
        with open(os.path.join(self.manifest_dir, f"snap-{sid}.json")) as f:
            return json.load(f)

    def write(
        self,
        df: DataFrame,
        partition_by: "list[str] | None" = None,
        mode: str = "append",
        metrics: "dict | None" = None,
        operation: "str | None" = None,
    ) -> dict:
        """Commit ``df`` as a new snapshot; returns the manifest dict.

        ``mode="append"`` layers a new snapshot whose manifest = previous
        files + new files (Iceberg append); ``mode="overwrite"`` starts a
        manifest from only the new files (Iceberg overwrite — old data
        files stay on disk for time travel of old snapshot ids).
        """
        ids = self.snapshot_ids()
        sid = (ids[-1] + 1) if ids else 1
        data_dir = os.path.join(self.path, DATA_DIR, f"snap-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)

        spark = df.sparkSession
        new_files = _file_stats(spark, _list_parquet(data_dir))
        for f in new_files:
            # base dir lets the reader rebuild hive-partition columns
            # (partitionBy encodes them in dir names, not data pages);
            # partition values are ALSO recorded per file, Iceberg-style
            f["base"] = data_dir
            f["partition"] = _partition_values(data_dir, f["path"])
        files = new_files
        if mode == "append" and ids:
            files = self.manifest(ids[-1])["files"] + new_files
        manifest = {
            "snapshot_id": sid,
            "parent_snapshot_id": ids[-1] if ids else None,
            "committed_at": time.time(),
            "operation": operation or mode,
            "partition_spec": partition_by or [],
            "schema": df.schema.jsonValue(),
            "files": files,
            "total_rows": sum(f["rows"] for f in files),
            "metrics": metrics or {},
        }
        os.makedirs(self.manifest_dir, exist_ok=True)
        _fsync_write_json(
            os.path.join(self.manifest_dir, f"snap-{sid}.json"), manifest
        )
        return manifest

    def _scan_files(
        self,
        spark: SparkSession,
        files: "list[dict]",
        schema_json: dict,
        with_file_col: bool = False,
    ) -> DataFrame:
        """Union-read a manifest file list, grouped by base dir so Spark
        re-derives hive partition columns; optionally attach the
        ``_metadata.file_path`` hidden column (which must be selected
        directly on each scan — it does not survive a union)."""
        from pyspark.sql import types as T

        if not files:
            schema = T.StructType.fromJson(schema_json)
            if with_file_col:
                schema = T.StructType(
                    list(schema.fields) + [T.StructField("__file", T.StringType())]
                )
            return spark.createDataFrame([], schema)
        by_base: dict[str, list[str]] = {}
        for f in files:
            by_base.setdefault(f.get("base", ""), []).append(f["path"])
        df = None
        for base, paths in sorted(by_base.items()):
            reader = spark.read
            if base:
                reader = reader.option("basePath", base)
            part = reader.parquet(*paths)
            if with_file_col:
                part = part.select(
                    "*", F.col("_metadata.file_path").alias("__file")
                )
            df = part if df is None else df.unionByName(
                part, allowMissingColumns=True
            )
        return df

    def merge_upsert(
        self,
        updates: DataFrame,
        keys: "list[str]",
        metrics: "dict | None" = None,
        broadcast_keys: bool = True,
    ) -> dict:
        """Copy-on-write MERGE by key (Iceberg ``MERGE INTO`` with
        copy-on-write row-level ops): rows whose key matches an
        incoming row are replaced, new keys are inserted — and ONLY the
        data files that actually contain a matched key are rewritten.
        Untouched files carry over into the new manifest unchanged, so
        the write cost scales with the touched-file footprint, not the
        table size.

        Mechanics: the current snapshot is scanned with the
        ``_metadata.file_path`` hidden column; a semi join against the
        distinct incoming keys yields the touched-file list (driver
        sees file PATHS only — O(#files) metadata).  Survivor rows
        (touched files ∖ matched keys) union the updates into a new
        data directory; the manifest lists untouched-prev + new files.
        Time travel to pre-merge snapshots is unaffected.  Schema
        evolution is tolerated on both sides (unionByName with missing
        columns null-filled); the new manifest records the merged
        schema.  ``broadcast_keys=False`` drops the broadcast hints on
        the key joins (use for update batches too large to broadcast —
        AQE then picks the join strategy).
        """
        spark = updates.sparkSession
        ids = self.snapshot_ids()
        if not ids:
            return self.write(updates, mode="overwrite", metrics=metrics)
        man = self.manifest(ids[-1])
        cur = self._scan_files(spark, man["files"], man["schema"], with_file_col=True)
        key_df = updates.select(*keys).dropDuplicates(keys)
        maybe_b = F.broadcast if broadcast_keys else (lambda d: d)
        # Keep the RAW ``_metadata.file_path`` strings for the survivor
        # filter (exact match against the same column is render-proof),
        # and compare against manifest paths through ONE URI parser
        # instead of hand-stripped 'file:' prefixes — if Spark renders
        # the scheme differently the old isin silently matched nothing,
        # carrying stale rows alongside the updates (ADVICE r2).
        touched_raw = [
            r["__file"]
            for r in cur.join(maybe_b(key_df), keys, "left_semi")
            .select("__file")
            .distinct()
            .collect()
        ]
        touched = {_uri_local_path(p) for p in touched_raw}
        untouched_prev = [
            f for f in man["files"] if _uri_local_path(f["path"]) not in touched
        ]
        manifest_norm = {_uri_local_path(f["path"]) for f in man["files"]}
        unmapped = sorted(touched - manifest_norm)
        if unmapped:
            # Must fire on ANY unmapped touched file, not only when ALL
            # fail to map: under mixed rendering the unmapped file would
            # stay in untouched_prev while its surviving rows are also
            # rewritten into the new data file — silent row duplication
            # (ADVICE r3 #1).
            raise RuntimeError(
                "merge_upsert: "
                f"{len(unmapped)} of {len(touched)} touched file(s) "
                f"(e.g. {unmapped[0]!r}) map to no manifest path — "
                "file_path rendering and manifest paths disagree; "
                "refusing a merge that would duplicate their rows."
            )
        survivors = (
            cur.where(F.col("__file").isin(touched_raw))
            .join(maybe_b(key_df), keys, "left_anti")
            .drop("__file")
        )
        new_data = survivors.unionByName(updates, allowMissingColumns=True)

        sid = ids[-1] + 1
        data_dir = os.path.join(self.path, DATA_DIR, f"snap-{uuid.uuid4().hex}")
        new_data.write.mode("overwrite").parquet(data_dir)
        new_files = _file_stats(spark, _list_parquet(data_dir))
        for f in new_files:
            f["base"] = data_dir
            f["partition"] = _partition_values(data_dir, f["path"])
        manifest = {
            "snapshot_id": sid,
            "parent_snapshot_id": ids[-1],
            "committed_at": time.time(),
            "operation": "merge",
            "partition_spec": man.get("partition_spec", []),
            "schema": new_data.schema.jsonValue(),
            "files": untouched_prev + new_files,
            "total_rows": sum(f["rows"] for f in untouched_prev + new_files),
            "metrics": {
                **(metrics or {}),
                "files_rewritten": len(touched),
                "files_carried": len(untouched_prev),
            },
        }
        os.makedirs(self.manifest_dir, exist_ok=True)
        _fsync_write_json(
            os.path.join(self.manifest_dir, f"snap-{sid}.json"), manifest
        )
        return manifest

    def read(
        self,
        spark: SparkSession,
        snapshot_id: "int | None" = None,
        where: "F.Column | None" = None,
        prune: "tuple[str, object, object] | None" = None,
    ) -> DataFrame:
        """Scan the table at a snapshot (default: latest).

        ``where`` is a plain row filter applied after the scan (it still
        pushes down to parquet row groups via Catalyst, but does NOT
        drop whole files).  ``prune=(column, lo, hi)`` additionally does
        manifest-level FILE pruning — files whose recorded min/max for
        ``column`` are provably disjoint from [lo, hi] never reach the
        Spark scan at all (the manifest analogue of Iceberg's scan
        planning).  Callers with a range predicate should pass BOTH:
        prune for file skipping, where for row-level exactness.
        """
        man = self.manifest(snapshot_id)
        files = man["files"]
        if prune is not None:
            col, lo, hi = prune
            keep = set(self.prune_files(col, lo, hi, snapshot_id))
            files = [f for f in files if f["path"] in keep]
        df = self._scan_files(spark, files, man["schema"])
        if where is not None:
            df = df.where(where)
        return df

    def read_incremental(
        self,
        spark: SparkSession,
        from_snapshot: int,
        to_snapshot: "int | None" = None,
    ) -> DataFrame:
        """Scan ONLY the data added after ``from_snapshot`` (up to
        ``to_snapshot``, default latest) — the incremental-processing
        primitive: a feature-backfill job that already processed
        snapshot N re-runs over the manifest DIFF, not the table.

        The snapshot chain is walked per operation (Iceberg incremental
        append-scan semantics):

        - ``append`` / ``merge`` snapshots contribute their newly-added
          files (a merge's rewritten files reappear — their content is
          new — carried files don't);
        - ``compact`` snapshots contribute NOTHING: they re-layout
          existing rows into new file paths, so a raw path diff would
          re-surface the whole table as fresh data;
        - a semantic ``overwrite`` in the interval raises — there is no
          meaningful append diff across a table replacement.
        """
        ids = self.snapshot_ids()
        to = ids[-1] if to_snapshot is None else to_snapshot
        prev_paths = {f["path"] for f in self.manifest(from_snapshot)["files"]}
        new_files: list[dict] = []
        for sid in [i for i in ids if from_snapshot < i <= to]:
            man = self.manifest(sid)
            op = man.get("operation", "append")
            if op == "overwrite":
                raise ValueError(
                    f"snapshot {sid} is a table overwrite: no incremental "
                    f"append diff exists across it (restart from {sid})"
                )
            if op in ("append", "merge"):
                new_files.extend(
                    f for f in man["files"] if f["path"] not in prev_paths
                )
            # compact: pure re-layout, content unchanged — skip
            prev_paths = {f["path"] for f in man["files"]}
        return self._scan_files(spark, new_files, self.manifest(to)["schema"])

    def compact(self, target_file_mb: int = 128) -> dict:
        """Bin-pack small files into ~target-sized ones as a NEW
        overwrite snapshot (Iceberg rewrite_data_files surface).  Old
        snapshots stay readable until expired; readers never see a
        half-compacted state (manifest commit is atomic)."""
        man = self.manifest()
        spark = SparkSession.getActiveSession()
        df = self.read(spark)
        total_bytes = sum(f["bytes"] for f in man["files"])
        n_files = max(1, int(total_bytes / (target_file_mb * 1024 * 1024)) + 1)
        part_cols = man.get("partition_spec") or []
        compacted = df.repartition(n_files, *part_cols) if part_cols else \
            df.coalesce(n_files)
        new_man = self.write(compacted, partition_by=part_cols or None,
                             mode="overwrite", operation="compact",
                             metrics={"compacted_from": len(man["files"])})
        return {"before_files": len(man["files"]),
                "after_files": len(new_man["files"]),
                "snapshot_id": new_man["snapshot_id"]}

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshot manifests
        (Iceberg expire_snapshots surface).  Data files shared with
        surviving snapshots are untouched; newly-unreferenced files
        become orphans for :meth:`remove_orphans`."""
        ids = self.snapshot_ids()
        expired = ids[:-keep_last] if keep_last > 0 else ids
        for sid in expired:
            os.remove(os.path.join(self.manifest_dir, f"snap-{sid}.json"))
        return expired

    def remove_orphans(self, dry_run: bool = False) -> list[str]:
        """Delete data files referenced by NO surviving manifest —
        the cleanup for crash-orphaned dirs and expired snapshots."""
        referenced: set[str] = set()
        for sid in self.snapshot_ids():
            referenced.update(f["path"] for f in self.manifest(sid)["files"])
        data_root = os.path.join(self.path, DATA_DIR)
        orphans = [
            p for p in _list_parquet(data_root) if p not in referenced
        ] if os.path.isdir(data_root) else []
        if not dry_run:
            for p in orphans:
                os.remove(p)
            # drop now-empty snap dirs
            for d in os.listdir(data_root) if os.path.isdir(data_root) else []:
                full = os.path.join(data_root, d)
                if os.path.isdir(full) and not _list_parquet(full):
                    import shutil

                    shutil.rmtree(full, ignore_errors=True)
        return orphans

    def prune_files(self, column: str, lo, hi, snapshot_id: "int | None" = None) -> list[str]:
        """Manifest-stat file pruning for a closed range predicate."""
        man = self.manifest(snapshot_id)
        keep = []
        for f in man["files"]:
            fmin = f["min"].get(column)
            fmax = f["max"].get(column)
            if fmin is not None and fmax is not None and (fmax < lo or fmin > hi):
                continue  # provably disjoint
            keep.append(f["path"])
        return keep


def write_snapshot(df: DataFrame, path: str, partition_by=None, mode="append",
                   metrics=None) -> dict:
    return IcebergLikeTable(path).write(df, partition_by, mode, metrics)


def read_snapshot(spark: SparkSession, path: str, snapshot_id=None) -> DataFrame:
    return IcebergLikeTable(path).read(spark, snapshot_id)
