"""Iceberg-like snapshot layer over parquet (SURVEY.md §1.4).

No Iceberg runtime jar is available offline, so this layer reproduces
the *surface the north rule needs* on plain parquet + JSON sidecars:

- monotonic **snapshot_id** per committed write,
- a **partition spec** recorded with every snapshot,
- an **input-file manifest** per snapshot: every data file with its
  row count and per-column min/max stats (pruning + lineage),
- **time travel**: read the table as of any snapshot id (reads exactly
  the files that snapshot's manifest lists — late files are invisible).

The manifest plans the scan: a read takes its file list and its schema
from the manifest, so building the read DataFrame starts no Spark
listing or schema-inference job whenever Spark's driver-side index of
a snapshot's data directory holds exactly the manifest's files for it
(see :meth:`IcebergLikeTable._scan_files`).  The recorded schema
covers every file a snapshot lists: an append records the head's
schema merged with its own (see :meth:`IcebergLikeTable.commit`).

The semantics mirror Iceberg's snapshot/manifest model; nothing here
switches to a real Iceberg catalog, so moving to ``iceberg-spark-runtime``
means changing the call sites to ``spark.read.format("iceberg")``.

Commit protocol (crash safety without table-format transactions):
data files are written FIRST — ``write``, ``merge_upsert`` and
``compact`` through ONE writer, ``partitionBy(spec)`` into an immutable
``data/snap-<uuid>/``; the partitioned sink into its output's hive
layout, committed to ``<out>/_table``, which takes only the sink's
appends — and :meth:`IcebergLikeTable.commit` publishes the manifest
naming them LAST, create-if-absent.  A crash between the two leaves
orphan files no manifest references: invisible to every reader, as in
Iceberg.  Two writers racing for one snapshot id cannot both win it:
an append re-bases on the new head, any other operation raises.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "snapshots"
DATA_DIR = "data"


def _uri_local_path(p: str) -> str:
    """Canonical local path for a file URI or bare path: `file:/x`,
    `file:///x` and `/x` all map to `/x`.  Only a URI is unquoted (a
    bare path is already a file name, '%' included); non-file schemes
    (s3a, hdfs) pass through whole so distinct stores never collide."""
    from urllib.parse import unquote, urlparse

    u = urlparse(p)
    if u.scheme == "file":
        return unquote(u.path) or p
    return p


class CommitConflictError(RuntimeError):
    """Another writer committed after the head this commit was planned on."""


# Spark's hive-style writer renders a NULL (or empty string) partition
# value as this directory name.
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _file_stats(files: list[str]) -> list[dict]:
    """Per-file row counts + min/max column stats from parquet footers.

    Footer-only reads (pyarrow metadata) — never a data scan; this is
    what lets ``read(prune=...)`` drop files before Spark ever sees them.
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
    """Hive-style k=v partition values encoded in the file's dir path,
    unescaped to the values a read returns: Spark escapes characters
    such as '/', ':' and '%' in directory names, and writes NULL as
    ``NULL_PARTITION`` (recorded as None)."""
    from urllib.parse import unquote

    rel = os.path.relpath(os.path.dirname(path), base)
    vals: dict = {}
    for seg in rel.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            vals[unquote(k)] = None if v == NULL_PARTITION else unquote(v)
    return vals


def _list_parquet(root: str) -> list[str]:
    """Parquet files under ``root``, skipping the ``_``/``.`` dirs
    Spark's readers skip too (``_temporary``, ``.spark-staging-*``, a
    sink's ``_table``)."""
    found = []
    for dirpath, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet"):
                found.append(os.path.join(dirpath, n))
    return sorted(found)


_INTEGRAL = ["byte", "short", "integer", "long"]
_FRACTIONAL = ["float", "double"]


def _wider_type(name: str, a, b):
    """The type column ``name`` takes over files written as ``a`` and
    as ``b`` (schema JSON types): the wider of two integral or of two
    fractional types, double for a byte/short/int and a fractional
    type.  Spark's parquet reader widens exactly these (not long to
    double); any other pair is refused."""
    if a == b:
        return a
    for ladder in (_INTEGRAL, _FRACTIONAL):
        if a in ladder and b in ladder:
            return max(a, b, key=ladder.index)
    to_double = _INTEGRAL[:3] + _FRACTIONAL
    if a in to_double and b in to_double:
        return "double"
    raise ValueError(
        f"column {name!r} is recorded as {a} but appended as {b}: "
        "no reader type holds both")


def _merge_schema(recorded: dict, appended: dict) -> dict:
    """The schema an append records over the head's: the recorded
    fields in order, each of them also appended at the wider type,
    then the fields only the append has.  A field on one side only is
    nullable (the other side's rows read it as NULL)."""
    new = {f["name"]: f for f in appended["fields"]}
    fields = []
    for f in recorded["fields"]:
        g = new.pop(f["name"], None)
        fields.append({**f, "nullable": True} if g is None else {
            **f, "type": _wider_type(f["name"], f["type"], g["type"]),
            "nullable": f["nullable"] or g["nullable"]})
    fields += [{**g, "nullable": True} for g in new.values()]
    return {**recorded, "fields": fields}


def _scan_base(reader, base: str, paths: "list[str]") -> DataFrame:
    """Read ``base`` as one root directory when Spark's index of it
    holds exactly ``paths``; otherwise read the explicit list."""
    try:
        whole = reader.parquet(base)
    except SparkRuntimeException:
        # a foreign layout beside the files broke partition discovery
        return reader.parquet(*paths)
    listed = {_uri_local_path(p) for p in whole.inputFiles()}
    if listed == {_uri_local_path(p) for p in paths}:
        return whole
    return reader.parquet(*paths)


@dataclass
class IcebergLikeTable:
    """A parquet directory with Iceberg-like snapshot manifests."""

    path: str
    spark: SparkSession = field(repr=False, default=None)  # type: ignore[assignment]

    def __post_init__(self) -> None:
        # Hadoop resolves a relative path and '..' textually when it
        # writes; the manifest's paths and bases must name the same
        # files, and match what Spark's file index reports for them.
        self.path = os.path.abspath(self.path)

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
    ) -> dict:
        """Commit ``df`` as a new snapshot; returns the manifest dict.

        ``mode="append"`` layers a new snapshot whose manifest = previous
        files + new files (Iceberg append); ``mode="overwrite"`` starts a
        manifest from only the new files (Iceberg overwrite — old data
        files stay on disk for time travel of old snapshot ids); any
        other mode raises ``ValueError``.  ``df`` is written as it is
        partitioned: its partitioning sets the file layout.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"write mode {mode!r}: use 'append' or 'overwrite'")
        head = self.manifest() if self.snapshot_ids() else None
        return self._write_snapshot(df, partition_by or [], mode, metrics, head)

    def _write_snapshot(self, df: DataFrame, spec: "list[str]", operation: str,
                        metrics: "dict | None", head: "dict | None",
                        carried: "list[dict] | None" = None) -> dict:
        """The one write path of ``write``, ``merge_upsert`` and
        ``compact``: ``df`` with ``partitionBy(spec)`` into a fresh
        ``data/snap-<uuid>/``, committed on ``head`` (None: empty table).
        Refused before writing if ``head`` lists files outside ``data/``,
        as a sink's ``<out>/_table`` does: its output would miss them."""
        own = os.path.join(self.path, DATA_DIR, "")
        if head and any(not _uri_local_path(f["path"]).startswith(own)
                        for f in head["files"]):
            raise ValueError(f"{self.path} is a partitioned sink's table: it "
                             f"takes only the sink's appends, not this {operation}")
        data_dir = os.path.join(self.path, DATA_DIR, f"snap-{uuid.uuid4().hex}")
        df.write.mode("overwrite").partitionBy(*spec).parquet(data_dir)
        return self.commit(
            _list_parquet(data_dir), data_dir, operation, spec,
            df.schema.jsonValue(), metrics, carried=carried,
            parent=head["snapshot_id"] if head else None,
        )

    def commit(
        self,
        added_paths: "list[str]",
        base: str,
        operation: str,
        partition_spec: "list[str]",
        schema: dict,
        metrics: "dict | None" = None,
        carried: "list[dict] | None" = None,
        parent: "int | None" = None,
    ) -> dict:
        """Publish one snapshot of ``carried`` + the files at
        ``added_paths`` (footer stats, hive partition values relative to
        ``base``); returns its manifest.  The only manifest writer.
        Zero-row added files (an empty task's output) are deleted, not
        listed: no scan should open them.  Each added file records
        ``base_files``, the number of files committed under ``base``
        so far, which tells a read whether the directory holds more.

        An ``append`` carries the head's files as of publishing and
        records the head's schema merged with ``schema``
        (:func:`_merge_schema`: no column of older files is dropped; a
        type they cannot be read as raises ``ValueError``); any other
        operation carries ``carried``, read from snapshot ``parent``,
        records ``schema``, and raises :class:`CommitConflictError`
        once the head has moved.  Publishing hard-links an fsynced
        temp file (kept out of ``snapshots/``, removed either way) to
        ``snap-<id>.json``; the link fails if the id exists, so a
        losing append re-reads the head and retries.
        """
        added = []
        for f in _file_stats(added_paths):
            if f["rows"] == 0:
                os.remove(f["path"])
                continue
            # lets a read rebuild the hive partition columns
            f["base"] = base
            f["partition"] = _partition_values(base, f["path"])
            added.append(f)
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.path, f".commit-{uuid.uuid4().hex}.tmp")
        try:
            while True:
                ids = self.snapshot_ids()
                head = ids[-1] if ids else None
                recorded = schema
                if operation == "append" and ids:
                    head_man = self.manifest(head)
                    carried = head_man["files"]
                    recorded = _merge_schema(head_man["schema"], schema)
                elif operation != "append" and head != parent:
                    raise CommitConflictError(
                        f"{operation} of {self.path} was planned on snapshot "
                        f"{parent}, but snapshot {head} has been committed since")
                n = len(added) + max((f.get("base_files", 0) for f in carried or []
                                      if f.get("base") == base), default=0)
                for f in added:
                    f["base_files"] = n
                files = (carried or []) + added
                manifest = {
                    "snapshot_id": (head or 0) + 1,
                    "parent_snapshot_id": head,
                    "committed_at": time.time(),
                    "operation": operation,
                    "partition_spec": list(partition_spec),
                    "schema": recorded,
                    "files": files,
                    "total_rows": sum(f["rows"] for f in files),
                    "metrics": metrics or {},
                }
                with open(tmp, "w") as out:
                    json.dump(manifest, out, indent=1, default=str)
                    out.flush()
                    os.fsync(out.fileno())
                try:
                    os.link(tmp, os.path.join(
                        self.manifest_dir, f"snap-{manifest['snapshot_id']}.json"))
                    return manifest
                except FileExistsError:
                    continue  # lost the id: re-read the head
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def _scan_files(
        self,
        spark: SparkSession,
        files: "list[dict]",
        schema_json: dict,
        with_file_col: bool = False,
    ) -> DataFrame:
        """Scan exactly the manifest file list ``files``; the manifest
        plans the scan.

        - The schema is the manifest's ``schema_json``: no footer
          inference job, and hive partition columns keep their recorded
          types (a string '001' stays '001').
        - Files are grouped by base dir, so Spark re-derives the
          partition columns.  A base is read as ONE root directory,
          listed on the driver without a Spark job, when Spark's own
          index of it (same hidden-file and escaping rules as the scan)
          holds exactly the manifest's files for that base.  Otherwise
          it is read as the explicit path list, which Spark lists with
          a job once it passes its parallel-discovery threshold.  A
          base listing fewer files than were committed under it (a
          merge's carried subset, a ``prune=`` read) goes to the list
          at once; the directory is listed first, then thrown away,
          only when it holds a file no commit so far named (an orphan,
          an uncommitted file, a foreign layout, time travel into the
          sink's output before later appends).

        Optionally attach the ``_metadata.file_path`` hidden column
        (which must be selected directly on each scan — it does not
        survive a union)."""
        from pyspark.sql import types as T

        schema = T.StructType.fromJson(schema_json)
        if not files:
            if with_file_col:
                schema = T.StructType(
                    list(schema.fields) + [T.StructField("__file", T.StringType())]
                )
            return spark.createDataFrame([], schema)
        by_base: dict[str, list[str]] = {}
        committed: dict[str, int] = {}
        for f in files:
            base = f.get("base", "")
            by_base.setdefault(base, []).append(f["path"])
            committed[base] = max(committed.get(base, 0), f.get("base_files", 0))
        df = None
        for base, paths in sorted(by_base.items()):
            reader = spark.read.schema(schema)
            if base:
                reader = reader.option("basePath", base)
            if base and len(paths) >= committed[base]:
                part = _scan_base(reader, base, paths)
            else:
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
        distinct incoming keys (broadcast) yields the touched-file list
        (driver sees file PATHS only — O(#files) metadata).  Survivor
        rows (touched files ∖ matched keys) union the updates, are
        rebalanced by the partition spec (AQE may still split a hot
        value) and written under it, each file with its partition
        values; the manifest lists untouched-prev + new files.  Time
        travel to pre-merge snapshots is unaffected.  Schema evolution
        is tolerated on both sides (unionByName with missing columns
        null-filled); the new manifest records the merged schema.  A
        partitioned sink's ``<out>/_table`` raises ValueError.
        """
        spark = updates.sparkSession
        if not self.snapshot_ids():
            return self.write(updates, mode="overwrite", metrics=metrics)
        man = self.manifest()
        cur = self._scan_files(spark, man["files"], man["schema"], with_file_col=True)
        key_df = F.broadcast(updates.select(*keys).dropDuplicates(keys))
        # the RAW ``_metadata.file_path`` strings filter the survivors
        # (an exact match on the same column is render-proof); they meet
        # the manifest's paths only through ONE URI parser
        touched_raw = [r["__file"] for r in cur.join(key_df, keys, "left_semi")
                       .select("__file").distinct().collect()]
        touched = {_uri_local_path(p) for p in touched_raw}
        untouched_prev = [
            f for f in man["files"] if _uri_local_path(f["path"]) not in touched
        ]
        unmapped = sorted(
            touched - {_uri_local_path(f["path"]) for f in man["files"]})
        if unmapped:
            # ANY unmapped file would be carried AND have its survivors
            # rewritten: its rows would be duplicated
            raise RuntimeError(
                "merge_upsert: "
                f"{len(unmapped)} of {len(touched)} touched file(s) "
                f"(e.g. {unmapped[0]!r}) map to no manifest path — "
                "file_path rendering and manifest paths disagree; "
                "refusing a merge that would duplicate their rows."
            )
        survivors = (
            cur.where(F.col("__file").isin(touched_raw))
            .join(key_df, keys, "left_anti")
            .drop("__file")
        )
        new_data = survivors.unionByName(updates, allowMissingColumns=True)
        spec = man["partition_spec"]
        if spec:
            new_data = new_data.hint("rebalance", *spec)
        return self._write_snapshot(
            new_data, spec, "merge",
            {**(metrics or {}), "files_rewritten": len(touched),
             "files_carried": len(untouched_prev)},
            man, carried=untouched_prev,
        )

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
        """Rewrite the head's files as a NEW ``compact`` snapshot
        (Iceberg rewrite_data_files surface): a partitioned table's rows
        rebalanced by its spec (AQE sizes the files), an unpartitioned
        one's coalesced to ~``target_file_mb`` files.  Old snapshots stay
        readable until expired; the atomic commit hides a half-compacted
        state.  A partitioned sink's ``<out>/_table`` raises ValueError."""
        man = self.manifest()
        spark = SparkSession.getActiveSession()
        df = self._scan_files(spark, man["files"], man["schema"])
        spec = man["partition_spec"]
        if spec:
            df = df.hint("rebalance", *spec)
        else:
            total_bytes = sum(f["bytes"] for f in man["files"])
            df = df.coalesce(int(total_bytes / (target_file_mb * 1024 * 1024)) + 1)
        new_man = self._write_snapshot(
            df, spec, "compact", {"compacted_from": len(man["files"])}, man)
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
