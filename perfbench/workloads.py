"""The benchmark's workloads, each driven through the engine's public
entry points only.

A workload builds its inputs from the seed (``build``, repeated during
set-up), works out what the outputs must be without the engine
(``prepare``), then runs one operation per iteration (``run``) whose
outputs ``check`` compares against that expectation.  ``trace`` runs
one iteration with spans around each public call and each noop-forced
prefix of the pipeline, and returns the per-layer figures for it.

Why these workloads (README.md maps each layer to the end-to-end
metric it should move):

- ``job_lyon``: the path users ship — ``jobs/extract_features.main``
  over an ``IcebergLikeTable`` snapshot with the default Lyon set, into
  the resumable partitioned sink.
- ``ingest``: an append and a copy-on-write merge into a snapshot
  table; the only workload whose cost is in table writes, and the one
  that bypasses ``functions``, the operators and the partitioned sink.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from measure import node_total
from pulsarfeatureextractor_spark.functions.featureset import extract_features
from pulsarfeatureextractor_spark.operators.asof import asof_join
from pulsarfeatureextractor_spark.sinks.manifest import IcebergLikeTable
from pulsarfeatureextractor_spark.sources.tokenized import (
    synthetic_sequences_distributed,
    with_event_time,
)

GAP_SECONDS = 1800.0


def _load(root: str, rel: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _parquet_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, names in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, n))
            for n in names if n.endswith(".parquet")
        )
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def chain_self_times(chain: "list[tuple[str, float]]") -> dict:
    """Self time of each step of a chain of nested prefixes, where each
    prefix re-runs the previous one and adds one layer.  A step's self
    time is its prefix's time minus the previous prefix's; a running
    maximum keeps noise from making a step negative, so the self times
    always sum to the last (outermost) time."""
    out, prev, top = {}, 0.0, chain[-1][1]
    for name, seconds in chain:
        reach = min(max(prev, seconds), top)
        out[name] = reach - prev
        prev = reach
    return out


def _traced_chain(i, spans, sql, steps):
    """Run each (name, thunk) step under a span and SQL-metric marks;
    returns [(name, seconds)], {name: sql.since(...)}, last result."""
    chain, metrics, result = [], {}, None
    for name, thunk in steps:
        mark = sql.mark()
        with spans.span(i, name, "iteration") as s:
            result = thunk()
        chain.append((name, s["seconds"]))
        metrics[name] = sql.since(mark)
    return chain, metrics, result


class Workload:
    name = ""

    def __init__(self, spark, root: str, work: str, seed: int, scale: float):
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.scale = scale

    def rows(self, n: int) -> int:
        return max(int(n * self.scale), 400)


class JobLyon(Workload):
    """``extract_features.main`` with the default Lyon feature set."""

    name = "job_lyon"
    ROWS = 10_000
    SAMPLE_DOCS = 16

    def __init__(self, *a):
        super().__init__(*a)
        self.input_rows = self.rows(self.ROWS)
        self.job = _load(self.root, "jobs/extract_features.py", "extract_features")
        self.oracle = _load(self.root, "tests/oracle.py", "oracle")

    def build(self, d: str) -> None:
        # an explicit partition count fixes the file layout (2 files per
        # source value, 40 in all) whatever the core count
        df = synthetic_sequences_distributed(
            self.spark, self.input_rows, seed=self.seed, n_partitions=2
        )
        IcebergLikeTable(d).write(df, partition_by=["source"])
        self.table = d

    def prepare(self) -> None:
        self.manifest = IcebergLikeTable(self.table).manifest()
        paths = [f["path"] for f in self.manifest["files"]]
        inp = ds.dataset(paths, format="parquet").to_table(columns=["doc_id", "tokens"])
        docs = inp.column("doc_id").to_pylist()
        rng = np.random.default_rng(self.seed)
        self.sample = sorted(
            rng.choice(sorted(set(docs)), size=self.SAMPLE_DOCS, replace=False).tolist()
        )
        self.expected: dict[str, list] = {d: [] for d in self.sample}
        for doc, toks in zip(docs, inp.column("tokens").to_pylist()):
            if doc in self.expected:
                self.expected[doc].append(self.oracle.lyon_moments_oracle(toks))
        for moments in self.expected.values():
            moments.sort()

    def run(self, i: int) -> str:
        out = os.path.join(self.work, f"out{i}")
        with contextlib.redirect_stdout(io.StringIO()):  # main prints a status line
            self.job.main(["--input", self.table, "--output", out])
        return out

    def check(self, out: str) -> list[str]:
        bad = []
        data = ds.dataset(out, format="parquet", partitioning="hive")
        n = data.count_rows()
        if n != self.input_rows:
            bad.append(f"output rows {n} != input rows {self.input_rows}")
        got = data.to_table(
            columns=["doc_id", "mean", "stdev", "skew", "kurt"],
            filter=ds.field("doc_id").isin(self.sample),
        ).to_pylist()
        seen: dict[str, list] = {d: [] for d in self.sample}
        for r in got:
            seen[r["doc_id"]].append((r["mean"], r["stdev"], r["skew"], r["kurt"]))
        for doc in self.sample:
            exp, act = self.expected[doc], sorted(seen[doc])
            if len(exp) != len(act) or not np.allclose(exp, act, rtol=1e-9, atol=1e-12):
                bad.append(f"Lyon moments of {doc}: {act} != oracle {exp}")
        return bad

    def output_bytes(self, out: str) -> int:
        return _parquet_bytes(out)

    def after(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def _prefixes(self):
        """Noop-forced prefixes of the job's pipeline: the public calls
        ``extract_features.build_pipeline`` makes, cut after the scan,
        the features and the as-of join.  The windows prefix is
        ``build_pipeline`` itself, so it cannot drift from the job."""

        def scan():
            return IcebergLikeTable(self.table).read(self.spark)

        def features():
            return extract_features(with_event_time(scan()), "lyon")

        def asof():
            feats = features()
            snaps = feats.select(
                "doc_id",
                (F.col("event_time") - F.make_interval(secs=F.col("n_tok").cast("double"))
                 ).alias("obs_time"),
                F.col("mean").alias("f_mean_obs"),
                F.col("stdev").alias("f_std_obs"),
            )
            return asof_join(
                feats, snaps, on="event_time", right_on="obs_time", by="doc_id",
                value_cols=["f_mean_obs", "f_std_obs"], strategy="window",
            )

        def windows():
            args = argparse.Namespace(
                input=self.table, snapshot=None, asof=None, scores=False,
                feature_set=None, gap_seconds=GAP_SECONDS,
            )
            return self.job.build_pipeline(self.spark, args)[0]

        return [(name, lambda f=f: _noop(f())) for name, f in
                [("scan", scan), ("features", features), ("asof", asof),
                 ("windows", windows)]]

    def trace(self, i: int, spans, sql) -> tuple[dict, str]:
        rows = float(self.input_rows)
        with spans.span(i, "manifest.read", "iteration") as s:
            IcebergLikeTable(self.table).read(self.spark)
        steps = self._prefixes() + [("job", lambda: self.run(i))]
        chain, m, out = _traced_chain(i, spans, sql, steps)
        self_s = chain_self_times(chain)
        job = m["job"]["nodes"]
        sent = node_total(job, "data sent to Python workers", "MapInArrow")
        asof, feats = m["asof"]["nodes"], m["features"]["nodes"]
        return {
            "manifest.read_s": s["seconds"],
            "manifest.files": len(self.manifest["files"]),
            "manifest.scan_s": self_s["scan"],
            "manifest.scan_rows_per_input_row":
                node_total(job, "number of output rows", "Scan parquet") / rows,
            "functions.self_s": self_s["features"],
            "functions.python_s":
                node_total(job, "time to run Python workers", "MapInArrow"),
            "functions.rows_per_input_row":
                node_total(job, "number of output rows", "MapInArrow") / rows,
            "functions.bytes_sent_per_row": sent / rows,
            "functions.received_per_sent":
                node_total(job, "data returned from Python workers", "MapInArrow") / sent,
            "asof.self_s": self_s["asof"],
            "asof.shuffle_bytes_per_row": (
                node_total(asof, "shuffle bytes written")
                - node_total(feats, "shuffle bytes written")) / rows,
            "asof.sort_s":
                node_total(asof, "sort time") - node_total(feats, "sort time"),
            "windows.self_s": self_s["windows"],
            "partitioned.self_s": self_s["job"],
            "partitioned.spark_jobs": m["job"]["jobs"],
            "partitioned.executions": m["job"]["executions"],
            "partitioned.files_written": node_total(job, "number of written files"),
            "trace.wall_s": chain[-1][1],
        }, out


class Ingest(Workload):
    """From the same base table state every iteration: append a
    snapshot, then ``merge_upsert`` a batch of keys spread over every
    file of the base snapshot."""

    name = "ingest"
    BASE_ROWS = 10_000
    APPEND_ROWS = 2_500
    KEYS = 500

    def __init__(self, *a):
        super().__init__(*a)
        self.base_rows = self.rows(self.BASE_ROWS)
        self.append_rows = self.rows(self.APPEND_ROWS)
        self.n_keys = max(int(self.KEYS * self.scale), 20)

    def build(self, d: str) -> None:
        """The same amount of work for every seed: a fixed number of
        update keys, all drawn from the base snapshot (so they fall in
        every one of its files), and appended rows whose doc_ids can
        never match a key."""
        self.table = os.path.join(d, "table")
        self.append_src = os.path.join(d, "append")
        self.updates_src = os.path.join(d, "updates")
        base = synthetic_sequences_distributed(
            self.spark, self.base_rows, seed=self.seed, n_partitions=2)
        IcebergLikeTable(self.table).write(base, partition_by=["source"])
        (synthetic_sequences_distributed(
            self.spark, self.append_rows, seed=self.seed + 1, n_partitions=2)
         .withColumn("doc_id", F.concat(F.lit("new_"), "doc_id"))
         .write.mode("overwrite").parquet(self.append_src))
        # one row per key (the one with the smallest token hash, so the
        # choice is deterministic), tokens reversed
        row = F.struct("tokens", "n_tok", "source")
        (base.groupBy("doc_id")
         .agg(F.min_by(row, F.xxhash64("tokens")).alias("r"))
         .orderBy(F.xxhash64("doc_id", F.lit(self.seed)))
         .limit(self.n_keys)
         .select("doc_id", F.reverse("r.tokens").alias("tokens"), "r.n_tok", "r.source")
         .write.mode("overwrite").parquet(self.updates_src))

    def prepare(self) -> None:
        base = IcebergLikeTable(self.table).manifest()
        self.base_sid = base["snapshot_id"]
        self.base_files = {f["path"] for f in base["files"]}
        self.keys = ds.dataset(self.updates_src, format="parquet").to_table(
            columns=["doc_id"]).column("doc_id")
        self.input_rows = self.append_rows + len(self.keys)
        before = ds.dataset(
            [ds.dataset(sorted(self.base_files), format="parquet"),
             ds.dataset(self.append_src, format="parquet")]
        ).to_table(columns=["doc_id"]).column("doc_id")
        matched = pc.sum(pc.is_in(before, value_set=self.keys)).as_py()
        self.expected_rows = len(before) - matched + len(self.keys)

    def _steps(self):
        tbl = IcebergLikeTable(self.table)
        return [
            ("append", lambda: tbl.write(self.spark.read.parquet(self.append_src),
                                         partition_by=["source"])),
            ("merge", lambda: tbl.merge_upsert(self.spark.read.parquet(self.updates_src),
                                               keys=["doc_id"])),
        ]

    def run(self, i: int) -> tuple[dict, dict]:
        appended, merged = (step() for _name, step in self._steps())
        return appended, merged

    def check(self, out: tuple[dict, dict]) -> list[str]:
        _appended, merged = out
        bad = []
        if merged["total_rows"] != self.expected_rows:
            bad.append(f"total_rows {merged['total_rows']} != {self.expected_rows}")
        docs = ds.dataset([f["path"] for f in merged["files"]], format="parquet") \
            .to_table(columns=["doc_id"]).column("doc_id")
        if len(docs) != self.expected_rows:
            bad.append(f"data files hold {len(docs)} rows != {self.expected_rows}")
        hits = pc.filter(docs, pc.is_in(docs, value_set=self.keys))
        counts = pc.value_counts(hits).field("counts")
        if len(hits) != len(self.keys) or pc.max(counts).as_py() != 1:
            bad.append(f"merged keys: {len(hits)} rows for {len(self.keys)} keys")
        return bad

    def output_bytes(self, out: tuple[dict, dict]) -> int:
        appended, merged = out
        known = set(self.base_files)
        total = 0
        for man in (appended, merged):
            for f in man["files"]:
                if f["path"] not in known:
                    total += f["bytes"]
                    known.add(f["path"])
        return total

    def after(self, out) -> None:
        """Reset the table to its base snapshot, so every iteration
        does the same work."""
        snaps = os.path.join(self.table, "snapshots")
        for name in os.listdir(snaps):
            sid = int(name[len("snap-"):-len(".json")])
            if sid > self.base_sid:
                os.remove(os.path.join(snaps, name))
        keep = {os.path.relpath(p, os.path.join(self.table, "data")).split(os.sep)[0]
                for p in self.base_files}
        data = os.path.join(self.table, "data")
        for name in os.listdir(data):
            if name not in keep:
                shutil.rmtree(os.path.join(data, name))

    def trace(self, i: int, spans, sql) -> tuple[dict, tuple]:
        tbl = IcebergLikeTable(self.table)
        chain, _m, merged = _traced_chain(i, spans, sql, self._steps())
        appended = tbl.manifest(merged["parent_snapshot_id"])
        with spans.span(i, "manifest.read", "iteration") as r:
            tbl.read(self.spark)
        with spans.span(i, "manifest.scan", "iteration") as s:
            _noop(tbl.read(self.spark))
        return {
            "manifest.read_s": r["seconds"],
            "manifest.files": len(appended["files"]),
            "manifest.scan_s": s["seconds"],
            "manifest.write_s": chain[0][1],
            "manifest.merge_s": chain[1][1],
            "manifest.rewrite_share":
                merged["metrics"]["files_rewritten"] / len(appended["files"]),
            "trace.wall_s": chain[0][1] + chain[1][1],
        }, (appended, merged)


WORKLOADS = {w.name: w for w in (JobLyon, Ingest)}
