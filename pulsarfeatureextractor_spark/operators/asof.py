"""Point-in-time (as-of) join — the engine's core operator.

Semantics (pinned to DuckDB's ASOF JOIN so the differential oracle is
exact; SURVEY.md §7 M2): for each left row (entity, t), attach the
single right row with the same entity and the greatest t_r satisfying

    backward  (default): t_r <= t
    forward            : t_r >= t   (smallest t_r)
    nearest            : min |t_r - t|  (ties -> earlier right row)

plus an optional ``tolerance`` in seconds (matches discarded when
|t_r - t| > tolerance).  Zero temporal leakage is structural: a
backward join can only ever read right rows with t_r <= t.

One sort-based core, the window pass (``strategy="window"``, the
default): tag sides, unionByName, one window
``partitionBy(entity).orderBy(ts, side)`` carrying the matched right
row as ONE struct ``(rts, values...)`` through a single
``last(row, ignorenulls=True)`` over the running frame, keep left rows.
The struct is the right ROW, so a NULL value in the matched row stays
NULL instead of being filled from an older row.  All JVM: exchange +
sort + window, no Python.  ``nearest`` runs a backward and a forward
running pick over the same exchange (two sorts, never an
unbounded-following frame) and keeps the closer one.  Scale note: ONE
shuffle of left+right by entity hash; skew on hot entities handled
upstream via salting (operators/salt.py) or AQE.

``asof_self_join`` is the same window pass for the common case where
the right side is DERIVED from the left (a table joined onto its own
earlier observations): instead of a union whose two sides each
re-evaluate the input — two scans, two Python crossings — every input
row emits its left and right tagged rows at once through
``inline(array(...))``.  One evaluation of the input, then
Generate → Exchange → Sort → Window.  The feature job and the flagship
driver query use it.

Plus three postures for specific regimes, backward/forward only (all
cross-checked against the window plan in tests): ``"bucketed"``
(entity × time-bucket salt for hot keys, the same carried struct),
``"broadcast"`` (small right side aggregated to per-entity sorted
arrays and broadcast — ZERO shuffle of the big side), and the storage
plan ``asof_bucketed_storage`` (the window pass, Exchange-free over a
pre-bucketed table — the 100 TB feature-store posture).

The reference has no joins at all (single-file for-loop; SURVEY.md
§2A); this operator is the recast's new semantics mandated by
BASELINE.json north_rule ("core operator is a sorted-merge as-of join
over range-partitioned (entity, event_time) partitions").
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_SIDE = "__asof_side"
_RTS = "__asof_rts"
_ROW = "__asof_row"
_DIRECTIONS = ("backward", "forward", "nearest")

_ORDERING_CONF = "spark.sql.legacy.bucketedTableScan.outputOrdering"


@contextmanager
def bucketed_scan_ordering(spark):
    """Enable ``spark.sql.legacy.bucketedTableScan.outputOrdering`` for
    the duration of the block and RESTORE the prior value on exit: the
    conf has no per-query form (unlike partitionOverwriteMode, which
    the partitioned sink passes as a write option), and shared sessions
    must not inherit it.  Use this around code that derives further
    plans from ``asof_bucketed_storage(elide_sort=True)`` output (the
    conf is read at planning time, so every plan built inside the block
    sees it; plans built after exit do not)."""
    prev = spark.conf.get(_ORDERING_CONF, None)
    spark.conf.set(_ORDERING_CONF, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_ORDERING_CONF)
        else:
            spark.conf.set(_ORDERING_CONF, prev)


def _normalize_cols(cols: "str | Iterable[str] | None") -> list[str]:
    if cols is None:
        return []
    if isinstance(cols, str):
        return [cols]
    return list(cols)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: "str | Iterable[str]",
    right_on: "str | None" = None,
    direction: str = "backward",
    tolerance: "float | None" = None,
    value_cols: "Iterable[str] | None" = None,
    strategy: str = "window",
    bucket_seconds: float = 86400.0,
) -> DataFrame:
    """As-of join ``right`` onto ``left``.

    Parameters
    ----------
    on / right_on : timestamp column on each side (right defaults to ``on``)
    by            : entity key column(s)
    value_cols    : right-side columns to attach (default: all non-key)
    direction     : "backward" (default), "forward", or "nearest"
                    (window strategy only)
    strategy      : "window" (default, pure JVM, one shuffle),
                    "bucketed" (hot-key salt by entity × time-bucket),
                    "broadcast" (small right side — big side never
                    shuffled), or "auto" (samples left-key skew: window
                    vs bucketed)

    Output: every left row + attached right columns (null when no match
    within direction/tolerance) — left-join semantics, row count
    preserved.
    """
    by_cols = _normalize_cols(by)
    r_on = right_on or on
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (*by_cols, r_on)]
    value_cols = list(value_cols)
    _check_direction(direction)
    if direction == "nearest" and strategy != "window":
        raise ValueError(
            f"direction='nearest' runs on strategy='window' only, "
            f"not {strategy!r}")

    if strategy == "auto":
        strategy = choose_asof_strategy(left, by_cols)
    if strategy == "window":
        return _asof_window(left, right, on, r_on, by_cols, direction,
                            tolerance, value_cols)
    if strategy == "bucketed":
        return _asof_bucketed(left, right, on, r_on, by_cols, direction,
                              tolerance, value_cols, bucket_seconds)
    if strategy == "broadcast":
        return _asof_broadcast(left, right, on, r_on, by_cols, direction,
                               tolerance, value_cols)
    raise ValueError(f"unknown strategy: {strategy}")


def choose_asof_strategy(
    left: DataFrame,
    by_cols: "list[str]",
    hot_share_threshold: float = 0.05,
    sample_fraction: float = 0.01,
) -> str:
    """Pick the as-of physical plan from the MEASURED key skew.

    The window plan is cheaper on uniform keys (the bucketed plan pays
    ~35% overhead when there is no skew), but serializes a hot entity
    into one sort task (4.8x slower at 50% hot key — BENCH/BASELINE.md
    skew table).  This probe runs ONE cheap aggregate over a ~1%
    ROW-level Bernoulli sample of the left side's key column
    (column-pruned scan, nothing else read) and returns "bucketed" when
    the hottest key owns more than ``hot_share_threshold`` of the
    sampled rows, else "window".  A hash-of-key sample would be wrong
    here: it includes or excludes ALL rows of a key together, so the
    hot key itself could be missed — rows, not keys, must be sampled.

    Cost: one small Spark job per call — amortized trivially on the
    hour-scale jobs where the choice matters; callers that know their
    skew should pass an explicit strategy instead.
    """
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in by_cols])
    top = (
        left.select(key.alias("__k"))
        .sample(fraction=sample_fraction, seed=7)
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .first()
    )
    if not top or not top["tot"] or top["tot"] < 100:
        # sample too small to call skew — default plan
        return "window"
    return "bucketed" if top["mx"] / top["tot"] >= hot_share_threshold else "window"


def _asof_tag_union(left, right, on, r_on, by_cols, value_cols,
                    axis_type: str = "timestamp") -> DataFrame:
    """The tagged union both window-family plans sort: left rows carry
    side=1 and null value slots; right rows carry side=0, their ts
    duplicated into the fill column, and only (by, ts, values)."""
    l_tagged = (left.withColumn(_SIDE, F.lit(1))
                .withColumn(_RTS, F.lit(None).cast(axis_type)))
    for c in value_cols:
        l_tagged = l_tagged.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    # right rows with a null key or null ts can never match (SQL join
    # semantics) — and a null-ts right row would sort first and pollute
    # the running fill, so drop them before the union
    r_clean = right.where(F.col(r_on).isNotNull())
    for c in by_cols:
        r_clean = r_clean.where(F.col(c).isNotNull())
    r_proj = r_clean.select(
        *[F.col(c) for c in by_cols],
        F.col(r_on).cast(axis_type).alias(on),
        F.col(r_on).cast(axis_type).alias(_RTS),
        *[F.col(c) for c in value_cols],
    ).withColumn(_SIDE, F.lit(0))
    return l_tagged.unionByName(r_proj, allowMissingColumns=True)


def _asof_window_apply(unioned, on, by_cols, direction, tolerance,
                       value_cols, out_cols,
                       prefix_cols: "tuple[str, ...]" = ()) -> DataFrame:
    """Window pass over a tagged union (from ``_asof_tag_union`` or a
    stored copy of it).

    ``prefix_cols`` prepends partition columns that are a FUNCTION of
    the entity key (e.g. a storage bucket id): per-partition frames are
    then still per-entity, but a scan already hash-clustered on the
    prefix (a bucketed table) satisfies the window's distribution via
    Spark's subset rule — Exchange-free as-of (SURVEY.md §4)."""
    _check_direction(direction)
    part = Window.partitionBy(*prefix_cols, *by_cols)
    row = F.when(F.col(_SIDE) == 0, F.struct(_RTS, *value_cols))

    def running_pick(descending: bool) -> Column:
        # right rows sort BEFORE left rows at equal ts (side 0 < 1), so
        # a right row at exactly t is visible (t_r = t — DuckDB
        # semantics).  Backward: ts ascending, last right row so far =
        # greatest t_r <= t.  Forward: the mirror, ts descending.
        order = F.col(on).desc() if descending else F.col(on).asc()
        w = (part.orderBy(order, F.col(_SIDE).asc())
             .rowsBetween(Window.unboundedPreceding, 0))
        return F.last(row, ignorenulls=True).over(w)

    if direction == "nearest":
        # both running picks over the one exchange (two sorts); the
        # closer wins, an equal distance goes backward (pandas)
        filled = (unioned.withColumn("__asof_back", running_pick(False))
                  .withColumn(_ROW, running_pick(True)))
        back, fwd = F.col("__asof_back"), F.col(_ROW)
        fwd_closer = ((fwd[_RTS] - F.col(on)) < (F.col(on) - back[_RTS]))
        filled = filled.withColumn(
            _ROW, F.when(back.isNull() | fwd_closer, fwd).otherwise(back))
    else:
        filled = unioned.withColumn(_ROW, running_pick(direction == "forward"))

    # SQL join semantics: a NULL entity key or NULL timestamp matches
    # nothing (window partitioning would otherwise group null keys
    # together and diverge from ANSI ASOF / equality-join behavior)
    null_key = F.col(on).isNull()
    for c in by_cols:
        null_key = null_key | F.col(c).isNull()
    return _expand_row(filled.where(F.col(_SIDE) == 1), on, tolerance,
                       value_cols, out_cols, no_match=null_key)


def _check_direction(direction: str) -> None:
    if direction not in _DIRECTIONS:
        raise ValueError(f"unknown as-of direction: {direction!r}")


def _expand_row(df, on, tolerance, value_cols, out_cols,
                no_match: "Column | None" = None) -> DataFrame:
    """Null the matched right row (struct ``_ROW``) once — ``no_match``
    or outside ``tolerance`` — then expand its value fields."""
    if tolerance is not None:
        # cast-to-double keeps sub-second precision (unix_timestamp truncates)
        delta = F.abs(F.col(on).cast("double") - F.col(_ROW)[_RTS].cast("double"))
        out_of_tol = delta > F.lit(float(tolerance))
        no_match = out_of_tol if no_match is None else no_match | out_of_tol
    out = df
    if no_match is not None:
        out = out.withColumn(_ROW, F.when(no_match, F.lit(None)).otherwise(F.col(_ROW)))
    return out.select(*out_cols, *[F.col(_ROW)[c].alias(c) for c in value_cols])


def _asof_window(left, right, on, r_on, by_cols, direction, tolerance,
                 value_cols, axis_type: str = "timestamp") -> DataFrame:
    unioned = _asof_tag_union(left, right, on, r_on, by_cols, value_cols,
                              axis_type)
    return _asof_window_apply(unioned, on, by_cols, direction, tolerance,
                              value_cols, out_cols=left.columns)


def asof_self_join(
    df: DataFrame,
    on: str,
    by: "str | Iterable[str]",
    obs_on: Column,
    values: "dict[str, Column]",
    direction: str = "backward",
    tolerance: "float | None" = None,
) -> DataFrame:
    """As-of join a DataFrame onto its own derived observations in ONE
    evaluation of ``df``.

    Result equals ``asof_join(df, snaps, on=on, right_on="__obs",
    by=by, value_cols=list(values), strategy="window")`` where ``snaps =
    df.select(*by, obs_on.alias("__obs"), *[c.alias(n) for n, c in
    values.items()])`` — but that form reads ``df`` twice, once per
    union side, so an upstream scan and Python map run twice.  Here
    each input row emits both tagged rows at once through
    ``inline(array(left_struct, right_struct))``: the left row keeps
    every column of ``df`` with NULL value slots, the right row carries
    only ``(by, obs_on, values)``.  Right rows with a NULL key or NULL
    ``obs_on`` are dropped (they can never match), then the tagged rows
    feed the same window pass as ``strategy="window"``.

    Every column of ``df`` rides through the as-of shuffle (the struct
    hides unused ones from column pruning), so drop what the caller
    does not need downstream — token arrays above all — before calling.
    """
    by_cols = _normalize_cols(by)
    if direction not in ("backward", "forward"):
        raise ValueError(f"asof_self_join: unknown direction {direction}")
    clash = [n for n in values if n in df.columns or n in (_SIDE, _RTS, _ROW)]
    if clash:
        raise ValueError(f"asof_self_join: value names {clash} already in df")
    value_cols = list(values)
    axis = df.schema[on].dataType
    value_types = df.select(*[c.alias(n) for n, c in values.items()]).schema
    obs = obs_on.cast(axis)

    left_row = F.struct(
        *[F.col(c) for c in df.columns],
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(axis).alias(_RTS),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in value_types],
    )
    right_row = F.struct(
        *[F.col(c) if c in by_cols
          else obs.alias(c) if c == on
          else F.lit(None).cast(df.schema[c].dataType).alias(c)
          for c in df.columns],
        F.lit(0).alias(_SIDE),
        obs.alias(_RTS),
        *[values[n].alias(n) for n in value_cols],
    )
    right_ok = F.col(_RTS).isNotNull()
    for c in by_cols:
        right_ok = right_ok & F.col(c).isNotNull()
    tagged = (df.select(F.inline(F.array(left_row, right_row)))
              .where((F.col(_SIDE) == 1) | right_ok))
    return _asof_window_apply(tagged, on, by_cols, direction, tolerance,
                              value_cols, out_cols=df.columns)


def _asof_broadcast(left, right, on, r_on, by_cols, direction, tolerance,
                    value_cols) -> DataFrame:
    """Broadcast as-of plan: ZERO shuffle of the big (left) side.

    Physical shape: one hash aggregate collapses the (small) right side
    into a time-ascending ``array<struct<__t, values...>>`` per entity,
    which is broadcast-hash-joined onto the left on the entity key —
    the left side keeps its scan partitioning (no Exchange, no Sort on
    the data path).  The as-of pick is a JVM higher-order ``filter`` +
    ``try_element_at`` over the per-entity array: O(snapshots/entity)
    per row, whole-stage codegen, no Python.

    Use when the aggregated right side fits in a broadcast — the
    feature-store common case (dimension snapshots orders of magnitude
    smaller than the event stream).  The caller asserts smallness,
    exactly like Spark's ``broadcast()`` hint: every executor holds one
    copy of the per-entity arrays.  At 100 TB-left / GB-right this is
    the cheapest plan in the family; for large or hot-keyed right
    sides use ``"window"`` / ``"bucketed"`` instead.

    Tie semantics match the window plan: an exact ``t_r == t`` match is
    visible in both directions; duplicate right timestamps within one
    entity have no pinned winner across plans (same documented
    ambiguity as the other strategies — tests dedupe on (entity, ts)).
    """
    axis_type = left.schema[on].dataType
    r_clean = right.where(F.col(r_on).isNotNull())
    for c in by_cols:
        r_clean = r_clean.where(F.col(c).isNotNull())
    entry = F.struct(
        F.col(r_on).cast(axis_type).alias(_RTS),
        *[F.col(c) for c in value_cols],
    )
    # sort_array orders struct fields lexicographically — the time
    # first, so the array is time-ascending; one Exchange total (this
    # small agg)
    per_entity = (
        r_clean.groupBy(*by_cols)
        .agg(F.sort_array(F.collect_list(entry)).alias("__arr"))
    )
    joined = left.join(F.broadcast(per_entity), on=by_cols, how="left")
    # Lambda captures the outer row's timestamp (Spark HOFs allow outer
    # references).  A NULL left key -> no join match -> __arr null ->
    # null pick; a NULL left ts -> predicate null -> empty filter ->
    # null pick: ANSI join semantics fall out structurally.
    if direction == "backward":
        matches = F.filter(F.col("__arr"), lambda s: s[_RTS] <= F.col(on))
        pick = F.try_element_at(matches, F.lit(-1))
    else:
        matches = F.filter(F.col("__arr"), lambda s: s[_RTS] >= F.col(on))
        pick = F.try_element_at(matches, F.lit(1))
    return _expand_row(joined.withColumn(_ROW, pick), on, tolerance,
                       value_cols, left.columns)


def prepare_bucketed_asof_table(
    left: DataFrame,
    right: DataFrame,
    name: str,
    path: str,
    on: str,
    by: "str | Iterable[str]",
    right_on: "str | None" = None,
    value_cols: "Iterable[str] | None" = None,
    n_buckets: int = 32,
    sort: bool = True,
    overwrite: bool = False,
) -> str:
    """Materialize the as-of union as a BUCKETED storage table — the
    one-time layout shuffle that makes every later as-of query
    Exchange-free (``asof_bucketed_storage``).

    This is the Spark-v1-bucketing realization of an Iceberg table
    partitioned by ``bucket(N, entity)`` (SURVEY.md §1.4): the tagged
    union both sides of the join contribute to is hash-clustered on a
    bucket id derived from the entity key and registered in the session
    catalog so the scan reports its clustering to Catalyst.  At 100 TB
    this write IS the ingest path (data lands bucketed once; thousands
    of point-in-time queries then join shuffle-free), exactly the
    "pre-shuffle-free storage-partitioned input" posture a production
    feature store runs.

    The table is bucketed DIRECTLY on the entity key columns — Spark's
    bucket hash (murmur3 of the key, mod N) then spreads millions of
    entities evenly over N buckets, and the scan's
    HashPartitioning(entity) satisfies the as-of window's clustering
    natively.  (A synthetic precomputed bucket-id column would be
    re-hashed by the bucketed writer, birthday-colliding N ids into
    ~0.63·N skewed files — measured, and why this buckets on the key.)

    ``sort=True`` (default) additionally writes every bucket file
    pre-sorted in the window's required order (entity, ts, side): with
    one file per bucket (this writer guarantees it via the aligned
    repartition) and
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` the
    as-of query then needs no Sort either — see
    ``asof_bucketed_storage(elide_sort=True)``.
    """
    by_cols = _normalize_cols(by)
    r_on = right_on or on
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (*by_cols, r_on)]
    unioned = _asof_tag_union(left, right, on, r_on, by_cols, list(value_cols))
    spark = left.sparkSession
    # Stale-file refusal (ADVICE r2/r3) — shared guard, Hadoop-FS-routed
    # so hdfs:// and s3a:// targets are covered (fsutil.py).  Validate
    # BEFORE dropping, so a refused write leaves the live table
    # registered.
    from ..fsutil import ensure_empty_dir

    ensure_empty_dir(spark, path, overwrite, "prepare_bucketed_asof_table")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # one file per bucket: repartition on the SAME key/count as bucketBy
    # (identical murmur3 hash → task i holds exactly bucket i) — the
    # single write-time shuffle this layout ever pays
    writer = (unioned.repartition(n_buckets, *[F.col(c) for c in by_cols])
              .write.bucketBy(n_buckets, *by_cols))
    if sort:
        writer = writer.sortBy(*by_cols, on, _SIDE)
    writer.format("parquet").option("path", path).saveAsTable(name)
    return name


def infer_bucket_count(
    path: str,
    expected: "int | None" = None,
    allow_collapsed: bool = False,
) -> int:
    """Bucket count of an on-disk Spark-bucketed parquet directory,
    parsed from the ``part-XXXXX-uuid_YYYYY`` bucket-id suffix.

    Registering an existing layout with the WRONG ``INTO N BUCKETS``
    count is silently catastrophic: the bucketed scan groups files by
    the id in the filename, so a 256-file layout registered as 32
    buckets feeds the window a fraction of the rows and the job
    produces wrong results at full speed (caught by the round-3
    pre-registered scaling run's first cycle — weak_efficiency 3.287
    was the 4-executor leg reading ~1/8 of the table).  Always derive
    the count from the layout; never trust a CLI default.

    Gaps in the observed ids RAISE by default (VERDICT/ADVICE r3): a
    layout whose ids don't cover 0..max contiguously either wasn't
    written one-file-per-bucket or — worse — its HIGHEST buckets wrote
    no file, in which case max+1 silently undercounts (the exact wrong-
    results class this helper exists to prevent).  ``expected`` (e.g.
    the writer's configured count) disambiguates the empty-top-bucket
    case: when given, it is validated against the ids and returned.
    ``allow_collapsed=True`` restores the old warn-and-return-max+1
    behavior for layouts known to be legacy/multi-file.
    """
    import os
    import re

    ids = set()
    for fn in os.listdir(path):
        m = re.match(r"part-\d+-[0-9a-f-]+_(\d{5})\.", fn)
        if m:
            ids.add(int(m.group(1)))
    if not ids:
        raise ValueError(f"no bucketed part files under {path!r}")
    n = max(ids) + 1
    if expected is not None:
        if expected < n:
            raise ValueError(
                f"bucketed layout {path!r} carries bucket id {n - 1} "
                f"but expected count is {expected} — registration with "
                f"{expected} would silently drop rows; refusing."
            )
        # expected >= n: ids are consistent with `expected` buckets of
        # which the top ones happen to be empty — trust the writer.
        return expected
    if len(ids) != n:
        msg = (
            f"bucketed layout {path!r} has {len(ids)} distinct bucket "
            f"ids, expected {n} contiguous (ids 0..{n - 1}); a gapped "
            "layout cannot be registered safely from filenames alone — "
            "pass expected=<writer's bucket count>, or "
            "allow_collapsed=True to accept max+1 anyway"
        )
        if not allow_collapsed:
            raise ValueError(msg)
        import warnings

        warnings.warn(msg)
    return n


def asof_bucketed_storage(
    spark,
    table: str,
    on: str,
    by: "str | Iterable[str]",
    value_cols: "Iterable[str]",
    direction: str = "backward",
    tolerance: "float | None" = None,
    elide_sort: bool = False,
) -> DataFrame:
    """Exchange-free as-of over a ``prepare_bucketed_asof_table`` table.

    The scan of the bucketed table reports HashPartitioning(entity),
    which satisfies the as-of window's ClusteredDistribution(entity)
    directly — no Exchange.  Physical plan:
    Scan(bucketed) → Sort(within buckets) → Window → Filter.  Zero
    shuffle at query time; plan-shape pinned in
    tests/test_asof_storage.py.

    Skew note: a hot entity still sorts inside ONE storage bucket's
    task here (same caveat as the window plan) — for hot doc_id/source
    keys use ``strategy="bucketed"`` (entity × time-bucket) instead;
    the layouts compose (a bucket key that includes a time bucket gives
    both properties).

    ``elide_sort=True`` (backward direction, table written with
    ``sort=True``): enables
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` while THIS
    query is planned so the pre-sorted single-file-per-bucket scan
    reports its ordering and the plan drops the Sort too —
    Scan → Window → Filter, the minimum possible plan.  Safe because
    Spark itself re-inserts the Sort whenever a bucket has more than
    one file (verified in tests/test_asof_storage.py).  The conf is
    save/restored around planning (the returned DataFrame's physical
    plan is forced and cached first); wrap derived plans in
    ``bucketed_scan_ordering`` if they should elide too.
    """
    by_cols = _normalize_cols(by)

    def build():
        unioned = spark.table(table)
        out_cols = [c for c in unioned.columns
                    if c not in (*value_cols, _SIDE, _RTS)]
        return _asof_window_apply(
            unioned, on, by_cols, direction, tolerance, list(value_cols),
            out_cols=out_cols,
        )

    if not elide_sort:
        return build()
    # The ordering conf is read at PLANNING time.  Force the physical
    # plan while the conf is set (QueryExecution caches it, so later
    # actions on THIS DataFrame keep the elided Scan→Window→Filter
    # shape), then restore the previous value so the session is not
    # silently changed for unrelated bucketed-table queries (round-2
    # ADVICE).  Callers that derive FURTHER plans from the result and
    # want them elided too should wrap in ``bucketed_scan_ordering``.
    with bucketed_scan_ordering(spark):
        out = build()
        out._jdf.queryExecution().executedPlan()
    return out


_BKT = "__asof_bkt"


def _asof_bucketed(left, right, on, r_on, by_cols, direction, tolerance,
                   value_cols, bucket_seconds: float = 86400.0) -> DataFrame:
    """Skew-proof backward as-of: per-(entity, time-bucket) windows plus
    a carry-in as-of over tiny per-bucket summaries.

    The window plan partitions by ENTITY — a hot entity (north_star:
    hot doc_id/source keys) serializes into one task, and neither
    salting nor AQE helps window skew.  Here the partition key is
    (entity, floor(ts / B)):

      pass 1: union + window within (entity, bucket) — the hot entity's
              rows spread over #buckets tasks;
      pass 2: per-(entity, bucket) LAST right row → a summary table of
              O(entities x buckets) rows; carry-in for bucket b = the
              summary as-of bucket b-1 (an as-of join again, but on the
              tiny summary — recursion bottoms out on the window plan);
      pass 3: broadcast/hash join carry-ins back by (entity, bucket),
              coalesce within-bucket picks with the carry-in.

    Every pass carries the right row as one struct ``(rts, values...)``
    — the window plan's row — so a NULL value is never filled from an
    older row.  Equality with the window plan is property-tested on
    skewed and random fixtures, both directions.  Forward is the mirror
    image: within-bucket window over DESCENDING ts, summaries keep the
    FIRST right row per bucket, carry-in comes from bucket b+1 onward.
    """
    fwd = direction == "forward"
    B = float(bucket_seconds)
    unioned = (_asof_tag_union(left, right, on, r_on, by_cols, value_cols)
               .withColumn(_BKT, F.floor(F.col(on).cast("double") / B).cast("long")))
    row = F.struct(_RTS, *value_cols)

    # pass 1: within-bucket window (right rows visible at equal ts);
    # forward = mirror: descending ts, right still first at equal ts
    order = F.col(on).desc() if fwd else F.col(on).asc()
    w = (Window.partitionBy(*by_cols, _BKT)
         .orderBy(order, F.col(_SIDE).asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = (unioned.withColumn(
        _ROW, F.last(F.when(F.col(_SIDE) == 0, row), ignorenulls=True).over(w))
        .where(F.col(_SIDE) == 1))

    # pass 2: per-bucket boundary-right summaries (backward: LAST right
    # row; forward: FIRST), then carry-in as-of on the bucket axis
    # (tiny: one row per entity x non-empty bucket)
    pick = F.min_by if fwd else F.max_by
    summary = (unioned.where(F.col(_SIDE) == 0).groupBy(*by_cols, _BKT)
               .agg(pick(row, F.col(_RTS)).alias("__carry")))
    # carry-in for bucket b: nearest summary bucket strictly before
    # (backward) / after (forward) b — itself an as-of on the bucket
    # index, negated for forward so the backward machinery applies
    sign = -1 if fwd else 1
    left_buckets = (filled.select(*by_cols, _BKT).distinct()
                    .withColumn("__qb", sign * F.col(_BKT) - 1))
    carry = _asof_window(
        left_buckets,
        summary.select(*by_cols, (sign * F.col(_BKT)).alias("__qb"), "__carry"),
        on="__qb", r_on="__qb", by_cols=by_cols, direction="backward",
        tolerance=None, value_cols=["__carry"], axis_type="long",
    ).drop("__qb")

    # pass 3: coalesce the within-bucket pick with the carry-in
    out = (filled.join(carry, [*by_cols, _BKT], "left")
           .withColumn(_ROW, F.coalesce(_ROW, "__carry")))
    return _expand_row(out, on, tolerance, value_cols, left.columns)
