"""Deduplication operators for large-scale training-data pipelines.

Four tiers, each a DataFrame→DataFrame function over the documents
table (doc_id, text, ...):

- exact_dedup        : md5(text) hash-groupBy — one shuffle on the
  16-byte digest, keeps the min doc_id per digest (deterministic).
- minhash_lsh_pairs  : shingle → minhash → band → bucket-join.
  Candidate pairs whose estimated Jaccard >= threshold.  The only
  shuffle is on (band_id, band_hash) — hot buckets are bounded by
  banding; at 100 TB tune (num_perm, bands) so bucket sizes stay
  small and the self-join per bucket stays quadratic-in-tiny.
- simhash_pairs      : 64-bit simhash over shingles; pairs within a
  Hamming radius via block-key join (Charikar 2002 / Manku 2007
  block-permutation trick: r blocks, radius < r ⇒ some block equal).
- ngram_jaccard_pairs: exact n-gram Jaccard via token-posting join —
  the verifier for the sketch tiers at test scale.

Everything heavy is JVM built-ins (xxhash64, explode, groupBy);
minhash uses one Arrow-vectorized pandas UDF for the permutation min
(numpy matrix min — no per-row Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: (digest, canonical id, dup count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_col: "str | None" = None,
) -> DataFrame:
    """Cross-corpus exact dedup: drop rows whose text digest already
    exists in `reference` — the incremental-crawl primitive (new crawl
    vs the already-ingested corpus).

    `reference` is either a digest table (a `digest` column, e.g.
    exact_dedup output) or raw text (pass ref_col).  One left-anti
    shuffle join on the 16-byte digest; at 100 TB the reference digest
    set is the big side — pre-bucket it by digest (or feed Spark's
    runtime bloom-filter join) so only the new crawl re-shuffles.
    """
    if ref_col is not None:
        ref = reference.select(F.md5(F.col(ref_col)).alias("digest"))
    elif "digest" in reference.columns:
        ref = reference.select("digest")
    else:
        raise ValueError("reference needs a 'digest' column or ref_col=")
    return (
        df.withColumn("__digest", F.md5(F.col(text_col)))
        .join(
            ref.withColumnRenamed("digest", "__digest").dropDuplicates(),
            "__digest",
            "left_anti",
        )
        .drop("__digest")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_count: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """RefinedWeb-style exact line-level dedup (Penedo et al. 2023
    §3.3 "exact line deduplication"): remove EVERY occurrence of any
    non-blank line whose exact text appears >= ``min_count`` times
    corpus-wide (intra-document repeats count), preserving the order
    of the surviving lines.

    Pinned semantics (mirrored verbatim by the DuckDB differential
    oracle):

    - lines = split(coalesce(text, ''), sep) — no trimming, no empty
      filtering; a doc with NULL text has one line ''.
    - a line is dedup-ELIGIBLE iff trim(line) <> ''; blank lines are
      always kept (they never match an eligible line's text, so one
      anti join handles both classes).
    - duplicated = eligible line with >= min_count total occurrences.
    - surviving lines rejoin with ``sep`` in original order;
      all-removed docs emit '' (never NULL).

    Output: (id_col, out_col, n_lines, n_kept, n_removed).

    Plan shape / 100 TB posture: scan-side posexplode; ONE corpus
    -scale hash aggregate on the line text (map-side combine; the
    exchange carries distinct lines — at 100 TB group on
    xxhash64(line) instead to shrink the key to 8 bytes, the string
    key keeps the oracle pure SQL); LEFT ANTI join back (never
    row-multiplying); one per-document aggregate whose
    array_sort(collect_list(struct(pos, line))) reassembly is
    deterministic under any partitioning because pos is unique per
    document.  No Python anywhere; no driver-side state.
    """
    # F.split takes a Java REGEX while array_join below takes the
    # literal separator — an unquoted metachar sep (e.g. '|' or '. ')
    # would split between every character and reassemble differently.
    # \Q...\E quoting makes the split literal too (a sep containing
    # the \E terminator is re-opened around it).
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep_rx)
        ).alias("__pos", "__line"),
    )
    dup = (
        lines.where(F.trim(F.col("__line")) != "")
        .groupBy("__line")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= F.lit(int(min_count)))
        .select("__line")
    )
    kept = (
        lines.join(dup, "__line", "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__line"))
                    ),
                    lambda s: s["__line"],
                ),
                sep,
            ).alias(out_col),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    base = df.select(
        F.col(id_col),
        F.size(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep_rx)
        ).alias("n_lines"),
    )
    return base.join(kept, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
        F.col("n_lines").cast("int").alias("n_lines"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("int").alias("n_kept"),
        (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
    )


def prepare_digest_reference(
    reference: DataFrame,
    name: str,
    path: str,
    text_col: "str | None" = None,
    n_buckets: int = 32,
    overwrite: bool = False,
) -> str:
    """Materialize the already-ingested corpus's digest set as a
    DIGEST-BUCKETED storage table — the one-time layout shuffle that
    makes every later incremental-crawl dedup shuffle only the NEW
    side (``dedup_against_bucketed``).

    At 100 TB the reference digest set is the big side of the
    anti join and grows monotonically with every ingest; re-shuffling
    it per crawl is the scale killer the plain ``dedup_against``
    docstring warns about.  Bucketing it once on ``digest`` (same
    Spark-v1 bucketing as ``prepare_bucketed_asof_table``,
    operators/asof.py) lets the bucketed scan report
    HashPartitioning(digest, N) to Catalyst, so the anti join plans
    with NO Exchange above the reference scan — plan-shape pinned in
    tests/test_dedup_bucketed.py.

    ``reference`` is raw text (pass text_col) or a digest table (a
    ``digest`` column, e.g. exact_dedup output).  Appending a new
    crawl's digests later is ``INSERT INTO`` the same bucketed table —
    the layout is maintained incrementally, never rebuilt.
    """
    if text_col is not None:
        ref = reference.select(F.md5(F.col(text_col)).alias("digest"))
    elif "digest" in reference.columns:
        ref = reference.select("digest")
    else:
        raise ValueError("reference needs a 'digest' column or text_col=")
    spark = reference.sparkSession
    # Stale-file refusal (same hazard + same shared guard as
    # prepare_bucketed_asof_table): DROP TABLE leaves an EXTERNAL
    # table's part files behind, and a rebuilt reference registered at
    # the same path would silently absorb the prior corpus's digests —
    # new documents matching the stale set would be dropped.  Validate
    # BEFORE dropping, so a refused write leaves the live index
    # registered.
    from ..fsutil import ensure_empty_dir

    ensure_empty_dir(spark, path, overwrite, "prepare_digest_reference")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        ref.dropDuplicates()
        .repartition(n_buckets, F.col("digest"))
        .write.bucketBy(n_buckets, "digest")
        .format("parquet")
        .option("path", path)
        .saveAsTable(name)
    )
    return name


def dedup_against_bucketed(
    df: DataFrame,
    ref_table: str,
    text_col: str = "text",
) -> DataFrame:
    """Cross-corpus exact dedup against a ``prepare_digest_reference``
    table: left-anti join where ONLY the new-crawl side shuffles.

    The bucketed reference scan satisfies the join's distribution
    requirement natively; the crawl side exchanges once on the digest
    to the reference's bucket count.  This is the incremental-ingest
    posture: reference layout amortized across every future crawl.
    """
    spark = df.sparkSession
    ref = spark.table(ref_table)
    return (
        df.withColumn("digest", F.md5(F.col(text_col)))
        .join(ref, "digest", "left_anti")
        .drop("digest")
    )


def shingles(text_col: str, n: int = 3):
    """Word n-gram shingle array (JVM: split + transform + slice)."""
    words = F.split(F.col(text_col), " ")
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), k)
    return F.transform(
        idx, lambda i: F.array_join(F.slice(words, i, n), " ")
    )


def _minhash_udf(num_perm: int, seed: int = 12345):
    """Vectorized minhash: tokens-hash array -> num_perm minima.

    Universal hashing h_i(x) = (a_i * x + b_i) mod p over xxhash64'd
    shingles; numpy broadcast (batch, perm) min — Arrow in/out.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, MERSENNE, size=num_perm, dtype=np.uint64)
    perm_chunk = 8  # bounds the (total_tokens, chunk) temporary

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(hashes: pd.Series) -> pd.Series:
        # flat-buffer vectorization: ONE (total_tokens, perm_chunk)
        # hash matrix per chunk + minimum.reduceat over row offsets —
        # no per-row python (same pattern as functions/moments.py)
        arrs = [np.asarray(v, dtype=np.uint64) if v is not None else
                np.empty(0, dtype=np.uint64) for v in hashes]
        n_rows = len(arrs)
        counts = np.fromiter((len(v) for v in arrs), dtype=np.int64, count=n_rows)
        out = np.full((n_rows, num_perm), MERSENNE, dtype=np.int64)
        valid = counts > 0
        if valid.any():
            flat = np.concatenate(arrs) if n_rows else np.empty(0, np.uint64)
            offsets = np.concatenate([[0], np.cumsum(counts)])
            idx = offsets[:-1][valid]
            for lo in range(0, num_perm, perm_chunk):
                hi = min(lo + perm_chunk, num_perm)
                hv = (flat[:, None] * a[lo:hi] + b[lo:hi]) % MERSENNE
                out[valid, lo:hi] = np.minimum.reduceat(
                    hv, idx, axis=0
                ).astype(np.int64)
        return pd.Series(list(out))

    return minhash


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    sh = shingles(text_col, shingle_n)
    hashed = F.transform(F.array_distinct(sh), lambda s: F.xxhash64(s))
    mh = _minhash_udf(num_perm)
    return df.select(
        F.col(id_col), hashed.alias("__sh")
    ).withColumn("signature", mh(F.col("__sh"))).drop("__sh")


def banded_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, signature, band, band_hash) — the LSH banding shared by
    within-corpus pair generation (``minhash_lsh_pairs``) and the
    cross-corpus reference index (``prepare_minhash_reference``).
    band_hash = xxhash64(band, signature[band-slice])."""
    assert num_perm % bands == 0
    rows = num_perm // bands
    sig = minhash_signatures(df, text_col, id_col, num_perm, shingle_n)
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return sig.select(F.col(id_col), F.col("signature"), band_idx).select(
        F.col(id_col),
        F.col("signature"),
        F.col("band"),
        F.xxhash64(
            F.col("band"),
            F.slice(F.col("signature"), F.col("band") * rows + 1, rows),
        ).alias("band_hash"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) with estimated
    Jaccard >= threshold.  rows_per_band = num_perm // bands."""
    assert num_perm % bands == 0
    banded = banded_minhash(df, text_col, id_col, num_perm, bands, shingle_n)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band", "band_hash"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_perm))
    return (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def _simhash_vote_udf():
    """Arrow-vectorized bit-vote: array<long> of shingle hashes -> the
    64-bit simhash, ONE pass over each document's shingles.

    Flat-buffer vectorization (same pattern as the minhash UDF): the
    batch's hash arrays concatenate into one uint64 buffer, unpack to a
    (total_hashes, 64) little-endian bit matrix, and ``add.reduceat``
    over the row offsets yields every document's 64 bit-votes at once —
    no per-row Python, no 64 re-traversals of the shingle array (the
    SQL-expression twin folds the array once PER BIT).
    """

    @F.pandas_udf(T.LongType())
    def simhash64(hashes: pd.Series) -> pd.Series:
        arrs = [
            np.asarray(v, dtype=np.int64).view(np.uint64)
            if v is not None
            else np.empty(0, dtype=np.uint64)
            for v in hashes
        ]
        n_rows = len(arrs)
        counts = np.fromiter((len(v) for v in arrs), dtype=np.int64, count=n_rows)
        out = np.zeros(n_rows, dtype=np.int64)
        valid = counts > 0
        if valid.any():
            flat = np.concatenate(arrs)
            offsets = np.concatenate([[0], np.cumsum(counts)])
            idx = offsets[:-1][valid]
            # (total, 64) bit matrix; column j == bit j of the uint64
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            ).astype(np.int32)
            votes = np.add.reduceat(2 * bits - 1, idx, axis=0)  # (n_valid, 64)
            weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
            sig = ((votes > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
            out[valid] = sig.view(np.int64)
        return pd.Series(out)

    return simhash64


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    impl: str = "arrow",
) -> DataFrame:
    """64-bit simhash per doc via bit-vote aggregation.

    For each of 64 bits: vote +1 if the shingle hash has the bit set
    else -1; bit set in the signature iff the sum > 0.  Shingle hashing
    (xxhash64) is always JVM-side; the vote has two implementations
    that produce IDENTICAL signatures (pytest-pinned equality):

    - ``impl="arrow"`` (default): one Arrow-vectorized pandas UDF doing
      a single numpy pass over all bits at once — O(shingles) work.
    - ``impl="sql"``: zero-Python ``F.aggregate`` folds, but one fold
      PER BIT — 64 traversals of each document's shingle array and a
      giant codegen expression.  Kept for pure-JVM deployments.

    Either way: zero shuffle, embarrassingly parallel.
    """
    sh = F.array_distinct(shingles(text_col, shingle_n))
    hashed = F.transform(sh, lambda s: F.xxhash64(s))
    if impl == "arrow":
        vote = _simhash_vote_udf()
        return (
            df.select(F.col(id_col), hashed.alias("__sh"))
            .withColumn("simhash", vote(F.col("__sh")))
            .drop("__sh")
        )
    if impl != "sql":
        raise ValueError(f"unknown simhash impl {impl!r}")

    def bit_vote(bit: int):
        votes = F.aggregate(
            hashed,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        return F.when(votes > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))

    sig = F.lit(0).cast("long")
    for bit in range(64):
        sig = sig + (F.shiftleft(bit_vote(bit), bit))
    return df.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 2,
    impl: str = "arrow",
) -> DataFrame:
    """Pairs within Hamming distance <= max_hamming via block-key join:
    split the 64-bit hash into (max_hamming+1) 16-bit blocks; any pair
    within radius shares at least one block (pigeonhole)."""
    n_blocks = max_hamming + 1
    assert n_blocks <= 4, "64-bit hash -> at most 4x16-bit blocks"
    sig = simhash_signatures(df, text_col, id_col, shingle_n, impl=impl)

    block_idx = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk")
    # shiftright() only takes a literal bit count — use the SQL operator
    # for the per-row variable shift
    blocked = sig.select(F.col(id_col), F.col("simhash"), block_idx).withColumn(
        "blk_val", F.expr("(simhash >> (blk * 16)) & 65535")
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(b, ["blk", "blk_val"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: "int | None" = None,
) -> DataFrame:
    """EXACT n-gram Jaccard >= threshold via posting-list join.

    explode distinct shingles -> (shingle, id); self-join on shingle
    counts the intersection per pair; sizes give the union.

    ``max_df`` is the document-frequency cap, THE scale guard: a
    stop-shingle ("of the and") appearing in d documents makes its
    posting list O(d) long and the self-join on it O(d^2) — at 100 TB a
    corpus-wide shingle is a quadratic blowup.  With ``max_df=k``,
    shingles held by more than k documents are dropped from the
    representation BEFORE the self-join (one extra map-side-combinable
    groupBy on the postings, no new shuffle axis), and per-doc sizes are
    computed over the SAME capped set, so jaccard stays internally
    consistent (Jaccard over informative shingles).  ``max_df=None``
    keeps every shingle — the exact-oracle mode used by the driver gate.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("shingle"),
    )
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        # anti-join postings against the hot set.  Its size is bounded
        # by n_postings/max_df — usually broadcast-able, but not
        # provably so at 10^12 postings, so leave the strategy to AQE
        # (it broadcasts when the built side is small).  An anti-join on
        # a skewed key stays linear: the hot rows are filtered, never
        # multiplied.
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    # no broadcast hint: sizes is one row PER DOCUMENT — tiny at test
    # scale (AQE broadcasts it anyway) but O(corpus) at 10^12 docs,
    # where these must be shuffle joins on the pair ids
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prepare_minhash_reference(
    reference: DataFrame,
    name: str,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    n_buckets: int = 32,
    overwrite: bool = False,
) -> str:
    """Materialize the ingested corpus's BANDED MinHash index as a
    band_hash-bucketed storage table — the FUZZY companion of
    ``prepare_digest_reference``: dedup every future crawl against the
    existing corpus at near-duplicate (not byte-exact) granularity,
    shuffling only the new side.

    Stored columns: (band, band_hash, ref_id, signature).  The
    signature rides along so the probe can verify estimated Jaccard
    without a second lookup.  Bucketing on ``band_hash`` lets the
    bucketed scan report its hash partitioning to Catalyst, so the
    candidate join plans with no Exchange above the reference scan
    (the dedup_against_bucketed posture); appending a new crawl later
    is INSERT INTO the same table.
    """
    banded = banded_minhash(
        reference, text_col, id_col, num_perm, bands, shingle_n
    ).select(
        "band", "band_hash",
        F.col(id_col).alias("ref_id"),
        "signature",
    )
    spark = reference.sparkSession
    from ..fsutil import ensure_empty_dir

    # validate first: a refused write must leave the live index registered
    ensure_empty_dir(spark, path, overwrite, "prepare_minhash_reference")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        banded.repartition(n_buckets, F.col("band_hash"))
        .write.bucketBy(n_buckets, "band_hash")
        .format("parquet")
        .option("path", path)
        .saveAsTable(name)
    )
    # Record the banding in table properties: a probe run with
    # different banding would produce band_hash values that simply
    # never match — silently deduping NOTHING.  minhash_dedup_against
    # verifies these and refuses a mismatched probe.
    spark.sql(
        f"ALTER TABLE {name} SET TBLPROPERTIES ("
        f"'mh.num_perm'='{num_perm}', 'mh.bands'='{bands}', "
        f"'mh.shingle_n'='{shingle_n}')"
    )
    return name


def minhash_dedup_against(
    df: DataFrame,
    ref_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Cross-corpus NEAR-duplicate dedup: drop every new-crawl doc
    whose estimated Jaccard against ANY reference doc (via the
    ``prepare_minhash_reference`` index) reaches ``threshold``; the
    exact-digest twin is ``dedup_against_bucketed``.

    Banding parameters must match the ones the index was built with
    (same num_perm/bands/shingle_n — band_hash values are only
    comparable under identical banding).

    Plan shape / 100 TB posture: the crawl side computes signatures
    (one Arrow crossing), explodes to bands and joins the bucketed
    index on ``band_hash`` ALONE — the bucket key, so the bucketed
    scan satisfies the join's distribution natively and ONLY the new
    side shuffles (joining on (band, band_hash) would demand a
    two-key partitioning the bucket layout cannot provide and
    re-shuffle the reference; ``band`` is an INPUT of band_hash =
    xxhash64(band, slice), so the single-key join differs only on
    2^-64 xxhash collisions, and even those must still pass the
    est-Jaccard verification computed on the FULL signatures).
    Candidates verify est-Jaccard from the two signatures already in
    hand (no second join), collapse to a distinct matched-id set, and
    a LEFT ANTI keeps survivors.  The reference never re-shuffles;
    its layout cost is amortized across every future crawl.
    """
    spark = df.sparkSession
    ref = spark.table(ref_table)
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {ref_table}").collect()
    }
    want = {"mh.num_perm": num_perm, "mh.bands": bands,
            "mh.shingle_n": shingle_n}
    for key, val in want.items():
        if key not in props:
            # absent properties (stripped by a metastore copy/CTAS, or
            # a table not built by prepare_minhash_reference) are the
            # SAME silent-dedup-nothing hazard — refuse, don't assume
            raise ValueError(
                f"index {ref_table} lacks banding property {key}; "
                f"rebuild it with prepare_minhash_reference (a probe "
                f"against unknown banding silently dedups nothing)"
            )
        if props[key] != str(val):
            raise ValueError(
                f"banding mismatch vs index {ref_table}: {key}="
                f"{props[key]} in the index, {val} in the probe — "
                f"band_hash values would never match and NOTHING "
                f"would dedup"
            )
    probe = banded_minhash(df, text_col, id_col, num_perm, bands, shingle_n)
    est = F.aggregate(
        F.zip_with(
            "signature", "ref_sig",
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_perm))
    # No (id, ref_id) pre-dedup: a pair surfacing from several shared
    # bands carries the SAME est (it is a function of the two full
    # signatures), so filtering first and distinct-ing only the
    # surviving probe ids avoids a redundant corpus-scale exchange on
    # (id, ref_id) with both signature arrays in tow.
    matched = (
        probe.drop("band").join(
            ref.select(
                "band_hash", "ref_id",
                F.col("signature").alias("ref_sig"),
            ),
            ["band_hash"],
        )
        .where(est >= F.lit(float(threshold)))
        .select(id_col)
        .distinct()
    )
    return df.join(matched, [id_col], "left_anti")
