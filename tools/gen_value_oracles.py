"""Generate committed VALUES-literal DuckDB oracles (sf0.01).

For queries whose math is not ANSI-SQL-expressible (Thornton lstsq
curve fits) or whose hashing DuckDB lacks (Spark xxhash64), the driver
gate still gets an EXACT row+schema+hash check: this script recomputes
the expected sf0.01 output with implementations INDEPENDENT of the
Spark execution path and emits `SELECT * FROM (VALUES ...)` SQL into
tests/value_oracles_sf001.json, which __spark_entry__.oracle_sql()
merges at call time.

Independence per query:

- minhash_lsh_pairs_docs / simhash_pairs_docs / vocab_tokenize_docs /
  fingerprint_docs: re-derived from scratch in pure Python + numpy on
  top of tools/xxh64.py — a from-spec XXH64 port pinned bit-for-bit
  against the JVM by tests/test_xxh64.py.  These rows differentially
  check Spark's JVM hashing, array folds, and the Arrow UDF kernels
  against a second, non-Spark implementation.
- thornton_scores_docs: values come from the engine's numpy kernel run
  locally (single batch), but only AFTER this script asserts them
  allclose (rtol 1e-9) against the naive per-row transcription
  tests/oracle.thornton_oracle_row — the independence check happens
  here and in pytest; the committed literal then pins the Spark
  execution path exactly.  (The lstsq kernel is batch-composition-
  dependent at ~1e-16; measured rounding-boundary margin at sf0.01 is
  >=1.8e-10, five orders of magnitude of safety — verified below.)

Rounding: Spark's round(x, 6) is ROUND_HALF_UP over the shortest
decimal repr (BigDecimal.valueOf).  `spark_round6` reproduces it.

Usage: python tools/gen_value_oracles.py  (regenerate after any change
to the fixtures or the sketch parameters; commit the JSON).
"""

from __future__ import annotations

import json
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.xxh64 import xxh64  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "value_oracles_sf001.json")
MERSENNE = (1 << 61) - 1


def spark_round6(x: float) -> float:
    d = Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    f = float(d)
    # Spark's F.round normalizes IEEE -0.0 to +0.0; a '-0.0' VALUES
    # literal would be byte-distinct under the driver's hash (the
    # round-2 lyon8 escape class)
    return 0.0 if f == 0.0 else f


def _sql_str(s: "str | None") -> str:
    if s is None:
        return "NULL"
    return "'" + s.replace("'", "''") + "'"


def _values_sql(rows, cols) -> str:
    """rows: list of tuples of (sql_literal_strings); cols: [(name, type)]."""
    first = rows[0]
    head = ", ".join(
        f"CAST({v} AS {t})" for v, (_, t) in zip(first, cols)
    )
    body = [f"({head})"]
    for r in rows[1:]:
        body.append("(" + ", ".join(r) + ")")
    names = ", ".join(n for n, _ in cols)
    return (
        "SELECT * FROM (VALUES\n" + ",\n".join(body) + f"\n) AS t({names})"
    )


def _shingles(words, n):
    k = max(len(words) - n + 1, 1)
    return list(dict.fromkeys(" ".join(words[i:i + n]) for i in range(k)))


def load_docs():
    t = pq.read_table(os.path.join(SF_DIR, "documents.parquet"),
                      columns=["doc_id", "text"])
    # doc_id is int64 in the fixture; queries that run the documents
    # table through documents_to_sequences/vocab_tokenize cast it to
    # string, while the dedup/fingerprint queries keep the native type
    # (numeric ordering of id_a < id_b!) — each generator picks.
    ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    return ids, texts


def gen_thornton(ids, texts) -> str:
    from pulsarfeatureextractor_spark.functions.scores import (
        SCORE_FIELDS,
        scores_list_array,
    )
    from tests.oracle import thornton_oracle_row

    toks = [[len(w) % 256 for w in s.split(" ")] for s in texts]
    got = scores_list_array(pa.array(toks, type=pa.list_(pa.int32())))
    # independence check: engine kernel vs naive per-row transcription
    for i, tk in enumerate(toks):
        want = thornton_oracle_row(np.asarray(tk, dtype=np.float64))
        for j, name in enumerate(SCORE_FIELDS):
            assert np.isclose(got[i, j], want[name], rtol=1e-9, atol=1e-12), (
                ids[i], name, got[i, j], want[name])
    # rounding-boundary safety margin (see module docstring)
    v = got.flatten() * 1e6
    margin = np.abs((v - np.floor(v)) - 0.5).min()
    assert margin > 1e-6, f"value too close to a round-6 boundary: {margin}"

    rows = []
    for i, did in enumerate(ids):
        lits = [_sql_str(str(did))] + [repr(spark_round6(got[i, j]))
                                  for j in range(len(SCORE_FIELDS))]
        rows.append(tuple(lits))
    cols = [("doc_id", "VARCHAR")] + [(n, "DOUBLE") for n in SCORE_FIELDS]
    return _values_sql(rows, cols)


def _minhash_signatures(texts, num_perm=64, shingle_n=3, seed=12345):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, MERSENNE, size=num_perm, dtype=np.uint64)
    sigs = []
    for s in texts:
        hs = np.array(
            [xxh64(sh) for sh in _shingles(s.split(" "), shingle_n)],
            dtype=np.int64,
        ).view(np.uint64)
        hv = (hs[:, None] * a + b) % MERSENNE  # uint64 wrap, like the UDF
        sigs.append(hv.min(axis=0).astype(np.int64))
    return sigs


def gen_minhash_signatures(ids, texts, num_perm=64) -> str:
    """Full 64-perm signature per doc, serialized comma-joined (the
    query serializes identically — driver canon cannot hash arrays)."""
    sigs = _minhash_signatures(texts, num_perm=num_perm)
    rows = [
        (str(i), _sql_str(",".join(str(int(x)) for x in sig)))
        for i, sig in sorted(zip(ids, sigs))
    ]
    return _values_sql(rows, [("doc_id", "BIGINT"), ("signature", "VARCHAR")])


def _simhash_sig(text, shingle_n=2) -> int:
    hs = np.array(
        [xxh64(sh) for sh in _shingles(text.split(" "), shingle_n)],
        dtype=np.int64,
    ).view(np.uint64)
    bits = np.unpackbits(
        hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    ).astype(np.int32)
    votes = (2 * bits - 1).sum(axis=0)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    return int(((votes > 0).astype(np.uint64) * weights).sum(dtype=np.uint64))


def gen_simhash_signatures(ids, texts, shingle_n=2) -> str:
    def _signed64(x: int) -> int:
        # numpy 2.x raises on out-of-range uint64->int64; do it portably
        return x - (1 << 64) if x >= (1 << 63) else x

    rows = [
        (str(i), str(_signed64(_simhash_sig(t, shingle_n))))
        for i, t in sorted(zip(ids, texts))
    ]
    return _values_sql(rows, [("doc_id", "BIGINT"), ("simhash", "BIGINT")])


def gen_minhash_pairs(ids, texts, num_perm=64, bands=16, threshold=0.7) -> str:
    sigs = _minhash_signatures(texts, num_perm=num_perm)
    rows_per = num_perm // bands
    buckets: dict = {}
    for i, sig in enumerate(sigs):
        for bnd in range(bands):
            key = (bnd, tuple(sig[bnd * rows_per:(bnd + 1) * rows_per]))
            buckets.setdefault(key, []).append(i)
    cand = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                ia, ib = (i, j) if ids[i] < ids[j] else (j, i)
                cand.add((ia, ib))
    out = []
    for i, j in cand:
        est = float((sigs[i] == sigs[j]).sum()) / num_perm
        if est >= threshold:
            out.append((ids[i], ids[j], est))
    out.sort()
    rows = [(str(a), str(b), repr(spark_round6(e))) for a, b, e in out]
    return _values_sql(
        rows, [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("est_jaccard", "DOUBLE")]
    )


def gen_simhash_pairs(ids, texts, max_hamming=3, shingle_n=2) -> str:
    sigs = [_simhash_sig(s, shingle_n) for s in texts]
    n_blocks = max_hamming + 1
    buckets: dict = {}
    for i, sig in enumerate(sigs):
        for blk in range(n_blocks):
            key = (blk, (sig >> (blk * 16)) & 0xFFFF)
            buckets.setdefault(key, []).append(i)
    cand = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                ia, ib = (i, j) if ids[i] < ids[j] else (j, i)
                cand.add((ia, ib))
    out = []
    for i, j in cand:
        ham = bin(sigs[i] ^ sigs[j]).count("1")
        if ham <= max_hamming:
            out.append((ids[i], ids[j], ham))
    out.sort()
    rows = [(str(a), str(b), str(h)) for a, b, h in out]
    return _values_sql(
        rows, [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("hamming", "INT")]
    )


def gen_vocab_hash(ids, texts) -> str:
    rows = []
    for did, s in zip(ids, texts):
        words = s.split(" ")
        toks = " ".join(str(xxh64(w) % ((1 << 31) - 1) + 1) for w in words)
        rows.append((_sql_str(str(did)), _sql_str(toks), str(len(words))))
    return _values_sql(
        rows, [("doc_id", "VARCHAR"), ("tokens_str", "VARCHAR"), ("n_tok", "INT")]
    )


def gen_fingerprint(ids, texts) -> str:
    mod = 1 << 40
    rows = []
    for did, s in zip(ids, texts):
        acc = 0
        for w in s.split(" "):
            acc = (acc * 1000003 + (xxh64(w) % mod)) % mod
        rows.append((str(did), str(acc)))
    return _values_sql(rows, [("doc_id", "BIGINT"), ("fingerprint", "BIGINT")])


def gen_subband(ids, texts, n_chan=8) -> str:
    """Sub-band scores over the deterministic synthetic cube
    (sources/tokenized.with_synthetic_subbands): band b bin i =
    (tokens[i] + (b+1)*(i%17)) % 256, tokens = len(word)%256.  Cube
    rebuilt here in pure integer Python, scored by the engine kernel
    AFTER an allclose check against the naive per-row transcription
    tests/oracle.subband_oracle_row (same independence discipline as
    gen_thornton)."""
    from pulsarfeatureextractor_spark.functions.scores import (
        SUBBAND_FIELDS,
        subband_scores_list_array,
    )
    from tests.oracle import subband_oracle_row

    flats = []
    for s in texts:
        toks = [len(w) % 256 for w in s.split(" ")]
        flat = []
        for b in range(n_chan):
            flat.extend((t + (b + 1) * (i % 17)) % 256
                        for i, t in enumerate(toks))
        flats.append(flat)
    got = subband_scores_list_array(
        pa.array(flats, type=pa.list_(pa.int32())), n_chan)
    for i, flat in enumerate(flats):
        mat = np.asarray(flat, dtype=np.float64).reshape(n_chan, -1)
        want = subband_oracle_row(mat)
        for j, name in enumerate(SUBBAND_FIELDS):
            assert np.isclose(got[i, j], want[name], rtol=1e-9, atol=1e-12), (
                ids[i], name, got[i, j], want[name])
    v = got.flatten() * 1e6
    margin = np.abs((v - np.floor(v)) - 0.5).min()
    assert margin > 1e-6, f"value too close to a round-6 boundary: {margin}"

    rows = []
    for i, did in enumerate(ids):
        lits = [_sql_str(str(did))] + [repr(spark_round6(got[i, j]))
                                       for j in range(len(SUBBAND_FIELDS))]
        rows.append(tuple(lits))
    cols = [("doc_id", "VARCHAR")] + [(n, "DOUBLE") for n in SUBBAND_FIELDS]
    return _values_sql(rows, cols)


def gen_subint(ids, texts, n_int=6) -> str:
    """Sub-INTEGRATION scores over the second synthetic cube axis
    (sources/tokenized.with_synthetic_subints): sub-int s bin i =
    (tokens[i] + (s+1)*(i%13) + 3*s) % 256.  Same kernel and same
    independence discipline as gen_subband (naive per-row transcription
    check via tests/oracle.subband_oracle_row); output columns are the
    si_* renames of SUBBAND_FIELDS."""
    from pulsarfeatureextractor_spark.functions.scores import (
        SUBBAND_FIELDS,
        subband_scores_list_array,
    )
    from tests.oracle import subband_oracle_row

    flats = []
    for s_text in texts:
        toks = [len(w) % 256 for w in s_text.split(" ")]
        flat = []
        for s in range(n_int):
            flat.extend((t + (s + 1) * (i % 13) + 3 * s) % 256
                        for i, t in enumerate(toks))
        flats.append(flat)
    got = subband_scores_list_array(
        pa.array(flats, type=pa.list_(pa.int32())), n_int)
    for i, flat in enumerate(flats):
        mat = np.asarray(flat, dtype=np.float64).reshape(n_int, -1)
        want = subband_oracle_row(mat)
        for j, name in enumerate(SUBBAND_FIELDS):
            assert np.isclose(got[i, j], want[name], rtol=1e-9, atol=1e-12), (
                ids[i], name, got[i, j], want[name])
    v = got.flatten() * 1e6
    margin = np.abs((v - np.floor(v)) - 0.5).min()
    assert margin > 1e-6, f"value too close to a round-6 boundary: {margin}"

    si_fields = [n.replace("sb_", "si_") for n in SUBBAND_FIELDS]
    rows = []
    for i, did in enumerate(ids):
        lits = [_sql_str(str(did))] + [repr(spark_round6(got[i, j]))
                                       for j in range(len(si_fields))]
        rows.append(tuple(lits))
    cols = [("doc_id", "VARCHAR")] + [(n, "DOUBLE") for n in si_fields]
    return _values_sql(rows, cols)


def _synthetic_media_py(n_rows=300, seed=42):
    """Pure-python twin of functions/multimodal.synthetic_media —
    IDENTICAL rng call order (choice w, choice h, integers only for
    video) so the rows match bit-for-bit."""
    import hashlib

    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    out = []
    for i in range(n_rows):
        kind = kinds[i % 3]
        w = int(rng.choice([8, 16, 32]))
        h = int(rng.choice([8, 16]))
        frames = int(rng.integers(2, 6)) if kind == "video" else 1
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (
            (w * h * frames) // 32 + 1
        )
        payload = payload[: w * h * frames]
        out.append((f"m_{i:06d}", kind, payload, w, h, frames))
    return out


def gen_media_stats(n_rows=300, seed=42) -> str:
    media = _synthetic_media_py(n_rows, seed)
    agg = {}
    for mid, kind, payload, w, h, frames in media:
        n, tot, asps = agg.get(kind, (0, 0, []))
        agg[kind] = (n + 1, tot + len(payload), asps + [w / h])
    rows = []
    for kind in sorted(agg):
        n, tot, asps = agg[kind]
        # aspects are powers of two -> float sums exact in any order
        rows.append((_sql_str(kind), str(n), str(tot),
                     repr(spark_round6(sum(asps) / n))))
    return _values_sql(rows, [("kind", "VARCHAR"), ("n_media", "BIGINT"),
                              ("total_bytes", "BIGINT"),
                              ("avg_aspect", "DOUBLE")])


def gen_media_frames(n_rows=300, seed=42, every_k=2) -> str:
    rows = []
    for mid, kind, payload, w, h, frames in _synthetic_media_py(n_rows, seed):
        if kind != "video":
            continue
        sampled = [j for j in range(frames) if j % every_k == 0]
        rows.append((_sql_str(mid), str(len(sampled)),
                     str(len(sampled) * w * h)))
    rows.sort()
    return _values_sql(rows, [("media_id", "VARCHAR"),
                              ("n_frames_sampled", "BIGINT"),
                              ("sampled_bytes", "BIGINT")])


def _load_embeddings():
    t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_pylist()
    vecs = [np.asarray(v, dtype=np.float64)
            for v in t.column("embedding").to_pylist()]
    return ids, vecs


def _seq_cosine(a, b) -> float:
    """Sequential double fold — replicates _cosine_expr's F.aggregate
    order exactly (acc + v left-to-right, IEEE double)."""
    import math

    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    na, nb = math.sqrt(na), math.sqrt(nb)
    return acc / (na * nb) if na > 0 and nb > 0 else 0.0


def _rp_buckets(vecs, n_bits, n_tables, seed):
    """Mirror of similarity._bucket_udf: same rng stream, same gemm
    shape (sf0.01 fits one Arrow batch), same bit packing."""
    mat = np.vstack(vecs)
    planes = np.random.default_rng(seed).standard_normal(
        (n_tables, n_bits, mat.shape[1]))
    weights = (1 << np.arange(n_bits, dtype=np.int64))
    keys = np.empty((mat.shape[0], n_tables), dtype=np.int64)
    for t in range(n_tables):
        proj = mat @ planes[t].T
        bits = (proj > 0).astype(np.int64)
        keys[:, t] = bits @ weights + (t << 48)
    return keys


def gen_embedding_neardup_lsh(threshold=0.45, n_bits=6, n_tables=12,
                              seed=555) -> str:
    ids, vecs = _load_embeddings()
    keys = _rp_buckets(vecs, n_bits, n_tables, seed)
    buckets: dict = {}
    for i in range(len(ids)):
        for key in keys[i]:
            buckets.setdefault(int(key), []).append(i)
    cand = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                ia, ib = (i, j) if ids[i] < ids[j] else (j, i)
                cand.add((ia, ib))
    out = []
    for i, j in sorted(cand):
        cos = _seq_cosine(vecs[i], vecs[j])
        if cos >= threshold:
            out.append((str(ids[i]), str(ids[j]),
                        repr(spark_round6(cos))))
    out.sort()
    return _values_sql(out, [("id_a", "BIGINT"), ("id_b", "BIGINT"),
                             ("cosine", "DOUBLE")])


def gen_ann_lsh_topk(k=5, n_bits=10, n_tables=6, seed=777) -> str:
    ids, vecs = _load_embeddings()
    keys = _rp_buckets(vecs, n_bits, n_tables, seed)
    by_id = {ids[i]: i for i in range(len(ids))}
    q_ids = sorted(i for i in ids if i < 10)
    bucket_members: dict = {}
    for i in range(len(ids)):
        for key in keys[i]:
            bucket_members.setdefault(int(key), []).append(i)
    rows = []
    for qid in q_ids:
        qi = by_id[qid]
        cand = set()
        for key in keys[qi]:
            cand.update(bucket_members[int(key)])
        cand.discard(qi)
        scored = sorted(
            ((_seq_cosine(vecs[c], vecs[qi]), ids[c]) for c in cand),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (cos, cid) in enumerate(scored[:k], start=1):
            rows.append((str(qid), str(cid), repr(spark_round6(cos)),
                         str(rank)))
    return _values_sql(rows, [("query_id", "BIGINT"), ("vec_id", "BIGINT"),
                              ("cosine", "DOUBLE"), ("rank", "BIGINT")])


def gen_ann_ivf_topk(k=5, n_centroids=16, n_probe=6, seed=31,
                     lloyd_iters=5, train_sample=20_000) -> str:
    """Pure-python twin of operators/similarity.ivf_topk for the driver
    query's parameters: identical hash-ordered sample, identical numpy
    Lloyd arithmetic (the engine trains DRIVER-side with this exact
    code path), one-Arrow-batch assignment at sf0.01 so gemm shapes
    match, sequential-fold cosine."""
    ids, vecs = _load_embeddings()
    h = {i: xxh64(f"{ids[i]}|{seed}") % (1 << 31) for i in range(len(ids))}
    order = sorted(range(len(ids)), key=lambda i: (h[i], ids[i]))
    sample_n = max(n_centroids, min(train_sample, n_centroids * 256))
    X = np.vstack([vecs[i] for i in order[:sample_n]])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_centroids].copy()
    for _ in range(lloyd_iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    mat = np.vstack(vecs)
    matn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    sims = matn @ C.T
    corpus_cell = np.argsort(-sims, axis=1)[:, :1][:, 0]
    probe_cells = np.argsort(-sims, axis=1)[:, :n_probe]
    members_by_cell: dict = {}
    for i in range(len(ids)):
        members_by_cell.setdefault(int(corpus_cell[i]), []).append(i)
    rows = []
    for qi in sorted(range(len(ids)), key=lambda i: ids[i]):
        if ids[qi] >= 10:
            continue
        cand = set()
        for cell in probe_cells[qi]:
            cand.update(members_by_cell.get(int(cell), []))
        cand.discard(qi)
        scored = sorted(
            ((_seq_cosine(vecs[c], vecs[qi]), ids[c]) for c in cand),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (cos, cid) in enumerate(scored[:k], start=1):
            rows.append((str(ids[qi]), str(cid), repr(spark_round6(cos)),
                         str(rank)))
    return _values_sql(rows, [("query_id", "BIGINT"), ("vec_id", "BIGINT"),
                              ("cosine", "DOUBLE"), ("rank", "BIGINT")])


def gen_semantic_dedup(threshold=0.45, n_centroids=8, seed=31,
                       lloyd_iters=5, train_sample=20_000) -> str:
    """Pure-python twin of operators/similarity.semantic_dedup for the
    driver query's parameters: identical centroid training
    (_train_spherical_centroids arithmetic), identical top-1 cell
    assignment, within-cell exact pairs at sequential-fold cosine >=
    threshold, then union-find -> group_id = min id, group_size =
    member count (the dedup_groups contract)."""
    ids, vecs = _load_embeddings()
    h = {i: xxh64(f"{ids[i]}|{seed}") % (1 << 31) for i in range(len(ids))}
    order = sorted(range(len(ids)), key=lambda i: (h[i], ids[i]))
    sample_n = max(n_centroids, min(train_sample, n_centroids * 256))
    X = np.vstack([vecs[i] for i in order[:sample_n]])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_centroids].copy()
    for _ in range(lloyd_iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    mat = np.vstack(vecs)
    matn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    sims = matn @ C.T
    cell = np.argsort(-sims, axis=1)[:, :1][:, 0]
    members_by_cell: dict = {}
    for i in range(len(ids)):
        members_by_cell.setdefault(int(cell[i]), []).append(i)
    # union-find over within-cell pairs at cosine >= threshold
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in members_by_cell.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                if _seq_cosine(vecs[i], vecs[j]) >= threshold:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[rj] = ri
    group_of = {}
    for i in range(len(ids)):
        root = find(i)
        group_of.setdefault(root, []).append(i)
    gid = {}
    gsize = {}
    for root, members in group_of.items():
        g = min(ids[m] for m in members)
        for m in members:
            gid[m] = g
            gsize[m] = len(members)
    rows = sorted(
        (str(ids[i]), str(gid[i]), str(gsize[i])) for i in range(len(ids))
    )
    return _values_sql(rows, [("vec_id", "BIGINT"), ("group_id", "BIGINT"),
                              ("group_size", "BIGINT")])


def _bpe_twin_merge_pass(s, p1, p2):
    """One greedy left-to-right non-overlapping merge pass (list form —
    deliberately NOT the engine's wrapped-string replace encoding, so
    the two implementations are independent)."""
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == p1 and s[i + 1] == p2:
            out.append(p1 + p2)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _bpe_twin_train(texts, n_merges=32, min_pair_freq=2, eow="</w>"):
    """Pure-python twin of functions/bpe.train_bpe: word-frequency
    Counter, iterated argmax of corpus-weighted adjacent-pair counts
    with (-count, p1, p2) tie-break, greedy merge passes."""
    from collections import Counter

    wc = Counter(
        w for t in texts for w in (t or "").split(" ") if w and "\x1f" not in w
    )
    state = {w: list(w) + [eow] for w in wc}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, c in wc.items():
            s = state[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (p1, p2), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_freq:
            break
        merges.append((p1, p2))
        for w in state:
            state[w] = _bpe_twin_merge_pass(state[w], p1, p2)
    return merges


def _bpe_twin_encode(text, merges, eow="</w>"):
    toks = []
    for w in (text or "").split(" "):
        if not w:
            continue
        if "\x1f" in w:
            toks.append(w)
            continue
        s = list(w) + [eow]
        for p1, p2 in merges:
            s = _bpe_twin_merge_pass(s, p1, p2)
        toks.extend(s)
    return toks


def gen_bpe_merges(ids, texts, n_merges=32) -> str:
    merges = _bpe_twin_train(texts, n_merges)
    rows = [
        (str(i), _sql_str(p1), _sql_str(p2))
        for i, (p1, p2) in enumerate(merges)
    ]
    return _values_sql(
        rows, [("rank", "INT"), ("p1", "VARCHAR"), ("p2", "VARCHAR")]
    )


def gen_bpe_tokenize(ids, texts, n_merges=32) -> str:
    merges = _bpe_twin_train(texts, n_merges)
    rows = []
    for did, s in zip(ids, texts):
        toks = _bpe_twin_encode(s, merges)
        rows.append((str(did), _sql_str(" ".join(toks)), str(len(toks))))
    return _values_sql(
        rows,
        [("doc_id", "BIGINT"), ("tokens_str", "VARCHAR"), ("n_bpe", "INT")],
    )


def _wp_twin_train(texts, n_merges=24, min_pair_freq=2, eow="</w>"):
    """Pure-python twin of functions/wordpiece.train_wordpiece:
    Counter word/symbol/pair counts, likelihood score
    cnt / (float(c1) * float(c2)), argmax by (-score, p1, p2),
    greedy merge passes (the independent list-form _bpe_twin pass)."""
    from collections import Counter

    wc = Counter(
        w for t in texts for w in (t or "").split(" ")
        if w and "\x1f" not in w
    )
    state = {w: list(w) + [eow] for w in wc}
    merges = []
    for _ in range(n_merges):
        pc, sc = Counter(), Counter()
        for w, c in wc.items():
            s = state[w]
            for sym in s:
                sc[sym] += c
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        cand = [(p, c) for p, c in pc.items() if c >= min_pair_freq]
        if not cand:
            break
        scored = [
            (c / (float(sc[p[0]]) * float(sc[p[1]])), p) for p, c in cand
        ]
        score, (p1, p2) = min(scored, key=lambda t: (-t[0], t[1]))
        merges.append((p1, p2, score))
        for w in state:
            state[w] = _bpe_twin_merge_pass(state[w], p1, p2)
    vocab = sorted({sym for s in state.values() for sym in s})
    return merges, vocab


def _wp_twin_encode(text, vocab, eow="</w>"):
    """Greedy longest-match twin (descending-length first-hit scan —
    deliberately NOT the engine's ascending keep-last scan)."""
    out = []
    for w in (text or "").split(" "):
        if not w:
            continue
        if "\x1f" in w:
            out.append(w)
            continue
        atoms = list(w) + [eow]
        i = 0
        while i < len(atoms):
            piece, nxt = atoms[i], i + 1
            for j in range(len(atoms), i + 1, -1):
                cand = "".join(atoms[i:j])
                if cand in vocab:
                    piece, nxt = cand, j
                    break
            out.append(piece)
            i = nxt
    return out


def gen_wordpiece_merges(ids, texts, n_merges=24) -> str:
    merges, _ = _wp_twin_train(texts, n_merges)
    rows = [
        (str(i), _sql_str(p1), _sql_str(p2), repr(spark_round6(sc)))
        for i, (p1, p2, sc) in enumerate(merges)
    ]
    return _values_sql(
        rows,
        [("rank", "INT"), ("p1", "VARCHAR"), ("p2", "VARCHAR"),
         ("score", "DOUBLE")],
    )


def gen_wordpiece_tokenize(ids, texts, n_merges=24) -> str:
    _, vocab = _wp_twin_train(texts, n_merges)
    vs = set(vocab)
    rows = []
    for did, t in zip(ids, texts):
        toks = _wp_twin_encode(t, vs)
        rows.append((str(did), _sql_str(" ".join(toks)), str(len(toks))))
    return _values_sql(
        rows,
        [("doc_id", "BIGINT"), ("tokens_str", "VARCHAR"), ("n_wp", "INT")],
    )


def _uni_twin_viterbi(word, logp, max_piece_len):
    """Independent twin of functions/unigram.viterbi_segment: memoized
    top-down recursion (deliberately NOT the engine's iterative DP),
    same pinned contract — increasing-i scan, strict >, longest piece
    wins float ties, single-char UNK fallback at -1e9."""
    from functools import lru_cache

    @lru_cache(maxsize=None)
    def best(j):
        if j == 0:
            return (0.0, None)
        b, bi = None, None
        for i in range(max(0, j - max_piece_len), j):
            prev = best(i)[0]
            lp = logp.get(word[i:j])
            if lp is None:
                continue
            s = prev + lp
            if b is None or s > b:
                b, bi = s, i
        if b is None:
            b, bi = best(j - 1)[0] + (-1e9), j - 1
        return (b, bi)

    pieces, j = [], len(word)
    while j > 0:
        i = best(j)[1]
        pieces.append(word[i:j])
        j = i
    pieces.reverse()
    return pieces


def _uni_twin_train(texts, vocab_size=64, max_piece_len=4,
                    seed_max_pieces=256, em_iters=2, prune_frac=0.25):
    """Pure-python twin of functions/unigram.train_unigram: Counter
    word/substring counts, hard-EM Viterbi counts, add-one M-step
    logp = log(c+1) - log(T+V), prune (count asc, piece asc), final
    cut (count desc, piece asc), chars never pruned."""
    import math
    from collections import Counter

    wc = Counter(w for t in texts for w in (t or "").split(" ") if w)
    sub = Counter()
    for w, f in wc.items():
        for i in range(len(w)):
            for l in range(1, min(max_piece_len, len(w) - i) + 1):
                sub[w[i:i + l]] += f
    chars = {p: c for p, c in sub.items() if len(p) == 1}
    n_multi = max(seed_max_pieces - len(chars), 0)
    multi = dict(sorted(
        ((p, c) for p, c in sub.items() if len(p) >= 2),
        key=lambda t: (-t[1], t[0]))[:n_multi])
    counts = {**chars, **multi}

    def mstep(cnt):
        denom = math.log(sum(cnt.values()) + len(cnt))
        return {p: math.log(c + 1) - denom for p, c in cnt.items()}

    logp = mstep(counts)
    min_multi = max(vocab_size - len(chars), 0)
    for it in range(em_iters):
        counts = Counter()
        for w, f in wc.items():
            for p in _uni_twin_viterbi(w, logp, max_piece_len):
                counts[p] += f
        counts = dict(counts)
        for c in chars:
            counts.setdefault(c, 0)
        multi_items = [(p, c) for p, c in counts.items() if len(p) >= 2]
        if it + 1 < em_iters:
            n_drop = min(int(len(multi_items) * prune_frac),
                         max(len(multi_items) - min_multi, 0))
            for p, _ in sorted(multi_items, key=lambda t: (t[1], t[0]))[:n_drop]:
                del counts[p]
        else:
            keep = sorted(multi_items, key=lambda t: (-t[1], t[0]))[:min_multi]
            counts = {**{c: counts[c] for c in chars}, **dict(keep)}
        logp = mstep(counts)
    return sorted(logp.items())


def gen_unigram_vocab(ids, texts) -> str:
    model = _uni_twin_train(texts)
    rows = [(_sql_str(p), repr(spark_round6(lp))) for p, lp in model]
    return _values_sql(rows, [("piece", "VARCHAR"), ("logp", "DOUBLE")])


def gen_unigram_tokenize(ids, texts) -> str:
    model = _uni_twin_train(texts)
    logp = dict(model)
    rows = []
    for did, t in zip(ids, texts):
        toks = []
        for w in (t or "").split(" "):
            if w:
                toks.extend(_uni_twin_viterbi(w, logp, 4))
        rows.append((str(did), _sql_str(" ".join(toks)), str(len(toks))))
    return _values_sql(
        rows,
        [("doc_id", "BIGINT"), ("tokens_str", "VARCHAR"),
         ("n_unigram", "INT")],
    )


def gen_minhash_dedup_against(ids, texts, num_perm=64, bands=16,
                              threshold=0.5) -> str:
    """Twin of operators/dedup.minhash_dedup_against with the driver
    query's corpus split (doc_id % 3 == 0 is the ingested reference,
    the rest the new crawl): a new doc is dropped iff some reference
    doc shares a band AND the signature-estimated Jaccard reaches the
    threshold; survivors listed with n_chars."""
    t = pq.read_table(os.path.join(SF_DIR, "documents.parquet"),
                      columns=["doc_id", "n_chars"])
    n_chars_of = dict(zip(t.column("doc_id").to_pylist(),
                          t.column("n_chars").to_pylist()))
    sigs = _minhash_signatures(texts, num_perm=num_perm)
    rows_per = num_perm // bands
    ref_buckets: dict = {}
    for k, did in enumerate(ids):
        if did % 3 == 0:
            for bnd in range(bands):
                key = (bnd, tuple(sigs[k][bnd * rows_per:(bnd + 1) * rows_per]))
                ref_buckets.setdefault(key, []).append(k)
    survivors = []
    for k, did in enumerate(ids):
        if did % 3 == 0:
            continue
        cands: set = set()
        for bnd in range(bands):
            key = (bnd, tuple(sigs[k][bnd * rows_per:(bnd + 1) * rows_per]))
            cands.update(ref_buckets.get(key, ()))
        dropped = any(
            float((sigs[k] == sigs[r]).sum()) / num_perm >= threshold
            for r in cands
        )
        if not dropped:
            survivors.append((did, n_chars_of[did]))
    survivors.sort()
    rows = [(str(d), str(nc)) for d, nc in survivors]
    return _values_sql(rows, [("doc_id", "BIGINT"), ("n_chars", "BIGINT")])


def gen_tokenizer_eval(ids, texts) -> str:
    """Twin of functions/unigram.tokenizer_eval over the sf0.01 corpus
    grouped by lang: per-group fertility / chars-per-token / unk-rate
    from the SAME twin tokenization as gen_unigram_tokenize, with the
    ratio rounding mirroring Spark's HALF_UP round(x, 6)."""
    t = pq.read_table(os.path.join(SF_DIR, "documents.parquet"),
                      columns=["doc_id", "lang"])
    lang_of = dict(zip(t.column("doc_id").to_pylist(),
                       t.column("lang").to_pylist()))
    model = _uni_twin_train(texts)
    logp = dict(model)
    vocab = set(logp)
    agg: dict[str, list[int]] = {}
    for did, txt in zip(ids, texts):
        words = [w for w in (txt or "").split(" ") if w]
        toks = []
        for w in words:
            toks.extend(_uni_twin_viterbi(w, logp, 4))
        g = agg.setdefault(lang_of[did], [0, 0, 0, 0, 0])
        g[0] += 1
        g[1] += len(words)
        g[2] += len(toks)
        g[3] += sum(1 for p in toks if p not in vocab)
        g[4] += sum(len(p) for p in toks)
    rows = []
    # a NULL lang is its own group, as in the engine's groupBy; last
    for lang in sorted(agg, key=lambda g: (g is None, g or "")):
        nd, nw, nt, nu, nc = agg[lang]
        fert = repr(spark_round6(nt / nw)) if nw else "NULL"
        cpt = repr(spark_round6(nc / nt)) if nt else "NULL"
        unk = repr(spark_round6(nu / nt)) if nt else "NULL"
        rows.append((_sql_str(lang), str(nd), str(nw), str(nt), str(nu),
                     fert, cpt, unk))
    return _values_sql(
        rows,
        [("lang", "VARCHAR"), ("n_docs", "BIGINT"), ("n_words", "BIGINT"),
         ("n_tokens", "BIGINT"), ("n_unk", "BIGINT"),
         ("fertility", "DOUBLE"), ("chars_per_token", "DOUBLE"),
         ("unk_rate", "DOUBLE")],
    )


def main() -> None:
    ids, texts = load_docs()
    oracles = {
        "thornton_scores_docs": gen_thornton(ids, texts),
        "subband_scores_docs": gen_subband(ids, texts),
        "subint_scores_docs": gen_subint(ids, texts),
        "minhash_lsh_pairs_docs": gen_minhash_pairs(ids, texts),
        "simhash_pairs_docs": gen_simhash_pairs(ids, texts),
        "vocab_tokenize_docs": gen_vocab_hash(ids, texts),
        "minhash_signatures_docs": gen_minhash_signatures(ids, texts),
        "simhash_signatures_docs": gen_simhash_signatures(ids, texts),
        "media_stats_summary": gen_media_stats(),
        "media_frame_samples": gen_media_frames(),
        "embedding_neardup_lsh": gen_embedding_neardup_lsh(),
        "ann_lsh_topk_docs": gen_ann_lsh_topk(),
        "ann_ivf_topk": gen_ann_ivf_topk(),
        "semantic_dedup_embeddings": gen_semantic_dedup(),
        "fingerprint_docs": gen_fingerprint(ids, texts),
        "bpe_merges_docs": gen_bpe_merges(ids, texts),
        "bpe_train_tokenize_docs": gen_bpe_tokenize(ids, texts),
        "unigram_vocab_docs": gen_unigram_vocab(ids, texts),
        "unigram_train_tokenize_docs": gen_unigram_tokenize(ids, texts),
        "tokenizer_eval_docs": gen_tokenizer_eval(ids, texts),
        "minhash_dedup_against_docs": gen_minhash_dedup_against(ids, texts),
        "wordpiece_merges_docs": gen_wordpiece_merges(ids, texts),
        "wordpiece_train_tokenize_docs": gen_wordpiece_tokenize(ids, texts),
    }
    with open(OUT, "w") as f:
        json.dump(oracles, f, indent=1)
    sizes = {k: len(v) for k, v in oracles.items()}
    print(f"wrote {OUT}: {sizes}")


if __name__ == "__main__":
    main()
