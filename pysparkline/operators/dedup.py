"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB):
- **exact_dedup** is one shuffle on a content hash; the winner-per-group is a
  map-side-combinable min — no row data moves except one id per group.
- **MinHash** signatures are computed in a vectorized pandas UDF (Arrow
  batches, numpy matrix of permutations); LSH banding turns O(n^2) pair
  search into per-bucket joins, so the shuffle is keyed by (band, band_hash)
  and only candidate pairs are materialized. Bucket skew (a giant near-dup
  cluster) is bounded with a per-bucket cap.
- **SimHash** is pure JVM-side expressions (split + hash + bit arithmetic);
  near-dup candidates come from 4-segment blocking (pigeonhole: hamming
  distance <= 3 guarantees one exact 16-bit segment match).
- **n-gram Jaccard** uses an inverted-index join with length prefiltering.
"""

from __future__ import annotations

import functools
import operator
import os
import threading
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType

from .util import pinned_shuffle

# Intermediate caches persisted by minhash_lsh_pairs (signatures) and
# fuzzy_join (candidate pairs), keyed per (SparkSession -> operator group)
# exactly like similarity._assignment_caches: repeated calls in a loop
# (snapshot-linking, per-epoch dedup refreshes) previously accumulated
# session-lifetime persist residue (ADVICE r7 #2 — the same lifecycle class
# VERDICT r6 #5 fixed for knn_join). Each call retires ITS OWN group's
# prior cache in ITS OWN session only — concurrent sessions / interleaved
# operators never evict each other — so at most one cache per (session,
# group) is live. Retiring is always safe: persist keeps lineage, a stale
# result recomputes.
_dedup_caches: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_dedup_lock = threading.Lock()


def _retire_cache(group: str, spark) -> None:
    with _dedup_lock:
        bucket = _dedup_caches.get(spark) or {}
        dfs = bucket.pop(group, [])
    for df in dfs:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing left to release


def _track_cache(group: str, df: DataFrame) -> DataFrame:
    with _dedup_lock:
        _dedup_caches.setdefault(df.sparkSession, {}).setdefault(
            group, []
        ).append(df)
    return df


def release_dedup_caches(spark=None) -> None:
    """Unpersist every signature/candidate cache held by prior
    ``minhash_lsh_pairs`` / ``fuzzy_join`` calls. ``spark`` limits the
    release to that session's caches; None (default) releases every
    session's. Call after materializing results inside a loop to drop the
    residue immediately instead of waiting for the next same-group call."""
    with _dedup_lock:
        if spark is None:
            buckets = [b for _, b in _dedup_caches.items()]
            _dedup_caches.clear()
        else:
            b = _dedup_caches.pop(spark, None)
            buckets = [b] if b else []
    for bucket in buckets:
        for dfs in bucket.values():
            for df in dfs:
                try:
                    df.unpersist(blocking=False)
                except Exception:
                    pass


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, cols: list[str], id_col: str, normalize: bool = False
) -> DataFrame:
    """One row per distinct content: (content_hash, keep_id = min id, dup_count).

    ``normalize`` lowercases and collapses whitespace first (fingerprint
    dedup). Single shuffle on the hash; min/count are partial-aggregated.
    """
    parts = [
        F.regexp_replace(F.lower(F.col(c)), r"\s+", " ") if normalize else F.col(c)
        for c in cols
    ]
    if len(parts) == 1:
        key = parts[0].cast("string")
    else:
        # separator + NULL sentinel: without them ("ab","c") would collide
        # with ("a","bc") and ("a",NULL) with (NULL,"a") (concat_ws skips
        # NULLs) -- silent data loss in drop_exact_dups
        key = F.concat_ws(
            "\x01",
            *[F.coalesce(p.cast("string"), F.lit("\x00")) for p in parts],
        )
    h = F.md5(key)
    return (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def drop_exact_dups(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep only the min-id row per content group (the usual pipeline step)."""
    keep = exact_dedup(df, cols, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _perm_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>) — MinHash over UTF-8 byte k-shingles.

    Batch-vectorized pandas UDF: the whole Arrow batch is hashed in ONE
    windowed FNV-1a pass (all documents' bytes concatenated; windows that
    straddle a document boundary are masked out), then the affine family
    h_i(x) = ((a_i*x + b_i) wrap 2^64) mod p is applied in shingle-blocked
    (num_perm, BLOCK) ops with ``np.minimum.reduceat`` taking per-document
    segment minima — no per-document numpy calls, which is what dominated the
    per-doc formulation on short/medium documents. Two systematic wins:

    * the Mersenne reduction is a shift/mask fold (x mod 2^61-1 ==
      ((x>>61)+(x&p)) mod p, one conditional subtract) — ~10× faster than
      uint64 ``%`` (no SIMD integer division), bit-identical results;
    * ALL large temporaries come from a worker-lifetime scratch cache that
      grows monotonically — fresh multi-MB numpy allocations are mmap-backed
      and their first-touch page faults dominate runtime on some hosts, and
      glibc returns them to the OS on free, so per-batch allocation would pay
      that cost every call.

    Duplicate shingles are NOT deduped (min is idempotent under duplicates),
    so signatures are bit-identical to a per-doc unique()-based evaluation.
    Deterministic (fixed seed), stable across runs and engines.
    """
    a, b = _perm_params(num_perm, seed)
    prime = np.uint64(0x100000001B3)
    basis = np.uint64(0xCBF29CE484222325)
    k = shingle_k
    # 16k shingles/block: (num_perm, 16k) uint64 temp = 8 MB at 64 perms —
    # bounded per-worker memory regardless of batch or document size. Kept
    # deliberately small: 16k x 64 = 1M elements/op amortizes numpy dispatch
    # fully, while the FIRST-touch page-fault cost of the scratch buffers
    # (which a fleet of cold Python workers pays simultaneously) scales with
    # buffer size — 64 MB blocks measurably ballooned cold-start wall time.
    block = 1 << 14
    p64 = np.uint64(_MERSENNE)
    shift61 = np.uint64(61)

    # the signature UDF is CPU-bound: spread narrow inputs to the fleet first
    from .util import ensure_parallelism

    df = ensure_parallelism(df)

    scratch: dict = {}

    def _buf(name: str, size: int, dtype):
        arr = scratch.get(name)
        if arr is None or arr.size < size:
            arr = np.empty(max(size, 2 * (arr.size if arr is not None else 0)), dtype)
            scratch[name] = arr
        return arr[:size]

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        encs = [(t or "").encode("utf-8") for t in texts]
        n = len(encs)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(e) for e in encs), dtype=np.int64, count=n)
        with np.errstate(over="ignore"):
            raw = b"".join(encs)
            allb = _buf("allb", len(raw), np.uint64)
            np.copyto(allb, np.frombuffer(raw, dtype=np.uint8), casting="unsafe")
            m_total = len(raw) - k + 1
            if m_total > 0:
                H = _buf("H", m_total, np.uint64)
                H.fill(basis)
                for j in range(k):
                    np.bitwise_xor(H, allb[j : j + m_total], out=H)
                    np.multiply(H, prime, out=H)
                # windows starting within k-1 bytes of a doc boundary straddle it
                ends = np.cumsum(lens)
                bad = (ends[:-1, None] - np.arange(1, k)[None, :]).ravel()
                mask = _buf("mask", m_total, bool)
                mask.fill(True)
                mask[bad[(bad >= 0) & (bad < m_total)]] = False
                # doc d's windows start at offset_d and number len_d-k+1 (if ≥0)
                starts = ends - lens
                over = np.minimum(starts + np.maximum(lens - k + 1, 0), m_total)
                counts = np.maximum(over - np.minimum(starts, m_total), 0)
                nvalid = int(counts.sum())
                valid = _buf("valid", nvalid, np.uint64)
                np.compress(mask, H, out=valid)
            else:
                counts = np.zeros(n, dtype=np.int64)
                valid = np.empty(0, dtype=np.uint64)
            if (counts == 0).any():
                # short docs (< k bytes): splice in one whole-text fallback hash
                segs, pos = [], 0
                for d in range(n):
                    if counts[d] == 0:
                        segs.append(
                            np.array([hash_shingle(texts.iloc[d] or "")], dtype=np.uint64)
                        )
                    else:
                        segs.append(valid[pos : pos + counts[d]].copy())
                        pos += counts[d]
                valid = np.concatenate(segs)
                counts = np.maximum(counts, 1)
            seg_off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(counts, out=seg_off[1:])
            out = np.empty((n, num_perm), dtype=np.uint64)
            width = min(block, int(seg_off[-1]) or 1)
            d0 = 0
            while d0 < n:
                d1 = d0 + 1
                while d1 < n and seg_off[d1 + 1] - seg_off[d0] <= block:
                    d1 += 1
                hs = valid[seg_off[d0] : seg_off[d1]]
                width = max(width, len(hs))  # single doc wider than the block
                vals = _buf("vals", num_perm * width, np.uint64)[
                    : num_perm * len(hs)
                ].reshape(num_perm, len(hs))
                fold = _buf("fold", num_perm * width, np.uint64)[
                    : num_perm * len(hs)
                ].reshape(num_perm, len(hs))
                ge = _buf("ge", num_perm * width, bool)[: num_perm * len(hs)].reshape(
                    num_perm, len(hs)
                )
                np.multiply(a[:, None], hs[None, :], out=vals)
                np.add(vals, b[:, None], out=vals)
                # Mersenne fold == vals % (2^61-1): high bits + low bits, one
                # conditional subtract (sum < 2p since vals>>61 < 8)
                np.bitwise_and(vals, p64, out=fold)
                np.right_shift(vals, shift61, out=vals)
                np.add(vals, fold, out=vals)
                np.greater_equal(vals, p64, out=ge)
                np.subtract(vals, p64, out=vals, where=ge)
                out[d0:d1] = np.minimum.reduceat(
                    vals, seg_off[d0:d1] - seg_off[d0], axis=1
                ).T
                d0 = d1
        signed = out.astype(np.int64)
        return pd.Series([signed[i] for i in range(n)])

    return df.select(F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig"))


def hash_shingle(s: str) -> int:
    """Deterministic 64-bit FNV-1a (Python's hash() is salted per process)."""
    h = 0xCBF29CE484222325
    for ch in s.encode("utf-8"):
        h ^= ch
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


_BAND_KEYS = ("band", "band_hash")


def _banded(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, band_hash) — LSH banding of (id, sig) rows. Deterministic
    given (num_perm, bands), so bands computed in different batches/sessions
    collide identically (the property SignatureStore's incremental join
    relies on)."""
    r = num_perm // bands
    # one F.expr parse instead of ~5 py4j roundtrips per band: building
    # this per-band with Column ops cost ~1.4 s of DRIVER wall per call
    # when the JVM was busy with concurrent jobs (cProfile: _banded 4.3 s
    # over 3 calls in one incremental-dedup pass). The SQL text lowers to
    # the identical expression tree (hash(CAST(slice(...) AS STRING), i)
    # == F.hash(F.slice(...).cast("string"), F.lit(i)) — A/B verified
    # bit-identical over 3200 band rows), so stored band_hash values from
    # older sessions still collide correctly.
    parts = ",".join(
        f"hash(CAST(slice(sig, {i * r + 1}, {r}) AS STRING), {i})"
        for i in range(bands)
    )
    return sigs.select(
        "id",
        F.posexplode(F.expr(f"array({parts})")).alias("band", "band_hash"),
    )


def _bucket_capped(df: DataFrame, keys, cap: int) -> DataFrame:
    """Drop rows of ``keys`` buckets larger than ``cap`` — one window
    shuffle, no groupBy+join-back. Capped buckets trade recall for a hard
    bound on candidate-join fan-out (boilerplate-dominated corpora); at
    100 TB this is the difference between a bounded job and a quadratic
    one. Shared by the self-join and cross-table LSH paths and by both
    incremental stores' caps (bands, window fingerprints)."""
    # pin the window's key exchange at the configured fleet width: the
    # key rows are byte-tiny, so AQE's byte-based coalescing would hand
    # the window AND the candidate self-join that reuses this
    # partitioning to a single core (pinned_shuffle doc — measured one
    # 0.8 s task for the whole join+dedup+est chain at bench SF). Same
    # keys the window requires, so this REPLACES the exchange.
    df = pinned_shuffle(df, *keys)
    bw = Window.partitionBy(*keys)
    return (
        df.withColumn("__bsz", F.count(F.lit(1)).over(bw))
        .where(F.col("__bsz") <= cap)
        .drop("__bsz")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b, est_jaccard >= threshold).

    LSH banding: split the signature into ``bands`` bands of r rows; documents
    sharing any band hash become candidates; estimated Jaccard = fraction of
    matching signature positions. ``max_bucket`` caps pathological buckets
    (e.g. boilerplate-dominated corpora) — capped buckets are dropped, which
    trades recall for a hard bound on join fan-out; at 100 TB this is the
    difference between a bounded job and a quadratic one.

    Note: the signatures DataFrame is persisted (it feeds both sides of the
    candidate join); each call retires the previous same-session call's
    cache (``_dedup_caches`` lifecycle note), and loops can release
    eagerly via :func:`release_dedup_caches`.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    _retire_cache("minhash_sigs", df.sparkSession)
    # persist: the signature UDF (the expensive stage) feeds both sides of
    # the candidate self-join — without this it would evaluate once per side
    sigs = _track_cache(
        "minhash_sigs",
        minhash_signatures(
            df, id_col, text_col, num_perm, shingle_k, seed
        ).persist(),
    )
    # band on (id, band, band_hash) ONLY: the full signature (~8B * num_perm
    # per copy * bands copies) must not ride through the band shuffle or the
    # candidate dedup — ids are 8 bytes. Signatures are joined back exactly
    # once per side after dropDuplicates collapses multi-band hits.
    banded = _banded(sigs, num_perm, bands)
    small = _bucket_capped(banded, _BAND_KEYS, max_bucket)
    cand = (
        small.alias("l")
        .join(
            small.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        # pinned on the dedup keys: the dedup exchange would otherwise be
        # AQE-coalesced to one reader partition, serializing the downstream
        # per-pair signature comparison (pinned_shuffle doc)
        .transform(lambda d: pinned_shuffle(d, "id_a", "id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(
        sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    ) / F.lit(num_perm)
    return (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "doc_id",
    left_text: str = "text",
    right_id: str = "doc_id",
    right_text: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Cross-corpus near-duplicate JOIN — entity resolution / snapshot
    linking / dedup-against-another-dataset: (left_id, right_id, jaccard)
    for cross pairs whose EXACT shingle-set Jaccard >= ``threshold``.

    Same machinery as :func:`minhash_lsh_pairs`, across two tables:
    MinHash signatures are deterministic given (num_perm, shingle_k,
    seed), so bands computed independently per side collide identically
    (the property ``SignatureStore``'s incremental join already relies
    on); candidates are same-(band, band_hash) matches with a per-side
    bucket cap; exact verification (JVM-side shingle Jaccard over only
    the candidate-pair documents) removes all false positives, so the
    output is an oracle-checkable set. NO estimate-threshold pre-filter
    is applied — recall is the banding's alone (at 16 bands of 4, a
    true-Jaccard-0.9 pair is missed with probability ~3e-8).

    Scale: the band shuffle carries (id, band, band_hash) only; the
    candidate join is bucket-bounded both sides; shingle arrays
    materialize only for documents appearing in a candidate pair. Cost
    is duplicate-mass-bounded, never |left| x |right|.

    NULL-text rows are EXCLUDED on both sides (review r7b: the signature
    kernel hashes NULL as '' — two NULL-text docs would otherwise emit a
    fake jaccard-1.0 'match' on no content at all).
    """
    left = left.where(F.col(left_text).isNotNull())
    right = right.where(F.col(right_text).isNotNull())
    _retire_cache("fuzzy_join_cand", left.sparkSession)
    ls = minhash_signatures(left, left_id, left_text, num_perm, shingle_k, seed)
    rs = minhash_signatures(
        right, right_id, right_text, num_perm, shingle_k, seed
    )
    # persist: the candidate set feeds THREE consumers (two shingle
    # semi-joins + the verify join) — without this the whole subtree,
    # including both corpora's signature-UDF passes, re-executes per
    # consumer (seen as 3x Arrow evals per side in the executed plan).
    # It is id-pair-sized (duplicate-mass-bounded); lifecycle: registered
    # under "fuzzy_join_cand", retired by the next same-session call or
    # release_dedup_caches() (ADVICE r7 #2).
    cand = (
        _bucket_capped(_banded(ls, num_perm, bands), _BAND_KEYS, max_bucket)
        .alias("l")
        .join(
            _bucket_capped(
                _banded(rs, num_perm, bands), _BAND_KEYS, max_bucket
            ).alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash")),
        )
        .select(
            F.col("l.id").alias("left_id"), F.col("r.id").alias("right_id")
        )
        # pinned on the dedup keys, mirroring the self-join path: keeps the
        # persisted candidate frame (and the exact-verify pass that streams
        # it) at fleet width instead of 1-2 AQE-coalesced partitions
        .transform(lambda d: pinned_shuffle(d, "left_id", "right_id"))
        .dropDuplicates(["left_id", "right_id"])
        .persist()
    )
    _track_cache("fuzzy_join_cand", cand)
    return verify_pairs_exact_jaccard(
        cand,
        left,
        left_id,
        left_text,
        shingle_k=shingle_k,
        threshold=threshold,
        right_docs=right,
        right_id_col=right_id,
        right_text_col=right_text,
        a_col="left_id",
        b_col="right_id",
    ).select("left_id", "right_id", "jaccard")


def shingle_set_col(text, k: int = 5):
    """Distinct k-character shingles of a text column as an array (JVM-side).
    For ASCII text char-shingles == the byte shingles minhash hashes, so this
    is the exact counterpart of the signature estimate.

    ``text`` may be a Column or a plain column NAME; the name form builds
    the whole expression with one F.expr parse instead of ~10 py4j
    roundtrips (the Column-lambda transform is the chatty part) — measured
    driver-side savings when the JVM is concurrently running jobs. Both
    forms lower to the identical expression tree (A/B verified
    value-identical, NULL text included)."""
    if isinstance(text, str):
        c = f"coalesce(`{text}`, '')"
        return F.expr(
            f"array_distinct(transform("
            f"sequence(1, greatest(length({c}) - {k - 1}, 1)), "
            f"__i -> substr({c}, __i, {k})))"
        )
    t = F.coalesce(text, F.lit(""))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
            lambda i: t.substr(i, F.lit(k)),
        )
    )


def verify_pairs_exact_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    threshold: float = 0.5,
    round_to: int = 6,
    right_docs: DataFrame | None = None,
    right_id_col: str | None = None,
    right_text_col: str | None = None,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Exact-verify candidate pairs: join each (a, b) pair back to its
    texts and compute the true shingle-set Jaccard with JVM expressions,
    keeping pairs with ROUNDED jaccard >= threshold (the operators and
    their oracles threshold the same rounded value).

    This is the production LSH shape — candidate generation bounds the
    join, exact verification removes false positives — and it makes the
    output an oracle-checkable set (DuckDB can compute the same exact
    Jaccard). The ``b`` side may come from a DIFFERENT table
    (``right_docs``/``right_id_col``/``right_text_col`` — the
    :func:`fuzzy_join` cross-corpus case); by default both sides read
    ``docs``. Cost: shingle arrays are materialized ONLY for documents
    that appear in a candidate pair (semi-join first) — at near-dup
    rates the verify side is orders of magnitude smaller than the
    corpus.
    """
    rd = right_docs if right_docs is not None else docs
    rid = right_id_col or id_col
    rtx = right_text_col or text_col

    def shingles(d: DataFrame, idc: str, txt: str, kc: str) -> DataFrame:
        keep = pairs.select(kc)
        semi = d.join(keep, d[idc] == keep[kc], "left_semi")
        # the per-doc shingle-set build is the CPU-dense step of the verify
        # (~4-5 ms/doc measured); doc rows are byte-small, so AQE coalesces
        # the reused upstream exchange to 1-2 partitions and the whole map
        # runs on 1-2 cores (profiled: one 12.6 s task at bench SF). Pin
        # the spread on the id key the pair join needs next.
        semi = pinned_shuffle(semi, idc)
        return semi.select(
            F.col(idc).alias(kc),
            shingle_set_col(txt, shingle_k).alias(f"__sh_{kc}"),
        )

    j = pairs.join(shingles(docs, id_col, text_col, a_col), a_col).join(
        shingles(rd, rid, rtx, b_col), b_col
    )
    inter = F.size(F.array_intersect(f"__sh_{a_col}", f"__sh_{b_col}"))
    union = F.size(f"__sh_{a_col}") + F.size(f"__sh_{b_col}") - inter
    jac = F.round(inter.cast("double") / union, round_to)
    return (
        j.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .drop(f"__sh_{a_col}", f"__sh_{b_col}")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed 64-bit long exactly


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash: long) — 60-bit SimHash over whitespace tokens, computed
    entirely with JVM-side expressions, so it stays inside whole-stage
    codegen.

    The per-token hash is the first 15 hex chars of md5 (60 bits): md5 is
    available bit-identically in every engine (Spark, DuckDB, Trino, Python),
    which makes the whole simhash — and therefore the near-dup pair set —
    independently recomputable as an oracle. (xxhash64 would be ~2x faster
    but is Spark-specific.)"""
    from .util import ensure_parallelism

    # single-file corpora would run the 60 per-bit folds on one core
    df = ensure_parallelism(df)
    tokens = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    th = F.transform(
        tokens, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    # materialize the token-hash array ONCE: referenced as an inline
    # expression, each of the 60 per-bit folds below re-evaluated the whole
    # md5 transform (60x one md5+conv per token per row — measured 52 s
    # cold at bench SF; a multiply-referenced non-cheap column survives
    # CollapseProject, so the hashes are computed once per row)
    hashed = df.select(F.col(id_col).alias("id"), th.alias("__th"))
    thc = F.col("__th")
    # per-bit weighted sum: sum over tokens of (+1 if bit set else -1)
    bit_cols = []
    for bit in range(SIMHASH_BITS):
        contrib = F.aggregate(
            thc,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << bit)) != 0, 1).otherwise(-1),
        )
        bit_cols.append(F.when(contrib > 0, F.lit(1)).otherwise(F.lit(0)))
    sh = F.lit(0).cast("long")
    for bit, c in enumerate(bit_cols):
        sh = sh + (c.cast("long") * F.lit(1 << bit))
    return hashed.select("id", sh.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, via 4-segment blocking:
    if hamming(a,b) <= 3, at least one of the four 15-bit segments is equal
    (pigeonhole), so candidates = pairs sharing any segment value. Recall is
    therefore exactly 1.0 for max_hamming <= 3 — the emitted set equals the
    brute-force set."""
    if max_hamming > 3:
        raise ValueError(
            "4-segment blocking only guarantees recall for hamming <= 3; "
            "use more segments for a larger radius"
        )
    sh = simhash(df, id_col, text_col)
    seg_bits = SIMHASH_BITS // 4
    seg = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", i * seg_bits).bitwiseAND(
                        F.lit((1 << seg_bits) - 1)
                    )
                    for i in range(4)
                ]
            )
        ).alias("seg", "seg_val"),
    )
    cand = (
        seg.alias("l")
        .join(
            seg.alias("r"),
            (F.col("l.seg") == F.col("r.seg"))
            & (F.col("l.seg_val") == F.col("r.seg_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted-index join)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact token-n-gram Jaccard similarity pairs above ``threshold``.

    Inverted index on n-grams -> per-gram join -> count common grams ->
    jaccard = common / (|A| + |B| - common). Length prefilter: |A| and |B|
    within a factor of threshold of each other, else jaccard can't reach it.

    ``max_df`` caps the postings list per gram: a stop-gram appearing in d
    documents fans the join out d^2 — on real text ("of the" in every doc)
    that is quadratic in the corpus. Grams with document frequency > max_df
    are dropped from the INDEX only (denominators keep the full gram counts),
    so jaccard is underestimated for pairs whose overlap relies on dropped
    grams — a bounded-recall / bounded-cost trade, same as minhash's
    ``max_bucket``. Pass None to disable (exact, unbounded).
    """
    from .util import ensure_parallelism

    # gram extraction is an interpreted per-token transform; spread narrow
    # single-file corpora before it (measured one ~10 s scan task at bench
    # SF; wide inputs skip the repartition)
    df = ensure_parallelism(df)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    g = df.select(F.col(id_col).alias("id"), grams.alias("grams")).withColumn(
        "n_grams", F.size("grams")
    )
    inv = g.select("id", "n_grams", F.explode("grams").alias("gram"))
    if max_df is not None:
        # document frequency per gram via window (one shuffle keyed by gram —
        # the same key the join below shuffles on, so AQE coalesces them)
        gw = Window.partitionBy("gram")
        inv = (
            inv.withColumn("__df", F.count(F.lit(1)).over(gw))
            .where(F.col("__df") <= max_df)
            .drop("__df")
        )
    # NOT persisted (r12): the STATIC plan duplicates the gram explode +
    # df window on the self-join's broadcast side, but the EXECUTED
    # adaptive plan replans it to SortMergeJoin + ReusedExchange — the
    # explode runs once at runtime already. A persist was A/B-measured
    # strictly worse (cache build added ~20 s executor CPU per cold call
    # for identical output; see OPTIMIZATION_r12.md).
    common = (
        inv.alias("l")
        .join(
            inv.alias("r"),
            (F.col("l.gram") == F.col("r.gram")) & (F.col("l.id") < F.col("r.id")),
        )
        .where(
            (F.col("l.n_grams") * F.lit(threshold) <= F.col("r.n_grams"))
            & (F.col("r.n_grams") * F.lit(threshold) <= F.col("l.n_grams"))
        )
        .groupBy(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.n_grams").alias("na"),
            F.col("r.n_grams").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def substring_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 8,
    sample_mod: int = 1,
    max_df: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing a contiguous run of >= ``min_tokens`` tokens —
    substring-granularity dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"), re-expressed Spark-first: the
    paper builds one corpus-wide suffix array (a single-machine global
    sort); here every document emits its rolling ``min_tokens``-token
    window fingerprints (xxhash64), postings bucket-join on the 64-bit
    hash, and the surviving candidate pairs are verified EXACTLY by
    recomputing the window strings for candidate documents only and
    intersecting — so hash collisions cannot produce a false pair.

    Sharing any one window == sharing a run >= min_tokens, so the
    default (``sample_mod=1``) is exact. ``sample_mod=p > 1`` keeps only
    windows with ``hash % p == 0`` — Broder's content-defined 0-mod-p
    sampling, consistent across documents because selection depends on the
    window's CONTENT (a positional stride would misalign between the two
    documents' window grids): postings shrink ~p-fold and a shared run of
    R tokens is detected with probability ``1 - (1-1/p)^(R-min_tokens+1)``
    (runs much longer than ``p * min_tokens`` are essentially always
    caught — the cost/recall lever for 100 TB).

    ``max_df`` drops fingerprints appearing in more documents (boilerplate
    guard — a stop-phrase in d docs fans the join out d^2), the same
    bounded-recall trade as ``ngram_jaccard_pairs``. Tokens are
    whitespace-split, case-preserving (this is EXACT substring dedup).
    """
    inv = _substr_fingerprints(df, id_col, text_col, min_tokens, sample_mod)
    if max_df is not None:
        hw = Window.partitionBy("h")
        inv = (
            inv.withColumn("__df", F.count(F.lit(1)).over(hw))
            .where(F.col("__df") <= max_df)
            .drop("__df")
        )
    cand = (
        inv.alias("l")
        .join(
            inv.alias("r"),
            (F.col("l.h") == F.col("r.h")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return _substr_verify_pairs(cand, df, id_col, text_col, min_tokens)


def _substr_windows(text_col: str, L: int):
    """array<string> of every rolling L-token window of a text column
    (whitespace-split, case-preserving); empty when the doc has < L tokens
    (a run of >= L tokens needs >= L tokens on both sides)."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    return F.when(
        F.size(toks) >= L,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - L + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, L)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _substr_hashes(text_col: str, L: int, sample_mod: int = 1):
    """array<long>: the distinct xxhash64 window fingerprints of a text
    column, optionally 0-mod-p sampled (content-defined, so selection is
    identical for the same run in two documents)."""
    hashes = F.array_distinct(
        F.transform(
            _substr_windows(text_col, L), lambda w: F.xxhash64(w)
        )
    )
    if sample_mod > 1:
        hashes = F.filter(hashes, lambda h: h % sample_mod == 0)
    return hashes


def _substr_fingerprints(
    df: DataFrame, id_col: str, text_col: str, L: int, sample_mod: int = 1
) -> DataFrame:
    """(id, h): one row per distinct window fingerprint per document."""
    from .util import ensure_parallelism

    # window extraction is an interpreted per-token chain; spread narrow
    # single-file corpora before it (no-op on wide inputs)
    return ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(_substr_hashes(text_col, L, sample_mod)).alias("h"),
    )


def _substr_verify_pairs(
    cand: DataFrame, docs: DataFrame, id_col: str, text_col: str, L: int
) -> DataFrame:
    """Exact verify on candidate docs only: recompute window STRINGS for
    the (bounded) candidate set and require a true shared window — the
    candidate-bounded pattern of verify_pairs_exact_jaccard; fingerprint
    collisions cannot survive it."""
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # tokenize + window-string build is the CPU-dense step and the doc
    # rows are byte-small — the same AQE-coalescing exposure as the
    # shingle verify (r12: one 12.6 s task); semi-join FIRST, then pin
    # the bounded candidate-doc set at fleet width before the compute
    semi = docs.select(F.col(id_col).alias("id"), F.col(text_col)).join(
        cand_ids, "id", "left_semi"
    )
    semi = pinned_shuffle(semi, "id")
    wstr = semi.select(
        "id",
        F.explode(
            F.array_distinct(_substr_windows(text_col, L))
        ).alias("w"),
    )
    return (
        cand.join(wstr.alias("wa"), F.col("id_a") == F.col("wa.id"))
        .join(
            wstr.alias("wb"),
            (F.col("id_b") == F.col("wb.id"))
            & (F.col("wa.w") == F.col("wb.w")),
            "left_semi",
        )
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    approximate: bool = False,
    dim: int | None = None,
    n_planes: int = 10,
    n_tables: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: (id_a, id_b, cosine) with
    id_a < id_b and cosine >= threshold.

    exact (default): upper-triangle self-join — correct baseline, O(n^2); use
    for corpora that fit a broadcast (or as the oracle for the approximate
    path). approximate=True: random-hyperplane LSH buckets (same machinery as
    similarity.lsh_cosine_topk) so only same-bucket pairs are scored — the
    100 TB path; recall < 1 near the threshold, rising with n_tables.
    """
    from .similarity import _dot, _hyperplanes, _norm, cosine_similarity_col
    from .util import ensure_parallelism

    # per-ROW norms hoisted out of the pair loop: the cosine's two norm
    # folds are per-vector expressions, so computing them per PAIR tripled
    # the interpreted array-fold work of the O(n^2) exact path (measured
    # 218 s cold at bench SF — 2M pairs x 3 folds on ONE core, the
    # single-file scan feeding the broadcast join unsplit). Same
    # expression over the same array = bit-identical cosine.
    nrm = F.greatest(_norm(F.col(vec_col)), F.lit(1e-12))
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        nrm.alias("__na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        nrm.alias("__nb"),
    )
    if not approximate:
        # spread the streamed side: a one-file corpus otherwise runs every
        # pair evaluation in a single scan task
        pairs = ensure_parallelism(a).join(
            F.broadcast(b), F.col("id_a") < F.col("id_b")
        )
        cos = _dot(F.col("__va"), F.col("__vb")) / (
            F.col("__na") * F.col("__nb")
        )
        return (
            pairs.select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
            .where(F.col("cosine") >= threshold)
            .orderBy("id_a", "id_b")
        )
    else:
        if dim is None:
            raise ValueError("approximate=True requires dim")
        # single-pass bucketing (one Arrow matmul for every table), keyed by
        # (table, bucket) -- same machinery as similarity.lsh_cosine_topk
        planes = [_hyperplanes(dim, n_planes, 42 + t) for t in range(n_tables)]
        from .similarity import _all_table_buckets

        buckets = _all_table_buckets(planes)
        keyed = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("__v"),
            F.posexplode(buckets(F.col(vec_col))).alias("__table", "__bucket"),
        )
        ab = keyed.select(
            F.col("id").alias("id_a"), F.col("__v").alias("__va"),
            "__table", "__bucket",
        )
        bb = keyed.select(
            F.col("id").alias("id_b"), F.col("__v").alias("__vb"),
            "__table", "__bucket",
        )
        pairs = (
            ab.join(bb, ["__table", "__bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "__va", "__vb")
            .dropDuplicates(["id_a", "id_b"])
        )
    cos = cosine_similarity_col(F.col("__va"), F.col("__vb"))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: within-cluster cosine pruning)
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    cluster_col: str | None = None,
    n_clusters: int = 64,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: (id, cluster, kept) where
    ``kept`` is False iff an EARLIER (smaller-id) member of the same cluster
    has cosine >= threshold.

    The predecessor rule ("drop if ANY earlier member is a near-dup") is the
    deterministic, order-free formulation standard in minhash-style dedup
    pipelines; it equals keep-one-per-group when near-dup groups are cliques
    and over-drops (never under-drops) on chains — the conservative
    direction for training-data dedup.

    Clustering bounds the pair generation (the SemDeDup premise: candidates
    only form within a cluster). ``cluster_col`` uses a caller-provided
    assignment (e.g. pre-computed kmeans labels); otherwise kmeans centroids
    are fit and rows are assigned via one Arrow-batched matmul pass
    (similarity.py machinery).

    The within-cluster comparison is a grouped numpy kernel
    (``applyInPandas`` per cluster): L2-normalize once, then blockwise
    ``B @ V.T`` against earlier rows — one shuffle keyed on cluster, cost
    sum over clusters of |c|^2 BLAS flops, never corpus^2. (A pair-explode
    self-join formulation was measured 50x slower at the 20x smoke: 12.5M
    per-pair higher-order-function cosines — the same lesson as the IVF
    cell assignment, batched BLAS beats scalar expressions.) Block rows cap
    the score-matrix memory at block x |c| per task; |c| itself is bounded
    by the kmeans balance, the knob is ``n_clusters``.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    from .similarity import _fit_centroids, _nearest_cells_expr

    if cluster_col is None:
        centroids = _fit_centroids(df, vec_col, n_clusters, seed)
        work = df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            _nearest_cells_expr(F.col(vec_col), centroids, 1)[0].alias(
                "__cluster"
            ),
        )
    else:
        work = df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            F.col(cluster_col).alias("__cluster"),
        )

    out_schema = StructType(
        [work.schema["__id"], work.schema["__cluster"],
         StructField("kept", BooleanType())]
    )
    block = 2048

    def _dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in pdf["__v"].to_numpy()[order]]
        )
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        Vn = V / norms[:, None]
        n = len(ids)
        kept = np.ones(n, dtype=bool)
        for s0 in range(0, n, block):
            e0 = min(s0 + block, n)
            # cosine of each block row vs EVERY earlier row (j < i); rounded
            # to 6 dp to share the oracle's comparison grid
            S = np.round(Vn[s0:e0] @ Vn[:e0].T, 6) >= threshold
            mask = np.arange(e0)[None, :] < np.arange(s0, e0)[:, None]
            kept[s0:e0] = ~(S & mask).any(axis=1)
        return pd.DataFrame(
            {"__id": ids, "__cluster": pdf["__cluster"].iloc[0], "kept": kept}
        )

    return (
        work.groupBy("__cluster")
        .applyInPandas(_dedup_cluster, out_schema)
        .select(
            F.col("__id").alias(id_col),
            F.col("__cluster").alias("cluster"),
            "kept",
        )
    )


# ---------------------------------------------------------------------------
# near-dup cluster assignment (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def cluster_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs: (id, cluster_id) with
    ``cluster_id`` = the smallest member id of the component.

    This is the step that turns pairwise dup reports into an actionable
    "keep one document per cluster" decision (filter = keep id ==
    cluster_id, or any deterministic champion rule per cluster).

    Min-label propagation WITH POINTER DOUBLING: every node starts labeled
    with itself; each round nodes take the min of their own and their
    neighbors' labels, then SHORTCUT — adopt their current label's own
    label (label-of-label join). The shortcut halves remaining path
    lengths every round, so convergence is O(log diameter) instead of
    O(diameter): a 1M-node CHAIN (the worst case that serialized the
    plain propagation — review-caught when a chain-shaped fixture crossed
    the old diameter cap at sf0.1) converges in ~20 rounds, and max_iter
    20 covers diameters up to ~2^20. Each round is two equi-joins + one
    min-aggregation (map-side combined) over the edge list;
    `localCheckpoint` truncates the growing lineage. The loop's only
    driver action is a 1-row convergence probe per round.

    Only ids appearing in ``pairs`` are returned (singletons are their own
    cluster trivially — joining them in is the caller's one-line left join).
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label")
        stepped = (
            labels.union(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            # materialized once: the shortcut below self-joins `stepped`,
            # and without this the edge join + min-aggregation executed
            # TWICE per round (one copy per join side); the checkpoint also
            # keeps each round's plan constant-size, like `labels`'s
            .localCheckpoint()
        )
        # pointer doubling: follow my label to ITS label (min of the two)
        short = stepped.alias("a").join(
            stepped.select(
                F.col("id").alias("__lid"), F.col("label").alias("__llabel")
            ),
            F.col("a.label") == F.col("__lid"),
            "left",
        )
        new_labels = short.select(
            F.col("a.id").alias("id"),
            F.least(
                F.col("a.label"), F.coalesce(F.col("__llabel"), F.col("a.label"))
            ).alias("label"),
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"cluster_pairs did not converge in {max_iter} rounds — a "
            "component with diameter > max_iter exists; raise max_iter "
            "(rounds are cheap equi-joins) rather than accept partial labels"
        )
    edges.unpersist()
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def canonical_docs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Quality-preferring canonical selection — the "which copy do we keep"
    step after any pairwise dedup: cluster the pairs (``cluster_pairs``
    connected components), then per cluster keep the HIGHEST-quality member
    (ties by smallest id — deterministic); documents in no pair are their
    own canonicals. Returns ``df``'s rows + ``cluster_id`` + ``is_canonical``
    so callers can either filter (keep canonicals) or audit (who lost to
    whom). One component loop + one membership join + one per-cluster
    window over cluster-sized groups — no corpus^2 anywhere."""
    labels = cluster_pairs(pairs, id_a=id_a, id_b=id_b, max_iter=max_iter)
    j = df.join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return j.withColumn(
        "is_canonical", F.row_number().over(w) == 1
    )


# ---------------------------------------------------------------------------
# incremental dedup against a persisted fingerprint store
# ---------------------------------------------------------------------------


class _FingerprintStore:
    """Committed-batch fingerprint store — the production INGEST shape:
    each new batch dedups against the full history without recomputing
    anything about it. This class owns the layout, the commit protocol
    and the ingest pipeline; a subclass supplies only its fingerprint.

    Layout: ``batches/<name>/<kind>/`` parquet per payload kind, plus a
    JSON manifest pinning the fingerprint parameters — every batch
    fingerprints identically, the property the incremental candidate join
    relies on — and listing the COMMITTED batch names. An append writes
    every payload into a fresh batch directory and only then commits the
    name with an atomic manifest rewrite (``index.BatchLedger``): a crash
    between the payload writes leaves an orphan directory that readers
    never see, so no doc can have some payloads without the others.
    ``compact()`` sweeps orphans, merges committed batches, and optionally
    expires old ones.

    Ingest is SINGLE-WRITER: the commit protocol makes a crashed append
    invisible, but two concurrent appends would race the manifest rewrite
    (last writer wins, dropping the other's commit).

    A batch costs: one fingerprint pass over the NEW docs, one equi-join of
    the new candidate keys against the stored keys they touch (the store
    side never recomputes), an exact verify for candidates only, and one
    batch-directory write of the survivors' rows. Nothing rescans the
    historical corpus text.

    A subclass sets ``MANIFEST`` (file name), ``_SCHEMAS`` (payload kind ->
    static schema: the layout is pinned, so reads skip footer inference),
    ``_KEY_KIND``/``_KEYS`` (the payload and columns candidates match on)
    and ``_CAP`` (manifest key of the per-key bucket cap; a None value
    disables it), and implements ``_fingerprints`` (one row per doc),
    ``_payloads`` (the batch files derived from those rows), ``_verify``
    (exact, over texts) and ``_fallback`` (decides candidate pairs whose
    stored-side text is not available).
    """

    MANIFEST: str
    _SCHEMAS: dict[str, str]
    _KEY_KIND: str
    _KEYS: tuple[str, ...]
    _CAP: str

    def __init__(self, spark, path: str, manifest: dict):
        from ..index import BatchLedger

        self.spark = spark
        self.path = path
        self.manifest = manifest
        self._ledger = BatchLedger(path, manifest, self.MANIFEST)

    @classmethod
    def _create(cls, spark, path: str, params: dict):
        os.makedirs(path, exist_ok=True)
        store = cls(spark, path, {**params, "batches": []})
        store._write_manifest()
        return store

    @classmethod
    def load(cls, spark, path: str):
        import json

        with open(os.path.join(path, cls.MANIFEST)) as fh:
            return cls(spark, path, json.load(fh))

    @property
    def _batches_path(self) -> str:
        return self._ledger.batches_path

    def _write_manifest(self) -> None:
        """Atomic manifest rewrite: readers see the old or the new commit
        list, never a torn file (delegates to the shared BatchLedger)."""
        self._ledger.write_manifest()

    # -- batch files -------------------------------------------------------

    @staticmethod
    def _write_files(bdir: str, payloads: dict) -> None:
        # concurrent writes (job overlap): the wall cost is max(write)
        # instead of the sum
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(payloads)) as pool:
            futures = [
                pool.submit(df.write.parquet, os.path.join(bdir, kind))
                for kind, df in payloads.items()
            ]
            for f in futures:
                f.result()

    def _write_batch(self, fps: DataFrame, extra: dict | None = None) -> str:
        """Write the payloads of ``fps`` (one row per doc) into a fresh
        batch directory, then commit its name — with ``extra`` manifest
        keys landing in the SAME atomic rewrite (streaming exactly-once
        relies on the batch append and its stream-batch marker committing
        together). Returns the batch name."""

        def write_files(bdir: str) -> None:
            if len(self._SCHEMAS) == 1:
                self._write_files(bdir, self._payloads(fps))
                return
            # several writes read fps: cache it so the fingerprint pass
            # (the expensive subtree) runs once, not once per write, and
            # materialize the cache with one count() FIRST — concurrent
            # writes against a lazy cache would each run the pass
            cached = fps.persist()
            try:
                cached.count()
                self._write_files(bdir, self._payloads(cached))
            finally:
                cached.unpersist()

        return self._ledger.commit_batch(write_files, extra=extra)

    def _stored(self, kind: str, batches: list | None = None) -> DataFrame:
        """One payload kind across ``batches`` (default: every committed
        batch), read with the static schema — the same manifest-schema
        discipline as OlapIndex loads (no footer-inference job)."""
        schema = self._SCHEMAS[kind]
        if batches is None:
            batches = self.manifest["batches"]
        if not batches:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self._ledger.batch_dir(b["name"]), kind)
              for b in batches]
        )

    def compact(self, max_age_seconds: float | None = None) -> None:
        """Merge committed batches into one and delete the rest — after many
        daily ingests the candidate join otherwise degrades into a
        thousands-of-small-files scan. ``max_age_seconds`` first EXPIRES
        whole batches committed longer ago (retention window: their docs
        stop blocking future ingests; the merged batch keeps the oldest
        constituent's timestamp — see BatchLedger.compact_batches). Orphan
        directories from crashed appends are swept. Single-writer, like
        append."""
        self._ledger.compact_batches(
            lambda keep, bdir: self._write_files(
                bdir, {kind: self._stored(kind, keep) for kind in self._SCHEMAS}
            ),
            max_age_seconds,
        )

    # -- ingest ------------------------------------------------------------

    def append(self, docs: DataFrame, id_col: str, text_col: str) -> None:
        """Register documents WITHOUT dedup (store initialization / trusted
        batches): computes and commits their fingerprints."""
        self._write_batch(self._fingerprints(docs, id_col, text_col))

    def dedup_and_append(
        self,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        history_docs: DataFrame | None = None,
        _commit_extra: dict | None = None,
        _pre_commit=None,
    ) -> DataFrame:
        """Flag ``docs`` that duplicate a stored doc or an EARLIER doc of
        the batch (smaller id wins), then append the SURVIVORS'
        fingerprints. Returns the verdict (id, kept), materialized — this
        method RUNS the job (the append is a write).

        Candidates are exact-verified (``_verify``): new-batch texts come
        from ``docs``, stored texts from ``history_docs`` (the corpus the
        caller already keeps — fingerprints alone cannot verify exactly).
        Without ``history_docs`` the store's fallback decides (documented
        approximation); candidates whose stored-side text is MISSING from
        a partial ``history_docs`` fall back the same way rather than
        silently passing as non-duplicates.
        """
        keys = list(self._KEYS)
        fps_new = self._fingerprints(docs, id_col, text_col).persist()
        cached = [fps_new]
        try:
            # materialize BEFORE the fan-out: the verdict plan has several
            # independent leaf stages over fps_new (key side, fallback,
            # verdict join, survivors semi) and AQE submits them
            # concurrently — against a lazily-persisted frame each one
            # computes the unmaterialized cache itself (profiled: five
            # concurrent 32-task ArrowEvalPython stages, 5x the signature
            # UDF pass over the new batch)
            fps_new.count()
            new_keys = self._payloads(fps_new)[self._KEY_KIND]
            # only stored rows whose key the NEW batch touches can produce
            # candidates or change a touched bucket's size — semi-join the
            # store down to those before the cap window and candidate
            # join, so an ingest shuffles O(batch key matches), never the
            # whole key history (cap semantics unchanged: every stored
            # member of a touched bucket survives the semi-join)
            old_keys = self._stored(self._KEY_KIND).join(
                new_keys.select(*keys).distinct(), keys, "left_semi"
            )
            both = new_keys.select(
                "id", *keys, F.lit(True).alias("__new")
            ).unionByName(
                old_keys.select("id", *keys, F.lit(False).alias("__new"))
            )
            cap = self.manifest.get(self._CAP)
            if cap is not None:
                both = _bucket_capped(both, keys, cap)
            # candidate = new doc vs (older new doc) OR (any stored doc)
            same_key = functools.reduce(
                operator.and_, [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
            )
            cand = (
                both.where("__new")
                .alias("l")
                .join(
                    both.alias("r"),
                    same_key
                    & (
                        (F.col("r.__new") & (F.col("r.id") < F.col("l.id")))
                        | ~F.col("r.__new")
                    ),
                )
                .select(F.col("r.id").alias("id_a"), F.col("l.id").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"])
            )
            if history_docs is None:
                dup_hits = self._fallback(cand, fps_new)
            else:
                # two consumers below (exact-verify semi join + fallback
                # anti join) — cache the candidate pairs so the key join /
                # cap window / dedup chain runs once, not once per consumer
                cand = cand.persist()
                cached.append(cand)
                texts = history_docs.select(
                    F.col(id_col), F.col(text_col)
                ).unionByName(docs.select(F.col(id_col), F.col(text_col)))
                text_ids = texts.select(F.col(id_col).alias("id_a")).distinct()
                # stored-side text absent from a PARTIAL history: the
                # fallback decides instead of silently keeping the new doc
                # (the verify's inner text join would drop the pair)
                dup_hits = self._verify(
                    cand.join(text_ids, "id_a", "left_semi"),
                    texts, id_col, text_col,
                ).unionByName(
                    self._fallback(
                        cand.join(text_ids, "id_a", "left_anti"), fps_new
                    )
                )
            dup_ids = dup_hits.select(F.col("id_b").alias("id")).distinct()
            # localCheckpoint (eager) BEFORE the batch write below: the
            # verdict plan reads the store's parquet lazily; materializing
            # it first guarantees the decision is over the pre-append store
            # even if a caller re-evaluates the returned DataFrame later
            verdict = (
                fps_new.select("id")
                .join(dup_ids.withColumn("__dup", F.lit(True)), "id", "left")
                .select(
                    "id", F.coalesce(~F.col("__dup"), F.lit(True)).alias("kept")
                )
                .localCheckpoint()
            )
            if _pre_commit is not None:
                # durability hook: persist the (already-materialized)
                # verdict BEFORE the store's manifest commit, so a crash
                # between the two replays into "verdict exists, batch not
                # marked done" — the recoverable order
                # (process_stream_batch) — never the reverse
                _pre_commit(verdict)
            self._write_batch(
                fps_new.join(verdict.where("kept").select("id"), "id", "left_semi"),
                extra=_commit_extra,
            )
            return verdict
        finally:
            # also on a failed step: a foreachBatch retry would otherwise
            # leak one more batch-sized cache per attempt. Only the
            # verdict's checkpoint outlives the call.
            for df in cached:
                df.unpersist()

    # -- streaming ingest --------------------------------------------------

    def process_stream_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        id_col: str,
        text_col: str,
        verdict_path: str,
    ) -> None:
        """foreachBatch body for incremental dedup over a stream, with
        EXACTLY-ONCE store semantics under at-least-once replays:

        1. already-committed batch ids (``lastStreamBatch`` in the manifest)
           are skipped entirely — their survivors are in the store and their
           verdict directory exists;
        2. otherwise the verdict is computed against the pre-batch store
           and written to ``verdict_path/batch=<id>`` with overwrite BEFORE
           the store commit (a replay after a crash between verdict write
           and store commit recomputes the IDENTICAL verdict — the store is
           unchanged — and overwrites the same directory; the reverse order
           would lose the verdict forever, since a replay after the commit
           skips the batch);
        3. the survivors' batch directory commits with the stream-batch
           marker in the SAME atomic manifest rewrite, so "appended" and
           "marked done" cannot diverge.

        Single-writer, like every store mutation.
        """
        done = int(self.manifest.get("lastStreamBatch", -1))
        if batch_id <= done:
            return
        self.dedup_and_append(
            batch_df, id_col, text_col,
            _commit_extra={"lastStreamBatch": int(batch_id)},
            # verdict is localCheckpoint'ed (materialized) by then, so this
            # write runs no store-reading plan — it lands pre-commit
            _pre_commit=lambda verdict: verdict.write.mode(
                "overwrite"
            ).parquet(os.path.join(verdict_path, f"batch={int(batch_id)}")),
        )


class SubstringStore(_FingerprintStore):
    """Persisted substring-fingerprint store — ingest-time exact-substring
    decontamination (round 6): each new batch is checked for shared
    >= ``min_tokens``-token runs against the FULL history without ever
    rescanning it. The incremental complement of ``substring_dup_pairs``.

    Layout: ``batches/<name>/fps`` parquet of (id, h) window fingerprints;
    the manifest pins (minTokens, sampleMod, maxDf). ``maxDf`` caps the
    per-fingerprint postings over store+batch combined (the boilerplate
    d^2 guard — bounded recall, same trade as the batch operator); None
    disables it.

    Verdict semantics: a new doc is flagged when it shares a window
    fingerprint with the store or with an EARLIER doc of its own batch
    (smaller id wins). With ``history_docs`` the flagged candidates are
    exact-verified by window-string intersection (collisions cannot flag a
    doc); without it, or for a stored doc missing from a partial history,
    the 64-bit fingerprint match decides — the store deliberately keeps
    O(windows) fingerprints, not O(corpus) text.
    """

    MANIFEST = "substring_store.json"
    _SCHEMAS = {"fps": "id long, h long"}
    _KEY_KIND = "fps"
    _KEYS = ("h",)
    _CAP = "maxDf"

    @staticmethod
    def create(
        spark,
        path: str,
        min_tokens: int = 8,
        sample_mod: int = 1,
        max_df: int | None = 1000,
    ) -> "SubstringStore":
        return SubstringStore._create(spark, path, {
            "minTokens": min_tokens,
            "sampleMod": sample_mod,
            "maxDf": max_df,
        })

    def _fingerprints(
        self, docs: DataFrame, id_col: str, text_col: str
    ) -> DataFrame:
        from .util import ensure_parallelism

        m = self.manifest
        # window extraction is an interpreted per-token chain; spread narrow
        # single-file corpora before it (no-op on wide inputs)
        return ensure_parallelism(docs).select(
            F.col(id_col).alias("id"),
            _substr_hashes(text_col, m["minTokens"], m["sampleMod"]).alias("hs"),
        )

    def _payloads(self, fps: DataFrame) -> dict:
        return {"fps": fps.select("id", F.explode("hs").alias("h"))}

    def _verify(self, cand, texts, id_col: str, text_col: str) -> DataFrame:
        return _substr_verify_pairs(
            cand, texts, id_col, text_col, self.manifest["minTokens"]
        )

    def _fallback(self, cand: DataFrame, fps_new: DataFrame) -> DataFrame:
        return cand  # the fingerprint match decides

    # each store has its own entry in its class __dict__, so a profiler
    # can wrap one store's ingest without touching the other's
    dedup_and_append = _FingerprintStore.dedup_and_append


class SignatureStore(_FingerprintStore):
    """Persisted MinHash signature store: near-duplicate dedup of each new
    batch against the full historical corpus.

    Layout: ``batches/<name>/sigs/`` parquet of (id, sig) and
    ``batches/<name>/bands/`` parquet of (id, band, band_hash), committed
    together; the manifest pins (numPerm, bands, shingleK, threshold,
    seed, maxBucket), so every batch's signatures and band hashes are
    computed identically.

    Verdict semantics: candidates share a (band, band_hash) bucket of at
    most ``maxBucket`` members; a candidate is a duplicate when its exact
    shingle Jaccard reaches ``threshold``, or — without the stored side's
    text — when the signature estimate does.
    """

    MANIFEST = "minhash_store.json"
    _SCHEMAS = {
        "sigs": "id long, sig array<long>",
        "bands": "id long, band int, band_hash int",
    }
    _KEY_KIND = "bands"
    _KEYS = _BAND_KEYS
    _CAP = "maxBucket"

    @staticmethod
    def create(
        spark,
        path: str,
        num_perm: int = 64,
        bands: int = 16,
        shingle_k: int = 5,
        threshold: float = 0.5,
        seed: int = 42,
        max_bucket: int = 1000,
    ) -> "SignatureStore":
        if num_perm % bands != 0:
            raise ValueError("num_perm must be divisible by bands")
        return SignatureStore._create(spark, path, {
            "numPerm": num_perm,
            "bands": bands,
            "shingleK": shingle_k,
            "threshold": threshold,
            "seed": seed,
            "maxBucket": max_bucket,
        })

    def _fingerprints(
        self, docs: DataFrame, id_col: str, text_col: str
    ) -> DataFrame:
        m = self.manifest
        return minhash_signatures(
            docs, id_col, text_col, m["numPerm"], m["shingleK"], m["seed"]
        )

    def _payloads(self, sigs: DataFrame) -> dict:
        m = self.manifest
        return {"sigs": sigs, "bands": _banded(sigs, m["numPerm"], m["bands"])}

    def _verify(self, cand, texts, id_col: str, text_col: str) -> DataFrame:
        m = self.manifest
        return verify_pairs_exact_jaccard(
            cand, texts, id_col, text_col, m["shingleK"], m["threshold"]
        ).select("id_a", "id_b")

    def _fallback(self, cand: DataFrame, fps_new: DataFrame) -> DataFrame:
        """Signature-estimate duplicate decision for candidate pairs:
        matching-minhash fraction >= threshold. The store always has the
        stored side's signature (the committed-batch layout lands sig and
        band rows together)."""
        m = self.manifest
        sigs_all = fps_new.unionByName(self._stored("sigs"))
        est_pairs = cand.join(
            sigs_all.select(
                F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
            ),
            "id_a",
        ).join(
            sigs_all.select(
                F.col("id").alias("id_b"), F.col("sig").alias("sig_b")
            ),
            "id_b",
        )
        est = F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda v: v,
            )
        ) / F.lit(m["numPerm"])
        return est_pairs.where(est >= m["threshold"]).select("id_a", "id_b")

    # each store has its own entry in its class __dict__, so a profiler
    # can wrap one store's ingest without touching the other's
    dedup_and_append = _FingerprintStore.dedup_and_append
