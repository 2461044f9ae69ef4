"""Bounded-fan-out guarantees of the dedup operators: hot-gram capping,
candidate-then-verify equivalence, and the engine-portable simhash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pysparkline.operators import dedup


@pytest.fixture(scope="module")
def stopgram_corpus(spark):
    """A corpus where one 3-gram ('the same thing') appears in EVERY doc —
    the quadratic-join hazard — plus one true near-dup pair."""
    base = (
        "the same thing appears in every single document here because all"
        " web pages share one boilerplate navigation footer block"
    )
    rows = [(i, f"{base} unique{i} filler{i}") for i in range(60)]
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta iota"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_max_df_bounds_join(spark, stopgram_corpus):
    """With max_df below the corpus size, stop-grams leave the inverted index:
    the join fans out over rare grams only, and the true near-dup pair (whose
    overlap is in rare grams) still surfaces."""
    out = dedup.ngram_jaccard_pairs(
        stopgram_corpus, "doc_id", "text", n=3, threshold=0.5, max_df=10
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (100, 101) in pairs
    # the boilerplate docs share ONLY capped grams -> no quadratic pair dump
    assert all(a == 100 for a, _ in pairs)


def test_max_df_none_is_exact(spark, stopgram_corpus):
    """Uncapped: the boilerplate docs share most of their grams, so the full
    quadratic pair set appears (why the cap exists)."""
    out = dedup.ngram_jaccard_pairs(
        stopgram_corpus, "doc_id", "text", n=3, threshold=0.5, max_df=None
    ).collect()
    assert len(out) > 1000  # ~60*59/2 boilerplate pairs + the alpha pair


def test_minhash_verify_equals_exact(spark):
    """LSH candidates + exact verify == brute-force exact pairs on a corpus
    with clear near-dups (the oracle identity the entry query relies on)."""
    rows = []
    for i in range(30):
        rows.append((i, f"totally distinct document number {i} with words {i * 7}"))
    # two near-dup clusters
    rows.append((200, "the quick brown fox jumps over the lazy dog again and again"))
    rows.append((201, "the quick brown fox jumps over the lazy dog again and again!"))
    rows.append((300, "pack my box with five dozen liquor jugs right now please ok"))
    rows.append((301, "pack my box with five dozen liquor jugs right now please okay"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    verified = dedup.verify_pairs_exact_jaccard(
        cand, docs, "doc_id", "text", threshold=0.5
    )
    got = {(r.id_a, r.id_b) for r in verified.collect()}
    # brute-force exact shingle jaccard
    sh = docs.select(
        "doc_id", dedup.shingle_set_col(F.col("text"), 5).alias("s")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.s", "b.s"))
    uni = F.size("a.s") + F.size("b.s") - inter
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .where(inter / uni >= 0.5)
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .collect()
    )
    assert got == {(r.x, r.y) for r in brute}
    assert (200, 201) in got and (300, 301) in got


def test_fuzzy_join_cross_table(spark):
    """Cross-corpus fuzzy join: finds planted left-right near-dups, emits
    NO within-table pairs, ids may overlap across tables, and equals the
    brute-force cross-table exact-Jaccard set."""
    left_rows = [
        (i, f"left corpus distinct document {i} about topic {i * 13}")
        for i in range(20)
    ] + [
        (100, "the quick brown fox jumps over the lazy dog again and again"),
        # within-LEFT near-dup pair: must NOT appear in the join output
        (101, "the quick brown fox jumps over the lazy dog again and again!"),
    ]
    right_rows = [
        (i, f"right corpus other document {i} concerning {i * 31}")
        for i in range(20)
    ] + [
        (100, "the quick brown fox jumps over the lazy dog again and again?"),
    ]
    L = spark.createDataFrame(left_rows, "doc_id long, text string")
    R = spark.createDataFrame(right_rows, "doc_id long, text string")
    got = {
        (r.left_id, r.right_id): r.jaccard
        for r in dedup.fuzzy_join(L, R, threshold=0.5).collect()
    }
    assert (100, 100) in got and (101, 100) in got
    assert all(k[0] in (100, 101) and k[1] == 100 for k in got)
    # brute-force cross-table exact set
    shl = L.select("doc_id", dedup.shingle_set_col(F.col("text"), 5).alias("s"))
    shr = R.select("doc_id", dedup.shingle_set_col(F.col("text"), 5).alias("s"))
    inter = F.size(F.array_intersect("a.s", "b.s"))
    uni = F.size("a.s") + F.size("b.s") - inter
    brute = (
        shl.alias("a")
        .crossJoin(shr.alias("b"))
        .where(inter / uni >= 0.5)
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .collect()
    )
    assert set(got) == {(r.x, r.y) for r in brute}


def test_simhash_matches_duckdb(spark, duck):
    """The md5-based 60-bit simhash is bit-identical across engines — the
    portability property the driver oracle depends on."""
    docs = spark.createDataFrame(
        [(1, "hello world foo bar"), (2, "completely different text here"),
         (3, "hello world foo baz")],
        "doc_id long, text string",
    )
    got = {r.id: r.simhash for r in dedup.simhash(docs, "doc_id", "text").collect()}
    bits = dedup.SIMHASH_BITS
    rows = duck.execute(rf"""
WITH t(doc_id, text) AS (VALUES (1, 'hello world foo bar'),
                                (2, 'completely different text here'),
                                (3, 'hello world foo baz')),
toks AS (SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
         FROM t),
hs AS (SELECT doc_id,
       list_transform(t, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hl
       FROM toks)
SELECT doc_id, list_sum(list_transform(range(0, {bits}), b ->
  CASE WHEN list_sum(list_transform(hl, h ->
           CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       THEN 1::BIGINT << b ELSE 0::BIGINT END)) AS sh
FROM hs
""").fetchall()
    assert {r[0]: r[1] for r in rows} == got


def test_plan_cache_reuses_dataframe(ctx):
    from pysparkline import ir

    spec = ir.TimeseriesQuery(
        granularity="all", aggregations=[ir.CountAgg("n")]
    )
    d1 = ctx.query(spec)
    d2 = ctx.query(spec)
    assert d1 is d2  # compiled-plan cache hit
    assert ctx.query_history[-1].backing == ctx.query_history[-2].backing
    ctx.clear_cache()
    assert ctx.query(spec) is not d1


def test_cluster_pairs_components(spark):
    """Chain, triangle, and isolated pair resolve to min-id components."""
    from pysparkline.operators import dedup

    pairs = spark.createDataFrame(
        [
            # chain 1-2-3-4 (diameter 3: needs multiple propagation rounds)
            (1, 2), (2, 3), (3, 4),
            # triangle 10-11-12
            (10, 11), (11, 12), (10, 12),
            # isolated pair
            (20, 21),
        ],
        "id_a long, id_b long",
    )
    out = {r.id: r.cluster_id for r in dedup.cluster_pairs(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_cluster_pairs_long_chain_converges(spark):
    from pysparkline.operators import dedup

    n = 12  # diameter > default few rounds; still << max_iter
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = {r.id: r.cluster_id for r in dedup.cluster_pairs(pairs).collect()}
    assert out == {i: 0 for i in range(n + 1)}


def test_cluster_pairs_nonconvergence_raises(spark):
    import pytest as _pytest

    from pysparkline.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.cluster_pairs(pairs, max_iter=2)


def test_fuzzy_join_cache_lifecycle(spark):
    """ADVICE r7 #2 / VERDICT r7 #5: repeated fuzzy_join / minhash_lsh_pairs
    calls hold at most ONE live cache per (session, operator group) — no
    persistent-RDD growth across a loop — and release_dedup_caches() drops
    the last ones. Results stay identical across iterations (retiring a
    cache only forces recompute through intact lineage)."""
    import time

    jsc = spark.sparkContext._jsc

    def _quiesce():
        # unpersist(blocking=False) is async: poll until the persistent-RDD
        # count stabilizes so the baseline isn't inflated by prior tests'
        # pending releases
        last, deadline = -1, time.time() + 15.0
        while time.time() < deadline:
            cur = jsc.getPersistentRDDs().size()
            if cur == last:
                return cur
            last = cur
            time.sleep(0.5)
        return last

    dedup.release_dedup_caches()
    base = _quiesce()
    rows = [
        (i, f"loop corpus document number {i} body text {i * 7}")
        for i in range(30)
    ] + [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")]
    L = spark.createDataFrame(rows, "doc_id long, text string")
    R = spark.createDataFrame(
        rows[-5:], "doc_id long, text string"
    ).withColumn("text", F.concat(F.col("text"), F.lit("!")))
    results = []
    for _ in range(3):
        results.append(
            {tuple(r) for r in dedup.fuzzy_join(L, R, threshold=0.4).collect()}
        )
        # bounded: fuzzy_join holds at most its one candidate cache
        assert jsc.getPersistentRDDs().size() <= base + 1
    assert results[1] == results[0] and results[2] == results[0]
    pair_sets = []
    for _ in range(3):
        pair_sets.append(
            {
                tuple(r)
                for r in dedup.minhash_lsh_pairs(L, "doc_id", "text").collect()
            }
        )
        # one sigs cache + possibly fuzzy_join's last candidate cache
        assert jsc.getPersistentRDDs().size() <= base + 2
    assert pair_sets[1] == pair_sets[0] and pair_sets[2] == pair_sets[0]
    dedup.release_dedup_caches()
    assert _quiesce() <= base


def test_signature_store_incremental(spark, tmp_path):
    """Incremental dedup against a persisted store: batch 2 dedups against
    batch 1 (no recompute of batch 1) and against its own earlier docs;
    batch 3 then sees batch 2's survivors in the store."""
    from pysparkline.operators.dedup import SignatureStore

    def base(i: int) -> str:
        # genuinely disjoint shingle sets per i (a shared suffix-varied
        # template would make every doc a true near-dup of every other)
        return " ".join(f"w{i}x{j}q{i * 31 + j}" for j in range(40))

    b1 = spark.createDataFrame(
        [(i, base(i)) for i in range(5)], "doc_id long, text string"
    )
    store = SignatureStore.create(
        spark, str(tmp_path / "store"), threshold=0.5
    )
    store.append(b1, "doc_id", "text")

    # batch 2: 10 = dup of 1; 11 fresh; 12 = dup of 11 (internal); 13 fresh
    b2 = spark.createDataFrame(
        [
            (10, base(1)),
            (11, base(100)),
            (12, base(100)),
            (13, base(200)),
        ],
        "doc_id long, text string",
    )
    v2 = {
        r.id: r.kept
        for r in store.dedup_and_append(
            b2, "doc_id", "text", history_docs=b1
        ).collect()
    }
    assert v2 == {10: False, 11: True, 12: False, 13: True}

    # batch 3: dup of batch-2 SURVIVOR 11 must be caught; dup of the dropped
    # 12's text too (11's signature represents that content in the store)
    b3 = spark.createDataFrame(
        [(20, base(100)), (21, base(300))], "doc_id long, text string"
    )
    v3 = {
        r.id: r.kept
        for r in store.dedup_and_append(
            b3, "doc_id", "text",
            history_docs=b1.unionByName(b2.where("doc_id in (11, 13)")),
        ).collect()
    }
    assert v3 == {20: False, 21: True}

    # reload from disk: same store state
    reloaded = SignatureStore.load(spark, store.path)
    v4 = {
        r.id: r.kept
        for r in reloaded.dedup_and_append(
            spark.createDataFrame(
                [(30, base(300))], "doc_id long, text string"
            ),
            "doc_id", "text",
            history_docs=b3.where("doc_id = 21"),
        ).collect()
    }
    assert v4 == {30: False}


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _basetext(i: int) -> str:
    return " ".join(f"w{i}x{j}q{i * 31 + j}" for j in range(40))


STORE_KINDS = ["sig", "substr"]


def _new_store(spark, kind: str, path: str):
    """A fresh store of either kind. ``_basetext`` texts are exact
    duplicates (same i) or share nothing (different i) under both
    fingerprints, so one fixture serves every store contract."""
    from pysparkline.operators.dedup import SignatureStore, SubstringStore

    if kind == "sig":
        return SignatureStore.create(spark, path, threshold=0.5)
    return SubstringStore.create(spark, path, min_tokens=8)


def _quiesce(spark) -> int:
    """Live persisted-RDD count once it stops changing (unpersist with
    blocking=False releases asynchronously)."""
    import time

    jsc = spark.sparkContext._jsc
    last, deadline = -1, time.time() + 15.0
    while time.time() < deadline:
        cur = jsc.getPersistentRDDs().size()
        if cur == last:
            return cur
        last = cur
        time.sleep(0.5)
    return last


@pytest.mark.parametrize("kind", STORE_KINDS)
def test_store_crashed_append_invisible(spark, tmp_path, kind):
    """A failure between the batch-directory write and the manifest commit
    leaves an orphan the readers never see (ADVICE r3: the old two-append
    layout could strand sigs without band rows); compact() sweeps it."""
    import os

    store = _new_store(spark, kind, str(tmp_path / "s"))
    store.append(_mk_docs(spark, [(1, _basetext(1))]), "doc_id", "text")

    # simulate the crash: data lands, commit never happens (the commit
    # path is the shared BatchLedger, so patch it there)
    from pysparkline.index import BatchLedger

    orig = BatchLedger.write_manifest
    BatchLedger.write_manifest = lambda self: (_ for _ in ()).throw(
        OSError("disk gone")
    )
    try:
        with pytest.raises(OSError):
            store.append(_mk_docs(spark, [(2, _basetext(2))]), "doc_id", "text")
    finally:
        BatchLedger.write_manifest = orig  # noqa: restore the real commit
    # doc 2's orphan batch is invisible: a dup of it is NOT flagged, a dup
    # of committed doc 1 still is
    v = {
        r.id: r.kept
        for r in store.dedup_and_append(
            _mk_docs(spark, [(10, _basetext(2)), (11, _basetext(1))]),
            "doc_id", "text",
        ).collect()
    }
    assert v == {10: True, 11: False}

    n_dirs = len(os.listdir(os.path.join(store.path, "batches")))
    n_committed = len(store.manifest["batches"])
    assert n_dirs == n_committed + 1  # the orphan
    store.compact()
    assert len(os.listdir(os.path.join(store.path, "batches"))) == 1
    # post-compaction verdicts unchanged
    v2 = {
        r.id: r.kept
        for r in store.dedup_and_append(
            _mk_docs(spark, [(20, _basetext(1)), (21, _basetext(3))]),
            "doc_id", "text",
        ).collect()
    }
    assert v2 == {20: False, 21: True}


@pytest.mark.parametrize("kind", STORE_KINDS)
def test_store_compaction_equivalence(spark, tmp_path, kind):
    """Three daily batches, then compact: the merged store must give the
    same verdicts as the uncompacted one (VERDICT r3 #7)."""
    import os

    def build(path):
        s = _new_store(spark, kind, path)
        for day in range(3):
            s.dedup_and_append(
                _mk_docs(
                    spark,
                    [(day * 10 + k, _basetext(day * 2 + k % 2)) for k in range(3)],
                ),
                "doc_id", "text",
            ).collect()
        return s

    a = build(str(tmp_path / "a"))
    b = build(str(tmp_path / "b"))
    b.compact()
    assert len(b.manifest["batches"]) == 1
    assert len(os.listdir(os.path.join(b.path, "batches"))) == 1

    probe = _mk_docs(
        spark, [(100 + i, _basetext(i)) for i in range(8)]
    )
    va = {r.id: r.kept for r in a.dedup_and_append(probe, "doc_id", "text").collect()}
    vb = {r.id: r.kept for r in b.dedup_and_append(probe, "doc_id", "text").collect()}
    assert va == vb


@pytest.mark.parametrize("kind", STORE_KINDS)
def test_store_retention_expiry(spark, tmp_path, kind):
    """compact(max_age_seconds) drops batches older than the window: their
    docs stop blocking future ingests."""
    store = _new_store(spark, kind, str(tmp_path / "s"))
    store.append(_mk_docs(spark, [(1, _basetext(1))]), "doc_id", "text")
    # age the first batch far into the past
    store.manifest["batches"][0]["ts"] -= 10_000
    store._write_manifest()
    store.append(_mk_docs(spark, [(2, _basetext(2))]), "doc_id", "text")

    store.compact(max_age_seconds=5_000)
    v = {
        r.id: r.kept
        for r in store.dedup_and_append(
            _mk_docs(spark, [(10, _basetext(1)), (11, _basetext(2))]),
            "doc_id", "text",
        ).collect()
    }
    # expired doc 1 no longer blocks; retained doc 2 still does
    assert v == {10: True, 11: False}


@pytest.mark.parametrize("kind", STORE_KINDS)
def test_store_partial_history_falls_back(spark, tmp_path, kind):
    """ADVICE r3: a candidate whose stored-side text is missing from a
    partial history_docs must fall back to the store's text-free decider
    (signature estimate / fingerprint match), not be silently kept."""
    store = _new_store(spark, kind, str(tmp_path / "s"))
    b1 = _mk_docs(spark, [(1, _basetext(1)), (2, _basetext(2))])
    store.append(b1, "doc_id", "text")

    # history covers doc 1 only; new batch duplicates BOTH stored docs
    probe = _mk_docs(spark, [(10, _basetext(1)), (11, _basetext(2))])
    v = {
        r.id: r.kept
        for r in store.dedup_and_append(
            probe, "doc_id", "text",
            history_docs=b1.where("doc_id = 1"),
        ).collect()
    }
    # 10 verified exactly; 11 caught by the fallback (an exact dup
    # estimates to 1.0 and matches every fingerprint) — previously it
    # slipped through as kept
    assert v == {10: False, 11: False}


def test_signature_store_estimate_path(spark, tmp_path):
    """Without history texts the signature estimate decides — exact dups
    estimate to 1.0 and are still caught."""
    from pysparkline.operators.dedup import SignatureStore

    txt = "the same exact document text repeated across batches " * 3
    store = SignatureStore.create(spark, str(tmp_path / "s2"))
    store.append(
        spark.createDataFrame([(1, txt)], "doc_id long, text string"),
        "doc_id", "text",
    )
    v = {
        r.id: r.kept
        for r in store.dedup_and_append(
            spark.createDataFrame(
                [(2, txt), (3, "completely different content here" * 4)],
                "doc_id long, text string",
            ),
            "doc_id", "text",
        ).collect()
    }
    assert v == {2: False, 3: True}


# ---------------------------------------------------------------------------
# substring-granularity dedup (round 6)
# ---------------------------------------------------------------------------


def _substr_corpus(spark):
    run = " ".join(f"tok{i}" for i in range(30))  # 30-token shared run
    rows = [
        (1, "alpha beta " + run + " gamma delta"),
        (2, "completely different prefix here " + run),
        (3, "no overlap with anything at all whatsoever in this text row"),
        (4, "short doc"),  # < min_tokens tokens: emits no windows
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_pairs_exact(spark):
    from pysparkline.operators.dedup import substring_dup_pairs

    got = {
        (r.id_a, r.id_b)
        for r in substring_dup_pairs(
            _substr_corpus(spark), "doc_id", "text", min_tokens=8
        ).collect()
    }
    assert got == {(1, 2)}


def test_substring_sample_mod_detects_long_runs(spark):
    """0-mod-p sampling is content-defined, so both documents keep the SAME
    windows of the shared run — a run much longer than p windows is still
    detected, and sampled results are always a subset of exact ones."""
    from pysparkline.operators.dedup import substring_dup_pairs

    run = " ".join(f"w{i}" for i in range(400))  # ~393 windows at L=8
    df = spark.createDataFrame(
        [(1, "x " + run), (2, run + " y"), (3, "unrelated text entirely")],
        "doc_id long, text string",
    )
    exact = {
        (r.id_a, r.id_b)
        for r in substring_dup_pairs(
            df, "doc_id", "text", min_tokens=8
        ).collect()
    }
    sampled = {
        (r.id_a, r.id_b)
        for r in substring_dup_pairs(
            df, "doc_id", "text", min_tokens=8, sample_mod=16
        ).collect()
    }
    assert exact == {(1, 2)}
    assert sampled == {(1, 2)}  # 393 windows >> p=16: detection certain-ish
    assert sampled <= exact


def test_substring_max_df_drops_boilerplate(spark):
    """A window shared by MORE than max_df docs is dropped from the index
    (the d^2 fan-out guard); pairs relying on it disappear — bounded
    recall, never wrong pairs."""
    from pysparkline.operators.dedup import substring_dup_pairs

    boiler = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [(i, f"doc {i} prefix " + boiler) for i in range(1, 6)],
        "doc_id long, text string",
    )
    full = substring_dup_pairs(
        df, "doc_id", "text", min_tokens=8, max_df=None
    ).count()
    capped = substring_dup_pairs(
        df, "doc_id", "text", min_tokens=8, max_df=3
    ).count()
    assert full == 10 and capped == 0


def test_substring_store_incremental(spark, tmp_path):
    """Ingest flow: history -> batch1 -> batch2. A batch doc sharing a run
    with history or an EARLIER batch doc is dropped; only survivors'
    fingerprints append (so later batches dedup against the canonical
    survivors, not the dropped copies)."""
    from pysparkline.operators.dedup import SubstringStore

    run = " ".join(f"h{i}" for i in range(12))
    run2 = " ".join(f"z{i}" for i in range(12))
    hist = spark.createDataFrame(
        [(1, "history doc with " + run)], "doc_id long, text string"
    )
    store = SubstringStore.create(spark, str(tmp_path / "ss"), min_tokens=8)
    store.append(hist, "doc_id", "text")

    b1 = spark.createDataFrame(
        [
            (10, "leaked " + run + " again"),        # dups history
            (11, "fresh content " + run2),            # new canonical
            (12, "also has " + run2 + " trailing"),   # dups earlier 11
            (13, "entirely unrelated text body here with many words"),
        ],
        "doc_id long, text string",
    )
    v1 = {
        r.id: r.kept
        for r in store.dedup_and_append(
            b1, "doc_id", "text", history_docs=hist
        ).collect()
    }
    assert v1 == {10: False, 11: True, 12: False, 13: True}

    b2 = spark.createDataFrame(
        [
            (20, "second batch reuses " + run2),  # dups stored survivor 11
            (21, "completely novel second batch document text"),
        ],
        "doc_id long, text string",
    )
    v2 = {
        r.id: r.kept
        for r in store.dedup_and_append(
            b2, "doc_id", "text", history_docs=hist.unionByName(b1)
        ).collect()
    }
    assert v2 == {20: False, 21: True}


def test_substring_store_matches_batch_operator(spark, tmp_path):
    """Empty store + one batch == the batch operator's min-id-wins verdict:
    kept(d) iff substring_dup_pairs has no (a, d) pair with a < d."""
    from pysparkline.operators.dedup import SubstringStore, substring_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    store = SubstringStore.create(spark, str(tmp_path / "sse"), min_tokens=8)
    got = {
        r.id: r.kept
        for r in store.dedup_and_append(
            docs, "doc_id", "text", history_docs=docs.limit(0)
        ).collect()
    }
    dup_ids = {
        r.id_b
        for r in substring_dup_pairs(
            docs, "doc_id", "text", min_tokens=8
        ).collect()
    }
    want = {
        r.doc_id: r.doc_id not in dup_ids for r in docs.collect()
    }
    assert got == want


def test_substring_store_crash_and_compact(spark, tmp_path):
    """An orphan batch directory (crashed append) is invisible; compact
    merges committed batches and sweeps the orphan."""
    import os

    from pysparkline.operators.dedup import SubstringStore

    run = " ".join(f"c{i}" for i in range(10))
    store = SubstringStore.create(spark, str(tmp_path / "ssc"), min_tokens=8)
    store.append(
        spark.createDataFrame([(1, "stored " + run)], "doc_id long, text string"),
        "doc_id", "text",
    )
    # orphan: batch dir exists, never committed
    orphan = os.path.join(store._batches_path, "deadbeef0000", "fps")
    store._stored("fps").limit(0).write.parquet(orphan)
    reloaded = SubstringStore.load(spark, store.path)
    assert [b["name"] for b in reloaded.manifest["batches"]] == [
        b["name"] for b in store.manifest["batches"]
    ]
    n_before = reloaded._stored("fps").count()
    reloaded.compact()
    assert reloaded._stored("fps").count() == n_before
    assert len(reloaded.manifest["batches"]) == 1
    assert not os.path.exists(os.path.dirname(orphan))
    # the store still blocks a duplicate after compaction
    v = {
        r.id: r.kept
        for r in reloaded.dedup_and_append(
            spark.createDataFrame(
                [(9, "later " + run + " again"), (8, "novel words only here")],
                "doc_id long, text string",
            ),
            "doc_id", "text",
        ).collect()
    }
    assert v == {9: False, 8: True}


@pytest.mark.parametrize("kind", STORE_KINDS)
def test_store_compact_preserves_retention_clock(spark, tmp_path, kind):
    """compact() stamps the merged batch with the OLDEST constituent's
    timestamp, so retention expiry still fires after regular compactions
    (round-6 review: a fresh stamp reset the clock forever)."""
    store = _new_store(spark, kind, str(tmp_path / "r"))
    store.append(_mk_docs(spark, [(1, _basetext(1))]), "doc_id", "text")
    old_ts = store.manifest["batches"][0]["ts"]
    store.append(_mk_docs(spark, [(2, _basetext(2))]), "doc_id", "text")
    store.compact()
    assert store.manifest["batches"][0]["ts"] == old_ts
    # a second compact with retention now EXPIRES the merged batch
    store.compact(max_age_seconds=0.0)
    assert store.manifest["batches"] == [] or all(
        b["ts"] > old_ts for b in store.manifest["batches"]
    )
    v = {
        r.id: r.kept
        for r in store.dedup_and_append(
            _mk_docs(spark, [(9, _basetext(1))]), "doc_id", "text"
        ).collect()
    }
    assert v == {9: True}  # expired history no longer blocks


@pytest.mark.parametrize("kind", STORE_KINDS)
def test_store_stream_batch_exactly_once(spark, tmp_path, kind):
    """process_stream_batch: a replayed batch id is a no-op (store
    unchanged, verdict directory already present), and the verdict lands
    under verdict_path/batch=<id>."""
    import os

    store = _new_store(spark, kind, str(tmp_path / "sss"))
    store.append(_mk_docs(spark, [(1, _basetext(1))]), "doc_id", "text")
    vdir = str(tmp_path / "verdicts")
    b0 = _mk_docs(spark, [(10, _basetext(1)), (11, _basetext(2))])
    store.process_stream_batch(b0, 0, "doc_id", "text", vdir)
    v = {
        r.id: r.kept
        for r in spark.read.parquet(os.path.join(vdir, "batch=0")).collect()
    }
    assert v == {10: False, 11: True}
    n_batches = len(store.manifest["batches"])
    assert store.manifest["lastStreamBatch"] == 0
    # at-least-once replay of the same batch id: nothing changes
    store.process_stream_batch(b0, 0, "doc_id", "text", vdir)
    assert len(store.manifest["batches"]) == n_batches
    # the next batch dedups against batch-0 SURVIVORS too
    b1 = _mk_docs(spark, [(20, _basetext(2)), (21, _basetext(3))])
    store.process_stream_batch(b1, 1, "doc_id", "text", vdir)
    assert store.manifest["lastStreamBatch"] == 1
    v1 = {
        r.id: r.kept
        for r in spark.read.parquet(os.path.join(vdir, "batch=1")).collect()
    }
    assert v1 == {20: False, 21: True}


def test_canonical_docs_quality_champion(spark):
    """canonical_docs: per-cluster highest-quality member wins (tie by id);
    singletons are their own canonicals; cluster ids are component minima."""
    from pyspark.sql import functions as F

    from pysparkline.operators import dedup

    df = spark.createDataFrame(
        [(i, float((i * 7) % 10)) for i in range(10)],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(0, 2), (2, 4), (5, 6)], "id_a long, id_b long"
    )
    out = {r.doc_id: r for r in dedup.canonical_docs(df, pairs).collect()}
    # cluster {0,2,4}: qualities 0,4,8 -> 4 wins; cluster {5,6}: 5,2 -> 5
    assert out[4].is_canonical and not out[0].is_canonical
    assert not out[2].is_canonical
    assert out[5].is_canonical and not out[6].is_canonical
    for i in (1, 3, 7, 8, 9):
        assert out[i].is_canonical and out[i].cluster_id == i
    assert out[0].cluster_id == out[2].cluster_id == out[4].cluster_id == 0
    # quality tie -> smallest id
    df2 = spark.createDataFrame(
        [(1, 5.0), (2, 5.0)], "doc_id long, quality double"
    )
    p2 = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out2 = {r.doc_id: r.is_canonical
            for r in dedup.canonical_docs(df2, p2).collect()}
    assert out2 == {1: True, 2: False}


def test_cluster_pairs_long_chain_converges(spark):
    """Pointer doubling: a 2000-node CHAIN (diameter 1999) converges within
    the default max_iter=20 (plain min-label propagation would need 1999
    rounds — the shape that crashed the sf0.1 canonical fixture)."""
    from pysparkline.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1999)], "id_a long, id_b long"
    )
    out = dedup.cluster_pairs(pairs)
    rows = out.collect()
    assert len(rows) == 2000
    assert all(r.cluster_id == 0 for r in rows)


def test_cluster_pairs_multi_component_still_exact(spark):
    from pysparkline.operators import dedup

    pairs = spark.createDataFrame(
        [(0, 5), (5, 9), (2, 7), (100, 101)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dedup.cluster_pairs(pairs).collect()}
    assert got == {0: 0, 5: 0, 9: 0, 2: 2, 7: 2, 100: 100, 101: 100}


@pytest.mark.parametrize("kind", STORE_KINDS)
def test_failed_compaction_rolls_back_batch_list(spark, tmp_path, kind):
    """ADVICE r6 (low): if compaction's merged write or manifest rewrite
    throws, the in-memory batch list must roll back to the full pre-compact
    snapshot — not be left empty while disk still lists the old batches (a
    later append would then commit a manifest dropping every prior batch)."""
    from pysparkline.index import BatchLedger

    store = _new_store(spark, kind, str(tmp_path / "s"))
    store.append(_mk_docs(spark, [(1, _basetext(1))]), "doc_id", "text")
    store.append(_mk_docs(spark, [(2, _basetext(2))]), "doc_id", "text")
    before = [dict(b) for b in store.manifest["batches"]]
    assert len(before) == 2

    orig = BatchLedger.write_manifest
    BatchLedger.write_manifest = lambda self: (_ for _ in ()).throw(
        OSError("disk gone")
    )
    try:
        with pytest.raises(OSError):
            store.compact()
    finally:
        BatchLedger.write_manifest = orig
    assert store.manifest["batches"] == before

    # and the session is still usable: a later append keeps ALL history —
    # dups of both pre-compaction docs are still caught
    v = {
        r.id: r.kept
        for r in store.dedup_and_append(
            _mk_docs(spark, [(10, _basetext(1)), (11, _basetext(2))]),
            "doc_id", "text",
        ).collect()
    }
    assert v == {10: False, 11: False}


@pytest.mark.parametrize("kind", STORE_KINDS)
def test_store_releases_intermediate_caches(spark, tmp_path, kind):
    """append/dedup_and_append cache their expensive intermediates (the
    fingerprint rows feeding the batch write; the candidate pairs feeding
    both the exact-verify semi join and the fallback anti join) but must
    RELEASE them before returning — only the verdict's localCheckpoint may
    outlive the call (round-11: the double write recomputed the minhash
    pass, the verify pair re-ran the whole band join chain)."""
    from pysparkline.operators import dedup

    dedup.release_dedup_caches()
    base = _quiesce(spark)
    store = _new_store(spark, kind, str(tmp_path / "hygiene"))
    old = _mk_docs(spark, [(i, _basetext(i)) for i in range(1, 6)])
    store.append(old, "doc_id", "text")
    assert _quiesce(spark) <= base  # append leaves no persist residue
    new = _mk_docs(
        spark, [(10, _basetext(1)), (11, _basetext(99))]
    )
    v = {
        r.id: r.kept
        for r in store.dedup_and_append(
            new, "doc_id", "text", history_docs=old
        ).collect()
    }
    assert v == {10: False, 11: True}
    # only the returned verdict's localCheckpoint remains live
    assert _quiesce(spark) <= base + 1


@pytest.mark.parametrize("kind", STORE_KINDS)
def test_store_failed_commit_releases_caches(spark, tmp_path, kind):
    """A dedup_and_append whose manifest commit fails must still release
    the new batch's caches — a foreachBatch retry would otherwise leak
    one more batch-sized cache per attempt. Only the verdict's checkpoint
    may stay live, and the failed batch stays invisible."""
    from pysparkline.index import BatchLedger

    def persisted_ids():
        # unpersist drops the id from this map synchronously, so the new
        # ids are exact even while older RDDs are still being cleaned up
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    store = _new_store(spark, kind, str(tmp_path / "failcommit"))
    old = _mk_docs(spark, [(i, _basetext(i)) for i in range(1, 4)])
    store.append(old, "doc_id", "text")
    committed = [dict(b) for b in store.manifest["batches"]]
    before = persisted_ids()
    new = _mk_docs(spark, [(10, _basetext(1)), (11, _basetext(99))])

    orig = BatchLedger.write_manifest
    BatchLedger.write_manifest = lambda self: (_ for _ in ()).throw(
        OSError("disk gone")
    )
    try:
        with pytest.raises(OSError):
            store.dedup_and_append(new, "doc_id", "text", history_docs=old)
    finally:
        BatchLedger.write_manifest = orig
    assert len(persisted_ids() - before) <= 1
    assert store.manifest["batches"] == committed
