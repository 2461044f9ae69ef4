"""semantic_dedup (SemDeDup-style) and unigram-LM perplexity operators.

The driver-mirror oracle (tests/test_entry_oracle.py: semantic_dedup_emb,
perplexity_docs) covers the label-cluster / self-scoring paths exactly vs
DuckDB; these tests cover the paths the oracle can't express: the kmeans
cluster assignment and scoring against a separately-built reference LM.
"""

import math

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_semantic_dedup_kmeans_path_sound(spark, emb):
    from pysparkline.operators import dedup
    from pysparkline.operators.similarity import cosine_similarity_col

    out = dedup.semantic_dedup(
        emb, "vec_id", "embedding", 0.46, n_clusters=8, seed=42
    )
    rows = out.collect()
    assert len(rows) == emb.count()
    assert set(out.columns) == {"vec_id", "cluster", "kept"}
    dropped = {r.vec_id for r in rows if not r.kept}
    # soundness: every dropped row has SOME earlier near-dup in the corpus
    # (the cluster partition can only reduce drops, never invent them)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    cos = F.round(cosine_similarity_col(F.col("va"), F.col("vb")), 6)
    with_earlier = {
        r.ia
        for r in a.join(b, (F.col("ib") < F.col("ia")) & (cos >= 0.46))
        .select("ia")
        .distinct()
        .collect()
    }
    assert dropped <= with_earlier
    # determinism: same seed, same result
    again = {
        (r.vec_id, r.kept)
        for r in dedup.semantic_dedup(
            emb, "vec_id", "embedding", 0.46, n_clusters=8, seed=42
        ).collect()
    }
    assert again == {(r.vec_id, r.kept) for r in rows}


def test_semantic_dedup_threshold_one_keeps_all(spark, emb):
    from pysparkline.operators import dedup

    out = dedup.semantic_dedup(
        emb, "vec_id", "embedding", 1.000001, cluster_col="label"
    )
    assert out.where(~F.col("kept")).count() == 0


def test_perplexity_hand_example(spark):
    from pysparkline.operators import text

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "c")], "id long, txt string"
    )
    got = {
        r.id: (r.n_tokens, r.nll)
        for r in text.perplexity_scores(df, "id", "txt").collect()
    }
    # counts: a=2 b=1 c=1, N=4, V=3; logp = ln((c+1)/(N+V))
    lp_a, lp_bc = math.log(3 / 7), math.log(2 / 7)
    assert got[1][0] == 3
    assert abs(got[1][1] - round(-(2 * lp_a + lp_bc) / 3, 6)) <= 1e-6
    assert got[2] == (1, round(-lp_bc, 6))


def test_perplexity_reference_lm_skips_oov(spark):
    from pysparkline.operators import text

    ref = spark.createDataFrame([(0, "x x y")], "id long, txt string")
    lm = text.unigram_lm(ref, "txt")
    df = spark.createDataFrame(
        [(1, "x z"), (2, "z")], "id long, txt string"
    )
    got = {
        r.id: (r.n_tokens, r.nll)
        for r in text.perplexity_scores(df, "id", "txt", lm=lm).collect()
    }
    # z is OOV in the reference LM -> skipped; doc 2 has no scored tokens
    lp_x = math.log(3 / 5)  # x count 2, N=3, V=2
    assert got[1] == (1, round(-lp_x, 6))
    assert 2 not in got


def test_pq_topk_exact_on_small_corpus(spark, emb):
    from pysparkline.operators import similarity
    from pyspark.sql import functions as F

    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pq = similarity.pq_topk(emb, queries, k=5)
    brute = similarity.brute_force_cosine_topk(emb, queries, k=5, round_to=6)
    # re-ranked PQ recovers the exact top-5 on the fixture corpus, with
    # exact cosine scores (re-rank computes them from original vectors)
    got = {(r.query_id, r.neighbor_id, r.score, r.rank) for r in pq.collect()}
    exp = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in brute.collect()
    }
    assert got == exp


def test_pq_adc_only_bounded_output(spark, emb):
    from pysparkline.operators import similarity
    from pyspark.sql import functions as F

    queries = emb.where(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pq = similarity.pq_topk(emb, queries, k=3, rerank=False)
    rows = pq.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(len(v) <= 3 for v in per_q.values())


def test_pq_codebooks_deterministic(spark, emb):
    from pysparkline.operators import similarity
    import numpy as np

    a = similarity.fit_pq_codebooks(emb, "embedding", 8, 16, seed=7)
    b = similarity.fit_pq_codebooks(emb, "embedding", 8, 16, seed=7)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))


def test_curate_corpus_audit_consistent(spark):
    from pyspark.sql import functions as F

    from pysparkline.operators import pipeline

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    v = pipeline.curate_corpus(docs, bench=bench).persist()
    audit = pipeline.curation_audit(v).first()
    n = docs.count()
    assert audit.n_docs == n
    assert audit.n_kept == v.where("kept").count()
    # every bench doc shares its grams with itself -> decontaminated away
    bench_ids = {r.doc_id for r in bench.select("doc_id").collect()}
    clean_fail = {r.doc_id for r in v.where("NOT clean_ok").collect()}
    assert bench_ids <= clean_fail
    # kept implies every stage flag
    assert v.where(
        "kept AND NOT (quality_ok AND lang_ok AND repetition_ok "
        "AND is_canonical AND clean_ok)"
    ).count() == 0
    # splits partition the corpus deterministically
    assert v.groupBy("split").count().count() <= 3
    v.unpersist()


def test_tfidf_vectors_unit_norm_and_similarity_ready(spark):
    from pyspark.sql import functions as F

    from pysparkline.operators import similarity, text

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    vecs = text.tfidf_vectors(docs, "doc_id", "text", dim=64).persist()
    norms = vecs.select(
        F.aggregate(
            "features", F.lit(0.0), lambda a, x: a + x * x
        ).alias("n2")
    ).collect()
    # components are rounded to 6 dp (oracle grid), so the norm is within
    # ~sqrt(dim)*5e-7 of 1
    assert all(abs(r.n2 - 1.0) < 1e-4 for r in norms)
    # plugs into the similarity family: self-similarity is the top hit
    q = vecs.limit(3).select(
        F.col("doc_id").alias("query_id"), F.col("features").alias("embedding")
    )
    top = similarity.brute_force_cosine_topk(
        vecs.withColumnRenamed("features", "embedding"),
        q, k=1, corpus_id="doc_id",
    )
    got = {(r.query_id, r.neighbor_id) for r in top.collect()}
    assert got == {(r.query_id, r.query_id) for r in q.collect()}
    vecs.unpersist()


# -- Naive Bayes classifier (round-8 continuation) ---------------------------


def test_nb_train_score_hand_example(spark):
    """Hand-checkable two-class corpus: counts, smoothing, priors, and the
    argmax all verifiable by arithmetic."""
    from pysparkline.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "good good movie", "pos"),
            (2, "bad bad plot", "neg"),
            (3, "good plot", "pos"),
            (4, "good movie", None),  # unlabeled: excluded from training
        ],
        ["doc_id", "text", "label"],
    )
    m = T.nb_train(docs, "text", "label")
    assert m.total_docs == 3  # NULL label excluded
    assert m.vocab_size == 4  # good, movie, bad, plot
    cls = {r.label: (r.n_tokens, r.n_docs) for r in m.classes.collect()}
    assert cls == {"pos": (5, 2), "neg": (3, 1)}
    out = {
        r.doc_id: (r.nb_label, r.nb_score)
        for r in T.nb_score(docs, "doc_id", "text", m).collect()
    }
    assert len(out) == 4
    # doc 4 "good movie": pos has good=3, movie=1 of 5 tokens; neg has
    # neither of 3 tokens — pos must win
    assert out[4][0] == "pos"
    exp_pos = (
        math.log((3 + 1) / (5 + 4))
        + math.log((1 + 1) / (5 + 4))
        + math.log(2 / 3)
    )
    assert abs(out[4][1] - round(exp_pos, 6)) < 1e-9
    # doc 2 is the only 'bad'-heavy doc: neg wins despite the pos prior
    assert out[2][0] == "neg"


def test_nb_score_empty_doc_prior_only(spark):
    """A token-free document scores on the class prior alone; ties on the
    rounded score break to the lexicographically smallest label."""
    from pyspark.sql import Row

    from pysparkline.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "x y", "a"),
            (2, "x z", "a"),
            (3, "y z", "b"),
            (4, "", "b"),
            (5, None, None),
        ],
        ["doc_id", "text", "label"],
    )
    m = T.nb_train(docs, "text", "label")
    out = {r.doc_id: r for r in T.nb_score(docs, "doc_id", "text", m).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # doc 5 (NULL text): prior-only — 'a' has 2 docs of 4 vs 'b' 2 of 4;
    # equal priors round equal -> tie breaks to 'a'
    assert out[5].nb_label == "a"
    assert out[5].nb_score == round(math.log(2 / 4), 6)


def test_nb_cross_corpus_scoring(spark):
    """The ingest usage: train on the labeled half, score the unlabeled
    half (model tables join by token — no leakage of scored rows into
    counts)."""
    from pysparkline.operators import text as T

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    train = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)
    m = T.nb_train(train, "text", "lang")
    out = T.nb_score(test, "doc_id", "text", m)
    assert out.count() == test.count()
    labels = {r.label for r in m.classes.collect()}
    got_labels = {r.nb_label for r in out.collect()}
    assert got_labels <= labels
    # retrain on everything changes the model (sanity that train really
    # only saw the training half)
    m2 = T.nb_train(docs, "text", "lang")
    assert m2.total_docs > m.total_docs


# -- DSIR importance resampling (round-8 continuation) -----------------------


def test_dsir_weights_skew_toward_target(spark):
    """Documents from the target language must carry higher importance
    weights on average, and the Gumbel-top-k selection over-represents
    the target class relative to the corpus."""
    from pysparkline.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.where(F.col("lang") == "en")
    w = sampling.dsir_weights(docs, target)
    joined = {
        r.doc_id: r.dsir_logw for r in w.collect()
    }
    langs = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    en = [v for d, v in joined.items() if langs[d] == "en"]
    other = [v for d, v in joined.items() if langs[d] != "en"]
    assert sum(en) / len(en) > sum(other) / len(other)
    sel = sampling.dsir_select(docs, target, 60)
    picked = [r.doc_id for r in sel.collect()]
    sel_share = sum(1 for d in picked if langs[d] == "en") / len(picked)
    corpus_share = sum(1 for v in langs.values() if v == "en") / len(langs)
    assert sel_share > corpus_share


def test_dsir_deterministic_across_layouts(spark):
    """Content-keyed uniforms + rounded keys: the same draw replays
    after repartitioning (the weighted_sample discipline)."""
    from pysparkline.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.where(F.col("lang") == "de")
    a = sorted(
        (r.doc_id, r.sample_rank)
        for r in sampling.dsir_select(docs, target, 25).collect()
    )
    b = sorted(
        (r.doc_id, r.sample_rank)
        for r in sampling.dsir_select(
            docs.repartition(17), target.repartition(3), 25
        ).collect()
    )
    assert a == b
    # a different seed draws a different sample
    c = sorted(
        (r.doc_id, r.sample_rank)
        for r in sampling.dsir_select(docs, target, 25, seed=7).collect()
    )
    assert a != c


def test_dsir_empty_text_scores_zero(spark):
    from pysparkline.operators import sampling

    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, ""), (3, None), (4, "bb cc")],
        ["doc_id", "text"],
    )
    target = spark.createDataFrame([(10, "aa aa bb")], ["doc_id", "text"])
    w = {r.doc_id: r.dsir_logw for r in
         sampling.dsir_weights(docs, target).collect()}
    assert set(w) == {1, 2, 3, 4}
    assert w[2] == 0.0 and w[3] == 0.0
    # doc 1 shares features with the target; doc 4 mostly does not
    assert w[1] > w[4]


def test_dsir_bucket_cap_guards_driver_collect(spark):
    """dsir_weights collects its bucket-count tables driver-side (bounded
    by n_buckets); past the broadcast-class cap it must raise instead of
    OOMing the driver (VERDICT r11 #4)."""
    import pytest

    from pysparkline.operators import sampling

    docs = spark.createDataFrame([(1, "aa bb")], ["doc_id", "text"])
    target = spark.createDataFrame([(10, "aa")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="DSIR_MAX_BUCKETS"):
        sampling.dsir_weights(
            docs, target, n_buckets=sampling.DSIR_MAX_BUCKETS + 1
        )
    # the cap itself is accepted (this runs jobs: dsir_weights collects
    # its bucket-count tables)
    sampling.dsir_weights(docs, target, n_buckets=10_000)
