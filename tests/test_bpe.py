"""Distributed BPE training/encoding vs an independent pure-Python reference
(classic Sennrich merge loop) — exact merge-table and token equality."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from pysparkline.operators import bpe

SF = "/root/testdata/sf0.001"


# --- independent reference implementation (dict-based, driver-side) --------


def _ref_word_counts(texts):
    c = collections.Counter()
    for t in texts:
        for w in t.split():
            c[w] += 1
    return c


def _ref_train(texts, n_merges, min_freq=1):
    wc = {tuple(w): n for w, n in _ref_word_counts(texts).items()}
    merges = []
    for rank in range(n_merges):
        pc = collections.Counter()
        for syms, n in wc.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc:
            break
        # tie-break identical to the engine: freq DESC, pair STRING asc
        best = min(pc.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        (l, r), freq = best
        if freq < min_freq:
            break
        merges.append((rank, l, r, freq))
        new = {}
        for syms, n in wc.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new[key] = new.get(key, 0) + n
        wc = new
    return merges


def _ref_encode(text, merges):
    toks = []
    for w in text.split():
        syms = list(w)
        for _, l, r, _f in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        toks.extend(syms)
    return toks


TEXTS = [
    "low low low low low",
    "lower lower newest newest newest",
    "newest newest newest widest widest",
    "aaa aaaa aa a banana bandana",
]


def test_train_matches_reference_small(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    got = bpe.bpe_train(df, "text", n_merges=10)
    want = _ref_train(TEXTS, 10)
    assert got == want


def test_train_greedy_overlap_semantics(spark):
    """'aaaa' under merge (a,a) must become [aa, aa] (left-to-right
    non-overlapping), and the NEXT iteration counts pairs on the merged
    form — the replace-chain must agree with the reference exactly."""
    texts = ["aaaa aaa aa"] * 3
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    assert bpe.bpe_train(df, "text", 3) == _ref_train(texts, 3)


def test_train_on_fixture_docs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    texts = [r.text for r in docs.select("text").collect()]
    got = bpe.bpe_train(docs, "text", n_merges=6)
    assert got == _ref_train(texts, 6)
    # merge table is well-formed: ranks consecutive, freqs non-increasing
    # only within equal-pair reorderings — at minimum positive
    assert [m[0] for m in got] == list(range(len(got)))
    assert all(m[3] > 0 for m in got)


def test_min_freq_stops_early(spark):
    df = spark.createDataFrame([("ab cd",)], "text string")
    got = bpe.bpe_train(df, "text", n_merges=5, min_freq=2)
    assert got == []


def test_checkpoint_interval_invariant(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    a = bpe.bpe_train(df, "text", 7, checkpoint_every=2)
    b = bpe.bpe_train(df, "text", 7, checkpoint_every=100)
    assert a == b


def test_encode_matches_reference_expression_path(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    merges = bpe.bpe_train(df, "text", 8)
    out = {
        r.id: (list(r.tokens), r.n_tokens)
        for r in bpe.bpe_encode(df, "doc_id", "text", merges).collect()
    }
    for i, t in enumerate(TEXTS):
        want = _ref_encode(t, merges)
        assert out[i] == (want, len(want))


def test_encode_udf_path_identical(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    merges = bpe.bpe_train(df, "text", 8)
    a = {
        r.id: list(r.tokens)
        for r in bpe.bpe_encode(df, "doc_id", "text", merges).collect()
    }
    b = {
        r.id: list(r.tokens)
        for r in bpe.bpe_encode(
            df, "doc_id", "text", merges, max_expr_merges=0
        ).collect()
    }
    assert a == b


def test_encode_empty_and_single_char(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "x"), (3, "  ")], "doc_id long, text string"
    )
    out = {
        r.id: (list(r.tokens), r.n_tokens)
        for r in bpe.bpe_encode(df, "doc_id", "text", [(0, "a", "b", 1)]).collect()
    }
    assert out[1] == ([], 0)
    assert out[2] == (["x"], 1)
    assert out[3] == ([], 0)


def test_train_matches_reference_random_corpora(spark):
    """Property: on randomized small corpora (alphabet of 3 symbols forces
    heavy pair ties and repeated-symbol runs), the distributed trainer
    matches the classic reference exactly."""
    import random

    rng = random.Random(7)
    for trial in range(6):
        texts = [
            " ".join(
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 8))
            )
            for _ in range(rng.randint(2, 10))
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = bpe.bpe_train(df, "text", n_merges=6)
        want = _ref_train(texts, 6)
        assert got == want, (trial, texts, got, want)
        merges = got
        out = {
            r.id: list(r.tokens)
            for r in bpe.bpe_encode(
                df.select(
                    F.monotonically_increasing_id().alias("doc_id"), "text"
                ).withColumnRenamed("doc_id", "id_"),
                "id_", "text", merges,
            ).collect()
        }
        # every encoding concatenates back to the original words
        texts_by_tokens = sorted("".join(v) for v in out.values())
        assert texts_by_tokens == sorted(t.replace(" ", "") for t in texts)
