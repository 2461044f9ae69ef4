"""Distributed BPE tokenizer training and encoding.

The missing piece between corpus curation and model training: learn a
byte-pair-encoding merge table FROM the corpus (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units"), at Spark
scale, then encode documents with it.

The 100 TB shape — the same one fastBPE / HuggingFace trainers use, kept
distributed instead of in-RAM:

- The corpus is scanned ONCE to build the (word, count) table; every merge
  iteration then runs over that table, whose size is the corpus VOCABULARY
  (heavy-tailed, orders of magnitude smaller than the corpus — but still a
  DataFrame here, never a driver dict, so 10^8 unique words is fine).
- Each iteration is UDF-free Column algebra over symbol ARRAYS: adjacent
  pairs via a sequence/transform HOF, one map-side-combined groupBy for
  pair counts, a 1-ROW collect for the argmax (deterministic tie-break:
  freq DESC, pair string ASC), and the merge application is an
  ``F.aggregate`` fold implementing EXACT greedy leftmost non-overlapping
  merging (state = (emitted symbols, pending symbol); a pending ``lhs``
  meeting ``rhs`` emits the merged symbol and clears — so a run of k
  identical symbols under (a,a) becomes floor(k/2) 'aa' + (k odd) 'a',
  the classic semantics; a naive string replace gets runs wrong because
  the matched separator is consumed).
- Lineage is cut every ``checkpoint_every`` merges (localCheckpoint), so a
  32k-merge run does not accumulate a 32k-deep expression plan.

The greedy selection is also expressible relationally (used by the SQL
driver oracle): mark positions i where (sym[i], sym[i+1]) = best pair;
within each maximal RUN of consecutive marked positions (runs longer than
1 only occur when lhs = rhs), merge the odd-ranked ones — exactly the
positions greedy takes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt): whitespace-tokenized corpus vocabulary — the one
    corpus-sized shuffle in BPE training."""
    w = F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
    return (
        df.select(w)
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _pairs_expr(arr):
    """Adjacent symbol pairs of a symbol array, as 'l r' strings (empty for
    1-symbol words). ANSI-safe: F.get returns NULL out of bounds and the
    sequence is guarded."""
    n = F.size(arr)
    idx = F.when(n >= 2, F.sequence(F.lit(0), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.get(arr, i), F.get(arr, i + 1))
    )


def _merge_fold_expr(arr, lhs: str, rhs: str):
    """EXACT greedy leftmost non-overlapping merge of (lhs, rhs) in a symbol
    array, as one F.aggregate fold. State: (out, prev); prev == lhs meeting
    rhs emits lhs||rhs and clears prev (so the next symbol cannot pair with
    the just-consumed rhs — the overlap rule)."""
    empty = F.array().cast("array<string>")
    init = F.struct(
        empty.alias("out"), F.lit(None).cast("string").alias("prev")
    )

    def step(acc, x):
        hit = acc.prev.eqNullSafe(F.lit(lhs)) & (x == F.lit(rhs))
        return (
            F.when(
                hit,
                F.struct(
                    F.array_append(acc.out, F.lit(lhs + rhs)).alias("out"),
                    F.lit(None).cast("string").alias("prev"),
                ),
            )
            .when(
                acc.prev.isNull(),
                F.struct(acc.out.alias("out"), x.alias("prev")),
            )
            .otherwise(
                F.struct(
                    F.array_append(acc.out, acc.prev).alias("out"),
                    x.alias("prev"),
                )
            )
        )

    def finish(acc):
        return F.when(acc.prev.isNull(), acc.out).otherwise(
            F.array_append(acc.out, acc.prev)
        )

    return F.aggregate(arr, init, step, finish)


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    min_freq: int = 1,
    checkpoint_every: int = 16,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns
    [(merge_rank, lhs, rhs, freq), ...] in learned order (the merge table
    is n_merges rows — driver-sized by definition; the word table never
    leaves the cluster). Stops early when no pair reaches ``min_freq``.

    Each round re-aggregates pair counts over the whole (vocabulary-sized)
    word table in one map-side-combined shuffle. The fastBPE delta update
    (recount only the words containing the merged pair) measured 10-15x
    slower here, because every delta round must rewrite the whole
    pair-count table (SCALE.md "BPE delta probe")."""
    base = (
        word_counts(df, text_col)
        .select(F.split(F.col("word"), "").alias("syms"), F.col("cnt"))
        .persist()
    )
    words = base
    merges: list[tuple[int, str, str, int]] = []

    try:
        for rank in range(int(n_merges)):
            top = (
                words.select(
                    F.explode(_pairs_expr(F.col("syms"))).alias("pair"), "cnt"
                )
                .groupBy("pair")
                .agg(F.sum("cnt").alias("freq"))
                .orderBy(F.col("freq").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            if not top or top[0]["freq"] < min_freq:
                break
            pair, freq = top[0]["pair"], int(top[0]["freq"])
            lhs, rhs = pair.split(" ")
            merges.append((rank, lhs, rhs, freq))
            # UNCONDITIONAL fold: the fold is identity on words not
            # containing the pair, and wrapping it in F.when(hit, ...)
            # .otherwise(syms) would reference the accumulated syms
            # expression THREE times per round (hit, fold, otherwise) —
            # 3^N expression growth between checkpoints, which OOMs
            # Catalyst canonicalization by round ~14 (seen in CI); the
            # single self-reference grows linearly and is truncated by
            # the periodic localCheckpoint below
            words = words.withColumn(
                "syms", _merge_fold_expr(F.col("syms"), lhs, rhs)
            )
            if (rank + 1) % checkpoint_every == 0:
                words = words.localCheckpoint()
    finally:
        base.unpersist()
    return merges


def bpe_train_df(
    df: DataFrame, text_col: str, n_merges: int, **kw
) -> DataFrame:
    """``bpe_train`` as a DataFrame: (merge_rank, lhs, rhs, freq)."""
    merges = bpe_train(df, text_col, n_merges, **kw)
    spark = df.sparkSession
    return spark.createDataFrame(
        merges or [], "merge_rank int, lhs string, rhs string, freq bigint"
    )


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[int, str, str, int]] | list[tuple[str, str]],
    max_expr_merges: int = 24,
) -> DataFrame:
    """(id, tokens, n_tokens): encode documents with a learned merge table,
    applying merges in rank order with the training-time exact-greedy
    semantics, per word (merges never cross word boundaries). Up to
    ``max_expr_merges`` merges the whole encode is fused JVM Column algebra
    (nested greedy folds); beyond that it switches to an Arrow-batched
    pandas UDF running the identical greedy loop (expression/codegen depth,
    not correctness, is the limit)."""
    pairs = [
        (m[1], m[2]) if len(m) >= 3 else (m[0], m[1]) for m in merges
    ]
    if len(pairs) <= max_expr_merges:
        words = F.filter(
            F.split(F.col(text_col), r"\s+"), lambda w: w != F.lit("")
        )

        def enc_word(w):
            arr = F.split(w, "")
            for lhs, rhs in pairs:
                arr = _merge_fold_expr(arr, lhs, rhs)
            return arr

        tokens = F.flatten(F.transform(words, enc_word))
        return df.select(
            F.col(id_col).alias("id"),
            tokens.alias("tokens"),
            F.size(tokens).alias("n_tokens"),
        )

    import re

    # Java's regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python's str.split()
    # splits on Unicode whitespace (NBSP etc.) — the UDF path must tokenize
    # EXACTLY like the expression path and word_counts (both Java \s+), or
    # the same document encodes differently across the two paths.
    _ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        def one(t: str) -> list[str]:
            toks: list[str] = []
            for w in _ws.split(t or ""):
                if not w:
                    continue
                syms = list(w)
                for lhs, rhs in pairs:
                    out, i = [], 0
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == lhs
                            and syms[i + 1] == rhs
                        ):
                            out.append(lhs + rhs)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                toks.extend(syms)
            return toks

        return texts.map(one)

    out = df.select(
        F.col(id_col).alias("id"), enc(F.col(text_col)).alias("tokens")
    )
    return out.withColumn("n_tokens", F.size("tokens"))
