"""Streaming ingestion: chunked stream-ingest must answer queries identically
to a batch-built index (the merge-form monoid property), before and after
compaction."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def streamed_index(spark, tmp_path_factory):
    from pysparkline import tpch
    from pysparkline.index import OlapIndex
    from pysparkline.streaming import StreamingIngest, stream_flatten

    root = tmp_path_factory.mktemp("stream_ingest")
    flat, star = tpch.flat_star_df(spark, SF)
    cfg = tpch.tpch_index_config()

    # bootstrap the index from the first third of the fact table, stream in
    # the rest as two chunks through a file-source stream
    fact = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    part1 = fact.where(F.col("l_orderkey") % 3 == 0)
    rest = fact.where(F.col("l_orderkey") % 3 != 0)

    tables = tpch.load_star_tables(spark, SF)
    tables1 = dict(tables, lineitem=part1)
    from pysparkline.index import flatten_star

    flat1 = flatten_star(spark, tables1, star).withColumn(
        "order_year", F.year("o_orderdate")
    )
    idx = OlapIndex.build(
        spark, flat1, cfg, str(root / "index"), star=star, compute_ndv=False
    )

    # chunk files for the stream source
    in_dir = str(root / "incoming")
    rest.where(F.col("l_orderkey") % 3 == 1).write.parquet(in_dir + "/c1")
    rest.where(F.col("l_orderkey") % 3 == 2).write.parquet(in_dir + "/c2")
    # flatten the streaming fact against static dims
    stream_fact = (
        spark.readStream.schema(fact.schema)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )
    flat_stream = stream_flatten(stream_fact, tables, star).withColumn(
        "order_year", F.year("o_orderdate")
    )
    ingest = StreamingIngest(idx)
    q = ingest.start(flat_stream, str(root / "ckpt"))
    q.awaitTermination(120)
    assert ingest.rows_ingested > 0

    yield idx, ingest, fact.count()
    shutil.rmtree(str(root), ignore_errors=True)


def _q1(ctx):
    from pysparkline import ir

    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag"), ir.DefaultDim("l_linestatus")],
        aggregations=[
            ir.CountAgg("n"),
            ir.ExprAgg("sum", "sum_qty", "CAST(l_quantity AS DECIMAL(12,2))"),
        ],
        limit_spec=ir.LimitSpec(
            [ir.OrderByColumn("l_returnflag"), ir.OrderByColumn("l_linestatus")]
        ),
    )
    return [tuple(r) for r in ctx.query(spec).collect()]


def test_streamed_equals_batch(spark, streamed_index):
    from pysparkline import tpch
    from pysparkline.session import OlapContext

    idx, ingest, total_rows = streamed_index
    ctx = OlapContext(spark, idx)
    got = _q1(ctx)
    # batch oracle: the full, batch-built index
    batch_idx = tpch.build_or_load_index(spark, SF)
    exp = _q1(OlapContext(spark, batch_idx))
    assert got == exp
    # flat side is complete too
    assert idx.spark.read.parquet(os.path.join(idx.path, "flat")).count() == total_rows
    assert ctx.query_history[-1].backing == "cube"


def _approx_topn(ctx):
    from pysparkline import ir

    spec = ir.TopNQuery(
        dimension=ir.DefaultDim("s_name"),
        metric="cnt",
        threshold=10,
        aggregations=[ir.CountAgg("cnt")],
        approx=True,
    )
    rows = [tuple(r) for r in ctx.query(spec).collect()]
    assert ctx.query_history[-1].backing == "cube"
    return rows


def test_compaction_preserves_answers(spark, streamed_index):
    from pysparkline.session import OlapContext

    idx, ingest, _ = streamed_index
    ctx = OlapContext(spark, idx)
    before = _q1(ctx)
    # approx TopN needs NO merge across appended partials (explode+sum is
    # additive), and compaction's map re-merge must not change answers —
    # the streamed index is still in its exact regime, so compare against
    # the batch-built index's sketch result
    from pysparkline import tpch
    from pysparkline.index import OlapIndex

    topn_before = _approx_topn(ctx)
    assert topn_before == _approx_topn(
        OlapContext(spark, tpch.build_or_load_index(spark, SF))
    )
    pre_rows = spark.read.parquet(os.path.join(idx.path, "cube_flags")).count()
    ingest.compact("flags")
    post_rows = spark.read.parquet(os.path.join(idx.path, "cube_flags")).count()
    assert post_rows <= pre_rows
    assert _q1(ctx) == before
    assert _approx_topn(ctx) == topn_before
    # compacted files must keep the appended-partial schema (incl. the
    # top-k map + bound columns) so future appends stay byte-compatible
    cube = spark.read.parquet(os.path.join(idx.path, "cube_flags"))
    tk = idx.config.topk_specs[0]
    assert tk.col_name in cube.columns and tk.bound_col_name in cube.columns


def test_append_batch(spark, tmp_path):
    """Batch append API: index stays query-correct after an append."""
    from pyspark.sql import functions as F

    from pysparkline import tpch
    from pysparkline.index import OlapIndex, flatten_star
    from pysparkline.session import OlapContext

    tables = tpch.load_star_tables(spark, SF)
    star = tpch.tpch_star(tables)
    cfg = tpch.tpch_index_config()
    fact = tables["lineitem"]
    part1 = dict(tables, lineitem=fact.where(F.col("l_orderkey") % 2 == 0))
    flat1 = flatten_star(spark, part1, star).withColumn(
        "order_year", F.year("o_orderdate")
    )
    idx = OlapIndex.build(
        spark, flat1, cfg, str(tmp_path / "idx"), star=star, compute_ndv=False
    )
    rest = dict(tables, lineitem=fact.where(F.col("l_orderkey") % 2 == 1))
    flat2 = flatten_star(spark, rest, star).withColumn(
        "order_year", F.year("o_orderdate")
    )
    n = idx.append_batch(flat2)
    assert n > 0
    ctx = OlapContext(spark, idx)
    got = _q1(ctx)
    exp = _q1(OlapContext(spark, tpch.build_or_load_index(spark, SF)))
    assert got == exp


def test_replayed_batch_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a committed batch_id must not
    double-count (the committed high-water mark)."""
    from pyspark.sql import functions as F

    from pysparkline import tpch
    from pysparkline.index import OlapIndex, flatten_star
    from pysparkline.session import OlapContext
    from pysparkline.streaming import StreamingIngest

    tables = tpch.load_star_tables(spark, SF)
    star = tpch.tpch_star(tables)
    cfg = tpch.tpch_index_config()
    fact = tables["lineitem"]
    half = dict(tables, lineitem=fact.where(F.col("l_orderkey") % 2 == 0))
    flat1 = flatten_star(spark, half, star).withColumn(
        "order_year", F.year("o_orderdate")
    )
    idx = OlapIndex.build(
        spark, flat1, cfg, str(tmp_path / "idx"), star=star, compute_ndv=False
    )
    rest = dict(tables, lineitem=fact.where(F.col("l_orderkey") % 2 == 1))
    flat2 = flatten_star(spark, rest, star).withColumn(
        "order_year", F.year("o_orderdate")
    )
    ingest = StreamingIngest(idx)
    ingest.process_batch(flat2, 5)
    before = _q1(OlapContext(spark, idx))
    ingest.process_batch(flat2, 5)  # replay: must be a no-op
    ingest.process_batch(flat2, 3)  # stale id: also a no-op
    assert _q1(OlapContext(spark, idx)) == before
    assert ingest.batches_seen == 1


def test_interleaved_append_compact(spark, tmp_path):
    """Appends and compactions interleaved in arbitrary order must keep every
    query answer equal to the batch-built index (the monoid property under
    maintenance)."""
    from pyspark.sql import functions as F

    from pysparkline import tpch
    from pysparkline.index import OlapIndex, flatten_star
    from pysparkline.session import OlapContext
    from pysparkline.streaming import StreamingIngest

    tables = tpch.load_star_tables(spark, SF)
    star = tpch.tpch_star(tables)
    cfg = tpch.tpch_index_config()
    fact = tables["lineitem"]

    def flat_part(mod, rem):
        t = dict(tables, lineitem=fact.where(F.col("l_orderkey") % mod == rem))
        return flatten_star(spark, t, star).withColumn(
            "order_year", F.year("o_orderdate")
        )

    idx = OlapIndex.build(
        spark, flat_part(4, 0), cfg, str(tmp_path / "idx"), star=star,
        compute_ndv=False,
    )
    ingest = StreamingIngest(idx)
    ctx = OlapContext(spark, idx)
    batch_ctx = OlapContext(spark, tpch.build_or_load_index(spark, SF))

    ingest.process_batch(flat_part(4, 1), 1)
    ingest.process_batch(flat_part(4, 2), 2)
    ingest.compact("flags")
    ingest.process_batch(flat_part(4, 3), 3)
    assert _q1(ctx) == _q1(batch_ctx)
    ingest.compact("flags")
    ingest.compact("market")
    assert _q1(ctx) == _q1(batch_ctx)


def test_windowed_rollup_plan(spark):
    """Streaming windowed agg with watermark builds and is streaming-valid."""
    from pysparkline.streaming import windowed_rollup

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    )
    out = windowed_rollup(
        src, "timestamp", ["value"], [F.count(F.lit(1)).alias("n")],
        window="1 minute", watermark="2 minutes",
    )
    assert out.isStreaming
    assert set(c for c in out.columns) == {"window", "value", "n"}


def test_streaming_dedup_exact(spark, tmp_path):
    """Cross-micro-batch exact dedup with bounded state: duplicates within
    the watermark horizon are dropped, including replays in later batches."""
    from pysparkline.streaming import streaming_dedup_exact

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def run_available(_name):
        stream = (
            spark.readStream.schema("k string, ts timestamp, v long")
            .parquet(str(src))
        )
        out = streaming_dedup_exact(stream, ["k"], "ts", watermark="1 hour")
        rows = []
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, bid: rows.extend(bdf.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r.k: r.v for r in rows}

    batch1 = spark.createDataFrame(
        [
            ("a", "2024-01-01 10:00:00", 1),
            ("b", "2024-01-01 10:05:00", 2),
            ("a", "2024-01-01 10:10:00", 99),  # dup within horizon
        ],
        "k string, ts string, v long",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "v")
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    got1 = run_available("dedup_b1")
    assert set(got1) == {"a", "b"}
    assert got1["a"] == 1  # first arrival wins

    # second run (checkpointed state carries over): replayed 'b' suppressed,
    # fresh 'c' passes
    batch2 = spark.createDataFrame(
        [
            ("b", "2024-01-01 10:20:00", 42),  # dup vs batch 1, in horizon
            ("c", "2024-01-01 10:30:00", 3),
        ],
        "k string, ts string, v long",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) ts", "v")
    batch2.coalesce(1).write.mode("append").parquet(str(src))
    got2 = run_available("dedup_b2")
    assert set(got2) == {"c"}, "only the fresh key appears in the new batch"


def test_curate_stream_matches_batch(spark, tmp_path):
    """Streaming curation == batch curation on the same documents: the
    stateless flags are the same expressions, and first-arrival dedup picks
    the batch canonical winner when arrivals are id-ordered (one batch)."""
    from pyspark.sql import functions as F

    from pysparkline.operators import pipeline

    good = (
        "The quick brown fox jumps over the lazy dog and keeps going for a "
        "while with plenty of words in the sentence to pass the length and "
        "quality checks of the curation funnel today."
    )
    import datetime as dt

    T = dt.datetime
    rows = [
        (1, good, T(2024, 1, 1, 10, 0)),
        (2, good, T(2024, 1, 1, 10, 5)),          # exact dup of 1
        (3, "short", T(2024, 1, 1, 10, 6)),       # fails quality
        (4, good + " Unique tail one.", T(2024, 1, 1, 10, 7)),
        (5, "la la la " * 40, T(2024, 1, 1, 10, 8)),  # repetition fail
    ]
    src = tmp_path / "docs"
    src.mkdir()
    batch_df = spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    )
    batch_df.coalesce(1).write.parquet(str(src / "b1"))

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .parquet(str(src / "b1"))
    )
    out = pipeline.curate_stream(stream)
    got = []
    q = (
        out.writeStream.foreachBatch(lambda bdf, bid: got.extend(bdf.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_kept = {
        r.doc_id
        for r in pipeline.curate_corpus(batch_df).where("kept").collect()
    }
    assert {r.doc_id for r in got} == batch_kept == {1, 4}
    splits = {
        r.doc_id: r.split
        for r in pipeline.curate_corpus(batch_df).collect()
    }
    for r in got:
        assert splits[r.doc_id] == r.split


def _dedup_store(spark, kind: str, path: str):
    from pysparkline.operators.dedup import SignatureStore, SubstringStore

    if kind == "sig":
        return SignatureStore.create(spark, path, threshold=0.5)
    return SubstringStore.create(spark, path, min_tokens=8)


@pytest.mark.parametrize("kind", ["sig", "substr"])
def test_streaming_incremental_dedup(spark, tmp_path, kind):
    """Micro-batches dedup against a persisted store: a dup of a batch-1
    survivor arriving in batch 2 is dropped; replaying a committed batch
    id is a no-op (exactly-once store semantics)."""
    from pysparkline.streaming import streaming_incremental_dedup

    def base(i: int) -> str:
        return " ".join(f"w{i}x{j}q{i * 31 + j}" for j in range(40))

    src = tmp_path / "in"
    src.mkdir()
    store = _dedup_store(spark, kind, str(tmp_path / "store"))
    verdicts = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src))
        )
        q = streaming_incremental_dedup(
            store, stream, "doc_id", "text", verdicts, ckpt
        )
        q.awaitTermination(180)

    spark.createDataFrame(
        [(1, base(1)), (2, base(2))], "doc_id long, text string"
    ).write.mode("append").parquet(str(src))
    run()
    # batch 2: 10 dups stored 1; 11 fresh; 12 dups 11 within the batch
    spark.createDataFrame(
        [(10, base(1)), (11, base(100)), (12, base(100))],
        "doc_id long, text string",
    ).write.mode("append").parquet(str(src))
    run()

    got = {
        r.id: r.kept for r in spark.read.parquet(verdicts).collect()
    }
    assert got == {1: True, 2: True, 10: False, 11: True, 12: False}

    # replay the last committed batch id directly: no-op (no new store
    # batch, verdicts unchanged)
    n_batches = len(store.manifest["batches"])
    last = int(store.manifest["lastStreamBatch"])
    replay = spark.createDataFrame(
        [(99, base(999))], "doc_id long, text string"
    )
    store.process_stream_batch(replay, last, "doc_id", "text", verdicts)
    assert len(store.manifest["batches"]) == n_batches
    got2 = {r.id: r.kept for r in spark.read.parquet(verdicts).collect()}
    assert got2 == got

    # a FRESH batch id against the same store still works batch-style
    store.process_stream_batch(
        spark.createDataFrame(
            [(20, base(100)), (21, base(555))], "doc_id long, text string"
        ),
        last + 1, "doc_id", "text", verdicts,
    )
    got3 = {r.id: r.kept for r in spark.read.parquet(verdicts).collect()}
    assert got3[20] is False and got3[21] is True


@pytest.mark.parametrize("kind", ["sig", "substr"])
def test_stream_batch_crash_between_verdict_and_commit(
    spark, tmp_path, monkeypatch, kind
):
    """The verdict parquet lands BEFORE the store's manifest commit: a crash
    between the two replays into 'verdict exists, batch not marked done' —
    the replay recomputes the identical verdict (the store is unchanged) and
    commits. The reverse order would lose the verdict forever, since a
    replay after the commit skips the batch (ADVICE r4)."""
    def base(i: int) -> str:
        return " ".join(f"c{i}x{j}q{i * 31 + j}" for j in range(40))

    store = _dedup_store(spark, kind, str(tmp_path / "store"))
    verdicts = str(tmp_path / "verdicts")
    store.process_stream_batch(
        spark.createDataFrame(
            [(1, base(1)), (2, base(2))], "doc_id long, text string"
        ),
        0, "doc_id", "text", verdicts,
    )

    # simulate a crash AFTER the verdict write, BEFORE the manifest commit
    def crash_write(self, *a, **k):
        raise RuntimeError("simulated crash before manifest commit")

    batch2 = spark.createDataFrame(
        [(10, base(1)), (11, base(77))], "doc_id long, text string"
    )
    with monkeypatch.context() as mp:
        mp.setattr(type(store), "_write_batch", crash_write)
        with pytest.raises(RuntimeError, match="simulated crash"):
            store.process_stream_batch(batch2, 1, "doc_id", "text", verdicts)

    # the recoverable state: verdict directory exists, batch NOT committed
    assert os.path.exists(os.path.join(verdicts, "batch=1"))
    assert int(store.manifest.get("lastStreamBatch", -1)) == 0

    # replay completes: identical verdict, batch committed exactly once
    store.process_stream_batch(batch2, 1, "doc_id", "text", verdicts)
    assert int(store.manifest["lastStreamBatch"]) == 1
    got = {r.id: r.kept for r in spark.read.parquet(verdicts).collect()}
    assert got == {1: True, 2: True, 10: False, 11: True}
