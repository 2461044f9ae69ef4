"""The cube pinning contract: ``OlapIndex.cache_cubes`` pins each cube's
scalar columns only; a query reading only pinned columns scans the
in-memory relation, one reading a sketch column (HLL, theta, top-k map,
histogram) scans the parquet cube, and both answer alike."""

import pytest
from pyspark.sql import functions as F

from pysparkline import ir
from pysparkline.index import (
    CubeSpec, IndexConfig, MetricSpec, OlapIndex, is_sketch_type,
)
from pysparkline.session import OlapContext

from tests.conftest import SF_DIR


def _fresh(index):
    """A second handle on ``index``'s directory, so pinning it leaves the
    shared session fixtures unpinned."""
    return OlapIndex(index.spark, index.path, index.manifest)


@pytest.fixture(scope="module")
def pinned_ctx(spark, index):
    from pysparkline import tpch

    idx = _fresh(index)
    idx.cache_cubes()
    yield OlapContext(spark, idx, fds=tpch.tpch_fds())
    idx.invalidate()


@pytest.fixture(scope="module")
def events(spark):
    from pysparkline.events_index import build_or_load_events_index

    return build_or_load_events_index(spark, SF_DIR)


@pytest.fixture(scope="module")
def events_pinned(spark, events):
    idx = _fresh(events)
    idx.cache_cubes()
    yield OlapContext(spark, idx)
    idx.invalidate()


def _scans(df) -> set[str]:
    """Class names of the executed plan's nodes, query stages and adaptive
    wrappers unwrapped; a cached relation's own plan is not entered."""
    df.collect()  # the final adaptive plan
    names = set()

    def walk(p):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(p.plan())
        names.add(cls)
        kids = p.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return names


_PIN, _FILE = "InMemoryTableScanExec", "FileSourceScanExec"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


_SCALAR = ir.GroupByQuery(
    dimensions=[ir.DefaultDim("l_returnflag")],
    aggregations=[
        ir.CountAgg("n"),
        ir.FieldAgg("sum", "q", "l_quantity"),
        ir.FieldAgg("max", "mq", "l_quantity"),
    ],
)
_HLL = ir.GroupByQuery(
    dimensions=[ir.DefaultDim("l_returnflag")],
    aggregations=[ir.HyperUniqueAgg("hu", "o_orderkey")],
)
_CARD = ir.GroupByQuery(
    dimensions=[ir.DefaultDim("l_returnflag")],
    aggregations=[ir.CardinalityAgg("cd", ["c_custkey"])],
)
_TOPN = ir.TopNQuery(
    dimension=ir.DefaultDim("s_name"),
    metric="cnt",
    threshold=10,
    aggregations=[ir.CountAgg("cnt")],
    approx=True,
)
_THETA = ir.GroupByQuery(
    dimensions=[ir.DefaultDim("event_type")],
    aggregations=[ir.ThetaAgg("du", "user_id", k=4096)],
)
_HIST = ir.GroupByQuery(
    dimensions=[ir.DefaultDim("event_type")],
    aggregations=[
        ir.HistQuantileAgg("p", "value", fraction=0.5, lo=0.0, hi=512.0,
                           nbins=64)
    ],
)


@pytest.mark.parametrize(
    "spec", [_SCALAR, _HLL, _CARD, _TOPN], ids=["scalar", "hll", "card", "topn"]
)
def test_pinned_equals_unpinned_tpch(ctx, pinned_ctx, spec):
    got = _rows(pinned_ctx.query(spec))
    assert pinned_ctx.query_history[-1].backing == "cube"
    assert got == _rows(ctx.query(spec))


@pytest.mark.parametrize("spec", [_THETA, _HIST], ids=["theta", "hist"])
def test_pinned_equals_unpinned_events(spark, events, events_pinned, spec):
    got = _rows(events_pinned.query(spec))
    assert events_pinned.query_history[-1].backing == "cube"
    assert got == _rows(OlapContext(spark, events).query(spec))


def test_pinned_schema_holds_no_sketch(pinned_ctx, events_pinned):
    from pyspark.sql import types as T

    for idx in (pinned_ctx.index, events_pinned.index):
        sketchy = 0
        for name in idx.manifest["cubes"]:
            types = idx.cube_column_types(name)
            sketchy += any(map(is_sketch_type, types.values()))
            pin = idx._df_memo[f"cube_{name}__pin"]
            for f in pin.schema.fields:
                assert not isinstance(
                    f.dataType, (T.BinaryType, T.MapType, T.ArrayType)
                ), (name, f)
            assert set(pin.columns) == idx.pinned_columns(name)
        assert sketchy, "fixture index carries no sketch columns"


def test_scalar_reads_pin_sketch_reads_parquet(pinned_ctx):
    scans = _scans(pinned_ctx.query(_SCALAR))
    assert _PIN in scans and _FILE not in scans, scans
    assert any(
        n.endswith("relation: pinned")
        for n in pinned_ctx.query_history[-1].decision.splitlines()
    )
    for spec in (_HLL, _TOPN):
        scans = _scans(pinned_ctx.query(spec))
        assert _FILE in scans and _PIN not in scans, scans
        assert "disk: needs sketch columns" in (
            pinned_ctx.query_history[-1].decision
        )


def test_pruned_multi_file_cube_reads_pin(spark, tmp_path):
    """A query the cube file manifest prunes still scans the pinned
    relation of a multi-file cube (a pruned file list would be a new
    relation the cache never matches), and answers like the unpinned,
    pruned scan. The cube's files are clustered on its dim, so the
    selector is what prunes them."""
    flat = spark.range(4000).select(
        F.expr(
            "timestampadd(HOUR, CAST(id % 17000 AS INT),"
            " timestamp'1996-01-01 00:00:00')"
        ).alias("ts"),
        F.concat(F.lit("k"), (F.col("id") % 7).cast("string")).alias("k"),
        (F.col("id") % 50).cast("double").alias("v"),
    )
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v", "v", "sum")],
        hll_cols=["v"],
        cubes=[CubeSpec("km", ("k",), "month")],
        target_file_bytes=0,  # the configured count governs: many files
        files_per_time_partition=4,
    )
    path = str(tmp_path / "idx")
    OlapIndex.build(spark, flat, cfg, path)
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        filter=ir.SelectorFilter("k", "k0"),
        intervals=[ir.Interval("1996-03-01", "1996-05-01")],
        aggregations=[ir.CountAgg("n"), ir.FieldAgg("sum", "sv", "v")],
    )
    idx = OlapIndex.load(spark, path)
    assert len(idx.cube_input_files("km")) > 1
    disk = OlapContext(spark, idx)
    want = _rows(disk.query(q))
    assert "cube file manifest pruned scan: 1/" in (
        disk.query_history[-1].decision
    )

    idx.cache_cubes()
    try:
        pinned = OlapContext(spark, idx)
        df = pinned.query(q)
        assert _rows(df) == want
        scans = _scans(df)
        assert _PIN in scans and _FILE not in scans, scans
        assert "pruned scan" not in pinned.query_history[-1].decision
    finally:
        idx.invalidate()


def test_invalidate_unpins(spark, index):
    idx = _fresh(index)
    idx.cache_cubes()
    pins = [idx._df_memo[f"cube_{n}__pin"] for n in idx.manifest["cubes"]]
    assert all(p.is_cached for p in pins)
    idx.invalidate()
    assert not any(p.is_cached for p in pins)
    assert all(idx.pinned_columns(n) is None for n in idx.manifest["cubes"])
    assert _PIN not in _scans(OlapContext(spark, idx).query(_SCALAR))
