"""Theta sketches (Spark's DataSketches theta built-ins behind ThetaSpec /
ThetaAgg / ThetaSketchAgg): exact-at-or-below-k semantics, every column type
and '' counted as COUNT(DISTINCT) counts them, cube estimates equal to
row-grain estimates, partial merges equal to direct builds through
append+compaction, set operations vs ground truth, and the estimation-mode
error bound.

Reference surface: thetaSketch column type (DruidRelationInfo type map,
thetaSketch -> BinaryType) and Druid's thetaSketchSetOp post-aggregations.
"""

from __future__ import annotations

import datetime
import decimal
import math

import pytest
from pyspark.sql import functions as F

from pysparkline import ir, lowering
from pysparkline.index import ThetaSpec
from pysparkline.lowering import Backing
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def ectx(spark):
    from pysparkline.events_index import build_or_load_events_index
    from pysparkline.session import OlapContext

    return OlapContext(spark, build_or_load_events_index(spark, SF_DIR))


def _spec(k=4096, field="user_id"):
    return ir.GroupByQuery(
        dimensions=[ir.DefaultDim("event_type")],
        aggregations=[ir.ThetaAgg("du", field, k=k)],
    )


# ------------------------------------------------------------------ unit level


def _estimate(df, col: str, k: int) -> int:
    return df.agg(
        F.theta_sketch_estimate(ThetaSpec(col, k).sketch_agg()).alias("e")
    ).collect()[0].e


def _raw_theta(df, field: str, k: int = 4096, dims=()) -> dict:
    """ThetaAgg lowered on a row-grain backing over ``df``: {dims: est}."""
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim(d) for d in dims],
        aggregations=[ir.ThetaAgg("du", field, k=k)],
    )
    base = Backing.base(df.withColumn("__ts", F.current_timestamp()), "__ts")
    return {
        tuple(r[d] for d in dims): r.du
        for r in lowering.lower(spec, base).collect()
    }


def test_exact_below_k_and_null_excluded(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, None), (5, "c")], ["id", "v"]
    )
    # exact, NULL not counted (approx_count_distinct parity)
    assert _estimate(df, "v", 16) == 3


def test_empty_string_counts_null_does_not(spark):
    """'' is a value COUNT(DISTINCT) counts; Spark's theta_sketch_agg skips
    it when fed raw strings. The input encoding must count it, and NULL must
    stay uncounted."""
    df = spark.createDataFrame(
        [("",), ("a",), (None,), ("b",), ("a",)], "v string"
    )
    want = df.agg(F.countDistinct("v")).collect()[0][0]
    assert want == 3
    assert _raw_theta(df, "v") == {(): 3.0}
    assert _estimate(df, "v", 16) == want


@pytest.mark.parametrize(
    "dtype,values",
    [
        (
            "timestamp",
            [datetime.datetime(2024, 1, d, h) for d in (1, 2) for h in (0, 5)],
        ),
        ("decimal(18,6)", [decimal.Decimal(x) / 8 for x in range(-3, 9)]),
        ("boolean", [True, False]),
        ("date", [datetime.date(2024, 1, d) for d in range(1, 6)]),
    ],
)
def test_theta_over_rejected_input_types(spark, dtype, values):
    """Spark's theta built-ins reject timestamp, decimal, boolean and date
    inputs; through ThetaAgg they count like COUNT(DISTINCT)."""
    rows = [(i % 3, v) for i, v in enumerate(values * 2)] + [(0, None)]
    df = spark.createDataFrame(rows, f"g int, c {dtype}")
    want = {
        (r.g,): float(r.n)
        for r in df.groupBy("g").agg(F.countDistinct("c").alias("n")).collect()
    }
    assert _raw_theta(df, "c", dims=("g",)) == want


@pytest.mark.parametrize("n", [50, 64, 5000])
@pytest.mark.parametrize("ways", [7, 64])
def test_merge_equals_rebuild(spark, n, ways):
    """Unioned partials give the direct build's estimate — below k, at k
    and past it (estimation mode) — the property that makes cube partials
    and streamed appends serve the same answer as a rebuild."""
    k = 64
    ts = ThetaSpec("v", k)
    df = spark.range(0, n, 1, 8).select(
        F.col("id").alias("v"), (F.col("id") % ways).alias("g")
    )
    parts = df.groupBy("g").agg(ts.sketch_agg().alias(ts.col_name))
    assert parts.count() == min(n, ways)
    merged = parts.agg(
        F.theta_sketch_estimate(ts.merge_agg()).alias("e")
    ).collect()[0].e
    direct = _estimate(df, "v", k)
    assert merged == direct
    if n <= k:
        assert direct == n


def test_set_ops_exact_vs_ground_truth(spark):
    a_vals = set(range(0, 600))
    b_vals = set(range(400, 900))
    rows = [(x, "a") for x in a_vals] + [(x, "b") for x in b_vals]
    df = spark.createDataFrame(rows, ["v", "side"])
    k = 4096  # not full: every set op is exact
    sk = df.groupBy("side").agg(ThetaSpec("v", k).sketch_agg().alias("sk"))
    a = sk.where("side = 'a'").select(F.col("sk").alias("a"))
    b = sk.where("side = 'b'").select(F.col("sk").alias("b"))
    row = a.crossJoin(b).select(
        F.theta_sketch_estimate(F.theta_intersection("a", "b")).alias("i"),
        F.theta_sketch_estimate(F.theta_difference("a", "b")).alias("d"),
        F.theta_sketch_estimate(F.theta_union("a", "b", 12)).alias("u"),
    ).collect()[0]
    assert row.i == len(a_vals & b_vals)
    assert row.d == len(a_vals - b_vals)
    assert row.u == len(a_vals | b_vals)


def test_full_sketch_estimator_error_bound(spark):
    """Estimation mode (theta < 1): k=256 over 50k distincts lands within
    3x DataSketches' RSE (1/sqrt(k) ~ 6.25%) — deterministic given data."""
    k = 256
    est = _estimate(spark.range(0, 50_000).withColumnRenamed("id", "v"), "v", k)
    assert abs(est - 50_000) / 50_000 < 3 / math.sqrt(k)


def test_clipped_intersection_estimator(spark):
    """Set ops on FULL sketches: intersection, difference and union
    estimates land within 3x DataSketches' RSE (1/sqrt(k)) of the truth."""
    n, overlap = 20_000, 5_000
    a = spark.range(0, n).select(F.col("id").alias("v"), F.lit("a").alias("s"))
    b = spark.range(n - overlap, 2 * n - overlap).select(
        F.col("id").alias("v"), F.lit("b").alias("s")
    )
    k = 512
    sk = a.union(b).groupBy("s").agg(ThetaSpec("v", k).sketch_agg().alias("sk"))
    aa = sk.where("s = 'a'").select(F.col("sk").alias("a"))
    bb = sk.where("s = 'b'").select(F.col("sk").alias("b"))
    row = aa.crossJoin(bb).select(
        F.theta_sketch_estimate(F.theta_intersection("a", "b")).alias("i"),
        F.theta_sketch_estimate(F.theta_difference("a", "b")).alias("d"),
        F.theta_sketch_estimate(F.theta_union("a", "b", 9)).alias("u"),
    ).collect()[0]
    bound = 3 / math.sqrt(k)
    assert abs(row.i - overlap) / overlap < bound
    assert abs(row.d - (n - overlap)) / (n - overlap) < bound
    assert abs(row.u - (2 * n - overlap)) / (2 * n - overlap) < bound


# ------------------------------------------------------------ engine level


def test_cube_and_flat_bit_identical(ectx):
    spec, backing, dec = ectx.plan(_spec())
    assert dec.backing == "cube"
    cube = {r.event_type: r.du for r in ectx.query(_spec()).collect()}
    flat = {
        r.event_type: r.du
        for r in lowering.lower(spec, Backing.flat(ectx.index)).collect()
    }
    assert cube == flat


def test_exact_at_test_scale(ectx):
    got = {r.event_type: r.du for r in ectx.query(_spec()).collect()}
    want = {
        r.event_type: r.x
        for r in ectx.query(
            ir.GroupByQuery(
                dimensions=[ir.DefaultDim("event_type")],
                aggregations=[ir.DistinctAgg("x", "user_id")],
            )
        ).collect()
    }
    assert got == {t: float(v) for t, v in want.items()}


def test_mismatched_k_falls_back_to_flat(ectx):
    """A sketch built at k=4096 cannot serve a k=512 query (different
    retained set) — the planner must fall back, not serve a wrong answer."""
    spec, backing, dec = ectx.plan(_spec(k=512))
    assert dec.backing != "cube"


def test_no_sketch_column_falls_back(ectx):
    spec, backing, dec = ectx.plan(_spec(field="event_id"))
    assert dec.backing != "cube"


def test_theta_survives_append_and_compaction(spark, tmp_path):
    """Streamed-in partials and compaction preserve the sketch: the merged
    cube answer equals row-grain evaluation over ALL rows (exact merge)."""
    from pysparkline.events_index import events_index_config, events_star
    from pysparkline.index import OlapIndex
    from pysparkline.session import OlapContext
    from pysparkline.streaming.ingest import StreamingIngest
    from pysparkline.tpch import read_events

    ev = read_events(spark, SF_DIR)
    cfg = events_index_config()
    split = "2024-01-15"
    idx = OlapIndex.build(
        spark, ev.where(F.col("ts") < split), cfg, str(tmp_path / "idx"),
        star=events_star(),
    )
    ing = StreamingIngest(idx)
    ing.process_batch(ev.where(F.col("ts") >= split), 0)
    ing.compact("types")
    ctx = OlapContext(spark, idx)
    spec, backing, dec = ctx.plan(_spec())
    assert dec.backing == "cube"
    got = {r.event_type: r.du for r in ctx.query(_spec()).collect()}
    want = {
        r.event_type: r.du
        for r in lowering.lower(spec, Backing.base(ev, "ts")).collect()
    }
    assert got == want


def test_filtered_sketch_cube_equals_base(ectx, spark):
    """FilteredAgg(ThetaSketchAgg) — the funnel shape: filtered partial
    merge over the cube must equal a from-raw filtered build."""
    from pysparkline.tpch import read_events
    from tests.conftest import SF_DIR as _SF

    k = 4096
    spec = ir.GroupByQuery(
        dimensions=[],
        granularity="day",
        time_output_name="day",
        aggregations=[
            ir.FilteredAgg(
                "sk",
                ir.SelectorFilter("event_type", "view"),
                ir.ThetaSketchAgg("sk", "user_id", k=k),
            ),
        ],
        post_aggregations=[
            ir.ArithmeticPostAgg("viewers", "theta_sketch_estimate(sk)")
        ],
        output_order=["day", "viewers"],
    )
    planned, backing, dec = ectx.plan(spec)
    assert dec.backing == "cube"
    got = {str(r.day): r.viewers for r in ectx.query(spec).collect()}
    ev = read_events(ectx.spark, _SF)
    want = {
        str(r.day): r.viewers
        for r in lowering.lower(planned, Backing.base(ev, "ts")).collect()
    }
    assert got == want and got


def test_retention_join_is_broadcast(ectx):
    """The day-pair self-join in the retention pattern must broadcast (the
    joined side is ~#days aggregated rows) — never a sort-merge shuffle."""
    from pyspark.sql import functions as F

    k = 4096
    spec = ir.GroupByQuery(
        dimensions=[],
        granularity="day",
        time_output_name="day",
        aggregations=[ir.ThetaSketchAgg("sk", "user_id", k=k)],
    )
    days = ectx.query(spec)
    cur = days.select(F.col("day").cast("date").alias("day"), "sk")
    prv = cur.select(F.date_add("day", 1).alias("day"), F.col("sk").alias("p"))
    joined = cur.join(prv, "day").select(
        "day",
        F.theta_sketch_estimate(F.theta_intersection("p", "sk")).alias("r"),
    )
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_raw_build_matches_direct(ectx, spark):
    """From-raw theta builds on a row-grain backing equal a direct
    theta_sketch_agg groupBy over the raw events."""
    from pysparkline.tpch import read_events

    spec, _, _ = ectx.plan(_spec())
    got = {
        r.event_type: r.du
        for r in lowering.lower(spec, Backing.flat(ectx.index)).collect()
    }
    ev = read_events(spark, SF_DIR)
    want = {
        r.event_type: float(r.x)
        for r in ev.groupBy("event_type")
        .agg(
            F.theta_sketch_estimate(ThetaSpec("user_id").sketch_agg()).alias("x")
        )
        .collect()
    }
    assert got == want and got


def test_raw_build_mixed_aggs(ectx, spark):
    """Theta alongside count/sum AND a non-mergeable agg (exact percentile)
    in one row-grain aggregation: every value matches a direct one-stage
    aggregation."""
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("event_type")],
        aggregations=[
            ir.ThetaAgg("du", "user_id", k=4096),
            ir.CountAgg("n"),
            ir.FieldAgg("sum", "sv", "value"),
            ir.QuantileAgg("p50", "value", 0.5),
        ],
    )
    planned, backing, dec = ectx.plan(spec)
    flat = Backing.flat(ectx.index)
    got = {
        r.event_type: (r.du, r.n, round(float(r.sv), 6), round(r.p50, 6))
        for r in lowering.lower(planned, flat).collect()
    }
    base = flat.df.groupBy("event_type").agg(
        F.theta_sketch_estimate(ThetaSpec("user_id").sketch_agg())
        .cast("double")
        .alias("du"),
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sv"),
        F.percentile(F.col("value").cast("double"), F.lit(0.5)).alias("p50"),
    )
    want = {
        r.event_type: (r.du, r.n, round(float(r.sv), 6), round(r.p50, 6))
        for r in base.collect()
    }
    assert got == want and got


def test_raw_build_ndv_smoke(spark):
    """NDV >> k: 200k distinct values into a k=64 sketch through the raw
    lowering — the estimate lands within the k=64 error band and equals a
    direct build."""
    df = spark.range(0, 200_000, 1, 8).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("v")
    )
    got = _raw_theta(df, "v", k=64, dims=("g",))
    assert len(got) == 4
    for est in got.values():
        assert abs(est - 50_000) / 50_000 < 0.5  # k=64 band
    direct = {
        (r.g,): float(r.du)
        for r in df.groupBy("g")
        .agg(F.theta_sketch_estimate(ThetaSpec("v", 64).sketch_agg()).alias("du"))
        .collect()
    }
    assert got == direct


def test_cube_build_matches_direct_groupby(spark, tmp_path):
    """Every cube cell built in one stage carries the sketch, count and sum
    a direct groupBy over the raw events gives: each cell's estimate equals
    the direct estimate, and the sketch column is BinaryType."""
    from pysparkline.events_index import events_index_config, events_star
    from pysparkline.index import OlapIndex
    from pysparkline.tpch import read_events

    ev = read_events(spark, SF_DIR)
    idx = OlapIndex.build(
        spark, ev, events_index_config(), str(tmp_path / "idx"), star=events_star()
    )
    cube = idx.cube_df("types")
    assert cube.schema["theta_user_id_k4096"].dataType.simpleString() == "binary"
    direct = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("__bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("__count"),
        ThetaSpec("user_id").sketch_agg().alias("theta_user_id_k4096"),
        F.sum(F.expr("CAST(value AS DECIMAL(18,6))")).alias("sum_value"),
    )

    def cells(df):
        return {
            (str(r["__bucket"]), r.event_type): (r["__count"], r.est, r.sum_value)
            for r in df.select(
                "__bucket",
                "event_type",
                "__count",
                F.theta_sketch_estimate("theta_user_id_k4096").alias("est"),
                "sum_value",
            ).collect()
        }

    got = cells(cube)
    assert got == cells(direct) and got


def test_metadata_view_lists_sketch_columns(ectx):
    """olap_cubes (DruidMetadataViews analog) surfaces the cube's sketch
    metrics — HLL, histogram, and theta — so a BI layer can discover which
    distinct/quantile/set-op queries are cube-servable."""
    ectx.register_metadata_views()
    row = ectx.spark.sql(
        "SELECT sketch_columns FROM olap_cubes WHERE cube_name = 'types'"
    ).collect()[0]
    cols = set(row.sketch_columns.split(","))
    assert {"hll_user_id", "hist_value", "theta_user_id_k4096"} <= cols


def test_old_kmv_index_fails_loudly(ectx, spark, tmp_path):
    """An index written with the retired KMV format (manifest thetaSpecs
    without a sketch format, array<long> sketch column) must never be
    misread: loading it, or opening it for queries, raises the named
    rebuild error. New manifests record the format, so build-cache keys of
    theta-bearing configs changed and old cached indexes rebuild."""
    import copy
    import json
    import os

    from pysparkline.events_index import events_index_config
    from pysparkline.index import MANIFEST, IndexFormatError, OlapIndex
    from pysparkline.session import OlapContext

    specs = events_index_config().to_dict()["thetaSpecs"]
    assert specs and all(t["format"] == "datasketches" for t in specs)

    manifest = copy.deepcopy(ectx.index.manifest)
    # the retired format: thetaSpecs carry no sketch format
    manifest["config"]["thetaSpecs"] = [{"col": "user_id", "k": 4096}]
    root = tmp_path / "old_idx"
    cube_path = root / manifest["cubes"]["types"]["path"]
    spark.createDataFrame(
        [("view", [3, 7, 11])],
        "event_type string, theta_user_id_k4096 array<bigint>",
    ).write.parquet(str(cube_path))
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump(manifest, fh, default=str)

    with pytest.raises(IndexFormatError, match="rebuild"):
        OlapIndex.load(spark, str(root))
    with pytest.raises(IndexFormatError, match="rebuild"):
        OlapContext(spark, OlapIndex(spark, str(root), manifest)).query(_spec())

