"""Physical-plan assertions — the properties that matter at 100 TB.

The reference's plan-shape tests asserted "the rewrite produced N Druid
queries" (AbstractTest.scala:105-125). The PySpark-native analog asserts what
Catalyst actually compiled: interval predicates must become Parquet
PartitionFilters (segment pruning), IR lowering must stay JVM-side (no
BatchEvalPython in any hot path), star flattening must broadcast dimensions
(no fact-side shuffle), and cube aggregation must keep map-side partial
aggregation (two HashAggregate phases around one shuffle).
"""

import re

import pytest

from pysparkline import ir, tpch
from pysparkline.session import OlapContext

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ctx(spark):
    idx = tpch.build_or_load_index(spark, SF)
    return OlapContext(spark, idx)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_interval_becomes_partition_filter(ctx):
    """A time interval on the flat backing must prune __tpart partitions."""
    spec = ir.SelectQuery(
        columns=["l_orderkey", "l_quantity"],
        intervals=[ir.Interval("1996-01-01", "1996-04-01")],
    )
    df = ctx.query(spec)
    plan = _physical(df)
    assert "__tpart" in plan and "PartitionFilters" in plan
    # the pruned scan reads 3 months, not all ~84
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "__tpart" in m.group(1)


def test_column_pruning_reaches_scan(ctx):
    spec = ir.SelectQuery(columns=["l_orderkey", "l_quantity"])
    plan = _physical(ctx.query(spec))
    assert "ReadSchema" in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols <= {"l_orderkey", "l_quantity"}


def test_dim_filter_pushed_to_parquet(ctx):
    spec = ir.SelectQuery(
        columns=["l_orderkey"],
        filter=ir.SelectorFilter("l_returnflag", "A"),
    )
    plan = _physical(ctx.query(spec))
    assert "PushedFilters" in plan and "l_returnflag" in plan


def test_no_python_in_lowered_plans(ctx):
    """Every IR lowering path is JVM-side (the whole point of replacing the
    reference's JS codegen with Spark SQL expressions)."""
    specs = [
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            filter=ir.and_(
                ir.InFilter("l_linestatus", ["F", "O"]),
                ir.BoundFilter("l_quantity", lower=1, upper=50),
            ),
            aggregations=[
                ir.CountAgg("n"),
                ir.AvgAgg("aq", "l_quantity"),
                ir.FilteredAgg(
                    "fq", ir.SelectorFilter("l_linestatus", "F"),
                    ir.FieldAgg("sum", "fq", "l_quantity"),
                ),
            ],
        ),
        ir.TopNQuery(
            dimension=ir.DefaultDim("p_brand"), metric="n", threshold=3,
            aggregations=[ir.CountAgg("n")],
        ),
        ir.SearchQuery(dimensions=["p_type"], value="brass"),
    ]
    for spec in specs:
        plan = _physical(ctx.query(spec))
        assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_star_flatten_broadcasts_dims(spark):
    flat, star = tpch.flat_star_df(spark, SF)
    plan = flat._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the fact side must never shuffle


def test_hll_estimate_accuracy(ctx):
    """Approximate count-distinct from pre-built sketches must land within
    HLL's published error (lgK=12 => ~1.6% sigma; assert 5%) of exact."""
    spec_hll = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag")],
        aggregations=[ir.HyperUniqueAgg("d", "o_orderkey")],
    )
    spec_exact = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag")],
        aggregations=[ir.DistinctAgg("d", "o_orderkey")],
    )
    _, backing, decision = ctx.plan(spec_hll)
    assert decision.backing == "cube"  # sketches come from the index
    # approx_count_distinct over a non-grain column also rides the sketch
    spec_card = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag")],
        aggregations=[ir.CardinalityAgg("d", ["o_orderkey"])],
    )
    _, _, d2 = ctx.plan(spec_card)
    assert d2.backing == "cube"
    approx = {r[0]: r[1] for r in ctx.query(spec_hll).collect()}
    exact = {r[0]: r[1] for r in ctx.query(spec_exact).collect()}
    assert set(approx) == set(exact)
    for k, e in exact.items():
        assert abs(approx[k] - e) <= max(2, 0.05 * e), (k, approx[k], e)


def test_cube_agg_has_partial_aggregation(ctx):
    """Merge-form agg over a cube: partial + final HashAggregate around one
    exchange (map-side combine keeps the shuffle tiny at any scale)."""
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag")],
        aggregations=[ir.CountAgg("n")],
    )
    spec2, backing, decision = ctx.plan(spec)
    assert decision.backing == "cube"
    from pysparkline import lowering

    plan = _physical(lowering.lower(spec2, backing))
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan


def test_decontaminate_broadcasts_bench_side(spark):
    """The benchmark gram set must broadcast: a shuffled corpus-side join
    would be the 100 TB scale-killer."""
    from pysparkline.operators import clean
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = clean.decontaminate(
        docs.where(F.col("doc_id") % 17 != 0),
        docs.where(F.col("doc_id") % 17 == 0),
        "doc_id", "text", n=8,
    )
    plan = _physical(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # round-11: the corpus-side tokenize + n-gram explode must not run on
    # one core when the corpus is a narrow single-file scan
    assert "REPARTITION_BY_NUM" in plan


def test_dsir_count_tables_are_local_relations(spark):
    """The two DSIR bucket-count tables (bounded by n_buckets) must lower
    to local relations: building them as live subplans re-ran the full
    feature explode once per consumer (totals + the per-doc join — 5
    corpus/target passes instead of 2; round-11: 6 parquet scans -> 2 in
    the executed plan). The remaining corpus pass spreads narrow inputs."""
    from pyspark.sql import functions as F

    from pysparkline.operators import sampling

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = sampling.dsir_select(
        docs, docs.where(F.col("lang") == "en"), 10
    )
    plan = _physical(out)
    assert plan.count("Scan parquet") <= 2
    assert "REPARTITION_BY_NUM" in plan


def test_prune_frequent_units_no_python_and_pruned_scan(spark):
    """Boilerplate pruning stays JVM-side and reads only (id, text)."""
    from pysparkline.operators import clean

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = clean.prune_frequent_units(docs, "doc_id", "text", delimiter=" ")
    plan = _physical(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # '' = the corpus-size scan reading ZERO columns (count-only) — ideal
    assert schemas and all(
        set(s.split(",")) <= {"doc_id:bigint", "text:string", ""}
        for s in schemas
    )


def test_redact_pii_is_narrow_map(spark):
    """Redaction on a fleet-width input must plan with zero exchanges — a
    pure projection (wide production inputs never pay a shuffle). A narrow
    single-file corpus is the one shape that MAY spread first (round-11:
    six regex passes on one scan split ran single-core), and the spread
    must be the AQE-exempt pinned form."""
    from pysparkline.operators import clean

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _physical(clean.redact_pii(docs, "doc_id", "text"))
    # exactly the one spread exchange, in the AQE-exempt pinned form;
    # the redaction itself stays a projection (no Python, no extra shuffle)
    assert plan.count("Exchange") == 1
    assert "REPARTITION_BY_NUM" in plan
    assert "BatchEvalPython" not in plan


def test_semantic_decontaminate_narrow_corpus_spreads(spark):
    """A single-file corpus must spread across the fleet before the
    broadcast cross join (round-11: corpus-rows x bench-rows cosine folds
    all ran in ONE task — 12.8 s of a 13 s cold). The spread is the
    AQE-exempt pinned form; the bench side stays broadcast and the op
    stays JVM-only."""
    from pyspark.sql import functions as F

    from pysparkline.operators import clean

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _physical(
        clean.semantic_decontaminate(
            emb.where(F.col("vec_id") < 40),
            emb.where(F.col("vec_id") >= 40),
            threshold=0.42,
        )
    )
    assert "REPARTITION_BY_NUM" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_tz_time_format_rejects_cube(ctx):
    """timeFormat with a non-UTC timeZone shifts bucket boundaries — the
    planner must keep it off pre-aggregated (UTC-bucketed) backings; the
    same part without tz (or with UTC) stays cube-servable."""
    from pysparkline import ir

    def spec(tz):
        return ir.GroupByQuery(
            dimensions=[
                ir.TimeFormatDim("l_shipdate", "yr", part="year", tz=tz)
            ],
            aggregations=[ir.CountAgg("n")],
        )

    _, _, dec = ctx.plan(spec("Asia/Tokyo"))
    assert dec.backing != "cube"
    _, _, dec = ctx.plan(spec(None))
    assert dec.backing == "cube"
    _, _, dec = ctx.plan(spec("UTC"))
    assert dec.backing == "cube"


def test_tz_granularity_rejects_cube(ctx):
    """Period granularity with a non-UTC timeZone must stay off UTC-bucketed
    cubes; the plain period form still normalizes and rides them."""
    from pysparkline import ir

    def spec(gran):
        return ir.GroupByQuery(
            dimensions=[],
            granularity=gran,
            aggregations=[ir.CountAgg("n")],
        )

    _, _, dec = ctx.plan(spec({"period": "P1M", "timeZone": "Asia/Tokyo"}))
    assert dec.backing != "cube"
    _, _, dec = ctx.plan(spec({"period": "P1M"}))
    assert dec.backing == "cube"
    _, _, dec = ctx.plan(spec("P1M"))
    assert dec.backing == "cube"


def test_duration_granularity(ctx, spark):
    """Druid duration granularity: epoch-aligned fixed-width buckets.
    A width that's a multiple of the cube grain rides the cube (identical
    answer to row grain); a non-multiple rejects it."""
    from pysparkline import ir, lowering
    from pysparkline.events_index import build_or_load_events_index
    from pysparkline.lowering import Backing
    from pysparkline.session import OlapContext
    from pysparkline.tpch import read_events

    assert lowering.gran_coarser_or_equal("duration:172800s", "day")
    assert not lowering.gran_coarser_or_equal("duration:900s", "day")
    assert lowering.gran_coarser_or_equal("duration:900s", "minute")
    assert not lowering.gran_coarser_or_equal("duration:604800s", "week")

    ectx = OlapContext(spark, build_or_load_events_index(spark, SF))
    spec = ir.GroupByQuery(
        dimensions=[],
        granularity={"duration": 172_800_000},  # P2D: 2x the day cube grain
        time_output_name="b",
        aggregations=[ir.CountAgg("n")],
    )
    planned, backing, dec = ectx.plan(spec)
    assert dec.backing == "cube", dec
    got = {str(r.b): r.n for r in ectx.query(spec).collect()}
    ev = read_events(spark, SF)
    want = {
        str(r.b): r.n
        for r in lowering.lower(planned, Backing.base(ev, "ts")).collect()
    }
    assert got == want and len(got) > 10


def test_duration_cube_granularity(spark, tmp_path):
    """A cube bucketed at a duration width (15-minute) serves hour/30-min/
    calendar queries (boundaries align) and rejects minute queries."""
    from pysparkline import ir, lowering
    from pysparkline.events_index import events_star
    from pysparkline.index import CubeSpec, IndexConfig, MetricSpec, OlapIndex
    from pysparkline.lowering import Backing
    from pysparkline.session import OlapContext
    from pysparkline.tpch import read_events

    ev = read_events(spark, SF)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("value", "value", "sum")],
        cubes=[CubeSpec("q15", ("event_type",), "duration:900s")],
    )
    idx = OlapIndex.build(spark, ev, cfg, str(tmp_path / "idx"), star=events_star())
    ctx = OlapContext(spark, idx)

    def spec(gran):
        return ir.GroupByQuery(
            dimensions=[], granularity=gran, time_output_name="b",
            aggregations=[ir.CountAgg("n")],
        )

    for gran, want_cube in [
        ("hour", True), ({"duration": 1_800_000}, True), ("month", True),
        ("minute", False), ({"duration": 600_000}, False),
    ]:
        planned, backing, dec = ctx.plan(spec(gran))
        assert (dec.backing == "cube") == want_cube, (gran, dec)

    # answers from the duration cube match row-grain evaluation
    for gran in ["hour", {"duration": 1_800_000}, "month"]:
        planned, _, dec = ctx.plan(spec(gran))
        assert dec.backing == "cube"
        got = {str(r.b): r.n for r in ctx.query(spec(gran)).collect()}
        want = {
            str(r.b): r.n
            for r in lowering.lower(planned, Backing.base(ev, "ts")).collect()
        }
        assert got == want and got

    # interval alignment against the width
    assert lowering.interval_aligned(
        ir.Interval("2024-01-10T00:15:00", "2024-01-11"), "duration:900s"
    )
    assert not lowering.interval_aligned(
        ir.Interval("2024-01-10T00:10:00", "2024-01-11"), "duration:900s"
    )


def test_duration_origin(spark, ctx):
    """Duration granularity with an origin: buckets anchor at the origin
    timestamp; off-grid origins reject cubes, on-grid ones still ride."""
    from pysparkline import ir, lowering
    from pysparkline.events_index import build_or_load_events_index
    from pysparkline.lowering import Backing
    from pysparkline.session import OlapContext
    from pysparkline.tpch import read_events

    ectx = OlapContext(spark, build_or_load_events_index(spark, SF))

    def spec(origin):
        return ir.GroupByQuery(
            dimensions=[],
            granularity={"duration": 172_800_000, "origin": origin},
            time_output_name="b",
            aggregations=[ir.CountAgg("n")],
        )

    # off-grid origin (2024-01-03 = odd day count since epoch, not a
    # multiple of 2 days): row grain
    planned, _, dec = ectx.plan(spec("2024-01-03T00:00:00"))
    assert dec.backing != "cube", dec
    got = {str(r.b): r.n for r in ectx.query(spec("2024-01-03T00:00:00")).collect()}
    ev = read_events(spark, SF)
    want = {
        str(r.b): r.n
        for r in lowering.lower(planned, Backing.base(ev, "ts")).collect()
    }
    assert got == want and got
    # buckets genuinely anchor at the origin (Jan 3 starts a bucket)
    assert "2024-01-03 00:00:00" in got
    # epoch-grid origin (2024-01-02 = even day count): cube still serves,
    # buckets identical to the no-origin grid
    planned, _, dec = ectx.plan(spec("2024-01-02T00:00:00"))
    assert dec.backing == "cube", dec


def test_period_origin(spark, ctx):
    """PeriodGranularity with an origin: fixed-width periods canonicalize to
    the duration form so buckets genuinely anchor at the origin (Druid
    PeriodGranularity origin semantics); variable-width periods reject."""
    from pysparkline import ir, transforms
    from pysparkline.events_index import build_or_load_events_index
    from pysparkline.session import OlapContext

    ectx = OlapContext(spark, build_or_load_events_index(spark, SF))

    def spec(gran):
        return ir.GroupByQuery(
            dimensions=[],
            granularity=gran,
            time_output_name="b",
            aggregations=[ir.CountAgg("n")],
        )

    q = transforms.normalize_granularity(
        spec({"period": "P2D", "origin": "2024-01-03T00:00:00"})
    )
    assert q.granularity == "duration:172800s"
    assert q.granularity_origin == "2024-01-03T00:00:00"
    # period+origin buckets match the equivalent duration+origin query
    got = {
        str(r.b): r.n
        for r in ectx.query(
            spec({"period": "P2D", "origin": "2024-01-03T00:00:00"})
        ).collect()
    }
    want = {
        str(r.b): r.n
        for r in ectx.query(
            spec({"duration": 172_800_000, "origin": "2024-01-03T00:00:00"})
        ).collect()
    }
    assert got == want and "2024-01-03 00:00:00" in got
    # a variable-width period cannot anchor at an origin
    with pytest.raises(ValueError, match="fixed-width"):
        transforms.normalize_granularity(
            spec({"period": "P1M", "origin": "2024-01-03T00:00:00"})
        )


def test_window_post_single_scan_above_aggregate(ctx):
    """Window-over-aggregate must not re-scan or re-shuffle the input: ONE
    backing scan, the Window exec sitting above the final HashAggregate,
    and no Python in the plan. (The window input is the bounded aggregate
    output — re-deriving it from the scan would double the heavy work.)"""
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag")],
        aggregations=[ir.CountAgg("n")],
        window_posts=[
            ir.WindowPostSpec("share_n", "sum", "`n`", [], []),
            ir.WindowPostSpec(
                "rk", "rank", None, [],
                [ir.OrderByColumn("`n`", "desc")],
            ),
        ],
        output_order=["l_returnflag", "n", "share_n", "rk"],
    )
    spec2, backing, decision = ctx.plan(spec)
    from pysparkline import lowering

    plan = _physical(lowering.lower(spec2, backing))
    assert plan.count("Scan parquet") == 1
    assert "Window" in plan
    # Window evaluates above the (final) aggregate, not under it
    assert plan.index("Window") < plan.index("HashAggregate")
    assert "BatchEvalPython" not in plan


def test_distinct_window_decimal_accumulator(spark):
    """sum/avg DISTINCT windows over DECIMAL arguments fold with a
    decimal(38,s) accumulator (round 6 — previously a hard raise): the
    same widening Spark's own sum(decimal) performs, verified against
    DuckDB on a corpus with duplicates and a NULL."""
    from decimal import Decimal

    import duckdb
    import pandas as pd

    from pysparkline import ir
    from pysparkline.lowering import _apply_window_posts

    rows = [
        (i, "ab"[i % 2], Decimal(f"{(i % 5) * 7}.2{i % 3}"))
        for i in range(20)
    ] + [(20, "a", None)]
    df = spark.createDataFrame(rows, "i int, p string, v decimal(12,2)")
    got = _apply_window_posts(
        df,
        [
            ir.WindowPostSpec("sd", "sum_distinct", "v", ["p"], []),
            ir.WindowPostSpec("ad", "avg_distinct", "v", ["p"], []),
        ],
    ).orderBy("i").toPandas()
    assert dict(df.dtypes)["v"] == "decimal(12,2)"
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["i", "p", "v"]))
    exp = con.execute(
        "SELECT i, sum(DISTINCT v) OVER (PARTITION BY p) AS sd,"
        " avg(DISTINCT v) OVER (PARTITION BY p) AS ad FROM t ORDER BY i"
    ).df()
    m = got.merge(exp, on="i", suffixes=("_s", "_d"))
    assert (m.sd_s.astype(float) - m.sd_d.astype(float)).abs().max() < 1e-9
    assert (m.ad_s.astype(float) - m.ad_d.astype(float)).abs().max() < 1e-9


def test_exclude_peers_use_raw_key_not_surrogate(spark):
    """EXCLUDE GROUP peers over an INTERVAL RANGE frame partition on the
    RAW order key: two timestamps in the same second but different
    sub-second instants are DIFFERENT peer groups (round-6 review: the
    rangeBetween(0,0) peers window over the epoch-seconds surrogate
    collapsed them)."""
    import datetime

    import duckdb
    import pandas as pd

    from pysparkline import ir
    from pysparkline.lowering import _apply_window_posts

    rows = [
        (0, datetime.datetime(2024, 1, 1, 12, 0, 0, 100000), 10),
        (1, datetime.datetime(2024, 1, 1, 12, 0, 0, 900000), 20),
        (2, datetime.datetime(2024, 1, 2, 12, 0, 0, 100000), 40),
    ]
    tdf = spark.createDataFrame(rows, "i int, ts timestamp, v int")
    w = ir.WindowPostSpec(
        "sg", "sum", "v", [], [ir.OrderByColumn("ts", "asc")],
        frame=[-1, 1], frame_type="range", range_unit="day",
        exclude="GROUP",
    )
    got = {
        r.i: r.sg
        for r in _apply_window_posts(tdf, [w]).collect()
    }
    con = duckdb.connect()
    con.register("tt", pd.DataFrame(rows, columns=["i", "ts", "v"]))
    exp = {
        r[0]: r[1]
        for r in con.execute(
            "SELECT i, sum(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL 1 DAY"
            " PRECEDING AND INTERVAL 1 DAY FOLLOWING EXCLUDE GROUP) FROM tt"
        ).fetchall()
    }
    assert got == exp
    # the discriminating rows: each same-second neighbor must stay IN the
    # other's frame (they are not peers)
    assert got[0] == 20 + 40 and got[1] == 10 + 40


def test_groups_window_frame_self_oracle(spark):
    """GROUPS window frames (round 11 stretch — IR-level engine surface:
    Spark has no GROUPS mode and DuckDB cannot parse one, so the oracle
    is an in-test reference implementation of the ANSI semantics). The
    lowering materializes the peer-group index (dense_rank over the full
    ORDER BY tuple) and reuses numeric RANGE over it: N PRECEDING = N
    peer GROUPS back, ties always whole-group in or out."""
    from pysparkline import ir
    from pysparkline.lowering import _apply_window_posts

    rows = [
        # (i, p, k, v): k carries ties -> real peer groups per partition
        (0, "a", 1, 10), (1, "a", 1, 11), (2, "a", 2, 20),
        (3, "a", 4, 40), (4, "a", 4, 41), (5, "a", 4, 42),
        (6, "a", 9, 90),
        (7, "b", 5, 50), (8, "b", 7, 70), (9, "b", 7, 71),
    ]
    df = spark.createDataFrame(rows, "i int, p string, k int, v int")

    def reference(lo, hi):
        """ANSI GROUPS frame computed directly: peer groups = distinct k
        per partition in ORDER BY order; the frame of a row in group g is
        every row whose group index is in [g+lo, g+hi]."""
        exp = {}
        for part in {p for _i, p, _k, _v in rows}:
            ks = sorted({k for _i, p2, k, _v in rows if p2 == part})
            gidx = {k: n for n, k in enumerate(ks)}
            for i, p2, k, _v in rows:
                if p2 != part:
                    continue
                g = gidx[k]
                a = g + lo if lo is not None else None
                b = g + hi if hi is not None else None
                vals = [
                    v2
                    for _i2, p3, k2, v2 in rows
                    if p3 == part
                    and (a is None or gidx[k2] >= a)
                    and (b is None or gidx[k2] <= b)
                ]
                # ANSI: an aggregate over an EMPTY frame is NULL, not 0
                exp[i] = sum(vals) if vals else None
        return exp

    for lo, hi in [(-1, 0), (-1, 1), (0, 1), (None, 0), (-2, -1)]:
        w = ir.WindowPostSpec(
            "s", "sum", "v", ["p"], [ir.OrderByColumn("k", "asc")],
            frame=[lo, hi], frame_type="groups",
        )
        out = _apply_window_posts(df, [w])
        assert "__grp_s" not in out.columns  # surrogate dropped
        got = {r.i: r.s for r in out.collect()}
        assert got == reference(lo, hi), (lo, hi, got)


def test_groups_window_frame_declines(spark):
    """GROUPS shapes outside the gated surface decline loudly: no ORDER
    BY, non-aggregate function, EXCLUDE."""
    import pytest as _pytest

    from pysparkline import ir
    from pysparkline.lowering import AggLoweringError, _apply_window_posts

    df = spark.createDataFrame([(1, "a", 1, 1)], "i int, p string, k int, v int")
    bad = [
        ir.WindowPostSpec("s", "sum", "v", ["p"], [],
                          frame=[-1, 0], frame_type="groups"),
        ir.WindowPostSpec("s", "first_value", "v", ["p"],
                          [ir.OrderByColumn("k", "asc")],
                          frame=[-1, 0], frame_type="groups"),
        ir.WindowPostSpec("s", "sum", "v", ["p"],
                          [ir.OrderByColumn("k", "asc")],
                          frame=[-1, 0], frame_type="groups",
                          exclude="CURRENT_ROW"),
    ]
    for w in bad:
        with _pytest.raises(AggLoweringError):
            _apply_window_posts(df, [w])


def test_topk_window_group_limit_partial_below_exchange(spark):
    """VERDICT r7 #6: the embed/brute-force top-k family depends on Spark
    inserting WindowGroupLimit (Partial) BELOW the shuffle — per-partition
    top-k heaps before the exchange, so the rank-filter window shuffles
    partitions x queries x k rows, never corpus x queries. The rule only
    fires on the rank-filter-above-window adjacency; a refactor separating
    the filter from the window would silently revert to full shuffles.
    This pins the shape for all three operators."""
    from pyspark.sql import functions as F

    from pysparkline.operators import embed, similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def _assert_partial_below_exchange(df, name):
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        exch = [
            i for i, ln in enumerate(lines)
            if "Exchange hashpartitioning(query_id" in ln
        ]
        assert exch, f"{name}: no query_id hash exchange in plan\n{plan}"
        partial = [
            i for i, ln in enumerate(lines)
            if "WindowGroupLimit" in ln and "Partial" in ln
        ]
        # deeper in the tree = printed later: Partial must sit BELOW (after)
        # the first query_id exchange
        assert partial and max(partial) > exch[0], (
            f"{name}: WindowGroupLimit Partial not below the exchange —"
            f" per-partition top-k lost, shuffle is corpus-sized\n{plan}"
        )

    _assert_partial_below_exchange(
        similarity.brute_force_cosine_topk(emb, q, k=5), "brute_force"
    )
    _assert_partial_below_exchange(
        embed.hamming_topk(emb, q, k=5), "hamming_topk"
    )
    _assert_partial_below_exchange(
        embed.matryoshka_funnel_topk(emb, q, k=5, dim=4),
        "matryoshka_funnel_topk",
    )


def test_lang_id_fold_evaluated_once(spark):
    """The per-row argmax fold (an interpreted higher-order aggregate over
    the stopword masks) must be materialized in its own projection and
    referenced — not inlined into each of the three output expressions,
    which re-evaluated the whole 5-language scoring chain 3x per row
    (round-11 optimization: 0.34 -> 0.10 s warm at bench SF)."""
    from pysparkline.operators import text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _physical(text.lang_id(docs, "doc_id", "text"))
    assert plan.count("aggregate(") == 1
    # standalone mode spreads the single-file corpus across the fleet
    assert "Exchange" in plan


def test_lang_id_append_mode_stays_shuffle_free(spark):
    """append=True composes into fused single-scan pipelines
    (curate_corpus) and must not inject the standalone repartition."""
    from pysparkline.operators import text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _physical(text.lang_id(docs, "doc_id", "text", append=True))
    assert "Exchange" not in plan
    assert plan.count("aggregate(") == 1


def test_text_stats_single_regex_pass(spark):
    """Digit/space counts lower to translate() (one linear pass each);
    only the punctuation class still needs the regex engine."""
    from pysparkline.operators import text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _physical(text.text_stats(docs, "doc_id", "text"))
    assert plan.count("regexp_replace") == 1
    assert plan.count("translate") == 2


def test_lsh_candidate_stages_pinned_at_fleet_width(spark):
    """The band window and candidate dedup exchanges must be user-pinned
    (REPARTITION_BY_NUM): AQE's byte-based coalescing otherwise runs the
    byte-tiny but CPU-dense join+dedup+est chain as ONE task (round-11
    optimization: minhash_pairs 0.83 -> 0.16 s warm at bench SF)."""
    from pysparkline.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    plan = _physical(out)
    assert plan.count("REPARTITION_BY_NUM") >= 2


def test_pinned_shuffle_skips_already_partitioned_input(spark):
    """pinned_shuffle over an input already hash-partitioned on the same
    keys at the configured width plans no second exchange — Spark's
    CollapseRepartition merges a pin directly over a repartition, and
    EnsureRequirements drops one behind a projection — while narrow,
    differently-keyed and under-width inputs end at exactly one pin of
    the configured width."""
    from pyspark.sql import functions as F

    from pysparkline.operators.util import pinned_shuffle

    def exchanges(d) -> list[str]:
        return [
            ln for ln in _physical(d).splitlines() if "Exchange " in ln
        ]

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.range(0, 1000).withColumn("user_id", F.col("id") % 50)
    pre = df.repartition(n, "user_id")
    proj = pre.withColumn("x", F.col("id") * 2)
    for out in (
        pinned_shuffle(pre, "user_id"),
        # a superset of the keys directly above the repartition collapses
        pinned_shuffle(pre, "user_id", "id"),
        # a projection in between: the child's partitioning still matches
        pinned_shuffle(proj, "user_id"),
    ):
        assert len(exchanges(out)) == 1, _physical(out)
    # narrow / differently-keyed / under-width inputs: one pin at width n
    under = df.repartition(max(1, n - 1), "user_id")
    for inp in (df, df.repartition(n, "id"), under):
        (ex,) = exchanges(pinned_shuffle(inp, "user_id"))
        assert "REPARTITION_BY_NUM" in ex
        assert re.search(rf"hashpartitioning\(user_id#\d+L?, {n}\)", ex), ex


def test_pinned_shuffle_survives_aqe_over_coalesced_join(spark):
    """A pin over a sort-merge join's byte-tiny output keeps its width in
    the FINAL adaptive plan while AQE coalesces the join's own exchanges
    around it (the LSH candidate-pair shape: join on the band key, pin on
    the pair ids) — AQE never coalesces a REPARTITION_BY_NUM exchange."""
    from pyspark.sql import functions as F

    from pysparkline.operators.util import pinned_shuffle

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 2000).withColumn("k", F.col("id") % 100)
        b = spark.range(0, 2000).select(
            (F.col("id") % 100).alias("k2"), F.col("id").alias("v")
        )
        pairs = a.join(b, a.k == b.k2).select("id", "v")
        # candidate-pair dedup: the aggregate reuses the pin's partitioning
        out = (
            pinned_shuffle(pairs, "id", "v").groupBy("id", "v").count()
            .where(F.col("count") > 1)
        )
        assert out.collect() == []
        plan = _physical(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final and "SortMergeJoin" in final
    # the join's input exchanges were coalesced: AQE was free to act here
    assert "AQEShuffleRead coalesced" in final
    pin = [ln for ln in final.splitlines() if "REPARTITION_BY_NUM" in ln]
    assert len(pin) == 1, final
    assert f", {n}), REPARTITION_BY_NUM" in pin[0], pin
    # the aggregate reads the pinned stage directly, not coalesced
    above = final[: final.index(pin[0])]
    assert "AQEShuffleRead" not in above and "Exchange" not in above, final


def test_event_window_over_prepartitioned_input_adds_no_exchange(spark):
    """An events frame already hash-partitioned on user_id at fleet width
    must sessionize with ZERO additional exchanges — the operator's pin
    recognizes the satisfied distribution instead of forcing a second
    shuffle (the bucketed-ingest shape at production scale)."""
    from pysparkline.operators import events as ev_ops

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).repartition(n, "user_id")
    plan = _physical(ev_ops.session_stats(ev))
    # exactly the caller's exchange: the window and the downstream
    # aggregate both reuse it
    assert plan.count("REPARTITION_BY_NUM") == 1
    assert plan.count("ENSURE_REQUIREMENTS") == 0


def test_event_window_shuffle_pinned_and_single_exchange(spark):
    """sessionize/running_totals pin their user_id shuffle at fleet width
    (events rows are byte-tiny, so AQE would coalesce the window stage to
    1-2 tasks) — and the pin must REPLACE the window's ENSURE_REQUIREMENTS
    exchange, not add a second one; the downstream per-(user, session)
    aggregate must also reuse the same partitioning (exactly one Exchange
    in the whole session_stats plan)."""
    from pysparkline.operators import events as ev_ops

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    for out in (ev_ops.session_stats(ev), ev_ops.running_totals(ev)):
        plan = _physical(out)
        assert plan.count("REPARTITION_BY_NUM") == 1
        assert plan.count("ENSURE_REQUIREMENTS") == 0
