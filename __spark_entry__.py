"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs through the pysparkline engine (QuerySpec IR ->
planner -> cube/flat backing -> DataFrame), and ``oracle_sql()`` holds the
ANSI-SQL equivalent DuckDB runs on the raw parquet star. Numeric columns are
computed in decimal arithmetic on both sides and cast to DOUBLE at the end so
values are bit-identical regardless of engine/accumulation order.

Query inventory maps to SURVEY.md §2: GroupBy/Timeseries/TopN/Search/Select
shapes, the filter algebra, granular time bucketing and extraction, merge-form
aggregates (count / sum / min / max / avg decomposition / filtered aggregates /
exact + HLL count-distinct), grouping sets / rollup / cube, having, sort/limit,
star-join elimination (TPC-H Q1/Q3/Q5/Q7/Q8/Q10 analogs), plus the
LLM-pipeline operators (dedup / similarity / text analysis) on documents and
embeddings.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pysparkline import OlapContext, ir, tpch
from pysparkline.session import prep

# ---------------------------------------------------------------------------
# shared context (index built once per sf_dir, cached on disk)
# ---------------------------------------------------------------------------

_CTX: dict[str, OlapContext] = {}


def _ctx(spark: SparkSession, sf_dir: str) -> OlapContext:
    key = os.path.abspath(sf_dir)
    c = _CTX.get(key)
    if c is None or c.spark is not spark:
        prep(spark)
        idx = tpch.build_or_load_index(spark, sf_dir)
        # split size follows the byte-floored layout: few big files must
        # still feed every core (OlapIndex.tune_read_parallelism doc);
        # no-op at production sizes (clamps to the Spark default)
        idx.tune_read_parallelism()
        c = OlapContext(spark, idx, fds=tpch.tpch_fds())
        _CTX[key] = c
    return c


def _dbl(*names: str) -> list[ir.ArithmeticPostAgg]:
    """Cast final decimal aggregates to DOUBLE (exact value, engine-neutral)."""
    return [ir.ArithmeticPostAgg(n, f"CAST(`{n}` AS DOUBLE)") for n in names]


# shared measure expressions (valid in both Spark SQL and DuckDB)
QTY = tpch.QTY
PRICE = tpch.PRICE
DISC = tpch.DISC
REV = tpch.DISC_PRICE
CHARGE = tpch.CHARGE
ONE_MINUS_DISC = tpch.ONE_MINUS_DISC
TOTALPRICE = tpch.TOTALPRICE

# DuckDB-side flattened star (mirrors pysparkline.tpch.load_star_tables +
# flatten_star: inner joins, renamed nation/region copies, derived order_year)
FLAT_CTE = """WITH flat AS (
  SELECT l.*, o.*, c.*, s.*, p.*,
         cn.n_name AS c_nation, cr.r_name AS c_region,
         sn.n_name AS s_nation, sr.r_name AS s_region,
         CAST(year(o.o_orderdate) AS INTEGER) AS order_year
  FROM lineitem l
  JOIN orders o    ON l.l_orderkey = o.o_orderkey
  JOIN customer c  ON o.o_custkey = c.c_custkey
  JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
  JOIN region cr   ON cn.n_regionkey = cr.r_regionkey
  JOIN supplier s  ON l.l_suppkey = s.s_suppkey
  JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
  JOIN region sr   ON sn.n_regionkey = sr.r_regionkey
  JOIN part p      ON l.l_partkey = p.p_partkey
)
"""

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}

# compiled-DataFrame memo: repeated invocations of the same query reuse the
# analyzed/optimized plan (execution still runs per collect) — Catalyst
# analysis of a freshly built plan costs ~0.3-0.5 s of pure driver latency,
# which would otherwise dominate sub-second queries in bench loops.
# BOUNDED (VERDICT r8 #4 nit): keyed by (name, session, sf_dir), so a
# long-lived process cycling sf_dirs/sessions would otherwise grow it
# without limit; LRU-evict past _DF_CACHE_MAX (dict preserves insertion
# order — move-to-end on hit makes the front the least recent).
_DF_CACHE: dict[tuple, DataFrame] = {}
_DF_CACHE_MAX = 4 * 200  # ~4 (sf_dir, session) contexts x registry size


def _register(name: str, oracle: str | None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            key = (name, spark, os.path.abspath(sf_dir))
            df = _DF_CACHE.pop(key, None)
            if df is None:
                df = fn(spark, sf_dir)
                while len(_DF_CACHE) >= _DF_CACHE_MAX:
                    _DF_CACHE.pop(next(iter(_DF_CACHE)))
            _DF_CACHE[key] = df
            return df

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# 1. TPC-H Q1 — the flagship (GroupBy + interval + full aggregate family)
# ---------------------------------------------------------------------------


def _q1_spec() -> ir.GroupByQuery:
    return ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag"), ir.DefaultDim("l_linestatus")],
        intervals=[ir.Interval(None, "1998-09-01")],
        aggregations=[
            ir.ExprAgg("sum", "sum_qty", QTY),
            ir.ExprAgg("sum", "sum_base_price", PRICE),
            ir.ExprAgg("sum", "sum_disc_price", REV),
            ir.ExprAgg("sum", "sum_charge", CHARGE),
            ir.ExprAgg("sum", "sum_disc", DISC),
            ir.CountAgg("count_order"),
        ],
        post_aggregations=[
            *_dbl("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
                  "sum_disc"),
            ir.ArithmeticPostAgg("avg_qty", "sum_qty / count_order"),
            ir.ArithmeticPostAgg("avg_price", "sum_base_price / count_order"),
            ir.ArithmeticPostAgg("avg_disc", "sum_disc / count_order"),
        ],
        limit_spec=ir.LimitSpec(
            [ir.OrderByColumn("l_returnflag"), ir.OrderByColumn("l_linestatus")]
        ),
    )


@_register(
    "q1",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({QTY}) AS DOUBLE)   AS sum_qty,
       CAST(SUM({PRICE}) AS DOUBLE) AS sum_base_price,
       CAST(SUM({REV}) AS DOUBLE)   AS sum_disc_price,
       CAST(SUM({CHARGE}) AS DOUBLE) AS sum_charge,
       CAST(SUM({DISC}) AS DOUBLE)  AS sum_disc,
       COUNT(*) AS count_order,
       CAST(SUM({QTY}) AS DOUBLE) / COUNT(*)   AS avg_qty,
       CAST(SUM({PRICE}) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM({DISC}) AS DOUBLE) / COUNT(*)  AS avg_disc
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ctx(spark, sf_dir).query(_q1_spec())


@_register(
    "q1_month",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
       CAST(SUM({QTY}) AS DOUBLE) AS sum_qty,
       CAST(SUM({REV}) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
""",
)
def q1_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag"), ir.DefaultDim("l_linestatus")],
        granularity="month",
        time_output_name="ship_month",
        intervals=[ir.Interval("1996-01-01", "1998-01-01")],
        aggregations=[
            ir.ExprAgg("sum", "sum_qty", QTY),
            ir.ExprAgg("sum", "sum_disc_price", REV),
            ir.CountAgg("count_order"),
        ],
        post_aggregations=_dbl("sum_qty", "sum_disc_price"),
    )
    return _ctx(spark, sf_dir).query(spec)


# ---------------------------------------------------------------------------
# 2. Timeseries shapes (Basic Agg / ShipDateRange baseline queries)
# ---------------------------------------------------------------------------


@_register(
    "basic_agg",
    f"""
SELECT COUNT(*) AS cnt,
       CAST(SUM({QTY}) AS DOUBLE) AS sum_qty,
       CAST(SUM({REV}) AS DOUBLE) AS sum_disc_price
FROM lineitem
""",
)
def basic_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.TimeseriesQuery(
        granularity="all",
        aggregations=[
            ir.CountAgg("cnt"),
            ir.ExprAgg("sum", "sum_qty", QTY),
            ir.ExprAgg("sum", "sum_disc_price", REV),
        ],
        post_aggregations=_dbl("sum_qty", "sum_disc_price"),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "ship_date_range",
    f"""
SELECT COUNT(*) AS cnt, CAST(SUM({REV}) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def ship_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.TimeseriesQuery(
        granularity="all",
        intervals=[ir.Interval("1996-01-01", "1996-04-01")],
        aggregations=[ir.CountAgg("cnt"), ir.ExprAgg("sum", "revenue", REV)],
        post_aggregations=_dbl("revenue"),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "monthly_revenue",
    f"""
SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
       COUNT(*) AS cnt, CAST(SUM({REV}) AS DOUBLE) AS revenue
FROM lineitem GROUP BY 1
""",
)
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.TimeseriesQuery(
        granularity="month",
        time_output_name="ship_month",
        aggregations=[ir.CountAgg("cnt"), ir.ExprAgg("sum", "revenue", REV)],
        post_aggregations=_dbl("revenue"),
    )
    return _ctx(spark, sf_dir).query(spec)


# ---------------------------------------------------------------------------
# 3. Filter algebra
# ---------------------------------------------------------------------------


@_register(
    "dim_filters",
    FLAT_CTE
    + f"""
SELECT c_nation, COUNT(*) AS cnt, CAST(SUM({REV}) AS DOUBLE) AS revenue
FROM flat
WHERE c_region IN ('AMERICA', 'ASIA')
  AND o_orderpriority = '1-URGENT'
  AND NOT (o_orderstatus = 'P')
GROUP BY c_nation
""",
)
def dim_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("c_nation")],
        filter=ir.and_(
            ir.InFilter("c_region", ["AMERICA", "ASIA"]),
            ir.SelectorFilter("o_orderpriority", "1-URGENT"),
            ir.NotFilter(ir.SelectorFilter("o_orderstatus", "P")),
        ),
        aggregations=[ir.CountAgg("cnt"), ir.ExprAgg("sum", "revenue", REV)],
        post_aggregations=_dbl("revenue"),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "range_filters",
    f"""
SELECT l_returnflag, COUNT(*) AS cnt, CAST(SUM({QTY}) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_quantity >= 10 AND l_quantity <= 30 AND l_discount < 0.05
GROUP BY l_returnflag
""",
)
def range_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag")],
        filter=ir.and_(
            ir.BoundFilter("l_quantity", 10, 30),
            ir.BoundFilter("l_discount", None, 0.05, upper_strict=True),
        ),
        aggregations=[ir.CountAgg("cnt"), ir.ExprAgg("sum", "sum_qty", QTY)],
        post_aggregations=_dbl("sum_qty"),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "in_null_not_filters",
    FLAT_CTE
    + f"""
SELECT o_orderstatus, COUNT(*) AS cnt
FROM flat
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
  AND c_region NOT IN ('EUROPE')
  AND c_nation IS NOT NULL
GROUP BY o_orderstatus
""",
)
def in_null_not_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("o_orderstatus")],
        filter=ir.and_(
            ir.InFilter("c_mktsegment", ["BUILDING", "MACHINERY", "AUTOMOBILE"]),
            ir.NotFilter(ir.InFilter("c_region", ["EUROPE"])),
            ir.NullFilter("c_nation", is_null=False),
        ),
        aggregations=[ir.CountAgg("cnt")],
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "contains_regex_filters",
    FLAT_CTE
    + f"""
SELECT p_brand, COUNT(*) AS cnt
FROM flat
WHERE contains(lower(p_type), 'prom') AND regexp_matches(p_brand, '^Brand#1[0-9]$')
GROUP BY p_brand
""",
)
def contains_regex_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("p_brand")],
        filter=ir.and_(
            ir.ContainsFilter("p_type", "prom", case_sensitive=False),
            ir.RegexFilter("p_brand", "^Brand#1[0-9]$"),
        ),
        aggregations=[ir.CountAgg("cnt")],
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "filtered_agg",
    f"""
SELECT COUNT(*) AS cnt,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN {REV} END) AS DOUBLE) AS returned_rev
FROM lineitem
""",
)
def filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.TimeseriesQuery(
        granularity="all",
        aggregations=[
            ir.CountAgg("cnt"),
            ir.FilteredAgg(
                "returned_rev",
                ir.SelectorFilter("l_returnflag", "R"),
                ir.ExprAgg("sum", "returned_rev", REV),
            ),
        ],
        post_aggregations=_dbl("returned_rev"),
    )
    return _ctx(spark, sf_dir).query(spec)


# ---------------------------------------------------------------------------
# 4. TopN / Search / Select / Having / sort-limit
# ---------------------------------------------------------------------------


@_register(
    "topn_brand",
    FLAT_CTE
    + f"""
SELECT p_brand, CAST(SUM({REV}) AS DOUBLE) AS revenue
FROM flat GROUP BY p_brand
ORDER BY revenue DESC, p_brand LIMIT 5
""",
)
def topn_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("p_brand")],
        aggregations=[ir.ExprAgg("sum", "revenue", REV)],
        post_aggregations=_dbl("revenue"),
        limit_spec=ir.LimitSpec([ir.OrderByColumn("revenue", "desc")], 5),
    )
    return _ctx(spark, sf_dir).query(spec)  # transforms rewrite this to TopN


@_register(
    "approx_topn_supplier",
    FLAT_CTE
    + """
SELECT s_name, count(*) AS cnt
FROM flat GROUP BY s_name
ORDER BY cnt DESC, s_name LIMIT 10
""",
)
def approx_topn_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid's APPROXIMATE TopN semantics, which the reference gated behind
    allowTopN (DruidPlanner.scala:149-159): per-cube-cell top-m weight maps
    (index.TopKSpec) merge by explode+sum, ranked by the estimate. s_name
    is outside every cube's grain — the sketch is what makes the query
    cube-servable at all. The fixture m (1024) exceeds per-cell supplier
    NDV at every test SF, so no cell overflows and the merge is provably
    exact (bounds all zero, asserted in tests/test_topk_sketch.py) —
    the DuckDB exact top-10 is therefore a true oracle, like theta's
    exact-while-small contract."""
    ctx = _ctx(spark, sf_dir)
    spec = ir.TopNQuery(
        dimension=ir.DefaultDim("s_name"),
        metric="cnt",
        threshold=10,
        aggregations=[ir.CountAgg("cnt")],
        approx=True,
    )
    out = ctx.query(spec)
    assert ctx.query_history[-1].backing == "cube", ctx.query_history[-1].decision
    return out


_TOPN_SUPPLIERS = [f"Supplier#{i:09d}" for i in range(8)]


@_register(
    "approx_topn_filtered",
    FLAT_CTE
    + f"""
SELECT s_name, count(*) AS cnt
FROM flat
WHERE l_returnflag = 'R'
  AND s_name IN ({", ".join(repr(s) for s in _TOPN_SUPPLIERS)})
GROUP BY s_name
ORDER BY cnt DESC, s_name LIMIT 5
""",
)
def approx_topn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED approximate TopN (round-7 widening of r6's
    approx_topn_supplier): a selector on a cube-grain dim selects CELLS
    before the merge, and an IN on the SKETCHED dim itself post-filters
    the exploded map — exact w.r.t. the sketch
    (lowering.split_sketch_filter; previously any filter on the sketched
    dim declined to the exact path). Same exact-regime contract as the
    unfiltered row: fixture m (1024) exceeds per-cell supplier NDV at
    every test SF, so bounds are all zero and DuckDB's exact filtered
    top-5 is a true oracle (bound equality asserted in
    tests/test_topk_sketch.py)."""
    ctx = _ctx(spark, sf_dir)
    spec = ir.TopNQuery(
        dimension=ir.DefaultDim("s_name"),
        metric="cnt",
        threshold=5,
        aggregations=[ir.CountAgg("cnt")],
        filter=ir.and_(
            ir.SelectorFilter("l_returnflag", "R"),
            ir.InFilter("s_name", list(_TOPN_SUPPLIERS)),
        ),
        approx=True,
    )
    out = ctx.query(spec)
    assert ctx.query_history[-1].backing == "cube", ctx.query_history[-1].decision
    return out


@_register(
    "search_ptype",
    FLAT_CTE
    + """
SELECT DISTINCT 'p_type' AS dimension, p_type AS value
FROM flat WHERE contains(lower(p_type), 'o')
ORDER BY dimension, value LIMIT 20
""",
)
def search_ptype(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.SearchQuery(dimensions=["p_type"], value="o", limit=20)
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "search_strlen",
    FLAT_CTE
    + """
SELECT dimension, value FROM (
  SELECT DISTINCT 'p_type' AS dimension, p_type AS value
  FROM flat WHERE contains(lower(p_type), 'm')
)
ORDER BY dimension, length(value), value LIMIT 2
""",
)
def search_strlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SearchQuery with the strlen sort spec (DruidQuerySpec.scala:870-975
    SearchSortSpec): shortest matching values first, lexicographic
    tie-break — observable through the LIMIT cut (PROMO/MEDIUM beat the
    lexicographically-first ECONOMY)."""
    spec = ir.SearchQuery(
        dimensions=["p_type"], value="m", limit=2, sort="strlen"
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "select_pushdown",
    FLAT_CTE
    + """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
FROM flat
WHERE l_returnflag = 'A'
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate LIMIT 100
""",
)
def select_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORDER BY covers every selected column: the synthetic lineitem has
    # duplicate (orderkey, linenumber) pairs, so a 2-column sort + LIMIT is
    # tie-broken differently per engine and the driver's ordered hash flips
    spec = ir.SelectQuery(
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"],
        filter=ir.SelectorFilter("l_returnflag", "A"),
        intervals=[ir.Interval("1996-01-01", "1997-01-01")],
        order_by=[ir.OrderByColumn("l_orderkey"), ir.OrderByColumn("l_linenumber"),
                  ir.OrderByColumn("l_quantity"), ir.OrderByColumn("l_shipdate")],
        limit=100,
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "having_filter",
    FLAT_CTE
    + f"""
SELECT c_nation, COUNT(*) AS cnt, CAST(SUM({REV}) AS DOUBLE) AS revenue
FROM flat GROUP BY c_nation HAVING COUNT(*) >= 200
""",
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("c_nation")],
        aggregations=[ir.CountAgg("cnt"), ir.ExprAgg("sum", "revenue", REV)],
        post_aggregations=_dbl("revenue"),
        having=ir.HavingSpec("cnt >= 200"),
    )
    return _ctx(spark, sf_dir).query(spec)


# ---------------------------------------------------------------------------
# 5. Count-distinct family
# ---------------------------------------------------------------------------


@_register(
    "count_distinct_exact",
    """
SELECT l_linestatus, COUNT(DISTINCT l_returnflag) AS distinct_flags
FROM lineitem GROUP BY l_linestatus
""",
)
def count_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_linestatus")],
        aggregations=[ir.DistinctAgg("distinct_flags", "l_returnflag")],
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "hll_count_distinct",
    FLAT_CTE
    + """
SELECT l_returnflag, COUNT(DISTINCT o_orderkey) AS exact_orders,
       TRUE AS hll_ok
FROM flat GROUP BY l_returnflag
""",
)
def hll_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL estimate vs exact, as an oracle-checkable invariant (the
    reference's cTest hash-check discipline applied to an approximate agg):
    the estimate query exercises the pre-built cube sketch path, the exact
    twin runs countDistinct on the flat backing, and hll_ok asserts the
    datasketches error bound (|est-exact|/exact <= 8%, ~5 sigma at lgK=12)."""
    from pyspark.sql import functions as F

    ctx = _ctx(spark, sf_dir)
    est = ctx.query(
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            aggregations=[ir.HyperUniqueAgg("approx_orders", "o_orderkey")],
        )
    )
    exact = ctx.query(
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            aggregations=[ir.DistinctAgg("exact_orders", "o_orderkey")],
        )
    )
    return (
        est.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                / F.col("exact_orders")
                <= 0.08
            ).alias("hll_ok"),
        )
    )


# ---------------------------------------------------------------------------
# 6. Grouping sets / rollup / cube
# ---------------------------------------------------------------------------


@_register(
    "rollup_flags",
    f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
       CAST(SUM({QTY}) AS DOUBLE) AS sum_qty,
       CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT)
         AS __grouping_id
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)
def rollup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag"), ir.DefaultDim("l_linestatus")],
        grouping_sets=[["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        aggregations=[ir.CountAgg("cnt"), ir.ExprAgg("sum", "sum_qty", QTY)],
        post_aggregations=_dbl("sum_qty"),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "cube_flags",
    f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
       CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT)
         AS __grouping_id
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""",
)
def cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag"), ir.DefaultDim("l_linestatus")],
        grouping_sets=[
            ["l_returnflag", "l_linestatus"],
            ["l_returnflag"],
            ["l_linestatus"],
            [],
        ],
        aggregations=[ir.CountAgg("cnt")],
    )
    return _ctx(spark, sf_dir).query(spec)


# ---------------------------------------------------------------------------
# 7. Time extraction dims
# ---------------------------------------------------------------------------


@_register(
    "year_volume",
    f"""
SELECT CAST(year(l_shipdate) AS INTEGER) AS l_year,
       COUNT(*) AS cnt, CAST(SUM({QTY}) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY 1
""",
)
def year_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.TimeFormatDim("l_shipdate", "l_year", "year")],
        aggregations=[ir.CountAgg("cnt"), ir.ExprAgg("sum", "sum_qty", QTY)],
        post_aggregations=_dbl("sum_qty"),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "expr_dim_prefix",
    FLAT_CTE
    + f"""
SELECT substr(p_type, 1, 3) AS type_prefix,
       COUNT(*) AS cnt, CAST(SUM({REV}) AS DOUBLE) AS revenue
FROM flat GROUP BY 1
""",
)
def expr_dim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.ExprDim("substr(p_type, 1, 3)", "type_prefix", ["p_type"])],
        aggregations=[ir.CountAgg("cnt"), ir.ExprAgg("sum", "revenue", REV)],
        post_aggregations=_dbl("revenue"),
    )
    return _ctx(spark, sf_dir).query(spec)


# ---------------------------------------------------------------------------
# 8. Min/max metrics
# ---------------------------------------------------------------------------


@_register(
    "min_max_metrics",
    """
SELECT l_returnflag,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
       MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
""",
)
def min_max_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag")],
        aggregations=[
            ir.FieldAgg("min", "min_qty", "l_quantity"),
            ir.FieldAgg("max", "max_qty", "l_quantity"),
            ir.FieldAgg("min", "min_price", "l_extendedprice"),
            ir.FieldAgg("max", "max_price", "l_extendedprice"),
        ],
    )
    return _ctx(spark, sf_dir).query(spec)


# ---------------------------------------------------------------------------
# 9. Star-join queries (TPC-H analogs; join elimination onto the index)
# ---------------------------------------------------------------------------


@_register(
    "q3",
    FLAT_CTE
    + f"""
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_odate, o_orderpriority,
       CAST(SUM({REV}) AS DOUBLE) AS revenue
FROM flat
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-06-01'
  AND l_shipdate >= TIMESTAMP '1996-06-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[
            ir.DefaultDim("l_orderkey"),
            ir.ExprDim("CAST(o_orderdate AS DATE)", "o_odate", ["o_orderdate"]),
            ir.DefaultDim("o_orderpriority"),
        ],
        filter=ir.and_(
            ir.SelectorFilter("c_mktsegment", "BUILDING"),
            ir.BoundFilter("o_orderdate", None, "1996-06-01", upper_strict=True),
        ),
        intervals=[ir.Interval("1996-06-01", None)],
        aggregations=[ir.ExprAgg("sum", "revenue", REV)],
        post_aggregations=_dbl("revenue"),
        limit_spec=ir.LimitSpec(
            [ir.OrderByColumn("revenue", "desc"), ir.OrderByColumn("l_orderkey")], 10
        ),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "q5",
    FLAT_CTE
    + f"""
SELECT c_nation, CAST(SUM({REV}) AS DOUBLE) AS revenue
FROM flat
WHERE c_region = 'ASIA' AND order_year = 1996 AND c_nation = s_nation
GROUP BY c_nation
ORDER BY revenue DESC, c_nation
""",
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("c_nation")],
        filter=ir.and_(
            ir.SelectorFilter("c_region", "ASIA"),
            ir.SelectorFilter("order_year", 1996),
            ir.ExprFilter("c_nation = s_nation", ["c_nation", "s_nation"]),
        ),
        aggregations=[ir.ExprAgg("sum", "revenue", REV)],
        post_aggregations=_dbl("revenue"),
        limit_spec=ir.LimitSpec(
            [ir.OrderByColumn("revenue", "desc"), ir.OrderByColumn("c_nation")]
        ),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "lookup_dim_market",
    FLAT_CTE
    + """
SELECT CASE WHEN c_nation = 'NATION_1' THEN 'tier-one'
            WHEN c_nation = 'NATION_2' THEN 'tier-one'
            WHEN c_nation = 'NATION_3' THEN 'tier-two'
            ELSE c_nation END AS market,
       count(*) AS n
FROM flat
GROUP BY 1 ORDER BY 1
""",
)
def lookup_dim_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-lookup extraction DIMENSION (Druid lookup extractionFn
    with retainMissingValue=true): values map through a broadcast-class
    literal table at query time — create_map + element_at, no join, and the
    cube still serves it (mapping is a function of the grouped dim)."""
    spec = ir.GroupByQuery(
        dimensions=[
            ir.LookupDim(
                "c_nation",
                "market",
                lookup={
                    "NATION_1": "tier-one",
                    "NATION_2": "tier-one",
                    "NATION_3": "tier-two",
                },
                retain_missing_value=True,
            )
        ],
        aggregations=[ir.CountAgg("n")],
        limit_spec=ir.LimitSpec([ir.OrderByColumn("market")]),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "q7",
    FLAT_CTE
    + f"""
SELECT s_nation AS supp_nation, c_nation AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM({REV}) AS DOUBLE) AS revenue
FROM flat
WHERE ((c_nation = 'NATION_1' AND s_nation = 'NATION_2')
    OR (c_nation = 'NATION_2' AND s_nation = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
""",
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[
            ir.ExprDim("s_nation", "supp_nation", ["s_nation"]),
            ir.ExprDim("c_nation", "cust_nation", ["c_nation"]),
            ir.TimeFormatDim("l_shipdate", "l_year", "year"),
        ],
        filter=ir.or_(
            ir.and_(
                ir.SelectorFilter("c_nation", "NATION_1"),
                ir.SelectorFilter("s_nation", "NATION_2"),
            ),
            ir.and_(
                ir.SelectorFilter("c_nation", "NATION_2"),
                ir.SelectorFilter("s_nation", "NATION_1"),
            ),
        ),
        intervals=[ir.Interval("1996-01-01", "1998-01-01")],
        aggregations=[ir.ExprAgg("sum", "revenue", REV)],
        post_aggregations=_dbl("revenue"),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "q8",
    FLAT_CTE
    + f"""
SELECT order_year,
       CAST(SUM(CASE WHEN s_nation = 'NATION_3' THEN {REV} END) AS DOUBLE)
         AS nation_rev,
       CAST(SUM({REV}) AS DOUBLE) AS total_rev,
       CAST(SUM(CASE WHEN s_nation = 'NATION_3' THEN {REV} END) AS DOUBLE)
         / CAST(SUM({REV}) AS DOUBLE) AS mkt_share
FROM flat
WHERE c_region = 'AMERICA'
GROUP BY order_year
""",
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("order_year")],
        filter=ir.SelectorFilter("c_region", "AMERICA"),
        aggregations=[
            ir.FilteredAgg(
                "nation_rev",
                ir.SelectorFilter("s_nation", "NATION_3"),
                ir.ExprAgg("sum", "nation_rev", REV),
            ),
            ir.ExprAgg("sum", "total_rev", REV),
        ],
        post_aggregations=[
            *_dbl("nation_rev", "total_rev"),
            ir.ArithmeticPostAgg("mkt_share", "nation_rev / total_rev"),
        ],
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "q10",
    FLAT_CTE
    + f"""
SELECT c_custkey, c_name, c_acctbal, c_nation,
       CAST(SUM({REV}) AS DOUBLE) AS revenue
FROM flat
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = ir.GroupByQuery(
        dimensions=[
            ir.DefaultDim("c_custkey"),
            ir.DefaultDim("c_name"),
            ir.DefaultDim("c_acctbal"),
            ir.DefaultDim("c_nation"),
        ],
        filter=ir.and_(
            ir.SelectorFilter("l_returnflag", "R"),
            ir.BoundFilter("o_orderdate", "1996-01-01", "1996-07-01",
                           upper_strict=True),
        ),
        aggregations=[ir.ExprAgg("sum", "revenue", REV)],
        post_aggregations=_dbl("revenue"),
        limit_spec=ir.LimitSpec(
            [ir.OrderByColumn("revenue", "desc"), ir.OrderByColumn("c_custkey")], 20
        ),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "q6",
    f"""
SELECT CAST(SUM({PRICE} * {DISC}) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure filter + global agg —
    lowers to a Timeseries-shaped query; predicates + interval pushed."""
    spec = ir.GroupByQuery(
        dimensions=[],
        intervals=[ir.Interval("1996-01-01", "1997-01-01")],
        filter=ir.and_(
            ir.BoundFilter("l_discount", 0.05, 0.07),
            ir.BoundFilter("l_quantity", upper=24, upper_strict=True),
        ),
        aggregations=[ir.ExprAgg("sum", "revenue", f"{PRICE} * {DISC}")],
        post_aggregations=_dbl("revenue"),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "q14",
    f"""
SELECT CAST(100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN {PRICE} * {ONE_MINUS_DISC} END)
            AS DOUBLE)
       / CAST(SUM({PRICE} * {ONE_MINUS_DISC}) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'
""",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): filtered-agg ratio over a star join."""
    spec = ir.GroupByQuery(
        dimensions=[],
        intervals=[ir.Interval("1996-09-01", "1996-10-01")],
        aggregations=[
            ir.FilteredAgg(
                "promo",
                ir.RegexFilter("p_type", "^PROMO"),  # LIKE 'PROMO%'
                agg=ir.ExprAgg("sum", "promo", f"{PRICE} * {ONE_MINUS_DISC}"),
            ),
            ir.ExprAgg("sum", "total", f"{PRICE} * {ONE_MINUS_DISC}"),
        ],
        post_aggregations=[
            ir.ArithmeticPostAgg(
                "promo_revenue",
                "CAST(100.00 * `promo` AS DOUBLE) / CAST(`total` AS DOUBLE)",
            )
        ],
        output_order=["promo_revenue"],
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "q17",
    f"""
WITH part_avg AS (
  SELECT l_partkey AS pk, round(0.2 * AVG(l_quantity), 6) AS lim
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM({PRICE}) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN part ON l_partkey = p_partkey JOIN part_avg ON l_partkey = pk
WHERE p_brand = 'Brand#23' AND l_quantity < lim
""",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated subquery as a
    window average over the flat backing — beyond the reference's rewrite
    surface (it never pushed subqueries), expressed Spark-native here."""
    from pyspark.sql import Window, functions as F

    prep(spark)
    idx = _ctx(spark, sf_dir).index
    flat = idx.flat_df()
    w = Window.partitionBy("l_partkey")
    out = (
        flat.where(F.col("p_brand") == "Brand#23")
        # round: keep the boundary comparison identical across engines
        # (per-partition double-avg accumulation differs in the last ulp)
        .withColumn("lim", F.round(0.2 * F.avg("l_quantity").over(w), 6))
        .where(F.col("l_quantity") < F.col("lim"))
        .agg(
            (F.sum(F.expr(PRICE)).cast("double") / 7.0).alias("avg_yearly")
        )
    )
    return out


@_register(
    "q18",
    f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST({TOTALPRICE} AS DOUBLE) AS o_total,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
ORDER BY o_total DESC, o_orderdate, o_orderkey
LIMIT 100
""",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): high-cardinality group-by +
    having — planner correctly refuses pre-agg (group count ~ |orders|) and
    answers from the flat star."""
    spec = ir.GroupByQuery(
        dimensions=[
            ir.DefaultDim("c_name"),
            ir.DefaultDim("c_custkey"),
            ir.DefaultDim("o_orderkey"),
            ir.DefaultDim("o_orderdate"),
            ir.ExprDim(f"CAST({TOTALPRICE} AS DOUBLE)", "o_total",
                       ["o_totalprice"]),
        ],
        aggregations=[ir.ExprAgg("sum", "sum_qty_dec", QTY)],
        post_aggregations=[
            ir.ArithmeticPostAgg("sum_qty", "CAST(`sum_qty_dec` AS DOUBLE)")
        ],
        having=ir.HavingSpec("`sum_qty_dec` > 150"),
        limit_spec=ir.LimitSpec(
            [
                ir.OrderByColumn("o_total", "desc"),
                ir.OrderByColumn("o_orderdate"),
                ir.OrderByColumn("o_orderkey"),
            ],
            100,
        ),
        output_order=[
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_total",
            "sum_qty",
        ],
    )
    return _ctx(spark, sf_dir).query(spec)


# ---------------------------------------------------------------------------
# 10. LLM-pipeline operators (documents / embeddings / events)
# ---------------------------------------------------------------------------


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


@_register(
    "dedup_exact_docs",
    """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import dedup

    prep(spark)
    return dedup.exact_dedup(_docs(spark, sf_dir), ["text"], "doc_id")


@_register(
    "doc_fingerprint",
    r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_len
FROM documents
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import text

    prep(spark)
    return text.fingerprint(_docs(spark, sf_dir), "doc_id", "text")


@_register(
    "text_stats_docs",
    r"""
WITH s AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
           AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
           AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS n_digits,
         length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_spaces
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, n_punct, n_digits, n_spaces,
       CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio,
       CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1) AS avg_token_len
FROM s
""",
)
def text_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import text

    prep(spark)
    return text.text_stats(_docs(spark, sf_dir), "doc_id", "text")


@_register(
    "bpe_tokens_docs",
    r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\w+'))
          + len(regexp_extract_all(text, '[^\w\s]')) AS INT) AS bpe_tokens
FROM documents
""",
)
def bpe_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (word-piece runs + punctuation marks), the
    tokenizer-budget estimator of a training-data pipeline."""
    from pyspark.sql import functions as F

    from pysparkline.operators import text

    prep(spark)
    return _docs(spark, sf_dir).select(
        "doc_id", text.bpe_ish_token_count(F.col("text")).alias("bpe_tokens")
    )


@_register(
    "vocab_topk_docs",
    r"""
SELECT token, CAST(count(*) AS BIGINT) AS tf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
           AS token
  FROM documents)
GROUP BY token
ORDER BY df DESC, tf DESC, token
LIMIT 100
""",
)
def vocab_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary by document frequency (operators/text.py
    vocab_stats) — the corpus-stats pass of tokenizer training: one explode
    + one two-phase aggregation (tf map-side combined, df via partial
    distinct), shuffled once on token; output totally ordered (df desc,
    tf desc, token) and k-bounded so it is driver-safe at any corpus
    size."""
    from pysparkline.operators import text

    prep(spark)
    return text.vocab_stats(_docs(spark, sf_dir), "doc_id", "text", k=100)


@_register(
    "lang_quality",
    r"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'),
                                x -> x <> ''))) AS DOUBLE) / COUNT(*)
         AS avg_tokens
FROM documents GROUP BY lang
""",
)
def lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import text
    from pyspark.sql import functions as F

    prep(spark)
    docs = _docs(spark, sf_dir)
    return docs.select("lang", text.token_count(F.col("text")).alias("t")).groupBy(
        "lang"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
    )


def _lang_id_oracle() -> str:
    """DuckDB dual implementation of the lang_id heuristic (stopword-hit
    argmax with alphabetical tie-break, 'und' when nothing matches) —
    generated from the same STOPWORDS table the Spark operator uses, so both
    engines must agree row-for-row."""
    from pysparkline.operators.text import STOPWORDS

    langs = sorted(STOPWORDS)
    hit_cols = ",\n         ".join(
        "len(list_filter(t, x -> list_contains(["
        + ", ".join("'" + w.replace("'", "''") + "'" for w in STOPWORDS[lang])
        + f"], x))) AS h_{lang}"
        for lang in langs
    )
    # strict ">" fold from 'de' upward == alphabetical winner on ties
    best = " ".join(
        f"WHEN h_{lang} >= greatest({', '.join('h_' + o for o in langs)})"
        f" THEN '{lang}'"
        for lang in langs
    )
    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), hits AS (
  SELECT doc_id,
         {hit_cols}
  FROM toks
)
SELECT doc_id,
       CASE WHEN greatest({', '.join('h_' + lang for lang in langs)}) > 0
            THEN CASE {best} END
            ELSE 'und' END AS detected_lang,
       greatest({', '.join('h_' + lang for lang in langs)}, 0) AS stopword_hits
FROM hits
"""


@_register("lang_id_docs", _lang_id_oracle())
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import text

    prep(spark)
    return text.lang_id(_docs(spark, sf_dir), "doc_id", "text")


@_register(
    "minhash_pairs_docs",
    r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(length(text) - 4, 1) + 1),
           i -> substr(text, i, 5))) AS s
  FROM documents
), inv AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
common AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, l.n AS na, r.n AS nb,
         count(*) AS c
  FROM inv l JOIN inv r ON l.g = r.g AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(c * 1.0 / (na + nb - c), 6) AS jaccard,
       TRUE AS est_ok
-- threshold the ROUNDED ratio like the operator (review r7b #6:
-- a pair at exact jaccard in [0.4999995, 0.5) rounds up to 0.5 on
-- the Spark side and must not be oracle-excluded)
FROM common WHERE round(c * 1.0 / (na + nb - c), 6) >= 0.5
""",
)
def minhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH as candidate generation + EXACT shingle-Jaccard verify
    (the production near-dup shape). The verified pair set equals DuckDB's
    exact >= 0.5 pair set (LSH banding recall at this corpus's j >= 0.9
    near-dups is ~1 - 3e-8, and the run is seed-deterministic), and est_ok
    asserts the signature estimate is within 0.25 of exact on every pair."""
    from pyspark.sql import functions as F

    from pysparkline.operators import dedup

    prep(spark)
    docs = _docs(spark, sf_dir)
    cand = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    verified = dedup.verify_pairs_exact_jaccard(
        cand, docs, "doc_id", "text", shingle_k=5, threshold=0.5
    )
    return verified.select(
        "id_a",
        "id_b",
        "jaccard",
        (F.abs(F.col("est_jaccard") - F.col("jaccard")) <= 0.25).alias("est_ok"),
    )


def _simhash_oracle() -> str:
    """DuckDB dual implementation of the 60-bit md5 SimHash + brute-force
    hamming <= 3 pairs. The Spark side's 4x15-bit segment blocking has
    guaranteed recall 1.0 at this radius (pigeonhole), so the two engines
    must produce the identical pair set."""
    from pysparkline.operators.dedup import SIMHASH_BITS

    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), hs AS (
  SELECT doc_id,
         list_transform(t, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hl
  FROM toks
), sh AS (
  SELECT doc_id,
         coalesce(list_sum(list_transform(range(0, {SIMHASH_BITS}), b ->
           CASE WHEN coalesce(list_sum(list_transform(hl, h ->
                    CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
                THEN 1::BIGINT << b ELSE 0::BIGINT END)), 0) AS simhash
  FROM hs
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@_register("simhash_pairs_docs", _simhash_oracle())
def simhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from pysparkline.operators import dedup

    prep(spark)
    out = dedup.simhash_near_pairs(
        _docs(spark, sf_dir), "doc_id", "text", max_hamming=3
    )
    return out.withColumn("hamming", F.col("hamming").cast("int"))


@_register(
    "fuzzy_join_docs",
    r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(length(text) - 4, 1) + 1),
           i -> substr(text, i, 5))) AS s
  FROM documents
), inv AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
common AS (
  SELECT l.doc_id AS left_id, r.doc_id AS right_id, l.n AS na, r.n AS nb,
         count(*) AS c
  FROM inv l JOIN inv r ON l.g = r.g
  WHERE l.doc_id % 2 = 0 AND r.doc_id % 2 = 1
  GROUP BY 1, 2, 3, 4
)
SELECT left_id, right_id, round(c * 1.0 / (na + nb - c), 6) AS jaccard
-- threshold the ROUNDED ratio like the operator (review r7b #6:
-- a pair at exact jaccard in [0.4999995, 0.5) rounds up to 0.5 on
-- the Spark side and must not be oracle-excluded)
FROM common WHERE round(c * 1.0 / (na + nb - c), 6) >= 0.5
""",
)
def fuzzy_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus fuzzy JOIN (entity resolution between two datasets):
    even-id documents joined against odd-id documents on exact shingle
    Jaccard >= 0.5 via cross-table MinHash banding + exact verify —
    dedup-against-another-dataset, the snapshot-linking staple. Recall
    argument identical to minhash_pairs_docs (fixture near-dups sit at
    j >= 0.9 where 16x4 banding misses with p ~ 3e-8); the oracle is the
    exact cross-half pair set."""
    from pyspark.sql import functions as F

    from pysparkline.operators import dedup

    prep(spark)
    docs = _docs(spark, sf_dir)
    return dedup.fuzzy_join(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        threshold=0.5,
    )


@_register(
    "ngram_jaccard_docs",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 3, 0) + 2),
                                      i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks
), inv AS (
  SELECT doc_id, len(g) AS ng, unnest(g) AS gram FROM grams
), common AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, l.ng AS na, r.ng AS nb,
         count(*) AS c
  FROM inv l JOIN inv r ON l.gram = r.gram AND l.doc_id < r.doc_id
  WHERE l.ng * 0.5 <= r.ng AND r.ng * 0.5 <= l.ng
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, c / (na + nb - c) AS jaccard FROM common
WHERE c / (na + nb - c) >= 0.5
""",
)
def ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import dedup

    prep(spark)
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5
    )


@_register(
    "substring_dup_docs",
    r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
), w AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     range(1, greatest(len(t) - 8 + 1, 0) + 1),
     i -> array_to_string(t[i:i+8-1], ' ')))) AS w
  FROM t
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
""",
)
def substring_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granularity dedup (round 6; Lee et al. 2022): document
    pairs sharing a contiguous run of >= 8 tokens. The paper's corpus-wide
    suffix array (a single-machine global sort) becomes rolling window
    xxhash64 fingerprints bucket-joined on the 64-bit hash, with the exact
    string verify recomputed for candidate docs ONLY — collisions cannot
    produce a false pair, and at 100 TB the postings shrink via
    content-defined 0-mod-p sampling + the max_df boilerplate cap (both
    DISABLED here so the operator provably runs the exact mode its
    uncapped full-string-join oracle recomputes)."""
    from pysparkline.operators import dedup

    prep(spark)
    # max_df=None: the oracle is an uncapped full string join, so the
    # operator must run in exact mode — a capped run would silently
    # diverge the moment some window's document frequency crossed the cap
    out = dedup.substring_dup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", min_tokens=8, max_df=None
    )
    return out.orderBy("id_a", "id_b")


@_register(
    "length_quantiles_docs",
    """
SELECT source,
       count(*) AS n_docs,
       round(quantile_cont(n_chars, 0.5), 4) AS p50,
       round(quantile_cont(n_chars, 0.9), 4) AS p90,
       round(quantile_cont(n_chars, 0.99), 4) AS p99
FROM documents GROUP BY source
""",
)
def length_quantiles_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution (exact linear-interpolated
    percentiles — Spark `percentile` and DuckDB `quantile_cont` share the
    a + (b-a)*f formula, so the oracle matches to FP rounding)."""
    from pyspark.sql import functions as F

    prep(spark)
    d = _docs(spark, sf_dir)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile(F.col("n_chars"), F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile(F.col("n_chars"), F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile(F.col("n_chars"), F.lit(0.99)), 4).alias("p99"),
    )


@_register(
    "chunk_docs",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
  FROM documents
), c AS (
  SELECT doc_id, len(t) AS n,
         CAST(ceil(greatest(len(t) - 32, 0) / 24.0) AS INT) + 1 AS k, t
  FROM toks
), ex AS (
  SELECT doc_id, n, t, unnest(range(0, k)) AS i FROM c
)
SELECT doc_id, i AS chunk_id,
       array_to_string(t[i*24+1 : i*24+32], ' ') AS chunk_text,
       least(n - i*24, 32) AS n_tokens
FROM ex
""",
)
def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training chunking: 32-token windows with 8-token overlap
    (stride 24) — a single narrow pass, no shuffle."""
    from pysparkline.operators import text as t

    prep(spark)
    return t.chunk_documents(
        _docs(spark, sf_dir), "doc_id", "text", chunk_tokens=32, overlap=8
    )


_BM25_QUERY = "data quality model training"

from pysparkline.operators.search import bm25_topk_oracle_sql as _bm25_oracle_sql


@_register("bm25_topk_docs", _bm25_oracle_sql("documents", _BM25_QUERY, k=10))
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text retrieval: inverted postings (explode + map-side
    combined groupBy) scored against a literal query — content search the
    reference's SearchQuerySpec (dimension-substring) can't express. Plan is
    UDF-free; at scale postings persist bucketed by term
    (operators/search.py docstring)."""
    from pysparkline.operators import search as s

    prep(spark)
    return s.bm25_topk(_docs(spark, sf_dir), _BM25_QUERY, k=10)


@_register(
    "hybrid_rrf_docs",
    """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
doclens AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')) AS dl
  FROM documents
),
corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM doclens),
postings AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN ('data', 'model', 'quality', 'training')
  GROUP BY term, doc_id
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfreq
          FROM postings GROUP BY term),
scored AS (
  SELECT p.doc_id,
         ROUND(SUM(
           ln(1.0 + (c.n - f.dfreq + 0.5) / (f.dfreq + 0.5))
           * (CAST(p.tf AS DOUBLE) * (1.2 + 1.0))
           / (CAST(p.tf AS DOUBLE)
              + 1.2 * (1.0 - 0.75 + 0.75 * CAST(d.dl AS DOUBLE) / c.avgdl))
         ), 4) AS score
  FROM postings p
  JOIN doclens d ON p.doc_id = d.doc_id
  JOIN dfreq f ON p.term = f.term
  CROSS JOIN corpus c
  GROUP BY p.doc_id
),
bm AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored ORDER BY score DESC, doc_id LIMIT 20
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT c.vec_id AS doc_id,
         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                      CAST(q.qv AS DOUBLE[])), 6) AS cosine
  FROM embeddings c, q
),
cos AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank
  FROM sims ORDER BY cosine DESC, doc_id LIMIT 20
),
u AS (SELECT doc_id, rank FROM bm
      UNION ALL SELECT doc_id, rank FROM cos),
f AS (
  SELECT doc_id,
         round(SUM(CAST(1.0 AS DOUBLE) / (60 + rank)), 9) AS rrf_score,
         CAST(count(*) AS BIGINT) AS n_lists
  FROM u GROUP BY doc_id
)
SELECT doc_id, rrf_score, n_lists,
       row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10
""",
)
def hybrid_rrf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack 2009) of the BM25
    lexical top-20 over documents and the dense cosine top-20 for query
    vector 0 (vec_id doubling as doc_id in this fixture) — the standard
    lexical+dense serving combiner, rank-space so the two score scales
    never need calibrating. Fusion math is engine-reproducible: both input
    rankings are already deterministic driver rows; per-doc RRF sums <= 2
    doubles (commutative) rounded to 9."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pysparkline.operators import search, similarity

    prep(spark)
    bm = search.bm25_topk(_docs(spark, sf_dir), _BM25_QUERY, k=20)
    bm_r = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    emb = _emb(spark, sf_dir)
    cos = similarity.brute_force_cosine_topk(
        emb,
        emb.where(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=20,
        round_to=6,
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return search.rrf_fuse([bm_r, cos], k=10)


@_register(
    "pack_docs",
    r"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
           AS n_tokens,
         sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')))
           OVER (PARTITION BY source ORDER BY doc_id) AS cum
  FROM documents)
SELECT source, doc_id, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE CAST(floor((cum - 1) / 512.0)
                      - floor((cum - n_tokens) / 512.0) + 1 AS BIGINT)
       END AS packs_spanned
FROM t
ORDER BY source, doc_id
""",
)
def pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 512-token training packs: one
    integer window per source stream (operators/text.py pack_sequences).
    Output sorted deterministically (source, doc_id) — window-output order is
    otherwise partition-layout dependent and the driver's hash is
    order-sensitive (VERDICT r3 #1)."""
    from pysparkline.operators import text as t

    prep(spark)
    return t.pack_sequences(_docs(spark, sf_dir), 512).orderBy("source", "doc_id")


@_register(
    "temperature_mix_docs",
    r"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
     t AS (SELECT count(*) AS total,
                  (SELECT count(*) FROM c) AS k
           FROM documents),
     r AS (SELECT c.source,
             least(1.0, (((3 * t.total) // 5) * 1.0 / t.k) / c.n) AS rate
           FROM c, t)
SELECT d.doc_id, d.source
FROM documents d JOIN r ON d.source = r.source
WHERE CAST('0x' || substr(
        md5(trim(regexp_replace(lower(coalesce(d.text, '')),
                                '\s+', ' ', 'g'))),
        1, 8) AS BIGINT) % 10000
      < CAST(floor(r.rate * 10000 + 0.5) AS BIGINT)
ORDER BY d.doc_id
""",
)
def temperature_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic temperature-based source rebalancing (the multilingual
    training-mix recipe) at tau=0 with a 60% row target: per-source rates
    derive from one bounded count, and row selection is the content-hash
    Bernoulli — the same document survives the mix across re-shards and the
    whole selection is exact portable SQL (operators/sampling.py
    temperature_mix). tau=0 keeps the rate arithmetic an exact IEEE mirror
    of the oracle's (no pow() libm divergence)."""
    from pysparkline.operators import sampling

    prep(spark)
    docs = _docs(spark, sf_dir)
    target = (3 * docs.count()) // 5
    out = sampling.temperature_mix(
        docs, "source", tau=0.0, target_rows=target
    )
    return out.select("doc_id", "source").orderBy("doc_id")


@_register(
    "shard_docs",
    r"""
WITH a AS (
  SELECT CAST(CAST('0x' || substr(
           md5(trim(regexp_replace(lower(coalesce(text, '')),
                                   '\s+', ' ', 'g'))),
           1, 8) AS BIGINT) % 16 AS INTEGER) AS shard,
         CAST('0x' || substr(
           md5(trim(regexp_replace(lower(coalesce(text, '')),
                                   '\s+', ' ', 'g'))),
           1, 8) AS BIGINT) AS chk
  FROM documents)
SELECT shard, count(*) AS rows_, CAST(sum(chk) AS BIGINT) AS checksum
FROM a GROUP BY shard ORDER BY shard
""",
)
def shard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed training-shard assignment + manifest stats (the
    write_training_shards handoff format): md5-bucket shard membership is a
    pure narrow map that survives re-shards/appends, and the per-shard
    checksum is an order-independent sum of 32-bit content hashes — both
    portable SQL, exactly oracle-checkable (operators/sampling.py)."""
    from pyspark.sql import functions as F

    from pysparkline.operators import sampling

    prep(spark)
    docs = sampling.shard_assignment(_docs(spark, sf_dir), "text", 16)
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "
        )
    )
    chk = F.conv(F.substring(F.md5(norm), 1, 8), 16, 10).cast("long")
    return (
        docs.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("rows_"),
            F.sum(chk).alias("checksum"),
        )
        .orderBy("shard")
    )


@_register(
    "hash_split_docs",
    r"""
SELECT doc_id,
       CASE WHEN CAST('0x' || substr(
                    md5(trim(regexp_replace(lower(coalesce(text, '')),
                                            '\s+', ' ', 'g'))),
                    1, 8) AS BIGINT) % 10000 < 9000 THEN 'train'
            WHEN CAST('0x' || substr(
                    md5(trim(regexp_replace(lower(coalesce(text, '')),
                                            '\s+', ' ', 'g'))),
                    1, 8) AS BIGINT) % 10000 < 9500 THEN 'valid'
            ELSE 'test'
       END AS split
FROM documents
""",
)
def hash_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed train/valid/test split (90/5/5): md5 of
    normalized text -> bucket -> cumulative-weight cut. Survives re-sharding
    and appends — the reproducibility property seeded sampling lacks
    (operators/sampling.py hash_split)."""
    from pysparkline.operators import sampling

    prep(spark)
    return sampling.hash_split(_docs(spark, sf_dir)).select("doc_id", "split")


@_register(
    "source_overlap_docs",
    r"""
WITH sh AS (
  SELECT DISTINCT source AS g, substr(coalesce(text, ''), i, 5) AS s
  FROM documents,
       UNNEST(range(1, greatest(length(coalesce(text, '')) - 4, 1) + 1)) AS t(i)
), totals AS (
  SELECT g, count(*) AS total FROM sh GROUP BY g
), pairs AS (
  SELECT a.g AS group_a, b.g AS group_b, count(*) AS shared_shingles
  FROM sh a JOIN sh b ON a.s = b.s AND a.g < b.g
  GROUP BY 1, 2
)
SELECT p.group_a, p.group_b, p.shared_shingles,
       ta.total AS total_a, tb.total AS total_b
FROM pairs p
JOIN totals ta ON p.group_a = ta.g
JOIN totals tb ON p.group_b = tb.g
""",
)
def source_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test-leakage audit: pairwise distinct-shingle overlap between
    sources (operators/clean.py source_overlap). Per-shingle join fan-out is
    bounded by (#groups choose 2), never corpus size."""
    from pysparkline.operators import clean

    prep(spark)
    return clean.source_overlap(_docs(spark, sf_dir))


@_register(
    "dedup_clusters_docs",
    r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 3, 0) + 2),
                                      i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks
), inv AS (
  SELECT doc_id, len(g) AS ng, unnest(g) AS gram FROM grams
), common AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, l.ng AS na, r.ng AS nb,
         count(*) AS c
  FROM inv l JOIN inv r ON l.gram = r.gram AND l.doc_id < r.doc_id
  WHERE l.ng * 0.5 <= r.ng AND r.ng * 0.5 <= l.ng
  GROUP BY 1, 2, 3, 4
), pairs AS (
  SELECT id_a, id_b FROM common WHERE c / (na + nb - c) >= 0.5
), edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(id, label) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON r.id = e.s
)
SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1
""",
)
def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components (min-label
    propagation) over the exact n-gram Jaccard pairs — turns pairwise dup
    reports into keep-one-per-cluster decisions."""
    from pysparkline.operators import dedup

    prep(spark)
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5
    )
    return dedup.cluster_pairs(pairs).withColumnRenamed("id", "doc_id")


@_register(
    "decontaminate_docs",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 8, 0) + 2),
                                      i -> array_to_string(t[i:i+7], ' '))) AS g
  FROM toks
), cg AS (SELECT doc_id AS corpus_id, unnest(g) AS gram FROM grams
          WHERE doc_id % 17 <> 0),
   bg AS (SELECT doc_id AS bench_id, unnest(g) AS gram FROM grams
          WHERE doc_id % 17 = 0)
SELECT corpus_id, bench_id, count(*) AS n_shared_grams
FROM cg JOIN bg USING (gram) GROUP BY 1, 2
""",
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination sweep: docs with doc_id % 17 == 0 play the
    held-out eval set; report corpus docs sharing any token 8-gram with it."""
    from pyspark.sql import functions as F

    from pysparkline.operators import clean

    prep(spark)
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    bench = docs.where(F.col("doc_id") % 17 == 0)
    return clean.decontaminate(corpus, bench, "doc_id", "text", n=8)


@_register(
    "repetition_stats_docs",
    r"""
WITH lines AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
  ) WHERE length(line) > 0
),
lstats AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS d, MAX(c) AS mx
  FROM (SELECT doc_id, line, COUNT(*) AS c FROM lines GROUP BY 1, 2)
  GROUP BY doc_id
),
words AS (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id, unnest(range(len(ws))) AS pos, unnest(ws) AS w
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'),
                             x -> length(x) > 0) AS ws
          FROM documents)
  )
),
bigrams AS (
  SELECT a.doc_id, a.w || chr(1) || b.w AS bg
  FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
bstats AS (
  SELECT doc_id, SUM(c) AS n, MAX(c) AS mx
  FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(1.0 - CAST(l.d AS DOUBLE) / l.n, 0.0) AS dup_line_frac,
       COALESCE(CAST(l.mx AS DOUBLE) / l.n, 0.0) AS max_line_frac,
       COALESCE(CAST(b.mx AS DOUBLE) / b.n, 0.0) AS top_bigram_frac
FROM documents d
LEFT JOIN lstats l USING (doc_id)
LEFT JOIN bstats b USING (doc_id)
""",
)
def repetition_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate-line / max-line /
    top-bigram fractions): per-doc array folds over sorted copies — a
    narrow map, zero shuffles at any corpus size. The oracle recomputes the
    same exact integer ratios via unnest+GROUP BY."""
    from pysparkline.operators import clean

    prep(spark)
    return clean.repetition_stats(_docs(spark, sf_dir))


@_register(
    "boilerplate_prune_docs",
    """
WITH parts AS (SELECT doc_id, string_split(text, ' ') AS p FROM documents),
units AS (SELECT doc_id, unnest(range(len(p))) AS pos, unnest(p) AS unit
          FROM parts),
total AS (SELECT count(*) AS n FROM documents),
boiler AS (
  SELECT unit
  FROM (SELECT unit, count(DISTINCT doc_id) AS d FROM units GROUP BY 1), total
  WHERE d >= 2 AND d >= ceil(0.5 * n)
),
kept AS (SELECT * FROM units WHERE unit NOT IN (SELECT unit FROM boiler)),
rebuilt AS (SELECT doc_id, string_agg(unit, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY 1)
SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
""",
)
def boilerplate_prune_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style over-frequent-unit pruning at token granularity (this corpus
    has no newlines, so 'units' are tokens: words in >=50% of documents are
    the boilerplate analog)."""
    from pysparkline.operators import clean

    prep(spark)
    return clean.prune_frequent_units(
        _docs(spark, sf_dir), "doc_id", "text",
        delimiter=" ", min_doc_frac=0.5, min_docs=2,
    )


@_register(
    "pii_redact_docs",
    r"""
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IPV4>', 'g'),
    '\b[0-9]{9,}\b', '<LONG_DIGITS>', 'g') AS clean_text,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
  CAST(len(regexp_extract_all(text,
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER) AS n_ipv4,
  CAST(len(regexp_extract_all(text,
    '\b[0-9]{9,}\b')) AS INTEGER) AS n_long_digits
FROM documents
""",
)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails / IPv4 / long digit runs) with per-kind
    replacement counts; portable-regex parity with the DuckDB oracle."""
    from pysparkline.operators import clean

    prep(spark)
    return clean.redact_pii(_docs(spark, sf_dir), "doc_id", "text")


@_register(
    "cosine_topk",
    """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 5),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                FROM (SELECT unnest(c.embedding) x, unnest(q.qv) y))
           / (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                    FROM (SELECT unnest(c.embedding) x)))
            * sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
                    FROM (SELECT unnest(q.qv) y)))), 6) AS cosine
  FROM embeddings c, q
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 10
""",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import similarity
    from pyspark.sql import functions as F

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_cosine_topk(
        emb, queries_df, k=10, round_to=6
    )


_TOP1_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id {qfilter}),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                FROM (SELECT unnest(c.embedding) x, unnest(q.qv) y))
           / (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                    FROM (SELECT unnest(c.embedding) x)))
            * sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
                    FROM (SELECT unnest(q.qv) y)))), 6) AS cosine
  FROM embeddings c, q
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sims
)
SELECT query_id, neighbor_id AS top1_id, cosine AS top1_cos,
       TRUE AS recall_ok
FROM ranked WHERE rank = 1
"""


def _ann_recall_invariant(spark, emb, queries_df, approx_topk, k, min_recall):
    """(query_id, top1_id, top1_cos, recall_ok): exact brute-force top-1 per
    query (oracle-checkable) + a recall@k bound of the approximate result
    against the brute-force top-k (both computed in Spark; seeds fixed)."""
    from pyspark.sql import functions as F

    from pysparkline.operators import similarity

    brute = similarity.brute_force_cosine_topk(
        emb, queries_df, k=k, round_to=6
    ).persist()
    inter = (
        approx_topk.select("query_id", "neighbor_id")
        .join(brute.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    top1 = brute.where(F.col("rank") == 1).select(
        "query_id",
        F.col("neighbor_id").alias("top1_id"),
        F.col("cosine").alias("top1_cos"),
    )
    return top1.join(inter, "query_id", "left").select(
        "query_id",
        "top1_id",
        "top1_cos",
        (F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(k) >= min_recall).alias(
            "recall_ok"
        ),
    )


@_register("lsh_cosine_topk", _TOP1_ORACLE.format(qfilter="< 5"))
def lsh_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with an oracle-checkable invariant: exact brute-force top-1
    (DuckDB recomputes it) + recall@10 of the LSH result vs brute force."""
    from pyspark.sql import functions as F

    from pysparkline.operators import similarity

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # 4 planes x 8 tables: this corpus is near-uniform (max cosine ~0.5), so
    # wider buckets + more tables are needed for recall; measured recall@10
    # is 0.5-0.9 at sf0.001/0.01/0.1 -> bound 0.4 with margin
    lsh = similarity.lsh_cosine_topk(
        emb, queries_df, k=10, dim=64, n_planes=4, n_tables=8
    )
    return _ann_recall_invariant(spark, emb, queries_df, lsh, 10, 0.4)


@_register(
    "knn_join_emb",
    """
WITH sims AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])),
               6) AS cosine
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
""",
)
def knn_join_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed kNN JOIN (every embedding row -> its top-3 non-self
    neighbors) with NEITHER side broadcast or collected — the corpus-scale
    form brute_force/ivf_topk (which broadcast queries) cannot take. All
    cells probed (n_probe=None) makes it provably exact, so the DuckDB full
    self-join oracle reproduces it bit-for-bit; the block-salted approximate
    form is recall-tested in tests/test_knn_join.py."""
    from pyspark.sql import functions as F
    from pysparkline.operators import similarity

    prep(spark)
    emb = _emb(spark, sf_dir)
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.knn_join(
        emb, q, k=3, n_cells=8, exclude_self=True, round_to=6
    )


@_register(
    "hard_negatives_emb",
    """
WITH dup AS (
  SELECT a.vec_id AS qa, b.vec_id AS nb
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 10 = 0
), dup2 AS (
  SELECT qa, nb FROM dup UNION SELECT nb, qa FROM dup
), sims AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])),
               6) AS cosine
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
), kept AS (
  SELECT s.* FROM sims s
  WHERE NOT EXISTS (SELECT 1 FROM dup2 d
                    WHERE d.qa = s.query_id AND d.nb = s.neighbor_id)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM kept
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
""",
)
def hard_negatives_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (contrastive-training prep): every anchor's
    top-3 most-similar NON-duplicate neighbors via the distributed kNN
    join (all cells probed -> exact) with the known dup pairs (a, a+1 for
    a % 10 == 0 — existence-joined) anti-joined in both orientations;
    retrieval depth auto-widens by the corpus-max duplicates per anchor so
    the exclusion can never leave an anchor short. The oracle replays the
    full pairwise form in SQL."""
    from pyspark.sql import functions as F

    from pysparkline.operators import similarity

    prep(spark)
    emb = _emb(spark, sf_dir)
    dup = (
        emb.alias("a")
        .where(F.col("a.vec_id") % 10 == 0)
        .join(emb.alias("b"), F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
    )
    return similarity.hard_negatives(emb, dup, k=3, n_cells=8)


@_register("knn_join_probe_emb", _TOP1_ORACLE.format(qfilter="< 8"))
def knn_join_probe_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPROXIMATE knn_join form (n_probe < n_cells) under the same
    oracle-checkable invariant as the other ANN rows: exact brute-force
    top-1 per query (DuckDB recomputes it) + recall@10 of the probed join
    vs brute force. Probing 4/8 cells on this near-uniform corpus measures
    recall 0.6-0.9 across SFs -> bound 0.4 with margin."""
    from pyspark.sql import functions as F

    from pysparkline.operators import similarity

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ap = similarity.knn_join(
        emb, queries_df, k=10, n_cells=8, n_probe=4
    )
    return _ann_recall_invariant(spark, emb, queries_df, ap, 10, 0.4)


# Shared CTE: replay embed.quantize_int8's exact integer codes in SQL —
# scale = max|v|/127 and floor(v/scale + 0.5) are bit-reproducible across
# engines (float32 -> float64 casts are exact; same IEEE ops in the same
# order), verified 0/500 mismatches at sf0.01 before shipping.
_QUANT_CTE = """
WITH s AS (
  SELECT vec_id,
         (SELECT MAX(ABS(CAST(x AS DOUBLE)))
          FROM unnest(embedding) AS t(x)) / 127 AS scale,
         embedding
  FROM embeddings
), c AS (
  SELECT vec_id, scale,
         [CASE WHEN scale > 0
               THEN CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT)
               ELSE 0 END
          FOR x IN embedding] AS codes,
         embedding
  FROM s
)
"""


@_register(
    "embed_quantize_emb",
    _QUANT_CTE
    + """
SELECT vec_id, round(scale, 9) AS scale_r,
       CAST((SELECT SUM(ABS(code)) FROM unnest(codes) AS t(code)) AS BIGINT)
         AS code_l1,
       CAST((SELECT MAX(ABS(code)) FROM unnest(codes) AS t(code)) AS INTEGER)
         AS code_max,
       round((SELECT MAX(ABS(CAST(code AS DOUBLE) * scale
                            - CAST(v AS DOUBLE)))
              FROM (SELECT unnest(codes) AS code, unnest(embedding) AS v)),
             9) AS max_abs_err
FROM c WHERE vec_id < 50 ORDER BY vec_id
""",
)
def embed_quantize_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the 4x storage/scan lever at
    100 TB): per-vector scale + code stats + max reconstruction error.
    Codes are exact integer math replayed bit-for-bit by the oracle;
    error metrics use only order-independent folds (MAX), so no
    summation-order drift can exist."""
    from pyspark.sql import functions as F

    from pysparkline.operators import embed

    prep(spark)
    q = embed.quantize_int8(_emb(spark, sf_dir).where(F.col("vec_id") < 50))
    err = F.aggregate(
        F.zip_with(
            "codes",
            "embedding",
            lambda c, v: F.abs(
                c.cast("double") * F.col("scale") - v.cast("double")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale_r"),
        F.aggregate(
            F.transform("codes", lambda c: F.abs(c).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("code_l1"),
        F.aggregate(
            "codes", F.lit(0), lambda acc, c: F.greatest(acc, F.abs(c))
        ).alias("code_max"),
        F.round(err, 9).alias("max_abs_err"),
    ).orderBy("vec_id")


@_register(
    "matryoshka_topk_emb",
    """
WITH q AS (SELECT vec_id AS query_id, embedding[1:16] AS qv
           FROM embeddings WHERE vec_id < 5),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(c.embedding[1:16] AS DOUBLE[]),
                                      CAST(q.qv AS DOUBLE[])), 6) AS cosine
  FROM embeddings c, q
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 10
""",
)
def matryoshka_topk_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncated-dimension retrieval: brute-force cosine
    top-10 over the first 16 of 64 components — the low-dim shortlist
    pass of an MRL funnel (4x less vector data scanned; re-rank the
    shortlist at full dim when precision matters)."""
    from pyspark.sql import functions as F

    from pysparkline.operators import embed

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return embed.matryoshka_topk(emb, queries_df, k=10, dim=16, round_to=6)


@_register(
    "matryoshka_funnel_emb",
    """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
s16 AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(c.embedding[1:16] AS DOUBLE[]),
                                      CAST(q.qv[1:16] AS DOUBLE[])), 6)
           AS cos16
  FROM embeddings c, q
), short AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos16 DESC, neighbor_id) AS r
        FROM s16)
  WHERE r <= 40
), rer AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                      CAST(q.qv AS DOUBLE[])), 6) AS cosine
  FROM short s
  JOIN embeddings c ON c.vec_id = s.neighbor_id
  JOIN q ON q.query_id = s.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rer
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 10
""",
)
def matryoshka_funnel_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MRL funnel: dim-16 prefix cosine shortlists 40 candidates
    per query (reading 1/4 of the vector bytes), the shortlist alone is
    re-ranked at full 64 dims. Oracle replays both phases; the shortlist
    cut ranks on ROUNDED prefix cosine so membership is
    engine-reproducible."""
    from pyspark.sql import functions as F

    from pysparkline.operators import embed

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return embed.matryoshka_funnel_topk(
        emb, queries_df, k=10, dim=16, shortlist=40, round_to=6
    )


@_register(
    "quantized_topk_emb",
    _QUANT_CTE
    + """
, q AS (SELECT vec_id AS query_id, codes AS qc FROM c WHERE vec_id < 5),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(
           CAST((SELECT SUM(CAST(x AS BIGINT) * CAST(y AS BIGINT))
                 FROM (SELECT unnest(c.codes) AS x, unnest(q.qc) AS y))
                AS DOUBLE)
           / (sqrt(CAST((SELECT SUM(CAST(x AS BIGINT) * CAST(x AS BIGINT))
                         FROM (SELECT unnest(c.codes) AS x)) AS DOUBLE))
            * sqrt(CAST((SELECT SUM(CAST(y AS BIGINT) * CAST(y AS BIGINT))
                         FROM (SELECT unnest(q.qc) AS y)) AS DOUBLE))),
           6) AS cosine
  FROM c, q
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 10
""",
)
def quantized_topk_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 over int8-quantized vectors (per-vector scales cancel
    in the cosine, so ranking = cosine of the integer code vectors). The
    dot products are EXACT integer sums — engine-reproducible with no
    rounding convention needed until the final normalize."""
    from pyspark.sql import functions as F

    from pysparkline.operators import embed

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return embed.quantized_cosine_topk(emb, queries_df, k=10, round_to=6)


@_register(
    "hamming_topk_emb",
    """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 5),
h AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST((SELECT COUNT(*)
               FROM (SELECT unnest(c.embedding) AS x, unnest(q.qv) AS y)
               WHERE (CAST(x AS DOUBLE) > 0) != (CAST(y AS DOUBLE) > 0))
              AS INTEGER) AS hamming
  FROM embeddings c, q
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming, neighbor_id) AS rank
  FROM h
)
SELECT query_id, neighbor_id, hamming, rank FROM ranked WHERE rank <= 10
""",
)
def hamming_topk_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) embedding quantization retrieval: Hamming distance
    over dim/64 packed BIGINT words (32x less data than float32). The
    Spark side XOR+popcounts the packed words; the oracle counts sign
    disagreements directly — identical by construction (bit i of word w
    is component 64w+i's sign; trailing pad bits match)."""
    from pyspark.sql import functions as F

    from pysparkline.operators import embed

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return embed.hamming_topk(emb, queries_df, k=10, rerank=False)


@_register(
    "asof_event_purchase",
    """
WITH purch AS (SELECT user_id, ts AS p_ts, value AS p_value FROM events
               WHERE event_type = 'purchase')
SELECT e.event_type, count(*) AS n_events, count(p.p_value) AS n_matched,
       CAST(SUM(CASE WHEN p.p_value IS NOT NULL
                     THEN CAST(p.p_value AS DECIMAL(12,2)) END) AS DOUBLE)
         AS matched_value
FROM events e ASOF LEFT JOIN purch p
  ON e.user_id = p.user_id AND e.ts >= p.p_ts
GROUP BY e.event_type
""",
)
def asof_event_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import asof
    from pysparkline import tpch as _tpch
    from pyspark.sql import functions as F

    prep(spark)
    ev = _tpch.read_events(spark, sf_dir)
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    joined = asof.asof_join(ev, purch, "user_id", "ts", "p_ts")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("p_value_right").alias("n_matched"),
        F.sum(F.expr("CAST(p_value_right AS DECIMAL(12,2))"))
        .cast("double")
        .alias("matched_value"),
    )


@_register(
    "sessionize_stats",
    r"""
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s2 AS (
  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS session_seq
  FROM s
)
SELECT user_id, session_seq, count(*) AS n_events,
       (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 AS span_seconds,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
FROM s2 GROUP BY 1, 2
""",
)
def sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import events as ev_ops
    from pysparkline import tpch as _tpch
    from pyspark.sql import functions as F

    prep(spark)
    ev = _tpch.read_events(spark, sf_dir)
    return ev_ops.session_stats(ev).withColumn(
        "value_sum", F.col("value_sum").cast("double")
    )


@_register(
    "running_totals_user",
    """
SELECT user_id, ts,
       count(*) OVER w AS running_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE)
         AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
""",
)
def running_totals_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import events as ev_ops
    from pysparkline import tpch as _tpch
    from pyspark.sql import functions as F

    prep(spark)
    ev = _tpch.read_events(spark, sf_dir)
    return ev_ops.running_totals(ev).withColumn(
        "running_value", F.col("running_value").cast("double")
    )


@_register("groups_frame_qty", None)
def groups_frame_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI GROUPS window frame (round 11 stretch): sum over 1 peer GROUP
    preceding through the current group, per returnflag partition ordered
    by linestatus. IR-level engine surface — Spark has no GROUPS mode and
    DuckDB cannot even PARSE one, so no SQL oracle exists on either side
    (the driver's rows-only gate applies); the exact semantics are pinned
    against an in-test reference implementation in
    tests/test_plan_shape.py::test_groups_window_frame_self_oracle. The
    lowering (lowering._apply_window_posts) materializes the peer-group
    index as dense_rank over the full ORDER BY tuple and reuses Spark's
    numeric RANGE machinery over it — whole groups enter or leave the
    frame together, exactly the ANSI mode."""
    spec = ir.GroupByQuery(
        dimensions=[
            ir.DefaultDim("l_returnflag"),
            ir.DefaultDim("l_linestatus"),
        ],
        aggregations=[ir.ExprAgg("sum", "sum_qty", QTY), ir.CountAgg("n")],
        window_posts=[
            ir.WindowPostSpec(
                "grp_qty", "sum", "CAST(`sum_qty` AS DOUBLE)",
                ["l_returnflag"],
                [ir.OrderByColumn("`l_linestatus`", "asc")],
                frame=[-1, 0], frame_type="groups",
            ),
        ],
        post_aggregations=_dbl("sum_qty"),
        limit_spec=ir.LimitSpec(
            columns=[
                ir.OrderByColumn("l_returnflag", "asc"),
                ir.OrderByColumn("l_linestatus", "asc"),
            ]
        ),
    )
    return _ctx(spark, sf_dir).query(spec)


def _media(spark, sf_dir):
    """documents + synthetic but VALID media payloads (PNG/WAV/RVID bytes
    derived from doc_id on executors) — the decode side is the real parser,
    so each query is an encode->decode round trip with an exact oracle."""
    from pysparkline.operators import multimodal

    return multimodal.with_synth_media(
        _docs(spark, sf_dir).select("doc_id"), "doc_id"
    )


@_register(
    "image_features",
    """
SELECT doc_id AS id, 8 AS width, 8 AS height, 3 AS channels,
       CAST(doc_id % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
FROM documents
""",
)
def image_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG decode (zlib inflate + unfilter) over mapInPandas: solid
    8x8 images whose channel means are exact functions of doc_id."""
    from pysparkline.operators import multimodal

    prep(spark)
    return multimodal.image_features(_media(spark, sf_dir), "doc_id", "img").select(
        "id", "width", "height", "channels", "mean_r", "mean_g", "mean_b"
    )


@_register(
    "audio_features",
    """
SELECT doc_id AS id,
       CAST(1600 + (doc_id % 5) * 800 AS DOUBLE) / 8000.0 AS duration_s,
       CAST((doc_id * 37) % 1000 AS DOUBLE) / 32768.0 AS rms,
       CAST((doc_id * 37) % 1000 AS DOUBLE) / 32768.0 AS band_0,
       CAST((doc_id * 37) % 1000 AS DOUBLE) / 32768.0 AS band_1,
       CAST((doc_id * 37) % 1000 AS DOUBLE) / 32768.0 AS band_2,
       CAST((doc_id * 37) % 1000 AS DOUBLE) / 32768.0 AS band_3
FROM documents
""",
)
def audio_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV/RIFF PCM parse: constant-signal fixtures make rms and band
    means exact (v/32768 is a power-of-two division — bit-exact IEEE)."""
    from pysparkline.operators import multimodal

    prep(spark)
    return multimodal.audio_features(_media(spark, sf_dir), "doc_id", "wav")


@_register(
    "image_features_progressive",
    """
SELECT doc_id AS id, 16 AS width, 16 AS height, 3 AS channels,
       CAST(CASE doc_id % 3 WHEN 0 THEN 201 WHEN 1 THEN 11 ELSE 130 END
            AS DOUBLE) AS mean_r,
       CAST(CASE doc_id % 3 WHEN 0 THEN 40 WHEN 1 THEN 180 ELSE 130 END
            AS DOUBLE) AS mean_g,
       CAST(CASE doc_id % 3 WHEN 0 THEN 90 WHEN 1 THEN 221 ELSE 30 END
            AS DOUBLE) AS mean_b
FROM documents
""",
)
def image_features_progressive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG decode (T.81 Annex G: spectral selection +
    successive approximation — DC first/refine, AC first/refine with EOB
    runs) through the pure-numpy codec: the payloads are vendored
    libjpeg-written progressive files (4:2:0, 4:4:4, restart intervals) of
    solid colors whose decoded channel means are fixed constants the
    oracle states literally. Cross-checked against libjpeg itself (fresh
    vectors each run) in tests/test_jpeg_progressive.py."""
    from pyspark.sql import functions as F

    from pysparkline.operators import multimodal

    prep(spark)
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "data")
    payloads = [
        open(os.path.join(base, f"prog_{n}.jpg"), "rb").read()
        for n in ("s0", "s1", "s3")  # the three RGB solid fixtures
    ]
    docs = _docs(spark, sf_dir).select("doc_id")
    media = docs.withColumn(
        "img",
        F.element_at(
            F.array(*[F.lit(p) for p in payloads]),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ),
    )
    return multimodal.image_features(media, "doc_id", "img").select(
        "id", "width", "height", "channels", "mean_r", "mean_g", "mean_b"
    )


@_register(
    "image_features_arith",
    """
SELECT doc_id AS id, 16 AS width, 16 AS height, 3 AS channels,
       CAST(CASE doc_id % 3 WHEN 0 THEN 201 WHEN 1 THEN 11 ELSE 130 END
            AS DOUBLE) AS mean_r,
       CAST(CASE doc_id % 3 WHEN 0 THEN 40 WHEN 1 THEN 180 ELSE 130 END
            AS DOUBLE) AS mean_g,
       CAST(CASE doc_id % 3 WHEN 0 THEN 90 WHEN 1 THEN 221 ELSE 30 END
            AS DOUBLE) AS mean_b
FROM documents
""",
)
def image_features_arith_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARITHMETIC-coded JPEG decode (T.81 Annex D QM-coder + F.1.4.4
    statistical models — SOF9) through the pure-numpy codec: vendored
    libjpeg-written arithmetic files (4:2:0, 4:4:4, restart intervals) of
    solid colors whose decoded means the oracle states literally. The
    QM decoder is bit-exact against libjpeg's own decode (fresh vectors
    each run, tests/test_jpeg_arith.py)."""
    from pyspark.sql import functions as F

    from pysparkline.operators import multimodal

    prep(spark)
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "data")
    payloads = [
        open(os.path.join(base, f"arith_{n}.jpg"), "rb").read()
        for n in ("s0", "s1", "s2")
    ]
    docs = _docs(spark, sf_dir).select("doc_id")
    media = docs.withColumn(
        "img",
        F.element_at(
            F.array(*[F.lit(p) for p in payloads]),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ),
    )
    return multimodal.image_features(media, "doc_id", "img").select(
        "id", "width", "height", "channels", "mean_r", "mean_g", "mean_b"
    )


@_register(
    "image_features_deep",
    """
SELECT doc_id AS id, 16 AS width, 16 AS height, 3 AS channels,
       CAST(CASE doc_id % 3 WHEN 0 THEN 193 ELSE 127.5 END
            AS DOUBLE) AS mean_r,
       CAST(CASE doc_id % 3 WHEN 0 THEN 25 WHEN 1 THEN 127.5 ELSE 200 END
            AS DOUBLE) AS mean_g,
       CAST(CASE doc_id % 3 WHEN 0 THEN 112 WHEN 1 THEN 9 ELSE 127.5 END
            AS DOUBLE) AS mean_b
FROM documents
""",
)
def image_features_deep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-precision JPEG decode (round 7): 12-BIT extended sequential
    (SOF1, Pq=1 16-bit DQT — T.81 B.2.2/B.2.4.1) and LOSSLESS Annex H
    (SOF3, 8-bit and 16-bit, predictors 4/5) through the pure-numpy
    codec, normalized to decode_image's uint8 contract by the stream's
    declared precision. The vendored fixtures are a 12-bit solid color
    (deterministic decode -> literal means) and two lossless gradients
    whose means are EXACT rationals because the process is bit-exact by
    definition (tests/test_jpeg_lossless.py asserts equality over random
    images for every predictor; stock libjpeg has no 12-bit or lossless
    build, so round-trip exactness is the validation)."""
    from pyspark.sql import functions as F

    from pysparkline.operators import multimodal

    prep(spark)
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "data")
    payloads = [
        open(os.path.join(base, n), "rb").read()
        for n in ("ext12_s0.jpg", "ll8_grad.jpg", "ll16_grad.jpg")
    ]
    docs = _docs(spark, sf_dir).select("doc_id")
    media = docs.withColumn(
        "img",
        F.element_at(
            F.array(*[F.lit(p) for p in payloads]),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ),
    )
    return multimodal.image_features(media, "doc_id", "img").select(
        "id", "width", "height", "channels", "mean_r", "mean_g", "mean_b"
    )


@_register(
    "image_features_hier",
    """
SELECT doc_id AS id, 16 AS width, 16 AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END AS INT) AS channels,
       CAST(CASE doc_id % 3 WHEN 0 THEN 200 ELSE 127.5 END
            AS DOUBLE) AS mean_r,
       CAST(CASE doc_id % 3 WHEN 0 THEN 31 ELSE 127.5 END
            AS DOUBLE) AS mean_g,
       CAST(CASE doc_id % 3 WHEN 0 THEN 90 ELSE 127.5 END
            AS DOUBLE) AS mean_b
FROM documents
""",
)
def image_features_hier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL JPEG decode (round 8, T.81 Annex J — the last codec
    decline closed): DHP/EXP markers, a non-differential first stage at
    half resolution, and differential stages (SOF5 DCT / SOF7 lossless)
    combined through the J.1.1.2 upsampling filter. Fixtures: a 2-stage
    DCT pyramid of a solid color (decode is deterministic — the oracle
    states its exact decoded means, green 31 being the pyramid's
    quantization of 30), an 8-bit lossless pyramid gradient (BIT-exact,
    mean exactly 127.5), and a 12-bit lossless pyramid (uint16 decode
    path + precision shift). No stock codec implements Annex J (libjpeg
    never did), so validation is round-trip exactness + structural
    checks (tests/test_jpeg_hierarchical.py)."""
    from pyspark.sql import functions as F

    from pysparkline.operators import multimodal

    prep(spark)
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "data")
    payloads = [
        open(os.path.join(base, n), "rb").read()
        for n in ("hier_dct_solid.jpg", "hier_ll8_grad.jpg",
                  "hier_ll16_grad.jpg")
    ]
    docs = _docs(spark, sf_dir).select("doc_id")
    media = docs.withColumn(
        "img",
        F.element_at(
            F.array(*[F.lit(p) for p in payloads]),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ),
    )
    return multimodal.image_features(media, "doc_id", "img").select(
        "id", "width", "height", "channels", "mean_r", "mean_g", "mean_b"
    )


@_register(
    "image_features_webp",
    """
SELECT doc_id AS id, 16 AS width, 16 AS height, 3 AS channels,
       CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 127.5 ELSE 130 END
            AS DOUBLE) AS mean_r,
       CAST(CASE doc_id % 3 WHEN 0 THEN 31 WHEN 1 THEN 127.5 ELSE 103 END
            AS DOUBLE) AS mean_g,
       CAST(CASE doc_id % 3 WHEN 0 THEN 90 WHEN 1 THEN 127.5 ELSE 60 END
            AS DOUBLE) AS mean_b
FROM documents
""",
)
def image_features_webp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEBP VP8L decode from spec (round 9 — the WEBP arm of the codec
    tail closed): full RFC 9649 lossless bitstream — prefix codes, color
    cache, meta-prefix groups, LZ77 with the 2D distance neighborhood,
    and all four inverse transforms (predictor / cross-color /
    subtract-green / palette with pixel bundling). Lossless decode is
    exact by construction, so the oracle states the fixtures' literal
    means: a solid color, a gradient whose channels each average exactly
    127.5, and a two-color checkerboard. Bit-exactness against libwebp's
    own decoder is asserted over fresh random encodings every pytest
    (tests/test_webp.py, ctypes harness). Lossy VP8 still declines
    honestly to Pillow/ffmpeg dispatch."""
    from pyspark.sql import functions as F

    from pysparkline.operators import multimodal

    prep(spark)
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "data")
    payloads = [
        open(os.path.join(base, n), "rb").read()
        for n in ("webp_solid.webp", "webp_grad.webp", "webp_checker.webp")
    ]
    docs = _docs(spark, sf_dir).select("doc_id")
    media = docs.withColumn(
        "img",
        F.element_at(
            F.array(*[F.lit(p) for p in payloads]),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ),
    )
    return multimodal.image_features(media, "doc_id", "img").select(
        "id", "width", "height", "channels", "mean_r", "mean_g", "mean_b"
    )


@_register(
    "frame_sample",
    """
WITH f AS (
  SELECT doc_id, unnest(range(0, 1 + doc_id % 7, 2)) AS fi FROM documents
)
SELECT doc_id AS id, CAST(fi AS INT) AS frame_idx,
       CAST((doc_id + 11 * fi) % 256 AS DOUBLE) AS frame_mean
FROM f
""",
)
def frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1 payload -> k frame rows) with real container
    parsing; per-frame mean is an exact function of (doc_id, frame_idx)."""
    from pysparkline.operators import multimodal

    prep(spark)
    return multimodal.frame_sample(
        _media(spark, sf_dir), "doc_id", "vid", every_n=2
    ).select("id", "frame_idx", "frame_mean")


@_register(
    "image_dhash_pairs",
    """
WITH d AS (SELECT doc_id, doc_id % 16 AS seed FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
FROM d a JOIN d b ON a.seed = b.seed AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
""",
)
def image_dhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup (round 6): dHash + pigeonhole segment
    blocking — the multimodal analog of SimHash text dedup. The fixture
    gives each document a deterministic textured PNG keyed by
    doc_id % 16, decoded by the REAL decoder on executors: equal seeds are
    byte-identical (hamming 0), distinct seeds measure >= 21 bits apart
    (asserted in tests/test_multimodal), so at max_hamming=4 the exact
    expected pair set is same-seed pairs — which the oracle enumerates in
    pure SQL."""
    from pyspark.sql import functions as F

    from pysparkline.operators import multimodal

    prep(spark)
    media = multimodal.with_patterned_images(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", n_seeds=16
    )
    out = multimodal.image_dhash_pairs(media, "doc_id", "img", max_hamming=4)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("id_a", "id_b")


@_register(
    "audio_fp_pairs",
    """
WITH d AS (SELECT doc_id, doc_id % 16 AS seed FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
FROM d a JOIN d b ON a.seed = b.seed AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
""",
)
def audio_fp_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO dedup: Haitsma-Kalker-style 64-bit spectral
    fingerprint + the shared pigeonhole segment blocking
    (multimodal.hamming_blocked_pairs). The fixture gives each document a
    deterministic colored-noise WAV keyed by doc_id % 16, decoded by the
    REAL WAV parser on executors: equal seeds are byte-identical
    (hamming 0), distinct seeds measure >= 17 fingerprint bits apart
    (asserted in tests/test_multimodal), so at max_hamming=6 the exact
    expected pair set is same-seed pairs — enumerated by the oracle in
    pure SQL."""
    from pyspark.sql import functions as F

    from pysparkline.operators import multimodal

    prep(spark)
    media = multimodal.with_colored_audio(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", n_seeds=16
    )
    out = multimodal.audio_fingerprint_pairs(
        media, "doc_id", "wav", max_hamming=6
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("id_a", "id_b")


@_register(
    "video_dhash_pairs",
    """
WITH d AS (SELECT doc_id, doc_id % 16 AS seed FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(2 + (a.seed % 3) AS BIGINT) AS frames_matched,
       CAST(1.0 AS DOUBLE) AS match_frac
FROM d a JOIN d b ON a.seed = b.seed AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
""",
)
def video_dhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO dedup: per-sampled-frame dHash matched at the same
    frame position through the SHARED pigeonhole blocking (key_cols=[pos]),
    then pairs kept where >= min_match_frac of the shorter video's frames
    match. Fixture: deterministic textured RVID keyed by doc_id % 16 with
    2 + seed % 3 frames, every frame pair across distinct seeds > 12 dHash
    bits apart (asserted in tests/test_multimodal) — so the exact expected
    output is same-seed pairs with all frames matched, which the oracle
    (including the per-seed frame count) states in pure SQL."""
    from pysparkline.operators import multimodal

    prep(spark)
    media = multimodal.with_patterned_videos(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", n_seeds=16
    )
    out = multimodal.video_dhash_pairs(
        media, "doc_id", "vid", max_hamming=4, min_match_frac=0.8
    )
    return out.orderBy("id_a", "id_b")


_EVENTS_CTX: dict[str, OlapContext] = {}


def _events_ctx(spark: SparkSession, sf_dir: str) -> OlapContext:
    key = os.path.abspath(sf_dir)
    c = _EVENTS_CTX.get(key)
    if c is None or c.spark is not spark:
        from pysparkline.events_index import build_or_load_events_index

        prep(spark)
        c = OlapContext(spark, build_or_load_events_index(spark, sf_dir))
        _EVENTS_CTX[key] = c
    return c


_CATALOGS: dict[str, "OlapCatalog"] = {}


def _catalog(spark: SparkSession, sf_dir: str) -> "OlapCatalog":
    """Both datasources (TPC-H star + events) in one OlapCatalog, each with
    base tables so declined bodies can still fall back."""
    key = os.path.abspath(sf_dir)
    c = _CATALOGS.get(key)
    if c is None or c.spark is not spark:
        from pysparkline.events_index import build_or_load_events_index
        from pysparkline.session import OlapCatalog

        prep(spark)
        tctx = OlapContext(
            spark,
            tpch.build_or_load_index(spark, sf_dir),
            base_tables=tpch.load_star_tables(spark, sf_dir),
            fds=tpch.tpch_fds(),
        )
        ectx = OlapContext(
            spark,
            build_or_load_events_index(spark, sf_dir),
            base_tables={"events": tpch.read_events(spark, sf_dir)},
        )
        c = OlapCatalog(spark, {"tpch": tctx, "events": ectx})
        _CATALOGS[key] = c
    return c


_FED_SQL = """
WITH rev AS (
  SELECT c_custkey % 20 AS b,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
), ev AS (
  SELECT user_id % 20 AS b, COUNT(*) AS n_ev,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
  FROM events GROUP BY 1
)
SELECT rev.b AS b, rev, n_ev, sv
FROM rev JOIN ev ON rev.b = ev.b
ORDER BY b
"""


@_register("federated_rev_events", _FED_SQL)
def federated_rev_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-datasource federation (round 6, continued session): an
    OlapCatalog WITH-join routes each CTE body to its owning context —
    revenue-per-customer-bucket rides the TPC-H index, event stats ride
    the events index — and Spark joins the two LAZY index-served results
    in one DAG. The plain multi-datasource fallback would raw-scan both
    stars; DuckDB runs the identical statement natively as the oracle."""
    cat = _catalog(spark, sf_dir)
    out = cat.sql(_FED_SQL)
    assert cat.query_history[-1].backing == "federated", (
        cat.query_history[-1].decision
    )
    return out


@_register(
    "events_daily_types",
    """
SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
GROUP BY event_type, day
ORDER BY event_type, day
""",
)
def events_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second OLAP index (events single-table star): daily per-type counts
    answered from the 'types' day-grain cube — same planner/lowering, a
    completely different fact table and time column."""
    ctx = _events_ctx(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("event_type")],
        granularity="day",
        time_output_name="day",
        intervals=[ir.Interval("2024-01-05", "2024-01-20")],
        aggregations=[
            ir.CountAgg("n"),
            ir.ExprAgg("sum", "sv_dec", "CAST(value AS DECIMAL(18,6))"),
        ],
        post_aggregations=[ir.ArithmeticPostAgg("sv", "CAST(`sv_dec` AS DOUBLE)")],
        limit_spec=ir.LimitSpec(
            [ir.OrderByColumn("event_type"), ir.OrderByColumn("day")]
        ),
        output_order=["event_type", "day", "n", "sv"],
    )
    out = ctx.query(spec)
    assert ctx.query_history[-1].backing == "cube", ctx.query_history[-1].decision
    return out


@_register(
    "events_hist_p90",
    """
WITH b AS (
  SELECT event_type,
         CAST(LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0)/8.0), 0), 63)
              AS INT) AS bin
  FROM events WHERE value IS NOT NULL
), h AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2),
w AS (SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS total FROM h),
est AS (
  SELECT event_type,
         arg_min(0.0 + 8.0*(bin + (CAST(0.9 AS DOUBLE)*CAST(total AS DOUBLE)
                                   - CAST(cum - c AS DOUBLE))/CAST(c AS DOUBLE)),
                 bin)
           FILTER (WHERE CAST(cum AS DOUBLE) >=
                         CAST(0.9 AS DOUBLE)*CAST(total AS DOUBLE) AND c > 0)
           AS p90_value
  FROM w GROUP BY 1),
n AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
SELECT est.event_type, round(est.p90_value, 6) AS p90_value, n.n
FROM est JOIN n USING (event_type) ORDER BY event_type
""",
)
def events_hist_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram percentile (approxHistogram analog): p90 of value
    per event type answered from the cube's hist_value partials — the oracle
    runs the identical binned estimator, so the match is exact, and the cube
    answer is bit-identical to row-grain evaluation (tests/test_hist_quantile)."""
    from pyspark.sql import functions as F

    ctx = _events_ctx(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("event_type")],
        aggregations=[
            ir.HistQuantileAgg(
                "p90_value", "value", fraction=0.9, lo=0.0, hi=512.0, nbins=64
            ),
            ir.CountAgg("n"),
        ],
        limit_spec=ir.LimitSpec([ir.OrderByColumn("event_type")]),
    )
    out = ctx.query(spec)
    assert ctx.query_history[-1].backing == "cube", ctx.query_history[-1].decision
    return out.withColumn("p90_value", F.round("p90_value", 6))


@_register(
    "events_user_distinct",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS du
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def events_user_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per type over the events flat backing (the HLL
    sketch path is exercised by the TPC-H index; this is the exact twin on
    the second index)."""
    ctx = _events_ctx(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("event_type")],
        aggregations=[ir.DistinctAgg("du", "user_id")],
        limit_spec=ir.LimitSpec([ir.OrderByColumn("event_type")]),
    )
    return ctx.query(spec)


@_register(
    "theta_users_type",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS users
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def theta_users_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch distinct users per event type, served from the cube's
    pre-built theta_user_id_k4096 partials (the thetaSketch column type of
    the reference's type map, SURVEY §1.2). Theta sketches are EXACT while
    group NDV <= k (every distinct hash retained, theta = 1), so at test SFs
    (<= 1500 users) the estimate equals COUNT(DISTINCT) and the oracle is a
    full hash-match, not an error band."""
    from pyspark.sql import functions as F

    ctx = _events_ctx(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("event_type")],
        aggregations=[ir.ThetaAgg("users_est", "user_id", k=4096)],
        limit_spec=ir.LimitSpec([ir.OrderByColumn("event_type")]),
    )
    out = ctx.query(spec)
    assert ctx.query_history[-1].backing == "cube", ctx.query_history[-1].decision
    return out.select(
        "event_type", F.col("users_est").cast("bigint").alias("users")
    )


@_register(
    "theta_retention_daily",
    """
WITH du AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
  FROM events
),
cur AS (SELECT day, COUNT(*) AS c FROM du GROUP BY day),
prv AS (SELECT day + 1 AS day, COUNT(*) AS c FROM du GROUP BY day),
ret AS (
  SELECT b.day AS day, COUNT(*) AS c
  FROM du a JOIN du b ON b.user_id = a.user_id AND b.day = a.day + 1
  GROUP BY b.day
)
SELECT cur.day,
       COALESCE(ret.c, 0) AS returning_users,
       prv.c - COALESCE(ret.c, 0) AS churned_users,
       cur.c - COALESCE(ret.c, 0) AS new_users
FROM cur JOIN prv USING (day) LEFT JOIN ret USING (day)
ORDER BY day
""",
)
def theta_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention via theta-sketch SET OPERATIONS — the family
    HLL cannot serve (Druid thetaSketchSetOp INTERSECT/NOT): per-day user
    sketches come off the cube (one IR query), then returning = |prev ∩ cur|,
    churned = |prev \\ cur|, new = |cur \\ prev|. The day-pair join is over
    ~30 aggregated rows (broadcast, trivial at any corpus scale — the heavy
    lifting happened in the mergeable cube partials). Set-op estimates are
    exact while NDV <= k, so every count hash-matches the DuckDB oracle."""
    from pyspark.sql import functions as F

    k = 4096
    ctx = _events_ctx(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[],
        granularity="day",
        time_output_name="day",
        aggregations=[ir.ThetaSketchAgg("sk", "user_id", k=k)],
    )
    days = ctx.query(spec)
    assert ctx.query_history[-1].backing == "cube", ctx.query_history[-1].decision
    cur = days.select(F.col("day").cast("date").alias("day"), F.col("sk"))
    prv = cur.select(
        F.date_add(F.col("day"), 1).alias("day"), F.col("sk").alias("prev_sk")
    )
    return (
        cur.join(prv, "day")
        .select(
            "day",
            F.theta_sketch_estimate(F.theta_intersection("prev_sk", "sk"))
            .alias("returning_users"),
            F.theta_sketch_estimate(F.theta_difference("prev_sk", "sk"))
            .alias("churned_users"),
            F.theta_sketch_estimate(F.theta_difference("sk", "prev_sk"))
            .alias("new_users"),
        )
        .orderBy("day")
    )


@_register(
    "theta_funnel_users",
    """
WITH v AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
           FROM events WHERE event_type = 'view'),
b AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events WHERE event_type = 'purchase'),
days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events)
SELECT d.day,
  CAST((SELECT COUNT(*) FROM v WHERE v.day = d.day) AS BIGINT) AS viewers,
  CAST((SELECT COUNT(*) FROM b WHERE b.day = d.day) AS BIGINT) AS buyers,
  CAST((SELECT COUNT(*) FROM v JOIN b ON v.user_id = b.user_id
        AND v.day = d.day AND b.day = d.day) AS BIGINT) AS both_vb,
  CAST((SELECT COUNT(*) FROM v WHERE v.day = d.day AND user_id NOT IN
        (SELECT user_id FROM b WHERE b.day = d.day)) AS BIGINT) AS view_only
FROM days d ORDER BY d.day
""",
)
def theta_funnel_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Druid theta-funnel shape in ONE IR query: two FILTERED sketch
    aggregations (daily users who viewed / who purchased — Druid's filtered
    aggregator over a thetaSketch) + set-operation POST-aggregations
    (thetaSketchSetOp INTERSECT / NOT as post-agg expression text). Rides
    the cube: the filter is on a grain dim, so only matching partial
    sketches merge per day bucket. Exact at test NDVs => plain-SQL oracle."""
    from pyspark.sql import functions as F

    k = 4096
    ctx = _events_ctx(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[],
        granularity="day",
        time_output_name="day",
        aggregations=[
            ir.FilteredAgg(
                "sk_view",
                ir.SelectorFilter("event_type", "view"),
                ir.ThetaSketchAgg("sk_view", "user_id", k=k),
            ),
            ir.FilteredAgg(
                "sk_buy",
                ir.SelectorFilter("event_type", "purchase"),
                ir.ThetaSketchAgg("sk_buy", "user_id", k=k),
            ),
        ],
        post_aggregations=[
            ir.ArithmeticPostAgg("viewers", "theta_sketch_estimate(sk_view)"),
            ir.ArithmeticPostAgg("buyers", "theta_sketch_estimate(sk_buy)"),
            ir.ArithmeticPostAgg(
                "both_vb",
                "theta_sketch_estimate(theta_intersection(sk_view, sk_buy))",
            ),
            ir.ArithmeticPostAgg(
                "view_only",
                "theta_sketch_estimate(theta_difference(sk_view, sk_buy))",
            ),
        ],
        output_order=["day", "viewers", "buyers", "both_vb", "view_only"],
    )
    out = ctx.query(spec)
    assert ctx.query_history[-1].backing == "cube", ctx.query_history[-1].decision
    return out.withColumn("day", F.col("day").cast("date")).orderBy("day")


@_register(
    "theta_error_small_k",
    """
SELECT event_type, COUNT(DISTINCT event_id) AS exact_events, TRUE AS theta_ok
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def theta_error_small_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The theta estimation branch (sketch full, theta < 1): k=512 over
    event_id (NDV = row count >> k at sf >= 0.01), as an oracle-checkable
    invariant — |est - exact| / exact <= 15% (~3.4 sigma at DataSketches'
    RSE 1/sqrt(k) = 4.4%; measured max 7.6% at sf0.01 and 8.1% at sf0.1;
    deterministic given the data). event_id has
    no cube sketch, so the planner falls back to the flat backing — the
    fallback path of the theta eligibility check."""
    from pyspark.sql import functions as F

    ctx = _events_ctx(spark, sf_dir)
    est = ctx.query(
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("event_type")],
            aggregations=[ir.ThetaAgg("est_events", "event_id", k=512)],
        )
    )
    assert ctx.query_history[-1].backing != "cube", ctx.query_history[-1].decision
    exact = ctx.query(
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("event_type")],
            aggregations=[ir.DistinctAgg("exact_events", "event_id")],
        )
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_events",
            (
                F.abs(F.col("est_events") - F.col("exact_events"))
                / F.col("exact_events")
                <= 0.15
            ).alias("theta_ok"),
        )
        .orderBy("event_type")
    )


@_register(
    "tz_format_dim",
    """
SELECT CAST(EXTRACT(hour FROM timezone('Asia/Tokyo', timezone('UTC', ts)))
            AS INT) AS tokyo_hour,
       COUNT(*) AS n
FROM events GROUP BY 1 ORDER BY 1
""",
)
def tz_format_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeFormat extraction with a timeZone (DruidQuerySpec.scala:72-80
    pattern+TZ): group by Tokyo wall-clock hour-of-day. The planner must
    keep it on row grain — a zone shift moves bucket boundaries, so the
    UTC-bucketed cube cannot serve it (plan-asserted)."""
    ctx = _events_ctx(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[
            ir.TimeFormatDim("ts", "tokyo_hour", part="hour", tz="Asia/Tokyo")
        ],
        aggregations=[ir.CountAgg("n")],
        limit_spec=ir.LimitSpec([ir.OrderByColumn("tokyo_hour")]),
    )
    out = ctx.query(spec)
    assert ctx.query_history[-1].backing != "cube", ctx.query_history[-1].decision
    return out


@_register(
    "tz_daily_revenue",
    """
SELECT CAST(date_trunc('day', timezone('Asia/Tokyo', timezone('UTC', ts)))
            AS DATE) AS tokyo_day,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
FROM events GROUP BY 1 ORDER BY 1
""",
)
def tz_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period granularity with a timeZone (DruidQueryGranularity.scala:42-59
    {"period": "P1D", "timeZone": "Asia/Tokyo"}): day buckets follow Tokyo's
    wall clock, output is the wall-clock bucket start. Row-grain by planner
    rule (UTC cube buckets can't serve shifted boundaries; plan-asserted)."""
    ctx = _events_ctx(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[],
        granularity={"period": "P1D", "timeZone": "Asia/Tokyo"},
        time_output_name="tokyo_day",
        aggregations=[
            ir.CountAgg("n"),
            ir.ExprAgg("sum", "sv_dec", "CAST(value AS DECIMAL(18,6))"),
        ],
        post_aggregations=[ir.ArithmeticPostAgg("sv", "CAST(`sv_dec` AS DOUBLE)")],
        output_order=["tokyo_day", "n", "sv"],
    )
    out = ctx.query(spec)
    assert ctx.query_history[-1].backing != "cube", ctx.query_history[-1].decision
    return out.orderBy("tokyo_day")


@_register(
    "events_15min",
    """
SELECT TIMESTAMP '1970-01-01 00:00:00'
         + to_seconds(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)) AS bucket,
       COUNT(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-11 00:00:00'
GROUP BY 1 ORDER BY 1
""",
)
def events_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid duration granularity (DruidQueryGranularity.scala:42-107
    {"duration": 900000}): arbitrary fixed-width epoch-aligned buckets.
    15-minute buckets can't be served by the day-grain cube (width not a
    multiple — plan-asserted); the flat backing still partition-prunes on
    the interval."""
    ctx = _events_ctx(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[],
        granularity={"duration": 900_000},
        time_output_name="bucket",
        intervals=[ir.Interval("2024-01-10", "2024-01-11")],
        aggregations=[ir.CountAgg("n")],
        output_order=["bucket", "n"],
    )
    out = ctx.query(spec)
    assert ctx.query_history[-1].backing != "cube", ctx.query_history[-1].decision
    return out.orderBy("bucket")


@_register(
    "events_15min_zero_fill",
    """
WITH spine AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-10 00:00:00',
                                TIMESTAMP '2024-01-10 23:45:00',
                                INTERVAL 15 MINUTE)) AS bucket
), agg AS (
  SELECT TIMESTAMP '1970-01-01 00:00:00'
           + to_seconds(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)) AS bucket,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
    AND ts < TIMESTAMP '2024-01-11 00:00:00'
    AND event_type = 'purchase'
  GROUP BY 1
)
SELECT s.bucket, coalesce(a.n, 0) AS n, coalesce(a.sv, 0.0) AS sv
FROM spine s LEFT JOIN agg a USING (bucket) ORDER BY 1
""",
)
def events_15min_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Druid timeseries zero-fill (skipEmptyBuckets=false default,
    DruidQuerySpec.scala:709-765): EVERY 15-min bucket of the interval is
    emitted — 96 rows exactly — with count/sum identities (0) in buckets the
    purchase filter empties. Spine generated JVM-side (lowering
    _zero_fill_spine); min/max/avg identities stay NULL."""
    ctx = _events_ctx(spark, sf_dir)
    spec = ir.TimeseriesQuery(
        granularity={"duration": 900_000},
        time_output_name="bucket",
        intervals=[ir.Interval("2024-01-10", "2024-01-11")],
        filter=ir.SelectorFilter("event_type", "purchase"),
        aggregations=[
            ir.CountAgg("n"),
            # decimal sum (exact, summation-order-independent) then cast back
            # to DOUBLE in a post-agg — tpch.py:10-44 money convention; a raw
            # double SUM can never hash-match the oracle (oracle-lint class)
            ir.ExprAgg(
                fn="sum",
                name="__sv_dec",
                expr="CAST(value AS DECIMAL(18,6))",
                columns=["value"],
            ),
        ],
        post_aggregations=[
            ir.ArithmeticPostAgg(name="sv", expr="CAST(__sv_dec AS DOUBLE)")
        ],
        zero_fill=True,
        output_order=["bucket", "n", "sv"],
    )
    return ctx.query(spec)


@_register(
    "events_hourly",
    """
SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-11 00:00:00'
GROUP BY hr ORDER BY hr
""",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-granularity timeseries: multi-cube routing — the day-grain
    'types' cube is rejected (finer query grain) and the dimension-free
    hour-grain 'hourly' cube serves it; per-type queries route the other
    way (hourly lacks the dim). At 100 TB the dashboard reads ~24 rows/day
    instead of the event stream."""
    ctx = _events_ctx(spark, sf_dir)
    spec = ir.TimeseriesQuery(
        granularity="hour",
        time_output_name="hr",
        intervals=[ir.Interval("2024-01-10", "2024-01-11")],
        aggregations=[ir.CountAgg("n")],
    )
    out = ctx.query(spec).orderBy("hr")
    assert ctx.query_history[-1].backing == "cube", ctx.query_history[-1].decision
    assert "hourly" in ctx.query_history[-1].decision
    return out


@_register(
    "grouped_topn_brands",
    FLAT_CTE
    + """
, agg AS (
  SELECT c_nation, p_brand,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
  FROM flat GROUP BY c_nation, p_brand
)
SELECT c_nation, p_brand, rev, rank FROM (
  SELECT c_nation, p_brand, rev,
         CAST(row_number() OVER (PARTITION BY c_nation
                                 ORDER BY rev DESC, p_brand) AS INT) AS rank
  FROM agg
) WHERE rank <= 3
ORDER BY c_nation, rank
""",
)
def grouped_topn_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group TopN (top 3 brands per customer nation by revenue) — the
    partitioned analog of the TopN query shape."""
    from pyspark.sql import functions as F

    from pysparkline.operators import events as ev

    ctx = _ctx(spark, sf_dir)
    agg = (
        ctx.index.flat_df()
        .groupBy("c_nation", "p_brand")
        .agg(F.sum(F.expr(PRICE)).cast("double").alias("rev"))
    )
    out = ev.grouped_topn(agg, ["c_nation"], "rev", 3, tiebreak_cols=["p_brand"])
    return out.orderBy("c_nation", "rank")


@_register(
    "funnel_events",
    """
WITH base AS (SELECT user_id AS usr, ts, event_type AS et FROM events),
t0 AS (
  SELECT usr, min(ts) FILTER (WHERE et = 'signup') AS t0
  FROM base GROUP BY usr
),
t1 AS (
  SELECT b.usr,
         min(b.ts) FILTER (WHERE b.et = 'click' AND b.ts > t0.t0
                             AND b.ts <= t0.t0 + INTERVAL 7 DAY) AS t1
  FROM base b JOIN t0 ON b.usr = t0.usr GROUP BY b.usr
),
t2 AS (
  SELECT b.usr,
         min(b.ts) FILTER (WHERE b.et = 'purchase' AND b.ts > t1.t1
                             AND b.ts <= t0.t0 + INTERVAL 7 DAY) AS t2
  FROM base b JOIN t0 ON b.usr = t0.usr JOIN t1 ON b.usr = t1.usr
  GROUP BY b.usr
)
SELECT t0.usr AS user,
       CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL THEN 3
            WHEN t0 IS NOT NULL AND t1 IS NOT NULL THEN 2
            WHEN t0 IS NOT NULL THEN 1
            ELSE 0 END AS steps_completed
FROM t0 JOIN t1 ON t0.usr = t1.usr JOIN t2 ON t0.usr = t2.usr
""",
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel over the events stream table:
    signup -> click -> purchase within 7 days of signup."""
    from pysparkline.operators import events as ev

    prep(spark)
    e = tpch.read_events(spark, sf_dir)
    return ev.funnel(e, "user_id", "ts", "event_type",
                     ["signup", "click", "purchase"], "7 days")


# ---------------------------------------------------------------------------
# 10b. spatial / extraction / json / quality / approximate-NN coverage
# ---------------------------------------------------------------------------


@_register(
    "spatial_bounds",
    """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sv
FROM events
WHERE value >= 10 AND value < 100 AND user_id >= 100 AND user_id < 5000
GROUP BY event_type
""",
)
def spatial_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectangular spatial filter (DruidQuerySpec.scala:255-281): two boxes
    conjoined; transforms.combine_spatial intersects them into one before
    lowering to per-axis range predicates."""
    from pysparkline import lowering, transforms

    prep(spark)
    events = tpch.read_events(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("event_type")],
        filter=ir.and_(
            ir.SpatialFilter(["value", "user_id"], [10.0, 0], [1e9, 5000]),
            ir.SpatialFilter(["value", "user_id"], [None, 100], [100.0, None]),
        ),
        aggregations=[
            ir.CountAgg("n"),
            ir.ExprAgg("sum", "sv", "CAST(floor(value) AS BIGINT)", ["value"]),
        ],
    )
    spec = transforms.optimize(spec)
    assert isinstance(spec.filter, ir.SpatialFilter), "boxes must have merged"
    return lowering.lower(spec, lowering.Backing.base(events, "ts"))


@_register(
    "ym_format_dim",
    """
SELECT strftime(l_shipdate, '%Y-%m') AS ym, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ym ORDER BY ym
""",
)
def ym_format_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern timeFormat extraction dim (DruidQuerySpec.scala:72-80):
    date_format(time, 'yyyy-MM') as a group-by dimension."""
    spec = ir.GroupByQuery(
        dimensions=[ir.TimeFormatDim("l_shipdate", "ym", "yyyy-MM", is_pattern=True)],
        aggregations=[
            ir.CountAgg("n"),
            ir.ExprAgg("sum", "sum_qty", tpch.QTY),
        ],
        post_aggregations=_dbl("sum_qty"),
        limit_spec=ir.LimitSpec([ir.OrderByColumn("ym")]),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "json_props",
    """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       COUNT(*) AS n
FROM events GROUP BY event_type
""",
)
def json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: get_json_object over an opaque JSON props
    column, grouped — JVM-side, no UDF."""
    from pysparkline import lowering

    prep(spark)
    events = tpch.read_events(spark, sf_dir)
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("event_type")],
        aggregations=[
            ir.ExprAgg(
                "sum", "sum_k",
                "CAST(get_json_object(props, '$.k') AS BIGINT)", ["props"],
            ),
            ir.CountAgg("n"),
        ],
    )
    return lowering.lower(spec, lowering.Backing.base(events, "ts"))


@_register(
    "topn_low_brand",
    f"""
SELECT p_brand, CAST(SUM({PRICE}) AS DOUBLE) AS rev
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY rev ASC, p_brand ASC LIMIT 5
""",
)
def topn_low_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted (ascending) TopN metric spec (DruidQuerySpec.scala:478-506)."""
    spec = ir.TopNQuery(
        dimension=ir.DefaultDim("p_brand"),
        metric="rev",
        threshold=5,
        inverted=True,
        aggregations=[ir.ExprAgg("sum", "rev_dec", PRICE)],
        post_aggregations=[ir.ArithmeticPostAgg("rev", "CAST(`rev_dec` AS DOUBLE)")],
        output_order=["p_brand", "rev"],
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "topn_monthly_brand",
    f"""
WITH agg AS (
  SELECT p_brand, CAST(date_trunc('month', l_shipdate) AS DATE) AS mo,
         CAST(SUM({PRICE}) AS DOUBLE) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-07-01'
  GROUP BY p_brand, mo
)
SELECT p_brand, mo, rev FROM (
  SELECT p_brand, mo, rev,
         row_number() OVER (PARTITION BY mo ORDER BY rev DESC, p_brand) AS rk
  FROM agg
) WHERE rk <= 2
ORDER BY mo, rev DESC, p_brand
""",
)
def topn_monthly_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granular TopN (DruidQuerySpec.scala:767-868 TopN WITH granularity):
    top-2 brands per month by revenue — per-bucket ranking, not global."""
    spec = ir.TopNQuery(
        dimension=ir.DefaultDim("p_brand"),
        metric="rev",
        threshold=2,
        granularity="month",
        time_output_name="mo",
        intervals=[ir.Interval("1996-01-01", "1996-07-01")],
        aggregations=[ir.ExprAgg("sum", "rev_dec", PRICE)],
        post_aggregations=[ir.ArithmeticPostAgg("rev", "CAST(`rev_dec` AS DOUBLE)")],
        output_order=["p_brand", "mo", "rev"],
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "quality_docs",
    r"""
WITH s AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
           AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
           AS n_punct
  FROM documents
)
SELECT doc_id,
       CAST(0.4 * (CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1 ELSE 0 END)
          + 0.3 * (CASE WHEN CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)
                             <= 0.2 THEN 1 ELSE 0 END)
          + 0.3 * (CASE WHEN CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1)
                             BETWEEN 3 AND 12 THEN 1 ELSE 0 END)
            AS DOUBLE) AS quality_score
FROM s
""",
)
def quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pysparkline.operators import text

    prep(spark)
    return text.quality_score(_docs(spark, sf_dir), "doc_id", "text")


@_register(
    "time_parse_reformat",
    """
SELECT strftime(strptime(strftime(l_shipdate, '%Y/%m/%d'), '%Y/%m/%d'),
                '%Y-%m') AS ym,
       COUNT(*) AS n
FROM lineitem GROUP BY ym ORDER BY ym
""",
)
def time_parse_reformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeParsing extraction fn (DruidQuerySpec.scala:82-88): parse a
    formatted string back to a timestamp and re-emit in another format —
    native date_format/to_timestamp, no JS."""
    spec = ir.GroupByQuery(
        dimensions=[
            ir.ExprDim(
                "date_format(to_timestamp(date_format(l_shipdate, 'yyyy/MM/dd'),"
                " 'yyyy/MM/dd'), 'yyyy-MM')",
                "ym",
                ["l_shipdate"],
            )
        ],
        aggregations=[ir.CountAgg("n")],
        limit_spec=ir.LimitSpec([ir.OrderByColumn("ym")]),
    )
    return _ctx(spark, sf_dir).query(spec)


@_register(
    "sql_multi_interval",
    """
SELECT l_returnflag, COUNT(*) AS n
FROM lineitem
WHERE (l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-03-01')
   OR (l_shipdate >= DATE '1998-06-01' AND l_shipdate < DATE '1998-09-01')
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def sql_multi_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint date ranges -> a multi-interval list (QueryIntervals.scala
    semantics); each interval prunes __month partitions independently."""
    return _sql_ctx(spark, sf_dir).sql("""
SELECT l_returnflag, COUNT(*) AS n
FROM lineitem
WHERE (l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-03-01')
   OR (l_shipdate >= DATE '1998-06-01' AND l_shipdate < DATE '1998-09-01')
GROUP BY l_returnflag ORDER BY l_returnflag
""")


@_register(
    "embedding_neardup",
    """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.46
ORDER BY id_a, id_b
""",
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact upper-triangle baseline (the
    LSH-bucketed variant is dedup.cosine_neardup_pairs(approximate=True) —
    at a real near-dup threshold (>=0.95) hyperplane collision probability
    is ~0.86/table, so recall is high; at this synthetic corpus's max
    cosine ~0.51 the exact path is the meaningful check)."""
    from pysparkline.operators import dedup

    prep(spark)
    emb = _emb(spark, sf_dir)
    return dedup.cosine_neardup_pairs(emb, "vec_id", "embedding", 0.46)


@_register(
    "semantic_dedup_emb",
    """
SELECT a.vec_id, a.label AS cluster,
  NOT EXISTS (
    SELECT 1 FROM embeddings b
    WHERE b.label = a.label AND b.vec_id < a.vec_id
      AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6)
          >= 0.46
  ) AS kept
FROM embeddings a ORDER BY a.vec_id
""",
)
def semantic_dedup_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: within each cluster, drop a row when
    an earlier (smaller-id) member has cosine >= threshold. The fixture's
    ``label`` column stands in for the kmeans assignment so the oracle is
    exact SQL (the kmeans path is dedup.semantic_dedup(cluster_col=None),
    exercised in tests); threshold 0.46 sits below this synthetic corpus's
    max cosine so real drops occur."""
    from pysparkline.operators import dedup

    prep(spark)
    emb = _emb(spark, sf_dir)
    out = dedup.semantic_dedup(
        emb, "vec_id", "embedding", 0.46, cluster_col="label"
    )
    return out.orderBy("vec_id")


@_register(
    "dsir_select_docs",
    r"""
WITH rtok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(coalesce(text,'')),
                                                '\s+'), x -> x <> '') AS ts
  FROM documents
),
ttok AS (
  SELECT list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                     x -> x <> '') AS ts
  FROM documents WHERE lang = 'en'
),
rfeat AS (
  SELECT doc_id, unnest(ts) AS f FROM rtok
  UNION ALL
  SELECT doc_id, w1 || ' ' || w2 AS f FROM (
    SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1,
           unnest(ts[2:len(ts)]) AS w2
    FROM rtok WHERE len(ts) >= 2)
),
tfeat AS (
  SELECT unnest(ts) AS f FROM ttok
  UNION ALL
  SELECT w1 || ' ' || w2 AS f FROM (
    SELECT unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
    FROM ttok WHERE len(ts) >= 2)
),
rb AS (SELECT doc_id,
              CAST('0x' || substr(md5(f),1,8) AS BIGINT) % 10000 AS b
       FROM rfeat),
tb AS (SELECT CAST('0x' || substr(md5(f),1,8) AS BIGINT) % 10000 AS b
       FROM tfeat),
cr AS (SELECT b, count(*) AS cr FROM rb GROUP BY b),
ct AS (SELECT b, count(*) AS ct FROM tb GROUP BY b),
tot AS (SELECT (SELECT sum(cr) FROM cr) AS tr,
               (SELECT coalesce(sum(ct), 0) FROM ct) AS tt),
lw AS (
  SELECT r.doc_id,
         round(sum(ln((coalesce(ct.ct, 0) + 1.0) / (cr.cr + 1.0))
                   + ln((CAST(tot.tr AS DOUBLE) + 10000.0)
                        / (CAST(tot.tt AS DOUBLE) + 10000.0))),
               6) AS dsir_logw
  FROM rb r JOIN cr ON cr.b = r.b LEFT JOIN ct ON ct.b = r.b, tot
  GROUP BY r.doc_id
),
alld AS (
  SELECT d.doc_id, coalesce(lw.dsir_logw, 0.0) AS dsir_logw
  FROM documents d LEFT JOIN lw USING (doc_id)
  WHERE d.doc_id IS NOT NULL
),
keyed AS (
  SELECT doc_id, dsir_logw,
         round(dsir_logw + (-ln(-ln(
           (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'),
                                1, 13) AS BIGINT)
            + 0.5) / 4503599627370496.0))), 6) AS key
  FROM alld
),
top AS (SELECT * FROM keyed ORDER BY key DESC, doc_id LIMIT 60)
SELECT doc_id, dsir_logw,
       row_number() OVER (ORDER BY key DESC, doc_id) AS sample_rank
FROM top ORDER BY sample_rank
""",
)
def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169), the production "make the crawl look like the
    target corpus" curation method: hashed unigram+bigram features
    (portable md5 buckets), add-one-smoothed importance weights
    ln(p_target/p_raw) summed per document, Gumbel-top-k resampling with
    CONTENT-KEYED uniforms (the weighted_sample discipline) so the draw
    replays bit-for-bit across engines and partition layouts. Here the
    target distribution is the English slice; the selection measurably
    over-represents it (tests). The oracle replays feature hashing,
    both distributions, the weights AND the Gumbel draw in DuckDB.
    100 TB posture: bucket-count tables bounded by n_buckets
    (broadcast), one map-side-combined per-doc sum, top-k heap
    (TakeOrderedAndProject) — nothing corpus-sized shuffles."""
    from pyspark.sql import functions as F

    from pysparkline.operators import sampling

    prep(spark)
    docs = _docs(spark, sf_dir)
    return sampling.dsir_select(
        docs, docs.where(F.col("lang") == "en"), 60
    ).orderBy("sample_rank")


@_register(
    "nb_classify_docs",
    r"""
WITH labeled AS (SELECT * FROM documents WHERE lang IS NOT NULL),
tok AS (SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM labeled),
tc AS (SELECT lang AS label, tok, count(*) AS c FROM tok GROUP BY lang, tok),
cls AS (SELECT lang AS label, count(*) AS n_docs FROM labeled GROUP BY lang),
ctok AS (SELECT lang AS label, count(*) AS n_tokens FROM tok GROUP BY lang),
consts AS (SELECT (SELECT count(DISTINCT tok) FROM tc) AS v,
                  (SELECT count(*) FROM labeled) AS total),
dtok AS (SELECT doc_id,
                unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x <> '')) AS tok
         FROM documents),
pairs AS (SELECT d.doc_id, c.label, d.tok FROM dtok d CROSS JOIN cls c),
ll AS (
  SELECT p.doc_id, p.label,
         sum(ln((coalesce(tc.c, 0) + 1.0) / (ct.n_tokens + consts.v))) AS s
  FROM pairs p
  JOIN ctok ct ON ct.label = p.label
  LEFT JOIN tc ON tc.label = p.label AND tc.tok = p.tok, consts
  GROUP BY p.doc_id, p.label
),
empt AS (SELECT doc_id FROM documents
         EXCEPT SELECT DISTINCT doc_id FROM dtok),
ll2 AS (SELECT * FROM ll UNION ALL
        SELECT e.doc_id, c.label, 0.0 FROM empt e CROSS JOIN cls c),
sc AS (SELECT l.doc_id, l.label,
              round(l.s + ln(CAST(c.n_docs AS DOUBLE) / consts.total),
                    6) AS nb_score
       FROM ll2 l JOIN cls c USING (label), consts),
best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                      ORDER BY nb_score DESC, label) AS r
         FROM sc)
SELECT doc_id, label AS nb_label, nb_score FROM best WHERE r = 1
ORDER BY doc_id
""",
)
def nb_classify_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes document classifier (round-8 continuation)
    — the fastText-style quality/domain/language filter slot of a
    CCNet-class ingest pipeline, trained in ONE map-side-combined
    aggregation (no gradient loop) and scored with pure joins: per class,
    add-one-smoothed token log-likelihood sums + log-prior, argmax per
    document with the engine-agreed tie rule (6dp-rounded score, then
    smallest label). Token-free documents score on the prior alone. The
    oracle replays training AND scoring relationally in DuckDB — exact
    to the rounded score. Accuracy on this synthetic fixture is
    fixture-dependent (the oracle verifies the math, not label quality);
    operators/text.py nb_train/nb_score docstrings carry the 100 TB
    posture (model-sized shuffles, broadcast class list, token-keyed
    model join)."""
    from pysparkline.operators import text

    prep(spark)
    docs = _docs(spark, sf_dir)
    m = text.nb_train(docs, "text", "lang")
    return text.nb_score(docs, "doc_id", "text", m).orderBy("doc_id")


@_register(
    "perplexity_docs",
    r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
counts AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
lm AS (SELECT tok, ln((c + 1.0) / (n + v)) AS logp FROM counts, tot)
SELECT t.doc_id, count(*) AS n_tokens, round(-avg(l.logp), 6) AS nll
FROM tok t JOIN lm l USING (tok)
GROUP BY t.doc_id ORDER BY t.doc_id
""",
)
def perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity quality signal (the cheap analog of the
    CCNet-style LM filter): corpus unigram model with add-one smoothing,
    per-document mean negative log-likelihood. Exact dual implementation in
    DuckDB — same tokenizer regex, same smoothing."""
    from pysparkline.operators import text

    prep(spark)
    docs = _docs(spark, sf_dir)
    return text.perplexity_scores(docs, "doc_id", "text").orderBy("doc_id")


@_register(
    "bigram_nll_docs",
    r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS ts
  FROM documents
),
uni AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(ts) AS tok FROM tok) GROUP BY tok
),
tot AS (SELECT sum(c) AS n, count(*) AS v FROM uni),
p1 AS (SELECT tok, (c + 1.0) / (n + v) AS p1 FROM uni, tot),
bg AS (
  SELECT doc_id,
         unnest(ts[1:len(ts) - 1]) AS w1,
         unnest(ts[2:len(ts)]) AS w2
  FROM tok WHERE len(ts) >= 2
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, sum(c2) AS cc FROM c2 GROUP BY w1)
SELECT b.doc_id, count(*) AS n_bigrams,
       round(-avg(ln(
         CAST(0.7 AS DOUBLE) * (CAST(c2.c2 AS DOUBLE) / CAST(ctx.cc AS DOUBLE))
         + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * p1.p1
       )), 6) AS nll
FROM bg b
JOIN c2 USING (w1, w2)
JOIN ctx USING (w1)
JOIN p1 ON p1.tok = b.w2
GROUP BY b.doc_id ORDER BY b.doc_id
""",
)
def bigram_nll_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity (lam*p_bigram + (1-lam)*p1_addone,
    lam=0.7) — the fidelity rung above the unigram filter toward CCNet's
    5-gram KenLM. Exact dual implementation in DuckDB: same tokenizer
    regex, same smoothing, and the interpolation complement computed as
    the SAME IEEE subtraction (1.0 - 0.7 in float64) on both engines —
    a decimal-literal 0.3 would differ from the double by 1 ULP."""
    from pysparkline.operators import text

    prep(spark)
    docs = _docs(spark, sf_dir)
    return text.bigram_perplexity_scores(docs, "doc_id", "text").orderBy(
        "doc_id"
    )


@_register(
    "semantic_decontam_emb",
    """
WITH b AS (SELECT vec_id AS bench_id, embedding AS bv FROM embeddings
           WHERE vec_id >= 400),
c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id < 400),
sims AS (
  SELECT c.vec_id, b.bench_id,
         round(list_cosine_similarity(CAST(c.cv AS DOUBLE[]),
                                      CAST(b.bv AS DOUBLE[])), 6) AS cosine
  FROM c, b
), best AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cosine DESC, bench_id) AS r
  FROM sims
)
SELECT vec_id, bench_id, cosine, cosine >= 0.42 AS contaminated
FROM best WHERE r = 1 ORDER BY vec_id
""",
)
def semantic_decontam_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination: vectors 0-399 are the corpus,
    400+ the 'benchmark'; every corpus row gets its nearest benchmark
    item + a contamination verdict at cosine >= 0.42 (between this
    fixture's 99.9th-pct 0.377 and max 0.513 cross-cosine, so real
    flags occur). Broadcast bench, one corpus scan, map-side argmax —
    the paraphrase-contamination check n-gram decontaminate misses."""
    from pyspark.sql import functions as F

    from pysparkline.operators import clean

    prep(spark)
    emb = _emb(spark, sf_dir)
    return clean.semantic_decontaminate(
        emb.where(F.col("vec_id") < 400),
        emb.where(F.col("vec_id") >= 400),
        threshold=0.42,
    ).orderBy("vec_id")


@_register(
    "stratified_sample_docs",
    """
SELECT lang, COUNT(*) AS n_total, TRUE AS sample_ok
FROM documents GROUP BY lang
""",
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sample + audit: the exact per-stratum totals
    are oracle-checked, and sample_ok asserts the sampled count sits within
    6-sigma binomial bounds of rate*n — a seed-robust determinism contract
    (the exact sampled subset depends on partition layout)."""
    from pyspark.sql import functions as F

    from pysparkline.operators import sampling

    prep(spark)
    docs = _docs(spark, sf_dir)
    rate = 0.5
    sampled = sampling.stratified_sample(docs, "lang", rate, seed=42)
    got = sampling.sample_counts(sampled, "lang").withColumnRenamed("n", "n_sampled")
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    sd = F.sqrt(F.col("n_total") * rate * (1 - rate))
    ok = (
        F.abs(F.col("n_sampled") - F.col("n_total") * rate) <= 6 * sd + 1
    )
    return (
        totals.join(got, "lang", "left")
        .na.fill({"n_sampled": 0})
        .select("lang", "n_total", ok.alias("sample_ok"))
    )


@_register(
    "mix_sources_docs",
    """
SELECT source AS __source, COUNT(*) AS n_total, TRUE AS mix_ok
FROM documents GROUP BY source
""",
)
def mix_sources_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixture + audit: per-source totals oracle-checked;
    mix_ok asserts each source's sampled contribution is within 6-sigma
    binomial bounds of its weight."""
    from pyspark.sql import functions as F

    from pysparkline.operators import sampling

    prep(spark)
    docs = _docs(spark, sf_dir)
    srcs = [r[0] for r in docs.select("source").distinct().collect()]
    sources = {s: docs.where(F.col("source") == s) for s in srcs}
    weights = {s: 0.8 if i % 2 == 0 else 0.3 for i, s in enumerate(sorted(srcs))}
    mixed = sampling.mix_sources(sources, weights, seed=42)
    got = (
        mixed.groupBy("__source").agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    totals = docs.groupBy(F.col("source").alias("__source")).agg(
        F.count(F.lit(1)).alias("n_total")
    )
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )
    w = wmap[F.col("__source")]
    sd = F.sqrt(F.col("n_total") * w * (1 - w))
    ok = F.abs(F.col("n_sampled") - F.col("n_total") * w) <= 6 * sd + 1
    return (
        totals.join(got, "__source", "left")
        .na.fill({"n_sampled": 0})
        .select("__source", "n_total", ok.alias("mix_ok"))
    )


@_register(
    "ivf_topk",
    _TOP1_ORACLE.format(qfilter="% 100 = 0"),
)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (KMeans cells, n_probe=2) with the same oracle-checkable
    invariant as LSH: exact brute-force top-1 + recall@5 bound."""
    from pyspark.sql import functions as F

    from pysparkline.operators import similarity

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # measured recall@5 >= 0.6 at sf0.001/0.01/0.1 with 3 probes of 8 cells
    ivf = similarity.ivf_topk(emb, queries, k=5, n_clusters=8, n_probe=3)
    return _ann_recall_invariant(spark, emb, queries, ivf, 5, 0.4)


@_register("pq_topk", _TOP1_ORACLE.format(qfilter="% 100 = 0"))
def pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (8 subspaces x 256 codes -> 8 small ints per
    vector; ADC shortlist + exact re-rank — the compressed-corpus search
    path) with the shared oracle invariant: exact brute-force top-1 +
    recall@5 bound (measured: 1.0 at sf0.001/0.01, >=0.8 per query at
    sf0.1)."""
    from pyspark.sql import functions as F

    from pysparkline.operators import similarity

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pq = similarity.pq_topk(emb, queries, k=5)
    return _ann_recall_invariant(spark, emb, queries, pq, 5, 0.6)


_IVF_INDEX: dict[str, object] = {}


def _ivf_index(spark: SparkSession, sf_dir: str):
    """Build-once IVF index per sf_dir (the ANN serving posture: persisted
    centroids + cell-partitioned corpus parquet), cached like the OLAP
    index fixtures."""
    from pysparkline.operators.similarity import IvfIndex
    from pysparkline.tpch import DEFAULT_CACHE_ROOT

    key = os.path.abspath(sf_dir)
    idx = _IVF_INDEX.get(key)
    if idx is not None and idx.spark is spark:
        return idx
    path = os.path.join(
        DEFAULT_CACHE_ROOT, f"ivf_{os.path.basename(os.path.normpath(key))}"
    )
    if os.path.exists(os.path.join(path, IvfIndex.MANIFEST)):
        idx = IvfIndex.load(spark, path)
    else:
        idx = IvfIndex.build(
            spark, _emb(spark, sf_dir), path, n_clusters=8, seed=42
        )
    _IVF_INDEX[key] = idx
    return idx


_IVFPQ_INDEX: dict[str, object] = {}


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """Build-once persisted IVF-PQ index per sf_dir (coarse cells for
    partition pruning + PQ codes for the compressed column-pruned scan),
    cached like _ivf_index."""
    from pysparkline.operators.similarity import IvfPqIndex
    from pysparkline.tpch import DEFAULT_CACHE_ROOT

    key = os.path.abspath(sf_dir)
    idx = _IVFPQ_INDEX.get(key)
    if idx is not None and idx.spark is spark:
        return idx
    path = os.path.join(
        DEFAULT_CACHE_ROOT, f"ivfpq_{os.path.basename(os.path.normpath(key))}"
    )
    if os.path.exists(os.path.join(path, IvfPqIndex.MANIFEST)):
        idx = IvfPqIndex.load(spark, path)
    else:
        idx = IvfPqIndex.build(
            spark, _emb(spark, sf_dir), path, n_clusters=8, m_subspaces=8,
            n_codes=64, seed=42,
        )
    _IVFPQ_INDEX[key] = idx
    return idx


@_register("ivfpq_index_topk", _TOP1_ORACLE.format(qfilter="% 100 = 0"))
def ivfpq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ serving (build-once cells + codes; search =
    probed-cell PartitionFilters -> column-pruned ADC code scan -> bounded
    exact re-rank) with the shared oracle invariant: exact brute-force
    top-1 + recall@5 bound."""
    from pyspark.sql import functions as F

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = _ivfpq_index(spark, sf_dir)
    res = idx.search(queries, k=5, n_probe=3)
    return _ann_recall_invariant(spark, emb, queries, res, 5, 0.4)


_TEXT_INDEX: dict = {}


def _text_index(spark: SparkSession, sf_dir: str):
    """Build-once persisted BM25 inverted index per sf_dir (term-bucketed
    postings parquet + corpus-constant manifest), cached like _ivf_index."""
    from pysparkline.operators.search import TextIndex
    from pysparkline.tpch import DEFAULT_CACHE_ROOT

    key = os.path.abspath(sf_dir)
    idx = _TEXT_INDEX.get(key)
    if idx is not None and idx.spark is spark:
        return idx
    path = os.path.join(
        DEFAULT_CACHE_ROOT, f"textix_{os.path.basename(os.path.normpath(key))}"
    )
    if os.path.exists(os.path.join(path, TextIndex.MANIFEST)):
        idx = TextIndex.load(spark, path)
    else:
        idx = TextIndex.build(spark, _docs(spark, sf_dir), path, n_buckets=16)
    _TEXT_INDEX[key] = idx
    return idx


@_register("text_index_topk", _bm25_oracle_sql("documents", _BM25_QUERY, k=10))
def text_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-inverted-index BM25 (TextIndex: term-bucketed postings, the
    probed buckets prune partitions statically — plan-asserted) — identical
    scoring contract to bm25_topk_docs, so the same DuckDB oracle applies."""
    prep(spark)
    return _text_index(spark, sf_dir).search(_BM25_QUERY, k=10)


@_register(
    "ivf_index_topk",
    _TOP1_ORACLE.format(qfilter="% 100 = 0"),
)
def ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF search (IvfIndex: centroids manifest + cell-partitioned
    parquet, probes prune partitions statically) — same estimator and oracle
    invariant as ivf_topk; identical params give identical results, so the
    recall bound carries over."""
    from pyspark.sql import functions as F

    prep(spark)
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = _ivf_index(spark, sf_dir).search(queries, k=5, n_probe=3)
    return _ann_recall_invariant(spark, emb, queries, res, 5, 0.4)


@_register(
    "ivf_append_topk",
    _TOP1_ORACLE.format(qfilter="% 100 = 0"),
)
def ivf_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-IVF ingest (round 6): the index is built on HALF the
    corpus, the other half arrives through IvfIndex.append (assigned to
    the frozen centroids, committed as a batch directory via atomic
    manifest rewrite — SignatureStore's committed-batch layout). Search
    reads every committed batch with the same static cell pruning, so the
    recall invariant is checked against brute force over the FULL corpus —
    appended vectors must be findable, not second-class. Exact probed-cell
    equivalence vs a numpy reference is pinned in
    tests/test_ivf_index.py::test_append_matches_exact_probed_topk."""
    import tempfile

    from pyspark.sql import functions as F

    from pysparkline.operators.similarity import IvfIndex

    prep(spark)
    emb = _emb(spark, sf_dir)
    idx = IvfIndex.build(
        spark,
        emb.where(F.col("vec_id") % 2 == 0),
        tempfile.mkdtemp(prefix="ivf_append_"),
        n_clusters=8,
        seed=42,
    )
    idx.append(emb.where(F.col("vec_id") % 2 == 1))
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = idx.search(queries, k=5, n_probe=3)
    return _ann_recall_invariant(spark, emb, queries, res, 5, 0.4)


@_register(
    "text_index_append_topk",
    _bm25_oracle_sql("documents", _BM25_QUERY, k=10),
)
def text_index_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index ingest (round 7 — the last persisted
    index without it): TextIndex is built on HALF the documents, the other
    half arrives through append (postings batch directory + corpus
    constants updated in ONE atomic manifest rewrite). totalDl is an exact
    integer, so search over base+batches is BIT-identical to an index
    built on the full corpus — the same DuckDB oracle as text_index_topk
    applies unchanged. Crash-invisibility + compaction pinned in
    tests/test_search_pack.py."""
    import tempfile

    from pyspark.sql import functions as F

    from pysparkline.operators.search import TextIndex

    prep(spark)
    docs = _docs(spark, sf_dir)
    idx = TextIndex.build(
        spark,
        docs.where(F.col("doc_id") % 2 == 0),
        tempfile.mkdtemp(prefix="tix_append_"),
        n_buckets=16,
    )
    idx.append(docs.where(F.col("doc_id") % 2 == 1))
    return idx.search(_BM25_QUERY, k=10)


@_register(
    "skew_salted_distinct",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS distinct_user_id
FROM events GROUP BY event_type
""",
)
def skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-group-safe exact count-distinct: hash-bucket the value space so a
    dominant group's distinct-set build spreads across n reduce tasks.
    Salting changes placement, never answers — the oracle is the plain
    COUNT(DISTINCT)."""
    from pysparkline.operators import skew

    prep(spark)
    ev = tpch.read_events(spark, sf_dir)
    return skew.salted_count_distinct(ev, ["event_type"], "user_id", n_salts=16)


@_register(
    "avg_null_aware",
    """
SELECT CAST(user_id % 3 AS BIGINT) AS g,
       CAST(SUM(CASE WHEN event_type = 'purchase'
                     THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
         / COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS avg_pv,
       COUNT(*) AS n
FROM events GROUP BY 1
""",
)
def avg_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI avg semantics on a null-bearing column: AvgAgg decomposes to
    sum(x)/count(x) (NON-null divisor), not sum(x)/count(*) — the divergence
    the round-1 advisor flagged. The null column is synthesized (testdata has
    no NULLs) so the divisor genuinely differs from the row count."""
    from pyspark.sql import functions as F

    from pysparkline import lowering

    prep(spark)
    ev = tpch.read_events(spark, sf_dir).withColumn(
        "pv",
        F.expr(
            "CASE WHEN event_type = 'purchase'"
            " THEN CAST(value AS DECIMAL(12,2)) END"
        ),
    )
    spec = ir.GroupByQuery(
        dimensions=[ir.ExprDim("CAST(user_id % 3 AS BIGINT)", "g", ["user_id"])],
        aggregations=[ir.AvgAgg("avg_pv", "pv"), ir.CountAgg("n")],
    )
    return lowering.lower(spec, lowering.Backing.base(ev, "ts"))


# ---------------------------------------------------------------------------
# 11. SQL front end (ctx.sql: ANSI SQL -> IR -> planner -> backing)
# ---------------------------------------------------------------------------


def _sql_ctx(spark: SparkSession, sf_dir: str) -> OlapContext:
    c = _ctx(spark, sf_dir)
    if c.base_tables is None:
        c.base_tables = tpch.load_star_tables(spark, sf_dir)
    return c


_SQL_UNION_ARMS = f"""
SELECT 'early' AS period, l_returnflag AS flag,
       CAST(SUM({PRICE}) AS DOUBLE) AS rev, COUNT(*) AS n
FROM lineitem WHERE l_shipdate < DATE '1997-01-01' GROUP BY l_returnflag
UNION ALL
SELECT 'late' AS period, l_returnflag AS flag,
       CAST(SUM({PRICE}) AS DOUBLE) AS rev, COUNT(*) AS n
FROM lineitem WHERE l_shipdate >= DATE '1997-01-01' GROUP BY l_returnflag
ORDER BY period, flag
"""


@_register("sql_union_arms", _SQL_UNION_ARMS)
def sql_union_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation acceleration (round 7): the BI period-blend UNION ALL.
    Each arm is planned and lowered through the index independently
    (ir.SetOpQuery; the reference unioned per-grouping-set Druid queries
    the same way, DruidStrategy.scala:74-76) and the lazy cube-served
    results combine positionally in one DAG; the constant arm tags are
    Druid's constant post-aggregator analog. Previously this whole shape
    fell back to spark.sql over the raw base star. A non-servable arm
    still declines the entire statement to the always-correct fallback
    (tests/test_setops.py)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_UNION_ARMS)
    backing = ctx.query_history[-1].backing
    assert backing == "setop[cube,cube]", (
        f"both arms must be index-served, got {backing}"
    )
    return out


_SQL_IN_SUBQUERY = f"""
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST(SUM({PRICE}) AS DOUBLE) AS rev
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT')
  AND l_shipdate >= DATE '1995-12-01' AND l_shipdate < DATE '1997-09-01'
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_in_subquery", _SQL_IN_SUBQUERY)
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated IN-subquery acceleration (round 8) — the reference's
    "SubQry" benchmark family (BenchMarkDetails.org:95-102; its 357x ratio
    rode the subquery's filters reaching Druid instead of a raw scan).
    The subquery conjunct lowers as a left_semi join of the orders key set
    (dim grain, read from the base table) into the interval-PRUNED flat
    scan BEFORE aggregation (ir.SemiJoinQuery, session._lower_semijoin) —
    previously this whole shape fell back to spark.sql over the raw star.
    NOT IN / correlated subqueries decline honestly
    (tests/test_semijoin.py)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_IN_SUBQUERY)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-base[orders]]", (
        f"IN-subquery must be semi-join accelerated, got {backing}"
    )
    return out


_SQL_EXISTS_SEMI = f"""
SELECT l_linestatus AS status,
       COUNT(*) AS n,
       CAST(SUM({QTY}) AS DOUBLE) AS qty
FROM lineitem
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_orderkey = l_orderkey AND o_totalprice > 150000)
GROUP BY l_linestatus
ORDER BY status
"""


@_register("sql_exists_semi", _SQL_EXISTS_SEMI)
def sql_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-correlated EXISTS on the same semi-join hook (round 8): the
    correlation conjunct (o_orderkey = l_orderkey) is resolved via star
    column membership, the residual filter stays with the inner key set,
    and the outer's flat scan left_semi joins it. Non-equi or multi-hop
    correlation declines to the fallback (tests/test_semijoin.py)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_EXISTS_SEMI)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-base[orders]]", (
        f"EXISTS must be semi-join accelerated, got {backing}"
    )
    return out


_SQL_SCALAR_SUBQUERY = f"""
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST(SUM({PRICE}) AS DOUBLE) AS rev
FROM lineitem
WHERE l_quantity >= (SELECT MAX(l_quantity) - 5 FROM lineitem
                     WHERE l_returnflag = 'R')
  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_scalar_subquery", _SQL_SCALAR_SUBQUERY)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated SCALAR subquery acceleration (round 8): the
    near-the-extreme BI staple. The 1-row inner aggregate plans through
    the index — here it rides a CUBE (the filtered MAX merges the cube's
    pre-built max(l_quantity) cells) — and broadcast-cross-joins the
    outer's interval-pruned flat scan, filtering BEFORE aggregation:
    lazy, no driver-side collect of the scalar, NULL scalar = zero rows
    (ANSI). Correlated scalars (TPC-H Q17's per-group form) and
    non-aggregate scalars decline honestly, including the outer-ALIAS
    correlation shape the unqualified-name scope check cannot see
    (tests/test_semijoin.py). The above-AVG form is also accelerated
    (tests/test_semijoin.py::test_scalar_avg_fact_grain); AVG over a
    cast expression keeps the IR's existing honest decline."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_SCALAR_SUBQUERY)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-scalar:cube]", (
        f"scalar subquery must ride a cube, got {backing}"
    )
    return out


_SQL_NOT_EXISTS_ANTI = f"""
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST(SUM({PRICE}) AS DOUBLE) AS rev
FROM lineitem
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_orderkey = l_orderkey
                    AND o_orderpriority = '1-URGENT')
  AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 25)
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_not_exists_anti", _SQL_NOT_EXISTS_ANTI)
def sql_not_exists_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS -> left_anti (no NULL trap, unlike NOT IN which declines)
    composed with a second IN arm: both key sets join the SAME flat scan in
    one DAG. Anti-join correctness note: a NULL outer key has no match, so
    the row is kept — exactly SQL's NOT EXISTS with an equi-correlation
    that can never be true."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_NOT_EXISTS_ANTI)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-anti:base[orders],base[part]]", (
        f"NOT EXISTS + IN must both be accelerated, got {backing}"
    )
    return out


_SQL_CORR_IN = f"""
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST(SUM({PRICE}) AS DOUBLE) AS rev
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT'
                       AND o_totalprice > l_extendedprice * 20)
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_corr_in", _SQL_CORR_IN)
def sql_corr_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated IN acceleration (round-8 continuation): the IN equality
    becomes one more equi-correlation pair on the EXISTS machinery —
    exact, because IN's NULL-key non-matches are precisely equi-join
    non-matches — and the correlated price comparison rides the join
    condition as a non-equi residual. This shape previously declined to
    the spark.sql fallback (it was a decline TEST until this round)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_CORR_IN)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-base[orders]]", (
        f"correlated IN must be semi-join accelerated, got {backing}"
    )
    return out


_SQL_NOT_IN = f"""
SELECT l_linestatus AS status,
       COUNT(*) AS n,
       CAST(SUM({QTY}) AS DOUBLE) AS qty
FROM lineitem
WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                         WHERE o_orderpriority = '1-URGENT')
  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY l_linestatus
ORDER BY status
"""


@_register("sql_not_in", _SQL_NOT_IN)
def sql_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN acceleration. Round 10: when the key's NDV estimate fits a
    broadcast, the whole predicate routes to Spark's single-column
    NULL-AWARE anti join — exact ANSI three-valued semantics (one NULL
    member empties the result, a NULL outer key passes only against an
    empty set) in ONE inner scan. Past the broadcast bound the r8
    anti-arm + guard-bundle form serves instead (NAAJ would degrade to a
    nested-loop join at 100 TB); the guard now aggregates the ARM's
    distinct key set rather than re-scanning (GuardCond.over_arm) —
    tests/test_semijoin.py exercises both routes and the NULL edges.
    The interval still prunes the outer scan. Correlated NOT IN serves
    via the per-group guard (sql_corr_not_in)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_NOT_IN)
    backing = ctx.query_history[-1].backing
    assert backing == (
        "semijoin[flat<-naaj:base[orders]]"
    ), f"NOT IN must be null-aware-anti-join accelerated, got {backing}"
    return out


_SQL_CORR_NOT_IN = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n
FROM lineitem
WHERE l_linenumber NOT IN (SELECT CASE WHEN o_totalprice < 150000
                               THEN NULL ELSE o_orderkey % 7 END
                           FROM orders
                           WHERE o_orderkey = l_orderkey)
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_corr_not_in", _SQL_CORR_NOT_IN)
def sql_corr_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT IN (round-8 continuation): a multi-pair left_anti
    arm (correlation pairs + the key equality) composed with the
    PER-GROUP guard (ir.CorrScalarCond in guard form — count(*)/count(key)
    per correlation key, LEFT-joined with COALESCE so a missing group
    behaves as the empty set). The CASE key plants NULL members in SOME
    groups only: those groups' rows fail the membership test entirely
    while other groups still decide by the anti join — the global
    (uncorrelated) guard would wrongly empty the whole result, which is
    exactly why correlated NOT IN needed its own machinery."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_CORR_NOT_IN)
    backing = ctx.query_history[-1].backing
    assert backing == (
        "semijoin[flat<-anti:base[orders],corrguard:base[orders]]"
    ), f"correlated NOT IN must be anti + per-group guard, got {backing}"
    return out


_SQL_SHARE_OF_TOTAL = f"""
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST(SUM({PRICE}) AS DOUBLE)
       / (SELECT CAST(SUM({PRICE}) AS DOUBLE) FROM lineitem) AS share
FROM lineitem
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_share_of_total", _SQL_SHARE_OF_TOTAL)
def sql_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT-list scalar subquery (round-8 continuation) — the
    share-of-total BI idiom in its subquery spelling (the window spelling
    is served by WindowPostSpec). ir.ScalarSelectQuery: the SUM leaf is
    appended to the base statement as a hidden aggregate (both it and the
    grand total ride the CUBE here), the 1-row total broadcast-cross-joins
    the grouped result, and the deferred projection re-renders the item;
    ORDER BY is lifted above the join so emitted order is guaranteed.
    House-style DOUBLE casts keep the division engine-exact
    (ir.ScalarSelectQuery typing note). Correlated select-list scalars
    and DISTINCT-over-scalar lists decline honestly."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_SHARE_OF_TOTAL)
    backing = ctx.query_history[-1].backing
    assert backing == "scalarselect[cube<-ss:cube]", (
        f"share-of-total must ride cubes on both sides, got {backing}"
    )
    return out


_SQL_OR_SUBQUERIES = f"""
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST(SUM({QTY}) AS DOUBLE) AS qty
FROM lineitem
WHERE l_returnflag = 'R'
   OR l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_or_subqueries", _SQL_OR_SUBQUERIES)
def sql_or_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery under OR (round-8 continuation) — Catalyst's
    ExistenceJoin re-expressed: the IN atom becomes a LEFT marker join of
    the DISTINCT key set (distinct on the full join condition, so no
    duplication is possible) and the OR renders over the flag; UNKNOWN
    collapses to FALSE, which is row-set-preserving in a positive
    (no-NOT-above) context. NOT IN / quantified / scalar atoms inline
    their guard conditions the same way; residual-carrying EXISTS
    declines (its key set is not distinct on the join condition)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_OR_SUBQUERIES)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-mark:base[orders]]", (
        f"OR subquery must be marker-join accelerated, got {backing}"
    )
    return out


_SQL_OR_CORR_SCALAR = f"""
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST(SUM({QTY}) AS DOUBLE) AS qty
FROM lineitem
WHERE l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
   OR l_quantity > 49
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_or_corr_scalar", _SQL_OR_CORR_SCALAR)
def sql_or_corr_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery under OR (round 11, the last
    OR-composition decline closed): Q17's per-partkey bundle joins the
    row-grain scan LEFT (one bundle row per key — no duplication; an
    inner join would drop rows the OR's other branch must keep) and the
    comparison inlines into the OR filter. A missing group's NULL value
    makes its branch UNKNOWN -> FALSE, which is row-set-preserving in
    the positive context — exactly the 1-row scalar semantics. The
    bundle still rides the partkey cube. AVG(l_quantity) is
    engine-exact (integer-valued column)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_OR_CORR_SCALAR)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-corrscalar:cube]", (
        f"correlated scalar under OR must decorrelate, got {backing}"
    )
    return out


_SQL_EXISTS_THETA = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n
FROM lineitem
WHERE EXISTS (SELECT 1 FROM custnation
              WHERE cn_regionkey * 2 > l_linenumber
                AND cn_nationkey < 20)
GROUP BY l_returnflag
ORDER BY flag
"""

# oracle spelling: the engine's custnation view is nation renamed
# (tpch.load_star_tables) — DuckDB reads the raw table
_SQL_EXISTS_THETA_ORACLE = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n
FROM lineitem
WHERE EXISTS (SELECT 1 FROM nation
              WHERE n_regionkey * 2 > l_linenumber
                AND n_nationkey < 20)
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_exists_theta", _SQL_EXISTS_THETA_ORACLE)
def sql_exists_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-only correlated EXISTS (round 11): NO equi anchor — the
    join condition is pure theta, which is never acceptable at scale over
    an arbitrary inner. The serve path is a broadcast nested-loop semi
    join gated by a tiny-inner PROOF: the dim-grain distinct row set is
    materialized locally under theta_inner_max_rows (default 1000; one
    scan serves proof and join); past the cap the statement declines to
    the always-correct spark.sql fallback. The inner here is custnation
    — 25 rows at EVERY scale factor (TPC-H fixes the nation table), so
    the row stays green at any SF the harness picks (a p_size-filtered
    part inner, the first spelling, crossed the cap at sf0.1 — review
    finding). The fact-table-inner and OR-composed variants decline
    (tests/test_semijoin.py)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_EXISTS_THETA)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-theta:base[custnation]]", (
        f"residual-only EXISTS must broadcast-theta join, got {backing}"
    )
    return out


_SQL_SCALAR_THETA = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n
FROM lineitem
WHERE l_quantity < (SELECT 10 + MAX(cn_regionkey) * 9 FROM custnation
                    WHERE cn_nationkey > l_linenumber * 3)
GROUP BY l_returnflag
ORDER BY flag
"""

_SQL_SCALAR_THETA_ORACLE = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n
FROM lineitem
WHERE l_quantity < (SELECT 10 + MAX(n_regionkey) * 9 FROM nation
                    WHERE n_nationkey > l_linenumber * 3)
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_scalar_theta", _SQL_SCALAR_THETA_ORACLE)
def sql_scalar_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-only correlated SCALAR (round 11, late) — the rate-card
    idiom: a per-row aggregate over dim rows selected by a RANGE
    condition on the outer row (tiered pricing / SLA / rate tables).
    No equi anchor exists, so the row-grain bundle joins DISTINCT outer
    residual tuples to the broadcast dim row set on the residual alone
    (theta), re-aggregates per tuple, and joins back null-safely — all
    gated by the theta_inner_max_rows proof. The inner is custnation —
    25 rows at EVERY scale factor, so the proof holds at any SF the
    harness picks (the first spelling's p_size-filtered part inner
    crossed the cap at sf0.1 — review finding). Empty match sets give a
    NULL scalar -> comparison UNKNOWN -> row dropped, exact ANSI;
    MAX over integers is order-independent and engine-exact."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_SCALAR_THETA)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-corrscalar-theta:base[custnation]]", (
        f"residual-only scalar must serve the theta bundle, got {backing}"
    )
    return out


_SQL_OR_EXISTS_RESIDUAL = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n
FROM lineitem
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_orderkey = l_orderkey
                AND o_totalprice > l_extendedprice * 30)
   OR l_quantity > 49
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_or_exists_residual", _SQL_OR_EXISTS_RESIDUAL)
def sql_or_exists_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-carrying EXISTS under OR (round 11, late — the last
    OR-composition decline closed): the marker join cannot carry a
    residual (its key set is not distinct per key), so the atom
    rewrites to `count of matched rows > 0` — a row-grain count bundle
    per DISTINCT (anchor + residual outer column) tuple, joined back
    null-safely onto the scan (one bundle row per tuple: the inline OR
    composition cannot duplicate). The same rewrite composes IN / NOT
    IN / quantified / scalar residual atoms under OR
    (tests/test_semijoin.py::test_or_residual_family_serves)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_OR_EXISTS_RESIDUAL)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-corrguard:base[orders]]", (
        f"residual EXISTS under OR must ride the count bundle,"
        f" got {backing}"
    )
    return out


_SQL_HAVING_SCALAR = """
SELECT l_returnflag AS flag,
       CAST(SUM(l_quantity) AS DOUBLE) AS qty
FROM lineitem
GROUP BY l_returnflag
HAVING SUM(l_quantity) > (SELECT SUM(l_quantity) / 5 FROM lineitem)
   AND COUNT(*) > 10
ORDER BY flag
"""


@_register("sql_having_scalar", _SQL_HAVING_SCALAR)
def sql_having_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING scalar subquery (round-8 continuation) — above-threshold
    groups vs a global aggregate. The scalar-bearing HAVING conjunct
    lifts to a post-filter over the joined frame (hidden SUM leaf +
    broadcast 1-row scalar); the subquery-free conjunct stays in the
    base statement's HAVING. Mirrored every pytest; rotates into the
    driver window next round (the 50-row window is full of this
    session's subquery rows)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_HAVING_SCALAR)
    backing = ctx.query_history[-1].backing
    # round 10: both the grouped base and the global scalar ride cubes —
    # the raw-double SUM(l_quantity) gained its sum_qty_raw merge metric
    assert backing == "scalarselect[cube<-ss:cube]", (
        f"HAVING scalar must post-filter the joined frame, got {backing}"
    )
    return out


_SQL_HAVING_IN = """
SELECT l_returnflag AS flag,
       CAST(SUM(l_quantity) AS DOUBLE) AS qty
FROM lineitem
GROUP BY l_returnflag
HAVING l_returnflag IN (SELECT DISTINCT l_returnflag FROM lineitem
                        WHERE l_quantity > 45)
   AND COUNT(*) > 10
ORDER BY flag
"""


@_register("sql_having_in", _SQL_HAVING_IN)
def sql_having_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING membership subquery (round 9, VERDICT r8 #3) — the group
    key filtered against a subquery's key set AFTER aggregation. The arm
    LEFT-joins the inner's DISTINCT key set onto the aggregated frame
    with a marker flag (ir.ScalarSelectQuery.having_arms) and the HAVING
    conjunct renders as coalesce(flag, false) — exact in filter context;
    the subquery-free conjunct stays in the base HAVING. The reference
    never served HAVING subqueries at all (SURVEY.md §2 'notably
    absent'); this reuses the WHERE-side key-set machinery against the
    post-aggregation frame."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_HAVING_IN)
    backing = ctx.query_history[-1].backing
    assert backing.startswith("scalarselect[") and "hm:" in backing, (
        f"HAVING IN must be marker-join accelerated, got {backing}"
    )
    return out


_SQL_HAVING_EXISTS = """
SELECT l_linestatus AS st,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_linestatus
HAVING EXISTS (SELECT 1 FROM orders WHERE o_orderpriority = '1-URGENT')
   AND NOT EXISTS (SELECT 1 FROM orders WHERE o_totalprice > 1e12)
ORDER BY st
"""


@_register("sql_having_exists", _SQL_HAVING_EXISTS)
def sql_having_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING [NOT] EXISTS (round 9, VERDICT r8 #3): uncorrelated
    existence tests gate the whole result set — each lowers as a
    broadcast 1-row count(*) bundle (having_guards) whose condition
    renders inline into the post-filter; correlated forms decline to the
    always-correct fallback (decline-tested in
    tests/test_having_subquery.py)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_HAVING_EXISTS)
    backing = ctx.query_history[-1].backing
    assert backing.startswith("scalarselect[") and backing.count("hg:") == 2, (
        f"HAVING EXISTS must be guard-accelerated, got {backing}"
    )
    return out


_SQL_CORR_QUANT = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n
FROM lineitem
WHERE l_quantity >= ALL (SELECT l2.l_quantity FROM lineitem l2
                         WHERE l2.l_orderkey = lineitem.l_orderkey)
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_corr_quant", _SQL_CORR_QUANT)
def sql_corr_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated quantified comparison (VERDICT r8 #6 driver row) — 'is
    this line the max-quantity line of its order': DuckDB rewrites
    `x >= ALL(S)` to NOT(x < ANY(S)); the per-group guard
    (ir.CorrScalarCond in guard form) computes count(*)/count(item)/max
    PER correlation key (l_orderkey), LEFT-joins the scan on the key and
    filters with coalesced counts so an empty group passes vacuously.
    Spark cannot PARSE ALL quantifiers — engine surface beyond the
    fallback."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_CORR_QUANT)
    backing = ctx.query_history[-1].backing
    assert backing.startswith("semijoin[") and "corrguard:" in backing, (
        f"correlated ALL must per-group-guard accelerate, got {backing}"
    )
    return out


_SQL_HAVING_CORR_ANY = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST(MAX(l_quantity) AS DOUBLE) AS mx
FROM lineitem
GROUP BY l_returnflag
HAVING MAX(l_quantity) >= ALL (SELECT l2.l_quantity FROM lineitem l2
                               WHERE l2.l_returnflag
                                     = lineitem.l_returnflag)
   AND AVG(l_quantity) > ANY (SELECT l2.l_quantity FROM lineitem l2
                              WHERE l2.l_returnflag
                                    = lineitem.l_returnflag
                                AND l2.l_quantity < 30)
ORDER BY flag
"""


@_register("sql_having_corr_any", _SQL_HAVING_CORR_ANY)
def sql_having_corr_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated quantified comparisons in HAVING (round 10, VERDICT r9
    #6): the WHERE side's per-group guard machinery evaluated one
    aggregation later — each conjunct's per-correlation-key aggregate
    bundle LEFT-joins the aggregated frame on the SELECTED group column
    and the exact three-valued condition renders inline into the
    post-filter (ir.ScalarSelectQuery.having_corr). The ALL arm rides
    the flags cube (min/max/count merge metrics); the ANY arm's inner
    filter forces its bundle to the flat scan. Spark cannot PARSE ALL
    quantifiers at all, so this surface extends the engine rather than
    accelerating a fallback; DuckDB runs the same text natively."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_HAVING_CORR_ANY)
    backing = ctx.query_history[-1].backing
    assert backing.startswith("scalarselect[") and backing.count(
        "hcorr:"
    ) == 2, f"correlated HAVING quantified must serve, got {backing}"
    return out


_SQL_HAVING_CORR_RESIDUAL = """
SELECT l_linenumber AS ln,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sq
FROM lineitem
GROUP BY l_linenumber
HAVING SUM(l_quantity) > ANY (SELECT l2.l_quantity * 1000 FROM lineitem l2
                              WHERE l2.l_linenumber = lineitem.l_linenumber
                                AND l2.l_quantity
                                    < lineitem.l_linenumber + 3)
   AND MIN(l_extendedprice) <= ALL (SELECT l2.l_extendedprice
                                    FROM lineitem l2
                                    WHERE l2.l_linenumber
                                          = lineitem.l_linenumber
                                      AND l2.l_quantity
                                          > lineitem.l_linenumber * 6)
ORDER BY ln
"""


@_register("sql_having_corr_residual", _SQL_HAVING_CORR_RESIDUAL)
def sql_having_corr_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated quantified HAVING with NON-EQUI residuals (round 11,
    VERDICT r10 missing #2 closed): ``inner.d < f(outer.g)`` conjuncts
    mean the per-key bundle cannot precompute, so the inner stays row
    grain and the bundle recomputes per DISTINCT (correlation + residual
    frame column) tuple after the residual-conditioned join
    (ir.CorrScalarCond.row_grain; served in session._lower_scalar_select)
    — joined back null-safely, so frame rows can never duplicate. Both
    the ANY and ALL three-valued guards evaluate over the residual-matched
    set (counts read 0 on empty, min/max NULL). The reference never
    served ANY HAVING subquery (DruidQuerySpec.scala:458-476); Spark
    cannot parse quantifiers — engine surface twice over. DuckDB runs the
    same text natively as the oracle."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_HAVING_CORR_RESIDUAL)
    backing = ctx.query_history[-1].backing
    assert backing.startswith("scalarselect[") and backing.count(
        "hcorr-row:"
    ) == 2, f"residual correlated HAVING must serve, got {backing}"
    return out


_SQL_SELECT_CORR_SCALAR = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST((SELECT AVG(l2.l_quantity) FROM lineitem l2
             WHERE l2.l_returnflag = lineitem.l_returnflag)
            AS DOUBLE) AS grp_avg,
       CAST(100.0 * COUNT(*) / (SELECT COUNT(*) FROM lineitem l2
                                WHERE l2.l_returnflag
                                      = lineitem.l_returnflag)
            AS DOUBLE) AS pct_of_grp
FROM lineitem
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_select_corr_scalar", _SQL_SELECT_CORR_SCALAR)
def sql_select_corr_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries in the SELECT LIST (round 11): the
    per-correlation-key bundle LEFT-joins the aggregated frame
    (having_corr with an empty condition) and the select item's value
    expression re-renders over the leaf aliases, splicing back into the
    enclosing item so arithmetic around the subquery (the share-of-own-
    group division here) composes naturally — the dedup memo gives
    textually identical subqueries one bundle. Both bundles here ride the
    flags CUBE end to end (the frame AND the per-key aggregates are
    index-served). A missing group's NULL leaves evaluate like the empty
    set (count-class leaves COALESCE to 0, ANSI). Correlation on an
    unselected column declines (no frame slot — and Spark's own fallback
    rejects the shape too)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_SELECT_CORR_SCALAR)
    backing = ctx.query_history[-1].backing
    assert backing.startswith("scalarselect[") and "hcorr:" in backing, (
        f"select-list correlated scalar must serve, got {backing}"
    )
    return out


_SQL_CORR_SCALAR_RESIDUAL = f"""
SELECT CAST(SUM({PRICE}) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
WHERE l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey
                      AND l2.l_shipdate <= lineitem.l_shipdate)
"""


@_register("sql_corr_scalar_residual", _SQL_CORR_SCALAR_RESIDUAL)
def sql_corr_scalar_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 with a HISTORY-TO-DATE residual (round 11): the
    correlated scalar's per-partkey average is taken over lineitems
    shipped up to the probe row's own date — a non-equi residual the
    classical per-key GROUP BY cannot absorb. The leaves recompute per
    DISTINCT (l_partkey, l_shipdate) tuple after the residual-conditioned
    row join (ir.CorrScalarCond.row_grain; sqlfront._parse_corr_scalar
    residual branch), joined back null-safely — never a per-row
    recomputation, never a theta join (the equi pair drives the hash
    join). DuckDB runs the same text natively as the oracle."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_CORR_SCALAR_RESIDUAL)
    backing = ctx.query_history[-1].backing
    assert backing.startswith("semijoin[") and "corrscalar:" in backing, (
        f"residual correlated scalar must decorrelate, got {backing}"
    )
    return out


_SQL_QUANTIFIED_RESIDUAL = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sq
FROM lineitem
WHERE l_extendedprice > ANY (SELECT o.o_totalprice / 8 FROM orders o
                             WHERE o.o_orderkey = lineitem.l_orderkey
                               AND o.o_totalprice
                                   < lineitem.l_extendedprice * 40)
  AND l_quantity <= ALL (SELECT o.o_totalprice / 900 FROM orders o
                         WHERE o.o_orderkey = lineitem.l_orderkey
                           AND o.o_totalprice > lineitem.l_quantity * 100)
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_quantified_residual", _SQL_QUANTIFIED_RESIDUAL)
def sql_quantified_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE-side correlated quantified comparisons with NON-EQUI residual
    conjuncts (round 11): per-key bundles cannot precompute over a
    residual-filtered set, so standalone conjuncts rewrite to EXISTS-style
    arms with the comparison folded into the join condition
    (sqlfront._quantified_residual_arm) — `x > ANY` is a SEMI arm
    (exists a matched row with x > item), `x <= ALL` (NOT + complement
    ANY) an ANTI arm matching rows where the comparison IS NOT FALSE, so
    NULL members and the empty matched set keep exact ANSI three-valued
    semantics in plain hash semi/anti joins (never a theta join — an
    equi anchor is required, decline-tested). Spark cannot parse ALL
    quantifiers at all; DuckDB runs the same text natively as the
    oracle."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_QUANTIFIED_RESIDUAL)
    backing = ctx.query_history[-1].backing
    assert backing.startswith("semijoin[") and "anti:" in backing, (
        f"quantified residual must serve via arms, got {backing}"
    )
    return out


_SQL_HAVING_CORR_NOT_IN = """
SELECT l_linestatus AS st,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_linestatus
HAVING AVG(l_quantity) NOT IN (SELECT l2.l_quantity FROM lineitem l2
                               WHERE l2.l_linestatus
                                     = lineitem.l_linestatus)
ORDER BY st
"""


@_register("sql_having_corr_not_in", _SQL_HAVING_CORR_NOT_IN)
def sql_having_corr_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT IN in HAVING (round 10): membership marker arm +
    the per-group NULL/empty count guard — the WHERE-side pairing
    (sql_corr_not_in) joined onto the aggregated frame instead of the
    row-grain scan. A NULL member in one group's set empties THAT group
    only; a group whose set is empty always passes (ANSI, decline-free
    because the guard COALESCEs through the LEFT join)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_HAVING_CORR_NOT_IN)
    backing = ctx.query_history[-1].backing
    assert backing.startswith("scalarselect[") and "hm:" in backing and (
        "hcorr:" in backing
    ), f"correlated HAVING NOT IN must serve, got {backing}"
    return out


_SQL_QUANTIFIED = """
SELECT l_returnflag AS flag,
       COUNT(*) AS n,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price
FROM lineitem
WHERE l_extendedprice > ALL (SELECT o_totalprice / 400 FROM orders
                             WHERE o_totalprice < 100000)
GROUP BY l_returnflag
ORDER BY flag
"""


@_register("sql_quantified", _SQL_QUANTIFIED)
def sql_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified ALL comparison (round-8 continuation): DuckDB rewrites
    `x > ALL(S)` to NOT(x <= ANY(S)); the guard broadcasts a 1-row
    aggregate bundle (count(*), count(item), max(item)) and filters with
    the exact three-valued condition — empty set keeps everything, a NULL
    member drops everything, else x > max. Spark SQL cannot even PARSE
    ALL quantifiers, so this surface EXTENDS the fallback rather than
    accelerating it (a decline would be an engine error, not a slow
    path). The oracle runs the same text on DuckDB, which supports ALL
    natively."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_QUANTIFIED)
    backing = ctx.query_history[-1].backing
    assert backing == "semijoin[flat<-guard:base[orders]]", (
        f"ALL quantifier must be guard accelerated, got {backing}"
    )
    return out


_SQL_CORR_SCALAR = f"""
SELECT CAST(SUM({PRICE}) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
WHERE l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


@_register("sql_corr_scalar", _SQL_CORR_SCALAR)
def sql_corr_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17's correlated scalar aggregate in its NATIVE subquery
    spelling (round-8 continuation; the q17 row expresses the same
    semantics as a hand-written window): ir.CorrScalarCond decorrelates
    the classical way — GROUP BY the correlation key, equi join, compare
    before the outer aggregation. AVG(l_quantity) is engine-exact (the
    column is integer-valued, so per-group double sums are exact in any
    accumulation order). Non-equi correlation and outer refs inside
    aggregate arguments decline honestly."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_CORR_SCALAR)
    backing = ctx.query_history[-1].backing
    assert backing.startswith("semijoin[flat<-corrscalar:"), (
        f"correlated scalar must decorrelate, got {backing}"
    )
    return out


@_register(
    "sql_q1",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({QTY}) AS DOUBLE) AS sum_qty,
       CAST(SUM({PRICE}) AS DOUBLE) AS sum_base_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def sql_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 via the SQL entry point: the text parses to a GroupByQuery with an
    extracted interval, and the planner answers it from a cube backing."""
    return _sql_ctx(spark, sf_dir).sql(f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({QTY}) AS DOUBLE) AS sum_qty,
       CAST(SUM({PRICE}) AS DOUBLE) AS sum_base_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")


@_register(
    "sql_star_join",
    """
SELECT n.n_name AS c_nation, COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY rev DESC, c_nation
LIMIT 10
""",
)
def sql_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join elimination from SQL text: the 4-table join collapses onto
    the flattened index (JoinTransform.scala:305-441 semantics)."""
    return _sql_ctx(spark, sf_dir).sql("""
SELECT c_nation, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN custnation ON c_nationkey = cn_nationkey
GROUP BY c_nation
ORDER BY rev DESC, c_nation
LIMIT 10
""")


@_register(
    "sql_rollup",
    """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
)
def sql_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_ctx(spark, sf_dir).sql("""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""")


@_register(
    "sql_having_postagg",
    """
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         / COUNT(*) AS avg_item_price,
       COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
HAVING COUNT(*) > 20
ORDER BY p_brand
""",
)
def sql_having_postagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_ctx(spark, sf_dir).sql("""
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         / COUNT(*) AS avg_item_price,
       COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
HAVING COUNT(*) > 20
ORDER BY p_brand
""")


@_register(
    "sql_subquery",
    """
SELECT l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
FROM lineitem
WHERE l_quantity > 20
  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus
""",
)
def sql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SubQry+filters+ShipDtRange (the reference's benchmark query family):
    the FROM-subquery flattens into the outer aggregate, keeping interval
    extraction + cube eligibility."""
    return _sql_ctx(spark, sf_dir).sql("""
SELECT l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
FROM (SELECT l_linestatus, l_shipdate, l_quantity, l_extendedprice
      FROM lineitem WHERE l_quantity > 20) t
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus
""")


@_register(
    "sql_distinct",
    """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
WHERE l_quantity > 30 ORDER BY l_returnflag, l_linestatus
""",
)
def sql_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT -> GroupBy-on-dims (the reference's GroupBy->Search
    distinct-values shape, QuerySpecTransforms.scala:225-277) answered from
    the cube when the columns are in grain."""
    return _sql_ctx(spark, sf_dir).sql("""
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
WHERE l_quantity > 30 ORDER BY l_returnflag, l_linestatus
""")


@_register(
    "sql_cte",
    """
WITH big AS (
  SELECT l_orderkey, l_extendedprice, o_orderpriority
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_quantity > 30
)
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
FROM big GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def sql_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH inlining: the CTE body (projection + filter over a star join)
    substitutes into the outer aggregate, which then star-eliminates onto the
    index — Catalyst did this inlining for the reference before its rules ran;
    sqlfront._inline_ctes is the AST-level equivalent."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql("""
WITH big AS (
  SELECT l_orderkey, l_extendedprice, o_orderpriority
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_quantity > 30
)
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
FROM big GROUP BY o_orderpriority ORDER BY o_orderpriority
""")
    assert ctx.query_history[-1].backing != "sparksql", (
        "CTE must rewrite onto the index, not fall back"
    )
    return out


@_register(
    "sql_grouping_fns",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS BIGINT)
         AS gid,
       COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
)
def sql_grouping_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI GROUPING()/GROUPING_ID() from SQL text, mapped onto the engine's
    __grouping_id bitmask (reference: grouping-set literal re-insertion,
    AggregateTransform.scala:233-291). GROUPING_ID(a,b) == 2*GROUPING(a) +
    GROUPING(b) by the same bit convention."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql("""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       GROUPING_ID(o_orderstatus, o_orderpriority) AS gid,
       COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""")
    assert ctx.query_history[-1].backing != "sparksql"
    return out


@_register(
    "sql_window_share",
    """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
  round(sum(l_quantity) / sum(sum(l_quantity))
        OVER (PARTITION BY l_returnflag), 6) AS flag_share,
  rank() OVER (ORDER BY sum(l_quantity) DESC) AS rk
FROM lineitem
WHERE l_shipdate < DATE '1998-09-03'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def sql_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions over the aggregated result (share-of-total +
    global rank) — beyond the reference surface (it never rewrote windows,
    SURVEY §2 'notably absent'). The heavy aggregation is still served by
    the index; the windows cost one pass over the planner-bounded output
    (ir.WindowPostSpec, lowering._apply_window_posts)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql("""
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
  round(sum(l_quantity) / sum(sum(l_quantity))
        OVER (PARTITION BY l_returnflag), 6) AS flag_share,
  rank() OVER (ORDER BY sum(l_quantity) DESC) AS rk
FROM lineitem
WHERE l_shipdate < DATE '1998-09-03'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
    assert ctx.query_history[-1].backing != "sparksql", (
        "window-over-aggregate must rewrite onto the index, not fall back"
    )
    return out


@_register(
    "sql_window_mom",
    """
SELECT date_trunc('month', l_shipdate) AS m,
  round(sum(l_extendedprice), 2) AS rev,
  round(lag(sum(l_extendedprice), 1, 0.0) OVER (ORDER BY m), 2) AS prev_rev,
  round(sum(l_extendedprice)
        - lag(sum(l_extendedprice), 1, 0.0) OVER (ORDER BY m), 2) AS mom_delta
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY m ORDER BY m
""",
)
def sql_window_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue delta: lag() over the aggregated monthly
    series — the classic BI window pattern, served from the index with the
    lag applied to the ~12-row output (ir.WindowPostSpec offset family)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql("""
SELECT date_trunc('month', l_shipdate) AS m,
  round(sum(l_extendedprice), 2) AS rev,
  round(lag(sum(l_extendedprice), 1, 0.0) OVER (ORDER BY m), 2) AS prev_rev,
  round(sum(l_extendedprice)
        - lag(sum(l_extendedprice), 1, 0.0) OVER (ORDER BY m), 2) AS mom_delta
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY m ORDER BY m
""")
    assert ctx.query_history[-1].backing != "sparksql", (
        "lag-over-aggregate must rewrite onto the index, not fall back"
    )
    return out


@_register(
    "sql_window_ma",
    """
SELECT date_trunc('month', l_shipdate) AS m,
  round(sum(l_extendedprice), 2) AS rev,
  round(sum(sum(l_extendedprice)) OVER (ORDER BY m), 2) AS cum_rev,
  CAST(round(CAST(avg(sum(l_extendedprice)) OVER
    (ORDER BY m ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    AS DECIMAL(28,6)), 2) AS DOUBLE) AS ma3
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY m ORDER BY m
""",
)
def sql_window_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue + 3-month moving average: running frame (ANSI
    default RANGE..CURRENT ROW, tie-peers identical in Spark) and explicit
    ROWS BETWEEN frame over the index-served monthly series. The moving
    average rounds through DECIMAL(28,6) on BOTH sides: avg-of-sums can
    land exactly on a .xx5 half-edge where Spark (shortest-repr HALF_UP)
    and DuckDB (raw-double) round differently (VERDICT r3 #2)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql("""
SELECT date_trunc('month', l_shipdate) AS m,
  round(sum(l_extendedprice), 2) AS rev,
  round(sum(sum(l_extendedprice)) OVER (ORDER BY m), 2) AS cum_rev,
  CAST(round(CAST(avg(sum(l_extendedprice)) OVER
    (ORDER BY m ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    AS DECIMAL(28,6)), 2) AS DOUBLE) AS ma3
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY m ORDER BY m
""")
    assert ctx.query_history[-1].backing != "sparksql", (
        "running/framed windows must rewrite onto the index, not fall back"
    )
    return out


_SQL_WINDOW_RANGE = """
SELECT date_trunc('month', l_shipdate) AS m,
  round(sum(l_extendedprice), 2) AS rev,
  CAST(round(CAST(sum(sum(l_extendedprice)) OVER
    (ORDER BY m RANGE BETWEEN INTERVAL '2' MONTH PRECEDING AND CURRENT ROW)
    AS DECIMAL(28,6)), 2) AS DOUBLE) AS rev_3mo,
  count(sum(l_extendedprice)) OVER
    (ORDER BY m RANGE BETWEEN INTERVAL '2' MONTH PRECEDING AND CURRENT ROW)
    AS months_in_frame
FROM lineitem
WHERE (l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-03-01')
   OR (l_shipdate >= DATE '1997-06-01' AND l_shipdate < DATE '1998-01-01')
GROUP BY m ORDER BY m
"""


@_register("sql_window_range", _SQL_WINDOW_RANGE)
def sql_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE value frame with INTERVAL bounds over the index-served monthly
    series (VERDICT r3 #4). The multi-interval WHERE leaves a gap
    (Mar-May 1997 absent), so the 2-month VALUE frame at June covers June
    alone where a ROWS frame would wrongly reach back to February — the
    discriminating case. Lowers to Window.rangeBetween over a calendar
    month index (exact on month-truncated keys); DuckDB answers with
    native interval arithmetic."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_WINDOW_RANGE)
    assert ctx.query_history[-1].backing != "sparksql", (
        "INTERVAL RANGE frames must rewrite onto the index, not fall back"
    )
    return out


_SQL_WINDOW_RANGE_DESC = """
SELECT date_trunc('month', l_shipdate) AS m,
  round(sum(l_extendedprice), 2) AS rev,
  CAST(round(CAST(sum(sum(l_extendedprice)) OVER
    (ORDER BY m DESC RANGE BETWEEN INTERVAL '2' MONTH PRECEDING AND CURRENT ROW)
    AS DECIMAL(28,6)), 2) AS DOUBLE) AS rev_fwd3,
  count(sum(l_extendedprice)) OVER
    (ORDER BY m DESC RANGE BETWEEN INTERVAL '2' MONTH PRECEDING AND CURRENT ROW)
    AS months_in_frame
FROM lineitem
WHERE (l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-03-01')
   OR (l_shipdate >= DATE '1997-06-01' AND l_shipdate < DATE '1998-01-01')
GROUP BY m ORDER BY m
"""


@_register("sql_window_range_desc", _SQL_WINDOW_RANGE_DESC)
def sql_window_range_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCENDING RANGE value frame (VERDICT r4 #4): ORDER BY month DESC
    with a 2-MONTH PRECEDING frame sums the CURRENT-and-NEXT-two months —
    the trailing-window shape BI tools emit. The month gap (Mar-May 1997
    absent) discriminates a VALUE frame from a ROWS frame here too. Spark
    evaluates descending RangeFrames natively over the calendar-month
    surrogate; previously this shape declined to the spark.sql fallback."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_WINDOW_RANGE_DESC)
    assert ctx.query_history[-1].backing != "sparksql", (
        "descending RANGE frames must rewrite onto the index, not fall back"
    )
    return out


_SQL_WINDOW_FILTER_DISTINCT = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
  CAST(sum(count(*)) FILTER (WHERE l_linestatus = 'F')
    OVER (PARTITION BY l_returnflag) AS BIGINT) AS f_rows,
  CAST(count(DISTINCT l_linestatus) OVER (PARTITION BY l_returnflag)
    AS BIGINT) AS statuses
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@_register("sql_window_filter_distinct", _SQL_WINDOW_FILTER_DISTINCT)
def sql_window_filter_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER and COUNT(DISTINCT) window aggregates (round 5): FILTER
    rewrites to CASE WHEN inside the aggregate (Spark has no native window
    FILTER), DISTINCT count lowers to size(collect_set(..)) (Spark rejects
    DISTINCT window aggregates outright) — both previously spark.sql
    fallbacks; the heavy aggregation stays index-served."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_WINDOW_FILTER_DISTINCT)
    assert ctx.query_history[-1].backing != "sparksql", (
        "FILTER/DISTINCT windows must rewrite onto the index, not fall back"
    )
    return out


_SQL_WINDOW_LAG_NULLS = """
SELECT l_orderkey, l_linenumber, l_quantity,
  lag(CASE WHEN l_quantity >= 25 THEN l_quantity END IGNORE NULLS)
    OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity)
    AS prev_big
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-02-01'
ORDER BY l_orderkey, l_linenumber, l_quantity, prev_big
"""


@_register("sql_window_lag_nulls", _SQL_WINDOW_LAG_NULLS)
def sql_window_lag_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag IGNORE NULLS over the row-grain pruned scan (round 5): Spark
    evaluates it natively through SQL text (the python lag builder lacks
    the flag); the CASE makes nulls occur so null-skipping discriminates.
    prev_big joins the ORDER BY so tie rows (duplicate (orderkey,
    linenumber, quantity) triples exist in the fixture) emit in one order
    for the driver's ordered hash."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_WINDOW_LAG_NULLS)
    assert ctx.query_history[-1].backing != "sparksql", (
        "lag IGNORE NULLS must rewrite onto the index, not fall back"
    )
    return out


_SQL_WINDOW_SUM_DISTINCT = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
  CAST(sum(DISTINCT count(*)) OVER (PARTITION BY l_returnflag) AS BIGINT)
    AS distinct_count_sum,
  avg(DISTINCT CAST(count(*) AS BIGINT)) OVER (PARTITION BY l_returnflag)
    AS distinct_count_avg
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@_register("sql_window_sum_distinct", _SQL_WINDOW_SUM_DISTINCT)
def sql_window_sum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/avg DISTINCT window aggregates (round 5): a typed fold over
    collect_set — Spark rejects DISTINCT window aggregates outright
    (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED), so the rewrite is the ONLY way
    Spark serves this ANSI surface at all (like QUALIFY). CASTs on both
    sides: DuckDB sums BIGINTs into HUGEINT."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_WINDOW_SUM_DISTINCT)
    assert ctx.query_history[-1].backing != "sparksql", (
        "DISTINCT sum/avg windows must rewrite onto the index"
    )
    return out


_SQL_WINDOW_EXCLUDE_BODY = """
SELECT p_brand, l_linenumber AS ln, CAST(sum(l_quantity) AS BIGINT) AS qty,
  CAST(sum(CAST(sum(l_quantity) AS BIGINT)) OVER
    (ORDER BY l_linenumber RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
     EXCLUDE GROUP) AS BIGINT) AS qty_adjacent,
  CAST(sum(CAST(sum(l_quantity) AS BIGINT)) OVER
    (ORDER BY l_linenumber RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
     EXCLUDE TIES) AS BIGINT) AS qty_self_plus_adj,
  CAST(sum(CAST(sum(l_quantity) AS BIGINT)) OVER
    (PARTITION BY p_brand ORDER BY l_linenumber
     ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW)
     AS BIGINT) AS qty_neighbors,
  CAST(min(CAST(sum(l_quantity) AS BIGINT)) OVER
    (PARTITION BY p_brand ORDER BY l_linenumber
     ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW)
     AS BIGINT) AS min_neighbor
FROM {src} GROUP BY p_brand, l_linenumber
ORDER BY p_brand, ln
"""


@_register(
    "sql_window_exclude",
    _SQL_WINDOW_EXCLUDE_BODY.format(
        src="lineitem JOIN part ON l_partkey = p_partkey"
    ),
)
def sql_window_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI frame EXCLUDE clauses (round 6): Spark has no native EXCLUDE at
    all, so — like QUALIFY and DISTINCT windows — this surface exists only
    through the rewrite. sum EXCLUDE GROUP/TIES over a RANGE frame lower by
    subtracting the peer-group aggregate (RANGE [0,0] — exact: a RANGE
    frame holds a peer group entirely or not at all); sum EXCLUDE CURRENT
    ROW subtracts the row's own contribution; min EXCLUDE CURRENT ROW over
    a ROWS frame combines the sub-frames each side of the row. The shared
    month gap/tie structure: l_linenumber repeats across brands, so
    EXCLUDE GROUP (drop all same-ln rows) and EXCLUDE TIES (drop the other
    same-ln rows, keep self) genuinely differ. BIGINT args keep the
    subtraction exact; (p_brand, ln) is the grouping key, so the ORDER BY
    is total."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_WINDOW_EXCLUDE_BODY.format(src="lineitem"))
    assert ctx.query_history[-1].backing != "sparksql", (
        "composable EXCLUDE windows must rewrite onto the index"
    )
    return out


_SQL_WINDOW_NTH = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev,
  nth_value(l_linestatus, 2) OVER
    (PARTITION BY l_returnflag
     ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2))) DESC, l_linestatus
     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS runner_up,
  last_value(l_linestatus) OVER
    (PARTITION BY l_returnflag
     ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2))) DESC, l_linestatus
     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS weakest
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@_register("sql_window_nth", _SQL_WINDOW_NTH)
def sql_window_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value / last_value over full frames (VERDICT r3 #4): the
    runner-up and weakest status per returnflag by revenue, with a
    deterministic tiebreak. Both lower onto the bounded aggregate output;
    the heavy aggregation stays index-served."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_WINDOW_NTH)
    assert ctx.query_history[-1].backing != "sparksql", (
        "nth_value/last_value must rewrite onto the index, not fall back"
    )
    return out


_SQL_WINDOW_ROWGRAIN = """
SELECT l_orderkey, l_linenumber, l_quantity,
  row_number() OVER (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_quantity, l_shipdate) AS rn,
  sum(l_quantity) OVER (PARTITION BY l_orderkey
                        ORDER BY l_linenumber, l_quantity, l_shipdate)
    AS run_qty,
  count(1) OVER (ORDER BY l_shipdate
    RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW)
    AS trailing_week
FROM lineitem
WHERE l_shipdate >= DATE '1997-03-01' AND l_shipdate < DATE '1997-04-01'
ORDER BY l_orderkey, rn
"""


@_register("sql_window_rowgrain", _SQL_WINDOW_ROWGRAIN)
def sql_window_rowgrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-GRAIN windows (no GROUP BY — round 4): per-order line numbering,
    running quantity, and a trailing-7-day row count over raw fact rows.
    Evaluates over the index's star-eliminated, partition- and file-pruned
    scan (previously these fell back to spark.sql over re-joined base
    tables); fixed-length INTERVAL RANGE rides the epoch-seconds surrogate,
    exact on raw keys. Dimension-table-only windows still fall back — the
    flat backing is fact-grain (sqlfront._check_from). The window orders
    carry every selected column: (l_orderkey, l_linenumber) is NOT unique
    in this fixture, and the multiset is tie-deterministic only when tied
    rows are identical in everything the query projects. The final ORDER BY
    is (l_orderkey, rn) — TOTAL, since row_number is unique per partition
    and tied input rows are identical in every other projected column — so
    the driver's ordered hash can't flip on engine tie-break (an sf0.01
    ordered-mirror run caught the old (orderkey, linenumber) sort doing
    exactly that)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_WINDOW_ROWGRAIN)
    assert ctx.query_history[-1].backing != "sparksql", (
        "row-grain windows over the fact must rewrite onto the index"
    )
    return out


_SQL_QUALIFY_TOPK = """
SELECT l_returnflag, p_brand,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev,
  rank() OVER (PARTITION BY l_returnflag
               ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2))) DESC,
                        p_brand) AS rk
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY l_returnflag, p_brand
QUALIFY rk <= 3
ORDER BY l_returnflag, rk
"""


@_register("sql_qualify_topk", _SQL_QUALIFY_TOPK)
def sql_qualify_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY (round 4): top-3 brands per returnflag in one statement —
    the top-k-per-group idiom Spark SQL cannot express at all (no QUALIFY
    clause); the rank filter applies to the index-served aggregate after
    the window, before ORDER BY, and DuckDB answers the oracle with its
    native QUALIFY."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_QUALIFY_TOPK)
    assert ctx.query_history[-1].backing != "sparksql", (
        "QUALIFY must rewrite onto the index (Spark has no fallback for it)"
    )
    return out


_SQL_LATEST_PER_KEY = """
SELECT l_orderkey, l_linenumber, l_shipdate
FROM lineitem
WHERE l_shipdate >= DATE '1997-06-01' AND l_shipdate < DATE '1997-07-01'
QUALIFY row_number() OVER (PARTITION BY l_orderkey
  ORDER BY l_shipdate DESC, l_linenumber DESC) = 1
ORDER BY l_orderkey
"""


@_register("sql_latest_per_key", _SQL_LATEST_PER_KEY)
def sql_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-grain QUALIFY (round 4): latest line per order over the pruned
    scan — the dedup-to-latest idiom. The projection equals the partition +
    order keys, so tied rows are identical and the verdict is
    tie-deterministic."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql(_SQL_LATEST_PER_KEY)
    assert ctx.query_history[-1].backing != "sparksql", (
        "row-grain QUALIFY must rewrite onto the index"
    )
    return out


@_register(
    "sql_count_distinct",
    """
SELECT l_returnflag, COUNT(DISTINCT o_orderstatus) AS n_status,
       COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def sql_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT dim) through the SQL entry point: the analog of
    SPLRewriteDistinctAggregates — exact countDistinct when the column is in
    the backing grain (here: cube 'market' carries o_orderstatus)."""
    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql("""
SELECT l_returnflag, COUNT(DISTINCT o_orderstatus) AS n_status,
       COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag ORDER BY l_returnflag
""")
    assert ctx.query_history[-1].backing != "sparksql"
    return out


@_register(
    "sql_theta",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS users, COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def sql_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """theta_count_distinct through the SQL entry point (engine extension
    name; Druid exposed theta sketches via its SQL layer the same way):
    rides the events cube's theta_user_id_k4096 partials, exact while
    NDV < k so the oracle is plain COUNT(DISTINCT)."""
    from pyspark.sql import functions as F

    ctx = _events_ctx(spark, sf_dir)
    out = ctx.sql("""
SELECT event_type, theta_count_distinct(user_id) AS users, COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
""")
    assert ctx.query_history[-1].backing == "cube", ctx.query_history[-1].decision
    return out.select(
        "event_type", F.col("users").cast("bigint").alias("users"), "n"
    )


@_register(
    "sql_quantile",
    """
SELECT l_returnflag,
       round(CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9) AS DOUBLE), 4) AS p90_qty,
       round(CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS DOUBLE), 4) AS med_price,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def sql_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles through the SQL entry (QuantileAgg:
    row-grain lowering via F.percentile; cubes reject it so the planner's
    fallback machinery is exercised on every run)."""
    from pyspark.sql import functions as F

    ctx = _sql_ctx(spark, sf_dir)
    out = ctx.sql("""
SELECT l_returnflag, quantile_cont(l_quantity, 0.9) AS p90_qty,
       median(l_extendedprice) AS med_price, COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
    assert ctx.query_history[-1].backing != "sparksql"
    return out.select(
        "l_returnflag",
        F.round("p90_qty", 4).alias("p90_qty"),
        F.round("med_price", 4).alias("med_price"),
        "n",
    )


@_register(
    "sql_select_scan",
    """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_quantity >= 49 AND l_returnflag = 'N'
ORDER BY l_orderkey, l_linenumber
LIMIT 100
""",
)
def sql_select_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_ctx(spark, sf_dir).sql("""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_quantity >= 49 AND l_returnflag = 'N'
ORDER BY l_orderkey, l_linenumber
LIMIT 100
""")


@_register(
    "tfidf_docs",
    r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
n AS (SELECT count(*) AS n FROM documents),
wt AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 64 AS bucket,
         tf * (ln((n + 1.0) / (df + 1.0)) + 1) AS w
  FROM tf JOIN dfreq USING (tok), n
),
bw AS (SELECT doc_id, bucket, SUM(w) AS w FROM wt GROUP BY 1, 2)
SELECT doc_id, bucket,
       round(w / sqrt(SUM(w * w) OVER (PARTITION BY doc_id)), 6) AS weight
FROM bw ORDER BY doc_id, bucket
""",
)
def tfidf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed TF-IDF features (the text->vector bridge into the similarity
    family): md5-prefix hashing trick, smoothed idf, per-document L2
    normalization — every piece portable SQL, recomputed exactly by the
    oracle."""
    from pysparkline.operators import text

    prep(spark)
    docs = _docs(spark, sf_dir)
    return text.tfidf_hash_features(docs, "doc_id", "text", dim=64).orderBy(
        "doc_id", "bucket"
    )


@_register(
    "interval_join_events",
    """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS w_start,
         ts + INTERVAL 1 HOUR AS w_end
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, count(*) AS n_events,
       round(sum(e.value), 2) AS sum_value
FROM p JOIN events e
  ON e.user_id = p.user_id AND e.ts >= p.w_start AND e.ts < p.w_end
GROUP BY p.purchase_id ORDER BY p.purchase_id
""",
)
def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval join (events.interval_join): every event inside
    each purchase's 1-hour attribution window, per user — lowered to a
    shuffle EQUI-join on (user, time bucket) + containment filter instead
    of the nested-loop theta join Spark would otherwise plan. Aggregated
    per window; DuckDB recomputes with a plain range join."""
    from pyspark.sql import functions as F

    from pysparkline.operators import events as ev

    prep(spark)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
    )
    joined = ev.interval_join(
        events, purchases, "ts", "w_start", "w_end", on=["user_id"]
    )
    return (
        joined.groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("purchase_id")
    )


@_register(
    "incremental_dedup_docs",
    r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(length(text) - 4, 1) + 1),
           i -> substr(text, i, 5))) AS s
  FROM documents
), inv AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
common AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, l.n AS na, r.n AS nb,
         count(*) AS c
  FROM inv l JOIN inv r
    ON l.g = r.g
   AND ((l.doc_id % 3 <> 0 AND r.doc_id % 3 = 0)
     OR (l.doc_id % 3 = 0 AND r.doc_id % 3 = 0 AND l.doc_id < r.doc_id))
  GROUP BY 1, 2, 3, 4
),
dups AS (
  SELECT DISTINCT id_b FROM common
  WHERE round(c * 1.0 / (na + nb - c), 6) >= 0.5
)
SELECT d.doc_id AS id, (dups.id_b IS NULL) AS kept
FROM documents d LEFT JOIN dups ON d.doc_id = dups.id_b
WHERE d.doc_id % 3 = 0 ORDER BY id
""",
)
def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a persisted MinHash SignatureStore — the
    production ingest shape: the store holds the historical corpus' (2/3 of
    documents) signatures; the new batch (doc_id % 3 == 0) dedups against
    it AND its own earlier docs without rescanning history text except for
    the exact verification of candidates. Built into a fresh temp store per
    call (idempotent); DuckDB recomputes the verdict with exact shingle
    Jaccard (candidate recall is exact-equal on this corpus — the same
    identity minhash_pairs_docs pins)."""
    import tempfile

    from pyspark.sql import functions as F

    from pysparkline.operators.dedup import SignatureStore

    prep(spark)
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    store = SignatureStore.create(
        spark, tempfile.mkdtemp(prefix="sigstore_"), threshold=0.5
    )
    store.append(old, "doc_id", "text")
    verdict = store.dedup_and_append(
        new, "doc_id", "text", history_docs=old
    )
    return verdict.orderBy("id")


@_register(
    "incremental_substring_docs",
    r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents
), w AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
     range(1, greatest(len(t) - 8 + 1, 0) + 1),
     i -> array_to_string(t[i:i+8-1], ' ')))) AS w
  FROM t
), dups AS (
  SELECT DISTINCT r.doc_id AS id_b
  FROM w l JOIN w r ON l.w = r.w
   AND ((l.doc_id % 3 <> 0 AND r.doc_id % 3 = 0)
     OR (l.doc_id % 3 = 0 AND r.doc_id % 3 = 0 AND l.doc_id < r.doc_id))
)
SELECT d.doc_id AS id, (dups.id_b IS NULL) AS kept
FROM documents d LEFT JOIN dups ON d.doc_id = dups.id_b
WHERE d.doc_id % 3 = 0 ORDER BY id
""",
)
def incremental_substring_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact-substring decontamination against a persisted
    SubstringStore (round 6): the store holds the historical corpus'
    (2/3 of documents) window fingerprints; the new batch (doc_id % 3 == 0)
    is flagged for any shared >= 8-token run with history OR an earlier
    batch doc, exact-verified against the provided history texts, and only
    survivors' fingerprints append. DuckDB recomputes the verdict with a
    full window-string join. Built into a fresh temp store per call
    (idempotent) — the incremental complement of substring_dup_docs, same
    committed-batch crash discipline as incremental_dedup_docs."""
    import tempfile

    from pyspark.sql import functions as F

    from pysparkline.operators.dedup import SubstringStore

    prep(spark)
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    store = SubstringStore.create(
        spark, tempfile.mkdtemp(prefix="substrstore_"), min_tokens=8,
        max_df=None,  # exact mode: the oracle joins uncapped
    )
    store.append(old, "doc_id", "text")
    verdict = store.dedup_and_append(
        new, "doc_id", "text", history_docs=old
    )
    return verdict.orderBy("id")


def _curate_oracle() -> str:
    """Composed curation-funnel oracle: every stage reuses the formula its
    standalone oracle pins (quality_docs, lang_id_docs,
    repetition_stats_docs, dedup_exact_docs, decontaminate_docs,
    hash_split_docs), joined into one per-document verdict row."""
    lang = _lang_id_oracle()
    return rf"""
WITH lang AS ({lang}),
q AS (
  SELECT doc_id,
         0.4 * (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1 ELSE 0 END)
       + 0.3 * (CASE WHEN CAST(length(text)
                    - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                    AS DOUBLE) / greatest(length(text), 1) <= 0.2
                THEN 1 ELSE 0 END)
       + 0.3 * (CASE WHEN CAST(length(text) AS DOUBLE)
                    / greatest(len(list_filter(
                        regexp_split_to_array(text, '\s+'), x -> x <> '')), 1)
                    BETWEEN 3 AND 12 THEN 1 ELSE 0 END) AS score
  FROM documents
),
lines AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
  ) WHERE length(line) > 0
),
lstats AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS d, MAX(c) AS mx
  FROM (SELECT doc_id, line, COUNT(*) AS c FROM lines GROUP BY 1, 2)
  GROUP BY doc_id
),
words AS (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id, unnest(range(len(ws))) AS pos, unnest(ws) AS w
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'),
                             x -> length(x) > 0) AS ws
          FROM documents)
  )
),
bigrams2 AS (
  SELECT a.doc_id, a.w || chr(1) || b.w AS bg
  FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
bstats AS (
  SELECT doc_id, SUM(c) AS n, MAX(c) AS mx
  FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams2 GROUP BY 1, 2)
  GROUP BY doc_id
),
rep AS (
  SELECT d.doc_id,
         COALESCE(1.0 - CAST(l.d AS DOUBLE) / l.n, 0.0) AS dup_line_frac,
         COALESCE(CAST(b.mx AS DOUBLE) / b.n, 0.0) AS top_bigram_frac
  FROM documents d
  LEFT JOIN lstats l USING (doc_id)
  LEFT JOIN bstats b USING (doc_id)
),
toks2 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
           AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 8, 0) + 2),
                                      i -> array_to_string(t[i:i+7], ' ')))
           AS g
  FROM toks2
),
cg AS (SELECT doc_id AS corpus_id, unnest(g) AS gram FROM grams),
bg3 AS (SELECT doc_id AS bench_id, unnest(g) AS gram FROM grams
        WHERE doc_id % 17 = 0),
contaminated AS (
  SELECT DISTINCT corpus_id AS doc_id FROM cg JOIN bg3 USING (gram)
),
canon AS (
  SELECT doc_id,
         doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
  FROM documents
),
sp AS (
  SELECT doc_id,
         CASE WHEN CAST('0x' || substr(
                      md5(trim(regexp_replace(lower(coalesce(text, '')),
                                              '\s+', ' ', 'g'))),
                      1, 8) AS BIGINT) % 10000 < 9000 THEN 'train'
              WHEN CAST('0x' || substr(
                      md5(trim(regexp_replace(lower(coalesce(text, '')),
                                              '\s+', ' ', 'g'))),
                      1, 8) AS BIGINT) % 10000 < 9500 THEN 'valid'
              ELSE 'test'
         END AS split
  FROM documents
)
SELECT d.doc_id,
       q.score >= 0.5 AS quality_ok,
       lang.detected_lang IN ('en') AS lang_ok,
       (rep.dup_line_frac <= 0.3 AND rep.top_bigram_frac <= 0.2)
         AS repetition_ok,
       canon.is_canonical,
       (c.doc_id IS NULL) AS clean_ok,
       (q.score >= 0.5 AND lang.detected_lang IN ('en')
        AND rep.dup_line_frac <= 0.3 AND rep.top_bigram_frac <= 0.2
        AND canon.is_canonical AND c.doc_id IS NULL) AS kept,
       sp.split
FROM documents d
JOIN q USING (doc_id)
JOIN lang USING (doc_id)
JOIN rep USING (doc_id)
JOIN canon USING (doc_id)
JOIN sp USING (doc_id)
LEFT JOIN contaminated c USING (doc_id)
ORDER BY d.doc_id
"""


@_register("curate_docs", _curate_oracle())
def curate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation funnel (pipeline.curate_corpus):
    quality + language + repetition filters, exact dedup, benchmark
    decontamination (docs with doc_id % 17 == 0 play the eval set), and
    content-hash splits — one per-document verdict row, every flag
    independently recomputed by the DuckDB oracle. The per-row signals fuse
    into ONE projection (operators' column/append forms); the funnel's only
    shuffle is the content-hash canonical window plus the contamination
    join."""
    from pyspark.sql import functions as F

    from pysparkline.operators import pipeline

    prep(spark)
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 17 == 0)
    return pipeline.curate_corpus(docs, bench=bench).orderBy("doc_id")


@_register(
    "canonical_docs",
    """
WITH d AS (SELECT doc_id,
                  CAST((doc_id * 37) % 100 AS DOUBLE) AS quality
           FROM documents),
c AS (SELECT doc_id, quality,
             CASE WHEN doc_id % 25 = 0 THEN doc_id % 100
                  ELSE doc_id END AS cluster_id
      FROM d),
r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY quality DESC, doc_id) AS rn
      FROM c)
SELECT doc_id, quality, cluster_id, rn = 1 AS is_canonical
FROM r ORDER BY doc_id
""",
)
def canonical_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-preferring canonical selection over dup clusters (the
    keep-which-copy step after dedup): connected components over a
    deterministic chain pair set (doc_id % 25 == 0 linked to doc_id + 100;
    contiguous ids make the component minimum doc_id % 100 — a CLOSED FORM
    the oracle states), then per-cluster argmax quality with id
    tie-break."""
    from pyspark.sql import functions as F

    from pysparkline.operators import dedup

    prep(spark)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.pmod(F.col("doc_id") * 37, F.lit(100)).cast("double").alias(
            "quality"
        ),
    )
    pairs = (
        d.alias("a")
        .where(F.col("a.doc_id") % 25 == 0)
        .join(
            d.alias("b"),
            F.col("b.doc_id") == F.col("a.doc_id") + 100,
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    return dedup.canonical_docs(d, pairs).orderBy("doc_id")


@_register(
    "topk_per_group_docs",
    """
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || '42'), doc_id)
           AS rk
  FROM documents
) WHERE rk <= 7
ORDER BY source, doc_id
""",
)
def topk_per_group_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling: exactly min(k, group size) rows
    per source by md5-hash rank — content-keyed (layout/re-shard
    invariant, test-asserted), exact-count (Bernoulli stratified_sample
    cannot guarantee counts), and the md5 ranking is portable SQL the
    oracle replays verbatim."""
    from pysparkline.operators import sampling

    prep(spark)
    return sampling.top_k_per_group(
        _docs(spark, sf_dir).select("source", "doc_id"), "source", 7
    ).orderBy("source", "doc_id")


@_register(
    "weighted_sample_docs",
    """
WITH w AS (
  SELECT doc_id, source, n_chars,
         -- ::DOUBLE BEFORE + 0.5: UBIGINT + 0.5 is DECIMAL(22,1) in DuckDB
         -- and its decimal->double conversion rounds for payloads > 2^53,
         -- drifting the uniform 1 ULP off Spark's exact-double path
         -- (review r7b #3)
         ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 13))
               ::UBIGINT)::DOUBLE + 0.5) / 4503599627370496.0)
           / CAST(n_chars AS DOUBLE) AS key
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars > 0
)
SELECT doc_id, source, n_chars,
       CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT)
         AS sample_rank
FROM w ORDER BY key DESC, doc_id LIMIT 50
""",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis): 50 documents drawn length-proportionally (n_chars as the
    weight) via content-keyed uniforms — the first 52 md5 bits, an
    integer both engines convert to the SAME double, so the A-ES keys
    ln(u)/w and therefore the drawn set and order replay exactly in
    SQL."""
    from pysparkline.operators import sampling

    prep(spark)
    out = sampling.weighted_sample(
        _docs(spark, sf_dir).select("doc_id", "source", "n_chars"),
        "n_chars",
        k=50,
    )
    return out.orderBy("sample_rank")


@_register(
    "length_batches_docs",
    r"""
WITH q AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), b AS (
  SELECT *, CAST(floor(log2(greatest(n_tokens, 1))) AS INT) AS bucket
  FROM q
), r AS (
  SELECT *, row_number() OVER (PARTITION BY bucket
                               ORDER BY n_tokens, doc_id) AS rn
  FROM b
)
SELECT doc_id, n_tokens, bucket,
       CAST(floor((rn - 1) / 8) AS BIGINT) AS batch_idx,
       CAST((rn - 1) % 8 AS INT) AS pos_in_batch
FROM r ORDER BY doc_id
""",
)
def length_batches_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficient length-bucketed batching (the sequence-training
    batching recipe): power-of-two length buckets, batches cut in
    (n_tokens, id) order within each — padding-to-max beats id-order
    batching (test-asserted). Oversized buckets auto-shard exactly like
    pack_sequences (percentile cuts on the FIRST sort key + broadcast
    count prefixes; shard-invariance test-asserted)."""
    from pysparkline.operators import text

    prep(spark)
    return text.length_bucketed_batches(
        _docs(spark, sf_dir), batch_size=8
    ).orderBy("doc_id")


@_register(
    "snapshot_diff_docs",
    """
WITH o AS (SELECT doc_id AS id, md5(text) AS old_hash FROM documents),
n AS (
  SELECT doc_id AS id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)
           AS new_hash
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 13 = 0
)
SELECT coalesce(o.id, n.id) AS id,
       CASE WHEN o.id IS NULL THEN 'added'
            WHEN n.id IS NULL THEN 'removed'
            WHEN o.old_hash IS NOT DISTINCT FROM n.new_hash THEN 'unchanged'
            ELSE 'changed' END AS status,
       o.old_hash, n.new_hash
FROM o FULL OUTER JOIN n ON o.id = n.id
ORDER BY id
""",
)
def snapshot_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (the incremental-curation bookkeeping op): one
    full outer join on id, content equality by md5, presence tracked
    separately from NULL text. The 'new' snapshot is a deterministic
    transform of the corpus (mod-7 edits, mod-11 removals, mod-13 adds)
    the oracle reconstructs in SQL."""
    from pyspark.sql import functions as F

    from pysparkline.operators import snapshot

    prep(spark)
    docs = _docs(spark, sf_dir)
    old = docs.select("doc_id", "text")
    new = (
        docs.where(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(" v2")),
            ).otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    return snapshot.snapshot_diff(old, new).orderBy("id")


@_register(
    "token_budget_docs",
    r"""
WITH q AS (
  SELECT doc_id, CAST((doc_id * 37) % 100 AS DOUBLE) AS quality,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, quality, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM q
)
SELECT doc_id, quality, n_tokens FROM c
WHERE cum <= (SELECT CAST(SUM(n_tokens) // 3 AS BIGINT) FROM q)
ORDER BY doc_id
""",
)
def token_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: the prefix of the (quality DESC, id)
    ranking whose running token sum fits the budget. Runs the SCALE path
    (quality-bucket histogram cutoff — no global sort; only the single
    boundary bucket is ordered), which is provably equivalent to the exact
    window form the oracle states (ties cannot straddle buckets);
    exact == bucketed also asserted in tests/test_snapshot.py."""
    from pyspark.sql import functions as F

    from pysparkline.operators import snapshot

    prep(spark)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.pmod(F.col("doc_id") * 37, F.lit(100)).cast("double").alias(
            "quality"
        ),
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    total = d.agg(F.sum("n_tokens")).first()[0]
    return snapshot.select_token_budget(
        d, int(total) // 3, exact=False
    ).orderBy("doc_id")


def _bpe_oracle(n_merges: int) -> str:
    """SQL twin of ``bpe.bpe_train``: the greedy leftmost non-overlapping
    merge is expressed RELATIONALLY — mark positions whose (sym, next sym)
    equals the round's argmax pair; within each maximal run of consecutive
    marked positions (runs > 1 only when lhs = rhs), greedy takes exactly
    the odd-ranked ones (gaps-and-islands), the right symbol of a selected
    position is consumed (lag filter), and surviving symbols re-index.
    Every SUM is cast back to BIGINT (the DuckDB HUGEINT typing class)."""
    parts = [
        r"""
WITH wc AS (
  SELECT w AS word_id, COUNT(*) AS cnt FROM (
    SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
),
w0 AS (
  SELECT word_id, i, cs[i] AS sym
  FROM (SELECT word_id, string_split(word_id, '') AS cs FROM wc),
       LATERAL unnest(generate_series(1, len(cs))) t(i)
)"""
    ]
    for k in range(n_merges):
        parts.append(
            f""",
p{k} AS (
  SELECT word_id, i,
         sym || ' ' || lead(sym) OVER (PARTITION BY word_id ORDER BY i)
           AS pair
  FROM w{k}
),
b{k} AS (
  SELECT pair, freq FROM (
    SELECT p.pair, CAST(SUM(c.cnt) AS BIGINT) AS freq
    FROM p{k} p JOIN wc c USING (word_id)
    WHERE p.pair IS NOT NULL GROUP BY p.pair
  ) ORDER BY freq DESC, pair LIMIT 1
),
s{k} AS (
  SELECT *, CASE WHEN mk THEN ROW_NUMBER() OVER (
              PARTITION BY word_id, isl ORDER BY i) END AS rn
  FROM (
    SELECT *, CASE WHEN mk THEN i - ROW_NUMBER() OVER (
                PARTITION BY word_id, mk ORDER BY i) END AS isl
    FROM (
      SELECT p.word_id, p.i, w.sym,
             coalesce(p.pair = b.pair, FALSE) AS mk
      FROM p{k} p JOIN w{k} w USING (word_id, i), b{k} b
    )
  )
),
w{k + 1} AS (
  SELECT word_id,
         ROW_NUMBER() OVER (PARTITION BY word_id ORDER BY i) AS i,
         CASE WHEN sel THEN replace(b.pair, ' ', '') ELSE sym END AS sym
  FROM (
    SELECT word_id, i, sym,
           coalesce(mk AND rn % 2 = 1, FALSE) AS sel,
           lag(coalesce(mk AND rn % 2 = 1, FALSE)) OVER (
             PARTITION BY word_id ORDER BY i) AS psel
    FROM s{k}
  ), b{k} b
  WHERE NOT coalesce(psel, FALSE)
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_rank, string_split(pair, ' ')[1] AS lhs,"
        f" string_split(pair, ' ')[2] AS rhs, freq FROM b{k}"
        for k in range(n_merges)
    )
    parts.append(f"\nSELECT * FROM (\n{sel}\n) ORDER BY merge_rank\n")
    return "".join(parts)


_PROFILE_ORACLE = """
SELECT * FROM (
  SELECT 'l_orderkey' AS "column", 'bigint' AS dtype,
         COUNT(*) AS n_rows, COUNT(*) - COUNT(l_orderkey) AS n_nulls,
         COUNT(DISTINCT l_orderkey) AS n_distinct,
         CAST(MIN(l_orderkey) AS VARCHAR) AS min_value,
         CAST(MAX(l_orderkey) AS VARCHAR) AS max_value FROM lineitem
  UNION ALL
  SELECT 'l_returnflag', 'string', COUNT(*), COUNT(*) - COUNT(l_returnflag),
         COUNT(DISTINCT l_returnflag),
         CAST(MIN(l_returnflag) AS VARCHAR),
         CAST(MAX(l_returnflag) AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_shipdate', 'timestamp_ntz', COUNT(*), COUNT(*) - COUNT(l_shipdate),
         COUNT(DISTINCT l_shipdate),
         CAST(MIN(l_shipdate) AS VARCHAR),
         CAST(MAX(l_shipdate) AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_quantity', 'double', COUNT(*),
         COUNT(*) - COUNT(l_quantity), COUNT(DISTINCT l_quantity),
         CAST(MIN(l_quantity) AS VARCHAR),
         CAST(MAX(l_quantity) AS VARCHAR) FROM lineitem
) ORDER BY "column"
"""


@_register("profile_lineitem", _PROFILE_ORACLE)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the ANALYZE TABLE / segment-metadata surface,
    SegmentAnalyzer-style column stats as ONE Spark aggregate): per-column
    n_rows / n_nulls / n_distinct / min / max in a single scan — the plan
    is one aggregate node (asserted in tests/test_profile). Exact NDV here
    for the oracle; the default is HLL approx_count_distinct, the 100 TB
    posture."""
    from pysparkline.operators import profile

    prep(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return profile.profile_table(
        df,
        ["l_orderkey", "l_returnflag", "l_shipdate", "l_quantity"],
        exact_ndv=True,
    ).orderBy("column")


@_register("bpe_train_docs", _bpe_oracle(4))
def bpe_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich 2016) over the corpus:
    ONE corpus shuffle builds the (word, count) vocabulary table; each
    merge round is UDF-free Column algebra over it — pair explode +
    map-side-combined count, a 1-row argmax collect, and an F.aggregate
    fold applying the merge with EXACT greedy leftmost semantics (a naive
    string replace mis-merges repeated-symbol runs). The oracle replays
    all 4 rounds relationally (islands selection of greedy positions).
    Cross-checked against an independent pure-Python classic trainer in
    tests/test_bpe.py."""
    from pysparkline.operators import bpe

    prep(spark)
    return bpe.bpe_train_df(_docs(spark, sf_dir), "text", n_merges=4).orderBy(
        "merge_rank"
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 via the cube-backed OLAP index) on sf0.001."""
    return q1(spark, "/root/testdata/sf0.001")


# The driver verifies the FIRST 50 registered queries; every registered
# query additionally runs against its oracle in tests/test_entry_oracle
# each round. Round 11's window (verdict-freshness rotation, VERDICT r10
# #4 — after r10 the oldest driver verdicts are the 50 r8 rows):
# (a) the NEW r11 rows first: sql_having_corr_residual /
#     sql_quantified_residual / sql_corr_scalar_residual (the non-equi
#     residual family with equi anchors), sql_select_corr_scalar
#     (SELECT-list correlated scalars), and the late-session trio —
#     sql_or_corr_scalar (correlated scalar under OR),
#     sql_exists_theta + sql_scalar_theta (the residual-only
#     broadcast-theta family: no equi anchor, tiny-inner proof);
# (b) the r8 rows exercising THIS round's rewrites next: the projection
#     riders (sql_corr_scalar / sql_not_in / sql_subquery /
#     sql_in_subquery / select_pushdown / sql_select_scan ride the
#     byte-floor-collapsed li_probe/li_order layouts) and
#     ship_date_range (cost tie-breaker routing);
# (c) the remaining r8 cohort by registration order, filling the 50 —
#     only sql_latest_per_key / sql_window_rowgrain /
#     sql_window_lag_nulls / sql_window_filter_distinct stay at their r8
#     verdicts (mirror-green every pytest), so after r11 no registered
#     row's verdict is older than r8.
_PRIORITY = [
    # (a) new r11 rows
    "sql_having_corr_residual",
    "sql_quantified_residual",
    "sql_corr_scalar_residual",
    "sql_select_corr_scalar",
    "sql_or_corr_scalar",
    "sql_exists_theta",
    "sql_scalar_theta",
    "sql_or_exists_residual",
    # (b) r8 rows over this round's rewrites
    "sql_corr_scalar",
    "sql_not_in",
    "sql_subquery",
    "sql_in_subquery",
    "select_pushdown",
    "sql_select_scan",
    "ship_date_range",
    # (c) remaining r8 cohort by registration order
    "dedup_exact_docs",
    "doc_fingerprint",
    "text_stats_docs",
    "vocab_topk_docs",
    "minhash_pairs_docs",
    "ngram_jaccard_docs",
    "pack_docs",
    "temperature_mix_docs",
    "shard_docs",
    "cosine_topk",
    "lsh_cosine_topk",
    "sessionize_stats",
    "running_totals_user",
    "image_features",
    "audio_features",
    "image_features_hier",
    "tz_daily_revenue",
    "events_15min",
    "funnel_events",
    "spatial_bounds",
    "topn_monthly_brand",
    "sql_multi_interval",
    "embedding_neardup",
    "semantic_dedup_emb",
    "ivf_topk",
    "text_index_topk",
    "skew_salted_distinct",
    "avg_null_aware",
    "sql_exists_semi",
    "sql_scalar_subquery",
    "sql_not_exists_anti",
    "sql_corr_in",
    "sql_corr_not_in",
    "sql_share_of_total",
    "sql_or_subqueries",
    "sql_quantified",
    "sql_window_ma",
    "sql_window_range",
    "sql_window_range_desc",
]


def _ordered(d: dict) -> dict:
    missing = [n for n in _PRIORITY if n not in d]
    assert not missing, f"priority list names unknown queries: {missing}"
    head = {n: d[n] for n in _PRIORITY if n in d}
    return head | {n: v for n, v in d.items() if n not in head}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    ordered = _ordered(_QUERIES)
    return {n: _ORACLES[n] for n in ordered if n in _ORACLES}
