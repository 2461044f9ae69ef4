"""SQL front end (sqlfront.py) conformance vs the DuckDB oracle.

Mirrors the reference's dual-execution cTest harness (AbstractTest.scala:
127-143 isTwoDataFrameEqual): the same SQL runs through ctx.sql (rewritten
onto the index) and through DuckDB over the raw parquet; results must agree
after sorting and numeric rounding.
"""

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ctx(spark):
    from pysparkline import tpch
    from pysparkline.session import OlapContext

    idx = tpch.build_or_load_index(spark, SF)
    base = tpch.load_star_tables(spark, SF)
    return OlapContext(spark, idx, base_tables=base)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ["lineitem", "orders", "part", "customer", "supplier",
              "nation", "region"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def assert_same(ctx, duck, sql, duck_sql=None, sort=True):
    got = [tuple(r) for r in ctx.sql(sql).collect()]
    exp = duck.execute(duck_sql or sql).fetchall()
    if sort:
        got, exp = sorted(got, key=str), sorted(exp, key=str)
    assert len(got) == len(exp), f"{len(got)} rows != {len(exp)}"
    for r1, r2 in zip(got, exp):
        assert len(r1) == len(r2), f"width {r1} vs {r2}"
        for a, b in zip(r1, r2):
            if isinstance(a, float) or isinstance(b, float):
                assert abs(float(a) - float(b)) <= 1e-4 * max(1.0, abs(float(b))), (
                    r1, r2)
            else:
                assert a == b, (r1, r2)


def test_interval_pushdown(ctx, duck):
    assert_same(ctx, duck, """
SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sq FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_returnflag""")
    # the interval must actually reach the IR (partition pruning at scale)
    spec = ctx._parse_sql("""
SELECT count(*) AS n FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'""")
    assert spec.intervals and spec.intervals[0].start == "1996-01-01"
    assert spec.filter is None


def test_filters(ctx, duck):
    assert_same(ctx, duck, """
SELECT l_linestatus, count(*) AS n FROM lineitem
WHERE l_returnflag IN ('A','R') AND l_quantity BETWEEN 10 AND 20
GROUP BY l_linestatus""")


def test_like_contains(ctx, duck):
    assert_same(ctx, duck, """
SELECT p_brand, count(*) AS n FROM part
WHERE p_type LIKE '%BRASS%' GROUP BY p_brand""")


def test_cube(ctx, duck):
    assert_same(ctx, duck, """
SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)""")


def test_select_scan(ctx, duck):
    assert_same(ctx, duck, """
SELECT l_orderkey, l_quantity AS q FROM lineitem
WHERE l_quantity > 49 ORDER BY q DESC, l_orderkey LIMIT 20""", sort=False)


def test_star_join_elimination(ctx, duck):
    assert_same(ctx, duck, """
SELECT c_nation, sum(l_extendedprice) AS rev FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN custnation ON c_nationkey = cn_nationkey
GROUP BY c_nation ORDER BY rev DESC, c_nation LIMIT 5""", sort=False, duck_sql="""
SELECT n_name AS c_nation, sum(l_extendedprice) AS rev FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY rev DESC, c_nation LIMIT 5""")
    # the join must have been eliminated, not fallen back
    assert ctx.query_history[-1].backing in ("flat", "cube")


def test_non_star_join_rejected(ctx):
    from pysparkline.sqlfront import SQLFrontError

    with pytest.raises(SQLFrontError):
        ctx._parse_sql(
            "SELECT count(*) AS n FROM lineitem "
            "JOIN orders ON l_orderkey = o_custkey GROUP BY l_returnflag"
        )


def test_filtered_agg(ctx, duck):
    assert_same(ctx, duck, """
SELECT l_returnflag,
       sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS fq,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag""")


def test_postagg_column_order(ctx, duck):
    sql = """
SELECT l_returnflag, sum(l_extendedprice)/sum(l_quantity) AS unit, count(*) AS n
FROM lineitem GROUP BY l_returnflag"""
    df = ctx.sql(sql)
    assert df.columns == ["l_returnflag", "unit", "n"]
    assert_same(ctx, duck, sql)


def test_having(ctx, duck):
    assert_same(ctx, duck, """
SELECT p_brand, count(*) AS n, sum(l_extendedprice) AS rev
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_quantity < 10
GROUP BY p_brand HAVING count(*) > 5 ORDER BY rev DESC, p_brand LIMIT 5""",
        sort=False)


def test_count_distinct(ctx, duck):
    assert_same(ctx, duck, """
SELECT l_returnflag, count(DISTINCT l_suppkey) AS ds
FROM lineitem GROUP BY l_returnflag""")


def test_mixed_distinct_and_regular_aggs(ctx, duck):
    """count(DISTINCT) alongside sums/counts in one aggregate — the shape the
    reference needed SPLRewriteDistinctAggregates for; Spark's native
    Expand-based planning handles it on the flat backing."""
    assert_same(ctx, duck, """
SELECT l_returnflag, count(DISTINCT l_suppkey) AS ds, count(*) AS n,
       sum(l_quantity) AS sq
FROM lineitem GROUP BY l_returnflag""")


def test_time_part_grouping(ctx, duck):
    assert_same(ctx, duck, """
SELECT year(l_shipdate) AS yr, sum(l_extendedprice) AS rev
FROM lineitem GROUP BY yr ORDER BY yr""", sort=False, duck_sql="""
SELECT CAST(year(l_shipdate) AS INT) AS yr, sum(l_extendedprice) AS rev
FROM lineitem GROUP BY yr ORDER BY yr""")


def test_select_distinct(ctx, duck):
    assert_same(ctx, duck, """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
WHERE l_quantity > 30 ORDER BY l_returnflag, l_linestatus""", sort=False)
    assert ctx.query_history[-1].backing in ("cube", "flat")


def test_subquery_flattening(ctx, duck):
    """FROM (SELECT cols ... WHERE ...) merges into the outer query — the
    reference's 'SubQry+filters' benchmark shape."""
    assert_same(ctx, duck, """
SELECT rf, count(*) AS n FROM
  (SELECT l_returnflag AS rf, l_shipdate, l_quantity FROM lineitem
   WHERE l_quantity > 10) t
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY rf ORDER BY rf""", sort=False, duck_sql="""
SELECT l_returnflag AS rf, count(*) AS n FROM lineitem
WHERE l_quantity > 10
  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY rf ORDER BY rf""")
    assert ctx.query_history[-1].backing in ("cube", "flat")
    # the interval must still be extracted through the flattening
    spec = ctx._parse_sql("""
SELECT count(*) AS n FROM
  (SELECT * FROM lineitem WHERE l_quantity > 10) t
WHERE l_shipdate >= DATE '1996-01-01'""")
    assert spec.intervals and spec.intervals[0].start == "1996-01-01"


def test_fallback_window(ctx, duck):
    # a window over a DIMENSION table alone: the flat backing is fact-grain,
    # so this must fall back to the base tables (row-grain windows over the
    # FACT are index-served — test_window_row_grain)
    assert_same(ctx, duck, """
SELECT o_custkey, o_totalprice,
       rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk
FROM orders WHERE o_custkey < 10""")
    assert ctx.query_history[-1].backing == "sparksql"


def test_dim_table_only_aggregate_falls_back(ctx, duck):
    """Aggregates over a dimension table ALONE must not serve from the
    fact-grain backing (count(*) FROM orders would multiply by lineitems
    per order — a real wrong-answer found in round 4); they fall back."""
    for sql in [
        "SELECT count(*) AS n FROM orders",
        """SELECT o_orderstatus, count(*) AS n FROM orders
           GROUP BY o_orderstatus ORDER BY o_orderstatus""",
        "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment ORDER BY 1",
    ]:
        assert_same(ctx, duck, sql, sort=False)
        assert ctx.query_history[-1].backing == "sparksql"


def test_sql_on_second_index(spark, duck):
    """ctx.sql works against the events index (different fact/time column)."""
    from pysparkline.events_index import build_or_load_events_index
    from pysparkline.session import OlapContext

    ectx = OlapContext(spark, build_or_load_events_index(spark, SF))
    got = [
        tuple(r)
        for r in ectx.sql(
            "SELECT event_type, count(*) AS n FROM events "
            "WHERE ts >= DATE '2024-01-10' AND ts < DATE '2024-01-20' "
            "GROUP BY event_type ORDER BY event_type"
        ).collect()
    ]
    duck.execute(f"CREATE VIEW IF NOT EXISTS events AS SELECT * FROM '{SF}/events.parquet'")
    exp = duck.execute(
        "SELECT event_type, count(*) AS n FROM events "
        "WHERE ts >= DATE '2024-01-10' AND ts < DATE '2024-01-20' "
        "GROUP BY event_type ORDER BY event_type"
    ).fetchall()
    assert got == exp
    assert ectx.query_history[-1].backing == "cube"


def test_decimal_literals(ctx, duck):
    """Fractional literals must unscale (DuckDB stores 0.05 as value=5,
    scale=2 in its AST)."""
    assert_same(ctx, duck, """
SELECT l_linestatus, count(*) AS n FROM lineitem
WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity > 2.5
GROUP BY l_linestatus""")
    spec = ctx._parse_sql(
        "SELECT count(*) AS n FROM lineitem WHERE l_discount > 0.05"
    )
    # exact Decimal (not float): >15-significant-digit literals must not
    # round-trip through float division
    from decimal import Decimal

    assert spec.filter.lower == Decimal("0.05")
    spec2 = ctx._parse_sql(
        "SELECT count(*) AS n FROM lineitem"
        " WHERE l_extendedprice > 1234567890123.456789"
    )
    assert spec2.filter.lower == Decimal("1234567890123.456789")


def test_cross_and_using_joins_fall_back(ctx):
    from pysparkline.sqlfront import SQLFrontError

    with pytest.raises(SQLFrontError):
        ctx._parse_sql("SELECT count(*) AS n FROM lineitem, part")
    with pytest.raises(SQLFrontError):
        ctx._parse_sql(
            "SELECT count(*) AS n FROM lineitem JOIN orders USING (l_orderkey)"
        )


def test_rollup_with_unprojected_group_col(ctx, duck):
    """ROLLUP over a column absent from the select list must still group by
    it per set (hidden-dim naming shared with grouping-set resolution)."""
    assert_same(ctx, duck, """
SELECT count(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag)""")


def test_distinct_with_group_by_falls_back(ctx, duck):
    assert_same(ctx, duck, """
SELECT DISTINCT l_returnflag FROM lineitem GROUP BY l_returnflag, l_linestatus""")
    assert ctx.query_history[-1].backing == "sparksql"


def test_filtered_avg_falls_back(ctx, duck):
    assert_same(ctx, duck, """
SELECT l_returnflag, avg(l_quantity) FILTER (WHERE l_linestatus = 'F') AS fa
FROM lineitem GROUP BY l_returnflag""")
    assert ctx.query_history[-1].backing == "sparksql"


def test_avg_over_expression(ctx, duck):
    """AVG over an expression (round 8): decomposes to ExprAgg sum/count
    of the SAME expression — previously an honest decline ('use
    sum/count'). Divisor is the non-null count of the expression (ANSI)."""
    assert_same(ctx, duck, """
SELECT l_returnflag, AVG(CAST(l_extendedprice AS DECIMAL(12,2))) AS a
FROM lineitem GROUP BY l_returnflag""")
    assert ctx.query_history[-1].backing in ("cube", "flat")
    assert_same(ctx, duck, """
SELECT l_linestatus, AVG(l_extendedprice * (1 - l_discount)) AS a
FROM lineitem GROUP BY l_linestatus""")
    assert ctx.query_history[-1].backing in ("cube", "flat")


def test_avg_distinct_declines(ctx, duck):
    """AVG(DISTINCT): the old avg mapping IGNORED the distinct flag and
    silently computed the plain average — a latent wrong-answer bug
    (25.376 vs the correct 25.5 on the fixture) caught by round 8's
    avg-expression work. It must decline to the fallback, which is
    correct."""
    assert_same(
        ctx, duck, "SELECT AVG(DISTINCT l_quantity) AS a FROM lineitem"
    )
    assert ctx.query_history[-1].backing == "sparksql"


def test_explain_rewrite_sql(ctx):
    txt = ctx.explain_rewrite(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
    )
    assert "backing=" in txt
    txt2 = ctx.explain_rewrite("SELECT 1 AS x FROM lineitem QUALIFY 1=1")
    assert "no rewrite" in txt2 or "fallback" in txt2


def test_explain_rewrite_carries_pruning_stats(ctx):
    """The explain block shows the decision a user needs to see: chosen
    backing, the file-pruning keep ratio the planner recorded on flat, cube
    and projection scans, and cube-vs-flat row counts on cube routes
    (DruidMetadataCommands.scala:49-77 analog)."""
    import re

    # selective flat-served scan: keep ratio present and well-formed
    txt = ctx.explain_rewrite("""
SELECT l_orderkey, l_quantity FROM lineitem
WHERE l_returnflag = 'R'
  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-03-01'
ORDER BY l_orderkey LIMIT 10
""")
    assert "backing=flat" in txt
    m = re.search(r"pruning: keep (\d+)/(\d+) files \((\d+\.\d)%\)", txt)
    assert m, txt
    kept, total = int(m.group(1)), int(m.group(2))
    assert 0 < kept < total

    # cube-served aggregate: cube-vs-flat row counts present
    txt2 = ctx.explain_rewrite(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
    )
    if "backing=cube" in txt2:
        assert re.search(r"cube rows: \d+ \(vs flat \d+\)", txt2), txt2

    # cube and projection routes report the keep ratio the planner
    # recorded, on a floor-free build whose cubes and projections are
    # multi-file (at sf0.001 the byte floor leaves each of them one file)
    from pysparkline import tpch
    from pysparkline.session import OlapContext

    cfg = tpch.tpch_index_config()
    cfg.target_file_bytes = 0
    fine = OlapContext(
        ctx.spark, tpch.build_or_load_index(ctx.spark, SF, config=cfg)
    )
    routes = {
        "backing=cube": """
SELECT c_mktsegment, count(*) AS n FROM lineitem
WHERE c_mktsegment = 'BUILDING' GROUP BY c_mktsegment""",
        "projection li_order covers the scan": """
SELECT l_orderkey, l_returnflag FROM lineitem
WHERE l_orderkey < 300
  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-03-01'""",
    }
    for route, sql in routes.items():
        txt = fine.explain_rewrite(sql)
        kind = route.split()[0].replace("backing=", "")
        assert route in txt, txt
        assert f"{kind} file manifest pruned scan" in txt, txt
        m = re.search(r"pruning: keep (\d+)/(\d+) files \((\d+\.\d)%\)", txt)
        assert m, txt
        assert 0 < int(m.group(1)) < int(m.group(2)), txt


def test_sql_quantile_rewrites_and_matches(ctx, duck):
    """quantile_cont/median through ctx.sql: QuantileAgg rejects cubes,
    lowers on flat, matches DuckDB's interpolation exactly."""
    out = ctx.sql(
        "SELECT l_returnflag AS flag, quantile_cont(l_quantity, 0.9) AS p90, "
        "median(l_extendedprice) AS med FROM lineitem GROUP BY l_returnflag"
    )
    assert ctx.query_history[-1].backing == "flat"
    got = {r.flag: (r.p90, r.med) for r in out.collect()}
    want = {
        r[0]: (r[1], r[2])
        for r in duck.execute(
            "SELECT l_returnflag, "
            "CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9) AS DOUBLE), "
            "CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS DOUBLE) "
            "FROM lineitem GROUP BY 1"
        ).fetchall()
    }
    assert got == want


def test_sql_theta_count_distinct(ctx, duck):
    """theta_count_distinct through ctx.sql: ThetaAgg with explicit k parses,
    the TPC-H index has no theta sketch so it lowers on a row-grain backing,
    and the estimate is exact while NDV < k."""
    from pysparkline import ir

    spec = ctx._parse_sql(
        "SELECT l_returnflag AS flag, "
        "theta_count_distinct(o_orderstatus, 64) AS ns "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY l_returnflag"
    )
    (agg,) = spec.aggregations
    assert isinstance(agg, ir.ThetaAgg) and agg.k == 64
    out = ctx.sql(
        "SELECT l_returnflag AS flag, "
        "theta_count_distinct(o_orderstatus, 64) AS ns "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY l_returnflag"
    )
    assert ctx.query_history[-1].backing != "sparksql"
    got = {r.flag: r.ns for r in out.collect()}
    want = {
        r[0]: float(r[1])
        for r in duck.execute(
            "SELECT l_returnflag, COUNT(DISTINCT o_orderstatus) "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1"
        ).fetchall()
    }
    assert got == want


@pytest.mark.parametrize("k", [8, 100, 1 << 27, 64.5, "64"])
def test_sql_theta_bad_k_rejected(ctx, k):
    """k must be a power of two in [16, 2^26] (Spark's lgNomEntries range
    4-26); any other k is rejected by the IR and by the SQL front, never
    rounded to a neighbouring size."""
    from pyspark.errors import AnalysisException

    from pysparkline import ir
    from pysparkline.index import ThetaSpec
    from pysparkline.sqlfront import SQLFrontError

    msg = r"power of two in \[16, 2\^26\]"
    for build in (
        lambda: ir.ThetaAgg("d", "o_orderstatus", k=k),
        lambda: ir.ThetaSketchAgg("d", "o_orderstatus", k=k),
        lambda: ThetaSpec("o_orderstatus", k),
        lambda: ir.node_from_dict(
            {"_type": "ThetaAgg", "name": "d", "field_name": "x", "k": k}
        ),
    ):
        with pytest.raises(ir.ThetaKError, match=msg):
            build()
    lit = f"'{k}'" if isinstance(k, str) else str(k)
    sql = (
        f"SELECT l_returnflag, theta_count_distinct(o_orderstatus, {lit}) AS d"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " GROUP BY l_returnflag"
    )
    with pytest.raises(SQLFrontError, match=msg):
        ctx._parse_sql(sql)
    # no answer at all: the rewrite declines and spark.sql knows no such
    # function
    with pytest.raises((SQLFrontError, AnalysisException)):
        ctx.sql(sql).collect()
    assert ir.ThetaAgg("d", "o_orderstatus", k=16).k == 16
    assert ir.ThetaAgg("d", "o_orderstatus", k=1 << 26).k == 1 << 26


def test_sql_fallback_error_carries_decline_reason(ctx):
    """A statement Spark cannot run either keeps Spark's own error, with
    the reason the rewrite declined attached as a note (engine-only
    function names can never succeed in the fallback, so the decline
    reason is the useful half of the answer)."""
    from pyspark.errors import AnalysisException

    before = len(ctx.query_history)
    with pytest.raises(AnalysisException) as ei:
        ctx.sql(
            "SELECT theta_count_distinct(l_partkey, 100) AS d FROM lineitem"
        )
    assert len(ctx.query_history) == before + 1
    assert ctx.query_history[-1].backing == "sparksql"
    notes = getattr(ei.value, "__notes__", [])
    assert any(
        n.startswith("pysparkline declined the rewrite:")
        and "power of two in [16, 2^26]" in n
        for n in notes
    ), notes


def test_sql_theta_filtered(ctx, duck):
    """theta_count_distinct with FILTER — the SQL funnel shape."""
    sql = (
        "SELECT l_linestatus AS ls, "
        "theta_count_distinct(o_orderstatus, 64) "
        "FILTER (WHERE l_returnflag = 'A') AS ns "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY l_linestatus"
    )
    out = ctx.sql(sql)
    assert ctx.query_history[-1].backing != "sparksql"
    got = {r.ls: r.ns for r in out.collect()}
    want = {
        r[0]: float(r[1])
        for r in duck.execute(
            "SELECT l_linestatus, COUNT(DISTINCT o_orderstatus) "
            "FILTER (WHERE l_returnflag = 'A') "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1"
        ).fetchall()
    }
    assert got == want


def test_time_bucket_duration(ctx, duck):
    """time_bucket(INTERVAL, ts) through ctx.sql lowers to duration
    granularity and matches DuckDB's native time_bucket (origins agree for
    widths dividing a day)."""
    sql = (
        "SELECT time_bucket(INTERVAL '6 hours', l_shipdate) AS b, "
        "count(*) AS n FROM lineitem "
        "GROUP BY time_bucket(INTERVAL '6 hours', l_shipdate)"
    )
    spec = ctx._parse_sql(sql)
    assert spec.granularity == "duration:21600s"
    got = {str(r.b): r.n for r in ctx.sql(sql).collect()}
    assert ctx.query_history[-1].backing != "sparksql"
    want = {
        str(r[0]): r[1]
        for r in duck.execute(
            "SELECT CAST(time_bucket(INTERVAL '6 hours', CAST(l_shipdate AS "
            "TIMESTAMP)) AS TIMESTAMP) AS b, count(*) FROM lineitem GROUP BY 1"
        ).fetchall()
    }
    assert got == want and len(got) > 100


def test_positional_group_by(ctx, duck):
    """GROUP BY 1 ordinals resolve through the select list (BI-tool SQL)."""
    assert_same(ctx, duck, """
SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sq
FROM lineitem GROUP BY 1, 2""")
    sql = (
        "SELECT time_bucket(INTERVAL '6 hours', l_shipdate) AS b, "
        "count(*) AS n FROM lineitem GROUP BY 1"
    )
    spec = ctx._parse_sql(sql)
    assert spec.granularity == "duration:21600s"


def test_positional_order_by(ctx, duck):
    assert_same(ctx, duck, """
SELECT p_brand, sum(l_extendedprice) AS rev
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 5""", sort=False)


def test_limit_offset_paging(ctx, duck):
    """LIMIT/OFFSET paging (SelectSpec PagingSpec analog) on both the
    aggregate and the plain-scan paths."""
    assert_same(ctx, duck, """
SELECT p_brand, sum(l_extendedprice) AS rev
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 5 OFFSET 3""", sort=False)
    assert_same(ctx, duck, """
SELECT l_orderkey, l_quantity AS q FROM lineitem
WHERE l_quantity > 49 ORDER BY q DESC, l_orderkey LIMIT 10 OFFSET 5""",
        sort=False)
    assert ctx.query_history[-1].backing != "sparksql"
    # regression: a SINGLE-order-column aggregate with OFFSET used to be
    # rewritten to TopNQuery (which has no paging), silently DROPPING the
    # offset — rows 1..k instead of offset+1..offset+k. groupby_to_topn
    # now declines when an offset is present.
    assert_same(ctx, duck, """
SELECT p_brand, sum(l_extendedprice) AS rev
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1 ORDER BY 2 DESC LIMIT 4 OFFSET 2""", sort=False)


def test_extract_time_part_grouping(ctx, duck):
    """EXTRACT(part FROM ts) groups as a TimeFormatDim (cube-servable when
    the part is coarser than the cube grain)."""
    from pysparkline import ir

    sql = """
SELECT EXTRACT(month FROM l_shipdate) AS m, count(*) AS n
FROM lineitem GROUP BY m ORDER BY m"""
    spec = ctx._parse_sql(sql)
    (dim,) = spec.dimensions
    assert isinstance(dim, ir.TimeFormatDim) and dim.part == "month"
    assert_same(ctx, duck, sql, sort=False, duck_sql="""
SELECT CAST(EXTRACT(month FROM l_shipdate) AS INT) AS m, count(*) AS n
FROM lineitem GROUP BY m ORDER BY m""")


# ---------------------------------------------------------------------------
# window functions over the aggregated result (beyond the reference surface —
# it never rewrote windows, SURVEY §2 "notably absent"; here windows whose
# inputs are grouped outputs cost one pass over the bounded aggregate result)
# ---------------------------------------------------------------------------


def test_window_share_of_total(ctx, duck):
    sql = """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
  round(sum(l_quantity) / sum(sum(l_quantity))
        OVER (PARTITION BY l_returnflag), 6) AS flag_share,
  sum(sum(l_quantity)) OVER () AS total_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_rank_within_group(ctx, duck):
    sql = """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s,
  rank() OVER (PARTITION BY l_returnflag ORDER BY sum(l_quantity) DESC) AS rk,
  dense_rank() OVER (ORDER BY sum(l_quantity) DESC) AS drk
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_with_having(ctx, duck):
    sql = """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s,
  row_number() OVER (ORDER BY sum(l_quantity) DESC, l_returnflag,
                     l_linestatus) AS rn
FROM lineitem GROUP BY l_returnflag, l_linestatus
HAVING sum(l_quantity) > 25000
ORDER BY rn
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_count_star_over_partition(ctx, duck):
    sql = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
  count(1) OVER (PARTITION BY l_returnflag) AS groups_in_flag
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_unsupported_falls_back(ctx, duck):
    # still outside the rewritten surface (month RANGE over
    # non-month-truncated buckets): the always-correct spark.sql
    # fallback answers instead (GROUPS frames decline too, but Spark itself
    # cannot parse GROUPS, so the fallback surfaces Spark's parse error)
    for sql in [
        """SELECT date_trunc('day', l_shipdate) AS d, sum(l_quantity) AS s,
           sum(sum(l_quantity)) OVER (ORDER BY date_trunc('day', l_shipdate)
             RANGE BETWEEN INTERVAL '1' MONTH PRECEDING AND CURRENT ROW) AS run
           FROM lineitem GROUP BY date_trunc('day', l_shipdate)""",
    ]:
        ctx.sql(sql).collect()
        assert ctx.query_history[-1].backing == "sparksql"


def test_window_exclude_composable(ctx, duck):
    """ANSI frame EXCLUDE (round 6): Spark cannot parse EXCLUDE at all, so
    — like QUALIFY and DISTINCT windows — the surface exists only through
    the rewrite. sum/count/avg EXCLUDE CURRENT ROW subtract the row's own
    contribution; EXCLUDE GROUP/TIES over RANGE frames subtract the
    peer-group aggregate (exact: a RANGE frame holds a peer group entirely
    or not at all); min/max EXCLUDE CURRENT ROW over ROWS frames combine
    the two sub-frames around the row."""
    sql = """
SELECT l_returnflag, l_linenumber AS ln, CAST(sum(l_quantity) AS BIGINT) AS q,
  CAST(sum(CAST(sum(l_quantity) AS BIGINT)) OVER
    (ORDER BY l_linenumber RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
     EXCLUDE GROUP) AS BIGINT) AS adj,
  CAST(sum(CAST(sum(l_quantity) AS BIGINT)) OVER
    (ORDER BY l_linenumber RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
     EXCLUDE TIES) AS BIGINT) AS self_adj,
  count(CAST(sum(l_quantity) AS BIGINT)) OVER
    (ORDER BY l_linenumber RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING
     EXCLUDE GROUP) AS n_adj,
  round(avg(CAST(sum(l_quantity) AS BIGINT)) OVER
    (PARTITION BY l_returnflag ORDER BY l_linenumber
     ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW), 6)
    AS avg_nb,
  CAST(max(CAST(sum(l_quantity) AS BIGINT)) OVER
    (PARTITION BY l_returnflag ORDER BY l_linenumber
     ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)
    AS BIGINT) AS max_nb
FROM lineitem GROUP BY l_returnflag, l_linenumber
ORDER BY l_returnflag, ln
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"
    # exclusion of rows OUTSIDE the frame is a no-op (ANSI: EXCLUDE applies
    # to frame rows) — a pure-PRECEDING frame with EXCLUDE CURRENT ROW
    sql2 = """
SELECT l_returnflag, l_linenumber AS ln,
  CAST(sum(CAST(sum(l_quantity) AS BIGINT)) OVER
    (PARTITION BY l_returnflag ORDER BY l_linenumber
     ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING EXCLUDE CURRENT ROW)
    AS BIGINT) AS trailing
FROM lineitem GROUP BY l_returnflag, l_linenumber
ORDER BY l_returnflag, ln
"""
    assert_same(ctx, duck, sql2, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_exclude_default_frame(ctx, duck):
    """EXCLUDE over the ANSI default running frame (RANGE UNBOUNDED
    PRECEDING .. CURRENT ROW) and over fully-unbounded ROWS frames —
    composable shapes a round-6 review found hard-failing: the default-
    frame shortcut left frame=None and the gate rejected it, sending a
    valid query into a fallback Spark cannot even parse."""
    sql = """
SELECT l_returnflag, l_linenumber AS ln, CAST(sum(l_quantity) AS BIGINT) AS q,
  CAST(sum(CAST(sum(l_quantity) AS BIGINT)) OVER
    (ORDER BY l_linenumber RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
     EXCLUDE TIES) AS BIGINT) AS run_others_plus_self,
  CAST(sum(CAST(sum(l_quantity) AS BIGINT)) OVER
    (ORDER BY l_linenumber RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
     EXCLUDE GROUP) AS BIGINT) AS run_before_group,
  count(CAST(sum(l_quantity) AS BIGINT)) OVER
    (PARTITION BY l_returnflag ORDER BY l_linenumber
     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
     EXCLUDE GROUP) AS n_other_groups
FROM lineitem GROUP BY l_returnflag, l_linenumber
ORDER BY l_returnflag, ln
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_exclude_noncomposable_declines(ctx):
    """ROWS + EXCLUDE GROUP (the peer group is only partially in a ROWS
    frame) and min/max RANGE exclusion are not composable: the decline
    hands to spark.sql, which surfaces its own parse error because Spark
    has no EXCLUDE syntax (same honest-decline class as GROUPS frames)."""
    from pysparkline.sqlfront import SQLFrontError

    for sql in [
        """SELECT l_returnflag, sum(sum(l_quantity)) OVER
             (ORDER BY l_returnflag ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
              EXCLUDE GROUP) AS s
           FROM lineitem GROUP BY l_returnflag""",
        """SELECT l_returnflag, min(sum(l_quantity)) OVER
             (ORDER BY sum(l_quantity) RANGE BETWEEN 10 PRECEDING AND 10 FOLLOWING
              EXCLUDE CURRENT ROW) AS m
           FROM lineitem GROUP BY l_returnflag""",
    ]:
        with pytest.raises(Exception) as ei:
            ctx.sql(sql).collect()
        assert not isinstance(ei.value, (AssertionError, SQLFrontError))


def test_window_range_descending(ctx, duck):
    # descending RANGE value frames now rewrite (round 5): Spark's
    # RangeFrame walks PRECEDING toward larger keys under DESC, matching
    # DuckDB — both numeric and INTERVAL-unit shapes
    sql = """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s,
  count(1) OVER (ORDER BY sum(l_quantity) DESC
    RANGE BETWEEN 30000 PRECEDING AND CURRENT ROW) AS near_above
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"

    sql2 = """
SELECT date_trunc('month', l_shipdate) AS m,
  round(sum(sum(l_extendedprice)) OVER
    (ORDER BY m DESC
     RANGE BETWEEN INTERVAL '2' MONTH PRECEDING AND CURRENT ROW), 2)
    AS fwd3
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY m ORDER BY m
"""
    assert_same(ctx, duck, sql2, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_running_and_moving_average(ctx, duck):
    sql = """
SELECT date_trunc('month', l_shipdate) AS m,
  round(sum(l_extendedprice), 2) AS rev,
  round(sum(sum(l_extendedprice)) OVER (ORDER BY m), 2) AS cum_rev,
  round(avg(sum(l_extendedprice)) OVER
    (ORDER BY m ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS ma3,
  round(sum(sum(l_extendedprice)) OVER
    (ORDER BY m ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS win3
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY m ORDER BY m
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_range_interval_month_with_gap(ctx, duck):
    # the discriminating case: months {Jan, Feb, Jun..Dec} — a 2-month RANGE
    # frame at Jun covers only Jun (Apr/May absent from the FRAME's value
    # range), where ROWS 2 PRECEDING would wrongly reach back to Jan/Feb
    sql = """
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
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"
    # the frame really is value-ranged: June sees only itself
    row = {r["m"].month: r["months_in_frame"] for r in ctx.sql(sql).collect()}
    assert row[6] == 1 and row[2] == 2 and row[8] == 3


def test_window_range_interval_day(ctx, duck):
    sql = """
SELECT date_trunc('day', l_shipdate) AS d,
  round(sum(l_extendedprice), 2) AS rev,
  count(sum(l_extendedprice)) OVER
    (ORDER BY d RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW)
    AS days_in_week
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-02-01'
GROUP BY d ORDER BY d
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_range_numeric_over_agg(ctx, duck):
    # numeric RANGE bounds over a numeric (aggregate) order key
    sql = """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s,
  count(1) OVER (ORDER BY sum(l_quantity)
    RANGE BETWEEN 30000 PRECEDING AND CURRENT ROW) AS near_below
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_nth_and_last_value(ctx, duck):
    sql = """
SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS rev,
  nth_value(l_linestatus, 2) OVER
    (PARTITION BY l_returnflag
     ORDER BY sum(l_extendedprice) DESC, l_linestatus
     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS runner_up,
  last_value(l_linestatus) OVER
    (PARTITION BY l_returnflag
     ORDER BY sum(l_extendedprice) DESC, l_linestatus
     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS weakest
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_row_grain(ctx, duck):
    # no GROUP BY: windows evaluate over raw rows on the index's pruned
    # scan (the fallback this replaces re-joins the base star). Window
    # orders carry every projected column — (l_orderkey, l_linenumber) is
    # NOT unique in this fixture, and only fully-identical tie rows keep
    # the multiset deterministic under tie reordering
    sql = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
  row_number() OVER (PARTITION BY l_orderkey
    ORDER BY l_linenumber, l_quantity, l_extendedprice) AS rn,
  sum(l_quantity) OVER (PARTITION BY l_orderkey
    ORDER BY l_linenumber, l_quantity, l_extendedprice) AS run_qty,
  round(l_extendedprice - lag(l_extendedprice, 1, 0.0) OVER
    (PARTITION BY l_orderkey
     ORDER BY l_linenumber, l_quantity, l_extendedprice), 2) AS price_delta
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
ORDER BY l_orderkey, l_linenumber
"""
    assert_same(ctx, duck, sql)  # multiset: tie order is engine-arbitrary
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_row_grain_exclude(ctx, duck):
    """EXCLUDE composition at ROW grain (no GROUP BY): the same lowering
    serves both grains, so the subtraction/split forms must hold over the
    pruned fact scan too."""
    sql = """
SELECT l_orderkey, l_linenumber,
  CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_orderkey
    ORDER BY l_linenumber, l_quantity
    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW)
    AS BIGINT) AS qty_neighbors,
  CAST(min(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_orderkey
    ORDER BY l_linenumber, l_quantity
    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)
    AS BIGINT) AS min_neighbor
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
ORDER BY l_orderkey, l_linenumber
"""
    assert_same(ctx, duck, sql)  # multiset: tie order is engine-arbitrary
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_row_grain_range_day(ctx, duck):
    # fixed-length INTERVAL RANGE over a raw date key: epoch-seconds
    # surrogate is exact per-row (no bucket truncation needed)
    sql = """
SELECT l_orderkey, l_shipdate,
  count(1) OVER (ORDER BY l_shipdate
    RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW)
    AS trailing_week
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
ORDER BY l_shipdate, l_orderkey
"""
    assert_same(ctx, duck, sql)  # multiset: tie order is engine-arbitrary
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_ignore_nulls_value_fns(ctx, duck):
    # ANSI null treatment for the value family (Spark carries it natively);
    # the CASE makes nulls actually occur in the argument
    # l_quantity in the ORDER BY: (l_orderkey, l_linenumber) ties exist in
    # this fixture, and the value argument must be tie-determined
    sql = """
SELECT l_orderkey, l_linenumber,
  first_value(CASE WHEN l_quantity >= 25 THEN l_quantity END IGNORE NULLS)
    OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity)
    AS first_big,
  last_value(CASE WHEN l_quantity >= 25 THEN l_quantity END IGNORE NULLS)
    OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    AS last_big
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
ORDER BY l_orderkey, l_linenumber
"""
    assert_same(ctx, duck, sql)  # multiset: tie order is engine-arbitrary
    assert ctx.query_history[-1].backing != "sparksql"
def test_window_lag_lead_ignore_nulls(ctx, duck):
    """lag/lead IGNORE NULLS (round 5): Spark evaluates it natively through
    SQL text (the python builders lack the flag; the rewrite emits the
    post-parens Spark placement from the in-parens DuckDB one). The CASE
    makes nulls actually occur so null-skipping discriminates. lag and lead
    are asserted in separate queries: on (orderkey, linenumber, quantity)
    ties the PAIRING of lag and lead in one row is tie-order-dependent even
    though each column's multiset is engine-invariant."""
    for fn in ("lag", "lead"):
        sql = f"""
SELECT l_orderkey, l_linenumber, l_quantity,
  {fn}(CASE WHEN l_quantity >= 25 THEN l_quantity END IGNORE NULLS)
    OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity)
    AS neighbor_big
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
ORDER BY l_orderkey, l_linenumber, l_quantity
"""
        assert_same(ctx, duck, sql)  # multiset: tie order engine-arbitrary
        assert ctx.query_history[-1].backing != "sparksql"


def test_window_filter_and_distinct_agg_grain(ctx, duck):
    """FILTER on a window aggregate rewrites to CASE WHEN inside the
    aggregate (Spark has no native window FILTER); count(DISTINCT) windows
    lower to size(collect_set(..)) — Spark rejects DISTINCT window
    aggregates natively (round 5; both previously spark.sql fallbacks)."""
    sql = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
  sum(count(*)) FILTER (WHERE l_linestatus = 'F')
    OVER (PARTITION BY l_returnflag) AS f_rows,
  count(DISTINCT l_linestatus) OVER (PARTITION BY l_returnflag) AS statuses
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_filter_and_distinct_row_grain(ctx, duck):
    sql = """
SELECT l_orderkey, l_linenumber, l_quantity,
  sum(l_quantity) FILTER (WHERE l_quantity >= 25)
    OVER (PARTITION BY l_orderkey) AS big_qty,
  count(DISTINCT l_linestatus) OVER (PARTITION BY l_orderkey) AS statuses
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
ORDER BY l_orderkey, l_linenumber, l_quantity
"""
    assert_same(ctx, duck, sql)  # multiset
    assert ctx.query_history[-1].backing != "sparksql"

    # RUNNING distinct count (ORDER BY, ANSI default tie-peer frame):
    # collect_set over the running frame — the value depends only on the
    # set of peers at-or-before the key, so tie order never matters
    sql_run = """
SELECT l_orderkey, l_linenumber,
  count(DISTINCT l_linestatus)
    OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS statuses_so_far
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
ORDER BY l_orderkey, l_linenumber
"""
    assert_same(ctx, duck, sql_run)  # multiset
    assert ctx.query_history[-1].backing != "sparksql"

    # sum/avg DISTINCT windows (round 5, second half): a typed fold over
    # collect_set — Spark cannot express these at all, so the rewrite IS
    # the only serving path. CAST both sides: DuckDB sums ints to HUGEINT
    sql_sd = """
SELECT l_orderkey, l_linenumber, l_quantity,
  CAST(sum(DISTINCT l_quantity) OVER (PARTITION BY l_orderkey) AS BIGINT)
    AS sd,
  avg(DISTINCT l_quantity) OVER (PARTITION BY l_orderkey) AS ad
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
ORDER BY l_orderkey, l_linenumber, l_quantity
"""
    assert_same(ctx, duck, sql_sd)  # multiset
    assert ctx.query_history[-1].backing != "sparksql"

    # running DISTINCT sum over the aggregate grain
    sql_sd2 = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
  CAST(sum(DISTINCT count(*)) OVER (PARTITION BY l_returnflag) AS BIGINT)
    AS distinct_count_sum
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql_sd2, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_row_grain_month_range_falls_back(ctx, duck):
    # calendar-unit RANGE over raw (non-bucket-truncated) timestamps is NOT
    # surrogate-exact: declines to the spark.sql fallback
    sql = """
SELECT l_orderkey, l_shipdate,
  count(1) OVER (ORDER BY l_shipdate
    RANGE BETWEEN INTERVAL '1' MONTH PRECEDING AND CURRENT ROW) AS trail
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
"""
    ctx.sql(sql).collect()
    assert ctx.query_history[-1].backing == "sparksql"


def test_qualify_topk_per_group(ctx, duck):
    # QUALIFY (aliased AND inline window forms): the top-k-per-group idiom.
    # Spark SQL has no QUALIFY at all — natively-served surface (DuckDB
    # answers the oracle natively)
    sql = """
SELECT l_returnflag, l_linestatus, sum(l_extendedprice) AS rev,
  rank() OVER (PARTITION BY l_returnflag
               ORDER BY sum(l_extendedprice) DESC, l_linestatus) AS rk
FROM lineitem GROUP BY l_returnflag, l_linestatus
QUALIFY rk <= 2
ORDER BY l_returnflag, rk
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"
    sql2 = """
SELECT l_returnflag, l_linestatus, sum(l_extendedprice) AS rev
FROM lineitem GROUP BY l_returnflag, l_linestatus
QUALIFY rank() OVER (PARTITION BY l_returnflag
  ORDER BY sum(l_extendedprice) DESC, l_linestatus) = 1
ORDER BY l_returnflag
"""
    assert_same(ctx, duck, sql2, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_qualify_latest_row_per_key(ctx, duck):
    # row-grain QUALIFY: the latest-row-per-key idiom over the pruned scan;
    # projection == partition + order keys, so ties stay deterministic
    sql = """
SELECT l_orderkey, l_linenumber, l_shipdate
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
QUALIFY row_number() OVER (PARTITION BY l_orderkey
  ORDER BY l_shipdate DESC, l_linenumber DESC) = 1
ORDER BY l_orderkey
"""
    assert_same(ctx, duck, sql)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_ntile(ctx, duck):
    sql = """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s,
  ntile(3) OVER (ORDER BY sum(l_quantity) DESC) AS bucket
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_serde_roundtrip(ctx):
    from pysparkline import ir, sqlfront

    spec = sqlfront.parse_sql(
        """SELECT l_returnflag, sum(l_quantity) AS s,
           rank() OVER (PARTITION BY l_returnflag
                        ORDER BY sum(l_quantity) DESC) AS rk
           FROM lineitem GROUP BY l_returnflag""",
        time_col="l_shipdate",
    )
    assert spec.window_posts and spec.window_posts[0].func == "rank"
    back = ir.node_from_dict(spec.to_dict())
    assert back.to_dict() == spec.to_dict()


def test_window_lag_lead_mom(ctx, duck):
    sql = """
SELECT date_trunc('month', l_shipdate) AS m,
  round(sum(l_extendedprice), 2) AS rev,
  round(lag(sum(l_extendedprice), 1, 0.0) OVER (ORDER BY m), 2) AS prev_rev,
  lead(sum(l_extendedprice), 2) OVER
    (ORDER BY date_trunc('month', l_shipdate)) AS next2
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY m ORDER BY m
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_lag_partitioned(ctx, duck):
    sql = """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s,
  lag(sum(l_quantity)) OVER
    (PARTITION BY l_returnflag ORDER BY l_linestatus) AS prev_in_flag
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_outside_surface_falls_back(ctx, duck):
    # stddev windows are outside the rewritten surface; Spark answers them
    # through the fallback
    sql = """
SELECT l_returnflag, sum(l_quantity) AS s,
  stddev(sum(l_quantity)) OVER () AS sd
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing == "sparksql"


def test_window_rank_variants_and_first_value(ctx, duck):
    sql = """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s,
  round(percent_rank() OVER (ORDER BY sum(l_quantity)), 6) AS pr,
  round(cume_dist() OVER (ORDER BY sum(l_quantity)), 6) AS cd,
  first_value(l_linestatus) OVER
    (PARTITION BY l_returnflag ORDER BY sum(l_quantity) DESC) AS top_status
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


def test_window_referencing_window_declined(ctx, duck):
    # parses in the AST but is invalid ANSI window nesting (both engines
    # reject it at binding) — our parser must DECLINE it cleanly
    # (SQLFrontError -> fallback surfaces Spark's own error for the invalid
    # SQL), never crash inside lowering
    from pysparkline.sqlfront import SQLFrontError

    # partition reference: caught by grouped-dimension resolution
    with pytest.raises(SQLFrontError, match="not a grouped dimension"):
        ctx._parse_sql("""
SELECT l_returnflag, sum(l_quantity) AS s,
  rank() OVER (ORDER BY sum(l_quantity) DESC) AS r,
  sum(sum(l_quantity)) OVER (PARTITION BY r) AS t
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    # order/argument reference: caught by the cross-window guard
    with pytest.raises(SQLFrontError, match="another window"):
        ctx._parse_sql("""
SELECT l_returnflag, sum(l_quantity) AS s,
  rank() OVER (ORDER BY sum(l_quantity) DESC) AS r,
  lag(sum(l_quantity)) OVER (ORDER BY r) AS prev
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")


def test_window_lag_offset_zero(ctx, duck):
    # offset 0 = the current row's value (valid SQL); `or 1` would silently
    # shift it
    sql = """
SELECT l_returnflag, sum(l_quantity) AS s,
  lag(sum(l_quantity), 0) OVER (ORDER BY l_returnflag) AS same
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
    assert_same(ctx, duck, sql, sort=False)
    assert ctx.query_history[-1].backing != "sparksql"


@pytest.fixture(scope="module")
def ectx(spark):
    from pysparkline.events_index import build_or_load_events_index
    from pysparkline.session import OlapContext

    return OlapContext(spark, build_or_load_events_index(spark, SF))


@pytest.fixture(scope="module")
def educk():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    return con


def test_round5_window_shapes_on_events(ectx, educk):
    """The round-5 window rewrites are not TPC-H-hardwired: FILTER,
    COUNT(DISTINCT), and descending RANGE windows serve from the events
    (second) datasource's index too."""
    sql = """
SELECT event_type, count(*) AS n,
  CAST(sum(count(*)) FILTER (WHERE event_type <> 'click')
    OVER () AS BIGINT) AS other_rows,
  CAST(count(DISTINCT event_type) OVER () AS BIGINT) AS n_types,
  count(1) OVER (ORDER BY count(*) DESC
    RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS near_above
FROM events GROUP BY event_type ORDER BY event_type
"""
    assert_same(ectx, educk, sql, sort=False)
    assert ectx.query_history[-1].backing != "sparksql"

    # row-grain lag IGNORE NULLS over the events fact's pruned scan
    sql2 = """
SELECT event_id, user_id,
  lag(CASE WHEN value >= 100 THEN value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY event_id) AS prev_big
FROM events
WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-05'
ORDER BY event_id
"""
    assert_same(ectx, educk, sql2, sort=False)
    assert ectx.query_history[-1].backing != "sparksql"
