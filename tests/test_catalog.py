"""OlapCatalog: N datasources in one session (the reference's model — one
DruidRelation per registration; single-relation queries rewrite, everything
else plans as plain Spark)."""

from __future__ import annotations

import duckdb
import pytest

from pysparkline import tpch
from pysparkline.session import OlapCatalog, OlapContext
from pysparkline.sqlfront import referenced_tables
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def catalog(spark):
    from pysparkline.events_index import build_or_load_events_index

    tctx = OlapContext(
        spark,
        tpch.build_or_load_index(spark, SF_DIR),
        base_tables=tpch.load_star_tables(spark, SF_DIR),
    )
    ectx = OlapContext(
        spark,
        build_or_load_events_index(spark, SF_DIR),
        base_tables={"events": tpch.read_events(spark, SF_DIR)},
    )
    return OlapCatalog(spark, {"tpch": tctx, "events": ectx})


def test_referenced_tables():
    assert referenced_tables(
        "SELECT * FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ) == {"lineitem", "orders"}
    # CTE names are not base tables; tables inside CTE bodies count
    assert referenced_tables(
        "WITH x AS (SELECT * FROM events) SELECT * FROM x JOIN lineitem ON a = b"
    ) == {"events", "lineitem"}
    # subqueries count
    assert referenced_tables(
        "SELECT * FROM (SELECT l_orderkey FROM lineitem) t"
    ) == {"lineitem"}
    # a CTE defined inside a subquery scope must not mask a same-named base
    # table referenced in the OUTER scope (the routing key would under-count
    # and route to a context that doesn't own the table)
    assert referenced_tables(
        "SELECT * FROM (WITH events AS (SELECT 1 AS a) "
        "SELECT * FROM events) t JOIN events e2 ON t.a = e2.user_id"
    ) == {"events"}


def test_starless_fact_name_routes(spark):
    """A star-less context with fact_name and no base tables is routable and
    its fallback can resolve the fact view."""
    from pysparkline.index import IndexConfig, MetricSpec, cached_build_or_load
    from pysparkline.tpch import DEFAULT_CACHE_ROOT, read_events

    idx = cached_build_or_load(
        spark,
        SF_DIR,
        DEFAULT_CACHE_ROOT,
        "events_nostar",
        IndexConfig(time_col="ts", metrics=[MetricSpec("value", "value", "sum")]),
        lambda: read_events(spark, SF_DIR),
        star=None,
        extra_key={"fixture": "events_nostar"},
    )
    assert idx.star is None
    ectx = OlapContext(spark, idx, fact_name="events")
    assert "events" in ectx.owned_tables()
    cat = OlapCatalog(spark, {"ev": ectx})
    out = cat.sql(
        "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
    )
    assert out.count() > 0
    # a shape the rewriter declines (window fn) falls back to spark.sql over
    # the registered fact view instead of failing with AnalysisException
    out2 = ectx.sql(
        "SELECT user_id, row_number() OVER (ORDER BY user_id) AS rn "
        "FROM events LIMIT 5"
    )
    assert out2.count() == 5


def test_routes_to_owning_context(catalog):
    out = catalog.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
    )
    assert catalog.query_history[-1].backing in ("cube", "flat", "base")
    assert out.count() > 0

    out = catalog.sql(
        "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
    )
    assert catalog.query_history[-1].backing in ("cube", "flat", "base")
    assert out.count() > 0


def test_star_join_routes_and_matches_oracle(catalog):
    sql = (
        "SELECT c_mktsegment, count(*) AS n, sum(l_quantity) AS sq "
        "FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    )
    got = [tuple(r) for r in catalog.sql(sql).collect()]
    assert catalog.query_history[-1].backing != "sparksql"
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    assert got == con.execute(sql).fetchall()


def test_cross_datasource_falls_back(catalog):
    """A join across datasources is never index-servable — plain Spark over
    the registered base views answers it (reference contract: DruidStrategy
    returns Nil, Spark plans normally)."""
    out = catalog.sql(
        "SELECT e.event_type, count(*) AS n "
        "FROM events e JOIN orders o ON e.user_id % 100 = o_custkey % 100 "
        "GROUP BY e.event_type"
    )
    assert catalog.query_history[-1].backing == "sparksql"
    assert out.count() > 0


def test_explain_rewrite_routing(catalog):
    txt = catalog.explain_rewrite(
        "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
    )
    assert "backing=" in txt
    assert "no rewrite" in catalog.explain_rewrite(
        "SELECT * FROM events JOIN lineitem ON user_id = l_orderkey"
    )


# ---------------------------------------------------------------------------
# federation: WITH bodies routed to their owning contexts
# ---------------------------------------------------------------------------


def _duck_all():
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def test_federated_cte_join_matches_duckdb(catalog):
    """A cross-datasource WITH-join: each CTE body runs through its owning
    context, the outer join runs over the lazy results — one Spark DAG,
    index-served leaves, never two raw star scans."""
    sql = """
WITH cust AS (
  SELECT c_custkey % 10 AS b, count(*) AS n_cust
  FROM customer GROUP BY 1
), ev AS (
  SELECT user_id % 10 AS b, count(*) AS n_ev
  FROM events GROUP BY 1
)
SELECT cust.b AS b, n_cust, n_ev
FROM cust JOIN ev ON cust.b = ev.b
ORDER BY b"""
    got = [tuple(r) for r in catalog.sql(sql).collect()]
    rec = catalog.query_history[-1]
    assert rec.backing == "federated", rec.decision
    assert "cust -> tpch" in rec.decision and "ev -> events" in rec.decision
    assert got == _duck_all().execute(sql).fetchall()


def test_federated_bodies_are_index_served(catalog):
    """Plain-dimension aggregate bodies must come back cube/flat-served,
    not sparksql — the whole point of federating instead of falling back."""
    sql = """
WITH seg AS (
  SELECT l_returnflag AS s, count(*) AS n_items FROM lineitem GROUP BY 1
), ev AS (
  SELECT event_type, count(*) AS n_ev FROM events GROUP BY 1
)
SELECT s, event_type, n_items, n_ev
FROM seg CROSS JOIN ev ORDER BY s, event_type"""
    got = [tuple(r) for r in catalog.sql(sql).collect()]
    rec = catalog.query_history[-1]
    assert rec.backing == "federated"
    # each body landed on an index backing (cube or flat), not sparksql
    import re

    routed = dict(re.findall(r"(\w+) -> \w+ \((\w+)\)", rec.decision))
    assert routed.get("seg") in ("cube", "flat"), rec.decision
    assert routed.get("ev") in ("cube", "flat"), rec.decision
    assert got == _duck_all().execute(sql).fetchall()


def test_federated_cte_chain(catalog):
    """A CTE referencing an earlier CTE runs over the registered views
    (spark.sql); the statement still federates and matches DuckDB."""
    sql = """
WITH ev AS (
  SELECT user_id % 5 AS b, count(*) AS n FROM events GROUP BY 1
), top_b AS (
  SELECT b FROM ev ORDER BY n DESC, b LIMIT 2
)
SELECT c_custkey % 5 AS b, count(*) AS n_cust
FROM customer WHERE c_custkey % 5 IN (SELECT b FROM top_b)
GROUP BY 1 ORDER BY 1"""
    got = [tuple(r) for r in catalog.sql(sql).collect()]
    rec = catalog.query_history[-1]
    assert rec.backing == "federated"
    assert "top_b -> sparksql" in rec.decision
    assert got == _duck_all().execute(sql).fetchall()


def test_federated_declines_recursive(catalog):
    """RECURSIVE is outside the splitter surface: the plain multi-datasource
    fallback answers it (correctly) instead."""
    sql = """
WITH RECURSIVE r(n) AS (
  SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 3
)
SELECT (SELECT count(*) FROM events) AS ev_n, max(n) AS m FROM r"""
    got = [tuple(r) for r in catalog.sql(sql).collect()]
    assert catalog.query_history[-1].backing == "sparksql"
    assert got[0][1] == 3


def test_federated_explain_names_both_contexts(catalog):
    """VERDICT r6 #6: catalog.explain_rewrite on a federable WITH renders
    the routing decision plus each owned body's context explain — both
    datasource names and both backings — WITHOUT executing anything."""
    sql = """
WITH rev AS (
  SELECT l_returnflag AS flag, count(*) AS n_items
  FROM lineitem GROUP BY l_returnflag
), ev AS (
  SELECT event_type, count(*) AS n_ev
  FROM events GROUP BY event_type
)
SELECT flag, event_type, n_items, n_ev
FROM rev CROSS JOIN ev
"""
    before = len(catalog.query_history)
    txt = catalog.explain_rewrite(sql)
    assert "routing: federated WITH" in txt
    assert "cte rev: -> datasource 'tpch'" in txt
    assert "cte ev: -> datasource 'events'" in txt
    assert txt.count("backing=") == 2
    assert "outer: spark.sql joining the lazy index-served CTE results" in txt
    # explain executed nothing: no query-history entries were appended
    assert len(catalog.query_history) == before
    # and the single-datasource form names its context
    one = catalog.explain_rewrite(
        "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
    )
    assert one.startswith("routing: single datasource 'events'")


def test_readme_explain_examples_stay_accurate(catalog):
    """Doctest-style check for the README's worked explain examples
    (VERDICT r7 #7): run each README statement through the catalog and
    assert the advertised marker lines actually render. If the explain
    format changes, this fails before the README silently rots."""
    # README federation example (structure-identical WITH)
    fed = catalog.explain_rewrite(
        """WITH rev AS (SELECT l_returnflag AS flag, count(*) AS n_items
                        FROM lineitem GROUP BY l_returnflag),
                ev AS (SELECT event_type, count(*) AS n_ev
                        FROM events GROUP BY event_type)
           SELECT flag, event_type, n_items, n_ev FROM rev CROSS JOIN ev"""
    )
    for marker in (
        "routing: federated WITH",
        "-> datasource 'tpch'",
        "-> datasource 'events'",
        "backing=",
        "outer: spark.sql joining the lazy index-served CTE results",
    ):
        assert marker in fed, marker
    # README set-operation example: both arms index-served
    setop_sql = """SELECT 'early' AS period, l_returnflag AS flag,
                          count(*) AS n
                   FROM lineitem WHERE l_shipdate < DATE '1997-01-01'
                   GROUP BY l_returnflag
                   UNION ALL
                   SELECT 'late', l_returnflag, count(*)
                   FROM lineitem WHERE l_shipdate >= DATE '1997-01-01'
                   GROUP BY l_returnflag
                   ORDER BY period, flag"""
    catalog.sql(setop_sql).collect()
    assert catalog.query_history[-1].backing.startswith("setop[")
    # README semi-join example: accelerated + explain renders the arms
    sj_sql = """SELECT l_returnflag, count(*) AS n FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                     WHERE o_orderpriority = '1-URGENT')
                  AND l_shipdate >= DATE '1996-01-01'
                GROUP BY l_returnflag"""
    catalog.sql(sj_sql).collect()
    assert catalog.query_history[-1].backing == (
        "semijoin[flat<-base[orders]]"
    )
    tctx = catalog.contexts["tpch"]
    sj = tctx.explain_rewrite(sj_sql)
    for marker in (
        "query shape: SemiJoinQuery (1 arm; outer forced to row grain)",
        "-- arm 0: left_semi on (l_orderkey=o_orderkey) --",
        "distinct keys over base table 'orders' (dim grain)",
        "-- outer (subquery conjuncts removed) --",
    ):
        assert marker in sj, marker
    # README quantified/correlated example (round-8 continuation): NOT IN
    # anti+guard, ALL-quantifier guard, Q17 decorrelation — all in one
    # statement, advertised backing markers must render
    quant_sql = """SELECT count(*) AS n FROM lineitem
                   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                            WHERE o_orderpriority
                                                  = '1-URGENT')
                     AND l_extendedprice > ALL (SELECT o_totalprice / 400
                                                FROM orders
                                                WHERE o_totalprice < 100000)
                     AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                                       FROM lineitem l2
                                       WHERE l2.l_partkey
                                             = lineitem.l_partkey)"""
    catalog.sql(quant_sql).collect()
    b = catalog.query_history[-1].backing
    # naaj = NOT IN as a null-aware anti join (broadcast-sized key set);
    # guard:base[orders] = the ALL quantifier's min/max bundle
    for marker in (
        "naaj:base[orders]", "guard:base[orders]", "corrscalar:",
    ):
        assert marker in b, (marker, b)
    qx = tctx.explain_rewrite(quant_sql)
    for marker in (
        "left_anti",
        "guard 0: broadcast 1-row aggregate bundle",
        "guard 1: broadcast 1-row aggregate bundle",
        "correlated scalar 0: decorrelated GROUP BY (l_partkey)",
    ):
        assert marker in qx, marker


def test_catalog_history_keeps_failed_fallback(spark):
    """A statement routed to one context whose spark.sql fallback raises is
    in that context's history; the catalog's history must record it too."""
    from pyspark.errors import AnalysisException

    ctx = OlapContext(
        spark,
        tpch.build_or_load_index(spark, SF_DIR),
        base_tables=tpch.load_star_tables(spark, SF_DIR),
    )
    cat = OlapCatalog(spark, {"tpch": ctx})
    with pytest.raises(AnalysisException):
        # k = 100 is not a power of two: the rewrite declines, and Spark
        # knows no such function
        cat.sql("SELECT theta_count_distinct(l_partkey, 100) AS d FROM lineitem")
    assert len(ctx.query_history) == 1
    assert cat.query_history == ctx.query_history
    assert cat.query_history[0].decision.startswith("fallback:")
