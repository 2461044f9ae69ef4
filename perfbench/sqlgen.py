"""Seeded SQL for the read workloads.

Every statement names its star tables with explicit ``JOIN``s over the
engine's renamed star (``custnation``, ``suppregion``, ...), so the same text
runs through ``OlapContext.sql`` and, over views of the raw parquet, through
DuckDB. Constants are TPC-H domain values, so the generator needs no data.

Aggregates that an ``ORDER BY ... LIMIT`` sorts on are exact in both engines
(counts, sums of integer-valued doubles, decimal sums), and every sort key
ends with the group keys, so a top-k is the same set in both engines.
"""

from __future__ import annotations

import datetime
import random

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DOMAINS = {
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["F", "O"],
    "o_orderpriority": [
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    ],
    "o_orderstatus": ["F", "O", "P"],
    "c_mktsegment": [
        "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
    ],
    "c_nation": NATIONS,
    "c_region": REGIONS,
    "s_nation": NATIONS,
    "s_region": REGIONS,
    "p_brand": [f"Brand#{m}{n}" for m in range(1, 6) for n in range(1, 6)],
    "p_type": ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
}
# star tables each dimension needs, in join order
DIM_TABLES = {
    "l_returnflag": [],
    "l_linestatus": [],
    "o_orderpriority": ["orders"],
    "o_orderstatus": ["orders"],
    "c_mktsegment": ["orders", "customer"],
    "c_nation": ["orders", "customer", "custnation"],
    "c_region": ["orders", "customer", "custnation", "custregion"],
    "s_nation": ["supplier", "suppnation"],
    "s_region": ["supplier", "suppnation", "suppregion"],
    "p_brand": ["part"],
    "p_type": ["part"],
}
JOINS = {
    "orders": "JOIN orders ON l_orderkey = o_orderkey",
    "customer": "JOIN customer ON o_custkey = c_custkey",
    "custnation": "JOIN custnation ON c_nationkey = cn_nationkey",
    "custregion": "JOIN custregion ON cn_regionkey = cr_regionkey",
    "supplier": "JOIN supplier ON l_suppkey = s_suppkey",
    "suppnation": "JOIN suppnation ON s_nationkey = sn_nationkey",
    "suppregion": "JOIN suppregion ON sn_regionkey = sr_regionkey",
    "part": "JOIN part ON l_partkey = p_partkey",
}
PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"
DISC = "CAST(l_discount AS DECIMAL(4,2))"
REV = f"{PRICE} * CAST(1 - {DISC} AS DECIMAL(4,2))"
# (expression, exact in both engines)
REV_SUM = (f"CAST(SUM({REV}) AS DOUBLE)", True)
AGGS = [
    ("COUNT(*)", True),
    ("SUM(l_quantity)", True),
    (f"CAST(SUM({PRICE}) AS DOUBLE)", True),
    REV_SUM,
    (f"CAST(SUM({DISC}) AS DOUBLE)", True),
    ("MIN(l_extendedprice)", True),
    ("MAX(l_quantity)", True),
    ("AVG(l_quantity)", False),
]
FIRST_MONTH = datetime.date(1992, 1, 1)
N_MONTHS = 83  # ship dates run from 1992-01 to 1998-12


def _month(i: int) -> datetime.date:
    return datetime.date(FIRST_MONTH.year + i // 12, 1 + i % 12, 1)


def _lit(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def _joins(dims) -> str:
    tables: list[str] = []
    for d in dims:
        for t in DIM_TABLES[d]:
            if t not in tables:
                tables.append(t)
    order = list(JOINS)
    return "".join(f" {JOINS[t]}" for t in sorted(tables, key=order.index))


def ship_window(rng: random.Random, months: int, aligned: bool) -> str:
    """A ``[start, end)`` window of about ``months`` months at a random
    start; unaligned windows start and end on a random day."""
    start = rng.randrange(0, N_MONTHS - months)
    lo, hi = _month(start), _month(start + months)
    if not aligned:
        lo += datetime.timedelta(days=rng.randrange(1, 28))
        hi += datetime.timedelta(days=rng.randrange(1, 28))
    return f"l_shipdate >= DATE '{lo}' AND l_shipdate < DATE '{hi}'"


FACT = ["l_returnflag", "l_linestatus"]
ORDER = ["o_orderpriority", "o_orderstatus"]
CUST = ["c_mktsegment", "c_nation", "c_region"]
CUST_GEO = ["c_nation", "c_region"]
SUPP = ["s_nation", "s_region"]
PART = ["p_brand", "p_type"]
# One cycle of the ad-hoc stream: eight aggregate patterns and two of
# SHAPES (None). A pattern fixes the query's structure -- the dimension group
# each grouped column and each IN filter comes from, whether the window is
# month-aligned, its length in months, ORDER BY ... LIMIT, and whether the
# revenue sum is among the aggregates -- and the seed draws the rest, so
# every run issues a similar mix of query costs. The revenue sum and
# c_mktsegment decide between a cube and the flat table on an aligned
# window, so they are part of the structure. Cheap and dear patterns
# alternate, so a run that stops part-way through a cycle still times a
# balanced mix.
AGG_PATTERNS = [
    ([], [], True, 12, False, False),
    None,
    ([CUST], [], False, 3, False, False),
    ([PART, FACT], [], True, 24, True, True),
    ([SUPP], [], False, 1, True, False),
    ([CUST_GEO, SUPP], [], True, 6, False, False),
    ([PART, CUST], [ORDER, SUPP], False, 12, False, True),
    None,
    ([FACT], [], True, 24, False, True),
    ([ORDER], [FACT], True, 6, False, False),
]
SHAPES = ["in", "exists", "not_exists", "scalar", "union", "window"]


def aggregate_query(rng: random.Random, pattern) -> str:
    dim_groups, in_groups, aligned, months, top, rev = pattern
    dims = [rng.choice(g) for g in dim_groups]
    others = [a for a in AGGS if a is not REV_SUM]
    n = rng.randint(1, 3)
    aggs = rng.sample(others, n - 1) + [REV_SUM] if rev else rng.sample(others, n)
    if top:  # the sort key must be exact in both engines
        exact = [a for a in others if a[1] and a not in aggs]
        aggs = [rng.choice(exact)] + aggs
    where = [ship_window(rng, months, aligned)]
    in_dims = [rng.choice(g) for g in in_groups]
    for d in in_dims:
        vals = rng.sample(DOMAINS[d], min(len(DOMAINS[d]), rng.randint(1, 3)))
        where.append(f"{d} IN ({', '.join(_lit(v) for v in sorted(vals))})")
    sel = dims + [f"{a} AS a{i}" for i, (a, _) in enumerate(aggs)]
    sql = (
        f"SELECT {', '.join(sel)} FROM lineitem{_joins(dims + in_dims)}"
        f" WHERE {' AND '.join(where)}"
    )
    if dims:
        sql += f" GROUP BY {', '.join(dims)}"
        if top:
            key = ", ".join(["a0 DESC", *dims])
            sql += f" ORDER BY {key} LIMIT {rng.choice([5, 10, 20])}"
    return sql


def shape_query(rng: random.Random, kind: str) -> str:
    """Subquery, set-operation and window shapes with seeded constants."""
    d = rng.choice(["l_returnflag", "l_linestatus"])
    win = ship_window(rng, rng.choice([6, 12, 24]), True)
    if kind == "in":
        p = rng.choice(DOMAINS["o_orderpriority"])
        return (
            f"SELECT {d}, COUNT(*) AS n FROM lineitem WHERE l_orderkey IN "
            f"(SELECT o_orderkey FROM orders WHERE o_orderpriority = {_lit(p)})"
            f" AND {win} GROUP BY {d}"
        )
    if kind in ("exists", "not_exists"):
        neg = "NOT " if kind == "not_exists" else ""
        price = rng.randrange(50_000, 400_000, 1000)
        return (
            f"SELECT {d}, COUNT(*) AS n FROM lineitem WHERE {neg}EXISTS "
            f"(SELECT 1 FROM orders WHERE o_orderkey = l_orderkey"
            f" AND o_totalprice > {price}) AND {win} GROUP BY {d}"
        )
    if kind == "scalar":
        return (
            f"SELECT {d}, COUNT(*) AS n FROM lineitem WHERE l_quantity > "
            f"(SELECT AVG(l_quantity) FROM lineitem) AND {win} GROUP BY {d}"
        )
    if kind == "union":
        a = rng.randrange(0, N_MONTHS - 24)
        b = a + rng.randint(1, 12)
        c = b + rng.randint(1, 12)
        arm = (
            "SELECT {p} AS period, {d} AS k, CAST(SUM({rev}) AS DOUBLE) AS rev"
            " FROM lineitem WHERE l_shipdate >= DATE '{lo}'"
            " AND l_shipdate < DATE '{hi}' GROUP BY {d}"
        )
        return (
            arm.format(p="'early'", d=d, rev=REV, lo=_month(a), hi=_month(b))
            + " UNION ALL "
            + arm.format(p="'late'", d=d, rev=REV, lo=_month(b), hi=_month(c))
            + " ORDER BY period, k"
        )
    return (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS s,"
        " rank() OVER (PARTITION BY l_returnflag ORDER BY SUM(l_quantity)"
        " DESC) AS rk FROM lineitem"
        f" WHERE {win} GROUP BY l_returnflag, l_linestatus"
    )


def adhoc_stream(seed: int):
    """Endless stream of distinct ad-hoc queries in cycles of AGG_PATTERNS,
    each None taking the next of SHAPES."""
    rng = random.Random(seed)
    seen: set[str] = set()
    shapes = 0
    while True:
        for pattern in AGG_PATTERNS:
            while True:
                if pattern is None:
                    sql = shape_query(rng, SHAPES[shapes % len(SHAPES)])
                else:
                    sql = aggregate_query(rng, pattern)
                if sql not in seen:
                    break
            shapes += pattern is None
            seen.add(sql)
            yield sql


DASHBOARD = {
    "q1": (
        f"SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,"
        f" CAST(SUM({PRICE}) AS DOUBLE) AS sum_base_price,"
        f" CAST(SUM({REV}) AS DOUBLE) AS sum_disc_price,"
        f" AVG(l_quantity) AS avg_qty, COUNT(*) AS count_order"
        f" FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'"
        f" GROUP BY l_returnflag, l_linestatus"
        f" ORDER BY l_returnflag, l_linestatus"
    ),
    "basic_agg": (
        f"SELECT COUNT(*) AS cnt, CAST(SUM({REV}) AS DOUBLE) AS revenue"
        f" FROM lineitem"
    ),
    "ship_date_range": (
        f"SELECT COUNT(*) AS cnt, CAST(SUM({REV}) AS DOUBLE) AS revenue"
        f" FROM lineitem WHERE l_shipdate >= DATE '1995-01-01'"
        f" AND l_shipdate < DATE '1996-01-01'"
    ),
    "monthly_revenue": (
        f"SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,"
        f" CAST(SUM({REV}) AS DOUBLE) AS revenue FROM lineitem"
        f" WHERE l_shipdate >= DATE '1997-01-01'"
        f" AND l_shipdate < DATE '1998-01-01' GROUP BY 1 ORDER BY 1"
    ),
    "dim_filters": (
        f"SELECT c_nation, COUNT(*) AS cnt, CAST(SUM({REV}) AS DOUBLE)"
        f" AS revenue FROM lineitem{_joins(['c_nation', 'o_orderpriority'])}"
        f" WHERE c_mktsegment = 'BUILDING'"
        f" AND o_orderpriority IN ('1-URGENT', '2-HIGH')"
        f" GROUP BY c_nation ORDER BY c_nation"
    ),
    "topn_brand": (
        f"SELECT p_brand, CAST(SUM({REV}) AS DOUBLE) AS revenue"
        f" FROM lineitem{_joins(['p_brand'])}"
        f" WHERE l_shipdate >= DATE '1996-01-01'"
        f" AND l_shipdate < DATE '1997-01-01'"
        f" GROUP BY p_brand ORDER BY revenue DESC, p_brand LIMIT 10"
    ),
    "q3": (
        f"SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_odate,"
        f" o_orderpriority, CAST(SUM({REV}) AS DOUBLE) AS revenue"
        f" FROM lineitem{_joins(['c_mktsegment'])}"
        f" WHERE c_mktsegment = 'BUILDING'"
        f" AND o_orderdate < DATE '1995-03-15'"
        f" AND l_shipdate >= DATE '1995-03-15'"
        f" GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10"
    ),
    "q5": (
        f"SELECT c_nation, CAST(SUM({REV}) AS DOUBLE) AS revenue"
        f" FROM lineitem{_joins(['c_region', 's_nation'])}"
        f" WHERE c_region = 'ASIA' AND o_orderdate >= DATE '1994-01-01'"
        f" AND o_orderdate < DATE '1995-01-01' AND c_nation = s_nation"
        f" GROUP BY c_nation ORDER BY revenue DESC, c_nation"
    ),
    "q7": (
        f"SELECT s_nation AS supp_nation, c_nation AS cust_nation,"
        f" CAST(year(l_shipdate) AS INTEGER) AS l_year,"
        f" CAST(SUM({REV}) AS DOUBLE) AS revenue"
        f" FROM lineitem{_joins(['c_nation', 's_nation'])}"
        f" WHERE ((c_nation = 'FRANCE' AND s_nation = 'GERMANY')"
        f" OR (c_nation = 'GERMANY' AND s_nation = 'FRANCE'))"
        f" AND l_shipdate >= DATE '1995-01-01'"
        f" AND l_shipdate < DATE '1997-01-01' GROUP BY 1, 2, 3"
    ),
    "q8": (
        f"SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,"
        f" CAST(SUM(CASE WHEN s_nation = 'BRAZIL' THEN {REV} END) AS DOUBLE)"
        f" AS nation_rev, CAST(SUM({REV}) AS DOUBLE) AS total_rev"
        f" FROM lineitem{_joins(['c_region', 's_nation', 'p_type'])}"
        f" WHERE c_region = 'AMERICA' AND p_type = 'ECONOMY'"
        f" GROUP BY 1 ORDER BY 1"
    ),
    "q10": (
        f"SELECT c_custkey, c_name, c_acctbal, c_nation,"
        f" CAST(SUM({REV}) AS DOUBLE) AS revenue"
        f" FROM lineitem{_joins(['c_nation'])}"
        f" WHERE l_returnflag = 'R' AND o_orderdate >= DATE '1993-10-01'"
        f" AND o_orderdate < DATE '1994-01-01'"
        f" GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20"
    ),
    "q6": (
        f"SELECT CAST(SUM({PRICE} * {DISC}) AS DOUBLE) AS revenue"
        f" FROM lineitem WHERE l_shipdate >= DATE '1994-01-01'"
        f" AND l_shipdate < DATE '1995-01-01'"
        f" AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
    ),
    "flags_1996": (
        "SELECT l_returnflag, COUNT(*) AS cnt, SUM(l_quantity) AS qty"
        " FROM lineitem WHERE l_shipdate >= DATE '1996-01-01'"
        " AND l_shipdate < DATE '1997-01-01' GROUP BY l_returnflag"
    ),
    "segment_priority": (
        f"SELECT c_mktsegment, o_orderpriority, COUNT(*) AS cnt"
        f" FROM lineitem{_joins(['c_mktsegment'])}"
        f" GROUP BY c_mktsegment, o_orderpriority"
    ),
    "supplier_region": (
        f"SELECT s_region, CAST(SUM({REV}) AS DOUBLE) AS revenue"
        f" FROM lineitem{_joins(['s_region'])} GROUP BY s_region"
    ),
    "type_region_qty": (
        f"SELECT p_type, c_region, SUM(l_quantity) AS qty"
        f" FROM lineitem{_joins(['p_type', 'c_region'])}"
        f" WHERE l_shipdate >= DATE '1997-04-01'"
        f" AND l_shipdate < DATE '1997-10-01' GROUP BY p_type, c_region"
    ),
}


ZIPF_EXPONENT = 1.1


def dashboard_stream(seed: int):
    """Endless Zipf-ordered stream over the 16 dashboard queries. Their
    popularity ranks are fixed, in ``DASHBOARD`` order, so every seed issues
    a similar mix of query costs; the seed draws the sequence."""
    rng = random.Random(seed)
    names = list(DASHBOARD)
    weights = [1.0 / (rank + 1) ** ZIPF_EXPONENT for rank in range(len(names))]
    while True:
        name = rng.choices(names, weights)[0]
        yield DASHBOARD[name]
