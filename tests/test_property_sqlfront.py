"""Property-based fuzzing of the SQL entry point.

Hypothesis composes random ANSI SELECTs from a dialect-shared grammar
(aliased aggregates, portable filters) — the SAME text executes through
ctx.sql (sqlfront -> IR -> planner -> cube/flat lowering) and through DuckDB
over the raw lineitem parquet. Any parse, interval-extraction, filter-
translation, aggregate-mapping, or planner-routing bug surfaces as a
counterexample with the offending SQL attached.
"""

import datetime
import decimal
import math
from collections import Counter

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings

import os

# deepen all fuzzers by a factor (one-off robustness sweeps):
#   PYSPARKLINE_FUZZ_SCALE=5 python -m pytest tests/test_property_*.py
_FUZZ_SCALE = int(os.environ.get("PYSPARKLINE_FUZZ_SCALE", "1"))
from hypothesis import strategies as st

from pysparkline import tpch
from pysparkline.session import OlapContext

SF = "/root/testdata/sf0.001"

DIMS = {
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["F", "O"],
}
METRICS = ["l_quantity", "l_extendedprice"]

dim = st.sampled_from(sorted(DIMS))


@st.composite
def predicates(draw):
    kind = draw(st.sampled_from(["eq", "in", "between", "notnull", "like"]))
    if kind == "eq":
        c = draw(dim)
        return f"{c} = '{draw(st.sampled_from(DIMS[c]))}'"
    if kind == "in":
        c = draw(dim)
        vs = draw(st.lists(st.sampled_from(DIMS[c]), min_size=1, max_size=3,
                           unique=True))
        return f"{c} IN ({', '.join(repr(v) for v in vs)})"
    if kind == "between":
        if draw(st.booleans()):
            lo = draw(st.integers(0, 5))
            hi = draw(st.integers(5, 10))
            return f"l_discount BETWEEN 0.0{lo} AND 0.0{hi}"
        lo = draw(st.integers(0, 25))
        hi = draw(st.integers(26, 50))
        return f"l_quantity BETWEEN {lo} AND {hi}"
    if kind == "notnull":
        return f"{draw(dim)} IS NOT NULL"
    return "l_returnflag LIKE '%A%'"


@st.composite
def where_clauses(draw):
    n = draw(st.integers(0, 3))
    if n == 0:
        return ""
    preds = [draw(predicates()) for _ in range(n)]
    op = draw(st.sampled_from([" AND ", " OR "]))
    body = op.join(preds)
    if draw(st.booleans()):
        y = draw(st.integers(1995, 1999))
        body = (
            f"l_shipdate >= DATE '{y}-01-01' AND "
            f"l_shipdate < DATE '{y + 1}-01-01' AND ({body})"
        )
    return " WHERE " + body


@st.composite
def select_sqls(draw):
    if draw(st.integers(0, 5)) == 0:
        # ROW-GRAIN windows (no GROUP BY) over the fact's pruned scan —
        # (l_orderkey, l_linenumber) is unique, so every shape below is
        # value-deterministic however rows are ordered
        # (l_orderkey, l_linenumber) is NOT unique in this synthetic
        # fixture, so every shape must be deterministic AS A MULTISET under
        # tie reordering: rn/run select only the ordering columns (tie rows
        # are then fully identical), and lag lags the ORDER column itself
        # (swapping equal-keyed rows permutes equal lag inputs)
        kind = draw(st.sampled_from(["rn", "run", "lag", "lagn", "fsum"]))
        w = "PARTITION BY l_orderkey ORDER BY l_linenumber"
        expr = {
            "rn": f"ROW_NUMBER() OVER ({w})",
            "run": f"SUM(l_linenumber) OVER ({w})",
            "lag": f"LAG(l_linenumber, 1, 0) OVER ({w})",
            # IGNORE NULLS lags a function of the order column only, so tie
            # permutations permute equal inputs (same argument as "lag")
            "lagn": (
                "LAG(CASE WHEN l_linenumber > 2 THEN l_linenumber END"
                f" IGNORE NULLS) OVER ({w})"
            ),
            # FILTER over the window input rows (CASE rewrite surface);
            # condition depends only on the ordering column — tie-safe
            "fsum": (
                "SUM(l_linenumber) FILTER (WHERE l_linenumber % 2 = 0)"
                f" OVER ({w})"
            ),
        }[kind]
        return (
            f"SELECT l_orderkey, l_linenumber, {expr} AS w0 "
            f"FROM lineitem{draw(where_clauses())}"
        )
    gcols = draw(st.lists(dim, min_size=0, max_size=2, unique=True))
    aggs = draw(
        st.lists(
            st.sampled_from(
                ["COUNT(*)", "SUM({m})", "MIN({m})", "MAX({m})",
                 "AVG({m})", "AVG({m} * 2 + 1)",
                 "COUNT(DISTINCT l_suppkey)",
                 "quantile_cont({m}, 0.9)", "median({m})"]
            ),
            min_size=1,
            max_size=3,
            unique=True,
        )
    )
    sel, names = list(gcols), list(gcols)
    for i, a in enumerate(aggs):
        m = draw(st.sampled_from(METRICS))
        sel.append(f"{a.format(m=m)} AS m{i}")
        names.append(f"m{i}")
    if gcols and draw(st.booleans()):
        # window over the aggregated result (WindowPostSpec surface); shapes
        # chosen deterministic under ties: rank (ties share a rank), sum
        # over a partition, lag ordered by the full (unique) group key
        m = draw(st.sampled_from(METRICS))
        kind = draw(
            st.sampled_from(
                ["share", "rank", "lag", "running", "frame", "vrange",
                 "vrange_desc", "nth", "wfilter", "cdist", "xcur", "xgrp",
                 "xdef"]
            )
        )
        if kind == "share":
            part = draw(st.sampled_from(["", f"PARTITION BY {gcols[0]}"]))
            sel.append(f"SUM(SUM({m})) OVER ({part}) AS w0")
        elif kind == "rank":
            sel.append(f"RANK() OVER (ORDER BY SUM({m}) DESC) AS w0")
        elif kind == "running":
            # cumulative over the full (unique) group key — total order, so
            # the ANSI tie-peer frame is trivially deterministic
            sel.append(
                f"SUM(SUM({m})) OVER (ORDER BY {', '.join(gcols)}) AS w0"
            )
        elif kind == "frame":
            lo = draw(st.integers(0, 3))
            sel.append(
                f"AVG(SUM({m})) OVER (ORDER BY {', '.join(gcols)} "
                f"ROWS BETWEEN {lo} PRECEDING AND CURRENT ROW) AS w0"
            )
        elif kind == "vrange":
            # numeric RANGE value frame over the aggregate key: the frame
            # is defined by VALUES, so tie order never matters
            width = draw(st.integers(0, 10_000))
            sel.append(
                f"COUNT(1) OVER (ORDER BY SUM({m}) RANGE BETWEEN {width} "
                f"PRECEDING AND CURRENT ROW) AS w0"
            )
        elif kind == "vrange_desc":
            # descending value frame (round 5): PRECEDING walks toward
            # larger keys; value-defined, so tie order never matters
            width = draw(st.integers(0, 10_000))
            sel.append(
                f"COUNT(1) OVER (ORDER BY SUM({m}) DESC RANGE BETWEEN "
                f"{width} PRECEDING AND CURRENT ROW) AS w0"
            )
        elif kind == "wfilter":
            # FILTER on a window aggregate (CASE rewrite); condition over a
            # grouped dim — deterministic, and the IS NULL draw exercises
            # the all-rows-filtered (empty window -> NULL) edge
            cond = draw(
                st.sampled_from(
                    [f"{gcols[0]} IS NOT NULL", f"{gcols[0]} IS NULL"]
                )
            )
            part = draw(st.sampled_from(["", f"PARTITION BY {gcols[0]}"]))
            sel.append(
                f"SUM(SUM({m})) FILTER (WHERE {cond}) OVER ({part}) AS w0"
            )
        elif kind == "xcur":
            # EXCLUDE CURRENT ROW (round 6, subtraction/split composition):
            # ROWS frame over the full (unique) group key — deterministic
            fn = draw(st.sampled_from(["SUM", "AVG", "COUNT", "MIN", "MAX"]))
            lo = draw(st.integers(0, 3))
            hi = draw(st.integers(0, 3))
            sel.append(
                f"{fn}(SUM({m})) OVER (ORDER BY {', '.join(gcols)} "
                f"ROWS BETWEEN {lo} PRECEDING AND {hi} FOLLOWING "
                "EXCLUDE CURRENT ROW) AS w0"
            )
        elif kind == "xgrp":
            # EXCLUDE GROUP/TIES over a RANGE value frame (peer-group
            # subtraction): value-defined, so tie order never matters
            ex = draw(st.sampled_from(["GROUP", "TIES"]))
            fn = draw(st.sampled_from(["SUM", "COUNT"]))
            width = draw(st.integers(0, 10_000))
            sel.append(
                f"{fn}(SUM({m})) OVER (ORDER BY SUM({m}) RANGE BETWEEN "
                f"{width} PRECEDING AND {width} FOLLOWING "
                f"EXCLUDE {ex}) AS w0"
            )
        elif kind == "xdef":
            # EXCLUDE over the ANSI default running frame / fully-unbounded
            # ROWS frame (round-6 review fix: these previously hard-failed);
            # running frame ordered by the full unique group key so the
            # running prefix is deterministic
            ex = draw(st.sampled_from(["CURRENT ROW", "GROUP", "TIES"]))
            if draw(st.booleans()):
                sel.append(
                    f"SUM(SUM({m})) OVER (ORDER BY {', '.join(gcols)} "
                    "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW "
                    f"EXCLUDE {ex}) AS w0"
                )
            else:
                sel.append(
                    f"COUNT(SUM({m})) OVER (ORDER BY {', '.join(gcols)} "
                    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED "
                    f"FOLLOWING EXCLUDE {ex}) AS w0"
                )
        elif kind == "cdist":
            # DISTINCT count window (collect_set rewrite); no ORDER BY, so
            # tie order never matters
            if len(gcols) == 2:
                sel.append(
                    f"COUNT(DISTINCT {gcols[1]}) OVER "
                    f"(PARTITION BY {gcols[0]}) AS w0"
                )
            else:
                sel.append(f"COUNT(DISTINCT {gcols[0]}) OVER () AS w0")
        elif kind == "nth":
            # full frame + total order (sum then the unique group key):
            # deterministic runner-up
            sel.append(
                f"NTH_VALUE({gcols[0]}, 2) OVER (ORDER BY SUM({m}) DESC, "
                f"{', '.join(gcols)} ROWS BETWEEN UNBOUNDED PRECEDING AND "
                "UNBOUNDED FOLLOWING) AS w0"
            )
        else:
            sel.append(
                f"LAG(SUM({m}), 1, 0.0) OVER "
                f"(ORDER BY {', '.join(gcols)}) AS w0"
            )
        names.append("w0")
    sql = f"SELECT {', '.join(sel)} FROM lineitem{draw(where_clauses())}"
    if gcols:
        sql += " GROUP BY " + ", ".join(gcols)
        if draw(st.booleans()):
            sql += f" HAVING COUNT(*) > {draw(st.integers(0, 100))}"
        if draw(st.booleans()):
            sql += " ORDER BY " + ", ".join(gcols) + f" LIMIT {draw(st.integers(1, 10))}"
    return sql


@st.composite
def setop_sqls(draw):
    """Random two-arm set operations (round-7 surface): both arms share a
    shape (same column count/types); UNION ALL may carry per-arm constant
    tags (left aliased, right UNALIASED — the ANSI left-arm-names rule
    and the auto-alias path); distinct-semantics ops (UNION/INTERSECT/
    EXCEPT) avoid SUM so per-engine float dedup cannot diverge, and share
    one tag value so intersections are non-vacuous."""
    gcols = draw(st.lists(dim, min_size=1, max_size=2, unique=True))
    op = draw(
        st.sampled_from(["UNION ALL", "UNION", "INTERSECT", "EXCEPT"])
    )
    m = draw(st.sampled_from(METRICS))
    if op == "UNION ALL":
        agg = draw(
            st.sampled_from(["COUNT(*)", "SUM({m})", "MIN({m})", "MAX({m})"])
        ).format(m=m)
        tags = ("actual", "plan")
    else:
        # exact-valued aggregates only: dedup on a 1-ULP-different SUM
        # would collapse rows differently per engine
        agg = draw(
            st.sampled_from(["COUNT(*)", "MIN({m})", "MAX({m})"])
        ).format(m=m)
        tags = ("t", "t")
    with_tag = draw(st.booleans())

    def arm(where, tagval, first):
        sel = []
        if with_tag:
            sel.append(f"'{tagval}' AS tag" if first else f"'{tagval}'")
        sel += list(gcols)
        sel.append(f"{agg} AS m0" if first else agg)
        return (
            f"SELECT {', '.join(sel)} FROM lineitem{where} "
            f"GROUP BY {', '.join(gcols)}"
        )

    # no ORDER BY ... LIMIT draw: a LIMIT cut at a tied prefix of gcols[0]
    # is engine-nondeterministic; the statement-level modifier path is
    # covered by the deterministic unit tests (test_setop_limit_offset)
    return (
        arm(draw(where_clauses()), tags[0], True)
        + f" {op} "
        + arm(draw(where_clauses()), tags[1], False)
    )


# every draw kind semijoin_sqls can take (WHERE arms, HAVING clauses,
# select-list scalars). The semijoin fuzz runs one stratum per kind, which
# pins that kind and draws everything else: a random draw over 25 kinds
# left some kinds undrawn in about half of the 100-example runs. Every
# kind used is counted, and a kind the fuzz never reached fails
# test_semijoin_draw_kinds_all_ran (a sentinel once silently replaced
# every correlated-HAVING draw, so that coverage never ran).
ARM_KINDS = ["in_dim", "in_fact", "exists", "not_exists", "scalar",
             "not_in", "corr_in", "quant", "corr_scalar",
             "corr_not_in", "corr_quant"]
HAVING_KINDS = ["none", "scalar", "hin", "hnot_in", "hexists", "hquant",
                "hin_or", "hcorr_exists", "hcorr_quant", "hcorr_not_in",
                "htheta"]
SELECT_KINDS = ["none", "share", "corr_residual"]
STRATA = (
    ["arm:" + k for k in ARM_KINDS]
    + ["having:" + k for k in HAVING_KINDS]
    + ["select:" + k for k in SELECT_KINDS]
)
DRAWN: Counter = Counter()


@st.composite
def semijoin_sqls(draw, stratum=None):
    """Random WHERE-subquery statements (round-8 surface): 1-2 conjunct
    arms drawn from {uncorrelated IN over a dim table, uncorrelated IN
    over the fact, [NOT] EXISTS equi-correlated on a dim table}, composed
    with ordinary predicates. Aggregates stay exact-valued (COUNT/MIN/MAX)
    so row sets compare exactly. ``stratum`` (one of STRATA) pins the
    first arm's, the HAVING clause's or the select-list scalar's kind."""
    pinned = dict([stratum.split(":")]) if stratum else {}
    gcols = draw(st.lists(dim, min_size=1, max_size=2, unique=True))
    m = draw(st.sampled_from(METRICS))
    agg = draw(
        st.sampled_from(["COUNT(*)", "MIN({m})", "MAX({m})"])
    ).format(m=m)

    def orders_pred():
        kind = draw(st.sampled_from(["prio", "status", "price"]))
        if kind == "prio":
            vs = draw(st.lists(
                st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]),
                min_size=1, max_size=2, unique=True,
            ))
            return f"o_orderpriority IN ({', '.join(repr(v) for v in vs)})"
        if kind == "status":
            return f"o_orderstatus = '{draw(st.sampled_from('FOP'))}'"
        return f"o_totalprice > {draw(st.integers(5, 45)) * 10000}"

    def arm(kind=None, under_or=False):
        # under_or suppresses the residual-only (broadcast theta) draw
        # variants: theta arms carry a residual, which the OR marker
        # composition declines (match sets are not distinct per row)
        if kind is None:
            kind = draw(st.sampled_from(ARM_KINDS))
        DRAWN["arm:" + kind] += 1
        if kind == "corr_not_in":
            # correlated NOT IN: multi-pair anti arm + per-group guard;
            # the CASE variant plants NULL members in SOME groups only
            if draw(st.integers(0, 3)) == 0:
                # residual-only (round 11, late): theta anti arm over the
                # tiny dim, (x = item) IS NOT FALSE carries the 3VL
                # (under OR: the count-bundle rewrite serves it)
                sz = draw(st.integers(2, 5))
                mult = draw(st.sampled_from([1, 2]))
                key = draw(st.sampled_from(
                    ["p_partkey",
                     "CASE WHEN p_size = 2 THEN NULL ELSE p_partkey END"]
                ))
                return (
                    f"l_partkey NOT IN (SELECT {key} FROM part "
                    f"WHERE p_size < {sz} AND p_retailprice "
                    f"< l_extendedprice * {mult})"
                )
            if draw(st.booleans()):
                return (
                    "l_partkey NOT IN (SELECT p_partkey FROM part "
                    f"WHERE p_size = l_linenumber AND p_size < "
                    f"{draw(st.integers(2, 50))})"
                )
            nullth = draw(st.sampled_from([0, 150000])) + 0
            return (
                "l_linenumber NOT IN (SELECT CASE WHEN o_totalprice < "
                f"{nullth} THEN NULL ELSE o_orderkey % "
                f"{draw(st.integers(2, 9))} END FROM orders "
                "WHERE o_orderkey = l_orderkey)"
            )
        if kind == "corr_quant":
            # correlated ANY/ALL: per-group stats guard (left join +
            # coalesced counts for ALL; inner join for ANY)
            q = draw(st.sampled_from(["ANY", "ALL"]))
            op2 = draw(st.sampled_from([">", ">=", "<", "<=", "<>"]))
            if op2 == "<>" and q == "ALL":
                op2 = ">"  # <> ALL == NOT IN — drawn by corr_not_in
            if draw(st.integers(0, 2)) == 0:
                # residual-only (round 11, late): no equi anchor —
                # broadcast theta over the tiny filtered dim (under OR:
                # the row-grain bundle serves it)
                sz = draw(st.integers(3, 9))
                mult = draw(st.sampled_from([1, 2]))
                return (
                    f"l_quantity {op2} {q} (SELECT p_size FROM part "
                    f"WHERE p_size < {sz} AND p_retailprice "
                    f"< l_extendedprice * {mult})"
                )
            nullth = draw(st.sampled_from([0, 150000]))
            div = draw(st.sampled_from([100, 2000]))
            return (
                f"l_quantity {op2} {q} (SELECT CASE WHEN o_totalprice < "
                f"{nullth} THEN NULL ELSE o_totalprice / {div} END "
                "FROM orders WHERE o_orderkey = l_orderkey)"
            )
        if kind == "not_in":
            # uncorrelated NOT IN (anti arm + three-valued guard); the
            # expression-key variant synthesizes NULL members so the
            # guard's NULL clause actually fires on some draws
            if draw(st.booleans()):
                return (
                    "l_orderkey NOT IN (SELECT o_orderkey FROM orders "
                    f"WHERE {orders_pred()})"
                )
            nullth = draw(st.sampled_from([0, 5000, 20000]))
            return (
                "l_orderkey NOT IN (SELECT CASE WHEN o_totalprice < "
                f"{nullth} THEN NULL ELSE o_orderkey END FROM orders "
                f"WHERE o_totalprice < {draw(st.integers(2, 40)) * 10000})"
            )
        if kind == "corr_in":
            # correlated IN rides the EXISTS machinery (equi pair from
            # the IN equality, optional non-equi residual)
            if draw(st.booleans()):
                mult = draw(st.integers(2, 60))
                return (
                    "l_orderkey IN (SELECT o_orderkey FROM orders "
                    f"WHERE o_totalprice > l_extendedprice * {mult})"
                )
            return (
                "l_partkey IN (SELECT p_partkey FROM part "
                f"WHERE p_size = l_linenumber AND p_size > "
                f"{draw(st.integers(1, 40))})"
            )
        if kind == "quant":
            # quantified ANY/ALL comparisons (guards); the divisor keeps
            # the threshold inside the metric's range so both branches of
            # the comparison are exercised
            q = draw(st.sampled_from(["ANY", "ALL"]))
            op2 = draw(st.sampled_from([">", ">=", "<", "<=", "<>"]))
            if op2 == "<>" and q == "ALL":
                # <> ALL is NOT IN — drawn by the not_in kind
                op2 = ">"
            div = draw(st.sampled_from([40, 400, 4000]))
            nullth = draw(st.sampled_from([0, 5000]))
            return (
                f"{m} {op2} {q} (SELECT CASE WHEN o_totalprice < "
                f"{nullth} THEN NULL ELSE o_totalprice / {div} END "
                "FROM orders "
                f"WHERE o_totalprice < {draw(st.integers(2, 20)) * 10000})"
            )
        if kind == "corr_scalar":
            # equi-correlated scalar aggregate (Q17 decorrelation);
            # integer-valued l_quantity keeps AVG engine-exact, COUNT
            # exercises the left-join empty-group path
            op2 = draw(st.sampled_from([">", ">=", "<", "<="]))
            if draw(st.integers(0, 3)) == 0:
                # residual-only (round 11, late): the rate-card idiom —
                # theta bundle over the tiny dim, safe under OR too
                # (the bundle joins back null-safely, one row/tuple)
                aggf = draw(st.sampled_from(["MAX", "MIN", "COUNT"]))
                sz = draw(st.integers(4, 9))
                return (
                    f"l_linenumber {op2} (SELECT {aggf}(p_size) "
                    f"FROM part WHERE p_size < {sz} "
                    "AND p_size > l_linenumber)"
                )
            if draw(st.booleans()):
                c = draw(st.sampled_from(["0.2", "0.5", "1.1"]))
                return (
                    f"l_quantity {op2} (SELECT {c} * AVG(l_quantity) "
                    "FROM lineitem l2 "
                    "WHERE l2.l_partkey = lineitem.l_partkey)"
                )
            th = draw(st.integers(2, 40)) * 10000
            return (
                f"l_linenumber {op2} (SELECT COUNT(*) FROM orders "
                "WHERE o_orderkey = l_orderkey "
                f"AND o_totalprice < {th})"
            )
        if kind == "scalar":
            m2 = draw(st.sampled_from(METRICS))
            aggf = draw(st.sampled_from(["AVG", "MIN", "MAX"]))
            op2 = draw(st.sampled_from([">", ">=", "<", "<="]))
            if draw(st.booleans()):
                inner = (
                    f"SELECT {aggf}({m2}) FROM lineitem WHERE "
                    f"l_returnflag = '{draw(st.sampled_from('ANR'))}'"
                )
            else:
                inner = f"SELECT {aggf}(o_totalprice) / 40 FROM orders"
            if draw(st.booleans()):
                return f"({inner}) {op2} {m2}"
            return f"{m2} {op2} ({inner})"
        if kind == "in_dim":
            return (
                "l_orderkey IN (SELECT o_orderkey FROM orders "
                f"WHERE {orders_pred()})"
            )
        if kind == "in_fact":
            q = draw(st.integers(35, 49))
            return (
                "l_partkey IN (SELECT l_partkey FROM lineitem "
                f"WHERE l_quantity > {q})"
            )
        neg = "NOT " if kind == "not_exists" else ""
        if draw(st.integers(0, 3)) == 0:
            # residual-only (round 11): NO equi anchor — broadcast
            # nested-loop over the tiny filtered dim (p_size pins the
            # inner well under theta_inner_max_rows at fixture scale;
            # under OR the count-bundle rewrite serves it)
            sz = draw(st.integers(1, 3))
            mult = draw(st.sampled_from([1, 2, 50]))
            return (
                f"{neg}EXISTS (SELECT 1 FROM part WHERE p_size = {sz} "
                f"AND p_retailprice < l_extendedprice * {mult})"
            )
        if draw(st.booleans()):
            # non-equi residual: mixed-scope conjunct rides the join cond
            mult = draw(st.integers(2, 60))
            resid = f"o_totalprice > l_extendedprice * {mult}"
        else:
            resid = orders_pred()
        return (
            f"{neg}EXISTS (SELECT 1 FROM orders "
            f"WHERE o_orderkey = l_orderkey AND {resid})"
        )

    conj = [arm(pinned.get("arm"))]
    conj += [arm() for _ in range(draw(st.integers(0, 1)))]
    if draw(st.booleans()):
        # OR-composed conjunct (marker joins / inline conditions). Only
        # kinds guaranteed residual-free are safe under OR for ARMS (a
        # residual key set could duplicate rows through the marker LEFT
        # join, so those shapes decline — and the fuzzer asserts
        # acceleration); corr_scalar is safe since round 11 (per-key
        # bundle is one row per key, forced LEFT join)
        kind = draw(st.sampled_from(
            ["in_dim", "in_fact", "not_in", "quant", "exists",
             "not_exists", "corr_in",
             "corr_not_in", "corr_quant", "scalar", "corr_scalar"]
        ))
        conj.append(f"({arm(kind, under_or=True)} OR {draw(predicates())})")
    if draw(st.booleans()):
        conj.append(draw(predicates()))
    if draw(st.booleans()):
        y = draw(st.integers(1995, 1998))
        conj.append(f"l_shipdate >= DATE '{y}-01-01'")
    sel = f"{', '.join(gcols)}, {agg} AS m0"
    skind = pinned.get("select") or draw(st.sampled_from(SELECT_KINDS))
    DRAWN["select:" + skind] += 1
    if skind == "share":
        # SELECT-list scalar subquery (deferred projection) composed with
        # the WHERE subqueries; house-style DOUBLE casts keep the division
        # engine-exact (ir.ScalarSelectQuery typing note)
        q2 = draw(st.integers(30, 48))
        sel += (
            ", CAST(SUM(l_quantity) AS DOUBLE)"
            " / (SELECT CAST(SUM(l_quantity) AS DOUBLE) FROM lineitem"
            f" WHERE l_quantity > {q2}) AS share"
        )
    elif skind == "corr_residual":
        # correlated SELECT-list scalar with a NON-EQUI residual over the
        # selected group column: the row-grain bundle LEFT-joined onto
        # the aggregated frame, anchored through the fact or residual-
        # only (broadcast theta over the tiny part dim); the CASE makes
        # the per-group match sets differ
        g0 = gcols[0]
        v = draw(st.sampled_from(DIMS[g0]))
        if draw(st.booleans()):
            fn = draw(st.sampled_from(
                ["COUNT(*)", "MAX(l2.l_quantity)", "SUM(l2.l_quantity)"]
            ))
            th = draw(st.sampled_from([30, 46, 49]))
            sub = (
                f"SELECT {fn} FROM lineitem l2 WHERE l2.{g0} = lineitem.{g0}"
                f" AND l2.l_quantity > CASE WHEN lineitem.{g0} = '{v}'"
                f" THEN {th} ELSE {th - 10} END"
            )
        else:
            sz = draw(st.integers(4, 9))
            sub = (
                f"SELECT MAX(p_size) FROM part WHERE p_size < {sz}"
                f" AND p_size > CASE WHEN {g0} = '{v}' THEN 1 ELSE 3 END"
            )
        sel += f", CAST(({sub}) AS DOUBLE) AS cs"
    having = ""
    hkind = pinned.get("having") or draw(st.sampled_from(HAVING_KINDS))
    DRAWN["having:" + hkind] += 1
    if hkind != "none":
        if hkind == "htheta":
            # round-11 late: residual-only quantified / [NOT] IN in
            # HAVING — the broadcast-theta row-grain bundle against the
            # frame (no equi anchor; tiny part inner under the cap). The
            # residual binds the SELECTED group column through a CASE so
            # per-group match sets genuinely differ.
            g0 = gcols[0]
            v = draw(st.sampled_from(DIMS[g0]))
            thr = draw(st.integers(1, 4))
            sz = draw(st.integers(4, 8))
            res = (
                f"p_size > CASE WHEN {g0} = '{v}' THEN {thr}"
                f" ELSE {thr + 2} END"
            )
            form = draw(st.integers(0, 2))
            if form == 0:
                q = draw(st.sampled_from(["ANY", "ALL"]))
                op2 = draw(st.sampled_from([">", ">=", "<", "<="]))
                having = (
                    f" HAVING AVG(l_quantity) {op2} {q}"
                    f" (SELECT p_partkey / 2 FROM part"
                    f" WHERE p_size < {sz} AND {res})"
                )
            else:
                neg = "NOT " if form == 2 else ""
                item = draw(st.sampled_from(
                    ["p_size - 1",
                     "CASE WHEN p_size = 2 THEN NULL ELSE p_size - 1 END"]
                ))
                having = (
                    f" HAVING COUNT(*) % 7 {neg}IN (SELECT {item}"
                    f" FROM part WHERE p_size < {sz} AND {res})"
                )
            hkind = "done"
        if hkind == "hcorr_quant":
            # round-10 correlated quantified in HAVING: the per-key bundle
            # LEFT-joins the aggregated frame on the SELECTED group column;
            # ANY and (DuckDB-rewritten) ALL arms, all four ops, plus an
            # emptiness-inducing inner filter branch for the empty-set edge
            g0 = gcols[0]
            q = draw(st.sampled_from(["ANY", "ALL"]))
            op2 = draw(st.sampled_from([">", ">=", "<", "<="]))
            extra = (
                f" AND l2.l_quantity > {draw(st.sampled_from([30, 999]))}"
                if draw(st.booleans())
                else ""
            )
            having = (
                f" HAVING AVG(l_quantity) {op2} {q}"
                f" (SELECT l2.l_quantity FROM lineitem l2"
                f" WHERE l2.{g0} = lineitem.{g0}{extra})"
            )
            hkind = "done"
        if hkind == "hcorr_not_in":
            # round-10 correlated NOT IN in HAVING: marker arm + per-group
            # NULL/empty count guard; the CASE branch plants NULL members
            # in SOME groups only (the per-group, not global, semantics)
            g0 = gcols[0]
            if draw(st.booleans()):
                inner_item = "l2.l_quantity"
            else:
                nullth = draw(st.integers(44, 50))
                inner_item = (
                    f"CASE WHEN l2.l_quantity > {nullth} THEN NULL"
                    " ELSE l2.l_quantity END"
                )
            having = (
                f" HAVING AVG(l_quantity) NOT IN (SELECT {inner_item}"
                f" FROM lineitem l2 WHERE l2.{g0} = lineitem.{g0})"
            )
            hkind = "done"
        if hkind == "hcorr_exists":
            # round-9 equi-correlated [NOT] EXISTS in HAVING: correlation
            # binds to the SELECTED group column -> multi-key marker join
            # of the aggregated frame; round-11 late: a RESIDUAL variant
            # (mixed-scope CASE over the group column) rides the
            # count_star row-grain bundle instead
            neg = "NOT " if draw(st.booleans()) else ""
            if draw(st.booleans()):
                # residual variant: anchored + mixed-scope residual needs
                # a FACT-grain inner (the row-grain bundle's
                # _build_inner_rows gate), so it correlates through the
                # fact table; the CASE over the group column makes the
                # per-group match sets differ
                g0 = gcols[0]
                v = draw(st.sampled_from(DIMS[g0]))
                th = draw(st.sampled_from([46, 48, 51]))
                having = (
                    f" HAVING {neg}EXISTS (SELECT 1 FROM lineitem l2"
                    f" WHERE l2.{g0} = lineitem.{g0}"
                    f" AND l2.l_quantity > CASE WHEN {g0} = '{v}'"
                    f" THEN {th} ELSE {th + 2} END)"
                )
            else:
                having = (
                    f" HAVING {neg}EXISTS (SELECT 1 FROM orders"
                    f" WHERE o_orderstatus = {gcols[0]}"
                    f" AND {orders_pred()})"
                )
            hkind = "done"
        if hkind == "scalar":
            # HAVING scalar subquery (post-filter over the joined frame);
            # the divisor scales the threshold so both branches fire
            hdiv = draw(st.sampled_from([3, 5, 10]))
            having = (
                " HAVING SUM(l_quantity)"
                f" > (SELECT SUM(l_quantity) / {hdiv} FROM lineitem)"
            )
        elif hkind in ("hin", "hnot_in", "hin_or"):
            # round-9 HAVING membership arm over a SELECTED group column:
            # marker LEFT join of the inner's DISTINCT key set onto the
            # aggregated frame; the NULL-synthesizing inner exercises the
            # NOT IN three-valued guard, the OR form the inline rendering
            g0 = gcols[0]
            if draw(st.booleans()):
                q2 = draw(st.integers(40, 49))
                inner = (
                    f"SELECT DISTINCT {g0} FROM lineitem"
                    f" WHERE l_quantity > {q2}"
                )
            else:
                nullth = draw(st.sampled_from([0, 150000]))
                inner = (
                    f"SELECT CASE WHEN o_totalprice < {nullth} THEN NULL"
                    f" ELSE '{draw(st.sampled_from('ANRFO'))}' END"
                    " FROM orders"
                )
            neg = "NOT " if hkind == "hnot_in" else ""
            atom = f"{g0} {neg}IN ({inner})"
            if hkind == "hin_or":
                hn = draw(st.integers(1, 20))
                atom = f"({atom} OR COUNT(*) > {hn * 100})"
            having = f" HAVING {atom}"
        elif hkind == "hexists":
            op2 = "" if draw(st.booleans()) else "NOT "
            thresh = draw(st.sampled_from([100000, 10**12]))
            having = (
                f" HAVING {op2}EXISTS (SELECT 1 FROM orders"
                f" WHERE o_totalprice > {thresh})"
            )
        elif hkind == "hquant":
            # [NOT-via-ALL] quantified over a multi-row inner.
            # EXPLICIT match (round-11 review): a bare `else` also
            # matched the `hkind = "done"` sentinel, silently replacing
            # EVERY correlated-HAVING draw (hcorr_quant / hcorr_not_in /
            # hcorr_exists since round 10, htheta since round 11) with
            # this clause — the advertised correlated-HAVING fuzz
            # coverage never actually executed.
            q = draw(st.sampled_from(["ANY", "ALL"]))
            op2 = draw(st.sampled_from([">", ">=", "<", "<="]))
            div = draw(st.sampled_from([50, 2000]))
            having = (
                f" HAVING SUM(l_quantity) {op2} {q}"
                f" (SELECT CAST(o_totalprice / {div} AS DOUBLE)"
                " FROM orders WHERE o_totalprice >"
                f" {draw(st.integers(10, 40)) * 10000})"
            )
    return (
        f"SELECT {sel} FROM lineitem "
        f"WHERE {' AND '.join(conj)} GROUP BY {', '.join(gcols)}{having}"
    )


@pytest.fixture(scope="module")
def harness(spark):
    idx = tpch.build_or_load_index(spark, SF)
    base = tpch.load_star_tables(spark, SF)
    ctx = OlapContext(spark, idx, base_tables=base)
    con = duckdb.connect()
    for t in ("lineitem", "orders", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    return ctx, con


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()[:10]
    return v


def _sort_key(row):
    # full-precision float keys: set-op outputs can hold two rows with the
    # SAME group key differing only in a measure (one per arm) — a .4g key
    # collapsed 104947.66 and 104915.83 into one bucket, making the sorted
    # order engine-dependent and zip() compare mismatched rows (found by
    # the scale-6 setop fuzz). Rows within float tolerance of each other
    # may still swap order across engines, but then EITHER pairing passes
    # _rows_equal, so full precision is strictly safer.
    return str(
        tuple(f"{x:.17g}" if isinstance(x, float) else x for x in row)
    )


def _rows_equal(a, b):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True


@settings(
    max_examples=40 * _FUZZ_SCALE,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(sql=select_sqls())
def test_random_sql_matches_duckdb(harness, sql):
    ctx, con = harness
    got = sorted(
        [tuple(_norm(x) for x in r) for r in ctx.sql(sql).collect()],
        key=_sort_key,
    )
    exp = sorted(
        [tuple(_norm(x) for x in r) for r in con.execute(sql).fetchall()],
        key=_sort_key,
    )
    backing = ctx.query_history[-1].backing
    ok = len(got) == len(exp) and all(
        _rows_equal(a, b) for a, b in zip(got, exp)
    )
    assert ok, (
        f"\nsql: {sql}\nbacking: {backing}\n"
        f"got {len(got)} rows, exp {len(exp)}\n"
        f"first diff: "
        f"{next(((a, b) for a, b in zip(got, exp) if not _rows_equal(a, b)), None)}"
    )
    # fuzzed SQL must stay inside the rewrite surface, not silently fall back
    assert backing in ("cube", "flat"), backing


@settings(
    max_examples=25 * _FUZZ_SCALE,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(sql=setop_sqls())
def test_random_setops_match_duckdb(harness, sql):
    ctx, con = harness
    got = sorted(
        [tuple(_norm(x) for x in r) for r in ctx.sql(sql).collect()],
        key=_sort_key,
    )
    exp = sorted(
        [tuple(_norm(x) for x in r) for r in con.execute(sql).fetchall()],
        key=_sort_key,
    )
    backing = ctx.query_history[-1].backing
    ok = len(got) == len(exp) and all(
        _rows_equal(a, b) for a, b in zip(got, exp)
    )
    assert ok, (
        f"\nsql: {sql}\nbacking: {backing}\n"
        f"got {len(got)} rows, exp {len(exp)}\n"
        f"first diff: "
        f"{next(((a, b) for a, b in zip(got, exp) if not _rows_equal(a, b)), None)}"
    )
    # both arms must be index-served (one combined DAG, no fallback)
    assert backing.startswith("setop["), backing
    assert "sparksql" not in backing


@pytest.mark.parametrize("stratum", STRATA)
@settings(
    max_examples=max(2, 25 * _FUZZ_SCALE // len(STRATA)),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_random_semijoins_match_duckdb(harness, stratum, data):
    ctx, con = harness
    sql = data.draw(semijoin_sqls(stratum), label="sql")
    got = sorted(
        [tuple(_norm(x) for x in r) for r in ctx.sql(sql).collect()],
        key=_sort_key,
    )
    exp = sorted(
        [tuple(_norm(x) for x in r) for r in con.execute(sql).fetchall()],
        key=_sort_key,
    )
    backing = ctx.query_history[-1].backing
    ok = len(got) == len(exp) and all(
        _rows_equal(a, b) for a, b in zip(got, exp)
    )
    assert ok, (
        f"\nsql: {sql}\nbacking: {backing}\n"
        f"got {len(got)} rows, exp {len(exp)}\n"
        f"first diff: "
        f"{next(((a, b) for a, b in zip(got, exp) if not _rows_equal(a, b)), None)}"
    )
    # every drawn shape is inside the round-8 surface: must accelerate
    assert backing.startswith("semijoin[") or backing.startswith(
        "scalarselect[semijoin["
    ), backing


def test_semijoin_draw_kinds_all_ran():
    """Runs after the fuzz tests above (file order): at scale 4 or more,
    every semijoin_sqls draw kind must have been drawn at least once."""
    if _FUZZ_SCALE < 4:
        pytest.skip("draw-kind coverage is asserted at PYSPARKLINE_FUZZ_SCALE >= 4")
    if not DRAWN:
        pytest.skip("the semijoin fuzz did not run in this session")
    missing = [k for k in STRATA if DRAWN[k] == 0]
    assert not missing, f"never drawn: {missing} (counts: {dict(DRAWN)})"
