"""SQL front end: ANSI SQL text -> QuerySpec IR.

The reference's main entry point was ``spark.sql(...)`` over a Druid-backed
table: a prefix parser plus Catalyst pattern-matching recognized the
Project/Filter/Join/Aggregate/Sort/Limit subtree and folded it into a Druid
query spec (SparklineDataParser.scala:42-71, DruidPlanner.scala:29-50,
AggregateTransform.scala / ProjectFilterTransfom.scala / JoinTransform.scala).

PySpark cannot author Catalyst rules, so this module recognizes the same query
surface one level up: it parses the SQL text with DuckDB's public
``json_serialize_sql`` (a battle-tested ANSI parser producing a JSON AST — no
hand-rolled grammar) and walks the AST into the pysparkline IR. Anything
outside the recognized surface raises :class:`SQLFrontError`; the caller
(OlapContext.sql) falls back to ``spark.sql`` over the registered base tables
— the same always-correct fallback the reference used when no rewrite matched
(DruidStrategy returns Nil and Spark plans normally).

Star-join elimination happens here exactly as in JoinTransform.scala:305-441:
the FROM join tree is flattened, every equi-join condition is checked against
the star schema's edges (StarSchema.is_star_join), and the joins are then
dropped — the flattened index contains every star column by construction.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from decimal import Decimal

import duckdb

from . import ir
from .metadata import StarSchema


class SQLFrontError(ValueError):
    """SQL outside the rewritable surface; caller should fall back."""


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------


def _ast(sql: str) -> dict:
    quoted = sql.replace("'", "''")
    out = duckdb.sql(f"select json_serialize_sql('{quoted}')").fetchone()[0]
    d = json.loads(out)
    if d.get("error"):
        raise SQLFrontError(f"parse error: {d.get('error_message')}")
    stmts = d["statements"]
    if len(stmts) != 1:
        raise SQLFrontError("expected exactly one statement")
    node = stmts[0]["node"]
    if node.get("type") not in ("SELECT_NODE", "SET_OPERATION_NODE"):
        raise SQLFrontError(f"not a SELECT: {node.get('type')}")
    return node


# ---------------------------------------------------------------------------
# expression rendering (AST -> Spark SQL text)
# ---------------------------------------------------------------------------

_TYPEMAP = {
    "VARCHAR": "STRING",
    "INTEGER": "INT",
    "BIGINT": "BIGINT",
    "SMALLINT": "SMALLINT",
    "TINYINT": "TINYINT",
    "DOUBLE": "DOUBLE",
    "FLOAT": "FLOAT",
    "BOOLEAN": "BOOLEAN",
    "DATE": "DATE",
    "TIMESTAMP": "TIMESTAMP",
    "DECIMAL": "DECIMAL",
    "HUGEINT": "BIGINT",
}

# duckdb function name -> Spark SQL name (identity if absent)
_FNMAP = {
    "len": "length",
    "strlen": "length",
    "ln": "ln",
    "dayofmonth": "dayofmonth",
    "day": "dayofmonth",
    "strftime": "date_format",
    "count_star": "count",
}

_INFIX_OPS = {"+", "-", "*", "/", "%", "||", "//"}
_LIKE_OPS = {"~~": "LIKE", "!~~": "NOT LIKE", "~~*": "ILIKE", "!~~*": "NOT ILIKE"}
_CMP = {
    "COMPARE_EQUAL": "=",
    "COMPARE_NOTEQUAL": "<>",
    "COMPARE_LESSTHAN": "<",
    "COMPARE_LESSTHANOREQUALTO": "<=",
    "COMPARE_GREATERTHAN": ">",
    "COMPARE_GREATERTHANOREQUALTO": ">=",
}

_AGG_FNS = {"sum", "min", "max", "avg", "count", "count_star",
            "approx_count_distinct", "mean", "quantile_cont", "median",
            "theta_count_distinct"}


def _type_name(t: dict) -> str:
    tid = t["id"]
    if tid == "DECIMAL":
        ti = t.get("type_info") or {}
        return f"DECIMAL({ti.get('width', 10)},{ti.get('scale', 0)})"
    if tid not in _TYPEMAP:
        raise SQLFrontError(f"unsupported type {tid}")
    return _TYPEMAP[tid]


def _const_value(node: dict):
    """Python value of a CONSTANT node (unwraps one cast around it)."""
    if node.get("class") == "CAST":
        inner = _const_value(node["child"])
        return inner
    if node.get("class") != "CONSTANT":
        raise SQLFrontError("not a constant")
    v = node["value"]
    if v.get("is_null"):
        return None
    val = v["value"]
    if v["type"]["id"] == "DECIMAL":
        # DuckDB serializes 2.5 as value=25/scale=1: unscale it exactly
        # (Decimal, not float division — >15-significant-digit literals
        # must compare exactly against DECIMAL columns)
        scale = (v["type"].get("type_info") or {}).get("scale", 0)
        val = _decimal_unscaled(val)
        return Decimal(val).scaleb(-scale) if scale else val
    return val


def _decimal_unscaled(val) -> int:
    """DuckDB serializes width<=18 decimals as a plain int and wider ones as
    int128 {upper, lower} halves (lower is the unsigned low 64 bits)."""
    if isinstance(val, dict):
        return (int(val["upper"]) << 64) + int(val["lower"])
    return int(val)


def _is_const(node: dict) -> bool:
    if node.get("class") == "CONSTANT":
        return True
    if node.get("class") == "CAST":
        return _is_const(node["child"])
    return False


def _render_const(node: dict) -> str:
    v = node["value"]
    if v.get("is_null"):
        return "NULL"
    tid = v["type"]["id"]
    val = v["value"]
    if tid == "VARCHAR":
        s = str(val).replace("\\", "\\\\").replace("'", "\\'")
        return "'" + s + "'"
    if tid == "DATE":
        return f"DATE '{val}'"
    if tid == "TIMESTAMP":
        return f"TIMESTAMP '{val}'"
    if tid == "DECIMAL":
        ti = v["type"].get("type_info") or {}
        scale = ti.get("scale", 0)
        # exact decimal text (no float round-trip): 25/scale 1 -> "2.5"
        n = _decimal_unscaled(val)
        return str(Decimal(n).scaleb(-scale)) if scale else str(n)
    if tid == "BOOLEAN":
        return "TRUE" if val else "FALSE"
    return str(val)


def render(node: dict) -> str:
    """Render an AST expression as Spark SQL text."""
    cls = node.get("class")
    typ = node.get("type")
    if cls == "COLUMN_REF":
        return f"`{node['column_names'][-1]}`"
    if cls == "CONSTANT":
        return _render_const(node)
    if cls == "CAST":
        # a cast wrapped around a plain constant is the parser's literal
        # typing (DATE '...'); render the typed literal directly
        if node["child"].get("class") == "CONSTANT":
            tid = node["cast_type"]["id"]
            inner = node["child"]["value"]
            if tid in ("DATE", "TIMESTAMP") and not inner.get("is_null"):
                return f"{tid} '{inner['value']}'"
        return f"CAST({render(node['child'])} AS {_type_name(node['cast_type'])})"
    if cls == "COMPARISON":
        return f"({render(node['left'])} {_CMP[typ]} {render(node['right'])})"
    if cls == "CONJUNCTION":
        op = " AND " if typ == "CONJUNCTION_AND" else " OR "
        return "(" + op.join(render(c) for c in node["children"]) + ")"
    if cls == "OPERATOR":
        ch = node.get("children", [])
        if typ == "OPERATOR_NOT":
            return f"(NOT {render(ch[0])})"
        if typ == "OPERATOR_IS_NULL":
            return f"({render(ch[0])} IS NULL)"
        if typ == "OPERATOR_IS_NOT_NULL":
            return f"({render(ch[0])} IS NOT NULL)"
        if typ in ("COMPARE_IN", "COMPARE_NOT_IN"):
            neg = "NOT " if typ == "COMPARE_NOT_IN" else ""
            vals = ", ".join(render(c) for c in ch[1:])
            return f"({render(ch[0])} {neg}IN ({vals}))"
        if typ == "OPERATOR_COALESCE":
            return "coalesce(" + ", ".join(render(c) for c in ch) + ")"
        raise SQLFrontError(f"unsupported operator {typ}")
    if cls == "BETWEEN":
        return (
            f"({render(node['input'])} BETWEEN {render(node['lower'])}"
            f" AND {render(node['upper'])})"
        )
    if cls == "CASE":
        parts = ["CASE"]
        for chk in node["case_checks"]:
            parts.append(
                f"WHEN {render(chk['when_expr'])} THEN {render(chk['then_expr'])}"
            )
        if node.get("else_expr") is not None:
            parts.append(f"ELSE {render(node['else_expr'])}")
        parts.append("END")
        return " ".join(parts)
    if cls == "FUNCTION":
        fn = node["function_name"]
        ch = node.get("children", [])
        if node.get("is_operator"):
            if fn in _LIKE_OPS:
                return f"({render(ch[0])} {_LIKE_OPS[fn]} {render(ch[1])})"
            if fn == "~":
                return f"({render(ch[0])} RLIKE {render(ch[1])})"
            if fn in _INFIX_OPS:
                if len(ch) == 1:  # unary minus
                    return f"(- {render(ch[0])})"
                op = fn if fn != "//" else "DIV"
                return f"({render(ch[0])} {op} {render(ch[1])})"
            raise SQLFrontError(f"unsupported operator function {fn}")
        name = _FNMAP.get(fn, fn)
        if fn == "count_star":
            return "count(*)"
        distinct = "DISTINCT " if node.get("distinct") else ""
        return f"{name}({distinct}" + ", ".join(render(c) for c in ch) + ")"
    raise SQLFrontError(f"unsupported expression class {cls}/{typ}")


def _columns_of(node: dict) -> set[str]:
    out: set[str] = set()

    def walk(n):
        if isinstance(n, dict):
            if n.get("class") == "COLUMN_REF":
                out.add(n["column_names"][-1])
            for v in n.values():
                walk(v)
        elif isinstance(n, list):
            for v in n:
                walk(v)

    walk(node)
    return out


def _contains_grouping(node) -> bool:
    """True if the expression tree contains GROUPING()/GROUPING_ID() (DuckDB
    parses both as an OPERATOR of type GROUPING_FUNCTION)."""
    if isinstance(node, dict):
        if node.get("type") == "GROUPING_FUNCTION":
            return True
        return any(_contains_grouping(v) for v in node.values())
    if isinstance(node, list):
        return any(_contains_grouping(v) for v in node)
    return False


def _contains_agg(node: dict) -> bool:
    if isinstance(node, dict):
        if (
            node.get("class") == "FUNCTION"
            and node.get("function_name", "").lower() in _AGG_FNS
        ):
            return True
        return any(_contains_agg(v) for v in node.values())
    if isinstance(node, list):
        return any(_contains_agg(v) for v in node)
    return False


def _contains_window(node) -> bool:
    if isinstance(node, dict):
        if node.get("class") == "WINDOW":
            return True
        return any(_contains_window(v) for v in node.values())
    if isinstance(node, list):
        return any(_contains_window(v) for v in node)
    return False


def _strip(node: dict) -> dict:
    """Structural identity: drop aliases/locations for subtree comparison."""
    if isinstance(node, dict):
        return {
            k: _strip(v)
            for k, v in node.items()
            if k not in ("alias", "query_location")
        }
    if isinstance(node, list):
        return [_strip(v) for v in node]
    return node


# ---------------------------------------------------------------------------
# FROM clause: star-join elimination
# ---------------------------------------------------------------------------


def _flatten_from(node: dict, tables: list[str], pairs: list[tuple[str, str]]):
    t = node.get("type")
    if t == "BASE_TABLE":
        tables.append(node["table_name"].lower())
        return
    if t == "JOIN":
        if node.get("join_type", "INNER") not in ("INNER", "JOIN_INNER"):
            raise SQLFrontError(f"non-inner join {node.get('join_type')}")
        _flatten_from(node["left"], tables, pairs)
        _flatten_from(node["right"], tables, pairs)
        cond = node.get("condition")
        if cond is None:
            # comma-style cross joins and USING joins carry no ON condition;
            # dropping them silently would rewrite a cross product (or a
            # non-star USING join) onto the pre-joined flat star
            raise SQLFrontError("JOIN without ON condition (cross/USING)")
        _join_pairs(cond, pairs)
        return
    if t == "CROSS_PRODUCT":
        raise SQLFrontError("cross product in FROM")
    raise SQLFrontError(f"unsupported FROM node {t}")


def _join_pairs(cond: dict, pairs: list[tuple[str, str]]):
    cls, typ = cond.get("class"), cond.get("type")
    if cls == "CONJUNCTION" and typ == "CONJUNCTION_AND":
        for c in cond["children"]:
            _join_pairs(c, pairs)
        return
    if (
        cls == "COMPARISON"
        and typ == "COMPARE_EQUAL"
        and cond["left"].get("class") == "COLUMN_REF"
        and cond["right"].get("class") == "COLUMN_REF"
    ):
        pairs.append(
            (cond["left"]["column_names"][-1], cond["right"]["column_names"][-1])
        )
        return
    raise SQLFrontError("non-equi join condition")


def _check_from(node: dict, fact_table: str | None, star: StarSchema | None):
    """Validate FROM is the fact table alone or a star join; WHERE-join form
    (implicit joins) is not supported — use explicit JOIN ... ON."""
    tables: list[str] = []
    pairs: list[tuple[str, str]] = []
    _flatten_from(node, tables, pairs)
    known = {fact_table.lower()} if fact_table else set()
    if star is not None:
        known |= {t.lower() for t in star.tables}
    unknown = [t for t in tables if known and t not in known]
    if unknown:
        raise SQLFrontError(f"unknown tables {unknown}")
    # the flat backing is FACT-grain: a query over a dimension table alone
    # (SELECT count(*) FROM orders) would wrongly multiply by fact rows per
    # dim row — it must fall back to the base tables
    if fact_table and fact_table.lower() not in tables:
        raise SQLFrontError(
            f"query does not reference the fact table {fact_table}"
        )
    if pairs:
        if star is None:
            raise SQLFrontError("join present but no star schema registered")
        if not star.is_star_join(set(pairs)):
            raise SQLFrontError(f"join conditions {pairs} are not star edges")


# ---------------------------------------------------------------------------
# WHERE -> FilterSpec (+ interval extraction)
# ---------------------------------------------------------------------------

_INTERVAL_UNITS = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
                   "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}


def _interval_seconds(node: dict) -> int | None:
    """Fixed-length INTERVAL literal (CAST('15 minutes' AS INTERVAL)) in
    seconds — the bucket-width argument of time_bucket."""
    if (
        node.get("class") != "CAST"
        or (node.get("cast_type") or {}).get("id") != "INTERVAL"
    ):
        return None
    c = node.get("child") or {}
    if c.get("class") != "CONSTANT":
        return None
    v = (c.get("value") or {}).get("value")
    m = re.match(r"^\s*(\d+)\s+([a-z]+)\s*$", str(v).lower())
    if not m or m.group(2) not in _INTERVAL_UNITS:
        return None
    secs = int(m.group(1)) * _INTERVAL_UNITS[m.group(2)]
    return secs or None


_TIME_PARTS = {
    "year", "quarter", "month", "dayofmonth", "day", "dayofyear",
    "weekofyear", "hour", "minute", "second",
}


def _to_filter(node: dict) -> ir.FilterSpec:
    cls, typ = node.get("class"), node.get("type")
    if cls == "CONJUNCTION":
        op = "and" if typ == "CONJUNCTION_AND" else "or"
        fs = [_to_filter(c) for c in node["children"]]
        return ir.and_(*fs) if op == "and" else ir.or_(*fs)
    if cls == "COMPARISON":
        left, right, cmp = node["left"], node["right"], _CMP[typ]
        if left.get("class") == "COLUMN_REF" and _is_const(right):
            col, val = left["column_names"][-1], _const_value(right)
        elif right.get("class") == "COLUMN_REF" and _is_const(left):
            col, val = right["column_names"][-1], _const_value(left)
            cmp = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}.get(cmp, cmp)
        else:
            return ir.ExprFilter(render(node), sorted(_columns_of(node)))
        if cmp == "=":
            return ir.SelectorFilter(col, val)
        if cmp == "<>":
            return ir.NotFilter(ir.SelectorFilter(col, val))
        if cmp == "<":
            return ir.BoundFilter(col, upper=val, upper_strict=True)
        if cmp == "<=":
            return ir.BoundFilter(col, upper=val)
        if cmp == ">":
            return ir.BoundFilter(col, lower=val, lower_strict=True)
        if cmp == ">=":
            return ir.BoundFilter(col, lower=val)
    if cls == "BETWEEN" and node["input"].get("class") == "COLUMN_REF":
        if _is_const(node["lower"]) and _is_const(node["upper"]):
            return ir.BoundFilter(
                node["input"]["column_names"][-1],
                lower=_const_value(node["lower"]),
                upper=_const_value(node["upper"]),
            )
    if cls == "OPERATOR":
        ch = node.get("children", [])
        if typ == "OPERATOR_NOT":
            return ir.NotFilter(_to_filter(ch[0]))
        if typ == "OPERATOR_IS_NULL" and ch[0].get("class") == "COLUMN_REF":
            return ir.NullFilter(ch[0]["column_names"][-1], True)
        if typ == "OPERATOR_IS_NOT_NULL" and ch[0].get("class") == "COLUMN_REF":
            return ir.NullFilter(ch[0]["column_names"][-1], False)
        if typ in ("COMPARE_IN", "COMPARE_NOT_IN"):
            if ch[0].get("class") == "COLUMN_REF" and all(
                _is_const(c) for c in ch[1:]
            ):
                f = ir.InFilter(
                    ch[0]["column_names"][-1], [_const_value(c) for c in ch[1:]]
                )
                return ir.NotFilter(f) if typ == "COMPARE_NOT_IN" else f
    if cls == "FUNCTION" and node.get("is_operator"):
        fn, ch = node["function_name"], node.get("children", [])
        if fn in ("~~", "~") and ch[0].get("class") == "COLUMN_REF" and _is_const(ch[1]):
            col, pat = ch[0]["column_names"][-1], str(_const_value(ch[1]))
            if fn == "~":
                return ir.RegexFilter(col, pat)
            # LIKE '%v%' with no other wildcards -> contains
            if (
                pat.startswith("%") and pat.endswith("%") and len(pat) > 2
                and "%" not in pat[1:-1] and "_" not in pat
            ):
                return ir.ContainsFilter(col, pat[1:-1])
    return ir.ExprFilter(render(node), sorted(_columns_of(node)))


def _try_or_intervals(wc: dict, time_col: str) -> list[ir.Interval] | None:
    """`(t >= a AND t < b) OR (t >= c AND t < d) ...` — a disjunction whose
    every branch is purely time-range conjuncts becomes a multi-interval list
    (QueryIntervals held a list for exactly this)."""
    if not (
        wc.get("class") == "CONJUNCTION" and wc.get("type") == "CONJUNCTION_OR"
    ):
        return None
    ivs: list[ir.Interval] = []
    for child in wc["children"]:
        iv, rest = _extract_intervals(_conjuncts(child), time_col)
        if rest or not iv:
            return None
        ivs.extend(iv)
    return ivs


def _conjuncts(node: dict) -> list[dict]:
    if node.get("class") == "CONJUNCTION" and node.get("type") == "CONJUNCTION_AND":
        out = []
        for c in node["children"]:
            out.extend(_conjuncts(c))
        return out
    return [node]


def _extract_intervals(
    conjuncts: list[dict], time_col: str
) -> tuple[list[ir.Interval], list[dict]]:
    """Pull `t >= X` / `t < X` conjuncts on the time column into a query
    interval (QueryIntervals.scala:40-131 analog). `t <= X` / `t > X` stay
    as ordinary filters (still correct; just no bucket-aligned pruning)."""
    start = end = None
    rest: list[dict] = []
    for c in conjuncts:
        got = None
        if c.get("class") == "COMPARISON":
            left, right, typ = c["left"], c["right"], c["type"]
            if (
                left.get("class") == "COLUMN_REF"
                and left["column_names"][-1] == time_col
                and _is_const(right)
            ):
                v = _const_value(right)
                if typ == "COMPARE_GREATERTHANOREQUALTO":
                    got = ("start", str(v))
                elif typ == "COMPARE_LESSTHAN":
                    got = ("end", str(v))
        if got is None:
            rest.append(c)
        elif got[0] == "start":
            start = got[1] if start is None else max(start, got[1])
        else:
            end = got[1] if end is None else min(end, got[1])
    if start is None and end is None:
        return [], rest
    return [ir.Interval(start, end)], rest


# ---------------------------------------------------------------------------
# SELECT list / GROUP BY -> dims, aggs, post-aggs
# ---------------------------------------------------------------------------


@dataclass
class _Analysis:
    dims: list = field(default_factory=list)
    granularity: str = "all"
    time_output_name: str = "__time"
    aggs: list = field(default_factory=list)
    post_aggs: list = field(default_factory=list)
    output_order: list = field(default_factory=list)
    grouping_sets: list | None = None
    hidden_aggs: list = field(default_factory=list)
    window_posts: list = field(default_factory=list)
    window_exprs: list = field(default_factory=list)  # [name, expr] pairs
    qualify: str | None = None


def _agg_spec(node: dict, name: str) -> ir.AggSpec:
    """One aggregate FUNCTION node -> AggSpec."""
    fn = node["function_name"].lower()
    ch = node.get("children", [])
    filt = node.get("filter")
    if filt is not None:
        inner = dict(node)
        inner["filter"] = None
        inner_spec = _agg_spec(inner, name)
        if not isinstance(
            inner_spec,
            (ir.CountAgg, ir.FieldAgg, ir.ExprAgg, ir.ThetaAgg, ir.ThetaSketchAgg),
        ):
            raise SQLFrontError(
                f"FILTER over {type(inner_spec).__name__} unsupported"
            )
        return ir.FilteredAgg(name, _to_filter(filt), inner_spec)
    if fn == "count_star" or (fn == "count" and not ch):
        return ir.CountAgg(name)
    if fn == "count" and node.get("distinct"):
        if len(ch) == 1 and ch[0].get("class") == "COLUMN_REF":
            return ir.DistinctAgg(name, ch[0]["column_names"][-1])
        raise SQLFrontError("count(DISTINCT <expr>) unsupported")
    if fn == "approx_count_distinct":
        cols = []
        for c in ch:
            if c.get("class") != "COLUMN_REF":
                raise SQLFrontError("approx_count_distinct of expression")
            cols.append(c["column_names"][-1])
        return ir.CardinalityAgg(name, cols)
    if fn in ("avg", "mean"):
        if node.get("distinct"):
            raise SQLFrontError("avg(DISTINCT) unsupported")
        if len(ch) == 1 and ch[0].get("class") == "COLUMN_REF":
            return ir.AvgAgg(name, ch[0]["column_names"][-1])
        if len(ch) == 1:
            # avg over an expression (round 8): decomposes to ExprAgg
            # sum/count of the rendered expression at lowering
            return ir.AvgAgg(
                name,
                "",
                expr=render(ch[0]),
                columns=sorted(_columns_of(ch[0])),
            )
        raise SQLFrontError(f"avg arity {len(ch)}")
    if fn == "theta_count_distinct":
        # engine extension: distinct-count from a theta sketch —
        # theta_count_distinct(col [, k]); rides a pre-built cube sketch when
        # (col, k) matches, else row-grain (exact while NDV <= k either way)
        if ch and ch[0].get("class") == "COLUMN_REF":
            col = ch[0]["column_names"][-1]
            if len(ch) == 1:
                return ir.ThetaAgg(name, col)
            if len(ch) == 2:
                try:
                    return ir.ThetaAgg(name, col, k=_const_value(ch[1]))
                except ir.ThetaKError as e:
                    raise SQLFrontError(str(e)) from None
        raise SQLFrontError("theta_count_distinct shape unsupported")
    if fn in ("quantile_cont", "median"):
        # function-style percentile: quantile_cont(col, f) / median(col);
        # WITHIN GROUP syntax parses to different AST shapes and falls back
        if ch and ch[0].get("class") == "COLUMN_REF":
            col = ch[0]["column_names"][-1]
            if fn == "median":
                return ir.QuantileAgg(name, col, 0.5)
            if len(ch) == 2:
                frac = _const_value(ch[1])  # 0.9 parses as DECIMAL → Decimal
                if isinstance(frac, (int, float, Decimal)):
                    return ir.QuantileAgg(name, col, float(frac))
        raise SQLFrontError(f"{fn} shape unsupported")
    if fn in ("sum", "min", "max", "count"):
        if node.get("distinct"):
            raise SQLFrontError(f"{fn}(DISTINCT) unsupported")
        if len(ch) != 1:
            raise SQLFrontError(f"{fn} arity {len(ch)}")
        if ch[0].get("class") == "COLUMN_REF":
            col = ch[0]["column_names"][-1]
            if fn == "count":
                return ir.ExprAgg("count", name, f"`{col}`", [col])
            return ir.FieldAgg(fn, name, col)
        expr = render(ch[0])
        return ir.ExprAgg(fn, name, expr, sorted(_columns_of(ch[0])))
    raise SQLFrontError(f"unsupported aggregate {fn}")


def _dim_spec(node: dict, out_name: str, time_col: str | None) -> ir.DimSpec:
    if node.get("class") == "COLUMN_REF":
        col = node["column_names"][-1]
        return ir.DefaultDim(col, out_name if out_name != col else None)
    if (
        node.get("class") == "FUNCTION"
        and not node.get("is_operator")
        and node["function_name"].lower() in _TIME_PARTS
        and len(node.get("children", [])) == 1
        and node["children"][0].get("class") == "COLUMN_REF"
        and time_col is not None
        and node["children"][0]["column_names"][-1] == time_col
    ):
        part = node["function_name"].lower()
        part = {"day": "day", "dayofmonth": "day"}.get(part, part)
        return ir.TimeFormatDim(time_col, out_name, part)
    # EXTRACT(part FROM ts) parses as date_part('part', ts)
    if (
        node.get("class") == "FUNCTION"
        and node.get("function_name", "").lower() in ("date_part", "datepart")
        and len(node.get("children", [])) == 2
        and _is_const(node["children"][0])
        and node["children"][1].get("class") == "COLUMN_REF"
        and time_col is not None
        and node["children"][1]["column_names"][-1] == time_col
    ):
        part = str(_const_value(node["children"][0])).lower()
        part = {"day": "day", "dayofmonth": "day"}.get(part, part)
        if part in _TIME_PARTS:
            return ir.TimeFormatDim(time_col, out_name, part)
    return ir.ExprDim(render(node), out_name, sorted(_columns_of(node)))


_WINDOW_AGG_FNS = {"sum", "count", "avg", "min", "max"}
_WINDOW_RANK_FNS = {
    "rank", "dense_rank", "row_number", "percent_rank", "cume_dist",
}
_WINDOW_OFFSET_FNS = {"lag", "lead"}
_WINDOW_VALUE_FNS = {"first_value", "last_value", "nth_value"}

# DuckDB serializes `INTERVAL 'n' <unit>` frame bounds as to_<unit>s(...)
# constructor calls wrapping the integer literal
_FRAME_INTERVAL_FNS = {
    "to_years": "year",
    "to_months": "month",
    "to_days": "day",
    "to_hours": "hour",
    "to_minutes": "minute",
    "to_seconds": "second",
}


def _window_const(node: dict, what: str):
    if not _is_const(node):
        raise SQLFrontError(f"window {what} must be a literal")
    v = _const_value(node)
    if isinstance(v, Decimal):
        v = int(v) if v == int(v) else float(v)
    return v


def _frame_interval(node: dict) -> tuple[str, int] | None:
    """``(unit, n)`` for an INTERVAL frame-bound expression
    (``to_months(CAST(trunc(CAST('2' AS DOUBLE)) AS INTEGER))`` and kin),
    else None."""
    if not isinstance(node, dict) or node.get("class") != "FUNCTION":
        return None
    unit = _FRAME_INTERVAL_FNS.get(node.get("function_name", "").lower())
    ch = node.get("children", [])
    if unit is None or len(ch) != 1:
        return None

    def unwrap(x: dict) -> dict:
        if x.get("class") == "CAST":
            return unwrap(x["child"])
        if (
            x.get("class") == "FUNCTION"
            and x.get("function_name", "").lower() == "trunc"
            and len(x.get("children", [])) == 1
        ):
            return unwrap(x["children"][0])
        return x

    c = unwrap(ch[0])
    if not _is_const(c):
        return None
    try:
        f = float(_const_value(c))
    except (TypeError, ValueError):
        return None
    if f != int(f):
        return None
    return unit, int(f)


def _parse_frame(item: dict, fn: str) -> tuple[list, str, str | None]:
    """Explicit window frame -> ``(bounds, frame_type, range_unit)``.

    ROWS frames: integer-literal bounds in Spark rowsBetween convention.
    RANGE frames: either integer bounds over a numeric order key, or
    INTERVAL bounds over the time bucket (``range_unit`` set) — both lower
    to ``Window.rangeBetween``. GROUPS frames and non-literal bounds raise
    => the always-correct spark.sql fallback."""
    start, end = item.get("start"), item.get("end")

    def _bad():
        raise SQLFrontError(f"window {fn}: unsupported frame")

    # a fully-UNBOUNDED frame classifies as "rows" (identical semantics);
    # the ANSI-default RANGE UNBOUNDED..CURRENT ROW never reaches here
    is_range = any(
        isinstance(t, str) and t.endswith("_RANGE") for t in (start, end)
    )
    units: list[str | None] = []

    def bound(tok: str, expr, side: str):
        if tok == "UNBOUNDED_PRECEDING":
            return None if side == "lo" else _bad()
        if tok == "UNBOUNDED_FOLLOWING":
            return None if side == "hi" else _bad()
        if tok in ("CURRENT_ROW_ROWS", "CURRENT_ROW_RANGE"):
            return 0
        sign = -1 if tok in ("EXPR_PRECEDING_ROWS", "EXPR_PRECEDING_RANGE") else 1
        if tok not in (
            "EXPR_PRECEDING_ROWS",
            "EXPR_FOLLOWING_ROWS",
            "EXPR_PRECEDING_RANGE",
            "EXPR_FOLLOWING_RANGE",
        ):
            return _bad()
        iv = _frame_interval(expr)
        if iv is not None:
            if tok.endswith("_ROWS"):
                return _bad()  # INTERVAL in a ROWS frame is invalid anyway
            units.append(iv[0])
            return sign * iv[1]
        v = _window_const(expr, "frame bound")
        if not isinstance(v, int):
            return _bad()
        units.append(None)
        return sign * v

    frame = [
        bound(start, item.get("start_expr"), "lo"),
        bound(end, item.get("end_expr"), "hi"),
    ]
    if not is_range:
        return frame, "rows", None
    real_units = {u for u in units if u is not None}
    if len(real_units) > 1 or (real_units and None in units):
        _bad()  # mixed-unit / mixed numeric+interval RANGE bounds
    return frame, "range", next(iter(real_units)) if real_units else None


def _window_spec(
    item: dict, name: str, a: "_Analysis", name_by_key: dict, _gk,
    row_grain: bool = False,
) -> ir.WindowPostSpec:
    """One WINDOW select item -> WindowPostSpec.

    Two grains share this parser. Aggregate grain (``row_grain=False`` — the
    surface the reference never rewrote, SURVEY §2 "notably absent"):
    partitions/orders/args resolve through the group-name map onto the
    planner-bounded aggregate output. Row grain (``row_grain=True``, no
    GROUP BY): they render directly as Spark SQL exprs over SOURCE columns,
    evaluated over the index's pruned scan. FILTER/DISTINCT/IGNORE NULLS,
    GROUPS frames, and unresolvable shapes raise SQLFrontError => the
    always-correct spark.sql fallback."""
    fn = item.get("function_name", "").lower()
    ignore_nulls = bool(item.get("ignore_nulls"))
    filt = item.get("filter_expr")
    distinct = bool(item.get("distinct"))
    exclude = item.get("exclude_clause", "NO_OTHER")
    # round 5: FILTER rewrites to CASE WHEN inside any aggregate window
    # (exact — aggregates skip NULLs); DISTINCT lowers for count/sum/avg
    # (typed collect_set fold — bigint/double/decimal(38,s) accumulator) and is
    # a no-op for min/max; lag/lead IGNORE NULLS is native Spark
    # (probe-verified identical to DuckDB). Round 6: EXCLUDE clauses lower
    # for the composable shapes (gated after frame parsing, below).
    if (
        (filt is not None and fn not in _WINDOW_AGG_FNS)
        or (distinct and fn not in ("count", "min", "max", "sum", "avg"))
        or (
            ignore_nulls
            and fn not in _WINDOW_VALUE_FNS
            and fn not in _WINDOW_OFFSET_FNS
        )
        or (exclude != "NO_OTHER" and fn not in _WINDOW_AGG_FNS)
    ):
        raise SQLFrontError(
            f"window {fn}: this FILTER/DISTINCT/IGNORE NULLS/EXCLUDE shape"
            " is unsupported"
        )
    if fn not in _WINDOW_OFFSET_FNS and (
        item.get("offset_expr") is not None
        or item.get("default_expr") is not None
    ):
        raise SQLFrontError(f"window {fn}: unexpected offset/default")

    # frame: default RANGE (whole-partition / ANSI running) => None;
    # explicit ROWS/RANGE with literal or interval bounds => _parse_frame;
    # anything else (GROUPS frames, rank/lag families with frames) => out
    start, end = item.get("start"), item.get("end")
    frame = None
    frame_type = None
    range_unit = None
    if start == "UNBOUNDED_PRECEDING" and end == "CURRENT_ROW_RANGE":
        pass  # ANSI default running frame (or no ORDER BY: whole partition)
    elif fn in _WINDOW_AGG_FNS or fn in _WINDOW_VALUE_FNS:
        frame, frame_type, range_unit = _parse_frame(item, fn)
    else:
        raise SQLFrontError(f"window {fn}: explicit frames unsupported")

    if row_grain:
        def resolve_partition(p: dict) -> str:
            if p.get("class") != "COLUMN_REF":
                raise SQLFrontError(
                    f"window PARTITION BY {render(p)}: row-grain partitions"
                    " must be plain columns"
                )
            return p["column_names"][-1]

        def resolve_expr(e: dict) -> str:
            if _contains_agg(e) or _contains_window(e):
                raise SQLFrontError(
                    "window argument nests aggregates/windows (row grain)"
                )
            return render(e)
    else:
        dim_names = set(name_by_key.values())

        def resolve_partition(p: dict) -> str:
            key = _gk(_strip(p))
            if key in name_by_key:
                return name_by_key[key]
            if (
                p.get("class") == "COLUMN_REF"
                and p["column_names"][-1] in dim_names
            ):
                return p["column_names"][-1]
            raise SQLFrontError(
                f"window PARTITION BY {render(p)} is not a grouped dimension"
            )

        def resolve_expr(e: dict) -> str:
            # a grouped expression (e.g. the date_trunc that became the
            # query granularity) must reference its OUTPUT name — the base
            # column no longer exists after aggregation
            key = _gk(_strip(e))
            if key in name_by_key:
                return f"`{name_by_key[key]}`"
            return _extract_inner_aggs(e, a.aggs)[0]

    partition = [resolve_partition(p) for p in item.get("partitions", [])]
    orders = [
        ir.OrderByColumn(
            resolve_expr(o["expression"]),
            "desc" if o.get("type") == "DESCENDING" else "asc",
        )
        for o in item.get("orders", [])
    ]

    # RANGE frames: single ORDER BY (either direction — Spark evaluates
    # descending value frames natively with DuckDB-identical semantics,
    # probe-verified: PRECEDING walks toward larger keys); INTERVAL units
    # only over the time bucket (the lowering orders by a calendar/epoch
    # surrogate, exact iff the keys are bucket-truncated — month/year units
    # additionally need a month-/year-truncated granularity); numeric
    # bounds only over numeric keys. Violations raise => the correct
    # spark.sql fallback.
    if frame_type == "range":
        if len(orders) != 1:
            raise SQLFrontError(
                f"window {fn}: RANGE frame requires a single ORDER BY key"
            )
        if row_grain:
            # raw timestamps aren't bucket-truncated, so calendar-unit
            # surrogates (month/year index) are NOT exact per-row — only
            # fixed-length units ride the epoch-seconds surrogate here
            if range_unit in ("month", "year"):
                raise SQLFrontError(
                    f"window {fn}: {range_unit.upper()} RANGE frames need"
                    " bucket-truncated keys (aggregate grain)"
                )
        else:
            bare = orders[0].column.strip("`")
            is_time_key = (
                a.time_output_name is not None and bare == a.time_output_name
            )
            if range_unit is None and is_time_key:
                raise SQLFrontError(
                    f"window {fn}: numeric RANGE bounds over the time bucket"
                )
            if range_unit is not None:
                if not is_time_key:
                    raise SQLFrontError(
                        f"window {fn}: INTERVAL RANGE requires ORDER BY the"
                        " time bucket"
                    )
                if range_unit == "month" and a.granularity not in (
                    "month", "quarter", "year",
                ):
                    raise SQLFrontError(
                        f"window {fn}: MONTH RANGE frame needs month-truncated"
                        f" buckets (granularity is {a.granularity})"
                    )
                if range_unit == "year" and a.granularity != "year":
                    raise SQLFrontError(
                        f"window {fn}: YEAR RANGE frame needs year-truncated"
                        f" buckets (granularity is {a.granularity})"
                    )

    if fn in _WINDOW_RANK_FNS:
        if not orders:
            raise SQLFrontError(f"window {fn} requires ORDER BY")
        return ir.WindowPostSpec(name, fn, None, partition, orders)
    if fn in _WINDOW_VALUE_FNS:
        if not orders:
            raise SQLFrontError(f"window {fn} requires ORDER BY")
        ch = item.get("children", [])
        n = None
        if fn == "nth_value":
            if len(ch) != 2:
                raise SQLFrontError("window nth_value: expected (expr, n)")
            n = int(_window_const(ch[1], "nth_value position"))
            if n < 1:
                raise SQLFrontError("window nth_value: position must be >= 1")
        elif len(ch) != 1:
            raise SQLFrontError(f"window {fn}: expected one argument")
        return ir.WindowPostSpec(
            name, fn, resolve_expr(ch[0]), partition, orders,
            offset=n, frame=frame, frame_type=frame_type,
            range_unit=range_unit, ignore_nulls=ignore_nulls,
        )
    if fn == "ntile":
        if not orders:
            raise SQLFrontError("window ntile requires ORDER BY")
        ch = item.get("children", [])
        if len(ch) != 1:
            raise SQLFrontError("window ntile: expected one argument")
        n = int(_window_const(ch[0], "ntile bucket count"))
        # bucket count rides in `offset` (the literal-integer slot)
        return ir.WindowPostSpec(name, fn, None, partition, orders, offset=n)
    if fn in _WINDOW_OFFSET_FNS:
        if not orders:
            raise SQLFrontError(f"window {fn} requires ORDER BY")
        ch = item.get("children", [])
        if len(ch) != 1:
            raise SQLFrontError(f"window {fn}: expected one argument")
        arg = resolve_expr(ch[0])
        off = 1
        if item.get("offset_expr") is not None:
            off = int(_window_const(item["offset_expr"], f"{fn} offset"))
        dflt = None
        if item.get("default_expr") is not None:
            dflt = _window_const(item["default_expr"], f"{fn} default")
        return ir.WindowPostSpec(
            name, fn, arg, partition, orders, offset=off, default=dflt,
            ignore_nulls=ignore_nulls,
        )
    if fn in _WINDOW_AGG_FNS:
        if frame is not None and not orders:
            raise SQLFrontError(f"window {fn}: explicit frame requires ORDER BY")
        if exclude != "NO_OTHER":
            # Spark has no native EXCLUDE; the lowering composes exactly:
            # - sum/count/avg EXCLUDE CURRENT ROW: subtract the current
            #   row's contribution from the framed aggregate (any frame,
            #   including the ANSI default running frame)
            # - sum/count/avg EXCLUDE GROUP/TIES: subtract the peer-group
            #   aggregate (equality partition over the raw ORDER BY keys)
            #   — exact whenever the frame holds a peer group entirely or
            #   not at all: RANGE frames, the default running frame, and
            #   fully-unbounded frames
            # - min/max EXCLUDE CURRENT ROW over a ROWS frame: combine the
            #   two sub-frames around the current row
            # Bounded-ROWS GROUP/TIES (peers only partially in frame) and
            # min/max RANGE exclusion are not composable => decline (the
            # spark.sql fallback then surfaces Spark's parse error: it has
            # no EXCLUDE syntax at all — same class as GROUPS frames).
            peers_whole = (
                frame is None
                or frame_type == "range"
                or frame == [None, None]
            )
            ok = (
                not distinct
                and bool(item.get("orders"))
                and (
                    (
                        fn in ("sum", "count", "avg")
                        and (exclude == "CURRENT_ROW" or peers_whole)
                    )
                    or (
                        fn in ("min", "max")
                        and exclude == "CURRENT_ROW"
                        and frame is not None
                        and frame_type == "rows"
                    )
                )
            )
            if not ok:
                raise SQLFrontError(
                    f"window {fn}: EXCLUDE {exclude} over this"
                    " frame/DISTINCT shape is not composable"
                )
        ch = item.get("children", [])
        if not ch and fn == "count":
            arg = "1"
        elif len(ch) == 1:
            arg = (
                resolve_expr(ch[0])
                if row_grain
                else _extract_inner_aggs(ch[0], a.aggs)[0]
            )
        else:
            raise SQLFrontError(f"window {fn}: expected one argument")
        if filt is not None:
            # ANSI FILTER over the window's input rows == CASE WHEN inside
            # the aggregate (aggregates skip NULLs) — exact, and Spark has
            # no native window FILTER. The condition resolves at the same
            # grain as the argument.
            cond = (
                resolve_expr(filt)
                if row_grain
                else _extract_inner_aggs(filt, a.aggs)[0]
            )
            arg = f"CASE WHEN ({cond}) THEN ({arg}) END"
        out_fn = fn
        if distinct and fn in ("count", "sum", "avg"):
            # lowering folds collect_set(arg) — exact running/framed
            # distinct aggregates (collect_set drops NULLs, as DISTINCT
            # aggregation does); Spark rejects DISTINCT window aggregates
            # natively, so this surface exists ONLY through the rewrite.
            # sum/avg resolve a typed accumulator at lowering (bigint/
            # double/decimal-38 by argument type; others raise there)
            out_fn = f"{fn}_distinct"
        # DISTINCT min/max == plain min/max: nothing to change
        # orders + frame None = ANSI running frame (RANGE ... CURRENT ROW,
        # ties are peers — Spark's default ordered frame, identical)
        return ir.WindowPostSpec(
            name, out_fn, arg, partition, orders, frame=frame,
            frame_type=frame_type, range_unit=range_unit, exclude=exclude,
        )
    raise SQLFrontError(f"window function {fn} unsupported")


def _analyze_select(
    node: dict, time_col: str | None
) -> _Analysis:
    a = _Analysis()
    select_list = node["select_list"]
    alias_to_expr: dict[str, dict] = {}
    for i, item in enumerate(select_list):
        if item.get("class") == "STAR":
            raise SQLFrontError("SELECT * unsupported in rewrite surface")
        if item.get("alias"):
            alias_to_expr[item["alias"]] = item

    # resolve GROUP BY entries (aliases + positions resolve via select list)
    groups = node.get("group_expressions", [])
    group_sets_idx = node.get("group_sets") or []
    group_nodes: list[dict] = []
    for g in groups:
        if (
            g.get("class") == "COLUMN_REF"
            and g["column_names"][-1] in alias_to_expr
        ):
            group_nodes.append(alias_to_expr[g["column_names"][-1]])
            continue
        if g.get("class") == "CONSTANT":
            # positional GROUP BY 1 (ANSI ordinal — common BI SQL)
            pos = _const_value(g)
            if (
                isinstance(pos, (int, Decimal))
                and int(pos) == pos
                and 1 <= int(pos) <= len(select_list)
            ):
                group_nodes.append(select_list[int(pos) - 1])
                continue
            raise SQLFrontError(f"GROUP BY ordinal {pos!r} out of range")
        group_nodes.append(g)

    group_keys = [_strip(g) for g in group_nodes]
    name_by_key: dict[str, str] = {}

    def _gk(stripped) -> str:
        return json.dumps(stripped, sort_keys=True)

    n_aggs = 0

    def out_name_of(item: dict, i: int) -> str:
        if item.get("alias"):
            return item["alias"]
        if item.get("class") == "COLUMN_REF":
            return item["column_names"][-1]
        raise SQLFrontError(f"select item {i} needs an alias")

    has_any_agg = any(_contains_agg(s) for s in select_list) or bool(groups)

    dim_out_names: list[str] = []
    pending_grouping: list[tuple[str, dict]] = []
    pending_windows: list[tuple[str, dict]] = []
    # map from stripped group expr -> output name (fill from select list)
    for i, item in enumerate(select_list):
        s = _strip(item)
        is_group = s in group_keys
        if not is_group and _contains_grouping(item):
            # GROUPING()/GROUPING_ID(): resolved after the group-name map is
            # complete (bit positions follow the lowering's dim order)
            name = item.get("alias") or f"grouping_{i}"
            pending_grouping.append((name, item))
            a.output_order.append(name)
            continue
        if not is_group and _contains_window(item):
            # window function over the aggregated result (possibly inside a
            # scalar expression); partitions resolve through the group-name
            # map, so defer until it is complete
            name = item.get("alias") or f"win_{i}"
            pending_windows.append((name, item))
            a.output_order.append(name)
            continue
        if is_group:
            name = out_name_of(item, i)
            gnode = item
            # date_trunc on the time column becomes the query granularity
            if (
                item.get("class") == "FUNCTION"
                and item.get("function_name", "").lower() == "date_trunc"
                and len(item.get("children", [])) == 2
                and _is_const(item["children"][0])
                and item["children"][1].get("class") == "COLUMN_REF"
                and time_col is not None
                and item["children"][1]["column_names"][-1] == time_col
            ):
                a.granularity = str(_const_value(item["children"][0])).lower()
                a.time_output_name = name
                a.output_order.append(name)
                dim_out_names.append(name)
                name_by_key[_gk(s)] = name
                continue
            # time_bucket(INTERVAL '15 minutes', ts) — duration granularity
            # (epoch-aligned; agrees with DuckDB's origin for widths that
            # divide a day, the practical dashboard widths)
            if (
                item.get("class") == "FUNCTION"
                and item.get("function_name", "").lower() == "time_bucket"
                and len(item.get("children", [])) == 2
                and _interval_seconds(item["children"][0]) is not None
                and item["children"][1].get("class") == "COLUMN_REF"
                and time_col is not None
                and item["children"][1]["column_names"][-1] == time_col
            ):
                secs = _interval_seconds(item["children"][0])
                a.granularity = f"duration:{secs}s"
                a.time_output_name = name
                a.output_order.append(name)
                dim_out_names.append(name)
                name_by_key[_gk(s)] = name
                continue
            d = _dim_spec(gnode, name, time_col)
            a.dims.append(d)
            a.output_order.append(d.out)
            dim_out_names.append(d.out)
            name_by_key[_gk(s)] = d.out
        elif _contains_agg(item):
            name = item.get("alias") or f"agg_{i}"
            if (
                item.get("class") == "FUNCTION"
                and item.get("function_name", "").lower() in _AGG_FNS
            ):
                a.aggs.append(_agg_spec(item, name))
                a.output_order.append(name)
                n_aggs += 1
            else:
                # expression over aggregates -> extract inner aggs, post-agg
                expr_sql, extracted = _extract_inner_aggs(item, a.aggs)
                a.post_aggs.append(ir.ArithmeticPostAgg(name, expr_sql))
                a.output_order.append(name)
                n_aggs += len(extracted)
        else:
            if has_any_agg:
                if _is_const(item):
                    # constant select item in an aggregate query — Druid's
                    # constant post-aggregator (DruidQuerySpec.scala:390-398).
                    # The BI set-op staple: SELECT 'actual' AS src, ...
                    # UNION ALL SELECT 'plan' AS src, ...
                    name = out_name_of(item, i)
                    # render (not _render_const): _is_const also accepts
                    # CAST-wrapped constants (DuckDB serializes DATE '...'
                    # as CAST of a VARCHAR constant), which have no
                    # node["value"] — render() handles both shapes
                    a.post_aggs.append(
                        ir.ArithmeticPostAgg(name, render(item))
                    )
                    a.output_order.append(name)
                    continue
                raise SQLFrontError(
                    f"select item {render(item)} neither grouped nor aggregated"
                )
            # plain projection (select query) — handled by caller
            a.output_order.append(out_name_of(item, i))

    # group-by expressions not in the select list still group (but don't
    # project); they get hidden dim names shared with grouping-set resolution
    for g, gn in zip(group_keys, group_nodes):
        if _gk(g) not in name_by_key:
            name = gn.get("alias") or f"__dim_{len(a.dims)}"
            a.dims.append(_dim_spec(gn, name, time_col))
            name_by_key[_gk(g)] = name

    # grouping sets (CUBE/ROLLUP/GROUPING SETS): indexes into group list,
    # resolved through the same name map the dims carry
    if len(group_sets_idx) > 1:
        all_names = [name_by_key[_gk(g)] for g in group_keys]
        a.grouping_sets = [
            [all_names[i] for i in gset] for gset in group_sets_idx
        ]
    else:
        a.grouping_sets = None

    if pending_windows:
        if a.grouping_sets is not None:
            raise SQLFrontError("window functions over CUBE/ROLLUP")
        for name, item in pending_windows:
            if item.get("class") == "WINDOW":
                a.window_posts.append(
                    _window_spec(item, name, a, name_by_key, _gk)
                )
                continue

            # expression containing window(s): extract each WINDOW subtree
            # as a hidden window post, leave a scalar expr over the outputs
            def sink(n: dict) -> str:
                wname = f"__wp_{len(a.window_posts)}"
                a.window_posts.append(
                    _window_spec(n, wname, a, name_by_key, _gk)
                )
                return wname

            expr_sql, _ = _extract_inner_aggs(item, a.aggs, window_sink=sink)
            a.window_exprs.append([name, expr_sql])

        # a window whose argument/order/partition references ANOTHER
        # window's alias parses in the AST but cannot evaluate in one wave
        # (and window nesting is invalid ANSI anyway) — fall back instead of
        # failing at lowering. Word-match is conservative: a collision with
        # a function name only causes a (correct) fallback.
        import re

        win_names = {n for n, _ in pending_windows}

        def _refs_window(expr: str | None) -> bool:
            if not expr:
                return False
            return bool(
                set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", expr)) & win_names
            )

        for wspec in a.window_posts:
            if (
                _refs_window(wspec.arg)
                or any(_refs_window(o.column) for o in wspec.order)
                or (set(wspec.partition) & win_names)
            ):
                raise SQLFrontError(
                    "window function referencing another window's output"
                )

    if node.get("qualify") is not None:
        # QUALIFY: boolean filter over output/window columns, evaluated
        # after the windows (ANSI). Inline windows inside the QUALIFY
        # expression extract as hidden window posts via the same sink.
        if a.grouping_sets is not None:
            raise SQLFrontError("QUALIFY over CUBE/ROLLUP")

        def qsink(n: dict) -> str:
            wname = f"__wp_{len(a.window_posts)}"
            a.window_posts.append(
                _window_spec(n, wname, a, name_by_key, _gk)
            )
            return wname

        a.qualify, _ = _extract_inner_aggs(
            node["qualify"], a.aggs, window_sink=qsink
        )

    if pending_grouping:
        # bit positions follow the lowering's key order: declared dims, then
        # the time bucket (lowering._grouping_sets_union, high bit = first)
        order = [d.out for d in a.dims]
        if a.granularity != "all":
            order.append(a.time_output_name)
        n_keys = len(order)
        pos = {name: i for i, name in enumerate(order)}

        def grouping_bit(children: list) -> str:
            terms = []
            for j, c in enumerate(children):
                name = name_by_key.get(_gk(_strip(c)))
                if name is None or name not in pos:
                    raise SQLFrontError(
                        f"grouping() argument {render(c)} is not grouped"
                    )
                if a.grouping_sets is None:
                    bit = "0"  # plain GROUP BY: nothing aggregated away
                else:
                    bit = (
                        f"(shiftright(`__grouping_id`,"
                        f" {n_keys - 1 - pos[name]}) & 1)"
                    )
                shift = len(children) - 1 - j
                terms.append(f"({bit} << {shift})" if shift else bit)
            out = " + ".join(terms) if len(terms) > 1 else terms[0]
            return f"CAST(({out}) AS BIGINT)"

        for name, item in pending_grouping:
            expr_sql, _ = _extract_inner_aggs(item, a.aggs, grouping_bit)
            a.post_aggs.append(ir.ArithmeticPostAgg(name, expr_sql))
    return a


def _extract_inner_aggs(
    node: dict, aggs: list, grouping_bit=None, window_sink=None
) -> tuple[str, list[str]]:
    """Replace aggregate subtrees inside an expression with generated agg
    names; append the extracted AggSpecs to ``aggs``. Mirrors the reference's
    avg/postagg rebuild above the scan (DruidStrategy.scala:400-461).

    ``grouping_bit(children) -> sql`` renders GROUPING()/GROUPING_ID()
    subtrees (the ANSI grouping functions over ``__grouping_id``; reference:
    grouping-set literal re-insertion, AggregateTransform.scala:233-291)."""
    extracted: list[str] = []

    def walk(n) -> str:
        if isinstance(n, dict) and n.get("type") == "GROUPING_FUNCTION":
            if grouping_bit is None:
                raise SQLFrontError("grouping() without GROUP BY")
            return grouping_bit(n.get("children", []))
        if isinstance(n, dict) and n.get("class") == "WINDOW":
            if window_sink is None:
                raise SQLFrontError("window function in unsupported position")
            return f"`{window_sink(n)}`"
        if (
            isinstance(n, dict)
            and n.get("class") == "FUNCTION"
            and n.get("function_name", "").lower() in _AGG_FNS
        ):
            # reuse an existing identical agg if present
            name = f"__pa_{len(aggs)}"
            spec = _agg_spec(n, name)
            for existing in aggs:
                d1 = spec.to_dict(); d1["name"] = ""
                d2 = existing.to_dict(); d2["name"] = ""
                if d1 == d2:
                    return f"`{existing.name}`"
            aggs.append(spec)
            extracted.append(name)
            return f"`{name}`"
        if isinstance(n, dict):
            cls = n.get("class")
            if cls == "FUNCTION" and not n.get("is_operator"):
                args = ", ".join(walk(c) for c in n.get("children", []))
                fn = _FNMAP.get(n["function_name"], n["function_name"])
                return f"{fn}({args})"
            if cls == "FUNCTION" and n.get("is_operator"):
                ch = n.get("children", [])
                if len(ch) == 1:
                    return f"(- {walk(ch[0])})"
                return f"({walk(ch[0])} {n['function_name']} {walk(ch[1])})"
            if cls == "CAST":
                return f"CAST({walk(n['child'])} AS {_type_name(n['cast_type'])})"
            if cls == "COMPARISON":
                return f"({walk(n['left'])} {_CMP[n['type']]} {walk(n['right'])})"
            if cls == "CASE":
                parts = ["CASE"]
                for chk in n["case_checks"]:
                    parts.append(
                        f"WHEN {walk(chk['when_expr'])} THEN {walk(chk['then_expr'])}"
                    )
                if n.get("else_expr") is not None:
                    parts.append(f"ELSE {walk(n['else_expr'])}")
                parts.append("END")
                return " ".join(parts)
            return render(n)
        raise SQLFrontError("unrenderable post-agg expression")

    return walk(node), extracted


# ---------------------------------------------------------------------------
# HAVING / ORDER BY / LIMIT
# ---------------------------------------------------------------------------


def _having_expr(node: dict, select_list: list[dict], analysis: _Analysis) -> str:
    """Render HAVING, replacing agg subtrees with their output names."""
    stripped_to_name: dict[str, str] = {}
    for item in select_list:
        if item.get("alias"):
            stripped_to_name[json.dumps(_strip(item), sort_keys=True)] = item["alias"]

    def walk(n) -> str:
        key = json.dumps(_strip(n), sort_keys=True) if isinstance(n, dict) else None
        if key in stripped_to_name:
            return f"`{stripped_to_name[key]}`"
        if (
            isinstance(n, dict)
            and n.get("class") == "FUNCTION"
            and n.get("function_name", "").lower() in _AGG_FNS
        ):
            # an agg in HAVING not in the select list: add as hidden agg
            name = f"__hv_{len(analysis.aggs)}"
            spec = _agg_spec(n, name)
            for existing in analysis.aggs:
                d1 = spec.to_dict(); d1["name"] = ""
                d2 = existing.to_dict(); d2["name"] = ""
                if d1 == d2:
                    return f"`{existing.name}`"
            analysis.aggs.append(spec)
            analysis.hidden_aggs.append(name)
            return f"`{name}`"
        if isinstance(n, dict):
            cls, typ = n.get("class"), n.get("type")
            if cls == "COMPARISON":
                return f"({walk(n['left'])} {_CMP[typ]} {walk(n['right'])})"
            if cls == "CONJUNCTION":
                op = " AND " if typ == "CONJUNCTION_AND" else " OR "
                return "(" + op.join(walk(c) for c in n["children"]) + ")"
            if cls == "OPERATOR" and typ == "OPERATOR_NOT":
                return f"(NOT {walk(n['children'][0])})"
            return render(n)
        raise SQLFrontError("unrenderable HAVING")

    return walk(node)


def _order_limit(
    node: dict, select_list: list[dict], known_outputs: set[str]
) -> tuple[list[ir.OrderByColumn], int | None, int | None]:
    order_cols: list[ir.OrderByColumn] = []
    limit = None
    offset = None
    stripped_to_name = {
        json.dumps(_strip(i), sort_keys=True): (i.get("alias") or
            (i["column_names"][-1] if i.get("class") == "COLUMN_REF" else None))
        for i in select_list
    }
    for mod in node.get("modifiers", []):
        if mod.get("type") == "ORDER_MODIFIER":
            for o in mod["orders"]:
                e = o["expression"]
                name = None
                if e.get("class") == "CONSTANT":
                    # ORDER BY 2 ordinals (ANSI; BI-tool SQL)
                    pos = _const_value(e)
                    if (
                        isinstance(pos, (int, Decimal))
                        and int(pos) == pos
                        and 1 <= int(pos) <= len(select_list)
                    ):
                        e = select_list[int(pos) - 1]
                if e.get("class") == "COLUMN_REF":
                    c = e["column_names"][-1]
                    if c in known_outputs:
                        name = c
                if name is None and e.get("alias") in known_outputs:
                    name = e["alias"]
                if name is None:
                    name = stripped_to_name.get(json.dumps(_strip(e), sort_keys=True))
                if name is None or name not in known_outputs:
                    raise SQLFrontError(f"ORDER BY {render(e)} is not an output")
                direction = "desc" if o["type"] == "DESCENDING" else "asc"
                order_cols.append(ir.OrderByColumn(name, direction))
        elif mod.get("type") == "LIMIT_MODIFIER":
            if mod.get("limit") is not None:
                limit = int(_const_value(mod["limit"]))
            if mod.get("offset") is not None:
                offset = int(_const_value(mod["offset"]))
        elif mod.get("type") == "DISTINCT_MODIFIER":
            pass  # handled by the caller (distinct-projection -> GroupBy dims)
        else:
            raise SQLFrontError(f"unsupported modifier {mod.get('type')}")
    return order_cols, limit, offset


# ---------------------------------------------------------------------------
# subquery-in-FROM flattening
# ---------------------------------------------------------------------------


def _rename_columns(node, mapping: dict[str, str]):
    if isinstance(node, dict):
        if node.get("class") == "COLUMN_REF":
            last = node["column_names"][-1]
            if last in mapping:
                node["column_names"] = [mapping[last]]
        for v in node.values():
            _rename_columns(v, mapping)
    elif isinstance(node, list):
        for v in node:
            _rename_columns(v, mapping)


def _inline_ctes(node: dict) -> None:
    """WITH-inlining pre-pass: substitute each CTE body as a FROM subquery
    wherever its name is referenced, innermost-first (earlier CTEs are
    visible inside later ones). The reference never needed this — Catalyst
    inlines CTEs before its rules ran (SparklineDataParser delegated to the
    standard parser); here it's the AST-level equivalent. CTE bodies that
    survive inlining but are not plain projections are rejected later by
    ``_flatten_subquery`` and fall back to spark.sql."""
    cte_map = (node.get("cte_map") or {}).get("map") or []
    if not cte_map:
        return
    defs: dict[str, dict] = {}
    for entry in cte_map:
        if entry["value"].get("aliases"):
            raise SQLFrontError("CTE column aliases unsupported")
        body = entry["value"]["query"]["node"]
        if body.get("type") != "SELECT_NODE":
            raise SQLFrontError("non-SELECT CTE")
        _subst_cte_tables(body, defs)
        defs[entry["key"].lower()] = body
    _subst_cte_tables(node, defs)
    node["cte_map"] = {"map": []}


def _subst_cte_tables(node: dict, defs: dict[str, dict]) -> None:
    """Replace BASE_TABLE references to CTE names in ``node``'s FROM tree
    with SUBQUERY nodes (deep-copied so multiple references stay independent)."""
    import copy

    def subst(t: dict) -> dict:
        ty = t.get("type")
        if ty == "BASE_TABLE" and t.get("table_name", "").lower() in defs:
            return {
                "type": "SUBQUERY",
                "alias": t.get("alias") or t["table_name"],
                "subquery": {
                    "node": copy.deepcopy(defs[t["table_name"].lower()])
                },
            }
        if ty == "JOIN":
            t["left"] = subst(t["left"])
            t["right"] = subst(t["right"])
        elif ty == "SUBQUERY":
            _subst_cte_tables(t["subquery"]["node"], defs)
        return t

    ft = node.get("from_table")
    if ft:
        node["from_table"] = subst(ft)


def _flatten_subquery(node: dict) -> dict:
    """Merge `FROM (SELECT plain-columns FROM ... WHERE ...) t` into the outer
    query: rename outer refs through the subquery's aliases and AND the inner
    WHERE into the outer one. The reference relied on Spark's optimizer doing
    exactly this before its patterns matched (SURVEY §2 'SubQry' benchmark);
    here it's an AST pre-pass. Applied repeatedly for nested subqueries."""
    while True:
        ft = node.get("from_table") or {}
        if ft.get("type") != "SUBQUERY":
            return node
        inner = ft["subquery"]["node"]
        if inner.get("type") != "SELECT_NODE":
            raise SQLFrontError("non-SELECT subquery in FROM")
        if (
            inner.get("group_expressions")
            or inner.get("having")
            or inner.get("modifiers")
            or inner.get("cte_map", {}).get("map")
            or any(_contains_agg(s) for s in inner.get("select_list", []))
        ):
            raise SQLFrontError("non-projection subquery in FROM")
        mapping: dict[str, str] = {}
        for item in inner["select_list"]:
            if item.get("class") == "STAR":
                continue  # SELECT * passes every column through unchanged
            if item.get("class") != "COLUMN_REF":
                raise SQLFrontError("subquery select must be plain columns")
            src = item["column_names"][-1]
            if item.get("alias"):
                mapping[item["alias"]] = src
        _rename_columns(node.get("select_list"), mapping)
        _rename_columns(node.get("where_clause"), mapping)
        _rename_columns(node.get("group_expressions"), mapping)
        _rename_columns(node.get("having"), mapping)
        _rename_columns(node.get("modifiers"), mapping)
        node["from_table"] = inner["from_table"]
        iw = inner.get("where_clause")
        if iw is not None:
            ow = node.get("where_clause")
            node["where_clause"] = (
                iw
                if ow is None
                else {
                    "class": "CONJUNCTION",
                    "type": "CONJUNCTION_AND",
                    "children": [ow, iw],
                }
            )


def referenced_tables(sql: str) -> set[str]:
    """Every base table referenced anywhere in the statement (FROM trees of
    the main query, subqueries, and CTE bodies; CTE names themselves
    excluded) — the routing key for ``session.OlapCatalog``. Raises
    SQLFrontError on unparseable text (via ``_ast``)."""
    node = _ast(sql)
    tables: set[str] = set()

    def walk(n, visible: frozenset) -> None:
        # CTE names mask base tables only within the statement node that
        # defines them (and nested scopes) — a sibling scope's CTE must not
        # hide a same-named base table here, or the routing key under-counts
        if isinstance(n, dict):
            cm = n.get("cte_map")
            if isinstance(cm, dict) and cm.get("map"):
                visible = visible | {
                    e["key"].lower() for e in cm["map"]
                }
            if n.get("type") == "BASE_TABLE" and "table_name" in n:
                t = n["table_name"].lower()
                if t not in visible:
                    tables.add(t)
            for v in n.values():
                walk(v, visible)
        elif isinstance(n, list):
            for v in n:
                walk(v, visible)

    walk(node, frozenset())
    return tables


# ---------------------------------------------------------------------------
# CTE text splitting (OlapCatalog federation)
# ---------------------------------------------------------------------------


def _skip_ws(s: str, i: int) -> int:
    """Advance past whitespace and SQL comments (-- and /* */)."""
    n = len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
        elif s.startswith("--", i):
            j = s.find("\n", i)
            i = n if j < 0 else j + 1
        elif s.startswith("/*", i):
            j = s.find("*/", i + 2)
            if j < 0:
                raise SQLFrontError("unterminated block comment")
            i = j + 2
        else:
            break
    return i


def _read_ident(s: str, i: int) -> tuple[str, int]:
    if i < len(s) and s[i] == '"':
        j = i + 1
        while j < len(s):
            if s[j] == '"':
                if j + 1 < len(s) and s[j + 1] == '"':
                    j += 2
                    continue
                return s[i + 1:j].replace('""', '"'), j + 1
            j += 1
        raise SQLFrontError("unterminated quoted identifier")
    j = i
    while j < len(s) and (s[j].isalnum() or s[j] == "_"):
        j += 1
    if j == i:
        raise SQLFrontError(f"expected identifier at {s[i:i+20]!r}")
    return s[i:j], j


def _match_paren(s: str, i: int) -> int:
    """Index of the ')' closing the '(' at ``i``, skipping strings, quoted
    identifiers, and comments."""
    assert s[i] == "("
    depth = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n:
                if s[i] == "'":
                    if i + 1 < n and s[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == '"':
            i += 1
            while i < n and s[i] != '"':
                i += 1
        elif s.startswith("--", i):
            j = s.find("\n", i)
            i = n if j < 0 else j
        elif s.startswith("/*", i):
            i = s.find("*/", i + 2)
            if i < 0:
                raise SQLFrontError("unterminated block comment")
            i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise SQLFrontError("unbalanced parentheses")


def split_ctes(sql: str) -> tuple[list[tuple[str, str]], str]:
    """Text-level WITH splitter: ``([(name, body_sql), ...], outer_sql)``.

    The federation path (OlapCatalog.sql) runs each CTE body through the
    context owning its tables and the OUTER text through spark.sql over the
    resulting temp views — so the pieces must be real SQL strings, which
    the JSON AST (no source offsets) cannot give back. Quote-, comment-,
    and paren-aware; raises SQLFrontError for statements without a leading
    WITH, RECURSIVE CTEs, or CTE column aliases (``name(cols) AS``)."""
    s = sql.strip().rstrip(";")
    i = _skip_ws(s, 0)
    word, j = (s[i:i + 4], i + 4) if len(s) >= i + 4 else ("", i)
    if word.upper() != "WITH" or (j < len(s) and (s[j].isalnum() or s[j] == "_")):
        raise SQLFrontError("no WITH clause")
    i = j
    ctes: list[tuple[str, str]] = []
    while True:
        i = _skip_ws(s, i)
        name, i = _read_ident(s, i)
        if not ctes and name.upper() == "RECURSIVE":
            raise SQLFrontError("RECURSIVE CTE unsupported")
        i = _skip_ws(s, i)
        if i < len(s) and s[i] == "(":
            raise SQLFrontError("CTE column aliases unsupported")
        kw, i = _read_ident(s, i)
        if kw.upper() != "AS":
            raise SQLFrontError(f"expected AS after CTE name {name!r}")
        i = _skip_ws(s, i)
        if i >= len(s) or s[i] != "(":
            raise SQLFrontError("expected ( after AS")
        close = _match_paren(s, i)
        ctes.append((name.lower(), s[i + 1:close].strip()))
        i = _skip_ws(s, close + 1)
        if i < len(s) and s[i] == ",":
            i += 1
            continue
        break
    outer = s[i:].strip()
    if not outer:
        raise SQLFrontError("WITH without a trailing query")
    return ctes, outer


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def parse_sql(
    sql: str,
    time_col: str | None = None,
    fact_table: str | None = None,
    star: StarSchema | None = None,
) -> ir.QuerySpec:
    """Parse a SELECT into a QuerySpec, or raise SQLFrontError.

    Surface: SELECT [aggregates/dims/post-agg exprs] FROM fact [JOIN dim ON
    star-edge]* [WHERE ...] [GROUP BY ... [CUBE/ROLLUP/GROUPING SETS]]
    [HAVING ...] [ORDER BY outputs] [LIMIT n], plus top-level
    UNION [ALL] / INTERSECT / EXCEPT of such SELECTs (each arm planned
    independently; ir.SetOpQuery).
    """
    node = _ast(sql)
    return _parse_node(node, time_col, fact_table, star)


_SETOP_TYPES = {"UNION": "union", "INTERSECT": "intersect", "EXCEPT": "except"}


def _parse_node(
    node: dict,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
) -> ir.QuerySpec:
    if node.get("type") == "SET_OPERATION_NODE":
        return _parse_setop(node, time_col, fact_table, star)
    if node.get("type") != "SELECT_NODE":
        raise SQLFrontError(f"not a SELECT: {node.get('type')}")
    return _parse_select(node, time_col, fact_table, star)


def _spec_outputs(spec: ir.QuerySpec) -> list | None:
    """The output column names of a parsed spec, if statically known."""
    oo = getattr(spec, "output_order", None)
    if oo:
        return list(oo)
    if isinstance(spec, ir.SelectQuery):
        return [
            c[1] if isinstance(c, (list, tuple)) else c for c in spec.columns
        ]
    return None


def _leftmost_select(node: dict) -> dict:
    while node.get("type") == "SET_OPERATION_NODE":
        node = node["left"]
    return node


def _subst_ctes_deep(node: dict, defs: dict[str, dict]) -> None:
    """Push CTE defs into every arm of a (possibly nested) set operation."""
    if node.get("type") == "SET_OPERATION_NODE":
        _subst_ctes_deep(node["left"], defs)
        _subst_ctes_deep(node["right"], defs)
    else:
        _subst_cte_tables(node, defs)


def _auto_alias_consts_deep(node: dict) -> None:
    """Alias unaliased constant select items in every SELECT under a
    set-op arm whose output names are positionally discarded (ANSI: the
    left arm names the result). Constants only — any other unaliased
    expression still requires a name so errors stay early and local."""
    if node.get("type") == "SET_OPERATION_NODE":
        _auto_alias_consts_deep(node["left"])
        _auto_alias_consts_deep(node["right"])
        return
    if node.get("type") != "SELECT_NODE":
        return
    for i, item in enumerate(node.get("select_list") or []):
        if _is_const(item) and not item.get("alias"):
            item["alias"] = f"__setop_c{i}"


def _parse_setop(
    node: dict,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
) -> ir.QuerySpec:
    """Top-level UNION [ALL] / INTERSECT / EXCEPT (round 7): lower each arm
    through the planner independently and combine lazily — the reference's
    own per-grouping-set union pattern (DruidStrategy.scala:74-76) applied
    to user-written set operations. Any arm outside the surface raises
    SQLFrontError here, declining the WHOLE statement to the spark.sql
    fallback (which remains correct for every shape)."""
    op = _SETOP_TYPES.get(node.get("setop_type"))
    if op is None:
        raise SQLFrontError(
            f"unsupported set operation {node.get('setop_type')}"
        )
    cte_map = (node.get("cte_map") or {}).get("map") or []
    if cte_map:
        # WITH wrapping a set op: same rules as _inline_ctes, substituted
        # into every arm (earlier CTEs visible inside later ones)
        defs: dict[str, dict] = {}
        for entry in cte_map:
            if entry["value"].get("aliases"):
                raise SQLFrontError("CTE column aliases unsupported")
            body = entry["value"]["query"]["node"]
            if body.get("type") != "SELECT_NODE":
                raise SQLFrontError("non-SELECT CTE")
            _subst_cte_tables(body, defs)
            defs[entry["key"].lower()] = body
        _subst_ctes_deep(node["left"], defs)
        _subst_ctes_deep(node["right"], defs)
        node["cte_map"] = {"map": []}
    # ANSI: only the LEFT arm's column names reach the output (lowering
    # renames every right arm positionally), so the BI staple
    #   SELECT 'actual' AS src, ... UNION ALL SELECT 'plan', ...
    # must not decline just because the right arm's constant lacks an
    # alias — auto-alias unaliased constants in the whole right subtree
    # (its leftmost SELECT's names are discarded by THIS op too)
    _auto_alias_consts_deep(node["right"])
    left = _parse_node(node["left"], time_col, fact_table, star)
    right = _parse_node(node["right"], time_col, fact_table, star)
    lout, rout = _spec_outputs(left), _spec_outputs(right)
    if lout is None or rout is None:
        raise SQLFrontError("set-op arm without a resolvable output list")
    if len(lout) != len(rout):
        raise SQLFrontError(
            f"set-op arms select different column counts "
            f"({len(lout)} vs {len(rout)})"
        )
    limit_spec = None
    if node.get("modifiers"):
        # ORDER BY/LIMIT on the whole set operation: names resolve against
        # the left arm's outputs (ANSI), ordinals against the leftmost
        # SELECT's list
        sel_list = _leftmost_select(node["left"]).get("select_list") or []
        order_cols, limit, offset = _order_limit(node, sel_list, set(lout))
        if order_cols or limit is not None or offset is not None:
            limit_spec = ir.LimitSpec(order_cols, limit, offset)
    return ir.SetOpQuery(
        op=op,
        all=bool(node.get("setop_all")),
        left=left,
        right=right,
        limit_spec=limit_spec,
        output_order=list(lout),
    )


# ---------------------------------------------------------------------------
# WHERE-clause subqueries -> SemiJoinQuery (round 8)
# ---------------------------------------------------------------------------


def _contains_subquery(node) -> bool:
    """Any expression-level SUBQUERY node under ``node`` (a WHERE tree)."""
    if isinstance(node, dict):
        if node.get("class") == "SUBQUERY":
            return True
        return any(_contains_subquery(v) for v in node.values())
    if isinstance(node, list):
        return any(_contains_subquery(v) for v in node)
    return False


def _and_node(conjuncts: list[dict]) -> dict | None:
    if not conjuncts:
        return None
    if len(conjuncts) == 1:
        return conjuncts[0]
    return {
        "class": "CONJUNCTION",
        "type": "CONJUNCTION_AND",
        "children": conjuncts,
    }


def _colref(name: str) -> dict:
    return {
        "class": "COLUMN_REF",
        "type": "COLUMN_REF",
        "alias": "",
        "column_names": [name],
    }


@dataclass
class _SubqScope:
    """Column-reference scope resolver for a WHERE-clause subquery.

    SQL binding inside a subquery: a QUALIFIED reference resolves to the
    inner table/alias it names, to an OUTER table/alias otherwise (an
    ALIASED table's bare name is hidden — round-8 review finding #1); an
    UNQUALIFIED name resolves inner-first, outer only when no inner table
    carries the column. ``inner_cols`` None = the star has no column
    lists, so unqualified names are assumed inner (only sound for the
    fact-only/star-less contexts that construct such scopes — a genuinely
    single-table statement has no outer names to capture). The reserved
    ``__outer__`` qualifier marks synthesized outer-side refs (the IN
    child rebased into an EXISTS correlation conjunct) so a child whose
    bare name collides with an inner column cannot be misread as inner."""

    inner_quals: set
    inner_cols: set | None
    outer_quals: set

    def side(self, ref: dict) -> str:
        names = ref.get("column_names") or []
        if not names:
            raise SQLFrontError("empty column reference")
        name = names[-1]
        if len(names) >= 2:
            q = names[-2].lower()
            if q == "__outer__":
                return "outer"
            if q in self.inner_quals:
                if self.inner_cols is not None and name not in self.inner_cols:
                    raise SQLFrontError(
                        f"column {name!r} not in subquery table {q!r}"
                    )
                return "inner"
            if q in self.outer_quals:
                return "outer"
            raise SQLFrontError(f"unknown qualifier {q!r} in subquery")
        if self.inner_cols is None or name in self.inner_cols:
            return "inner"
        return "outer"

    def outer_names(self, tree) -> set[str]:
        """Bare names of outer-side refs under ``tree`` (raises on unknown
        qualifiers — classification IS validation)."""
        out: set[str] = set()
        for ref in _refs_of(tree):
            if self.side(ref) == "outer":
                out.add(ref["column_names"][-1])
        return out

    def has_outer(self, tree) -> bool:
        return bool(self.outer_names(tree))

    def validate(self, tree) -> None:
        """Classify every reference (side() raises on unknown/invalid)."""
        for ref in _refs_of(tree):
            self.side(ref)


def _refs_of(tree) -> list[dict]:
    """All COLUMN_REF nodes under ``tree`` (full nodes, qualifiers kept —
    unlike _columns_of, which strips to bare names)."""
    out: list[dict] = []

    def walk(n):
        if isinstance(n, dict):
            if n.get("class") == "COLUMN_REF":
                out.append(n)
                return
            for v in n.values():
                walk(v)
        elif isinstance(n, list):
            for v in n:
                walk(v)

    walk(tree)
    return out


def _outer_quals_of(from_table) -> set:
    """Outer-scope qualifiers: each base table's alias when present, its
    name otherwise (the alias HIDES the name — same binding rule as
    _SubqScope's inner side)."""
    quals: set = set()
    for bt in _base_table_nodes(from_table):
        if bt.get("alias"):
            quals.add(bt["alias"].lower())
        else:
            quals.add((bt.get("table_name") or "").lower())
    return quals


def _subquery_scope(
    inner_node: dict,
    fact_table: str | None,
    star: StarSchema | None,
    outer_quals: set,
    allow_agg: bool = False,
) -> tuple[list[str], list[tuple[str, str]], set[str] | None, _SubqScope]:
    """Validate an IN/EXISTS/scalar subquery's shape and resolve its
    column scope.

    Returns (tables, join_pairs, inner_columns) where ``inner_columns`` is
    the set of column names visible inside the subquery (None when the star
    carries no column lists — scope then cannot be verified). Shape limits
    (round-8 surface, each an honest decline to the spark.sql fallback):
    no GROUP BY / HAVING / windows / LIMIT / nested subqueries, and
    aggregates only when ``allow_agg`` (the scalar-subquery form, which
    needs exactly one ungrouped aggregate for its 1-row guarantee) — an
    IN/EXISTS arm must reduce to a filtered DISTINCT key set whose grain
    is either the fact's (FROM includes the fact) or one dim table's."""
    if inner_node.get("sample"):
        raise SQLFrontError("SAMPLE in subquery")
    _inline_ctes(inner_node)
    tables: list[str] = []
    pairs: list[tuple[str, str]] = []
    _flatten_from(inner_node["from_table"], tables, pairs)
    known = {fact_table.lower()} if fact_table else set()
    if star is not None:
        known |= {t.lower() for t in star.tables}
    unknown = [t for t in tables if known and t not in known]
    if unknown:
        raise SQLFrontError(f"unknown tables in subquery {unknown}")
    if inner_node.get("group_expressions") or inner_node.get("having"):
        raise SQLFrontError("GROUP BY/HAVING in subquery")
    sel = inner_node.get("select_list") or []
    if not allow_agg and any(_contains_agg(s) for s in sel):
        raise SQLFrontError("aggregate in IN/EXISTS subquery")
    if any(_contains_window(s) for s in sel):
        raise SQLFrontError("window function in subquery")
    for m in inner_node.get("modifiers") or []:
        if m.get("type") == "LIMIT_MODIFIER":
            # IN (SELECT ... LIMIT n) is order-dependent row sampling — the
            # fallback is the only honest answer
            raise SQLFrontError("LIMIT in IN/EXISTS subquery")
    wc = inner_node.get("where_clause")
    if wc is not None and _contains_subquery(wc):
        raise SQLFrontError("nested subquery in IN/EXISTS subquery")
    # Scope resolution (round-8 cont.): qualified refs resolve inner-vs-
    # outer by table/alias name (an ALIASED table's bare name is HIDDEN —
    # round-8 review finding #1); unqualified names bind inner-first.
    # Unknown qualifiers decline via _SubqScope.side. This replaced the
    # earlier blanket foreign-qualifier decline when correlation support
    # made outer-qualified references legitimate.
    inner_quals: set[str] = set()
    for bt in _base_table_nodes(inner_node.get("from_table")):
        if bt.get("alias"):
            inner_quals.add(bt["alias"].lower())
        else:
            inner_quals.add((bt.get("table_name") or "").lower())
    inner_cols: set[str] | None = None
    if star is not None and star.table_columns:
        by_table = {t.lower(): cols for t, cols in star.table_columns.items()}
        inner_cols = set()
        for t in tables:
            inner_cols.update(by_table.get(t, ()))
    scope = _SubqScope(inner_quals, inner_cols, set(outer_quals))
    scope.validate([inner_node.get("select_list"), wc])
    return tables, pairs, inner_cols, scope


def _base_table_nodes(node) -> list[dict]:
    out: list[dict] = []

    def walk(n):
        if isinstance(n, dict):
            if n.get("type") == "BASE_TABLE":
                out.append(n)
            for v in n.values():
                walk(v)
        elif isinstance(n, list):
            for v in n:
                walk(v)

    walk(node)
    return out


def _rewrite_inner_refs(node: dict, rename) -> dict:
    """Deep-copied ``node`` with every COLUMN_REF rewritten to the single
    bare name ``rename(ref)`` returns (bare outer names; reserved aliases
    for inner-scoped refs) — used to rebase a non-equi residual's inner
    references onto the __sjr_* aliases the inner spec exposes, and to
    strip qualifiers before rendering outer-scope expressions."""
    import copy

    out = copy.deepcopy(node)

    def walk(x):
        if isinstance(x, dict):
            if x.get("class") == "COLUMN_REF":
                if x.get("column_names"):
                    x["column_names"] = [rename(x)]
                return
            for v in x.values():
                walk(v)
        elif isinstance(x, list):
            for v in x:
                walk(v)

    walk(out)
    return out


def _build_inner_keyset(
    inner_node: dict,
    keys: list[str],
    tables: list[str],
    pairs: list[tuple[str, str]],
    residual_where: dict | None,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
    extra: list | None = None,
    key_items: list | None = None,
) -> ir.QuerySpec:
    """The inner arm as a DISTINCT key-set spec. ``keys`` are plain column
    names; ``key_items`` are (ast, alias) expression keys (an IN subquery
    selecting an expression).

    FROM includes the fact -> synthesize ``SELECT DISTINCT key(s)`` and
    re-enter :func:`_parse_select` (flat grain == fact grain, so the planner
    may serve it from a cube or the pruned flat scan). FROM is one dim
    table -> :class:`ir.BaseKeysQuery` over the registered base table — the
    flat backing would silently drop dim rows with no fact match, which is
    wrong for anti-joins and off-path correlation keys."""
    fact_grain = bool(fact_table) and fact_table.lower() in tables
    if fact_grain:
        node2 = dict(inner_node)
        sel = [_colref(k) for k in keys]
        for ast, alias in key_items or []:
            item = dict(ast)
            item["alias"] = alias
            sel.append(item)
        for col, alias in extra or []:
            item = _colref(col)
            item["alias"] = alias
            sel.append(item)
        node2["select_list"] = sel
        node2["modifiers"] = [{"type": "DISTINCT_MODIFIER"}]
        node2["group_expressions"] = []
        node2["having"] = None
        node2["where_clause"] = residual_where
        return _parse_select(node2, time_col, fact_table, star)
    if pairs or len(tables) != 1:
        raise SQLFrontError(
            "multi-table IN/EXISTS subquery without the fact table"
        )
    filt = None
    if residual_where is not None:
        filt = ir.and_(*[_to_filter(c) for c in _conjuncts(residual_where)])
    return ir.BaseKeysQuery(
        table=tables[0],
        keys=list(keys),
        filter=filt,
        extra=[list(e) for e in (extra or [])],
        exprs=[[render(ast), alias] for ast, alias in key_items or []],
    )


def _fn_node(fn: str, *children: dict) -> dict:
    """Minimal synthesized aggregate FUNCTION node (the fields _agg_spec /
    render read; DuckDB's serializer emits a superset)."""
    return {
        "class": "FUNCTION",
        "type": "FUNCTION",
        "alias": "",
        "function_name": fn,
        "schema": "",
        "children": list(children),
        "filter": None,
        "distinct": False,
        "is_operator": False,
        "catalog": "",
    }


def _int_const(v: int) -> dict:
    return {
        "class": "CONSTANT",
        "type": "VALUE_CONSTANT",
        "alias": "",
        "value": {"type": {"id": "INTEGER"}, "is_null": False, "value": v},
    }


def _coalesce0(child: dict) -> dict:
    return {
        "class": "OPERATOR",
        "type": "OPERATOR_COALESCE",
        "alias": "",
        "children": [child, _int_const(0)],
    }


# aggregates that return 0 (not NULL) over an empty input — an empty
# correlated group must still evaluate the scalar expression for these
_COUNT_CLASS_FNS = {
    "count", "count_star", "approx_count_distinct", "theta_count_distinct",
}


def _render_agg_leaf(n: dict) -> str:
    """Spark SQL text for one aggregate FUNCTION node including its FILTER
    clause (render() ignores the 'filter' key — aggregate-only syntax)."""
    base = render(n)
    if n.get("filter") is not None:
        return f"{base} FILTER (WHERE {render(n['filter'])})"
    return base


def _build_inner_aggs(
    inner_node: dict,
    agg_items: list[tuple[dict, str]],
    group_keys: list[str],
    tables: list[str],
    pairs: list[tuple[str, str]],
    residual_where: dict | None,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
) -> ir.QuerySpec:
    """The inner arm as an aggregate spec: ``agg_items`` are synthesized
    aggregate AST nodes with their output aliases; ``group_keys`` are the
    correlation keys (empty = global 1-row aggregate).

    FROM includes the fact -> re-enter :func:`_parse_select` (the planner
    may serve the aggregate from a cube). FROM is one dim table ->
    :class:`ir.BaseScalarQuery` over the registered base table (a dim
    aggregate evaluated on fact-grain flat rows would weight each dim row
    by its fact multiplicity)."""
    fact_grain = bool(fact_table) and fact_table.lower() in tables
    if fact_grain:
        node2 = dict(inner_node)
        sel = [_colref(k) for k in group_keys]
        for ast, alias in agg_items:
            item = dict(ast)
            item["alias"] = alias
            sel.append(item)
        node2["select_list"] = sel
        node2["modifiers"] = []  # ORDER BY vacuous; DISTINCT agg-invariant
        node2["group_expressions"] = [_colref(k) for k in group_keys]
        node2["group_sets"] = (
            [list(range(len(group_keys)))] if group_keys else []
        )
        node2["having"] = None
        node2["where_clause"] = residual_where
        return _parse_select(node2, time_col, fact_table, star)
    if pairs or len(tables) != 1:
        raise SQLFrontError(
            "multi-table subquery without the fact table"
        )
    filt = None
    if residual_where is not None:
        filt = ir.and_(*[_to_filter(c) for c in _conjuncts(residual_where)])
    return ir.BaseScalarQuery(
        table=tables[0],
        filter=filt,
        aggs=[[_render_agg_leaf(ast), alias] for ast, alias in agg_items],
        group_keys=list(group_keys),
    )


def _split_corr_conjuncts_res(
    wc: dict | None,
    scope: _SubqScope,
    what: str,
    star: StarSchema | None,
    lhs_cols=(),
) -> tuple[list[str], list[str], list[dict], list[dict]]:
    """Split a correlated subquery's WHERE into equi-correlation pairs
    (corr_inner, corr_outer), inner-only ``rest`` and mixed-scope NON-equi
    ``residuals`` (served by keeping the inner row grain — the row-grain
    bundle or an EXISTS-style arm; a caller that cannot carry them
    declines). The one place the correlated-subquery guards run, so every
    form applies them alike (``what`` names the shape for the error):

    - neither an equi anchor nor a residual declines (an anchor-free
      residual form takes the broadcast-theta path over a provably tiny
      inner);
    - an aggregate inside the filter declines: it can only be an OUTER
      aggregate, which has no column to bind to (Spark's fallback
      rejects the shape too);
    - an outer column the star does not know — correlation, residual or
      the caller's ``lhs_cols`` (the IN left side), as source names —
      declines."""
    corr_inner: list[str] = []
    corr_outer: list[str] = []
    rest: list[dict] = []
    residuals: list[dict] = []
    for c in _conjuncts(wc) if wc is not None else []:
        pair = _corr_pair(c, scope)
        if pair is not None:
            corr_inner.append(pair[0])
            corr_outer.append(pair[1])
        elif scope.has_outer(c):
            residuals.append(c)
        else:
            rest.append(c)
    if not corr_inner and not residuals:
        raise SQLFrontError(f"{what} subquery without a correlation conjunct")
    if any(_contains_agg(c) for c in rest + residuals):
        raise SQLFrontError(f"aggregate inside the {what} subquery filter")
    all_cols = _star_columns(star)
    if all_cols is not None:
        outer = set(corr_outer) | scope.outer_names(residuals) | set(lhs_cols)
        bad = sorted(outer - all_cols)
        if bad:
            raise SQLFrontError(
                f"{what} subquery references unknown outer columns {bad}"
            )
    return corr_inner, corr_outer, rest, residuals


def _rewrite_residual(
    c: dict,
    scope: _SubqScope,
    frame_col,
    inner_alias: dict,
    tag: str,
) -> str:
    """Render one mixed-scope residual conjunct with outer COLUMN_REFs
    bound to their frame output aliases (via ``frame_col`` — raises for
    unselected columns) and inner refs to reserved ``__hcr{tag}_*``
    aliases (collected into ``inner_alias``: src -> alias). Anything
    render() can't express raises (decline path)."""
    import copy

    def walk(n):
        if isinstance(n, dict):
            if n.get("class") == "COLUMN_REF":
                name = n["column_names"][-1]
                if scope.side(n) == "outer":
                    return _colref(frame_col(name))
                a = inner_alias.setdefault(
                    name, f"__hcr{tag}_{len(inner_alias)}"
                )
                return _colref(a)
            return {k: walk(v) for k, v in n.items()}
        if isinstance(n, list):
            return [walk(v) for v in n]
        return n

    return render(walk(copy.deepcopy(c)))


def _build_inner_rows(
    inner_node: dict,
    keys: list[str],
    extra_items: list[tuple[dict, str]],
    tables: list[str],
    pairs: list[tuple[str, str]],
    residual_where: dict | None,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
) -> ir.QuerySpec:
    """The inner arm as a ROW-GRAIN select (no DISTINCT — downstream
    re-aggregation needs multiplicity): keys + aliased extra items
    (leaf arguments, residual columns). Fact-grain only; a dim-grain
    inner declines (BaseKeysQuery is distinct by contract)."""
    fact_grain = bool(fact_table) and fact_table.lower() in tables
    if not fact_grain:
        raise SQLFrontError(
            "row-grain correlated subquery without the fact table"
        )
    node2 = dict(inner_node)
    sel = [_colref(k) for k in keys]
    for ast, alias in extra_items:
        item = dict(ast)
        item["alias"] = alias
        sel.append(item)
    node2["select_list"] = sel
    node2["modifiers"] = []
    node2["group_expressions"] = []
    node2["group_sets"] = []
    node2["having"] = None
    node2["where_clause"] = residual_where
    return _parse_select(node2, time_col, fact_table, star)


def _residual_bundle(
    what: str,
    tag,
    leaves,
    inner_node: dict,
    scope: _SubqScope,
    tables: list[str],
    pairs: list[tuple[str, str]],
    split: tuple,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
    frame_col=lambda name: name,
    lhs_frame_cols=(),
    **cond,
) -> "ir.CorrScalarCond":
    """THE row-grain residual bundle (ir.CorrScalarCond.row_grain) — the
    one builder every correlated form with NON-EQUI residual conjuncts
    shares: HAVING EXISTS / [NOT] IN / quantified, the select-list and
    WHERE scalars, and the OR-composed EXISTS / [NOT] IN / quantified
    atoms. The per-key GROUP BY cannot absorb an outer-dependent filter,
    so the inner stays row grain and the server recomputes the leaf
    aggregates per DISTINCT (correlation + residual frame column) tuple
    after the residual-conditioned join.

    ``split`` comes from :func:`_split_corr_conjuncts_res` (its guards
    have run). The residuals render first, then the leaf arguments, all
    over the same reserved ``__hcr{tag}_*`` inner aliases (their
    insertion order is the row-grain inner's column order); outer
    columns bind through ``frame_col`` — the frame's output aliases in
    HAVING / the select list, the identity where the row-grain scan is
    the frame. ``leaves(arg)`` returns the caller's re-aggregation recipe
    ``[[fn, arg_sql | None, leaf_alias]]``, rendering inner expressions
    with ``arg``; ``cond`` carries the caller's condition fields.
    ``lhs_frame_cols`` (the IN family) extend the bundle key with the
    frame columns its counted equality reads. No equi anchor = the
    broadcast-theta form."""
    corr_inner, corr_outer, rest, residuals = split
    inner_alias: dict = {}
    res_sqls = [
        _rewrite_residual(c, scope, frame_col, inner_alias, tag)
        for c in residuals
    ]
    leaf_aggs = leaves(
        lambda ast: _rewrite_residual(ast, scope, frame_col, inner_alias, tag)
    )
    keys = list(dict.fromkeys(corr_inner))
    return ir.CorrScalarCond(
        inner=_residual_rows_inner(
            what, inner_node, keys, inner_alias,
            tables, pairs, rest, time_col, fact_table, star,
        ),
        inner_keys=keys,
        pairs=[[frame_col(o), i] for i, o in zip(corr_inner, corr_outer)],
        leaf_cols=[a for _, _, a in leaf_aggs],
        row_grain=True,
        residual_sql=" AND ".join(res_sqls),
        residual_frame_cols=sorted(
            {frame_col(n) for n in scope.outer_names(residuals)}
            | set(lhs_frame_cols)
        ),
        residual_cols=sorted(inner_alias.values()),
        leaf_aggs=leaf_aggs,
        broadcast_theta=not corr_inner,
        **cond,
    )


def _exists_bundle(negated: bool, tag, *args, **kw) -> "ir.CorrScalarCond":
    """[NOT] EXISTS with residual conjuncts as a row-grain bundle: EXISTS
    is exactly ``count of residual-matched rows > 0``, NOT EXISTS ``= 0``.
    ``args``/``kw`` are :func:`_residual_bundle`'s scope arguments."""
    a0 = f"__ca{tag}_0"
    return _residual_bundle(
        "EXISTS", tag, lambda arg: [["count_star", None, a0]], *args,
        cond_sql=f"(coalesce(`{a0}`, 0) {'=' if negated else '>'} 0)",
        left_join=True,
        standalone=False,
        **kw,
    )


def _in_bundle(
    item: dict, negated: bool, lhs_sql: str, tag, *args, **kw
) -> "ir.CorrScalarCond":
    """Correlated ``[NOT] IN`` with NON-EQUI residual conjuncts as a
    row-grain bundle (the membership arm's deduped key set cannot carry a
    residual): per tuple, count the residual-matched rows (a0), their
    non-NULL items (a1), and the exact item-equals-lhs matches (a2 — the
    equality evaluates inside the bundle aggregation, where the tuple's
    frame columns are in scope). IN is ``a2 > 0`` (UNKNOWN flattens to
    FALSE, exactly what filter context requires); NOT IN keeps full
    three-valued semantics: TRUE iff the residual-matched set is empty,
    or lhs is non-NULL with no NULL member and no equal member."""
    a = [f"__ca{tag}_{i}" for i in range(3)]

    def leaves(arg):
        val_sql = arg(item)
        eq = f"CASE WHEN ({val_sql}) = ({lhs_sql}) THEN 1 END"
        return [
            ["count_star", None, a[0]],
            ["count", val_sql, a[1]],
            ["count", eq, a[2]],
        ]

    if negated:
        cond = (
            f"(coalesce(`{a[0]}`, 0) = 0 OR (({lhs_sql}) IS NOT NULL"
            f" AND coalesce(`{a[0]}`, 0) = coalesce(`{a[1]}`, 0)"
            f" AND coalesce(`{a[2]}`, 0) = 0))"
        )
    else:
        cond = f"(coalesce(`{a[2]}`, 0) > 0)"
    return _residual_bundle(
        "[NOT] IN", tag, leaves, *args, cond_sql=cond,
        left_join=True, standalone=False, **kw,
    )


def _scalar_leaves(
    item: dict, scope: _SubqScope, tag
) -> tuple[dict, list[tuple[dict, str]], bool]:
    """Rewrite a correlated scalar's select item over per-group leaf
    columns: each aggregate leaf becomes ``__ca{tag}_{i}`` (count-class
    leaves COALESCE to 0, so an empty group evaluates like the 1-row
    scalar it replaces). Returns (value AST, [(leaf AST, alias)], whether
    a count-class leaf occurred). Outer references inside an aggregate
    argument and bare columns (no single-value guarantee) decline."""
    import copy

    leaves: list[tuple[dict, str]] = []
    has_count = False

    def rewrite(n):
        nonlocal has_count
        if isinstance(n, dict):
            fn = (n.get("function_name") or "").lower()
            if n.get("class") == "FUNCTION" and fn in _AGG_FNS:
                for ref in _refs_of([n.get("children"), n.get("filter")]):
                    if scope.side(ref) != "inner":
                        raise SQLFrontError(
                            "outer reference inside aggregate argument"
                        )
                alias = f"__ca{tag}_{len(leaves)}"
                leaves.append((copy.deepcopy(n), alias))
                ph = _colref(alias)
                if fn in _COUNT_CLASS_FNS:
                    has_count = True
                    return _coalesce0(ph)
                return ph
            if n.get("class") == "COLUMN_REF":
                raise SQLFrontError(
                    "non-aggregate column in scalar select item"
                )
            return {k: rewrite(v) for k, v in n.items()}
        if isinstance(n, list):
            return [rewrite(v) for v in n]
        return n

    item = copy.deepcopy(item)
    item["alias"] = ""
    return rewrite(item), leaves, has_count


def _row_grain_leaf_aggs(leaves: list[tuple[dict, str]], arg) -> list:
    """A scalar's leaves as the row-grain bundle's re-aggregation recipe
    (``leaves`` callback of :func:`_residual_bundle`): plain
    count/sum/min/max/avg leaves only — FILTER/DISTINCT and other
    families cannot recompute per tuple and decline."""
    out = []
    for ast, alias in leaves:
        fn = (ast.get("function_name") or "").lower()
        if ast.get("filter") or ast.get("distinct"):
            raise SQLFrontError(
                "FILTER/DISTINCT aggregate with residual correlation"
            )
        ch = ast.get("children") or []
        if fn == "count" and not ch:
            fn = "count_star"
        if fn == "count_star":
            out.append([fn, None, alias])
        elif fn in ("count", "sum", "min", "max", "avg") and len(ch) == 1:
            out.append([fn, arg(ch[0]), alias])
        else:
            raise SQLFrontError(f"aggregate {fn} with residual correlation")
    return out


def _corr_pair(node: dict, scope: _SubqScope) -> tuple[str, str] | None:
    """``inner_col = outer_col`` equi-correlation conjunct -> (inner, outer)
    bare names; None for anything else (both-inner comparisons are ordinary
    filters, both-outer / non-equi shapes classify elsewhere)."""
    if node.get("class") != "COMPARISON" or node.get("type") != "COMPARE_EQUAL":
        return None
    left, right = node.get("left") or {}, node.get("right") or {}
    if left.get("class") != "COLUMN_REF" or right.get("class") != "COLUMN_REF":
        return None
    ls, rs = scope.side(left), scope.side(right)
    lc, rc = left["column_names"][-1], right["column_names"][-1]
    if ls == "inner" and rs == "outer":
        return lc, rc
    if rs == "inner" and ls == "outer":
        return rc, lc
    return None


def _check_outer_child(child: dict, outer_quals: set) -> None:
    """The quantified comparison's left side lives in the OUTER scope:
    any qualifier it carries must name an outer table/alias."""
    for ref in _refs_of(child):
        names = ref.get("column_names") or []
        if len(names) >= 2 and names[-2].lower() not in outer_quals:
            raise SQLFrontError(
                f"unknown qualifier {names[-2]!r} on subquery comparison"
            )


def _parse_in_arm(
    s: dict,
    neg: bool,
    guard_idx: int,
    corr_idx: int,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
    outer_quals: set,
    or_tag: str | None = None,
) -> tuple["ir.SemiJoinArm | ir.CorrScalarCond",
           "ir.GuardCond | ir.CorrScalarCond | None"]:
    """``x [NOT] IN (SELECT key ...)`` -> semi/anti arm. Uncorrelated
    NOT IN additionally emits a GuardCond carrying its three-valued NULL
    semantics (one NULL inner key empties the result; a NULL x passes
    only against an EMPTY set). Correlated IN rides the EXISTS machinery:
    the IN equality is one more equi-correlation conjunct (exact — IN's
    NULL-key non-matches are precisely equi-join non-matches). Correlated
    NOT IN composes a multi-pair anti arm (correlation pairs + the key
    equality) with the PER-GROUP guard analog (CorrScalarCond in guard
    form: counts per correlation key, LEFT-joined so a missing group
    behaves as the empty set).

    ``or_tag`` (an OR-composed atom): a correlated form that would carry a
    residual returns the row-grain IN bundle (:func:`_in_bundle`, tagged
    ``__ca{or_tag}_*``) in place of the arm.

    Row-value IN (``(a, b) IN (SELECT x, y ...)``, arriving as a row()
    child) becomes a multi-pair arm; row-value NOT IN declines (its
    three-valued logic is per-COMPONENT — a row comparison is NULL when
    any pair is NULL and none is definitely unequal, which the global
    count guard cannot encode), and so does a residual-carrying row-value
    IN under OR (the bundle models a scalar lhs only).

    Only reached for comparison_type COMPARE_EQUAL (the _parse_semijoin
    dispatch routes other comparisons to _parse_quantified_guard)."""
    child = s.get("child") or {}
    row_children = None
    if (
        child.get("class") == "FUNCTION"
        and (child.get("function_name") or "").lower() == "row"
    ):
        if neg:
            raise SQLFrontError(
                "row-value NOT IN (per-component NULL semantics)"
            )
        row_children = child.get("children") or []
        if not row_children or any(
            c.get("class") != "COLUMN_REF" for c in row_children
        ):
            raise SQLFrontError(
                "row-value IN components must be plain columns"
            )
        _check_outer_child(child, outer_quals)
        arm = _parse_row_in_arm(
            s, row_children, time_col, fact_table, star, outer_quals
        )
        if or_tag is not None and arm[0].residual_sql:
            raise SQLFrontError("row-value IN with a residual under OR")
        return arm
    if child.get("class") != "COLUMN_REF":
        raise SQLFrontError("IN (subquery) left side must be a plain column")
    _check_outer_child(child, outer_quals)
    outer_key = child["column_names"][-1]
    inner_node = (s.get("subquery") or {}).get("node") or {}
    if inner_node.get("type") != "SELECT_NODE":
        raise SQLFrontError("set-operation subquery in WHERE")
    sel = inner_node.get("select_list") or []
    if len(sel) != 1:
        raise SQLFrontError("IN subquery must select exactly one column")
    tables, pairs, inner_cols, scope = _subquery_scope(
        inner_node, fact_table, star, outer_quals
    )
    is_col = sel[0].get("class") == "COLUMN_REF"
    if is_col:
        if scope.side(sel[0]) != "inner":
            raise SQLFrontError("IN subquery selects an outer column")
        inner_key = sel[0]["column_names"][-1]
        key_items = None
    else:
        # expression key (round 8 cont.): rendered + aliased on the key
        # set; the guard's counts run over the same expression
        # (aggregates/windows in the item already declined by
        # _subquery_scope above)
        render(sel[0])  # raises on unsupported expressions
        for ref in _refs_of(sel[0]):
            if scope.side(ref) != "inner":
                raise SQLFrontError("IN subquery selects an outer column")
        inner_key = "__k0"
        item0 = dict(sel[0])
        item0["alias"] = ""
        key_items = [(item0, "__k0")]
    wc = inner_node.get("where_clause")
    if inner_cols is None and star is not None and len(star.tables) > 1:
        raise SQLFrontError(
            "star carries no column lists: cannot verify the subquery "
            "is uncorrelated"
        )
    # star is None or fact-only: a single-table scope has no outer names
    # to capture — every unqualified name is inner by SQL scoping
    correlated = wc is not None and scope.has_outer(wc)
    if correlated:
        split = _split_corr_conjuncts_res(
            wc, scope, "NOT IN" if neg else "IN", star, lhs_cols=[outer_key]
        )
        corr_inner, corr_outer, rest, residuals = split
        if or_tag is not None and (residuals or not (neg or is_col)):
            # under OR (round 11 late) a residual-carrying arm's key set
            # can hold several rows per key, so no marker join: the
            # row-grain IN bundle with the scan as the frame (a positive
            # expression key's equality is itself a residual)
            if not neg and is_col:
                # positive IN: the IN equality is an exact equi anchor
                # (a NULL key never matches = non-membership), so the
                # bundle hash-joins on it instead of paying the theta
                # proof; the counted item leaf stays (redundant within
                # the keyed group, still exact)
                split = (corr_inner + [inner_key], corr_outer + [outer_key],
                         rest, residuals)
            return _in_bundle(
                dict(sel[0]), neg, render(child), or_tag,
                inner_node, scope, tables, pairs, split,
                time_col, fact_table, star,
                lhs_frame_cols=sorted(_columns_of(child)),
            ), None
        if neg:
            if residuals:
                # round 11: NOT IN with a non-equi residual is exactly
                # NOT(x = ANY(residual-filtered set)) — the quantified
                # residual ANTI arm, whose `(x = item) IS NOT FALSE`
                # condition carries the full three-valued logic (a NULL
                # member or NULL x matches -> excludes; the empty matched
                # set keeps the row), so no count guard is needed
                return _quantified_residual_arm(
                    "NOT IN", {"comparison_type": "COMPARE_EQUAL"}, True,
                    dict(sel[0]), render(child), set(_columns_of(child)),
                    inner_node, scope, tables, pairs, split,
                    time_col, fact_table, star,
                ), None
            x_sql = render(child)
            key_node = _colref(inner_key) if is_col else dict(key_items[0][0])
            kset_keys = list(
                dict.fromkeys(corr_inner + ([inner_key] if is_col else []))
            )
            keyset = _build_inner_keyset(
                inner_node,
                kset_keys,
                tables,
                pairs,
                _and_node(rest),
                time_col,
                fact_table,
                star,
                key_items=key_items,
            )
            arm = ir.SemiJoinArm(
                inner=keyset,
                outer_keys=corr_outer + [outer_key],
                inner_keys=corr_inner + [inner_key],
                anti=True,
            )
            gkeys = list(dict.fromkeys(corr_inner))
            aliases = [f"__ca{corr_idx}_0", f"__ca{corr_idx}_1"]
            a0, a1 = f"`{aliases[0]}`", f"`{aliases[1]}`"
            ginner = _build_inner_aggs(
                inner_node,
                [
                    (_fn_node("count_star"), aliases[0]),
                    (_fn_node("count", key_node), aliases[1]),
                ],
                gkeys,
                tables,
                pairs,
                _and_node(rest),
                time_col,
                fact_table,
                star,
            )
            guard = ir.CorrScalarCond(
                inner=ginner,
                inner_keys=gkeys,
                pairs=[[o, i] for i, o in zip(corr_inner, corr_outer)],
                leaf_cols=aliases,
                cond_sql=(
                    f"(coalesce({a0}, 0) = coalesce({a1}, 0)"
                    f" AND (({x_sql}) IS NOT NULL"
                    f" OR coalesce({a0}, 0) = 0))"
                ),
                outer_columns=sorted(_columns_of(child)),
                left_join=True,
            )
            return arm, guard
        # x IN (SELECT y FROM t WHERE P) == EXISTS (SELECT 1 FROM t WHERE
        # y = x AND P) exactly (WHERE context: FALSE and NULL both drop;
        # NULL keys never match either form). The synthetic equality's
        # outer side carries the reserved __outer__ qualifier so a child
        # whose bare name collides with an inner column cannot be misread
        # as an inner-only filter (which would compile y = y).
        marked_child = {
            "class": "COLUMN_REF",
            "type": "COLUMN_REF",
            "alias": "",
            "column_names": ["__outer__", outer_key],
        }
        synth = {
            "class": "COMPARISON",
            "type": "COMPARE_EQUAL",
            "alias": "",
            # an expression key makes the synthetic equality a non-equi
            # residual (no COLUMN_REF pair); it accelerates when another
            # equi-correlation conjunct exists, declines honestly otherwise
            "left": _colref(inner_key) if is_col else dict(key_items[0][0]),
            "right": marked_child,
        }
        node2 = dict(inner_node)
        node2["where_clause"] = _and_node(_conjuncts(wc) + [synth])
        return (
            _parse_exists_arm(
                {"subquery": {"node": node2}},
                False,
                time_col,
                fact_table,
                star,
                outer_quals,
            ),
            None,
        )
    inner = _build_inner_keyset(
        inner_node,
        [inner_key] if is_col else [],
        tables,
        pairs,
        wc,
        time_col,
        fact_table,
        star,
        key_items=key_items,
    )
    arm = ir.SemiJoinArm(
        inner=inner, outer_keys=[outer_key], inner_keys=[inner_key], anti=neg
    )
    if not neg:
        return arm, None
    # NOT IN (uncorrelated): the anti join handles the match test; the
    # guard encodes ANSI three-valued semantics — one NULL inner key
    # empties the result, and a NULL x survives only against an EMPTY set
    # (x NOT IN () is TRUE even for NULL x). The guard aggregates the
    # ARM's distinct key set (GuardCond.over_arm — set by the caller once
    # the arm's index is known) rather than re-scanning the inner table:
    # over the distinct set, count(*) = count(key) still decides "contains
    # NULL" and count(*) = 0 still decides "empty", and sharing the arm's
    # subplan lets ReuseExchange serve both from ONE inner scan.
    x_sql = render(child)
    g0, g1 = f"`__g{guard_idx}_0`", f"`__g{guard_idx}_1`"
    guard = ir.GuardCond(
        inner=None,
        inner_cols=[f"__g{guard_idx}_0", f"__g{guard_idx}_1"],
        cond_sql=f"({g0} = {g1} AND (({x_sql}) IS NOT NULL OR {g0} = 0))",
        outer_columns=sorted(_columns_of(child)),
        arm_aggs=[
            ("count(*)", f"__g{guard_idx}_0"),
            (f"count(`{inner_key}`)", f"__g{guard_idx}_1"),
        ],
    )
    return arm, guard


def _parse_row_in_arm(
    s: dict,
    row_children: list[dict],
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
    outer_quals: set,
) -> tuple[ir.SemiJoinArm, None]:
    """Row-value IN: each (outer component, inner select item) pair is
    one equi condition of a single multi-pair semi arm; correlated forms
    ride the EXISTS machinery with one synthetic equality per pair (all
    components equal == row equality for matching purposes; a NULL in
    any component never matches either way — exact in WHERE context)."""
    outer_keys = [c["column_names"][-1] for c in row_children]
    inner_node = (s.get("subquery") or {}).get("node") or {}
    if inner_node.get("type") != "SELECT_NODE":
        raise SQLFrontError("set-operation subquery in WHERE")
    sel = inner_node.get("select_list") or []
    if len(sel) != len(row_children):
        raise SQLFrontError("row-value IN arity mismatch")
    tables, pairs, inner_cols, scope = _subquery_scope(
        inner_node, fact_table, star, outer_quals
    )
    inner_keys: list[str] = []
    for it in sel:
        if it.get("class") != "COLUMN_REF" or scope.side(it) != "inner":
            raise SQLFrontError(
                "row-value IN subquery items must be plain inner columns"
            )
        inner_keys.append(it["column_names"][-1])
    wc = inner_node.get("where_clause")
    if inner_cols is None and star is not None and len(star.tables) > 1:
        raise SQLFrontError(
            "star carries no column lists: cannot verify the subquery "
            "is uncorrelated"
        )
    if wc is not None and scope.has_outer(wc):
        synths = [
            {
                "class": "COMPARISON",
                "type": "COMPARE_EQUAL",
                "alias": "",
                "left": _colref(ik),
                "right": {
                    "class": "COLUMN_REF",
                    "type": "COLUMN_REF",
                    "alias": "",
                    "column_names": ["__outer__", ok],
                },
            }
            for ik, ok in zip(inner_keys, outer_keys)
        ]
        node2 = dict(inner_node)
        node2["where_clause"] = _and_node(_conjuncts(wc) + synths)
        return (
            _parse_exists_arm(
                {"subquery": {"node": node2}},
                False,
                time_col,
                fact_table,
                star,
                outer_quals,
            ),
            None,
        )
    inner = _build_inner_keyset(
        inner_node,
        list(dict.fromkeys(inner_keys)),
        tables,
        pairs,
        wc,
        time_col,
        fact_table,
        star,
    )
    return (
        ir.SemiJoinArm(
            inner=inner,
            outer_keys=outer_keys,
            inner_keys=inner_keys,
            anti=False,
        ),
        None,
    )


# positive ANY: `x <op> ANY(S)` in WHERE context reduces to a comparison
# against min/max of the set (FALSE and NULL both drop rows, so the
# empty-set / NULL-member cases coincide with the NULL aggregate)
_QUANT_POS = {
    "COMPARE_GREATERTHAN": (">", "min"),
    "COMPARE_GREATERTHANOREQUALTO": (">=", "min"),
    "COMPARE_LESSTHAN": ("<", "max"),
    "COMPARE_LESSTHANOREQUALTO": ("<=", "max"),
}
# negated ANY (DuckDB rewrites `x <op> ALL(S)` to NOT(x <op'> ANY(S))):
# the complement comparison against max/min, guarded by the exact
# empty-set (keep everything) and NULL-member (drop everything) cases
_QUANT_NEG = {
    "COMPARE_LESSTHANOREQUALTO": (">", "max"),
    "COMPARE_LESSTHAN": (">=", "max"),
    "COMPARE_GREATERTHANOREQUALTO": ("<", "min"),
    "COMPARE_GREATERTHAN": ("<=", "min"),
}


def _quant_bundle(
    cmp: str, neg: bool, x_sql: str, item: dict, prefix: str
) -> tuple[list, list, str]:
    """Uncorrelated quantified-comparison aggregate bundle: ([(agg_node,
    alias)], aliases, cond_sql) encoding the exact ANSI three-valued
    semantics of ``[NOT] x <op> ANY (SELECT item ...)``. Shared by the
    WHERE-side GuardCond (prefix ``__g{idx}``) and the round-9 HAVING
    frame (prefix ``__hg{j}``) — the condition is pure SQL over the
    aliases + ``x_sql``, so it filters any frame those columns join."""
    g = [f"`{prefix}_{i}`" for i in range(4)]
    if not neg:
        if cmp in _QUANT_POS:
            op, mm = _QUANT_POS[cmp]
            items = [_fn_node(mm, item)]
            cond = f"(({x_sql}) {op} {g[0]})"
        elif cmp == "COMPARE_NOTEQUAL":
            # x <> ANY(S): some non-null member differs from x — i.e. the
            # set has >= 2 distinct non-null values, or its single value
            # differs; NULL x never passes (every comparison is NULL)
            items = [
                _fn_node("count", dict(item)),
                _fn_node("min", dict(item)),
                _fn_node("max", dict(item)),
            ]
            cond = (
                f"(({x_sql}) IS NOT NULL AND {g[0]} > 0"
                f" AND ({g[1]} <> {g[2]} OR ({x_sql}) <> {g[1]}))"
            )
        else:
            raise SQLFrontError(f"quantified subquery comparison {cmp}")
    else:
        if cmp in _QUANT_NEG:
            op, mm = _QUANT_NEG[cmp]
            items = [
                _fn_node("count_star"),
                _fn_node("count", dict(item)),
                _fn_node(mm, item),
            ]
            # empty set: ALL is vacuously TRUE (even for NULL x); any
            # NULL member: nothing passes; else the complement comparison
            cond = (
                f"({g[0]} = {g[1]}"
                f" AND (({x_sql}) {op} {g[2]} OR {g[0]} = 0))"
            )
        elif cmp == "COMPARE_NOTEQUAL":
            # x = ALL(S): empty set passes everything; else no NULL
            # member, a single distinct value, and x equals it
            items = [
                _fn_node("count_star"),
                _fn_node("count", dict(item)),
                _fn_node("min", dict(item)),
                _fn_node("max", dict(item)),
            ]
            cond = (
                f"({g[0]} = 0 OR ({g[0]} = {g[1]}"
                f" AND {g[2]} = {g[3]} AND ({x_sql}) = {g[2]}))"
            )
        else:
            raise SQLFrontError(f"quantified subquery comparison {cmp}")
    aliases = [f"{prefix}_{i}" for i in range(len(items))]
    return list(zip(items, aliases)), aliases, cond


def _quantified_residual_arm(
    what: str,
    s: dict,
    neg: bool,
    item: dict,
    x_sql: str,
    x_cols: set,
    inner_node: dict,
    scope: _SubqScope,
    tables: list[str],
    pairs: list[tuple[str, str]],
    split: tuple,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
) -> ir.SemiJoinArm:
    """WHERE-side quantified comparison with NON-EQUI residual conjuncts
    (round 11) -> an EXISTS-style semi/anti arm with the comparison
    folded into the join condition:

    - ``x <op> ANY (… equi AND residual)`` is EXISTS(row: equi AND
      residual AND x <op> item) — a SEMI arm; a NULL comparison never
      matches, exactly ANY's UNKNOWN-is-not-TRUE filter semantics.
    - ``NOT (x <op> ANY …)`` (the ALL family) is TRUE iff EVERY matched
      comparison is FALSE — an ANTI arm whose condition matches rows
      where the comparison IS NOT FALSE (TRUE or UNKNOWN): any such row
      excludes the outer row, the empty matched set keeps it, and a NULL
      member or NULL x correctly drops it (the ANSI UNKNOWN).

    The row set joins on the equi pairs (hash join) and the item/residual
    inner columns ride the key set under reserved __sjr_* aliases, exactly
    like round 8's non-equi EXISTS residuals. Residual-only (round 11,
    late — the EXISTS theta analog): no equi anchor, so the arm joins on
    the residual + comparison alone — acceptable only as a broadcast
    nested loop over a provably tiny dimension inner; the server's
    row-cap probe is the proof (ir.SemiJoinArm.broadcast_theta)."""
    corr_inner, corr_outer, rest, residuals = split
    if not corr_inner:
        _require_single_dim_inner(what, tables, pairs, fact_table)
    extra_map: dict[str, str] = {}

    def rename(ref: dict) -> str:
        if scope.side(ref) == "outer":
            return ref["column_names"][-1]
        col = ref["column_names"][-1]
        if col not in extra_map:
            extra_map[col] = f"__sjr_{len(extra_map)}"
        return extra_map[col]

    residual_parts = [
        render(_rewrite_inner_refs(c, rename)) for c in residuals
    ]
    item_sql = render(_rewrite_inner_refs(dict(item), rename))
    op = _CMP[s.get("comparison_type")]
    cmp_sql = f"(({x_sql}) {op} ({item_sql}))"
    if neg:
        cmp_sql = f"({cmp_sql} IS NOT FALSE)"
    residual_parts.append(cmp_sql)
    inner = _build_inner_keyset(
        inner_node, corr_inner, tables, pairs, _and_node(rest),
        time_col, fact_table, star,
        extra=[(col, alias) for col, alias in extra_map.items()],
    )
    return ir.SemiJoinArm(
        inner=inner,
        outer_keys=list(corr_outer),
        inner_keys=list(corr_inner),
        anti=neg,
        residual_sql=" AND ".join(f"({p})" for p in residual_parts),
        residual_outer_cols=sorted(scope.outer_names(residuals) | x_cols),
        broadcast_theta=not corr_inner,
    )


def _parse_quantified_guard(
    s: dict,
    neg: bool,
    idx: int,
    cidx: int,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
    outer_quals: set,
    allow_arm: bool = False,
    frame_col=None,
) -> "ir.GuardCond | ir.CorrScalarCond | ir.SemiJoinArm":
    """Non-equal quantified comparison ``[NOT] x <op> ANY (SELECT item
    ...)`` (the ALL quantifiers arrive as NOT + the complement op) ->
    GuardCond: a 1-row aggregate bundle over the subquery broadcast-cross-
    joins the scan and a condition encoding the exact ANSI three-valued
    semantics filters rows. Equi-correlated forms return the per-group
    analog instead (CorrScalarCond in guard form — the aggregate bundle
    computes per correlation key and joins; COALESCE(count, 0) makes
    missing groups behave as empty sets). With ``allow_arm`` (standalone
    conjuncts only — marker/OR composition can't carry residual arms),
    correlated forms with NON-EQUI residual conjuncts return an
    EXISTS-style semi/anti arm instead (round 11,
    :func:`_quantified_residual_arm`)."""
    child = s.get("child") or {}
    _check_outer_child(child, outer_quals)
    x_sql = render(child)  # raises on unsupported expressions
    inner_node = (s.get("subquery") or {}).get("node") or {}
    if inner_node.get("type") != "SELECT_NODE":
        raise SQLFrontError("set-operation subquery in WHERE")
    sel = inner_node.get("select_list") or []
    if len(sel) != 1:
        raise SQLFrontError("quantified subquery must select one item")
    tables, pairs, inner_cols, scope = _subquery_scope(
        inner_node, fact_table, star, outer_quals
    )
    item = dict(sel[0])
    item["alias"] = ""
    for ref in _refs_of(item):
        if scope.side(ref) != "inner":
            raise SQLFrontError("quantified subquery selects an outer column")
    if inner_cols is None and star is not None and len(star.tables) > 1:
        raise SQLFrontError(
            "star carries no column lists: cannot verify the subquery "
            "is uncorrelated"
        )
    wc = inner_node.get("where_clause")
    if wc is not None and scope.has_outer(wc):
        split = _split_corr_conjuncts_res(wc, scope, "quantified", star)
        if split[3] and allow_arm:
            # round 11: the residual means per-key bundles cannot
            # precompute; standalone conjuncts rewrite to an EXISTS-style
            # arm with the comparison in the join condition
            return _quantified_residual_arm(
                "quantified comparison", s, neg, item, x_sql,
                set(_columns_of(child)), inner_node, scope, tables, pairs,
                split, time_col, fact_table, star,
            )
        # frame_col (round 11 late): the OR path passes the identity so
        # residual (and residual-only) correlation rides the row-grain
        # bundle with the scan as the frame
        return _parse_corr_quantified(
            s, neg, cidx, item, x_sql, scope, tables, pairs, split,
            time_col, fact_table, star, frame_col=frame_col,
        )
    cmp = s.get("comparison_type")
    pairs_items, aliases, cond = _quant_bundle(cmp, neg, x_sql, item, f"__g{idx}")
    items = [n for n, _ in pairs_items]
    inner = _build_inner_aggs(
        inner_node,
        list(zip(items, aliases)),
        [],
        tables,
        pairs,
        wc,
        time_col,
        fact_table,
        star,
    )
    return ir.GuardCond(
        inner=inner,
        inner_cols=aliases,
        cond_sql=cond,
        outer_columns=sorted(_columns_of(child)),
    )


def _parse_corr_quantified(
    s: dict,
    neg: bool,
    cidx,
    item: dict,
    x_sql: str,
    scope: _SubqScope,
    tables: list[str],
    pairs: list[tuple[str, str]],
    split: tuple,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
    frame_col=None,
) -> "ir.CorrScalarCond":
    """Equi-correlated quantified comparison -> per-group guard
    (CorrScalarCond): the aggregate bundle computes per correlation key
    and equi-joins the scan. A missing group IS the empty set — the ALL
    family must still pass such rows, so its conditions COALESCE the
    counts through a LEFT join; the ANY family drops them (inner join,
    matching ANSI FALSE). Spark cannot express these shapes at all (no
    ALL parse; correlated ANY only via EXISTS rewrites), so this is
    engine surface beyond the fallback.

    ``frame_col`` (HAVING: the frame's output aliases; OR: the identity)
    binds the outer correlation columns and enables the round-11 NON-EQUI
    residual mode: the compared item's count_star/count/min/max leaves
    recompute in the row-grain bundle (:func:`_residual_bundle`). The
    standalone WHERE conjunct took the EXISTS-style arm for residuals
    (:func:`_quantified_residual_arm`), so it never reaches that mode."""
    inner_node = (s.get("subquery") or {}).get("node") or {}
    corr_inner, corr_outer, rest, residuals = split
    cmp = s.get("comparison_type")
    a = [f"`__ca{cidx}_{i}`" for i in range(4)]
    cond = None
    value_sql = None
    op = "="
    left_join = False
    if not neg:
        if cmp in _QUANT_POS:
            # x <op> ANY(group): comparison vs the group's min/max; a
            # missing/empty group is FALSE (inner join drops), NULL
            # members are ignored by min/max exactly as ANSI ignores them
            op, mm = _QUANT_POS[cmp]
            items = [_fn_node(mm, item)]
            value_sql = a[0]
        elif cmp == "COMPARE_NOTEQUAL":
            items = [
                _fn_node("count", dict(item)),
                _fn_node("min", dict(item)),
                _fn_node("max", dict(item)),
            ]
            cond = (
                f"(({x_sql}) IS NOT NULL AND {a[0]} > 0"
                f" AND ({a[1]} <> {a[2]} OR ({x_sql}) <> {a[1]}))"
            )
        else:
            raise SQLFrontError(f"quantified subquery comparison {cmp}")
    else:
        if cmp in _QUANT_NEG:
            op2, mm = _QUANT_NEG[cmp]
            items = [
                _fn_node("count_star"),
                _fn_node("count", dict(item)),
                _fn_node(mm, item),
            ]
            cond = (
                f"(coalesce({a[0]}, 0) = coalesce({a[1]}, 0)"
                f" AND (({x_sql}) {op2} {a[2]}"
                f" OR coalesce({a[0]}, 0) = 0))"
            )
            left_join = True
        elif cmp == "COMPARE_NOTEQUAL":
            items = [
                _fn_node("count_star"),
                _fn_node("count", dict(item)),
                _fn_node("min", dict(item)),
                _fn_node("max", dict(item)),
            ]
            cond = (
                f"(coalesce({a[0]}, 0) = 0 OR ({a[0]} = {a[1]}"
                f" AND {a[2]} = {a[3]} AND ({x_sql}) = {a[2]}))"
            )
            left_join = True
        else:
            raise SQLFrontError(f"quantified subquery comparison {cmp}")
    aliases = [f"__ca{cidx}_{i}" for i in range(len(items))]
    fields = dict(
        value_sql=value_sql or "",
        op=op,
        outer_sql=x_sql,
        outer_columns=sorted(set(_columns_of(s.get("child") or {}))),
        flip=False,
        left_join=left_join,
        cond_sql=cond or "",
    )
    frame_col = frame_col or (lambda name: name)
    if residuals:

        def leaves(arg):
            # the compared item evaluates inside the bundle aggregation
            # (the row-grain select carries only PLAIN columns)
            val_sql = arg(item)
            return [
                [n["function_name"], val_sql if n["children"] else None, al]
                for n, al in zip(items, aliases)
            ]

        return _residual_bundle(
            "quantified comparison", cidx, leaves, inner_node, scope,
            tables, pairs, split, time_col, fact_table, star,
            frame_col=frame_col, **fields,
        )
    keys = list(dict.fromkeys(corr_inner))
    inner = _build_inner_aggs(
        inner_node,
        list(zip(items, aliases)),
        keys,
        tables,
        pairs,
        _and_node(rest),
        time_col,
        fact_table,
        star,
    )
    return ir.CorrScalarCond(
        inner=inner,
        inner_keys=keys,
        pairs=[[frame_col(o), i] for i, o in zip(corr_inner, corr_outer)],
        leaf_cols=aliases,
        **fields,
    )


def _require_single_dim_inner(
    what: str,
    tables: list,
    pairs: list,
    fact_table: str | None,
) -> None:
    """Residual-only (theta) gate, shared by every anchor-free form:
    only a single NON-fact base table can be proven tiny (proving a
    filtered fact tiny would itself cost a fact scan, and an unproven
    theta join is never acceptable at scale)."""
    fact_grain = bool(fact_table) and fact_table.lower() in tables
    if fact_grain or pairs or len(tables) != 1:
        raise SQLFrontError(
            f"residual-only {what} needs a single dimension-table inner"
        )


def _theta_rows_inner(
    table: str, rest: list, inner_alias: dict, keys: list | None = None
):
    """Row-grain dim inner for a residual bundle (distinct=False —
    SUM/AVG/COUNT multiplicity is semantics). ``keys`` carries the
    correlation columns for ANCHORED dim inners (the theta form has
    none)."""
    filt = None
    if rest:
        filt = ir.and_(*[_to_filter(c) for c in rest])
    return ir.BaseKeysQuery(
        table=table,
        keys=list(keys or []),
        filter=filt,
        extra=[[s, a] for s, a in inner_alias.items()],
        distinct=False,
    )


def _residual_rows_inner(
    what: str,
    inner_node: dict,
    keys: list,
    inner_alias: dict,
    tables: list,
    pairs: list,
    rest: list,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
) -> "ir.QuerySpec":
    """The row-grain inner of the residual bundle — called only by
    :func:`_residual_bundle`, the one builder behind every row-grain
    bundle (HAVING EXISTS / [NOT] IN / quantified, the select-list and
    WHERE scalars, the OR-composed EXISTS / [NOT] IN / quantified atoms):

    - no correlation keys (theta): single tiny dim, proof-gated at
      lowering (``_require_single_dim_inner`` + broadcast probe);
    - anchored single NON-fact dim: row-grain base-table read
      (BaseKeysQuery distinct=False) — no proof needed, the bundle
      joins on the equi pairs (previously declined through
      _build_inner_rows's fact gate);
    - fact-bearing inner: re-enters the planner (_build_inner_rows)."""
    fact_grain = bool(fact_table) and fact_table.lower() in tables
    if not keys:
        _require_single_dim_inner(what, tables, pairs, fact_table)
        return _theta_rows_inner(tables[0], rest, inner_alias)
    if not fact_grain and not pairs and len(tables) == 1:
        return _theta_rows_inner(tables[0], rest, inner_alias, keys=keys)
    return _build_inner_rows(
        inner_node, keys,
        [(_colref(src), a) for src, a in inner_alias.items()],
        tables, pairs, _and_node(rest), time_col, fact_table, star,
    )


def _parse_exists_arm(
    s: dict,
    neg: bool,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
    outer_quals: set,
    or_tag: str | None = None,
) -> "ir.SemiJoinArm | ir.CorrScalarCond":
    """``[NOT] EXISTS (...)`` -> semi/anti arm on the equi-correlation
    pairs; inner-only conjuncts stay with the key-set filter. A MIXED-scope
    non-equi conjunct (round 8) becomes part of the join CONDITION, with
    inner refs rebased onto the __sjr_* aliases the inner spec exposes and
    outer refs read bare off the scan. ``or_tag`` (an OR-composed atom):
    a residual-carrying EXISTS returns the row-grain count bundle
    (:func:`_exists_bundle`, scan as the frame) in place of the arm — its
    key set can hold several rows per key, so no marker join."""
    inner_node = (s.get("subquery") or {}).get("node") or {}
    if inner_node.get("type") != "SELECT_NODE":
        raise SQLFrontError("set-operation subquery in WHERE")
    tables, pairs, inner_cols, scope = _subquery_scope(
        inner_node, fact_table, star, outer_quals
    )
    if inner_cols is None:
        raise SQLFrontError(
            "EXISTS needs star column lists to resolve correlation"
        )
    split = _split_corr_conjuncts_res(
        inner_node.get("where_clause"), scope, "EXISTS", star
    )
    corr_inner, corr_outer, rest, residuals = split
    if residuals and or_tag is not None:
        return _exists_bundle(
            neg, or_tag, inner_node, scope, tables, pairs, split,
            time_col, fact_table, star,
        )
    if not corr_inner:
        # residual-only correlation (round 11): no equi anchor — the join
        # condition is pure theta. A theta join over an arbitrary inner is
        # never acceptable at scale (unbounded per-row fan-out), but a
        # PROVABLY TINY inner serves honestly as a broadcast nested loop:
        # the fact side streams, the broadcast side is a handful of dim
        # rows, and per-outer-row work is bounded by the row cap the
        # server enforces at lowering (OlapContext.theta_inner_max_rows —
        # past it the decline surfaces and the spark.sql fallback stays
        # correct). Only a single NON-fact base table qualifies: proving
        # a filtered fact tiny would itself cost a fact scan.
        _require_single_dim_inner("EXISTS", tables, pairs, fact_table)
    extra_map: dict[str, str] = {}  # inner col -> reserved __sjr_* alias

    def rename(ref: dict) -> str:
        if scope.side(ref) == "outer":
            # outer-scoped: bare name resolves against the scan
            return ref["column_names"][-1]
        col = ref["column_names"][-1]
        if col not in extra_map:
            extra_map[col] = f"__sjr_{len(extra_map)}"
        return extra_map[col]

    residual_parts = [
        render(_rewrite_inner_refs(c, rename)) for c in residuals
    ]
    # EXISTS ignores the select list entirely (SELECT 1 / * / anything)
    inner = _build_inner_keyset(
        inner_node,
        corr_inner,
        tables,
        pairs,
        _and_node(rest),
        time_col,
        fact_table,
        star,
        extra=[(col, alias) for col, alias in extra_map.items()],
    )
    return ir.SemiJoinArm(
        inner=inner,
        outer_keys=corr_outer,
        inner_keys=corr_inner,
        anti=neg,
        residual_sql=" AND ".join(f"({p})" for p in residual_parts),
        residual_outer_cols=sorted(scope.outer_names(residuals)),
        broadcast_theta=not corr_inner,
    )


def _star_columns(star: StarSchema | None):
    """All resolvable star column names, or None when unknowable."""
    if star is not None and star.table_columns:
        return {
            c for cols in star.table_columns.values() for c in cols
        }
    return None


def _parse_scalar_cond(
    c: dict,
    idx: int,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
    outer_quals: set,
) -> "ir.ScalarCond | ir.CorrScalarCond":
    """`expr <op> (SELECT agg FROM ...)` -> ir.ScalarCond. The inner must
    be a single UNGROUPED aggregate (exactly one output row, ANSI — so the
    lazy broadcast cross-join is semantics-preserving; a NULL scalar makes
    the comparison NULL = row dropped, also ANSI).

    Equi-correlated scalars (TPC-H Q17's per-group form) decorrelate to
    ir.CorrScalarCond: the classical GROUP BY over the correlation keys +
    equi join. Non-equi correlation and outer references inside aggregate
    arguments decline (a per-row aggregate, not a per-group one)."""
    left, right = c.get("left") or {}, c.get("right") or {}
    flip = left.get("class") == "SUBQUERY"
    s, other = (left, right) if flip else (right, left)
    if s.get("subquery_type") != "SCALAR":
        raise SQLFrontError(
            f"unsupported subquery type {s.get('subquery_type')}"
        )
    if _contains_subquery(other):
        raise SQLFrontError("two subqueries in one comparison")
    _check_outer_child(other, outer_quals)
    op = _CMP.get(c.get("type"))
    if op is None:
        raise SQLFrontError(f"unsupported comparison {c.get('type')}")
    inner_node = (s.get("subquery") or {}).get("node") or {}
    if inner_node.get("type") != "SELECT_NODE":
        raise SQLFrontError("set-operation subquery in WHERE")
    sel = inner_node.get("select_list") or []
    if len(sel) != 1 or not _contains_agg(sel[0]):
        raise SQLFrontError(
            "scalar subquery must be a single ungrouped aggregate"
        )
    tables, pairs, inner_cols, scope = _subquery_scope(
        inner_node, fact_table, star, outer_quals, allow_agg=True
    )
    wc = inner_node.get("where_clause")
    if inner_cols is None and star is not None and len(star.tables) > 1:
        raise SQLFrontError(
            "star carries no column lists: cannot verify the subquery "
            "is uncorrelated"
        )
    correlated = scope.has_outer(sel[0]) or (
        wc is not None and scope.has_outer(wc)
    )
    outer_sql = render(other)  # raises SQLFrontError on unsupported exprs
    ocols = sorted(_columns_of(other))
    all_cols = _star_columns(star)
    if all_cols is not None:
        bad = sorted(set(ocols) - all_cols)
        if bad:
            raise SQLFrontError(
                f"scalar comparison references unknown columns {bad}"
            )
    if correlated:
        if inner_cols is None:
            raise SQLFrontError(
                "correlated scalar needs star column lists"
            )
        return _parse_corr_scalar(
            s,
            other,
            op,
            flip,
            idx,
            scope,
            tables,
            pairs,
            time_col,
            fact_table,
            star,
        )
    inner = _uncorr_scalar_inner(
        inner_node, sel[0], tables, pairs, wc, time_col, fact_table, star
    )
    return ir.ScalarCond(
        inner=inner,
        inner_col="__scalar",
        op=op,
        outer_sql=outer_sql,
        outer_columns=ocols,
        flip=flip,
    )


def _uncorr_scalar_inner(
    inner_node: dict,
    sel_item: dict,
    tables: list[str],
    pairs: list[tuple[str, str]],
    wc: dict | None,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
) -> ir.QuerySpec:
    """The 1-row inner of an uncorrelated scalar subquery, output column
    ``__scalar`` (fact grain re-enters the planner — filtered MAX/AVG etc.
    often ride a cube; dim grain aggregates the base table)."""
    fact_grain = bool(fact_table) and fact_table.lower() in tables
    if fact_grain:
        if pairs:
            if star is None or not star.is_star_join(set(pairs)):
                raise SQLFrontError("subquery join is not a star join")
        item = dict(sel_item)
        item["alias"] = "__scalar"
        node2 = dict(inner_node)
        node2["select_list"] = [item]
        node2["modifiers"] = []  # ORDER BY is vacuous on one row
        return _parse_select(node2, time_col, fact_table, star)
    if pairs or len(tables) != 1:
        raise SQLFrontError(
            "multi-table scalar subquery without the fact table"
        )
    filt = None
    if wc is not None:
        filt = ir.and_(*[_to_filter(x) for x in _conjuncts(wc)])
    return ir.BaseScalarQuery(
        table=tables[0], agg_sql=render(sel_item), filter=filt
    )


def _parse_corr_scalar(
    s: dict,
    other: dict,
    op: str,
    flip: bool,
    idx: int,
    scope: _SubqScope,
    tables: list[str],
    pairs: list[tuple[str, str]],
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
) -> "ir.CorrScalarCond":
    """Equi-correlated scalar aggregate -> ir.CorrScalarCond (the TPC-H
    Q17 decorrelation): the WHERE splits into equi-correlation pairs and
    inner-only filters; each aggregate LEAF of the select item is computed
    per correlation key and the item re-renders over the leaf aliases
    (count-class leaves COALESCE to 0 so empty groups evaluate like the
    1-row scalar they replace)."""
    inner_node = (s.get("subquery") or {}).get("node") or {}
    sel = inner_node.get("select_list") or []
    # correlation living only in the select item declines in the split
    # (_scalar_leaves declines outer refs inside aggregate arguments;
    # nothing else can anchor the decorrelation)
    split = _split_corr_conjuncts_res(
        inner_node.get("where_clause"), scope, "scalar", star
    )
    corr_inner, corr_outer, rest, residuals = split
    value_ast, leaves, has_count = _scalar_leaves(sel[0], scope, idx)
    fields = dict(
        value_sql=render(value_ast),
        op=op,
        outer_sql=render(other),
        outer_columns=sorted(_columns_of(other)),
        flip=flip,
        left_join=has_count,
    )
    if residuals:
        # round 11: NON-EQUI residual conjuncts ride the row-grain bundle
        # with the row-grain scan as the frame (Spark itself serves the
        # shape through its own decorrelation, so this is acceleration,
        # not new surface). Residual-only = the rate-card idiom
        # `(SELECT MAX(rate) FROM rates WHERE threshold <= o.amt)`: no
        # equi anchor, proof-gated.
        return _residual_bundle(
            "correlated scalar", idx,
            lambda arg: _row_grain_leaf_aggs(leaves, arg),
            inner_node, scope, tables, pairs, split,
            time_col, fact_table, star, **fields,
        )
    keys = list(dict.fromkeys(corr_inner))
    inner = _build_inner_aggs(
        inner_node,
        leaves,
        keys,
        tables,
        pairs,
        _and_node(rest),
        time_col,
        fact_table,
        star,
    )
    return ir.CorrScalarCond(
        inner=inner,
        inner_keys=keys,
        pairs=[[o, i] for i, o in zip(corr_inner, corr_outer)],
        leaf_cols=[a for _, a in leaves],
        **fields,
    )


def _parse_select_scalar(
    s: dict,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
    outer_quals: set,
) -> ir.QuerySpec:
    """Validate + build the 1-row inner of a SELECT-LIST scalar subquery
    (uncorrelated single ungrouped aggregate — the same contract as the
    WHERE-clause ScalarCond inner)."""
    if s.get("subquery_type") != "SCALAR":
        raise SQLFrontError(
            f"unsupported select-list subquery type {s.get('subquery_type')}"
        )
    inner_node = (s.get("subquery") or {}).get("node") or {}
    if inner_node.get("type") != "SELECT_NODE":
        raise SQLFrontError("set-operation subquery in select list")
    sel = inner_node.get("select_list") or []
    if len(sel) != 1 or not _contains_agg(sel[0]):
        raise SQLFrontError(
            "select-list scalar subquery must be a single ungrouped aggregate"
        )
    tables, pairs, inner_cols, scope = _subquery_scope(
        inner_node, fact_table, star, outer_quals, allow_agg=True
    )
    wc = inner_node.get("where_clause")
    if inner_cols is None and star is not None and len(star.tables) > 1:
        raise SQLFrontError(
            "star carries no column lists: cannot verify the subquery "
            "is uncorrelated"
        )
    if scope.has_outer(sel[0]) or (wc is not None and scope.has_outer(wc)):
        raise SQLFrontError("correlated scalar subquery in select list")
    return _uncorr_scalar_inner(
        inner_node, sel[0], tables, pairs, wc, time_col, fact_table, star
    )


def _extract_select_scalars(
    node: dict,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
):
    """SELECT-list / HAVING scalar subqueries -> deferred projection (see
    ir.ScalarSelectQuery). Returns None when neither the select list nor
    HAVING carries a subquery; else (base_node, scalars, final,
    lifted_limit_spec, post_filters)."""
    sel = node.get("select_list") or []
    having = node.get("having")
    having_sub = having is not None and _contains_subquery(having)
    if not any(_contains_subquery(it) for it in sel) and not having_sub:
        return None
    for m in node.get("modifiers") or []:
        if m.get("type") == "DISTINCT_MODIFIER":
            # DISTINCT over the projected outputs can collapse rows
            # differently than DISTINCT over the base outputs when a NULL
            # scalar maps distinct leaf values to one NULL — decline
            raise SQLFrontError("DISTINCT over a scalar-bearing select list")
    outer_quals = _outer_quals_of(node.get("from_table"))
    import copy

    scalars: list = []
    hidden: list = []
    final: list = []
    new_sel: list = []
    passthrough: set = set()
    passthrough_src: dict = {}  # source column -> output alias (COLUMN_REF items)
    # textually identical subqueries / aggregate leaves share one slot
    # (the share-of-total shape repeats the grand total per item)
    scalar_memo: dict = {}
    leaf_memo: dict = {}
    corr_value_memo: dict = {}
    # declared BEFORE rewrite (correlated select-list scalars append
    # here from inside the select-item loop); the HAVING section below
    # reuses the same lists
    having_arms: list = []
    having_guards: list = []
    having_corr: list = []
    # source-column -> output-alias map PRE-SCANNED over the whole select
    # list: a correlated scalar in item 1 may bind to a group column
    # selected in item 3 (passthrough_src fills incrementally, too late)
    src_map: dict = {}
    for _it in sel:
        if not _contains_subquery(_it) and _it.get("class") == "COLUMN_REF":
            src_map[_it["column_names"][-1]] = (
                _it.get("alias") or _it["column_names"][-1]
            )

    def _frame_src(name: str) -> str:
        """Correlation/residual binding for select-list scalars: the
        SOURCE column must be selected (it then survives into the
        aggregated frame under its output alias) — same contract as the
        HAVING side's frame_col."""
        if name in src_map:
            return src_map[name]
        raise SQLFrontError(
            "select-list scalar correlation on an unselected column"
        )

    def _corr_select_scalar(n: dict) -> dict:
        """Correlated scalar subquery in the SELECT list / HAVING item
        position (round 11): per-correlation-key bundle LEFT-joined onto
        the aggregated frame (ir.ScalarSelectQuery.having_corr — no
        filter; cond_sql empty) with the select item's VALUE expression
        re-rendered over the leaf aliases and spliced back into the
        enclosing item AST, so arithmetic around the subquery composes
        naturally. Non-equi residuals ride the row-grain bundle exactly
        like the HAVING quantified family. A missing group's NULL leaves
        evaluate like the empty set (count-class leaves COALESCE to 0)."""
        inner_node = (n.get("subquery") or {}).get("node") or {}
        if inner_node.get("type") != "SELECT_NODE":
            raise SQLFrontError("set-operation subquery in select list")
        sel1 = inner_node.get("select_list") or []
        if len(sel1) != 1 or not _contains_agg(sel1[0]):
            raise SQLFrontError(
                "select-list scalar subquery must be a single ungrouped "
                "aggregate"
            )
        tables, pairs, inner_cols, scope = _subquery_scope(
            inner_node, fact_table, star, outer_quals, allow_agg=True
        )
        if inner_cols is None and star is not None and len(star.tables) > 1:
            raise SQLFrontError(
                "star carries no column lists: cannot verify scalar "
                "correlation"
            )
        tag = f"s{len(having_corr)}"
        # correlation living only in the select item declines in the
        # split (_scalar_leaves declines outer refs inside aggregate
        # arguments)
        split = _split_corr_conjuncts_res(
            inner_node.get("where_clause"), scope, "select-list scalar", star
        )
        corr_inner, corr_outer, rest1, residuals1 = split
        value_ast, leaves, _ = _scalar_leaves(sel1[0], scope, tag)
        fields = dict(cond_sql="", standalone=False, left_join=True)
        if residuals1:
            having_corr.append(_residual_bundle(
                "select-list scalar", tag,
                lambda arg: _row_grain_leaf_aggs(leaves, arg),
                inner_node, scope, tables, pairs, split,
                time_col, fact_table, star, frame_col=_frame_src, **fields,
            ))
        else:
            keys = list(dict.fromkeys(corr_inner))
            inner = _build_inner_aggs(
                inner_node, leaves, keys, tables, pairs,
                _and_node(rest1), time_col, fact_table, star,
            )
            having_corr.append(ir.CorrScalarCond(
                inner=inner, inner_keys=keys,
                pairs=[
                    [_frame_src(o), i] for i, o in zip(corr_inner, corr_outer)
                ],
                leaf_cols=[a for _, a in leaves], **fields,
            ))
        return value_ast

    def rewrite(n, allow_cols=False):
        if isinstance(n, dict):
            if n.get("class") == "SUBQUERY":
                key = json.dumps(_strip(n), sort_keys=True)
                alias = scalar_memo.get(key)
                if alias is not None:
                    return _colref(alias)
                if key in corr_value_memo:
                    return copy.deepcopy(corr_value_memo[key])
                inner_node = (n.get("subquery") or {}).get("node") or {}
                sel1 = inner_node.get("select_list") or []
                wc1 = inner_node.get("where_clause")
                try:
                    _t, _p, _ic, sscope = _subquery_scope(
                        inner_node, fact_table, star, outer_quals,
                        allow_agg=True,
                    )
                    corr = (
                        len(sel1) == 1 and wc1 is not None
                        and sscope.has_outer(wc1)
                    )
                except SQLFrontError:
                    corr = False
                if corr:
                    # round 11: correlated select-list scalar — per-key
                    # bundle joined onto the frame, value inlined
                    v = _corr_select_scalar(n)
                    corr_value_memo[key] = v
                    return copy.deepcopy(v)
                inner = _parse_select_scalar(
                    n, time_col, fact_table, star, outer_quals
                )
                alias = f"__ss{len(scalars)}"
                scalars.append([inner, alias])
                scalar_memo[key] = alias
                return _colref(alias)
            if n.get("class") == "WINDOW":
                raise SQLFrontError("window in a scalar-subquery item")
            if (
                n.get("class") == "FUNCTION"
                and (n.get("function_name") or "").lower() in _AGG_FNS
            ):
                if _contains_subquery(n):
                    raise SQLFrontError("subquery inside aggregate argument")
                key = json.dumps(_strip(n), sort_keys=True)
                alias = leaf_memo.get(key)
                if alias is None:
                    alias = f"__sa{len(hidden)}"
                    item = copy.deepcopy(n)
                    item["alias"] = alias
                    hidden.append(item)
                    leaf_memo[key] = alias
                return _colref(alias)
            if n.get("class") == "COLUMN_REF":
                # a HAVING conjunct may reference a SELECTED group column
                # (it survives into the joined frame). SQL scoping: a bare
                # name binds to the SOURCE column first (``SELECT k AS g
                # ... HAVING k ...``), and to a select ALIAS only when no
                # source column of that name exists — an alias SHADOWING a
                # different real column must decline (serving it from the
                # aliased output would silently answer a different query).
                nm = n["column_names"][-1]
                if allow_cols and nm in passthrough_src:
                    return _colref(passthrough_src[nm])
                if (
                    allow_cols
                    and nm in passthrough
                    and nm not in (_star_columns(star) or ())
                ):
                    return _colref(nm)
                raise SQLFrontError(
                    "dimension reference in a scalar-subquery item"
                )
            return {
                k: rewrite(v, allow_cols) for k, v in n.items()
            }
        if isinstance(n, list):
            return [rewrite(v, allow_cols) for v in n]
        return n

    for it in sel:
        if not _contains_subquery(it):
            name = it.get("alias") or (
                it["column_names"][-1]
                if it.get("class") == "COLUMN_REF"
                else None
            )
            if not name:
                raise SQLFrontError(
                    "unaliased select item beside a scalar subquery"
                )
            new_sel.append(it)
            final.append([name, None])
            passthrough.add(name)
            if it.get("class") == "COLUMN_REF":
                passthrough_src[it["column_names"][-1]] = name
            continue
        name = it.get("alias")
        if not name:
            raise SQLFrontError("scalar-subquery select item needs an alias")
        it2 = copy.deepcopy(it)
        it2["alias"] = ""
        final.append([name, render(rewrite(it2))])
    # HAVING conjuncts carrying subqueries become post-filters over the
    # joined frame (base outputs + hidden leaves + scalar aliases +
    # round-9 marker flags / guard columns); subquery-free conjuncts stay
    # in the base statement's HAVING. (having_arms/guards/corr are
    # declared above rewrite — correlated select-list scalars share
    # having_corr.)

    def having_atom(s2: dict, negated: bool) -> str:
        """One non-scalar subquery atom in a HAVING conjunct -> its inline
        SQL over the joined frame: [NOT] IN becomes a marker LEFT join of
        the inner's DISTINCT key set (plus the exact NULL-semantics count
        guard for NOT IN), [NOT] EXISTS a count(*) bundle, quantified
        ANY/ALL the shared _quant_bundle. All inners must be UNCORRELATED
        — HAVING correlation binds to the outer's groups, which this
        machinery does not model; decline to the fallback."""
        sq = s2.get("subquery_type")
        inner_node = (s2.get("subquery") or {}).get("node") or {}
        if inner_node.get("type") != "SELECT_NODE":
            raise SQLFrontError("set-operation subquery in HAVING")
        tables, pairs, inner_cols, scope = _subquery_scope(
            inner_node, fact_table, star, outer_quals
        )
        if inner_cols is None and star is not None and len(star.tables) > 1:
            raise SQLFrontError(
                "star carries no column lists: cannot verify the HAVING "
                "subquery is uncorrelated"
            )
        wc2 = inner_node.get("where_clause")
        sel2 = inner_node.get("select_list") or []
        if any(scope.has_outer(it) for it in sel2):
            raise SQLFrontError("HAVING subquery selects an outer column")
        correlated = wc2 is not None and scope.has_outer(wc2)

        def frame_col(src: str) -> str:
            """An outer-correlation column is usable only when the SOURCE
            column is selected (it then survives into the aggregated
            frame under its output alias) — correlation binds to source
            columns, never to select aliases."""
            if src in passthrough_src:
                return passthrough_src[src]
            raise SQLFrontError(
                "HAVING correlation on an unselected column"
            )

        # one split (and one run of its guards) for every correlated form
        split = (
            _split_corr_conjuncts_res(wc2, scope, "HAVING", star)
            if correlated else None
        )
        if sq == "EXISTS":
            if correlated:
                # round 9: equi-correlated [NOT] EXISTS in HAVING — the
                # correlation binds to SELECTED GROUP columns, so it is a
                # semi/anti membership test of the aggregated frame:
                # marker LEFT join on the DISTINCT correlation-key set
                # (distinct on ALL join keys — no duplication); inner-only
                # conjuncts stay in the key set. Round 11 late: residual
                # conjuncts (incl. residual-ONLY, no anchor) ride the
                # row-grain count bundle instead.
                corr_inner, corr_outer, rest, residuals = split
                if residuals:
                    having_corr.append(_exists_bundle(
                        negated, f"h{len(having_corr)}", inner_node, scope,
                        tables, pairs, split, time_col, fact_table, star,
                        frame_col=frame_col,
                    ))
                    return having_corr[-1].cond_sql
                if len(set(corr_inner)) != len(corr_inner):
                    # one inner key equated to several outer columns: the
                    # deduped key set cannot carry both equalities
                    raise SQLFrontError(
                        "duplicate correlation key in HAVING EXISTS"
                    )
                outer_sqls = [
                    f"`{frame_col(o)}`" for o in corr_outer
                ]
                keyset = _build_inner_keyset(
                    inner_node,
                    corr_inner,
                    tables, pairs, _and_node(rest),
                    time_col, fact_table, star,
                )
                j = len(having_arms)
                marker = f"__hm{j}"
                having_arms.append(
                    [keyset, outer_sqls, corr_inner, marker]
                )
                flag = f"coalesce(`{marker}`, false)"
                return f"(NOT {flag})" if negated else flag
            j = len(having_guards)
            alias = f"__hg{j}_0"
            ginner = _build_inner_aggs(
                inner_node,
                [(_fn_node("count_star"), alias)],
                [],
                tables, pairs, wc2, time_col, fact_table, star,
            )
            having_guards.append(
                ir.GuardCond(
                    inner=ginner, inner_cols=[alias], cond_sql="",
                    standalone=False,
                )
            )
            op = "=" if negated else ">"
            return f"(coalesce(`{alias}`, 0) {op} 0)"
        if correlated and sq == "ANY" and (
            s2.get("comparison_type") == "COMPARE_EQUAL" and not negated
        ):
            # round 9: equi-correlated IN in HAVING — exactly EXISTS with
            # the IN equality as one more pair; the lhs must itself live
            # on the frame (selected group column / aggregate leaf)
            child2 = rewrite(
                copy.deepcopy(s2.get("child") or {}), allow_cols=True
            )
            lhs_sql = render(child2)
            if len(sel2) != 1:
                raise SQLFrontError("HAVING IN subquery must select one item")
            corr_inner, corr_outer, rest, residuals = split
            if residuals:
                # round 11: residual conjuncts take the row-grain bundle
                # (the marker arm's key-set dedup cannot carry them)
                having_corr.append(_in_bundle(
                    sel2[0], False, lhs_sql, f"h{len(having_corr)}",
                    inner_node, scope, tables, pairs, split,
                    time_col, fact_table, star, frame_col=frame_col,
                    lhs_frame_cols=sorted({
                        r["column_names"][-1] for r in _refs_of(child2)
                    }),
                ))
                return having_corr[-1].cond_sql
            if sel2[0].get("class") != "COLUMN_REF" or scope.side(
                sel2[0]
            ) != "inner":
                raise SQLFrontError(
                    "correlated HAVING IN needs a plain inner key column"
                )
            in_key = sel2[0]["column_names"][-1]
            if in_key in corr_inner or len(set(corr_inner)) != len(
                corr_inner
            ):
                # one inner key equated to several outer sides: the
                # deduped key set cannot carry both equalities — decline
                raise SQLFrontError(
                    "HAVING IN key coincides with a correlation column"
                )
            keys = corr_inner + [in_key]
            outer_sqls = [
                f"`{frame_col(o)}`" for o in corr_outer
            ] + [f"({lhs_sql})"]
            keyset = _build_inner_keyset(
                inner_node, keys, tables, pairs, _and_node(rest),
                time_col, fact_table, star,
            )
            j = len(having_arms)
            marker = f"__hm{j}"
            having_arms.append([keyset, outer_sqls, keys, marker])
            return f"coalesce(`{marker}`, false)"
        if correlated:
            # round 10: correlated QUANTIFIED / NOT IN in HAVING — the
            # WHERE side's per-group guard machinery
            # (_parse_corr_quantified) evaluated one aggregation later:
            # correlation binds to SELECTED group columns of the frame,
            # the per-key bundle LEFT-joins the aggregated frame, and the
            # three-valued condition renders inline into post_filters.
            # Round 11: quantified comparisons additionally admit NON-EQUI
            # residual conjuncts (inner.d < outer.g) — the bundle
            # recomputes per distinct (correlation + residual frame
            # column) tuple after a residual-conditioned row join
            # (CorrScalarCond.row_grain), so frame rows can never
            # duplicate. [NOT] IN with residuals rides the same bundle
            # (_in_bundle): the IN equality becomes a counted leaf inside
            # the bundle aggregation.
            if sq != "ANY":
                raise SQLFrontError(f"HAVING subquery type {sq}")
            child2 = rewrite(
                copy.deepcopy(s2.get("child") or {}), allow_cols=True
            )
            lhs_sql = render(child2)
            if len(sel2) != 1:
                raise SQLFrontError("HAVING subquery must select one item")
            item = dict(sel2[0])
            item["alias"] = ""
            corr_inner, corr_outer, rest, residuals = split
            if s2.get("comparison_type") == "COMPARE_EQUAL":
                # correlated NOT IN (negated =ANY; the positive form was
                # served by the membership-arm branch above): membership
                # marker arm + the per-group NULL/empty count guard —
                # exactly the WHERE-side pairing, joined to the frame.
                # Expression keys alias onto the key set (same as the
                # WHERE side); the guard's count runs over the expression
                if sel2[0].get("class") == "COLUMN_REF":
                    if scope.side(sel2[0]) != "inner":
                        raise SQLFrontError(
                            "HAVING NOT IN selects an outer column"
                        )
                    in_key = sel2[0]["column_names"][-1]
                    key_items2 = None
                    key_node2 = _colref(in_key)
                else:
                    render(sel2[0])  # raises on unsupported expressions
                    for ref in _refs_of(sel2[0]):
                        if scope.side(ref) != "inner":
                            raise SQLFrontError(
                                "HAVING NOT IN selects an outer column"
                            )
                    in_key = "__hke"
                    item2 = dict(sel2[0])
                    item2["alias"] = ""
                    key_items2 = [(item2, in_key)]
                    key_node2 = dict(item2)
                if residuals:
                    # round 11: residual NOT IN rides the row-grain
                    # bundle with the exact three-valued guard (the
                    # marker-arm + count-guard pairing cannot carry a
                    # residual through its deduped key set)
                    having_corr.append(_in_bundle(
                        sel2[0], True, lhs_sql, f"h{len(having_corr)}",
                        inner_node, scope, tables, pairs, split,
                        time_col, fact_table, star, frame_col=frame_col,
                        lhs_frame_cols=sorted({
                            r["column_names"][-1] for r in _refs_of(child2)
                        }),
                    ))
                    return having_corr[-1].cond_sql
                if in_key in corr_inner or len(set(corr_inner)) != len(
                    corr_inner
                ):
                    raise SQLFrontError(
                        "HAVING NOT IN key coincides with a correlation "
                        "column"
                    )
                keys = corr_inner + ([in_key] if key_items2 is None else [])
                outer_sqls = [
                    f"`{frame_col(o)}`" for o in corr_outer
                ] + [f"({lhs_sql})"]
                keyset = _build_inner_keyset(
                    inner_node, keys, tables, pairs, _and_node(rest),
                    time_col, fact_table, star, key_items=key_items2,
                )
                j = len(having_arms)
                marker = f"__hm{j}"
                having_arms.append(
                    [keyset, outer_sqls, corr_inner + [in_key], marker]
                )
                k = len(having_corr)
                gkeys = list(dict.fromkeys(corr_inner))
                aliases = [f"__cah{k}_0", f"__cah{k}_1"]
                a0, a1 = f"`{aliases[0]}`", f"`{aliases[1]}`"
                ginner = _build_inner_aggs(
                    inner_node,
                    [
                        (_fn_node("count_star"), aliases[0]),
                        (_fn_node("count", key_node2), aliases[1]),
                    ],
                    gkeys, tables, pairs, _and_node(rest),
                    time_col, fact_table, star,
                )
                having_corr.append(
                    ir.CorrScalarCond(
                        inner=ginner,
                        inner_keys=gkeys,
                        pairs=[
                            [frame_col(o), i]
                            for i, o in zip(corr_inner, corr_outer)
                        ],
                        leaf_cols=aliases,
                        cond_sql="",  # composed below with the marker
                        left_join=True,
                        standalone=False,
                    )
                )
                return (
                    f"(coalesce({a0}, 0) = coalesce({a1}, 0)"
                    f" AND (({lhs_sql}) IS NOT NULL"
                    f" OR coalesce({a0}, 0) = 0)"
                    f" AND NOT coalesce(`{marker}`, false))"
                )
            cc = _parse_corr_quantified(
                s2, negated, f"h{len(having_corr)}", item, lhs_sql,
                scope, tables, pairs, split, time_col, fact_table, star,
                frame_col=frame_col,
            )
            if not cc.cond_sql:
                # positive-ANY op form: inline in post_filters, so force
                # the LEFT-join + condition form (an inner join would
                # drop frame rows an OR sibling must keep; an unmatched
                # group's NULL condition reads FALSE in filter context)
                lhs, rhs = f"({cc.outer_sql})", f"({cc.value_sql})"
                if cc.flip:
                    lhs, rhs = rhs, lhs
                cc.cond_sql = f"({lhs} {cc.op} {rhs})"
            cc.left_join = True
            cc.standalone = False
            having_corr.append(cc)
            return cc.cond_sql
        if sq != "ANY":
            raise SQLFrontError(f"HAVING subquery type {sq}")
        child = s2.get("child") or {}
        # lhs over the joined frame: aggregate subtrees -> hidden __sa*
        # leaves, SELECTED group columns pass through; anything else has
        # no slot in the deferred projection and declines inside rewrite
        lhs_sql = render(rewrite(copy.deepcopy(child), allow_cols=True))
        cmp = s2.get("comparison_type")
        if len(sel2) != 1:
            raise SQLFrontError("HAVING subquery must select one item")
        item = dict(sel2[0])
        item["alias"] = ""
        for ref in _refs_of(item):
            if scope.side(ref) != "inner":
                raise SQLFrontError("HAVING subquery selects an outer column")
        if cmp == "COMPARE_EQUAL":
            is_col = sel2[0].get("class") == "COLUMN_REF"
            if is_col:
                inner_key = sel2[0]["column_names"][-1]
                key_items = None
            else:
                render(sel2[0])  # raises on unsupported expressions
                inner_key = "__k0"
                item0 = dict(sel2[0])
                item0["alias"] = ""
                key_items = [(item0, "__k0")]
            keyset = _build_inner_keyset(
                inner_node,
                [inner_key] if is_col else [],
                tables, pairs, wc2, time_col, fact_table, star,
                key_items=key_items,
            )
            j = len(having_arms)
            marker = f"__hm{j}"
            having_arms.append(
                [keyset, [f"({lhs_sql})"], [inner_key], marker]
            )
            if not negated:
                # IN in filter context: UNKNOWN (NULL lhs / no match)
                # collapses to FALSE — exactly what the missing-flag
                # coalesce does
                return f"coalesce(`{marker}`, false)"
            # NOT IN: three-valued guard (one NULL member empties the
            # result; NULL lhs survives only an EMPTY set) AND no match
            k = len(having_guards)
            g0a, g1a = f"__hg{k}_0", f"__hg{k}_1"
            key_node = _colref(inner_key) if is_col else dict(key_items[0][0])
            ginner = _build_inner_aggs(
                inner_node,
                [
                    (_fn_node("count_star"), g0a),
                    (_fn_node("count", key_node), g1a),
                ],
                [],
                tables, pairs, wc2, time_col, fact_table, star,
            )
            having_guards.append(
                ir.GuardCond(
                    inner=ginner, inner_cols=[g0a, g1a], cond_sql="",
                    standalone=False,
                )
            )
            return (
                f"(`{g0a}` = `{g1a}`"
                f" AND (({lhs_sql}) IS NOT NULL OR `{g0a}` = 0)"
                f" AND NOT coalesce(`{marker}`, false))"
            )
        # quantified [NOT] <op> ANY — the ALL family arrives as NOT + the
        # complement op (DuckDB's rewrite), same as the WHERE side
        j = len(having_guards)
        pairs_items, aliases, cond = _quant_bundle(
            cmp, negated, lhs_sql, item, f"__hg{j}"
        )
        ginner = _build_inner_aggs(
            inner_node, pairs_items, [],
            tables, pairs, wc2, time_col, fact_table, star,
        )
        having_guards.append(
            ir.GuardCond(
                inner=ginner, inner_cols=aliases, cond_sql="",
                standalone=False,
            )
        )
        return cond

    def walk_having(n: dict) -> str:
        """Render a HAVING conjunct with subquery atoms replaced by marker
        flags / inline guard conditions (the post-aggregation analog of
        the WHERE side's walk_or). Non-scalar atoms may appear only in
        positive boolean positions or directly under NOT — inside those,
        UNKNOWN-to-FALSE collapsing is row-set-preserving in filter
        context; scalar comparisons keep the existing rewrite path."""
        cls = n.get("class")
        if cls == "SUBQUERY" and n.get("subquery_type") != "SCALAR":
            return having_atom(n, False)
        if cls == "CONJUNCTION":
            op = " AND " if n.get("type") == "CONJUNCTION_AND" else " OR "
            return "(" + op.join(walk_having(x) for x in n["children"]) + ")"
        if cls == "OPERATOR" and n.get("type") == "OPERATOR_NOT":
            ch = n.get("children") or []
            if (
                len(ch) == 1
                and ch[0].get("class") == "SUBQUERY"
                and ch[0].get("subquery_type") != "SCALAR"
            ):
                return having_atom(ch[0], True)
        # scalar subqueries (inside comparisons/expressions) and plain
        # subtrees: the existing deferred-projection rewrite
        return render(rewrite(n, allow_cols=True))

    post_filters: list = []
    new_having = None
    if having_sub:
        keep: list = []
        for c in _conjuncts(having):
            if not _contains_subquery(c):
                keep.append(c)
                continue
            post_filters.append(walk_having(c))
        new_having = _and_node(keep)
    if not new_sel and not hidden:
        # a pure-constant select over a row-grain FROM (one output row per
        # input row with no computed base column) — fallback
        raise SQLFrontError("select list reduces to scalar subqueries only")
    # lift ORDER BY / LIMIT above the deferred projection: the sort runs
    # over the FINAL outputs (so ordering by the share itself works, and
    # emitted order is guaranteed above the scalar cross joins)
    known = {n for n, _ in final}
    order_cols, limit, offset = _order_limit(node, sel, known)
    ls = None
    if order_cols or limit is not None or offset is not None:
        ls = ir.LimitSpec(columns=order_cols, limit=limit, offset=offset)
    node2 = dict(node)
    node2["select_list"] = new_sel + hidden
    node2["modifiers"] = []
    if having_sub:
        node2["having"] = new_having
    return (node2, scalars, final, ls, post_filters, having_arms,
            having_guards, having_corr)


def _parse_semijoin(
    node: dict,
    time_col: str | None,
    fact_table: str | None,
    star: StarSchema | None,
) -> ir.SemiJoinQuery:
    """WHERE-clause `col IN (SELECT ...)` / `[NOT] EXISTS (...)` conjuncts
    -> ir.SemiJoinQuery (the reference's 357x "SubQry" benchmark shape,
    BenchMarkDetails.org:95-102). Each subquery conjunct becomes a semi/anti
    join arm; the outer re-parses with those conjuncts removed. Any subquery
    NOT a top-level WHERE conjunct (under OR, inside an expression, in the
    select list) declines the statement."""
    conj = _conjuncts(node["where_clause"])
    outer_quals = _outer_quals_of(node.get("from_table"))
    arms: list[ir.SemiJoinArm] = []
    scalar_conds: list[ir.ScalarCond] = []
    guards: list = []
    corr_scalars: list = []
    or_filters: list[str] = []
    or_cols: set = set()
    rest: list[dict] = []

    def or_subquery_atom(s2: dict, negated: bool) -> str:
        """One subquery atom inside an OR-composed conjunct -> its inline
        SQL (a marker flag, or an inline scalar/guard condition). Marker
        joins are LEFT joins of a key set DISTINCT on the full join
        condition, so they cannot duplicate outer rows. Residual-carrying
        atoms (whose key sets can hold several rows per key) rewrite to
        per-distinct-tuple row-grain bundles instead (round 11 late):
        EXISTS = `count of matched rows > 0`, IN folds its equality into
        the bundle pairs, NOT IN / quantified keep their three-valued
        guard leaves — one bundle row per tuple, so no duplication."""
        sq = s2.get("subquery_type")
        tag = f"o{len(corr_scalars)}"
        if sq == "EXISTS":
            arm = _parse_exists_arm(
                s2, negated, time_col, fact_table, star, outer_quals, tag
            )
            if isinstance(arm, ir.CorrScalarCond):
                corr_scalars.append(arm)
                return arm.cond_sql
            arm.anti = False  # marker mode: the flag carries the polarity
            arm.marker = f"__m{len(arms)}"
            arms.append(arm)
            if negated:
                # EXISTS is two-valued; an unmatched LEFT join leaves the
                # flag NULL, which must read as FALSE before the NOT
                return f"(NOT coalesce(`{arm.marker}`, false))"
            return f"`{arm.marker}`"
        if sq != "ANY":
            raise SQLFrontError(f"subquery type {sq} under OR")
        if s2.get("comparison_type") == "COMPARE_EQUAL":
            arm, extra = _parse_in_arm(
                s2,
                negated,
                len(guards),
                len(corr_scalars),
                time_col,
                fact_table,
                star,
                outer_quals,
                tag,
            )
            if isinstance(arm, ir.CorrScalarCond):
                corr_scalars.append(arm)
                return arm.cond_sql
            arm.anti = False  # marker mode: the flag carries the polarity
            arm.marker = f"__m{len(arms)}"
            arms.append(arm)
            if not negated:
                return f"`{arm.marker}`"
            # NOT IN inline: the membership marker (two-valued) plus the
            # NULL-semantics guard condition — FALSE where the true
            # predicate is UNKNOWN, which is row-set-preserving in this
            # positive context
            if isinstance(extra, ir.CorrScalarCond):
                extra.standalone = False
                corr_scalars.append(extra)
            else:
                extra.standalone = False
                if extra.arm_aggs:
                    # guard-over-arm: bind to the marker arm just appended
                    extra.over_arm = len(arms) - 1
                guards.append(extra)
            return (
                f"({extra.cond_sql}"
                f" AND NOT coalesce(`{arm.marker}`, false))"
            )
        q = _parse_quantified_guard(
            s2,
            negated,
            len(guards),
            len(corr_scalars),
            time_col,
            fact_table,
            star,
            outer_quals,
            # identity frame binding (round 11 late): residual-carrying
            # quantified comparisons ride the row-grain bundle under OR
            frame_col=lambda name: name,
        )
        if isinstance(q, ir.CorrScalarCond):
            if not q.cond_sql:
                # the positive-ANY op form compares against the group
                # min/max through an INNER join, which would DROP rows the
                # OR's other branch should keep — only the guard (left
                # join) form is safe under OR
                lhs, rhs = f"({q.outer_sql})", f"({q.value_sql})"
                if q.flip:
                    lhs, rhs = rhs, lhs
                q.cond_sql = f"({lhs} {q.op} {rhs})"
            q.left_join = True  # missing groups must reach the OR filter
            q.standalone = False
            corr_scalars.append(q)
            return q.cond_sql
        q.standalone = False
        guards.append(q)
        return q.cond_sql

    def walk_or(n: dict) -> str:
        """Render an OR-composed boolean tree with subquery atoms replaced
        by marker flags / inline conditions. Subquery atoms may appear
        only in positive (no-NOT-above) positions — collapsing UNKNOWN to
        FALSE is row-set-preserving there (ir.SemiJoinQuery.or_filters)."""
        cls = n.get("class")
        if cls == "SUBQUERY":
            return or_subquery_atom(n, False)
        if cls == "CONJUNCTION":
            op = " AND " if n.get("type") == "CONJUNCTION_AND" else " OR "
            return "(" + op.join(walk_or(x) for x in n["children"]) + ")"
        if cls == "OPERATOR" and n.get("type") == "OPERATOR_NOT":
            ch = n.get("children") or []
            if len(ch) == 1 and ch[0].get("class") == "SUBQUERY":
                return or_subquery_atom(ch[0], True)
            if _contains_subquery(n):
                raise SQLFrontError("NOT above a subquery expression")
        if cls == "COMPARISON":
            lsq = (n.get("left") or {}).get("class") == "SUBQUERY"
            rsq = (n.get("right") or {}).get("class") == "SUBQUERY"
            if lsq != rsq:
                sc = _parse_scalar_cond(
                    n,
                    len(corr_scalars),
                    time_col,
                    fact_table,
                    star,
                    outer_quals,
                )
                if isinstance(sc, ir.CorrScalarCond):
                    # round 11: correlated scalar under OR serves inline.
                    # The per-key bundle is ONE row per correlation key
                    # (GROUP BY), so a LEFT join cannot duplicate outer
                    # rows; a missing group's NULL value makes the
                    # comparison UNKNOWN -> FALSE in this positive
                    # context — exactly the 1-row scalar semantics
                    # (count-class leaves COALESCE to 0 in value_sql).
                    # An INNER join would drop rows the OR's other
                    # branch must keep, hence left_join unconditionally.
                    # Residual (row_grain) forms ride the same inline
                    # path: their bundle joins back null-safely LEFT by
                    # construction.
                    sc.left_join = True
                    sc.standalone = False
                    corr_scalars.append(sc)
                    lhs, rhs = f"({sc.outer_sql})", f"({sc.value_sql})"
                    if sc.flip:
                        lhs, rhs = rhs, lhs
                    return f"({lhs} {sc.op} {rhs})"
                sc.alias = f"__sc{len(scalar_conds)}"
                sc.standalone = False
                scalar_conds.append(sc)
                lhs, rhs = f"({sc.outer_sql})", f"`{sc.alias}`"
                if sc.flip:
                    lhs, rhs = rhs, lhs
                return f"({lhs} {sc.op} {rhs})"
        if _contains_subquery(n):
            raise SQLFrontError("subquery nested in an expression")
        or_cols.update(_columns_of(n))
        return render(n)

    for c in conj:
        neg, s = False, c
        if s.get("class") == "OPERATOR" and s.get("type") == "OPERATOR_NOT":
            ch = s.get("children") or []
            if len(ch) == 1 and ch[0].get("class") == "SUBQUERY":
                neg, s = True, ch[0]
        left_sq = (s.get("left") or {}).get("class") == "SUBQUERY"
        right_sq = (s.get("right") or {}).get("class") == "SUBQUERY"
        if s.get("class") == "COMPARISON" and (left_sq != right_sq):
            if neg:
                # NOT (x op scalar) never parses here (the NOT peel only
                # matches bare SUBQUERY children) — defensive
                raise SQLFrontError("negated scalar comparison")
            sc = _parse_scalar_cond(
                s, len(corr_scalars), time_col, fact_table, star, outer_quals
            )
            if isinstance(sc, ir.CorrScalarCond):
                corr_scalars.append(sc)
            else:
                sc.alias = f"__sc{len(scalar_conds)}"
                scalar_conds.append(sc)
            continue
        if s.get("class") != "SUBQUERY":
            if _contains_subquery(c):
                # OR-composed conjunct carrying subqueries (round 8
                # cont.): marker joins + inline conditions
                or_filters.append(walk_or(c))
                continue
            rest.append(c)
            continue
        sq_type = s.get("subquery_type")
        if sq_type == "ANY":
            if s.get("comparison_type") == "COMPARE_EQUAL":
                arm, extra = _parse_in_arm(
                    s,
                    neg,
                    len(guards),
                    len(corr_scalars),
                    time_col,
                    fact_table,
                    star,
                    outer_quals,
                )
                arms.append(arm)
                if isinstance(extra, ir.CorrScalarCond):
                    corr_scalars.append(extra)
                elif extra is not None:
                    if extra.arm_aggs:
                        # guard-over-arm: bind to the anti arm just appended
                        extra.over_arm = len(arms) - 1
                    guards.append(extra)
            else:
                q = _parse_quantified_guard(
                    s,
                    neg,
                    len(guards),
                    len(corr_scalars),
                    time_col,
                    fact_table,
                    star,
                    outer_quals,
                    allow_arm=True,  # standalone conjunct: residual forms
                    # may rewrite to an EXISTS-style arm (round 11)
                )
                if isinstance(q, ir.SemiJoinArm):
                    arms.append(q)
                elif isinstance(q, ir.CorrScalarCond):
                    corr_scalars.append(q)
                else:
                    guards.append(q)
        elif sq_type == "EXISTS":
            arms.append(
                _parse_exists_arm(
                    s, neg, time_col, fact_table, star, outer_quals
                )
            )
        else:  # SCALAR subquery outside a comparison, etc.
            raise SQLFrontError(f"unsupported subquery type {sq_type}")
    node["where_clause"] = _and_node(rest)
    outer = _parse_select(node, time_col, fact_table, star)
    return ir.SemiJoinQuery(
        outer=outer,
        arms=arms,
        scalar_conds=scalar_conds,
        guards=guards,
        corr_scalars=corr_scalars,
        or_filters=or_filters,
        or_columns=sorted(or_cols),
        output_order=_spec_outputs(outer),
    )


def _parse_select(
    node: dict,
    time_col: str | None = None,
    fact_table: str | None = None,
    star: StarSchema | None = None,
) -> ir.QuerySpec:
    if node.get("sample"):
        raise SQLFrontError("SAMPLE unsupported")
    _inline_ctes(node)
    node = _flatten_subquery(node)
    _check_from(node["from_table"], fact_table, star)

    ext = _extract_select_scalars(node, time_col, fact_table, star)
    if ext is not None:
        (node2, scalars, final, ls, post_filters, h_arms, h_guards,
         h_corr) = ext
        base = _parse_select(node2, time_col, fact_table, star)
        return ir.ScalarSelectQuery(
            base=base,
            scalars=scalars,
            final=final,
            limit_spec=ls,
            post_filters=post_filters,
            having_arms=h_arms,
            having_guards=h_guards,
            having_corr=h_corr,
            output_order=[n for n, _ in final],
        )

    if node.get("where_clause") is not None and _contains_subquery(
        node["where_clause"]
    ):
        return _parse_semijoin(node, time_col, fact_table, star)

    # WHERE: split conjuncts, pull time intervals, build FilterSpec
    intervals: list[ir.Interval] = []
    filt: ir.FilterSpec | None = None
    wc = node.get("where_clause")
    if wc is not None:
        or_ivs = _try_or_intervals(wc, time_col) if time_col else None
        if or_ivs is not None:
            intervals = or_ivs
        else:
            conj = _conjuncts(wc)
            if time_col:
                intervals, conj = _extract_intervals(conj, time_col)
            if conj:
                filt = ir.and_(*[_to_filter(c) for c in conj])

    select_list = node["select_list"]
    has_agg = any(_contains_agg(s) for s in select_list)
    has_group = bool(node.get("group_expressions"))
    is_distinct = any(
        m.get("type") == "DISTINCT_MODIFIER" for m in node.get("modifiers", [])
    )

    if is_distinct and (has_agg or has_group):
        # SELECT DISTINCT over an aggregate/grouped query can drop rows the
        # GroupBy mapping would keep (e.g. GROUP BY a superset of the select
        # list) — outside the surface, fall back
        raise SQLFrontError("SELECT DISTINCT with GROUP BY/aggregates")

    if is_distinct and not has_agg and not has_group:
        # SELECT DISTINCT cols -> GroupBy on those columns with no aggregates
        # (the reference rewrote this shape GroupBy->Search,
        # QuerySpecTransforms.scala:225-277; our transforms add a hidden count
        # that the output projection drops again)
        dims: list[ir.DimSpec] = []
        names: list[str] = []
        for i, item in enumerate(select_list):
            name = (
                item.get("alias")
                or (
                    item["column_names"][-1]
                    if item.get("class") == "COLUMN_REF"
                    else None
                )
            )
            if name is None:
                raise SQLFrontError(f"DISTINCT select item {i} needs an alias")
            dims.append(_dim_spec(item, name, time_col))
            names.append(name)
        order_cols, limit, offset = _order_limit(node, select_list, set(names))
        return ir.GroupByQuery(
            dimensions=dims,
            filter=filt,
            intervals=intervals,
            limit_spec=ir.LimitSpec(order_cols, limit, offset)
            if (order_cols or limit is not None or offset is not None)
            else None,
            output_order=names,
        )

    if not has_agg and not has_group:
        # plain projection (+ optional ROW-GRAIN windows) -> SelectQuery.
        # Row-grain windows (rank over raw rows, running totals, lag) render
        # partitions/orders/args directly over source columns and evaluate
        # over the index's pruned scan — the fallback this replaces re-joins
        # the base star for the same answer.
        cols = []
        window_posts: list = []
        window_exprs: list = []
        src_cols: set[str] = set()
        output_order: list[str] = []
        for i, item in enumerate(select_list):
            if _contains_window(item):
                name = item.get("alias") or f"win_{i}"
                if item.get("class") == "WINDOW":
                    window_posts.append(
                        _window_spec(item, name, None, None, None,
                                     row_grain=True)
                    )
                else:
                    def sink(n: dict) -> str:
                        wname = f"__wp_{len(window_posts)}"
                        window_posts.append(
                            _window_spec(n, wname, None, None, None,
                                         row_grain=True)
                        )
                        return wname

                    expr_sql, _ = _extract_inner_aggs(
                        item, [], window_sink=sink
                    )
                    window_exprs.append([name, expr_sql])
                src_cols |= _columns_of(item)
                output_order.append(name)
            elif item.get("class") == "COLUMN_REF":
                c = item["column_names"][-1]
                cols.append((c, item["alias"]) if item.get("alias") else c)
                output_order.append(item.get("alias") or c)
            else:
                raise SQLFrontError("select of expression unsupported (non-agg)")
        qualify_sql = None
        if node.get("qualify") is not None:
            # QUALIFY over raw rows (latest-row-per-key idiom): inline
            # windows extract as hidden row-grain posts
            def qsink(n: dict) -> str:
                wname = f"__wp_{len(window_posts)}"
                window_posts.append(
                    _window_spec(n, wname, None, None, None, row_grain=True)
                )
                return wname

            qualify_sql, _ = _extract_inner_aggs(
                node["qualify"], [], window_sink=qsink
            )
            src_cols |= _columns_of(node["qualify"])
        known = {c[1] if isinstance(c, tuple) else c for c in cols} | set(
            output_order
        )
        order_cols, limit, offset = _order_limit(node, select_list, known)
        return ir.SelectQuery(
            columns=cols, filter=filt, limit=limit, offset=offset,
            order_by=order_cols, intervals=intervals,
            window_posts=window_posts, window_exprs=window_exprs,
            window_source_columns=sorted(src_cols),
            output_order=output_order if window_posts else None,
            qualify=qualify_sql,
        )

    a = _analyze_select(node, time_col)
    having = None
    if node.get("having") is not None:
        having = ir.HavingSpec(_having_expr(node["having"], select_list, a))

    known_outputs = set(a.output_order) | {d.out for d in a.dims} | {
        g.name for g in a.aggs
    } | {p.name for p in a.post_aggs} | {w.name for w in a.window_posts}
    if a.granularity != "all":
        known_outputs.add(a.time_output_name)
    order_cols, limit, offset = _order_limit(node, select_list, known_outputs)

    limit_spec = None
    if order_cols or limit is not None or offset is not None:
        limit_spec = ir.LimitSpec(order_cols, limit, offset)

    return ir.GroupByQuery(
        dimensions=a.dims,
        granularity=a.granularity,
        filter=filt,
        aggregations=a.aggs,
        post_aggregations=a.post_aggs,
        having=having,
        limit_spec=limit_spec,
        intervals=intervals,
        grouping_sets=a.grouping_sets,
        time_output_name=a.time_output_name,
        output_order=a.output_order,
        window_posts=a.window_posts,
        window_exprs=a.window_exprs,
        qualify=a.qualify,
    )
