"""IR → ANSI SQL rendering.

Two uses: (1) export a QuerySpec as portable SQL (the inverse of
``sqlfront``), (2) auto-generate DuckDB oracles for randomized testing —
``tests/test_property_oracle.py`` drives hypothesis-generated specs through
``ctx.query`` (planner picks cube/flat) and through DuckDB running this
rendering over the same flat parquet; results must agree. That makes the
merge-form aggregation rewrite property-tested, not just example-tested
(the reference's cTest idea, mechanized).

Only IR nodes with engine-portable semantics render; ``ExprFilter``/
``ExprDim``/``ExprAgg`` carry Spark SQL text and raise ``NotPortable`` for
the duckdb dialect (the property tests simply don't generate them).
"""

from __future__ import annotations

from . import ir


class NotPortable(ValueError):
    pass


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def filter_to_sql(f: ir.FilterSpec, dialect: str = "duckdb") -> str:
    if isinstance(f, ir.SelectorFilter):
        return f"({f.dimension} = {_lit(f.value)})"
    if isinstance(f, ir.InFilter):
        return f"({f.dimension} IN ({', '.join(_lit(v) for v in f.values)}))"
    if isinstance(f, ir.BoundFilter):
        parts = []
        if f.lower is not None:
            parts.append(f"{f.dimension} {'>' if f.lower_strict else '>='} {_lit(f.lower)}")
        if f.upper is not None:
            parts.append(f"{f.dimension} {'<' if f.upper_strict else '<='} {_lit(f.upper)}")
        return "(" + " AND ".join(parts or ["TRUE"]) + ")"
    if isinstance(f, ir.RegexFilter):
        if dialect == "duckdb":
            return f"regexp_matches({f.dimension}, {_lit(f.pattern)})"
        return f"({f.dimension} RLIKE {_lit(f.pattern)})"
    if isinstance(f, ir.ContainsFilter):
        col = f.dimension if f.case_sensitive else f"lower({f.dimension})"
        v = f.value if f.case_sensitive else f.value.lower()
        if dialect == "duckdb":
            return f"contains({col}, {_lit(v)})"
        return f"(instr({col}, {_lit(v)}) > 0)"
    if isinstance(f, ir.NullFilter):
        return f"({f.dimension} IS {'NULL' if f.is_null else 'NOT NULL'})"
    if isinstance(f, ir.LogicalFilter):
        op = " AND " if f.op == "and" else " OR "
        return "(" + op.join(filter_to_sql(x, dialect) for x in f.fields_) + ")"
    if isinstance(f, ir.NotFilter):
        return f"(NOT {filter_to_sql(f.field_, dialect)})"
    if isinstance(f, ir.SpatialFilter):
        parts = []
        for dim, lo, hi in zip(f.dimensions, f.lower, f.upper):
            if lo is not None:
                parts.append(f"{dim} >= {_lit(lo)}")
            if hi is not None:
                parts.append(f"{dim} < {_lit(hi)}")
        return "(" + " AND ".join(parts or ["TRUE"]) + ")"
    if isinstance(f, ir.ExprFilter):
        if dialect != "spark":
            raise NotPortable("ExprFilter carries Spark SQL text")
        return f"({f.expr})"
    raise NotPortable(f"unknown filter {f!r}")


_PART_SQL = {
    "year": "year", "quarter": "quarter", "month": "month",
    "day": "dayofmonth", "dayofyear": "dayofyear",
    "weekofyear": "weekofyear", "hour": "hour", "minute": "minute",
    "second": "second",
}


def dim_to_sql(d: ir.DimSpec, dialect: str = "duckdb") -> tuple[str, str]:
    """(select_expr, output_name)."""
    if isinstance(d, ir.DefaultDim):
        return (f"{d.dimension} AS {d.out}" if d.out != d.dimension else d.dimension), d.out
    if isinstance(d, ir.TimeFormatDim):
        if d.is_pattern:
            raise NotPortable("pattern time format is dialect-specific")
        fn = _PART_SQL[d.part]
        if dialect == "duckdb":
            return f"CAST({fn}({d.dimension}) AS INTEGER) AS {d.out}", d.out
        return f"CAST({fn}({d.dimension}) AS INT) AS {d.out}", d.out
    if isinstance(d, ir.ExprDim):
        if dialect != "spark":
            raise NotPortable("ExprDim carries Spark SQL text")
        return f"{d.expr} AS {d.out}", d.out
    raise NotPortable(f"unknown dim {d!r}")


def agg_to_sql(a: ir.AggSpec, dialect: str = "duckdb") -> str:
    if isinstance(a, ir.CountAgg):
        return f"COUNT(*) AS {a.name}"
    if isinstance(a, ir.FieldAgg):
        return f"{a.fn.upper()}({a.field_name}) AS {a.name}"
    if isinstance(a, ir.AvgAgg):
        # ANSI avg: sum / non-null count (matches the engine's decomposition)
        return (
            f"CAST(SUM({a.field_name}) AS DOUBLE) / COUNT({a.field_name})"
            f" AS {a.name}"
        )
    if isinstance(a, ir.FilteredAgg):
        cond = filter_to_sql(a.filter, dialect)
        inner = a.agg
        if isinstance(inner, ir.CountAgg):
            return f"COUNT(*) FILTER (WHERE {cond}) AS {a.name}"
        if isinstance(inner, ir.FieldAgg):
            return (
                f"{inner.fn.upper()}({inner.field_name}) FILTER (WHERE {cond})"
                f" AS {a.name}"
            )
        if isinstance(inner, ir.ThetaAgg) and inner.k >= 1 << 17:
            # exact regime only (see the bare ThetaAgg case below)
            return (
                f"CAST(COUNT(DISTINCT {inner.field_name}) FILTER"
                f" (WHERE {cond}) AS DOUBLE) AS {a.name}"
            )
        raise NotPortable("filtered inner agg")
    if isinstance(a, ir.DistinctAgg):
        return f"COUNT(DISTINCT {a.field_name}) AS {a.name}"
    if isinstance(a, ir.ThetaAgg):
        # portable ONLY in the sketch's exact regime (per-group NDV < k):
        # there the theta estimate IS the distinct count (double-typed). The
        # fuzzer draws k far above any test-table NDV; real approximate use
        # has no portable SQL and goes through invariant queries instead.
        if a.k < 1 << 17:
            raise NotPortable("theta below exactness-guaranteed k")
        return f"CAST(COUNT(DISTINCT {a.field_name}) AS DOUBLE) AS {a.name}"
    if isinstance(a, ir.QuantileAgg):
        # CAST both the input and result: Spark computes on double; DuckDB
        # would otherwise interpolate decimals in decimal arithmetic
        return (
            f"CAST(quantile_cont(CAST({a.field_name} AS DOUBLE), "
            f"{a.fraction!r}) AS DOUBLE) AS {a.name}"
        )
    raise NotPortable(f"agg {type(a).__name__} has no portable SQL")


def to_sql(q: ir.QuerySpec, table: str, dialect: str = "duckdb", time_col: str = "l_shipdate") -> str:
    """Render a QuerySpec as a single-table SQL SELECT (the table is the
    flattened star)."""
    where = []
    for iv in getattr(q, "intervals", []) or []:
        parts = []
        if iv.start is not None:
            parts.append(f"{time_col} >= TIMESTAMP '{_ts(iv.start)}'")
        if iv.end is not None:
            parts.append(f"{time_col} < TIMESTAMP '{_ts(iv.end)}'")
        if parts:
            where.append("(" + " AND ".join(parts) + ")")
    f = getattr(q, "filter", None)
    if f is not None:
        where.append(filter_to_sql(f, dialect))
    where_sql = (" WHERE " + " AND ".join(where)) if where else ""

    if isinstance(q, ir.SelectQuery):
        cols = []
        for c in q.columns:
            if isinstance(c, (list, tuple)):
                cols.append(f"{c[0]} AS {c[1]}")
            else:
                cols.append(c)
        sql = f"SELECT {', '.join(cols)} FROM {table}{where_sql}"
        if q.order_by:
            sql += " ORDER BY " + ", ".join(
                f"{o.column} {o.direction.upper()}{_nulls(o.direction)}"
                for o in q.order_by
            )
        if q.limit is not None:
            sql += f" LIMIT {q.limit}"
        return sql

    if isinstance(q, ir.SearchQuery):
        branches = []
        for dcol in q.dimensions:
            m = (
                f"contains(lower({dcol}), {_lit(q.value.lower())})"
                if dialect == "duckdb"
                else f"(instr(lower({dcol}), {_lit(q.value.lower())}) > 0)"
            )
            if q.case_sensitive:
                m = (
                    f"contains({dcol}, {_lit(q.value)})"
                    if dialect == "duckdb"
                    else f"(instr({dcol}, {_lit(q.value)}) > 0)"
                )
            w = where_sql + (" AND " if where_sql else " WHERE ") + m
            branches.append(
                f"SELECT DISTINCT '{dcol}' AS dimension, CAST({dcol} AS VARCHAR)"
                f" AS value FROM {table}{w}"
            )
        sql = " UNION ".join(branches) + " ORDER BY dimension, value"
        if q.limit is not None:
            sql += f" LIMIT {q.limit}"
        return sql

    if isinstance(q, ir.TopNQuery):
        if getattr(q, "granularity", "all") not in ("all",):
            raise NotPortable(
                "granular TopN is per-bucket ranking (window SQL), not a "
                "global ORDER BY/LIMIT"
            )
        g = ir.GroupByQuery(
            dimensions=[q.dimension],
            filter=q.filter,
            aggregations=q.aggregations,
            post_aggregations=q.post_aggregations,
            intervals=q.intervals,
            limit_spec=ir.LimitSpec(
                [
                    ir.OrderByColumn(q.metric, "asc" if q.inverted else "desc"),
                    ir.OrderByColumn(q.dimension.out, "asc"),
                ],
                q.threshold,
            ),
            output_order=q.output_order,
        )
        return to_sql(g, table, dialect, time_col)

    if isinstance(q, ir.TimeseriesQuery):
        g = ir.GroupByQuery(
            dimensions=[],
            granularity=q.granularity,
            filter=q.filter,
            aggregations=q.aggregations,
            post_aggregations=q.post_aggregations,
            intervals=q.intervals,
            time_output_name=q.time_output_name,
            output_order=q.output_order,
        )
        return to_sql(g, table, dialect, time_col)

    if not isinstance(q, ir.GroupByQuery):
        raise NotPortable(f"shape {type(q).__name__}")
    if getattr(q, "window_posts", None):
        # window-over-aggregate renders need alias-visibility rules that
        # differ per dialect; declared non-portable rather than mis-rendered
        raise NotPortable("window_posts")

    sel, group_names = [], []
    for d in q.dimensions:
        expr, name = dim_to_sql(d, dialect)
        sel.append(expr)
        group_names.append(name)
    if q.granularity != "all":
        if q.grouping_sets is not None:
            raise NotPortable("grouping sets with a time granularity")
        bucket = f"date_trunc('{q.granularity}', {time_col})"
        if q.granularity in ("year", "quarter", "month", "week", "day"):
            bucket = f"CAST({bucket} AS DATE)"  # sub-day grains keep the time
        sel.append(f"{bucket} AS {q.time_output_name}")
        group_names.append(q.time_output_name)
    sel.extend(agg_to_sql(a, dialect) for a in q.aggregations)

    # post-aggs / having carry Spark SQL text over agg OUTPUT names; that
    # surface is dialect-shared arithmetic except for backtick quoting
    for p in q.post_aggregations:
        sel.append(f"{_portable_expr(p.expr, dialect)} AS {p.name}")

    sql = f"SELECT {', '.join(sel)} FROM {table}{where_sql}"
    if q.grouping_sets is not None:
        if q.output_order and "__grouping_id" in q.output_order:
            raise NotPortable("__grouping_id has no ANSI equivalent here")
        sets = ", ".join(
            "(" + ", ".join(s) + ")" for s in q.grouping_sets
        )
        sql += f" GROUP BY GROUPING SETS ({sets})"
    elif group_names:
        sql += " GROUP BY " + ", ".join(group_names)
    if q.having is not None:
        # the IR's having references agg OUTPUT names; DuckDB permits select
        # aliases in HAVING (extension), so plain arithmetic predicates render
        # directly — anything with function calls stays non-portable
        if dialect != "duckdb":
            raise NotPortable("having aliases need a dialect that allows them")
        sql += " HAVING " + _portable_expr(q.having.expr, dialect)
    ls = q.limit_spec
    if ls is not None and ls.columns:
        sql += " ORDER BY " + ", ".join(
            f"{c.column} {c.direction.upper()}{_nulls(c.direction)}"
            for c in ls.columns
        )
    if ls is not None and ls.limit is not None:
        sql += f" LIMIT {ls.limit}"
    return sql


def _portable_expr(expr: str, dialect: str) -> str:
    """Spark SQL expr over agg output names -> target dialect. Only the
    quoting differs for plain arithmetic; anything with function calls or
    string literals is declared non-portable rather than mis-translated."""
    import re

    if re.search(r"[A-Za-z_]+\s*\(", expr.replace("CAST(", "")):
        raise NotPortable(f"post-agg expr not portable: {expr}")
    quote = '"' if dialect == "duckdb" else "`"
    return expr.replace("`", quote)


def _nulls(direction: str) -> str:
    """Match Spark's null ordering (ASC => NULLS FIRST, DESC => NULLS LAST) —
    DuckDB defaults to the opposite for ASC."""
    return " NULLS FIRST" if direction == "asc" else " NULLS LAST"


def _ts(s: str) -> str:
    return s if " " in s or "T" in s else s + " 00:00:00"
