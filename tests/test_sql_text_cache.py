"""A repeated SQL statement is served from the compiled-plan cache without
re-parsing; the text map is dropped with the plan cache when the index
epoch moves."""

from pysparkline import sqlfront
from pysparkline.index import OlapIndex
from pysparkline.session import OlapContext

_SQL = (
    "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
    "GROUP BY l_returnflag"
)


def test_repeat_statement_skips_parse(spark, index, monkeypatch):
    from pysparkline import tpch

    idx = OlapIndex(spark, index.path, index.manifest)
    ctx = OlapContext(spark, idx, fds=tpch.tpch_fds())
    calls = []
    real = sqlfront.parse_sql

    def counting(*a, **kw):
        calls.append(a[0])
        return real(*a, **kw)

    monkeypatch.setattr(sqlfront, "parse_sql", counting)
    first = ctx.sql(_SQL)
    assert ctx.query_history[-1].backing == "cube"
    again = ctx.sql(_SQL)
    assert again is first and len(calls) == 1
    assert ctx.query_history[-1] is ctx.query_history[-2]

    idx.invalidate()
    fresh = ctx.sql(_SQL)
    assert len(calls) == 2 and fresh is not first
    assert sorted(map(tuple, fresh.collect())) == sorted(
        map(tuple, first.collect())
    )
