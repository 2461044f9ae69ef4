"""Correlated QUANTIFIED / NOT IN in HAVING (round 10 — VERDICT r9 #6):
the WHERE side's per-group guard machinery (sqlfront._parse_corr_quantified)
evaluated one aggregation later. Correlation binds to SELECTED group
columns of the aggregated frame; the per-correlation-key aggregate bundle
LEFT-joins the frame (ir.ScalarSelectQuery.having_corr) and the
three-valued condition renders inline into post_filters. NOT IN pairs a
membership marker arm with the per-group NULL/empty count guard — exactly
the WHERE-side pairing (sqlfront.py corr NOT IN), joined to the frame.

Every accelerated shape runs against the DuckDB oracle; the genuinely
unservable shapes (non-equi residual correlation, correlation on an
unselected column, NOT IN key coinciding with a correlation column) must
DECLINE and stay correct through the fallback.

Reference parity note: the reference never emitted any HavingSpec at all
(DruidQuerySpec.scala:458-476; TODO at DruidTransforms.scala:48) — this
whole family is engine surface beyond parity.
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


def _same(ctx, duck, sql, backing=None):
    got = sorted(tuple(r) for r in ctx.sql(sql).collect())
    b = ctx.query_history[-1].backing
    if backing is not None:
        assert b == backing, f"expected backing {backing}, got {b}"
    exp = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    assert len(got) == len(exp), f"{len(got)} rows != {len(exp)}"
    for r1, r2 in zip(got, exp):
        for a, b2 in zip(r1, r2):
            if isinstance(a, float) or isinstance(b2, float):
                assert abs(float(a) - float(b2)) <= 1e-6 * max(
                    1.0, abs(float(b2))
                )
            else:
                assert a == b2, (r1, r2)
    return got


# ----------------------------------------------------------- quantified


def test_having_corr_any_positive(ctx, duck):
    """`HAVING agg > ANY (corr set)`: positive-op form — the per-key MIN
    bundle LEFT-joins the frame; an unmatched group's NULL condition
    reads FALSE in filter context (ANSI: ANY over the empty set)."""
    got = _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING AVG(l_quantity) > ANY (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag = lineitem.l_returnflag
                 AND l2.l_quantity < 30)
           ORDER BY flag""",
        backing="scalarselect[cube<-hcorr:flat]",
    )
    assert got  # every group has sub-30 quantities below its average


def test_having_corr_any_empty_set_is_false(ctx, duck):
    """ANY over a per-group EMPTY set is FALSE: the impossible inner
    filter empties every group's set, so no group survives — exercised
    through the LEFT join's unmatched-row path, not a dropped join."""
    got = _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING AVG(l_quantity) > ANY (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag = lineitem.l_returnflag
                 AND l2.l_quantity > 999)
           ORDER BY flag""",
        backing="scalarselect[cube<-hcorr:flat]",
    )
    assert got == []


def test_having_corr_all(ctx, duck):
    """`HAVING agg >= ALL (corr set)` (DuckDB rewrites ALL to NOT+ANY):
    the negated bundle carries count(*)/count(item)/max guards so NULL
    members and the empty set keep exact ANSI semantics."""
    _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag,
                  CAST(MAX(l_quantity) AS DOUBLE) AS mx
           FROM lineitem GROUP BY l_returnflag
           HAVING MAX(l_quantity) >= ALL (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag = lineitem.l_returnflag)
           ORDER BY flag""",
        backing="scalarselect[cube<-hcorr:cube]",
    )


def test_having_corr_all_empty_set_is_true(ctx, duck):
    """ALL over a per-group EMPTY set is TRUE: the guard's COALESCEd
    counts keep unmatched (empty-set) groups — every group survives."""
    got = _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING MIN(l_quantity) < ALL (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag = lineitem.l_returnflag
                 AND l2.l_quantity > 999)
           ORDER BY flag""",
        backing="scalarselect[cube<-hcorr:flat]",
    )
    assert len(got) == 3


def test_having_corr_noteq_any(ctx, duck):
    """`<> ANY` correlated: true when the group's set has a member
    differing from the lhs (min<>max or lhs<>min bundle form)."""
    _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING MIN(l_quantity) <> ANY (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag = lineitem.l_returnflag)
           ORDER BY flag""",
        backing="scalarselect[cube<-hcorr:cube]",
    )


def test_having_corr_quantified_composes_with_scalar(ctx, duck):
    """A correlated quantified conjunct composes with a HAVING scalar
    subquery in the same statement (independent joins, one frame)."""
    _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING AVG(l_quantity) > ANY (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag = lineitem.l_returnflag
                 AND l2.l_quantity < 30)
              AND COUNT(*) > (SELECT COUNT(*) / 10 FROM lineitem)
           ORDER BY flag""",
        backing="scalarselect[cube<-ss:cube,hcorr:flat]",
    )


# -------------------------------------------------------------- NOT IN


def test_having_corr_not_in(ctx, duck):
    """Correlated NOT IN in HAVING: membership marker arm + the
    per-group NULL/empty count guard. AVG is fractional for most groups,
    so most survive; DuckDB decides exactly which."""
    _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING AVG(l_quantity) NOT IN (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag = lineitem.l_returnflag)
           ORDER BY flag""",
        backing="scalarselect[cube<-hm:flat,hcorr:cube]",
    )


def test_having_corr_not_in_null_member_empties_group(ctx, duck):
    """A NULL member in ONE group's set makes that group's NOT IN
    UNKNOWN (dropped) while other groups still decide by membership —
    the per-group guard, not a global one (the CASE plants NULLs only in
    groups holding a quantity above the threshold)."""
    _same(
        ctx,
        duck,
        """SELECT l_linestatus AS st, COUNT(*) AS n
           FROM lineitem GROUP BY l_linestatus
           HAVING AVG(l_quantity) NOT IN (
               SELECT CASE WHEN l2.l_quantity > 49 THEN NULL
                           ELSE l2.l_quantity END
               FROM lineitem l2
               WHERE l2.l_linestatus = lineitem.l_linestatus)
           ORDER BY st""",
        # the expression key set references only (l_linestatus, l_quantity)
        # — the qtyline measure-value rollup serves its DISTINCT directly
        backing="scalarselect[cube<-hm:cube,hcorr:flat]",
    )


def test_having_corr_not_in_empty_set_is_true(ctx, duck):
    """NOT IN against a per-group EMPTY set is TRUE even for a NULL lhs
    (x NOT IN () is TRUE): the impossible inner filter keeps every
    group."""
    got = _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING AVG(l_quantity) NOT IN (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag = lineitem.l_returnflag
                 AND l2.l_quantity > 999)
           ORDER BY flag""",
        backing="scalarselect[cube<-hm:flat,hcorr:flat]",
    )
    assert len(got) == 3


# ------------------------------------------------------------- declines


def test_having_corr_unselected_column_declines(ctx, duck):
    """Correlation on an UNSELECTED column has no slot on the frame:
    decline, and the fallback stays correct (Spark runs correlated NOT IN
    in HAVING through its own subquery rewrite)."""
    _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag, l_linestatus
           HAVING AVG(l_quantity) NOT IN (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_linestatus = lineitem.l_linestatus)
           ORDER BY flag, n""",
        backing="sparksql",
    )


def test_having_corr_non_equi_residual_declines(ctx, duck):
    """Purely non-equi correlation (no equi conjunct to drive the bundle
    join) still declines — round 11's residual mode requires an equi
    anchor; fallback stays correct."""
    _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING AVG(l_quantity) IN (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag > lineitem.l_returnflag)
           ORDER BY flag""",
        backing="sparksql",
    )


# ------------------------------------------- non-equi residuals (round 11)


def test_having_corr_any_nonequi_residual(ctx, duck):
    """`HAVING agg > ANY (... WHERE inner.k = outer.k AND inner.d <
    f(outer.g))` — the VERDICT r10 missing-#2 shape. The bundle recomputes
    per distinct (correlation + residual frame column) tuple after the
    residual-conditioned row join; frame rows can never duplicate."""
    got = _same(
        ctx,
        duck,
        """SELECT l_linenumber AS ln, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                      AS sq
           FROM lineitem GROUP BY l_linenumber
           HAVING SUM(l_quantity) > ANY (
               SELECT l2.l_quantity * 1000 FROM lineitem l2
               WHERE l2.l_linenumber = lineitem.l_linenumber
                 AND l2.l_quantity < lineitem.l_linenumber + 3)
           ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row:flat]",
    )
    assert got  # low line numbers have sub-threshold quantities


def test_having_corr_all_nonequi_residual(ctx, duck):
    """ALL with a residual: the count_star/count/min-max guards recompute
    over the residual-matched set, so NULL members and per-group EMPTY
    residual sets keep exact ANSI three-valued semantics."""
    _same(
        ctx,
        duck,
        """SELECT l_linenumber AS ln, COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber
           HAVING MIN(l_extendedprice) <= ALL (
               SELECT l2.l_extendedprice FROM lineitem l2
               WHERE l2.l_linenumber = lineitem.l_linenumber
                 AND l2.l_quantity > lineitem.l_linenumber * 6)
           ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row:flat]",
    )


def test_having_corr_residual_empty_sets(ctx, duck):
    """Residual that matches nothing: ANY reads FALSE (no group
    survives), ALL reads TRUE (every group survives) — through the
    0-count bundle rows, not join misses."""
    got_any = _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING AVG(l_quantity) > ANY (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag = lineitem.l_returnflag
                 AND l2.l_quantity > LENGTH(lineitem.l_returnflag) + 999)
           ORDER BY flag""",
        backing="scalarselect[cube<-hcorr-row:flat]",
    )
    assert got_any == []
    got_all = _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING AVG(l_quantity) <= ALL (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_returnflag = lineitem.l_returnflag
                 AND l2.l_quantity > LENGTH(lineitem.l_returnflag) + 999)
           ORDER BY flag""",
        backing="scalarselect[cube<-hcorr-row:flat]",
    )
    assert len(got_all) == 3


def test_having_corr_in_nonequi_residual(ctx, duck):
    """Correlated IN in HAVING with a residual (round 11): rides the
    row-grain bundle — the equality counts inside the bundle aggregation
    (a2), where the tuple's frame columns are in scope."""
    got = _same(
        ctx,
        duck,
        """SELECT l_linenumber AS ln, COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber
           HAVING MAX(l_quantity) IN (
               SELECT l2.l_quantity FROM lineitem l2
               WHERE l2.l_linenumber = lineitem.l_linenumber
                 AND l2.l_quantity >= lineitem.l_linenumber * 6)
           ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row:flat]",
    )
    assert got


def test_having_corr_not_in_nonequi_residual_null_members(ctx, duck):
    """Residual NOT IN keeps exact three-valued semantics over the
    residual-matched set: a NULL member (injected via the item
    expression) empties only the groups whose matched set contains it;
    groups with an EMPTY matched set always pass."""
    _same(
        ctx,
        duck,
        """SELECT l_linenumber AS ln, COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber
           HAVING MIN(l_quantity) NOT IN (
               SELECT CASE WHEN l2.l_quantity > 40 THEN NULL
                           ELSE l2.l_quantity END
               FROM lineitem l2
               WHERE l2.l_linenumber = lineitem.l_linenumber
                 AND l2.l_quantity > lineitem.l_linenumber * 6)
           ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row:flat]",
    )


def test_having_corr_in_residual_expression_item(ctx, duck):
    """The residual IN path accepts EXPRESSION items (the plain marker
    arm required a bare inner column): item and residual re-render over
    the reserved inner aliases."""
    got = _same(
        ctx,
        duck,
        """SELECT l_linenumber AS ln, COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber
           HAVING CAST(MAX(l_quantity) + 2 AS INT) IN (
               SELECT CAST(l2.l_quantity + 2 AS INT)
               FROM lineitem l2
               WHERE l2.l_linenumber = lineitem.l_linenumber
                 AND l2.l_quantity < lineitem.l_linenumber + 50)
           ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row:flat]",
    )
    assert got


def test_having_corr_residual_unselected_column_declines(ctx, duck):
    """A residual referencing an UNSELECTED outer column has no frame
    slot: decline (and the fallback cannot parse ANY — the statement
    raises rather than answering a different query)."""
    sql = """SELECT l_returnflag AS flag, COUNT(*) AS n
             FROM lineitem GROUP BY l_returnflag, l_linenumber
             HAVING AVG(l_quantity) > ANY (
                 SELECT l2.l_quantity FROM lineitem l2
                 WHERE l2.l_returnflag = lineitem.l_returnflag
                   AND l2.l_quantity > lineitem.l_linenumber * 2)
             ORDER BY flag, n"""
    duck.execute(sql).fetchall()  # DuckDB-valid: the decline is ours
    with pytest.raises(Exception, match="PARSE_SYNTAX_ERROR|ANY"):
        ctx.sql(sql).collect()


def test_having_corr_quantified_unservable_raises(ctx, duck):
    """A QUANTIFIED correlated HAVING whose correlation the machinery
    cannot bind (unselected column) is beyond BOTH surfaces: the engine
    declines and the fallback cannot even parse ANY — the statement
    raises rather than silently answering a different query. DuckDB can
    run it (the honest gap is Spark's missing quantifier parse)."""
    sql = """SELECT l_returnflag AS flag, COUNT(*) AS n
             FROM lineitem GROUP BY l_returnflag, l_linestatus
             HAVING AVG(l_quantity) > ANY (
                 SELECT l2.l_quantity FROM lineitem l2
                 WHERE l2.l_linestatus = lineitem.l_linestatus)
             ORDER BY flag, n"""
    duck.execute(sql).fetchall()  # DuckDB-valid: the decline is ours
    with pytest.raises(Exception, match="PARSE_SYNTAX_ERROR|ANY"):
        ctx.sql(sql).collect()


def test_having_corr_not_in_key_coincides_declines(ctx, duck):
    """NOT IN whose key column IS a correlation column cannot carry both
    equalities in one deduped key set: decline (the existing r9 decline
    shape), fallback correct."""
    _same(
        ctx,
        duck,
        """SELECT l_linestatus AS st, COUNT(*) AS n
           FROM lineitem GROUP BY l_linestatus
           HAVING l_linestatus NOT IN (SELECT o_orderstatus FROM orders
                                       WHERE o_orderstatus = l_linestatus)
           ORDER BY st""",
        backing="sparksql",
    )


# --------------------------------- correlated SELECT-list scalars (round 11)


def test_select_list_corr_scalar(ctx, duck):
    """A correlated scalar in the SELECT list serves from the per-key
    bundle LEFT-joined onto the frame (having_corr with an empty
    condition), its value expression inlined into the final projection —
    and the bundle itself rides a cube here."""
    _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n,
                  CAST((SELECT AVG(l2.l_quantity) FROM lineitem l2
                        WHERE l2.l_returnflag = lineitem.l_returnflag)
                       AS DOUBLE) AS grp_avg
           FROM lineitem GROUP BY l_returnflag ORDER BY flag""",
        backing="scalarselect[cube<-hcorr:cube]",
    )


def test_select_list_corr_scalar_in_arithmetic(ctx, duck):
    """The subquery composes inside arithmetic (share-of-own-group): the
    value AST splices into the enclosing item, so the division renders
    over the joined leaf columns."""
    _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag,
                  CAST(100.0 * COUNT(*) /
                       (SELECT COUNT(*) FROM lineitem l2
                        WHERE l2.l_returnflag = lineitem.l_returnflag)
                       AS DOUBLE) AS pct
           FROM lineitem GROUP BY l_returnflag ORDER BY flag""",
        backing="scalarselect[cube<-hcorr:cube]",
    )


def test_select_list_corr_scalar_nonequi_residual(ctx, duck):
    """Correlated select-list scalar WITH a non-equi residual rides the
    row-grain bundle (per distinct correlation+residual tuple)."""
    _same(
        ctx,
        duck,
        """SELECT l_linenumber AS ln, COUNT(*) AS n,
                  CAST((SELECT MAX(l2.l_extendedprice) FROM lineitem l2
                        WHERE l2.l_linenumber = lineitem.l_linenumber
                          AND l2.l_quantity < lineitem.l_linenumber * 8)
                       AS DOUBLE) AS mx
           FROM lineitem GROUP BY l_linenumber ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row:flat]",
    )


def test_select_list_corr_scalar_residual_avg_sum(ctx, duck):
    """REGRESSION (round 11, late): the HAVING-frame row-grain
    re-aggregation mapped every non-count leaf through min/max — a
    SUM/AVG leaf with a residual silently returned the MAX (caught live:
    prior-average read 49.0 for every group). The leaf map now carries
    the full count/sum/min/max/avg family, and count_star counts a
    synthesized __one marker (no key alias exists once anchors are
    optional, and a residual column may be NULL on a matched row)."""
    _same(
        ctx,
        duck,
        """SELECT l_linenumber AS ln, COUNT(*) AS n,
                  CAST((SELECT AVG(l2.l_quantity) FROM lineitem l2
                        WHERE l2.l_linenumber = lineitem.l_linenumber
                          AND l2.l_quantity < lineitem.l_linenumber * 8)
                       AS DOUBLE) AS prior_avg
           FROM lineitem GROUP BY l_linenumber ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row:flat]",
    )
    _same(
        ctx,
        duck,
        """SELECT l_linenumber AS ln, COUNT(*) AS n,
                  CAST((SELECT SUM(l2.l_linenumber) FROM lineitem l2
                        WHERE l2.l_linenumber = lineitem.l_linenumber
                          AND l2.l_quantity < lineitem.l_linenumber * 8)
                       AS DOUBLE) AS s
           FROM lineitem GROUP BY l_linenumber ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row:flat]",
    )


def test_select_list_scalar_residual_only_theta(ctx, duck):
    """Residual-only correlated scalar in the SELECT list (round 11,
    late) — the per-GROUP rate-card idiom: a range lookup against a tiny
    dim per group. No equi anchor, so the bundle joins distinct frame
    tuples to the broadcast dim row set on the residual alone, gated by
    the theta_inner_max_rows proof."""
    _same(
        ctx,
        duck,
        """SELECT l_linenumber AS ln, COUNT(*) AS n,
                  CAST((SELECT MAX(p_retailprice) FROM part
                        WHERE p_size > lineitem.l_linenumber
                          AND p_size < 10) AS DOUBLE) AS cap_price
           FROM lineitem GROUP BY l_linenumber ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row-theta:base[part]]",
    )


def test_having_scalar_residual_only_theta(ctx, duck):
    """The same residual-only theta bundle serving a HAVING comparison;
    COUNT over an empty theta-match set evaluates as 0 (the __one
    marker), keeping groups whose match set is empty comparable."""
    _same(
        ctx,
        duck,
        """SELECT l_linenumber AS ln, COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber
           HAVING COUNT(*) > (SELECT COUNT(*) * 20 FROM part
                              WHERE p_size > l_linenumber
                                AND p_size < 8)
           ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row-theta:base[part]]",
    )


@pytest.mark.parametrize(
    "sql",
    [
        # residual-only ALL in HAVING (theta bundle vs the frame)
        """SELECT l_linenumber AS ln, COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber
           HAVING COUNT(*) >= ALL (SELECT p_partkey / 2 FROM part
                                   WHERE p_size > l_linenumber
                                     AND p_size < 5)
           ORDER BY ln""",
        # residual-only positive ANY
        """SELECT l_linenumber AS ln, COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber
           HAVING COUNT(*) > ANY (SELECT p_partkey FROM part
                                  WHERE p_size > l_linenumber
                                    AND p_size < 5)
           ORDER BY ln""",
        # residual-only IN (expression item; the equality is a counted
        # leaf inside the bundle)
        """SELECT l_linenumber AS ln, COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber
           HAVING l_linenumber IN (SELECT p_size - 1 FROM part
                                   WHERE p_retailprice / 300
                                         > l_linenumber)
           ORDER BY ln""",
        # residual-only NOT IN with NULL members planted in SOME
        # per-group match sets — exact three-valued semantics
        """SELECT l_linenumber AS ln, COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber
           HAVING l_linenumber NOT IN (SELECT CASE WHEN p_size = 2
                                              THEN NULL
                                              ELSE p_size - 1 END
                                       FROM part
                                       WHERE p_retailprice / 300
                                             > l_linenumber)
           ORDER BY ln""",
    ],
)
def test_having_residual_only_theta(ctx, duck, sql):
    """Residual-only quantified / [NOT] IN in HAVING (round 11, late):
    the anchor-free forms ride the same broadcast-theta row-grain bundle
    as the frame-side scalars — distinct frame tuples join the proven-
    tiny dim row set on the residual alone, the guard leaves recompute
    per tuple, and the three-valued conditions render inline. Completes
    the residual-only matrix on every clause side."""
    _same(ctx, duck, sql,
          backing="scalarselect[flat<-hcorr-row-theta:base[part]]")


@pytest.mark.parametrize(
    "neg", ["", "NOT "],
)
def test_having_residual_only_exists_theta(ctx, duck, neg):
    """Residual-only [NOT] EXISTS in HAVING (round 11, late — the last
    theta-family cell): EXISTS is exactly `count of matched rows > 0`,
    so the anchor-free form rides a count_star broadcast-theta bundle
    against the frame."""
    _same(
        ctx,
        duck,
        f"""SELECT l_linenumber AS ln, COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber
           HAVING {neg}EXISTS (SELECT 1 FROM part
                               WHERE p_size > l_linenumber
                                 AND p_size < 4)
           ORDER BY ln""",
        backing="scalarselect[flat<-hcorr-row-theta:base[part]]",
    )


def test_having_exists_anchored_residual(ctx, duck):
    """Equi-ANCHORED [NOT] EXISTS with a residual in HAVING (previously
    declined through the marker arm's residual restriction): the same
    count_star row-grain bundle, recomputed per (anchor + residual
    frame column) tuple."""
    for neg in ("", "NOT "):
        _same(
            ctx,
            duck,
            f"""SELECT l_returnflag AS flag, COUNT(*) AS n
               FROM lineitem GROUP BY l_returnflag
               HAVING {neg}EXISTS (SELECT 1 FROM lineitem l2
                                   WHERE l2.l_returnflag
                                         = lineitem.l_returnflag
                                     AND l2.l_quantity > CASE WHEN
                                         lineitem.l_returnflag = 'A'
                                         THEN 48 ELSE 50 END)
               ORDER BY flag""",
            backing="scalarselect[cube<-hcorr-row:flat]",
        )


def test_having_exists_aggregate_filter_declines(ctx):
    """An OUTER aggregate inside the EXISTS subquery's WHERE has no
    column to bind through the frame map — parse-time decline (Spark's
    fallback cannot bind the shape either; the engine's error surfaces
    honestly instead of a lowering-time crash)."""
    with pytest.raises(Exception):
        ctx.sql(
            """SELECT l_returnflag AS flag, COUNT(*) AS n
               FROM lineitem GROUP BY l_returnflag
               HAVING EXISTS (SELECT 1 FROM lineitem l2
                              WHERE l2.l_returnflag
                                    = lineitem.l_returnflag
                                AND l2.l_quantity * 25 > COUNT(*))"""
        ).collect()


@pytest.mark.parametrize(
    "sql, reason",
    [
        # select-list scalar: an OUTER aggregate inside its residual
        (
            """SELECT l_returnflag AS flag, COUNT(*) AS n,
                      (SELECT COUNT(*) FROM lineitem l2
                       WHERE l2.l_returnflag = lineitem.l_returnflag
                         AND l2.l_linestatus < MAX(lineitem.l_returnflag))
                      AS c
               FROM lineitem GROUP BY l_returnflag""",
            "aggregate inside the select-list scalar subquery filter",
        ),
        # WHERE scalar: the same gap
        (
            """SELECT COUNT(*) FROM lineitem WHERE l_quantity >
                 (SELECT MAX(p_size) FROM part
                  WHERE p_partkey = lineitem.l_partkey
                    AND p_retailprice < SUM(lineitem.l_extendedprice))""",
            "aggregate inside the scalar subquery filter",
        ),
        # quantified comparison under OR: unknown outer residual column
        (
            """SELECT COUNT(*) FROM lineitem WHERE l_tax > 0.07
                  OR l_quantity > ANY
                 (SELECT p_size FROM part
                  WHERE p_partkey = lineitem.l_partkey
                    AND p_retailprice < lineitem.l_bogus)""",
            "references unknown outer columns ['l_bogus']",
        ),
    ],
    ids=["select_scalar_outer_agg", "where_scalar_outer_agg",
         "or_quantified_unknown_column"],
)
def test_residual_bundle_guards_decline(ctx, sql, reason):
    """The row-grain residual bundle's shared guards decline these shapes
    at parse (once each built an IR that crashed inside Catalyst without
    a query record). Spark cannot run them either, so the call still
    raises, but through the fallback: one sparksql record whose decision
    names the reason, which Spark's error also carries as a note."""
    before = len(ctx.query_history)
    with pytest.raises(Exception) as ei:
        ctx.sql(sql).collect()
    assert len(ctx.query_history) == before + 1
    rec = ctx.query_history[-1]
    assert rec.backing == "sparksql"
    assert reason in rec.decision, rec.decision
    assert any(reason in n for n in getattr(ei.value, "__notes__", []))


def test_having_corr_scalar_comparison(ctx, duck):
    """A correlated scalar inside a HAVING comparison (not quantified —
    plain >) serves through the same inlining: the rendered post-filter
    reads the joined leaf columns."""
    _same(
        ctx,
        duck,
        """SELECT l_returnflag AS flag, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag
           HAVING AVG(l_quantity) > (SELECT AVG(l2.l_quantity) - 0.2
                                     FROM lineitem l2
                                     WHERE l2.l_returnflag
                                           = lineitem.l_returnflag)
           ORDER BY flag""",
        backing="scalarselect[cube<-hcorr:cube]",
    )


def test_select_list_corr_scalar_unselected_declines(ctx, duck):
    """Correlation on an UNSELECTED column has no frame slot — decline.
    Spark's own fallback ALSO rejects the shape (a correlated scalar in
    an Aggregate's select list may only reference selected/grouping
    outputs), so the statement raises rather than silently answering a
    different query; DuckDB runs it (the honest gap is Spark's)."""
    sql = """SELECT l_returnflag AS flag, COUNT(*) AS n,
                    CAST((SELECT AVG(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_linestatus = lineitem.l_linestatus)
                         AS DOUBLE) AS other_avg
             FROM lineitem GROUP BY l_returnflag, l_linestatus
             ORDER BY flag, n"""
    duck.execute(sql).fetchall()  # DuckDB-valid: the decline is ours
    with pytest.raises(Exception):
        ctx.sql(sql).collect()
