"""OlapContext: the user-facing entry point (SPLSessionState/DefaultSource analog).

The reference registered Druid-backed tables via ``CREATE TABLE ... USING
org.sparklinedata.druid OPTIONS (...)`` (DefaultSource.scala:28-194) and
exposed ``EXPLAIN DRUID REWRITE`` plus metadata views
(SparklineDataParser.scala:42-124, metadata/DruidMetadataViews.scala). The
PySpark-native surface:

    ctx = OlapContext(spark, index, base_tables=..., star=...)
    df  = ctx.query(spec)            # QuerySpec IR -> DataFrame
    df  = ctx.execute_ir(json_dict)  # raw-IR execution (ON DRUIDDATASOURCE ... EXECUTE)
    txt = ctx.explain_rewrite(spec)  # EXPLAIN DRUID REWRITE analog
    ctx.query_history                # DruidQueryHistory analog (:61-75)
    ctx.register_metadata_views()    # metadata views as temp views
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from . import ir, lowering, planner, transforms
from .index import OlapIndex
from .metadata import FDGraph, FunctionalDependency, StarSchema


def get_spark(
    app: str = "pysparkline",
    cpus: str | int = "*",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local-mode session with the configs every pysparkline workload wants.

    On a real cluster these land in spark-defaults; the knobs that matter at
    100 TB: AQE on (runtime coalescing + skew-join), session TZ pinned to UTC
    (the reference pinned spark.sparklinedata.tz.id, DruidPlanner.scala:73-76),
    and a shuffle-partition count sized to the executor fleet.

    ``shuffle_partitions`` defaults to the fleet size (the ``cpus`` master
    setting, or the machine's cores for ``*``), floored at 8: the width
    every pinned exchange and non-AQE shuffle inherits should follow the
    fleet, not a constant tuned for one bench shape — the driver re-runs
    the bench at lower core counts exactly to check this scales down.
    """
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(cpus))
        except (TypeError, ValueError):
            shuffle_partitions = max(8, os.cpu_count() or 8)
    return (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def prep(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable session configs (for driver-owned sessions)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


@dataclass
class QueryRecord:
    spec: dict
    decision: str
    backing: str
    # adaptive-feedback fields (DruidQueryHistory carried druidExecTime etc.;
    # we carry the planner's group estimate and the post-execution observed
    # row count so olap_query_history exposes estimator drift)
    estimated_groups: float | None = None
    observed_rows: int | None = None


def _executed_output_rows(df: DataFrame) -> int | None:
    """Result row count from the EXECUTED plan's SQL metrics, else None.

    Reads the topmost numOutputRows metric (py4j walk, no Spark job). An
    unexecuted plan reports 0 and returns None — so harvesting is safe to
    attempt on lazy DataFrames the caller never ran."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if "AdaptiveSparkPlan" in plan.getClass().getSimpleName():
            if not plan.isFinalPlan():
                # not yet executed — calling finalPhysicalPlan() here would
                # TRIGGER stage materialization, not observe it
                return None
            plan = plan.finalPhysicalPlan()

        def first(p):
            if "QueryStage" in p.getClass().getSimpleName():
                return first(p.plan())
            m = p.metrics()
            if m.contains("numOutputRows"):
                return m.apply("numOutputRows").value()
            it = p.children().iterator()
            while it.hasNext():
                v = first(it.next())
                if v is not None:
                    return v
            return None

        v = first(plan)
        return int(v) if v is not None and v > 0 else None
    except Exception:
        return None


def _leaf_aggs(leaf_aggs: list) -> list:
    """Re-aggregation recipe for row-grain residual bundles (shared by
    the WHERE-side and HAVING-frame servers). Every leaf must evaluate
    over MATCHED rows only: the bundle's left join null-extends
    unmatched tuples, and a null-insensitive argument (COUNT(1),
    SUM(2), MIN(constant)) would read the extension row as a match —
    so the __one marker (non-null exactly on real inner rows) guards
    count_star AND every expression argument. (Wrong-answer bug caught
    by the round-11 review: COUNT(1) over an empty match set read 1,
    on both the theta and the equi-anchored residual paths.)"""
    from pyspark.sql import functions as F

    out = []
    for fn, arg, alias in leaf_aggs:
        col = (
            F.col("__one") if fn == "count_star"
            else F.when(F.col("__one").isNotNull(), F.expr(arg))
        )
        f2 = {
            "count_star": F.count, "count": F.count,
            "min": F.min, "max": F.max,
            "sum": F.sum, "avg": F.avg,
        }[fn]
        out.append(f2(col).alias(alias))
    return out


@dataclass
class OlapContext:
    spark: SparkSession
    index: OlapIndex
    base_tables: dict[str, DataFrame] | None = None
    star: StarSchema | None = None
    # name queries use for the indexed fact/datasource; defaults to the
    # star's fact table, so it only needs passing for star-less indexes
    fact_name: str | None = None
    fds: list[FunctionalDependency] = field(default_factory=list)
    max_result_cardinality: float = 1_000_000
    non_agg_handling: str = "push_project_and_filters"
    query_history: list[QueryRecord] = field(default_factory=list)
    # persist NDV feedback as a sidecar (``feedback.json``) in the index
    # directory, so a FRESH session starts with corrected estimates instead
    # of re-learning each misestimate (VERDICT r3 #8). Opt-in: a shared
    # index directory would otherwise leak learned state between unrelated
    # sessions/tests, making plan decisions depend on run history.
    # Single-writer like the index itself; the write is atomic (tmp+replace)
    persist_feedback: bool = False
    # the reference's allowTopN session gate (DruidPlanner.scala:149-159):
    # when True, every TopN-shaped query (including SQL GROUP BY ... ORDER
    # BY metric DESC LIMIT k rewritten by transforms.groupby_to_topn) is
    # ALLOWED to serve approximately from a cube's TopKSpec map; queries no
    # sketch matches still run exact. Per-query opt-in stays available via
    # TopNQuery(approx=True) regardless of this flag.
    allow_topn: bool = False
    # NOT IN routing (round 10): when the inner key's NDV estimate is at
    # or under this, the anti arm + NULL/empty guard pair is replaced by
    # Spark's single-column null-aware anti join (the exact NOT IN
    # semantics in ONE inner scan — the guard's second scan was the r9
    # matched-twin loss). Above it the guard form stays: NAAJ requires a
    # BROADCASTable build side, and Spark degrades an oversized one to a
    # nested-loop join — catastrophic at 100 TB, while the guard plan
    # stays hash-join + 1-row bundle at any scale. 4M longs ≈ 32 MB
    # hashed relation, comfortably executor-resident. 0 disables NAAJ.
    naaj_max_keys: float = 4_000_000
    # Residual-only EXISTS routing (round 11): a correlated EXISTS with
    # NO equi anchor joins on its residual alone — a theta join, served
    # ONLY as a broadcast nested loop over a PROVABLY tiny inner. The
    # server materializes the inner's (dim-grain, filtered, distinct)
    # row set with a LIMIT probe; at or under this row cap it broadcasts
    # and nested-loop semi/anti joins (per-outer-row work = cap
    # comparisons — trivial at this default, and the broadcast is a few
    # KB); past it the query declines to the spark.sql fallback, which
    # stays correct (Spark plans the same BroadcastNestedLoopJoin but
    # without the proof). 0 disables the routing entirely.
    theta_inner_max_rows: float = 1_000

    def __post_init__(self):
        prep(self.spark)
        self._fd_graph = FDGraph(self.fds) if self.fds else None
        self._plan_cache: dict = {}
        # SQL text -> plan-cache key: a repeated statement skips parse_sql
        self._sql_keys: dict[str, str] = {}
        self._plan_epoch = self.index.epoch
        self._feedback = planner.GroupCountFeedback()
        if self.persist_feedback:
            import os

            fp = os.path.join(self.index.path, "feedback.json")
            if os.path.exists(fp):
                try:
                    with open(fp) as fh:
                        self._feedback = planner.GroupCountFeedback.from_dict(
                            json.load(fh)
                        )
                except (OSError, ValueError):
                    pass  # corrupt/unreadable sidecar: start fresh
        # (df, record, spec, cache_key) awaiting execution-metric harvest
        self._pending_obs: list = []
        if self.star is None:
            self.star = self.index.star
        if self.fact_name is None and self.star is not None:
            self.fact_name = self.star.fact_table

    # ------------------------------------------------------------------ query
    def _base_df(self) -> DataFrame | None:
        if self.base_tables is None or self.star is None:
            return None
        # memoized: plan() passes this on every query but it's only consumed
        # on the rare base fallback; rebuilding the star join per query costs
        # N py4j join constructions of pure driver latency
        cached = getattr(self, "_base_df_cache", None)
        if cached is None:
            from .index import flatten_star

            cached = flatten_star(self.spark, self.base_tables, self.star)
            self._base_df_cache = cached
        return cached

    def plan(
        self,
        spec: ir.QuerySpec,
        force_row_grain: bool = False,
        extra_columns: set | None = None,
    ):
        spec = transforms.optimize(spec)
        if self.allow_topn and isinstance(spec, ir.TopNQuery):
            import dataclasses

            spec = dataclasses.replace(spec, approx=True)
        backing, decision = planner.choose_backing(
            spec,
            self.index,
            base_df=None if self.base_tables is None else self._base_df(),
            fd_graph=self._fd_graph,
            max_result_cardinality=self.max_result_cardinality,
            non_agg_handling=self.non_agg_handling,
            feedback=self._feedback,
            force_row_grain=force_row_grain,
            extra_columns=extra_columns,
        )
        return spec, backing, decision

    def query(self, spec: ir.QuerySpec) -> DataFrame:
        """Plan + lower a QuerySpec. Compiled plans are cached by canonical
        spec (bounded FIFO): repeated queries reuse the analyzed/optimized
        DataFrame, so only job execution is paid — the serving posture of an
        OLAP endpoint (the reference's Druid side equally reused compiled
        segment plans across repeated queries)."""
        key = self._spec_key(spec)
        df = self._cached_plan(key)
        if df is not None:
            return df

        def memo(df: DataFrame, explain: str, backing: str) -> DataFrame:
            record = QueryRecord(spec.to_dict(), explain, backing)
            self.query_history.append(record)
            if len(self._plan_cache) >= 256:
                self._plan_cache.pop(next(iter(self._plan_cache)))
            self._plan_cache[key] = (df, record)
            return df

        if isinstance(spec, ir.SetOpQuery):
            df, backings = self._lower_setop(spec)
            return memo(
                df,
                f"set operation ({spec.op}"
                + (" all" if spec.all else "")
                + f"): arms [{backings}]",
                f"setop[{backings}]",
            )
        if isinstance(spec, ir.SemiJoinQuery):
            df, desc = self._lower_semijoin(spec)
            return memo(df, f"semi-join acceleration: {desc}", desc)
        if isinstance(spec, ir.ScalarSelectQuery):
            df, desc = self._lower_scalar_select(spec)
            return memo(df, f"select-list scalar acceleration: {desc}", desc)
        spec, backing, decision = self.plan(spec)
        record = QueryRecord(
            spec.to_dict(),
            decision.pretty(),
            decision.backing,
            estimated_groups=decision.estimated_groups,
        )
        self.query_history.append(record)
        df = lowering.lower(spec, backing)
        if len(self._plan_cache) >= 256:  # bounded; FIFO eviction is fine here
            self._plan_cache.pop(next(iter(self._plan_cache)))
        self._plan_cache[key] = (df, record)
        if self._feedback_eligible(spec):
            self._pending_obs.append([df, record, spec, key, 0])
            del self._pending_obs[:-64]  # bounded
        return df

    @staticmethod
    def _spec_key(spec: ir.QuerySpec) -> str:
        return json.dumps(spec.to_dict(), sort_keys=True, default=str)

    def _cached_plan(self, key: str) -> DataFrame | None:
        """The compiled plan cached under ``key`` (recorded in the query
        history), or None. Drops every cached plan first when the index
        epoch moved: they reference a stale file listing."""
        if self._plan_epoch != self.index.epoch:
            self._plan_cache.clear()
            self._sql_keys.clear()
            self._plan_epoch = self.index.epoch
        self._harvest_feedback()
        cached = self._plan_cache.get(key)
        if cached is None:
            return None
        df, record = cached
        self.query_history.append(record)
        return df

    @staticmethod
    def _apply_limit_spec(df: DataFrame, ls) -> DataFrame:
        """Statement-level ORDER BY / OFFSET / LIMIT over final outputs
        (set-op and scalar-select wrappers; lowering.py keeps its own
        variant because the cube-backed path folds the sort into one
        coalesced task — an optimization that does not apply above
        joins/unions of already-lowered frames)."""
        from pyspark.sql import functions as F

        if ls is None:
            return df
        if ls.columns:
            df = df.orderBy(
                *[
                    F.col(c.column).asc()
                    if c.direction == "asc"
                    else F.col(c.column).desc()
                    for c in ls.columns
                ]
            )
        if getattr(ls, "offset", None):
            df = df.offset(ls.offset)
        if ls.limit is not None:
            df = df.limit(ls.limit)
        return df

    def _lower_setop(self, spec: "ir.SetOpQuery"):
        """Plan + lower each arm through the index independently, combine
        the LAZY results in one DAG (ir.SetOpQuery docstring). Positional
        column alignment (ANSI set-op semantics): the right arm is renamed
        to the left arm's output names before combining. Returns
        (DataFrame, comma-joined per-arm backing names)."""
        from pyspark.sql import functions as F

        def arm(s):
            if isinstance(s, ir.SetOpQuery):
                return self._lower_setop(s)
            if isinstance(s, ir.SemiJoinQuery):
                # a set-op arm carrying WHERE subqueries (round 8): lower
                # through the semi-join path; its descriptor becomes the
                # arm's backing name
                return self._lower_semijoin(s)
            if isinstance(s, ir.ScalarSelectQuery):
                return self._lower_scalar_select(s)
            s2, backing, decision = self.plan(s)
            return lowering.lower(s2, backing), decision.backing

        ldf, lb = arm(spec.left)
        rdf, rb = arm(spec.right)
        rdf = rdf.toDF(*ldf.columns)
        if spec.op == "union":
            df = ldf.union(rdf)
            if not spec.all:
                df = df.distinct()
        elif spec.op == "intersect":
            df = ldf.intersectAll(rdf) if spec.all else ldf.intersect(rdf)
        else:  # except: ANSI EXCEPT is distinct; EXCEPT ALL is bag subtract
            df = ldf.exceptAll(rdf) if spec.all else ldf.subtract(rdf)
        df = self._apply_limit_spec(df, spec.limit_spec)
        return df, f"{lb},{rb}"

    def _prove_tiny_inner(self, df: DataFrame, what: str) -> DataFrame:
        """The tiny-inner PROOF behind every residual-only (theta)
        construct: LIMIT-probe the row set against theta_inner_max_rows
        and return a LOCAL DataFrame of the proven-tiny rows — ONE scan
        serves both the proof and the subsequent broadcast join (the
        probe already materializes at most cap+1 rows, so re-planning
        the inner for the join would just scan the dim table twice).
        Past the cap (or with the routing disabled) a lowering-time
        SQLFrontError surfaces and the spark.sql fallback answers."""
        from .sqlfront import SQLFrontError

        cap = int(self.theta_inner_max_rows)
        if cap <= 0:
            raise SQLFrontError(
                f"residual-only {what} routing disabled"
                " (theta_inner_max_rows <= 0)"
            )
        rows = df.limit(cap + 1).collect()
        if len(rows) > cap:
            raise SQLFrontError(
                f"residual-only {what} inner exceeds theta_inner_max_rows"
                f" ({len(rows)} > {cap})"
            )
        return self.spark.createDataFrame(rows, df.schema)

    def _lower_base_keys(self, spec: "ir.BaseKeysQuery") -> DataFrame:
        """Lower a dim-grain key set over the registered base table (see
        ir.BaseKeysQuery: the flat backing is fact grain, so dim rows with
        no fact match would be dropped — wrong for anti-joins and off-path
        correlation keys). filter -> select -> distinct: the distinct is a
        map-side-combined agg that shrinks the semi-join build side before
        any shuffle."""
        from pyspark.sql import functions as F

        tbl = self._base_table(spec.table)
        if spec.filter is not None:
            tbl = tbl.where(lowering.filter_to_column(spec.filter))
        cols = (
            [F.col(k) for k in spec.keys]
            + [F.expr(sql).alias(a) for sql, a in spec.exprs]
            + [F.col(c).alias(a) for c, a in spec.extra]
        )
        out = tbl.select(*cols)
        # row-grain mode (theta scalar bundles) keeps multiplicity —
        # SUM/AVG/COUNT re-aggregation over the matched rows needs it
        return out.distinct() if spec.distinct else out

    def _base_table(self, name: str) -> DataFrame:
        from .sqlfront import SQLFrontError

        tbl = (self.base_tables or {}).get(name)
        if tbl is None:
            # AST table names are lowercased
            for nm, df in (self.base_tables or {}).items():
                if nm.lower() == name:
                    return df
            raise SQLFrontError(
                f"subquery table {name!r} has no registered base table"
            )
        return tbl

    def _lower_base_scalar(self, spec: "ir.BaseScalarQuery") -> DataFrame:
        """Aggregate over the registered base table (dim grain — see
        ir.BaseScalarQuery; an aggregate over orders evaluated on flat rows
        would weight each order by its lineitem count). The multi-agg form
        (spec.aggs) serves guard bundles; group_keys makes it the
        decorrelated per-key scalar (one row per key, map-side combined)."""
        from pyspark.sql import functions as F

        tbl = self._base_table(spec.table)
        if spec.filter is not None:
            tbl = tbl.where(lowering.filter_to_column(spec.filter))
        if spec.aggs:
            exprs = [F.expr(sql).alias(alias) for sql, alias in spec.aggs]
            if spec.group_keys:
                return tbl.groupBy(*spec.group_keys).agg(*exprs)
            return tbl.agg(*exprs)
        return tbl.agg(F.expr(spec.agg_sql).alias("__scalar"))

    def _lower_scalar_select(self, spec: "ir.ScalarSelectQuery"):
        """Lower the base (possibly a SemiJoinQuery — WHERE subqueries
        compose), broadcast-cross-join each 1-row scalar, apply the
        deferred projection in statement order, then the LIFTED
        ORDER BY/LIMIT (above the joins, so emitted order is guaranteed
        and scalar-derived outputs are sortable). Returns
        (DataFrame, `scalarselect[base<-ss:...,...]`)."""
        from pyspark.sql import functions as F

        base = spec.base
        if isinstance(base, ir.SemiJoinQuery):
            bdf, bdesc = self._lower_semijoin(base)
        else:
            s2, backing, decision = self.plan(base)
            bdf = lowering.lower(s2, backing)
            bdesc = decision.backing
        descs: list[str] = []
        for inner, alias in spec.scalars:
            if isinstance(inner, ir.BaseScalarQuery):
                sdf = self._lower_base_scalar(inner)
                descs.append(f"ss:base[{inner.table}]")
            else:
                s2, b2, d2 = self.plan(inner)
                sdf = lowering.lower(s2, b2)
                descs.append(f"ss:{d2.backing}")
            bdf = bdf.crossJoin(
                F.broadcast(sdf.select(F.col("__scalar").alias(alias)))
            )
        for j, (inner, outer_sqls, inner_keys, marker) in enumerate(
            spec.having_arms
        ):
            # HAVING membership arm (round 9): LEFT join the inner's
            # DISTINCT key set onto the aggregated frame with a
            # literal-true flag — distinct on ALL join keys, so group rows
            # never duplicate; AQE broadcast-converts NDV-bounded key
            # sets at runtime (a huge set degrades to a shuffled hash
            # join on the keys — never a cross product). Multi-key arms
            # carry equi-correlated [NOT] EXISTS / IN (the correlation
            # pairs bind to selected group columns of the frame). The
            # post_filters below read the flag (coalesce(flag,false)).
            if isinstance(inner, ir.BaseKeysQuery):
                kdf = self._lower_base_keys(inner)
                descs.append(f"hm:base[{inner.table}]")
            else:
                s2, b2, d2 = self.plan(inner)
                kdf = lowering.lower(s2, b2)
                descs.append(f"hm:{d2.backing}")
            aliases = [f"__hk{j}_{i}" for i in range(len(inner_keys))]
            kdf = kdf.select(
                *[F.col(k).alias(a) for k, a in zip(inner_keys, aliases)]
            ).withColumn(marker, F.lit(True))
            cond = None
            for osql, a in zip(outer_sqls, aliases):
                c2 = F.expr(osql) == F.col(a)
                cond = c2 if cond is None else (cond & c2)
            bdf = bdf.join(kdf, cond, "left").drop(*aliases)
        for j, cc in enumerate(spec.having_corr):
            # correlated HAVING quantified / NOT IN (round 10): LEFT join
            # the per-correlation-key aggregate bundle onto the aggregated
            # frame (pairs bind to SELECTED group columns — frame output
            # aliases); the three-valued condition lives inline in the
            # post_filters, and the left join keeps unmatched groups (the
            # empty set) flowing to it. Leaf/key aliases vanish in the
            # final projection. AQE broadcast-converts the NDV-bounded
            # bundle at runtime; never a cross product.
            tag = "hcorr-row" if getattr(cc, "row_grain", False) else "hcorr"
            if getattr(cc, "broadcast_theta", False):
                tag += "-theta"
            if isinstance(cc.inner, ir.BaseScalarQuery):
                adf = self._lower_base_scalar(cc.inner)
                descs.append(f"{tag}:base[{cc.inner.table}]")
            elif isinstance(cc.inner, ir.BaseKeysQuery):
                # dim-grain ROW set (theta scalar bundles, distinct=False)
                adf = self._lower_base_keys(cc.inner)
                descs.append(f"{tag}:base[{cc.inner.table}]")
            else:
                s2, b2, d2 = self.plan(cc.inner)
                adf = lowering.lower(s2, b2)
                descs.append(f"{tag}:{d2.backing}")
            key_alias = {
                k: f"__hck{j}_{i}" for i, k in enumerate(cc.inner_keys)
            }
            if getattr(cc, "row_grain", False):
                # non-equi residual mode (round 11): the bundle cannot
                # precompute per correlation key, so build it per DISTINCT
                # (pair outer cols + residual frame cols) tuple — distinct
                # frame tuples LEFT-join the inner's raw rows on the equi
                # pairs AND residual_sql, the leaf aggregates recompute
                # per tuple, and the bundle joins back null-safely. Frame
                # rows can never duplicate (bundle is keyed by the tuple),
                # and scale is |distinct tuples| x matched rows — the
                # shuffle is on the correlation keys, never a cross
                # product. count_star counts a key alias (non-null exactly
                # on residual-matched join rows), so an empty residual set
                # reads 0, matching the bundle-miss semantics cond_sql's
                # COALESCEs expect.
                fkey_cols = list(dict.fromkeys(
                    [o for o, _ in cc.pairs]
                    + list(cc.residual_frame_cols)
                ))
                fkeys = bdf.select(*fkey_cols).distinct()
                rows = adf.select(
                    *[F.col(k).alias(a) for k, a in key_alias.items()],
                    *[F.col(c) for c in cc.residual_cols],
                )
                if getattr(cc, "broadcast_theta", False):
                    # residual-only: the tuple-to-rows join is pure
                    # theta — prove the dim row set tiny, materialize
                    # locally (one scan serves proof and join),
                    # broadcast (frame tuples are group-sized;
                    # per-tuple work is <= cap predicate evaluations)
                    rows = F.broadcast(
                        self._prove_tiny_inner(rows, "scalar")
                        .withColumn("__one", F.lit(1))
                    )
                else:
                    rows = rows.withColumn("__one", F.lit(1))
                cond = None
                for o, ik in cc.pairs:
                    c2 = F.col(o) == F.col(key_alias[ik])
                    cond = c2 if cond is None else (cond & c2)
                if cc.residual_sql:
                    r2 = F.expr(cc.residual_sql)
                    cond = r2 if cond is None else (cond & r2)
                bundle = (
                    fkeys.join(rows, cond, "left")
                    .groupBy(*[F.col(c) for c in fkey_cols])
                    .agg(*_leaf_aggs(cc.leaf_aggs))
                )
                back = {c: f"__hbk{j}_{i}" for i, c in enumerate(fkey_cols)}
                bundle = bundle.select(
                    *[F.col(c).alias(a) for c, a in back.items()],
                    *[F.col(al) for _f, _a, al in cc.leaf_aggs],
                )
                jcond = None
                for c, a in back.items():
                    c2 = F.col(c).eqNullSafe(F.col(a))
                    jcond = c2 if jcond is None else (jcond & c2)
                bdf = bdf.join(bundle, jcond, "left").drop(*back.values())
                continue
            aliased = adf.select(
                *[F.col(k).alias(a) for k, a in key_alias.items()],
                *[F.col(a) for a in cc.leaf_cols],
            )
            cond = None
            for o, ik in cc.pairs:
                c2 = F.col(o) == F.col(key_alias[ik])
                cond = c2 if cond is None else (cond & c2)
            bdf = bdf.join(aliased, cond, "left").drop(*key_alias.values())
        for g in spec.having_guards:
            # HAVING guard bundle (round 9): broadcast the 1-row aggregate
            # bundle; its three-valued condition lives inline in the
            # post_filters (GuardCond.standalone is False here)
            if isinstance(g.inner, ir.BaseScalarQuery):
                gdf = self._lower_base_scalar(g.inner)
                descs.append(f"hg:base[{g.inner.table}]")
            else:
                s2, b2, d2 = self.plan(g.inner)
                gdf = lowering.lower(s2, b2)
                descs.append(f"hg:{d2.backing}")
            bdf = bdf.crossJoin(
                F.broadcast(gdf.select(*[F.col(c) for c in g.inner_cols]))
            )
        for pf in spec.post_filters:
            # HAVING conjuncts carrying subqueries: filter over the joined
            # frame before the projection (base outputs + hidden leaves +
            # scalar aliases + marker flags + guard columns all visible)
            bdf = bdf.where(F.expr(pf))
        out = bdf.select(
            *[
                F.col(n) if sql is None else F.expr(sql).alias(n)
                for n, sql in spec.final
            ]
        )
        out = self._apply_limit_spec(out, spec.limit_spec)
        return out, f"scalarselect[{bdesc}<-{','.join(descs)}]"

    def _lower_semijoin(self, spec: "ir.SemiJoinQuery"):
        """Plan the arms independently (fact-grain inners may ride a cube;
        dim-grain inners read the base table), force the OUTER past the
        cubes to a row-grain backing (the semi-join key is row grain), and
        left_semi/left_anti join each arm's key set into the outer's
        pruned scan BEFORE its aggregation. Catalyst pushes the outer's
        own filters below the join and AQE broadcast-converts small key
        sets at runtime; at 100 TB a large key set degrades to a shuffled
        hash semi-join on the key — never a cross product. Returns
        (DataFrame, backing descriptor `semijoin[outer<-arm,...]`)."""
        from pyspark.sql import functions as F

        # NOT IN routing (naaj_max_keys doc): a standalone single-key anti
        # arm whose paired guard aggregates it (GuardCond.over_arm) becomes
        # ONE null-aware anti join when the key's NDV estimate fits a
        # broadcast — the guard (and its second inner scan) is dropped;
        # Spark's ExtractSingleColumnNullAwareAntiJoin plans the
        # Or(equal, isnull(equal)) LeftAnti condition as a BroadcastHashJoin
        # with exact ANSI NOT IN semantics (empty set keeps all, a NULL
        # member drops all). NDV is an upper bound for the FILTERED key
        # set, so oversized estimates only decline the optimization.
        naaj_guards: set[int] = set()
        naaj_arms: set[int] = set()
        for gi, g in enumerate(spec.guards):
            if g.over_arm is None or not g.standalone:
                continue
            arm = spec.arms[g.over_arm]
            if arm.marker or not arm.anti or len(arm.inner_keys) != 1:
                continue
            ndv = self.index.ndv(arm.inner_keys[0]) if self.index else None
            if ndv is not None and 0 < ndv <= self.naaj_max_keys:
                naaj_guards.add(gi)
                naaj_arms.add(g.over_arm)

        arm_dfs: list[DataFrame] = []
        descs: list[str] = []
        for ai, arm in enumerate(spec.arms):
            theta = getattr(arm, "broadcast_theta", False)
            tag = (
                "mark:" if arm.marker
                else ("naaj:" if ai in naaj_arms else
                      ("theta-anti:" if theta and arm.anti else
                       ("theta:" if theta else
                        ("anti:" if arm.anti else ""))))
            )
            if isinstance(arm.inner, ir.BaseKeysQuery):
                arm_dfs.append(self._lower_base_keys(arm.inner))
                descs.append(tag + f"base[{arm.inner.table}]")
            else:
                s2, backing, decision = self.plan(arm.inner)
                arm_dfs.append(lowering.lower(s2, backing))
                descs.append(tag + decision.backing)
        scalar_dfs: list[DataFrame] = []
        for scond in spec.scalar_conds:
            if isinstance(scond.inner, ir.BaseScalarQuery):
                scalar_dfs.append(self._lower_base_scalar(scond.inner))
                descs.append(f"scalar:base[{scond.inner.table}]")
            else:
                s2, b2, d2 = self.plan(scond.inner)
                scalar_dfs.append(lowering.lower(s2, b2))
                descs.append(f"scalar:{d2.backing}")
        guard_dfs: list[DataFrame] = []
        for gi, g in enumerate(spec.guards):
            if gi in naaj_guards:
                # subsumed by the null-aware anti join (routing above):
                # no bundle, no second scan, no filter
                guard_dfs.append(None)
                continue
            if g.over_arm is not None:
                # guard-over-arm (NOT IN): aggregate the sibling arm's
                # DISTINCT key set instead of re-scanning the inner table —
                # both branches share the arm's subplan, so ReuseExchange
                # serves them from ONE scan (GuardCond.over_arm doc)
                adf = arm_dfs[g.over_arm]
                guard_dfs.append(
                    adf.agg(
                        *[F.expr(sql).alias(a) for sql, a in g.arm_aggs]
                    )
                )
                descs.append("guard:arm")
            elif isinstance(g.inner, ir.BaseScalarQuery):
                guard_dfs.append(self._lower_base_scalar(g.inner))
                descs.append(f"guard:base[{g.inner.table}]")
            else:
                s2, b2, d2 = self.plan(g.inner)
                guard_dfs.append(lowering.lower(s2, b2))
                descs.append(f"guard:{d2.backing}")
        corr_dfs: list[DataFrame] = []
        for cc in spec.corr_scalars:
            tag = "corrguard" if cc.cond_sql else "corrscalar"
            if getattr(cc, "broadcast_theta", False):
                tag += "-theta"
            if isinstance(cc.inner, ir.BaseScalarQuery):
                corr_dfs.append(self._lower_base_scalar(cc.inner))
                descs.append(f"{tag}:base[{cc.inner.table}]")
            elif isinstance(cc.inner, ir.BaseKeysQuery):
                # dim-grain ROW set (theta scalar bundles: distinct=False
                # keeps multiplicity for SUM/AVG/COUNT re-aggregation)
                corr_dfs.append(self._lower_base_keys(cc.inner))
                descs.append(f"{tag}:base[{cc.inner.table}]")
            else:
                s2, b2, d2 = self.plan(cc.inner)
                corr_dfs.append(lowering.lower(s2, b2))
                descs.append(f"{tag}:{d2.backing}")
        join_cols: set = set()
        for arm in spec.arms:
            join_cols.update(arm.outer_keys)
            join_cols.update(arm.residual_outer_cols)
        for scond in spec.scalar_conds:
            join_cols.update(scond.outer_columns)
        for g in spec.guards:
            join_cols.update(g.outer_columns)
        for cc in spec.corr_scalars:
            join_cols.update(cc.outer_columns)
            join_cols.update(o for o, _ in cc.pairs)
            join_cols.update(getattr(cc, "residual_frame_cols", []) or [])
        join_cols.update(spec.or_columns)
        outer2, backing, decision = self.plan(
            spec.outer, force_row_grain=True, extra_columns=join_cols
        )
        assert backing.kind != "cube", "semi-join outer must be row grain"
        df = backing.df
        deferred_drop: list[str] = []  # inline corr-guard columns
        for j, (scond, sdf) in enumerate(zip(spec.scalar_conds, scalar_dfs)):
            # lazy scalar: broadcast the 1-row aggregate and filter — no
            # driver-side collect, and a NULL scalar (empty input) makes
            # the comparison NULL = rows dropped, exactly ANSI. Inline
            # (OR-composed) conditions filter via or_filters instead.
            alias = scond.alias or f"__sc{j}"
            one = F.broadcast(
                sdf.select(F.col(scond.inner_col).alias(alias))
            )
            df = df.crossJoin(one)
            if scond.standalone:
                lhs, rhs = f"({scond.outer_sql})", f"`{alias}`"
                if scond.flip:
                    lhs, rhs = rhs, lhs
                df = df.where(F.expr(f"{lhs} {scond.op} {rhs}"))
        for g, gdf in zip(spec.guards, guard_dfs):
            if gdf is None:
                continue  # subsumed by a null-aware anti join
            # quantified guard: broadcast the 1-row aggregate bundle and
            # filter with the three-valued condition (GuardCond docstring);
            # inline (OR-composed) conditions filter via or_filters
            one = F.broadcast(gdf.select(*[F.col(c) for c in g.inner_cols]))
            df = df.crossJoin(one)
            if g.standalone:
                df = df.where(F.expr(g.cond_sql))
        for j, (cc, adf) in enumerate(
            zip(spec.corr_scalars, corr_dfs)
        ):
            # decorrelated scalar: join the per-key aggregate table on the
            # correlation pairs (AQE broadcasts an NDV-bounded build side
            # at runtime; a huge one degrades to a shuffled hash join on
            # the key — never a per-row recomputation), then compare.
            # left join only when a count-class leaf needs empty groups to
            # evaluate (COALESCE in value_sql); otherwise inner — a
            # missing group's NULL scalar drops the row either way (ANSI),
            # and inner lets Catalyst push outer-side filters both ways.
            key_alias = {
                k: f"__ck{j}_{i}" for i, k in enumerate(cc.inner_keys)
            }
            if getattr(cc, "row_grain", False):
                # NON-EQUI residual mode (round 11 — the HAVING machinery
                # with the row-grain scan as the frame): bundle leaves
                # recompute per DISTINCT (pair outer + residual outer
                # column) tuple after the residual-conditioned join, then
                # join back null-safely — never per outer ROW, and scale
                # is |distinct tuples| x matched rows on the correlation
                # keys (the classical decorrelation Spark itself plans
                # for these shapes; this serves it from the pruned
                # backing instead of a raw re-scan).
                fkey_cols = list(dict.fromkeys(
                    [o for o, _ in cc.pairs]
                    + list(cc.residual_frame_cols)
                ))
                fkeys = df.select(*fkey_cols).distinct()
                rows_df = adf.select(
                    *[F.col(k).alias(a) for k, a in key_alias.items()],
                    *[F.col(c) for c in cc.residual_cols],
                )
                if getattr(cc, "broadcast_theta", False):
                    # residual-only (no equi anchor): the tuple-to-rows
                    # join below is pure theta — prove the dim row set
                    # tiny, materialize it locally (one scan serves
                    # proof and join), broadcast (cost per tuple is
                    # <= cap predicate evaluations, the same class as
                    # the theta semi arms). __one marks real inner rows
                    # so leaf aggregates see ONLY matched rows through
                    # the left join (a residual COLUMN may be
                    # legitimately NULL on a matched row).
                    rows_df = F.broadcast(
                        self._prove_tiny_inner(rows_df, "scalar")
                        .withColumn("__one", F.lit(1))
                    )
                else:
                    rows_df = rows_df.withColumn("__one", F.lit(1))
                rcond = None
                for o, ik in cc.pairs:
                    c2 = F.col(o) == F.col(key_alias[ik])
                    rcond = c2 if rcond is None else (rcond & c2)
                if cc.residual_sql:
                    r2 = F.expr(cc.residual_sql)
                    rcond = r2 if rcond is None else (rcond & r2)
                aggs = _leaf_aggs(cc.leaf_aggs)
                bundle = (
                    fkeys.join(rows_df, rcond, "left")
                    .groupBy(*[F.col(c) for c in fkey_cols])
                    .agg(*aggs)
                )
                back = {
                    c: f"__cbk{j}_{i}" for i, c in enumerate(fkey_cols)
                }
                bundle = bundle.select(
                    *[F.col(c).alias(a) for c, a in back.items()],
                    *[F.col(a) for a in cc.leaf_cols],
                )
                jcond = None
                for c, a in back.items():
                    c2 = F.col(c).eqNullSafe(F.col(a))
                    jcond = c2 if jcond is None else (jcond & c2)
                df = df.join(bundle, jcond, "left").drop(*back.values())
                if not cc.standalone:
                    deferred_drop.extend(cc.leaf_cols)
                else:
                    lhs, rhs = f"({cc.outer_sql})", f"({cc.value_sql})"
                    if cc.flip:
                        lhs, rhs = rhs, lhs
                    df = df.where(F.expr(f"{lhs} {cc.op} {rhs}"))
                    df = df.drop(*cc.leaf_cols)
                continue
            aliased = adf.select(
                *[F.col(k).alias(a) for k, a in key_alias.items()],
                *[F.col(a) for a in cc.leaf_cols],
            )
            cond = None
            for o, ik in cc.pairs:
                c2 = F.col(o) == F.col(key_alias[ik])
                cond = c2 if cond is None else (cond & c2)
            df = df.join(
                aliased, cond, "left" if cc.left_join else "inner"
            )
            if not cc.standalone:
                # inline (OR-composed) form: the condition lives inside an
                # or_filters expression — keep the leaf columns visible
                # until that filter has run (dropped below)
                deferred_drop.extend(key_alias.values())
                deferred_drop.extend(cc.leaf_cols)
            else:
                if cc.cond_sql:
                    # guard form (correlated NOT IN / quantified): the
                    # boolean condition IS the filter
                    df = df.where(F.expr(cc.cond_sql))
                else:
                    lhs, rhs = f"({cc.outer_sql})", f"({cc.value_sql})"
                    if cc.flip:
                        lhs, rhs = rhs, lhs
                    df = df.where(F.expr(f"{lhs} {cc.op} {rhs}"))
                df = df.drop(*key_alias.values(), *cc.leaf_cols)
        markers: list[str] = []
        for i, (arm, adf) in enumerate(zip(spec.arms, arm_dfs)):
            # unambiguous join keys: rename the arm's output columns — the
            # semi/anti join emits left-side columns only, so the aliases
            # never leak into the outer's plan. Reserved __sjr_* residual
            # columns (non-equi EXISTS) pass through under their aliases.
            cols = [
                F.col(k).alias(f"__sj{i}_{j}")
                for j, k in enumerate(arm.inner_keys)
            ] + [F.col(c) for c in adf.columns if c.startswith("__sjr_")]
            aliased = adf.select(*cols)
            if getattr(arm, "broadcast_theta", False):
                # residual-only EXISTS (ir.SemiJoinArm.broadcast_theta):
                # the tiny-inner proof materializes the dim-grain
                # distinct row set locally (_prove_tiny_inner — one
                # scan serves proof AND join), then a broadcast
                # nested-loop semi/anti join on the residual: the fact
                # side streams, per-row work is <= cap predicate
                # evaluations, and NULL comparisons never match —
                # exactly [NOT] EXISTS semantics.
                local = self._prove_tiny_inner(aliased, "EXISTS")
                df = df.join(
                    F.broadcast(local),
                    F.expr(arm.residual_sql),
                    "left_anti" if arm.anti else "left_semi",
                )
                continue
            if i in naaj_arms:
                # null-aware anti join: Or(equal, isnull(equal)) LeftAnti —
                # Spark's ExtractSingleColumnNullAwareAntiJoin pattern, the
                # exact NOT IN in one scan (key set keeps NULL members: the
                # DISTINCT never dropped them)
                eq = F.col(arm.outer_keys[0]) == F.col(f"__sj{i}_0")
                df = df.join(aliased, eq | F.isnull(eq), "left_anti")
                continue
            cond = None
            for j, ok in enumerate(arm.outer_keys):
                c = F.col(ok) == F.col(f"__sj{i}_{j}")
                cond = c if cond is None else (cond & c)
            if arm.residual_sql:
                # non-equi residual: ANDed into the join condition — NULLs
                # never match, exactly the EXISTS comparison semantics; the
                # equi conjunct still drives the hash join, the residual
                # filters within matches (never a theta join)
                cond = cond & F.expr(arm.residual_sql)
            if arm.marker:
                # OR-composed atom (ExistenceJoin analog): LEFT join the
                # key set with a literal-true flag; the key set is
                # DISTINCT on the full join condition (parse guarantees no
                # residual), so the join cannot duplicate outer rows
                flagged = aliased.withColumn(arm.marker, F.lit(True))
                df = df.join(flagged, cond, "left").drop(
                    *[f"__sj{i}_{j}" for j in range(len(arm.inner_keys))]
                )
                markers.append(arm.marker)
            else:
                df = df.join(
                    aliased, cond, "left_anti" if arm.anti else "left_semi"
                )
        for of in spec.or_filters:
            df = df.where(F.expr(of))
        if markers or deferred_drop:
            df = df.drop(*markers, *deferred_drop)
        backing.df = df
        out = lowering.lower(outer2, backing)
        return out, f"semijoin[{decision.backing}<-{','.join(descs)}]"

    @staticmethod
    def _feedback_eligible(spec: ir.QuerySpec) -> bool:
        """Group-count feedback only where output rows == group count: an
        agg shape with no row limit/offset, no HAVING, and no grouping sets
        — each of those makes the observed count something other than the
        grouping cardinality (and the feedback signature doesn't carry them,
        so admitting them would poison signature-colliding queries)."""
        if isinstance(spec, ir.TimeseriesQuery):
            # zero-fill emits one row per interval bucket (the spine), not
            # one per non-empty group — and exact_sig doesn't carry the
            # flag, so admitting it would poison the non-zero-fill twin
            return not getattr(spec, "zero_fill", False)
        if isinstance(spec, ir.GroupByQuery):
            if spec.having is not None or spec.grouping_sets is not None:
                return False
            ls = spec.limit_spec
            return ls is None or (
                getattr(ls, "limit", None) is None
                and getattr(ls, "offset", None) is None
            )
        return False

    def _harvest_feedback(self) -> None:
        """Pull executed-plan output counts into the planner feedback store.

        Called at the top of every query(): each pending DataFrame that has
        since executed contributes its observed group count; its plan-cache
        entry is evicted ONLY when the estimate was off by >2x, so the next
        identical query re-plans against the corrected estimate (and the
        re-planned entry, whose estimate now matches observation, is never
        evicted again — the memo keeps working for repeated queries)."""
        still_pending = []
        recorded = False
        for entry in self._pending_obs:
            df, record, spec, key, attempts = entry
            obs = _executed_output_rows(df)
            if obs is None:
                # each probe pays physical planning for a never-executed
                # frame; a plan the caller keeps not running stops being
                # worth polling — drop it after a few tries
                entry[4] = attempts + 1
                if entry[4] < 8:
                    still_pending.append(entry)
                continue
            record.observed_rows = obs
            est = record.estimated_groups
            self._feedback.record(spec, est, obs)
            recorded = True
            drifted = est is None or max(obs, est) / max(1.0, min(obs, est)) > 2.0
            if drifted and self._plan_cache.get(key, (None, None))[1] is record:
                self._plan_cache.pop(key, None)
        self._pending_obs = still_pending
        if recorded and self.persist_feedback:
            self._save_feedback()

    def _save_feedback(self) -> None:
        import os
        import tempfile

        try:
            fd, tmp = tempfile.mkstemp(
                dir=self.index.path, suffix=".feedback.tmp"
            )
            with os.fdopen(fd, "w") as fh:
                json.dump(self._feedback.to_dict(), fh)
            os.replace(tmp, os.path.join(self.index.path, "feedback.json"))
        except OSError:
            pass  # read-only index dir: feedback stays session-local

    def execute_ir(self, d: dict | str) -> DataFrame:
        if isinstance(d, str):
            d = json.loads(d)
        return self.query(ir.node_from_dict(d))

    # ----------------------------------------------------------------- SQL
    def _parse_sql(self, sql: str) -> ir.QuerySpec:
        from . import sqlfront

        return sqlfront.parse_sql(
            sql,
            time_col=self.index.time_col,
            fact_table=self.star.fact_table if self.star else None,
            star=self.star,
        )

    def sql(self, sql: str) -> DataFrame:
        """SQL entry point (the reference's ``spark.sql`` over a Druid table).

        Recognized queries rewrite onto the index through the IR planner;
        anything outside the surface falls back to ``spark.sql`` over the
        registered base tables — the reference's exact contract (DruidStrategy
        returns Nil => Spark plans normally)."""
        from .sqlfront import SQLFrontError

        def fallback(e):
            if self.base_tables is None and not self.fact_name:
                raise e
            self.register_base_views()
            self.query_history.append(
                QueryRecord({"sql": sql}, f"fallback: {e}", "sparksql")
            )
            try:
                return self.spark.sql(sql)
            except Exception as err:
                # Spark cannot run the statement either: keep its error
                # (type and message) and say why the rewrite declined
                err.add_note(f"pysparkline declined the rewrite: {e}")
                raise

        key = self._sql_keys.get(sql)
        if key is not None:
            df = self._cached_plan(key)
            if df is not None:
                return df
        try:
            spec = self._parse_sql(sql)
        except SQLFrontError as e:
            return fallback(e)
        try:
            df = self.query(spec)
            if len(self._sql_keys) >= 256:  # bounded like the plan cache
                self._sql_keys.pop(next(iter(self._sql_keys)))
            self._sql_keys[sql] = self._spec_key(spec)
            return df
        except SQLFrontError as e:
            # lowering-time declines (round-8 review finding #4): e.g. a
            # dim-grain WHERE-subquery arm whose base table isn't
            # registered — the statement is still plain SQL, so the
            # spark.sql fallback stays the correct answer, same contract
            # as a parse-time decline
            return fallback(e)

    def register_base_views(self) -> None:
        for name, df in (self.base_tables or {}).items():
            df.createOrReplaceTempView(name)
        if self.fact_name and self.fact_name not in (self.base_tables or {}):
            # star-less index: the fallback path still needs the fact view so
            # spark.sql can resolve queries the rewriter declined
            self.index.flat_df().createOrReplaceTempView(self.fact_name)

    def explain_rewrite(self, spec: ir.QuerySpec | str) -> str:
        """EXPLAIN DRUID REWRITE analog (DruidMetadataCommands.scala:49-77
        rendered the chosen Druid query + datasource; here: chosen backing,
        cube-vs-flat decision trail, file-pruning keep ratio, and the lowered
        spec) — accepts a QuerySpec or SQL text."""
        if isinstance(spec, str):
            from .sqlfront import SQLFrontError

            try:
                spec = self._parse_sql(spec)
            except SQLFrontError as e:
                return f"no rewrite: {e}\nfallback: spark.sql over base tables"
        if isinstance(spec, ir.SetOpQuery):
            lines = [
                f"query shape: SetOpQuery ({spec.op}"
                + (" all" if spec.all else "")
                + ")"
            ]
            for side, arm in (("left", spec.left), ("right", spec.right)):
                sub = self.explain_rewrite(arm)
                lines.append(f"-- {side} arm --")
                lines.extend("  " + ln for ln in sub.splitlines())
            return "\n".join(lines)
        if isinstance(spec, ir.ScalarSelectQuery):
            lines = [
                f"query shape: ScalarSelectQuery ({len(spec.scalars)}"
                " select-list scalar"
                + ("s" if len(spec.scalars) != 1 else "")
                + "; deferred projection)"
            ]
            for j, (inner, alias) in enumerate(spec.scalars):
                lines.append(
                    f"-- scalar {alias}: broadcast 1-row cross join --"
                )
                if isinstance(inner, ir.BaseScalarQuery):
                    lines.append(
                        f"  aggregate over base table {inner.table!r}"
                        f" (dim grain): {inner.agg_sql}"
                    )
                else:
                    sub = self.explain_rewrite(inner)
                    lines.extend("  " + ln for ln in sub.splitlines())
            for pf in spec.post_filters:
                lines.append(f"-- HAVING post-filter: {pf} --")
            exprs = [
                f"{n} = {sql}" for n, sql in spec.final if sql is not None
            ]
            lines.append(f"-- final projection: {'; '.join(exprs)} --")
            lines.append("-- base (hidden aggregate leaves appended) --")
            sub = self.explain_rewrite(spec.base)
            lines.extend("  " + ln for ln in sub.splitlines())
            return "\n".join(lines)
        if isinstance(spec, ir.SemiJoinQuery):
            lines = [
                f"query shape: SemiJoinQuery ({len(spec.arms)} arm"
                + ("s" if len(spec.arms) != 1 else "")
                + "; outer forced to row grain)"
            ]
            for i, arm in enumerate(spec.arms):
                if arm.marker:
                    how = f"left marker join (flag {arm.marker})"
                else:
                    how = "left_anti" if arm.anti else "left_semi"
                on = ", ".join(
                    f"{o}={k}"
                    for o, k in zip(arm.outer_keys, arm.inner_keys)
                )
                if getattr(arm, "broadcast_theta", False):
                    lines.append(
                        f"-- arm {i}: broadcast nested-loop {how} on"
                        f" residual ({arm.residual_sql}); tiny-inner"
                        f" proof at <= {int(self.theta_inner_max_rows)}"
                        " rows, declines past it --"
                    )
                else:
                    lines.append(f"-- arm {i}: {how} on ({on}) --")
                if isinstance(arm.inner, ir.BaseKeysQuery):
                    lines.append(
                        f"  distinct keys over base table"
                        f" {arm.inner.table!r} (dim grain)"
                    )
                else:
                    sub = self.explain_rewrite(arm.inner)
                    lines.extend("  " + ln for ln in sub.splitlines())
            for j, sc in enumerate(spec.scalar_conds):
                lhs, rhs = sc.outer_sql, "<scalar>"
                if sc.flip:
                    lhs, rhs = rhs, lhs
                where = (
                    f"filter {lhs} {sc.op} {rhs}"
                    if sc.standalone
                    else f"condition {lhs} {sc.op} {rhs} inline in OR filter"
                )
                lines.append(
                    f"-- scalar {j}: broadcast 1-row cross join, {where} --"
                )
                if isinstance(sc.inner, ir.BaseScalarQuery):
                    lines.append(
                        f"  aggregate over base table {sc.inner.table!r}"
                        f" (dim grain): {sc.inner.agg_sql}"
                    )
                else:
                    sub = self.explain_rewrite(sc.inner)
                    lines.extend("  " + ln for ln in sub.splitlines())
            for j, g in enumerate(spec.guards):
                gw = (
                    f"filter {g.cond_sql}"
                    if g.standalone
                    else f"condition {g.cond_sql} inline in OR filter"
                )
                lines.append(
                    f"-- guard {j}: broadcast 1-row aggregate bundle, {gw} --"
                )
                if g.over_arm is not None:
                    aggs = ", ".join(sql for sql, _ in g.arm_aggs)
                    lines.append(
                        f"  aggregates over arm {g.over_arm}'s distinct key"
                        f" set (shared subplan, one inner scan): {aggs}"
                    )
                elif isinstance(g.inner, ir.BaseScalarQuery):
                    aggs = ", ".join(a for a, _ in g.inner.aggs)
                    lines.append(
                        f"  aggregates over base table {g.inner.table!r}"
                        f" (dim grain): {aggs}"
                    )
                else:
                    sub = self.explain_rewrite(g.inner)
                    lines.extend("  " + ln for ln in sub.splitlines())
            for j, cc in enumerate(spec.corr_scalars):
                on = ", ".join(f"{o}={k}" for o, k in cc.pairs)
                how = "left" if cc.left_join else "inner"
                if cc.cond_sql:
                    filt = cc.cond_sql
                else:
                    lhs, rhs = cc.outer_sql, cc.value_sql
                    if cc.flip:
                        lhs, rhs = rhs, lhs
                    filt = f"{lhs} {cc.op} {rhs}"
                lines.append(
                    f"-- correlated scalar {j}: decorrelated GROUP BY"
                    f" ({', '.join(cc.inner_keys)}), {how} join on ({on}),"
                    f" filter {filt} --"
                )
                if isinstance(cc.inner, ir.BaseScalarQuery):
                    aggs = ", ".join(a for a, _ in cc.inner.aggs)
                    lines.append(
                        f"  per-key aggregates over base table"
                        f" {cc.inner.table!r} (dim grain): {aggs}"
                    )
                else:
                    sub = self.explain_rewrite(cc.inner)
                    lines.extend("  " + ln for ln in sub.splitlines())
            for j, of in enumerate(spec.or_filters):
                lines.append(
                    f"-- OR filter {j} (marker joins + inline conditions):"
                    f" {of} --"
                )
            lines.append("-- outer (subquery conjuncts removed) --")
            jc: set = set()
            for arm in spec.arms:
                jc.update(arm.outer_keys)
                jc.update(arm.residual_outer_cols)
            for sc in spec.scalar_conds:
                jc.update(sc.outer_columns)
            for g in spec.guards:
                jc.update(g.outer_columns)
            for cc in spec.corr_scalars:
                jc.update(cc.outer_columns)
                jc.update(o for o, _ in cc.pairs)
            jc.update(spec.or_columns)
            _, _, decision = self.plan(
                spec.outer, force_row_grain=True, extra_columns=jc
            )
            lines.append("  " + decision.pretty().replace("\n", "\n  "))
            return "\n".join(lines)
        spec, backing, decision = self.plan(spec)
        lines = [f"query shape: {type(spec).__name__}", decision.pretty()]
        if decision.backing == "flat":
            from . import planner as _planner

            pr = _planner.prune_flat_files(self.index, spec)
            if pr is None:
                total = len(self.index.flat_input_files())
                lines.append(
                    f"pruning: no file-level pruning (scan {total}/{total}"
                    " files; partition/row-group pruning still applies)"
                )
            else:
                kept, total = pr
                pct = 100.0 * len(kept) / max(total, 1)
                lines.append(
                    f"pruning: keep {len(kept)}/{total} files"
                    f" ({pct:.1f}%) via the per-file manifest"
                )
        elif decision.backing == "cube" and decision.cube_name:
            info = self.index.manifest["cubes"].get(decision.cube_name, {})
            if info.get("rowCount") is not None:
                lines.append(
                    f"cube rows: {info['rowCount']} (vs flat"
                    f" {self.index.manifest['flat'].get('rowCount', '?')})"
                )
        lines.append(f"spec: {json.dumps(spec.to_dict(), default=str)}")
        return "\n".join(lines)

    def clear_cache(self) -> None:
        """CLEAR DRUID CACHE analog: drop memoized/pinned backings and
        compiled plans so the next query re-reads the index from disk."""
        self._plan_cache.clear()
        self._sql_keys.clear()
        self.index.invalidate()

    def owned_tables(self) -> set[str]:
        """Table names this context can answer for: the star's tables (fact +
        dimensions) or, star-less, the index's fact plus any base tables."""
        owned: set[str] = set()
        if self.star is not None:
            owned |= {t.lower() for t in self.star.tables}
        if self.fact_name:
            owned.add(self.fact_name.lower())
        if self.base_tables:
            owned |= {t.lower() for t in self.base_tables}
        return owned

    # -------------------------------------------------------- metadata views
    def register_metadata_views(self) -> None:
        """Expose index metadata as temp views (DruidMetadataViews analog)."""
        cubes = [
            (
                name,
                ",".join(info["dims"]),
                info["granularity"],
                info["rowCount"],
                ",".join(
                    c
                    for c in info.get("columns", {})
                    if c.startswith(("hll_", "hist_", "theta_", "topk_"))
                ),
            )
            for name, info in self.index.manifest["cubes"].items()
        ]
        self.spark.createDataFrame(
            cubes,
            "cube_name string, dims string, granularity string, "
            "row_count long, sketch_columns string",
        ).createOrReplaceTempView("olap_cubes")
        cols = [
            (c, meta["type"], float(meta["ndv"]) if meta.get("ndv") else None)
            for c, meta in self.index.manifest["flat"]["columns"].items()
        ]
        self.spark.createDataFrame(
            cols, "column string, type string, ndv double"
        ).createOrReplaceTempView("olap_columns")
        hist = [
            (
                json.dumps(r.spec),
                r.backing,
                float(r.estimated_groups) if r.estimated_groups is not None else None,
                r.observed_rows,
            )
            for r in self.query_history
        ]
        self.spark.createDataFrame(
            hist or [("", "", None, None)],
            "spec string, backing string, estimated_groups double, "
            "observed_rows long",
        ).createOrReplaceTempView("olap_query_history")


class OlapCatalog:
    """N registered datasources in one session — the reference's model: each
    ``CREATE TABLE ... USING org.sparklinedata.druid`` made one independent
    DruidRelation (DefaultSource.scala:28-194), queries over one relation
    rewrote onto its index, and anything else planned as plain Spark.

    Here: ``catalog.sql(text)`` routes by the statement's referenced tables —
    exactly one owning context => that context's rewrite path (with its own
    fallback semantics); several contexts / unregistered tables =>
    ``spark.sql`` over every registered base view (cross-datasource joins
    were never index-servable in the reference either; Spark plans them).
    """

    def __init__(self, spark: SparkSession, contexts: dict[str, OlapContext]):
        self.spark = spark
        self.contexts = dict(contexts)
        self.query_history: list[QueryRecord] = []

    def register(self, name: str, ctx: OlapContext) -> None:
        self.contexts[name] = ctx

    def context_for(self, sql: str) -> OlapContext | None:
        """The unique context owning every referenced table, else None."""
        from .sqlfront import SQLFrontError, referenced_tables

        try:
            tables = referenced_tables(sql)
        except SQLFrontError:
            return None
        if not tables:
            return None
        owners = {
            name
            for name, ctx in self.contexts.items()
            if tables <= ctx.owned_tables()
        }
        if len(owners) == 1:
            return self.contexts[next(iter(owners))]
        # several contexts fully own the tables (shared-name case): any is
        # correct — pick deterministically
        if owners:
            return self.contexts[sorted(owners)[0]]
        return None

    def _register_all_views(self) -> None:
        for ctx in self.contexts.values():
            ctx.register_base_views()

    def sql(self, sql: str) -> DataFrame:
        ctx = self.context_for(sql)
        if ctx is not None:
            seen = len(ctx.query_history)
            try:
                return ctx.sql(sql)
            finally:
                # a statement whose fallback raised is still in the
                # context's history; keep the catalog's in step
                if len(ctx.query_history) > seen:
                    self.query_history.append(ctx.query_history[-1])
        fed = self._federated_sql(sql)
        if fed is not None:
            return fed
        # cross-datasource / unregistered tables: plain Spark over all views
        self._register_all_views()
        self.query_history.append(
            QueryRecord({"sql": sql}, "fallback: multi-datasource", "sparksql")
        )
        return self.spark.sql(sql)

    def _route_ctes(
        self, sql: str
    ) -> tuple[list[tuple[str, str, "OlapContext | None", "str | None"]], str] | None:
        """The federation routing decision WITHOUT executing anything:
        ``(plans, outer)`` where each plan is (cte_name, body_sql,
        owner_context_or_None, owner_name_or_None) — or None when the
        statement has no WITH, the text is outside the splitter's surface,
        or no CTE body is context-servable. Shared by ``_federated_sql``
        (execution) and ``explain_rewrite`` (rendering)."""
        from .sqlfront import SQLFrontError, referenced_tables, split_ctes

        try:
            ctes, outer = split_ctes(sql)
        except SQLFrontError:
            return None
        plans: list[tuple[str, str, OlapContext | None, str | None]] = []
        cte_names: set[str] = set()
        for name, body in ctes:
            try:
                tables = referenced_tables(body)
            except SQLFrontError:
                return None
            owner = owner_name = None
            if tables and not (tables & cte_names):
                owners = sorted(
                    nm
                    for nm, c in self.contexts.items()
                    if tables <= c.owned_tables()
                )
                if owners:
                    owner_name = owners[0]
                    owner = self.contexts[owner_name]
            plans.append((name, body, owner, owner_name))
            cte_names.add(name)
        if not any(owner is not None for _, _, owner, _ in plans):
            return None
        return plans, outer

    def _federated_sql(self, sql: str) -> DataFrame | None:
        """Cross-datasource federation: a WITH statement whose CTE bodies
        each live in ONE datasource runs every body through its owning
        context (index-served — cube/flat/pruned, the works), registers the
        lazy results as temp views, and lets Spark execute the OUTER query
        over them. The final plan is one Spark DAG whose leaves are the
        index-served sub-plans — a cross-datasource join costs two bounded
        aggregate scans plus the join, never two raw star scans (which is
        what the plain multi-datasource fallback pays).

        Returns None (caller falls back) when the statement has no WITH,
        when no CTE body is context-servable, or when the text is outside
        the splitter's surface (RECURSIVE, CTE column aliases). A CTE
        referencing an earlier CTE runs through spark.sql over the already-
        registered views. CTE names shadow same-named base views for the
        outer query (standard CTE scoping); the views are re-registered by
        the next fallback statement."""
        routed = self._route_ctes(sql)
        if routed is None:
            return None  # nothing index-servable: no benefit over fallback
        plans, outer = routed
        self._register_all_views()  # base tables for outer + unowned bodies
        notes = []
        for name, body, owner, owner_name in plans:
            if owner is not None:
                try:
                    df = owner.sql(body)
                    notes.append(
                        f"{name} -> {owner_name} "
                        f"({owner.query_history[-1].backing})"
                    )
                except (SQLFrontError, ValueError):
                    # body parses but the context declines and has no
                    # fallback tables of its own: run it over the views
                    df = self.spark.sql(body)
                    notes.append(f"{name} -> sparksql")
            else:
                df = self.spark.sql(body)
                notes.append(f"{name} -> sparksql")
            df.createOrReplaceTempView(name)
        out = self.spark.sql(outer)
        self.query_history.append(
            QueryRecord(
                {"sql": sql}, "federated: " + "; ".join(notes), "federated"
            )
        )
        return out

    def explain_rewrite(self, sql: str) -> str:
        """Catalog-level EXPLAIN (VERDICT r6 #6): the routing decision plus
        the owning context's full explain. Single-datasource statements
        name their context; federable WITH statements render each CTE
        body's owner and its context explain (backing, keep ratios)
        WITHOUT executing anything; everything else reports the
        multi-datasource fallback."""
        ctx = self.context_for(sql)
        if ctx is not None:
            ctx_name = next(
                (nm for nm, c in sorted(self.contexts.items()) if c is ctx),
                "?",
            )
            return (
                f"routing: single datasource '{ctx_name}'\n"
                + ctx.explain_rewrite(sql)
            )
        routed = self._route_ctes(sql)
        if routed is None:
            return (
                "no rewrite: tables span datasources or are unregistered\n"
                "fallback: spark.sql over all registered views"
            )
        plans, _outer = routed
        lines = [
            "routing: federated WITH — each owned CTE body index-served "
            "by its context"
        ]
        for name, body, owner, owner_name in plans:
            if owner is None:
                lines.append(f"cte {name}: unowned -> spark.sql over views")
                continue
            lines.append(f"cte {name}: -> datasource '{owner_name}'")
            lines.extend(
                "  " + ln for ln in owner.explain_rewrite(body).splitlines()
            )
        lines.append(
            "outer: spark.sql joining the lazy index-served CTE results "
            "(one DAG)"
        )
        return "\n".join(lines)
