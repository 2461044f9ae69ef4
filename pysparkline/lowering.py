"""Lowering: QuerySpec IR -> PySpark DataFrame pipeline over a chosen backing.

The reference executed its IR by POSTing JSON to Druid and streaming rows back
(DruidRDD.scala:152-242). Here every IR shape lowers to declarative DataFrame
operations so Catalyst/Tungsten plan the physical execution (predicate
pushdown, partition pruning, whole-stage codegen, AQE) — no custom execution
operator is required.

Aggregate rewriting over a pre-aggregated backing follows the reference's
merge-form rules (AggregateTransform.scala):
- count(*)        -> sum(__count)                    (:331-347)
- sum/min/max(x)  -> sum(sum_x) / min(min_x) / ...   (:506-511)
- avg(x)          -> sum(sum_x) / sum(__count or sum_count) post-division
                                                      (:425-441, divide rebuilt
                                                       at DruidStrategy.scala:422-431)
- count(distinct) -> exact countDistinct when the column is in the backing
                     grain, else HLL sketch union     (:454-479)

Scale note: every lowering path is a single groupBy (one shuffle with map-side
partial aggregation) or a pure scan; time intervals are additionally rewritten
onto the ``__tpart`` partition column so the Parquet source prunes partitions
before reading (PartitionFilters in .explain()).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame, functions as F

from . import ir
from .index import (
    BUCKET_COL, COUNT_COL, MONTH_COL, OlapIndex, ThetaSpec, hll_sketch_agg,
)

# granularities coarser-or-equal relationships, coarsest first
_GRAN_ORDER = [
    "year", "quarter", "month", "week", "day", "hour", "minute", "second", "none"
]
_DATE_GRAINS = {"year", "quarter", "month", "week", "day"}


# fixed-length grains in seconds (calendar grains vary; week is fixed in the
# proleptic UTC timeline Spark/DuckDB share — no DST in UTC)
_GRAN_SECS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400,
              "week": 604800}


def duration_seconds(granularity: str) -> int | None:
    """Seconds of a ``duration:<n>s`` granularity (Druid duration form —
    arbitrary fixed-width epoch-aligned buckets), else None."""
    if isinstance(granularity, str) and granularity.startswith("duration:"):
        return int(granularity[len("duration:"):-1])
    return None


def gran_coarser_or_equal(a: str, b: str) -> bool:
    """True if granularity ``a`` is coarser than or equal to ``b`` (a query at
    grain ``a`` can be answered from data bucketed at grain ``b``). 'week' only
    aligns with day/hour/..., not with month. Unknown granularities are never
    answerable from a bucketed backing (False, not an exception) so the
    planner rejects the cube and falls back instead of crashing."""
    if a == "all":
        return True
    if b == "none":
        return True
    if a == b:
        return True
    # duration buckets are epoch-aligned; second/minute/hour/day named
    # buckets are too (UTC midnight = epoch multiple of 86400). week is NOT
    # epoch-aligned (epoch was a Thursday, date_trunc weeks start Monday),
    # and calendar grains (month+) have no fixed width.
    _aligned_secs = {k: v for k, v in _GRAN_SECS.items() if k != "week"}
    dur_a, dur_b = duration_seconds(a), duration_seconds(b)
    if dur_a is not None:
        wb = dur_b if dur_b is not None else _aligned_secs.get(b)
        return wb is not None and dur_a % wb == 0 and dur_a >= wb
    if dur_b is not None:
        # named query grain from a duration-bucketed backing
        wa = _aligned_secs.get(a)
        if wa is not None:
            return wa % dur_b == 0 and wa >= dur_b
        if a in ("year", "quarter", "month", "week"):
            # calendar boundaries always land on UTC midnights: safe iff
            # every midnight is a bucket boundary
            return 86400 % dur_b == 0
        return False
    if a == "week":
        return b in ("day", "hour", "minute", "second")
    if b == "week":
        return False
    if a not in _GRAN_ORDER or b not in _GRAN_ORDER:
        return False
    return _GRAN_ORDER.index(a) < _GRAN_ORDER.index(b)


# ---------------------------------------------------------------------------
# Backing: what table the query runs against
# ---------------------------------------------------------------------------


class Backing:
    """A physical table choice: 'cube' (pre-aggregated), 'flat' (denormalized
    row grain) or 'base' (caller-supplied DataFrame, e.g. the raw star join)."""

    def __init__(
        self,
        kind: str,
        df: DataFrame,
        time_col: str | None,
        granularity: str,
        index: OlapIndex | None = None,
        month_col: str | None = None,
        cube_name: str | None = None,
    ):
        self.kind = kind
        self.df = df
        self.time_col = time_col
        self.granularity = granularity  # 'none' for row-grain backings
        self.index = index
        self.month_col = month_col
        self.cube_name = cube_name
        # >1 = planner's distinct-agg skew guard: lower exact count-distinct
        # as a two-stage (keys, hash-bucket) aggregation spread over this many
        # value-space buckets (see _two_stage_distinct)
        self.distinct_buckets = 1
        # set by the planner when an approx TopNQuery rides a cube's
        # TopKSpec map (index.TopKSpec): lower_topn then merges the
        # per-cell top-m maps instead of aggregating a dimension the cube
        # grain doesn't even carry
        self.topk = None
        # cube measure and sketch columns the merge-form aggregations read
        # (recorded by _preagg_agg): the planner picks the pinned or the
        # on-disk cube relation by them
        self.reads: set[str] = set()

    @property
    def preagg(self) -> bool:
        return self.kind == "cube"

    @staticmethod
    def flat(index: OlapIndex) -> "Backing":
        return Backing(
            "flat", index.flat_df(), index.time_col, "none", index, MONTH_COL
        )

    @staticmethod
    def cube(index: OlapIndex, name: str) -> "Backing":
        gran = index.manifest["cubes"][name]["granularity"]
        return Backing(
            "cube", index.cube_df(name), BUCKET_COL, gran, index, None, name
        )

    @staticmethod
    def base(df: DataFrame, time_col: str | None = None) -> "Backing":
        return Backing("base", df, time_col, "none")


# ---------------------------------------------------------------------------
# Filters
# ---------------------------------------------------------------------------


def filter_to_column(spec: ir.FilterSpec) -> Column:
    if isinstance(spec, ir.SelectorFilter):
        return F.col(spec.dimension) == F.lit(spec.value)
    if isinstance(spec, ir.InFilter):
        return F.col(spec.dimension).isin(list(spec.values))
    if isinstance(spec, ir.BoundFilter):
        c = F.col(spec.dimension)
        preds = []
        if spec.lower is not None:
            preds.append(c > spec.lower if spec.lower_strict else c >= spec.lower)
        if spec.upper is not None:
            preds.append(c < spec.upper if spec.upper_strict else c <= spec.upper)
        if not preds:
            return F.lit(True)
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out
    if isinstance(spec, ir.RegexFilter):
        return F.col(spec.dimension).rlike(spec.pattern)
    if isinstance(spec, ir.ContainsFilter):
        if spec.case_sensitive:
            return F.col(spec.dimension).contains(spec.value)
        return F.lower(F.col(spec.dimension)).contains(spec.value.lower())
    if isinstance(spec, ir.NullFilter):
        c = F.col(spec.dimension)
        return c.isNull() if spec.is_null else c.isNotNull()
    if isinstance(spec, ir.LogicalFilter):
        cols = [filter_to_column(f) for f in spec.fields_]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if spec.op == "and" else (out | c)
        return out
    if isinstance(spec, ir.NotFilter):
        return ~filter_to_column(spec.field_)
    if isinstance(spec, ir.SpatialFilter):
        # a bounding box is just per-axis range predicates; Parquet min/max
        # row-group pruning gives the index-side effect the reference got
        # from Druid's spatial index
        preds = []
        for dim, lo, hi in zip(spec.dimensions, spec.lower, spec.upper):
            c = F.col(dim)
            if lo is not None:
                preds.append(c >= lo)
            if hi is not None:
                preds.append(c < hi)
        if not preds:
            return F.lit(True)
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out
    if isinstance(spec, ir.ExprFilter):
        return F.expr(spec.expr)
    raise TypeError(f"unknown filter spec {spec!r}")


def _parse_iso(s: str) -> datetime:
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S.%f",
                "%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ValueError(f"unparseable interval endpoint {s!r}")


def interval_aligned(iv: ir.Interval, granularity: str) -> bool:
    """Both endpoints land on bucket boundaries of ``granularity`` — required
    for answering from a pre-bucketed backing without slicing a bucket."""

    def ok(s: str | None) -> bool:
        if s is None:
            return True
        d = _parse_iso(s)
        dur = duration_seconds(granularity)
        if dur is not None:
            # endpoint must be an epoch-multiple of the bucket width
            from datetime import timezone as _tz

            epoch_s = d.replace(tzinfo=_tz.utc).timestamp()
            return d.microsecond == 0 and epoch_s % dur == 0
        if d != d.replace(hour=0, minute=0, second=0, microsecond=0):
            if granularity == "hour":
                return d.minute == d.second == d.microsecond == 0
            if granularity == "minute":
                return d.second == d.microsecond == 0
            if granularity == "second":
                return d.microsecond == 0
            return False
        if granularity == "year":
            return d.month == 1 and d.day == 1
        if granularity == "quarter":
            return d.month in (1, 4, 7, 10) and d.day == 1
        if granularity == "month":
            return d.day == 1
        if granularity == "week":
            return d.weekday() == 0
        return True  # day/hour/minute: date-aligned is enough

    return ok(iv.start) and ok(iv.end)


def interval_predicate(backing: Backing, intervals: list[ir.Interval]) -> Column | None:
    """Time predicate + (for the flat backing) a redundant ``__tpart`` range
    predicate that Catalyst turns into partition pruning."""
    if not intervals:
        return None
    per_iv = []
    for iv in intervals:
        preds = []
        t = F.col(backing.time_col)
        if iv.start is not None:
            preds.append(t >= F.lit(iv.start).cast("timestamp"))
        if iv.end is not None:
            preds.append(t < F.lit(iv.end).cast("timestamp"))
        if backing.month_col is not None:
            # the partition value format follows the granularity the build's
            # byte floor recorded in the manifest (index.PARTITION_FORMATS):
            # 'yyyy-MM' dirs compare against 7-char prefixes, 'yyyy' against
            # 4-char — a mismatch would silently prune valid partitions
            gran = (
                backing.index.config.partition_granularity
                if backing.index is not None
                else "month"
            )
            plen, pfmt = (4, "%Y") if gran == "year" else (7, "%Y-%m")
            if iv.start is not None:
                preds.append(F.col(backing.month_col) >= iv.start[:plen])
            if iv.end is not None:
                end_dt = _parse_iso(iv.end) - timedelta(microseconds=1)
                preds.append(F.col(backing.month_col) <= end_dt.strftime(pfmt))
        if not preds:
            continue
        p = preds[0]
        for q in preds[1:]:
            p = p & q
        per_iv.append(p)
    if not per_iv:
        return None
    out = per_iv[0]
    for p in per_iv[1:]:
        out = out | p
    return out


# ---------------------------------------------------------------------------
# Dimensions
# ---------------------------------------------------------------------------

_PART_FN = {
    "year": F.year,
    "quarter": F.quarter,
    "month": F.month,
    "day": F.dayofmonth,
    "dayofyear": F.dayofyear,
    "weekofyear": F.weekofyear,
    "hour": F.hour,
    "minute": F.minute,
    "second": F.second,
}


def dim_to_column(spec: ir.DimSpec, backing: Backing) -> Column:
    if isinstance(spec, ir.DefaultDim):
        return F.col(spec.dimension).alias(spec.out)
    if isinstance(spec, ir.TimeFormatDim):
        src = spec.dimension
        if backing.preagg and src == (backing.index.time_col if backing.index else None):
            src = BUCKET_COL  # time dim lives as the bucket column in cubes
        col = F.col(src)
        if spec.tz and spec.tz not in ("UTC", "Etc/UTC"):
            # timeFormat's timeZone parameter: shift the UTC instant to the
            # zone's wall clock (planner keeps such dims on row grain)
            col = F.from_utc_timestamp(col, spec.tz)
        if spec.is_pattern:
            return F.date_format(col, spec.part).alias(spec.out)
        return _PART_FN[spec.part](col).alias(spec.out)
    if isinstance(spec, ir.ExprDim):
        return F.expr(spec.expr).alias(spec.out)
    if isinstance(spec, ir.LookupDim):
        src = F.col(spec.dimension)
        if spec.lookup:
            m = F.create_map(
                *[
                    x
                    for k in sorted(spec.lookup)
                    for x in (F.lit(k), F.lit(spec.lookup[k]))
                ]
            )
            mapped = F.element_at(m, src)
        else:
            mapped = F.lit(None).cast("string")
        if spec.retain_missing_value:
            out = F.coalesce(mapped, src)
        elif spec.replace_missing_with is not None:
            # Druid replaceMissingValueWith: unmapped AND null inputs both
            # land on the replacement
            out = F.coalesce(mapped, F.lit(spec.replace_missing_with))
        else:
            out = mapped
        return out.alias(spec.out)
    raise TypeError(f"unknown dim spec {spec!r}")


def origin_epoch_seconds(origin: str | None) -> int | None:
    """Epoch seconds of a granularity origin ISO timestamp (UTC)."""
    if origin is None:
        return None
    from datetime import timezone as _tz

    return int(_parse_iso(origin).replace(tzinfo=_tz.utc).timestamp())


def _time_bucket_col(
    backing: Backing,
    granularity: str,
    out_name: str,
    tz: str | None = None,
    origin: str | None = None,
) -> Column:
    src = F.col(backing.time_col)
    dur = duration_seconds(granularity)
    if dur is not None:
        # Druid duration granularity: arbitrary fixed-width buckets anchored
        # at the epoch (or an explicit origin); tz shifts wall clock first
        shifted = F.from_utc_timestamp(src, tz) if tz else src
        o = origin_epoch_seconds(origin) or 0
        return F.timestamp_seconds(
            F.floor((F.unix_timestamp(shifted) - F.lit(o)) / F.lit(dur))
            * F.lit(dur)
            + F.lit(o)
        ).alias(out_name)
    if tz:
        # period-granularity timeZone: bucket along the zone's wall clock;
        # the output is the wall-clock bucket start (unambiguous given the
        # zone; the planner keeps such queries on row-grain backings)
        bucket = F.date_trunc(granularity, F.from_utc_timestamp(src, tz))
    elif granularity == "none" or (
        backing.granularity != "none" and granularity == backing.granularity
    ):
        bucket = src  # already at (or finer than) the requested grain
    else:
        bucket = F.date_trunc(granularity, src)
    if granularity in _DATE_GRAINS:
        bucket = bucket.cast("date")
    return bucket.alias(out_name)


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


class AggLoweringError(ValueError):
    """Raised when an aggregation cannot run on the chosen backing; the
    planner catches this during eligibility checks and falls back."""


def _multi_col_key(cols: list[str]) -> Column:
    """Unambiguous composite key for multi-column distinct counting: separator
    + NULL sentinel so ("ab","c") never collides with ("a","bc") and
    ("a",NULL) with (NULL,"a") — same guard as operators.dedup.exact_dedup."""
    if len(cols) == 1:
        return F.col(cols[0]).cast("string")
    return F.concat_ws(
        "\x01",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
    )


def _hist_quantile_expr(hist: Column, a: "ir.HistQuantileAgg") -> Column:
    """Percentile estimate from a bin-count array: walk the cumulative
    distribution to the first bin reaching fraction*total, interpolate
    linearly inside it. Pure fold expression (no UDF); the arithmetic order
    matches the documented oracle formula term-for-term so DuckDB reproduces
    the exact doubles."""
    binw = (a.hi - a.lo) / a.nbins
    total = F.aggregate(
        hist, F.lit(0.0), lambda acc, c: acc + c.cast("double")
    )
    target = F.lit(a.fraction) * total
    walk = F.aggregate(
        F.zip_with(
            hist,
            F.sequence(F.lit(0), F.lit(a.nbins - 1)),
            lambda c, i: F.struct(c.cast("double").alias("c"), i.alias("i")),
        ),
        F.struct(
            F.lit(0.0).alias("cum"), F.lit(None).cast("double").alias("est")
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["c"]).alias("cum"),
            F.coalesce(
                acc["est"],
                F.when(
                    (acc["cum"] + x["c"] >= target) & (x["c"] > 0),
                    F.lit(a.lo)
                    + F.lit(binw)
                    * (x["i"] + (target - acc["cum"]) / x["c"]),
                ),
            ).alias("est"),
        ),
        lambda acc: acc["est"],
    )
    return F.when(total > 0, walk)


def _theta_out(a: ir.AggSpec, sk: Column) -> Column:
    """ThetaSketchAgg emits the sketch itself, ThetaAgg its DOUBLE estimate."""
    if isinstance(a, ir.ThetaSketchAgg):
        return sk
    return F.theta_sketch_estimate(sk).cast("double")


def _cube_theta_spec(
    backing: Backing, a: ir.AggSpec, cube_cols
) -> ThetaSpec:
    """The cube's pre-built sketch for ``a`` — only one built with the SAME
    (col, k) serves the query (another k retains a different sample)."""
    ts = ThetaSpec(a.field_name, a.k)
    if (
        ts not in backing.index.config.theta_specs
        or ts.col_name not in cube_cols
    ):
        raise AggLoweringError(f"no theta sketch {ts.col_name} in cube")
    backing.reads.add(ts.col_name)
    return ts


def _read(backing: Backing, col: str) -> Column:
    """Cube column ``col``, recorded in ``backing.reads``."""
    backing.reads.add(col)
    return F.col(col)


def _raw_agg(a: ir.AggSpec) -> Column:
    fns = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count}
    if isinstance(a, ir.CountAgg):
        return F.count(F.lit(1)).alias(a.name)
    if isinstance(a, ir.FieldAgg):
        return fns[a.fn](F.col(a.field_name)).alias(a.name)
    if isinstance(a, ir.ExprAgg):
        return fns[a.fn](F.expr(a.expr)).alias(a.name)
    if isinstance(a, ir.FilteredAgg):
        inner = a.agg
        cond = filter_to_column(a.filter)
        if isinstance(inner, ir.CountAgg):
            return F.count(F.when(cond, F.lit(1))).alias(a.name)
        if isinstance(inner, ir.FieldAgg):
            return fns[inner.fn](F.when(cond, F.col(inner.field_name))).alias(a.name)
        if isinstance(inner, ir.ExprAgg):
            return fns[inner.fn](F.when(cond, F.expr(inner.expr))).alias(a.name)
        if isinstance(inner, (ir.ThetaAgg, ir.ThetaSketchAgg)):
            # filtered theta (Druid filtered aggregator over a thetaSketch —
            # the funnel shape): non-matching rows drop out of the sketch
            sk = ThetaSpec(inner.field_name, inner.k).sketch_agg(cond)
            return _theta_out(inner, sk).alias(a.name)
        raise AggLoweringError(f"unsupported filtered inner agg {inner!r}")
    if isinstance(a, ir.CardinalityAgg):
        return F.approx_count_distinct(_multi_col_key(a.field_names)).alias(a.name)
    if isinstance(a, ir.DistinctAgg):
        return F.countDistinct(F.col(a.field_name)).alias(a.name)
    if isinstance(a, ir.QuantileAgg):
        # exact interpolated percentile (a + (b-a)*f) — double-typed like
        # DuckDB's quantile_cont, the oracle-parity property
        return (
            F.percentile(
                F.col(a.field_name).cast("double"), F.lit(float(a.fraction))
            ).alias(a.name)
        )
    if isinstance(a, ir.HistQuantileAgg):
        from .index import HistSpec

        spec = HistSpec(a.field_name, a.lo, a.hi, a.nbins)
        return _hist_quantile_expr(spec.count_array(), a).alias(a.name)
    if isinstance(a, ir.HyperUniqueAgg):
        # raw backing: build the sketch on the fly
        return F.hll_sketch_estimate(hll_sketch_agg(a.field_name)).alias(
            a.name
        )
    if isinstance(a, (ir.ThetaAgg, ir.ThetaSketchAgg)):
        sk = ThetaSpec(a.field_name, a.k).sketch_agg()
        return _theta_out(a, sk).alias(a.name)
    if isinstance(a, ir.AvgAgg):
        raise AggLoweringError("AvgAgg must be pre-decomposed (see lower_groupby)")
    raise AggLoweringError(f"unknown agg spec {a!r}")


def _preagg_agg(a: ir.AggSpec, backing: Backing) -> Column:
    """Merge-form aggregation over a cube backing."""
    idx = backing.index
    cube_cols = set(idx.cube_column_types(backing.cube_name))
    # note: no "count" here — count(col) over a pre-agg backing would need a
    # pre-built non-null-count metric; metric_by_expr lookup handles that
    fns = {"sum": F.sum, "min": F.min, "max": F.max}
    if isinstance(a, ir.CountAgg):
        # coalesce: a global aggregate over zero rows must yield 0 like
        # count(*), not sum()'s NULL
        return F.coalesce(F.sum(F.col(COUNT_COL)), F.lit(0)).alias(a.name)
    if isinstance(a, (ir.FieldAgg, ir.ExprAgg)):
        expr = a.field_name if isinstance(a, ir.FieldAgg) else a.expr
        m = idx.metric_by_expr(expr, a.fn)
        if m is None or m.col_name not in cube_cols:
            raise AggLoweringError(f"no pre-built metric for {a.fn}({expr})")
        # sum merges with sum; min with min; max with max; count partials
        # merge by summing (AggregateTransform.scala:331-347)
        merge = F.sum if a.fn == "count" else fns[a.fn]
        return merge(_read(backing, m.col_name)).alias(a.name)
    if isinstance(a, ir.FilteredAgg):
        grain = set(
            idx.manifest["cubes"][backing.cube_name]["dims"]
        ) | {BUCKET_COL}
        missing = a.filter.referenced_columns() - grain
        if missing:
            raise AggLoweringError(
                f"filtered-agg condition columns {sorted(missing)} not in cube grain"
            )
        cond = filter_to_column(a.filter)
        inner = a.agg
        if isinstance(inner, ir.CountAgg):
            return F.coalesce(
                F.sum(F.when(cond, F.col(COUNT_COL))), F.lit(0)
            ).alias(a.name)
        if isinstance(inner, (ir.FieldAgg, ir.ExprAgg)):
            expr = inner.field_name if isinstance(inner, ir.FieldAgg) else inner.expr
            m = idx.metric_by_expr(expr, inner.fn)
            if m is None or m.col_name not in cube_cols:
                raise AggLoweringError(f"no pre-built metric for filtered {expr}")
            merge = F.sum if inner.fn == "count" else fns[inner.fn]
            return merge(F.when(cond, _read(backing, m.col_name))).alias(
                a.name
            )
        if isinstance(inner, (ir.ThetaAgg, ir.ThetaSketchAgg)):
            # union only matching partials — condition already grain-checked
            # above
            sk = _cube_theta_spec(backing, inner, cube_cols).merge_agg(cond)
            return _theta_out(inner, sk).alias(a.name)
        raise AggLoweringError(f"unsupported filtered inner agg {inner!r}")
    if isinstance(a, ir.CardinalityAgg):
        if set(a.field_names) <= cube_cols:
            return F.approx_count_distinct(_multi_col_key(a.field_names)).alias(a.name)
        # single column with a pre-built sketch: estimate from the HLL
        # (AggregateTransform.scala:454-479 cardinality->hyperUnique switch)
        if len(a.field_names) == 1 and f"hll_{a.field_names[0]}" in cube_cols:
            return F.hll_sketch_estimate(
                F.hll_union_agg(_read(backing, f"hll_{a.field_names[0]}"))
            ).alias(a.name)
        raise AggLoweringError(
            "cardinality fields not in cube grain and no sketch"
        )
    if isinstance(a, ir.DistinctAgg):
        if a.field_name not in cube_cols:
            raise AggLoweringError(
                f"exact count-distinct needs {a.field_name} in the cube grain"
            )
        return F.countDistinct(F.col(a.field_name)).alias(a.name)
    if isinstance(a, ir.QuantileAgg):
        # percentiles don't merge across pre-aggregated partials; the planner
        # catches this and keeps the query on a row-grain backing
        raise AggLoweringError("percentile cannot run on a pre-agg backing")
    if isinstance(a, ir.HistQuantileAgg):
        # histogram partials DO merge (element-wise sum) — but only when the
        # cube carries a histogram built with the SAME (lo, hi, nbins)
        hs = next(
            (
                h
                for h in idx.config.hist_specs
                if h.col == a.field_name
                and h.lo == a.lo
                and h.hi == a.hi
                and h.nbins == a.nbins
            ),
            None,
        )
        if hs is None or hs.col_name not in cube_cols:
            raise AggLoweringError(
                f"no matching hist_{a.field_name}[{a.lo},{a.hi})x{a.nbins} "
                "metric in cube"
            )
        merged = F.array(
            *[
                F.sum(F.element_at(_read(backing, hs.col_name), i + 1))
                for i in range(a.nbins)
            ]
        )
        return _hist_quantile_expr(merged, a).alias(a.name)
    if isinstance(a, ir.HyperUniqueAgg):
        sk = f"hll_{a.field_name}"
        if sk not in cube_cols:
            raise AggLoweringError(f"no HLL sketch {sk} in cube")
        return F.hll_sketch_estimate(
            F.hll_union_agg(_read(backing, sk))
        ).alias(a.name)
    if isinstance(a, (ir.ThetaAgg, ir.ThetaSketchAgg)):
        sk = _cube_theta_spec(backing, a, cube_cols).merge_agg()
        return _theta_out(a, sk).alias(a.name)
    if isinstance(a, ir.AvgAgg):
        raise AggLoweringError("AvgAgg must be pre-decomposed (see lower_groupby)")
    raise AggLoweringError(f"unknown agg spec {a!r}")


def _decompose_avgs(
    aggs: list[ir.AggSpec],
) -> tuple[list[ir.AggSpec], list[tuple[str, str]]]:
    """Replace AvgAgg(name, x) with sum+count partials and a post-division.

    Returns (new_aggs, [(avg_name, post_expr)]). Mirrors the reference's
    mandatory avg decomposition — plain avg over pre-aggregated rows is wrong
    (SURVEY §7 'hard parts'). Unlike the reference (Count(1) partial,
    AggregateTransform.scala:425-441), the divisor is the NON-NULL count of
    the column (ANSI avg): count(x) on row-grain backings; on a cube backing
    FieldAgg('count', x) requires a pre-built non-null-count metric and
    raises AggLoweringError otherwise, so the planner falls back to the flat
    backing rather than silently dividing by the row count."""
    out: list[ir.AggSpec] = []
    post: list[tuple[str, str]] = []
    have = {a.name for a in aggs}
    for a in aggs:
        if not isinstance(a, ir.AvgAgg):
            out.append(a)
            continue
        s, c = f"__avg_sum_{a.name}", f"__avg_cnt_{a.name}"
        if a.expr is not None:
            # avg over an expression (round 8): sum/count of the SAME
            # expression — count(expr) is the non-null count, so the ANSI
            # divisor semantics match the column form exactly
            out.append(ir.ExprAgg("sum", s, a.expr, list(a.columns)))
            out.append(ir.ExprAgg("count", c, a.expr, list(a.columns)))
        else:
            out.append(ir.FieldAgg("sum", s, a.field_name))
            out.append(ir.FieldAgg("count", c, a.field_name))
        post.append((a.name, f"CAST(`{s}` AS DOUBLE) / `{c}`"))
        have.add(s), have.add(c)
    return out, post


# ---------------------------------------------------------------------------
# Query-shape lowering
# ---------------------------------------------------------------------------


def _apply_filters(df: DataFrame, backing: Backing, q) -> DataFrame:
    ip = interval_predicate(backing, getattr(q, "intervals", []) or [])
    if ip is not None:
        df = df.where(ip)
    f = getattr(q, "filter", None)
    if f is not None:
        df = df.where(filter_to_column(f))
    # measured dead end, do not revisit: coalesce(1)-before-agg for small
    # cubes removes the exchange but serializes the (decimal-heavy) partial
    # aggregation onto the cube's 1-2 scan tasks — A/B at sf0.1 showed the
    # parallel partial/final plan ~2x faster warm (88ms vs 170ms for q1)
    return df


def _agg_columns(aggs: list[ir.AggSpec], backing: Backing) -> list[Column]:
    if backing.preagg:
        return [_preagg_agg(a, backing) for a in aggs]
    return [_raw_agg(a) for a in aggs]


def _distinct_merge_agg(a: ir.AggSpec) -> Column | None:
    """Stage-2 merge column for ``a``'s stage-1 partial, or None if ``a``
    cannot re-aggregate through a (keys, value-bucket) partial grouping.
    count-like partials merge by sum (coalesced to 0 so an empty global
    aggregate still yields count semantics); sums by sum; min/max by
    themselves. Sketches (HLL/cardinality) are excluded — their partials
    don't merge through countDistinct buckets."""
    name = a.name

    def count_like() -> Column:
        return F.coalesce(F.sum(F.col(name)), F.lit(0)).alias(name)

    if isinstance(a, (ir.DistinctAgg, ir.CountAgg)):
        return count_like()
    fn = None
    if isinstance(a, (ir.FieldAgg, ir.ExprAgg)):
        fn = a.fn
    elif isinstance(a, ir.FilteredAgg):
        inner = a.agg
        fn = "count" if isinstance(inner, ir.CountAgg) else getattr(inner, "fn", None)
    if fn == "count":
        return count_like()
    if fn in ("sum", "min", "max"):
        return {"sum": F.sum, "min": F.min, "max": F.max}[fn](F.col(name)).alias(name)
    return None


def _two_stage_distinct(
    df: DataFrame,
    key_cols: list[Column],
    out_names: list[str],
    aggs: list[ir.AggSpec],
    agg_cols: list[Column],
    n_buckets: int,
) -> DataFrame | None:
    """Skew-guarded exact count-distinct: aggregate by (keys..., hash(x) % n)
    first, then merge partials by keys.

    When the group count is far below the shuffle parallelism, a one-stage
    ``groupBy(keys).agg(countDistinct(x))`` funnels every row of a group into
    ONE reduce task (Spark's distinct-aggregate Expand keys by (keys, x), but
    the final distinct-set build still lands on the group's single partition).
    Hash-bucketing the VALUE space first spreads that build over ``n_buckets``
    tasks; buckets partition the values, so per-bucket distinct counts sum
    exactly. Deterministic — bucketing only changes physical placement.

    Returns None when the agg shape doesn't decompose (multiple distinct
    columns, sketch aggs) — caller falls back to the one-stage plan. Output
    column types are cast to the one-stage schema (two-stage sum-of-sum
    widens decimals otherwise).
    """
    dcols = {a.field_name for a in aggs if isinstance(a, ir.DistinctAgg)}
    if len(dcols) != 1:
        return None
    merges = [_distinct_merge_agg(a) for a in aggs]
    if any(m is None for m in merges):
        return None
    dcol = next(iter(dcols))
    bucket = F.pmod(F.hash(F.col(dcol)), F.lit(n_buckets)).alias("__dbucket")
    stage1 = df.groupBy(*key_cols, bucket).agg(*agg_cols)
    stage2 = (
        stage1.groupBy(*out_names).agg(*merges)
        if out_names
        else stage1.agg(*merges)
    )
    # one-stage schema is the contract (decimal sums re-widen through the
    # second sum; counts go nullable): cast every agg output back
    one_stage = (
        df.groupBy(*key_cols).agg(*agg_cols) if key_cols else df.agg(*agg_cols)
    )
    want = {f.name: f.dataType for f in one_stage.schema.fields}
    return stage2.select(
        *[
            F.col(c).cast(want[c]).alias(c) if c in want else F.col(c)
            for c in stage2.columns
        ]
    )


def lower_groupby(q: ir.GroupByQuery, backing: Backing) -> DataFrame:
    df = _apply_filters(backing.df, backing, q)

    dim_cols = [dim_to_column(d, backing) for d in q.dimensions]
    dim_names = [d.out for d in q.dimensions]
    key_cols = list(dim_cols)
    out_names = list(dim_names)
    if q.granularity not in ("all",):
        key_cols.append(
            _time_bucket_col(
                backing, q.granularity, q.time_output_name,
                getattr(q, "granularity_tz", None),
                getattr(q, "granularity_origin", None),
            )
        )
        out_names.append(q.time_output_name)

    aggs, avg_post = _decompose_avgs(list(q.aggregations))
    agg_cols = _agg_columns(aggs, backing)

    if q.grouping_sets is not None:
        out = _grouping_sets_union(df, q, key_cols, out_names, agg_cols)
    else:
        out = None
        if backing.distinct_buckets > 1 and not backing.preagg:
            out = _two_stage_distinct(
                df, key_cols, out_names, aggs, agg_cols, backing.distinct_buckets
            )
        if out is None:
            out = df.groupBy(*key_cols).agg(*agg_cols) if key_cols else df.agg(*agg_cols)

    # post-aggregations: avg divisions first, then user post-aggs. Applied in
    # waves of withColumns (one plan node + py4j call per wave) — a new wave
    # only when an expression references a name defined in the current wave.
    post = list(avg_post) + [(p.name, p.expr) for p in q.post_aggregations]
    wave: dict[str, Column] = {}
    for name, expr in post:
        if any(w in expr for w in wave):
            out = out.withColumns(wave)
            wave = {}
        wave[name] = F.expr(expr)
    if wave:
        out = out.withColumns(wave)
    internal = [c for c in out.columns if c.startswith("__avg_")]
    if internal:
        out = out.drop(*internal)
    if q.having is not None:
        out = out.where(F.expr(q.having.expr))
    if getattr(q, "window_posts", None):
        out = _apply_window_posts(out, q.window_posts)
        if getattr(q, "window_exprs", None):
            out = out.withColumns(
                {name: F.expr(e) for name, e in q.window_exprs}
            )
    if getattr(q, "qualify", None):
        # ANSI: QUALIFY filters after the windows, before ORDER BY/LIMIT
        # (and before the hidden __wp_ columns it may reference drop)
        out = out.where(F.expr(q.qualify))
    # aggs materialized only to feed post-aggs/having (sqlfront convention)
    hidden = [
        c for c in out.columns if c.startswith(("__pa_", "__hv_", "__wp_"))
    ]
    if hidden:
        out = out.drop(*hidden)
    if q.limit_spec is not None:
        if q.limit_spec.columns:
            order_cols = [
                F.col(c.column).asc() if c.direction == "asc" else F.col(c.column).desc()
                for c in q.limit_spec.columns
            ]
            if q.limit_spec.limit is None and backing.preagg:
                # cube-backed results are bounded (<= maxResultCardinality by
                # the planner gate): a single-partition sort avoids the range
                # partitioner's sampling job that a global orderBy pays.
                # coalesce (not repartition!) folds the final aggregation's
                # reduce side and the sort into ONE task with no extra
                # exchange/stage — the map-side partial aggregation upstream
                # keeps its parallelism, and the reduce input is bounded by
                # the planner gate, so one task is safe at any scale.
                out = out.coalesce(1).sortWithinPartitions(*order_cols)
            else:
                # with a limit Spark plans TakeOrderedAndProject (no range
                # shuffle); unbounded sorts over row-grain backings keep the
                # scalable global sort
                out = out.orderBy(*order_cols)
        if getattr(q.limit_spec, "offset", None):
            out = out.offset(q.limit_spec.offset)
        if q.limit_spec.limit is not None:
            out = out.limit(q.limit_spec.limit)
    if q.output_order:
        return _project_output_order(out, q.output_order)
    # default contract: dims, time bucket, aggregations in declared order,
    # post-aggs — avg decomposition would otherwise push the avg column last
    declared = list(
        dict.fromkeys(
            out_names
            + [a.name for a in q.aggregations]
            + [p.name for p in q.post_aggregations]
        )
    )
    return _default_order(out, declared)


def _sql_literal(v) -> str:
    """Render a JSON-scalar default as a Spark SQL literal (for the
    SQL-text-only lag/lead IGNORE NULLS form)."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return repr(v)


def _apply_window_posts(df: DataFrame, posts: list) -> DataFrame:
    """Window functions over the aggregated result (ir.WindowPostSpec; ANSI
    order: after HAVING, before ORDER BY/LIMIT). The input here is the
    planner-bounded aggregate output (<= maxResultCardinality), so even an
    empty PARTITION BY — which Spark evaluates in a single partition — is a
    bounded, safe pass; the heavy aggregation below stayed distributed."""
    from pyspark.sql.window import Window

    wcols: dict[str, Column] = {}
    drop_after: list[str] = []
    for w in posts:
        frame = getattr(w, "frame", None)
        ftype = getattr(w, "frame_type", None)
        is_range = frame is not None and ftype == "range"
        is_groups = frame is not None and ftype == "groups"
        spec = Window.partitionBy(*[F.col(p) for p in w.partition])
        # ANSI peer group = equal ORDER BY tuple: an equality PARTITION over
        # the RAW order expressions, never a rangeBetween(0,0) over the
        # RANGE surrogate — the surrogate truncates (epoch seconds), so
        # sub-bucket-distinct keys would wrongly collapse into one peer
        # group (round-6 review finding)
        peers_spec = (
            Window.partitionBy(
                *[F.col(p) for p in w.partition],
                *[F.expr(o.column) for o in w.order],
            )
            if w.order
            else None
        )
        if is_range:
            # RANGE frame: single ORDER BY key, either direction (Spark's
            # RangeFrame walks PRECEDING toward larger keys under DESC,
            # matching ANSI/DuckDB — probe-verified). INTERVAL units order
            # by an integer surrogate of the time bucket — calendar index
            # for month/year (exact because the keys are bucket-truncated),
            # epoch seconds for fixed-length units (exact in the engine's
            # UTC session) — so Spark's numeric rangeBetween reproduces
            # DuckDB's interval arithmetic.
            okey = w.order[0].column
            unit = getattr(w, "range_unit", None)
            if unit is None:
                ocol, scale = F.expr(okey), 1
            elif unit == "year":
                ocol, scale = F.expr(f"year({okey})"), 1
            elif unit == "month":
                ocol, scale = F.expr(f"year({okey}) * 12 + month({okey})"), 1
            else:
                secs = {"day": 86400, "hour": 3600, "minute": 60, "second": 1}[unit]
                ocol = F.expr(f"unix_timestamp(CAST({okey} AS TIMESTAMP))")
                scale = secs
            okcol = (
                ocol.asc() if w.order[0].direction == "asc" else ocol.desc()
            )
            ordered = spec.orderBy(okcol)
            spec = ordered.rangeBetween(
                Window.unboundedPreceding if frame[0] is None else frame[0] * scale,
                Window.unboundedFollowing if frame[1] is None else frame[1] * scale,
            )
        elif is_groups:
            # GROUPS frame (ANSI mode N groups of ORDER-BY peers; Spark
            # has no native mode and DuckDB cannot even parse one, so this
            # is IR-level engine surface with a fixture self-oracle): the
            # peer-group INDEX is dense_rank over the full ORDER BY tuple,
            # and "N PRECEDING/FOLLOWING groups" is exactly the numeric
            # RANGE [-N, +N] over that index — materialized as a surrogate
            # column (a window expression cannot nest inside another
            # window's ORDER BY), dropped after the projection. Aggregate
            # window functions only; EXCLUDE composes no further here.
            if not w.order:
                raise AggLoweringError(
                    f"window {w.func}: GROUPS frame requires ORDER BY"
                )
            if w.func not in ("sum", "count", "avg", "min", "max"):
                raise AggLoweringError(
                    f"window {w.func}: GROUPS frame supports aggregate "
                    "functions only"
                )
            if getattr(w, "exclude", "NO_OTHER") != "NO_OTHER":
                raise AggLoweringError(
                    "GROUPS frame with EXCLUDE unsupported"
                )
            gname = f"__grp_{w.name}"
            df = df.withColumn(
                gname,
                F.dense_rank().over(
                    Window.partitionBy(
                        *[F.col(p) for p in w.partition]
                    ).orderBy(
                        *[
                            F.expr(o.column).asc()
                            if o.direction == "asc"
                            else F.expr(o.column).desc()
                            for o in w.order
                        ]
                    )
                ),
            )
            drop_after.append(gname)
            spec = spec.orderBy(F.col(gname).asc()).rangeBetween(
                Window.unboundedPreceding if frame[0] is None else frame[0],
                Window.unboundedFollowing if frame[1] is None else frame[1],
            )
        elif w.order:
            spec = spec.orderBy(
                *[
                    F.expr(o.column).asc()
                    if o.direction == "asc"
                    else F.expr(o.column).desc()
                    for o in w.order
                ]
            )
        if w.func in (
            "rank", "dense_rank", "row_number", "percent_rank", "cume_dist"
        ):
            wcols[w.name] = getattr(F, w.func)().over(spec)
        elif w.func in ("first_value", "last_value", "nth_value"):
            # default frame (unbounded preceding -> current row) makes the
            # ordered first constant per partition — same in ANSI and Spark;
            # explicit ROWS/RANGE frames (e.g. last_value over UNBOUNDED
            # FOLLOWING) apply below like aggregate windows
            if frame is not None and not is_range and not is_groups:
                lo = Window.unboundedPreceding if frame[0] is None else frame[0]
                hi = Window.unboundedFollowing if frame[1] is None else frame[1]
                spec = spec.rowsBetween(lo, hi)
            ig = bool(getattr(w, "ignore_nulls", False))
            if w.func == "nth_value":
                nv = (
                    F.nth_value(F.expr(w.arg), w.offset or 1, ignoreNulls=True)
                    if ig
                    else F.nth_value(F.expr(w.arg), w.offset or 1)
                )
                wcols[w.name] = nv.over(spec)
            else:
                fcol = F.first if w.func == "first_value" else F.last
                wcols[w.name] = fcol(F.expr(w.arg), ignorenulls=ig).over(spec)
        elif w.func == "ntile":
            wcols[w.name] = F.ntile(w.offset or 1).over(spec)
        elif w.func in ("lag", "lead"):
            # `or 1` would silently turn an explicit offset 0 (= current
            # row, valid SQL) into offset 1
            off = 1 if w.offset is None else w.offset
            if getattr(w, "ignore_nulls", False):
                # Spark's lag/lead take IGNORE NULLS only through SQL text
                # (the python builders lack the flag); semantics match
                # ANSI/DuckDB — probe-verified
                args = f"{w.arg}, {off}"
                if w.default is not None:
                    args += f", {_sql_literal(w.default)}"
                wcols[w.name] = F.expr(
                    f"{w.func}({args}) IGNORE NULLS"
                ).over(spec)
            else:
                wcols[w.name] = getattr(F, w.func)(
                    F.expr(w.arg), off, w.default
                ).over(spec)
        elif w.func in ("count_distinct", "sum_distinct", "avg_distinct"):
            # DISTINCT window aggregates — Spark rejects them outright, so
            # this surface exists only through the collect_set rewrite:
            # count = size(set); sum/avg = a typed fold over the set (the
            # set drops NULLs exactly as DISTINCT aggregation does), for
            # whole-partition, running, and explicit frames
            if frame is not None and not is_range and not is_groups:
                lo = Window.unboundedPreceding if frame[0] is None else frame[0]
                hi = Window.unboundedFollowing if frame[1] is None else frame[1]
                spec = spec.rowsBetween(lo, hi)
            sset = F.collect_set(F.expr(w.arg)).over(spec)
            if w.func == "count_distinct":
                wcols[w.name] = F.size(sset).cast("long")
            else:
                from pyspark.sql import types as T

                dt = df.select(F.expr(w.arg).alias("_t")).schema[0].dataType
                if isinstance(
                    dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
                ):
                    acc = "bigint"
                elif isinstance(dt, (T.FloatType, T.DoubleType)):
                    acc = "double"
                elif isinstance(dt, T.DecimalType):
                    # max-precision accumulator at the argument's scale —
                    # the same widening Spark's own sum(decimal) performs
                    # (38-digit headroom; both engines overflow-guard there)
                    acc = f"decimal(38,{dt.scale})"
                else:
                    raise AggLoweringError(
                        f"{w.func} window over {dt.simpleString()}"
                        " unsupported (numeric arguments only)"
                    )
                total = F.aggregate(
                    sset,
                    F.lit(0).cast(acc),
                    lambda a, x: a + x.cast(acc),
                )
                if w.func == "sum_distinct":
                    val = total
                else:
                    val = total.cast("double") / F.size(sset)
                # SQL sum/avg over an empty (all-NULL) window is NULL,
                # not 0
                wcols[w.name] = F.when(
                    F.size(sset) == 0, F.lit(None)
                ).otherwise(val)
        else:
            base = spec  # partition (+ order) before any explicit frame
            if frame is not None and not is_range and not is_groups:
                lo = Window.unboundedPreceding if frame[0] is None else frame[0]
                hi = Window.unboundedFollowing if frame[1] is None else frame[1]
                spec = spec.rowsBetween(lo, hi)
            excl = getattr(w, "exclude", "NO_OTHER")
            if excl != "NO_OTHER":
                wcols[w.name] = _excluded_window_agg(
                    w, excl, spec, base, peers_spec, frame
                )
                continue
            # w.order without a frame keeps Spark's default ordered frame
            # (RANGE ... CURRENT ROW with tie-peers — the ANSI running agg)
            wcols[w.name] = F.expr(f"{w.func}({w.arg})").over(spec)
    out = df.withColumns(wcols)
    return out.drop(*drop_after) if drop_after else out


def _excluded_window_agg(w, excl, framed, base, peers, frame):
    """ANSI frame EXCLUDE for aggregate windows — Spark has no native
    EXCLUDE, so the lowering composes it (the SQL front gates to exactly
    these shapes):

    - sum/count/avg: subtract the excluded contribution from the framed
      aggregate. EXCLUDE CURRENT ROW subtracts the row's own (null-aware)
      value; EXCLUDE GROUP/TIES subtract the peer-group aggregate — an
      equality PARTITION over the raw ORDER BY expressions (the ANSI peer
      definition), exact because the gated frames (RANGE, default running,
      fully-unbounded) contain a peer group entirely or not at all; TIES
      adds the current row back. SQL empty-set semantics hold: the result
      is NULL (sum/avg) when no rows remain, and the remaining-count is
      tracked null-aware. ``frame=None`` is the ANSI default running frame
      (RANGE ... CURRENT ROW — current row and peers always in-frame).
    - min/max (ROWS + EXCLUDE CURRENT ROW): combine the sub-frames on each
      side of the current row; least/greatest skip a NULL (empty) side.

    When the frame does not contain offset 0 the excluded rows are outside
    it and the clause is a no-op (ANSI: exclusion applies to frame rows).
    Float caveat: a subtracted double sum can differ from a direct
    re-accumulation by an ulp — same class as any cross-engine float sum;
    oracles round, exactly as the plain window queries do."""
    from pyspark.sql.window import Window

    lo, hi = frame if frame is not None else (None, 0)
    agg = F.expr(f"{w.func}({w.arg})")
    if not ((lo is None or lo <= 0) and (hi is None or hi >= 0)):
        return agg.over(framed)
    arg = F.expr(w.arg)
    if w.func in ("min", "max"):
        parts = []
        if lo is None or lo <= -1:
            parts.append(agg.over(base.rowsBetween(
                Window.unboundedPreceding if lo is None else lo, -1
            )))
        if hi is None or hi >= 1:
            parts.append(agg.over(base.rowsBetween(
                1, Window.unboundedFollowing if hi is None else hi
            )))
        if not parts:  # the frame was only the current row
            return F.when(F.lit(False), agg.over(framed))
        if len(parts) == 1:
            return parts[0]
        return (F.least if w.func == "min" else F.greatest)(*parts)
    cnt_full = F.count(arg).over(framed)
    sum_full = F.sum(arg).over(framed)
    cur_cnt = F.when(arg.isNotNull(), F.lit(1)).otherwise(F.lit(0))
    cur_sum = F.coalesce(arg, F.lit(0))
    if excl == "CURRENT_ROW":
        cnt_x = cnt_full - cur_cnt
        sum_x = sum_full - cur_sum
    else:
        cnt_p = F.count(arg).over(peers)
        sum_p = F.coalesce(F.sum(arg).over(peers), F.lit(0))
        if excl == "GROUP":
            cnt_x = cnt_full - cnt_p
            sum_x = sum_full - sum_p
        else:  # TIES: drop the peers, keep the current row itself
            cnt_x = cnt_full - cnt_p + cur_cnt
            sum_x = sum_full - sum_p + cur_sum
    if w.func == "count":
        return cnt_x.cast("long")
    if w.func == "sum":
        return F.when(cnt_x == 0, F.lit(None)).otherwise(sum_x)
    return F.when(cnt_x == 0, F.lit(None)).otherwise(
        sum_x.cast("double") / cnt_x
    )


def _default_order(df: DataFrame, declared: list) -> DataFrame:
    cols = [c for c in declared if c in df.columns]
    cols += [c for c in df.columns if c not in cols]
    return df.select(*cols) if cols != df.columns else df


def _project_output_order(df: DataFrame, order: list | None) -> DataFrame:
    """Final projection to the SQL select-list column order; drops group-by
    columns that were never selected (including the internal __grouping_id —
    ANSI CUBE/ROLLUP output does not carry it unless selected)."""
    if not order:
        return df
    return df.select(*[c for c in order if c in df.columns])


def _grouping_sets_union(
    df: DataFrame,
    q: ir.GroupByQuery,
    key_cols: list[Column],
    out_names: list[str],
    agg_cols: list[Column],
) -> DataFrame:
    """Grouping sets as a union of per-set aggregations — the reference issued
    one Druid query per grouping-set projection and UnionExec'd them
    (AggregateTransform.scala:170-316, DruidStrategy.scala:74-76). Each branch
    re-aggregates the (tiny, pre-filtered) backing; absent dims become typed
    NULL literals plus a ``__grouping_id`` bitmask (Spark bit convention:
    1 = column absent from the set, high bit = first column)."""
    schema = {
        f.name: f.dataType for f in df.select(*key_cols).schema.fields
    } if key_cols else {}
    branches = []
    n = len(out_names)
    for gset in q.grouping_sets:
        keep = set(gset)
        sel_keys = [kc for kc, name in zip(key_cols, out_names) if name in keep]
        branch = df.groupBy(*sel_keys).agg(*agg_cols) if sel_keys else df.agg(*agg_cols)
        gid = 0
        proj = []
        for i, name in enumerate(out_names):
            if name in keep:
                proj.append(F.col(name))
            else:
                gid |= 1 << (n - 1 - i)
                proj.append(F.lit(None).cast(schema[name]).alias(name))
        proj += [F.col(c) for c in branch.columns if c not in out_names]
        proj.append(F.lit(gid).cast("long").alias("__grouping_id"))
        branches.append(branch.select(*proj))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


_SPINE_STEP = {
    "year": "1 year", "quarter": "3 month", "month": "1 month",
    "week": "7 day", "day": "1 day", "hour": "1 hour", "minute": "1 minute",
    "second": "1 second",
}


def _bucket_floor_py(dt: datetime, gran: str, origin: str | None) -> datetime:
    """Driver-side twin of _time_bucket_col's bucket start (UTC, no tz)."""
    from datetime import timedelta

    dur = duration_seconds(gran)
    if dur is not None:
        o = _parse_iso(origin) if origin else datetime(1970, 1, 1)
        off = (dt - o).total_seconds()
        return o + timedelta(seconds=(off // dur) * dur)
    z = dict(hour=0, minute=0, second=0, microsecond=0)
    if gran == "year":
        return dt.replace(month=1, day=1, **z)
    if gran == "quarter":
        return dt.replace(month=((dt.month - 1) // 3) * 3 + 1, day=1, **z)
    if gran == "month":
        return dt.replace(day=1, **z)
    if gran == "week":  # ISO Monday, matching Spark date_trunc('week')
        d = dt.replace(**z)
        return d - timedelta(days=d.weekday())
    if gran == "day":
        return dt.replace(**z)
    if gran == "hour":
        return dt.replace(minute=0, second=0, microsecond=0)
    if gran == "minute":
        return dt.replace(second=0, microsecond=0)
    if gran == "second":
        return dt.replace(microsecond=0)
    raise ValueError(f"zero_fill unsupported for granularity {gran!r}")


def _zero_fill_spine(spark, q: ir.TimeseriesQuery, tname: str) -> DataFrame:
    """One row per bucket of the queried intervals (the Druid timeseries
    bucket spine). Buckets are generated JVM-side with sequence() — the
    driver only computes the two aligned endpoints per interval — so a
    years-of-minutes spine never materializes on the driver."""
    from datetime import timedelta

    gran = q.granularity
    if gran in ("all", "none"):
        raise ValueError("zero_fill requires a bucketing granularity")
    if getattr(q, "granularity_tz", None):
        raise ValueError("zero_fill with granularity timeZone not supported")
    if not q.intervals or any(
        iv.start is None or iv.end is None for iv in q.intervals
    ):
        raise ValueError("zero_fill requires fully-bounded intervals")
    dur = duration_seconds(gran)
    step = f"{dur} second" if dur is not None else _SPINE_STEP.get(gran)
    if step is None:
        raise ValueError(f"zero_fill unsupported for granularity {gran!r}")
    origin = getattr(q, "granularity_origin", None)
    seqs = []
    for iv in q.intervals:
        s, e = _parse_iso(iv.start), _parse_iso(iv.end)
        if e <= s:
            continue
        b0 = _bucket_floor_py(s, gran, origin)
        last = _bucket_floor_py(e - timedelta(microseconds=1), gran, origin)
        if last < b0:
            continue
        seqs.append(
            f"sequence(timestamp'{b0}', timestamp'{last}', interval {step})"
        )
    if not seqs:
        from pyspark.sql.types import StructField, StructType, TimestampType

        return spark.createDataFrame(
            [], StructType([StructField(tname, TimestampType())])
        )
    return (
        spark.range(1)
        .select(
            F.explode(
                F.flatten(F.array(*[F.expr(s) for s in seqs]))
            ).alias(tname)
        )
        .distinct()
    )


def _zero_fill_names(aggs: list) -> list[str]:
    """Aggregation output names whose empty-bucket identity is 0: count and
    the sum family, plus distinct-count estimates (sketch of nothing = 0).
    min/max/avg/quantile/histogram identities stay NULL."""
    out: list[str] = []
    for a in aggs:
        if isinstance(a, ir.CountAgg):
            out.append(a.name)
        elif isinstance(a, (ir.FieldAgg, ir.ExprAgg)) and a.fn == "sum":
            out.append(a.name)
        elif isinstance(
            a, (ir.CardinalityAgg, ir.HyperUniqueAgg, ir.ThetaAgg, ir.DistinctAgg)
        ):
            out.append(a.name)
        elif isinstance(a, ir.FilteredAgg) and a.agg is not None:
            if _zero_fill_names([a.agg]):
                out.append(a.name)
    return out


def lower_timeseries(q: ir.TimeseriesQuery, backing: Backing) -> DataFrame:
    zf = bool(getattr(q, "zero_fill", False))
    g = ir.GroupByQuery(
        dimensions=[],
        granularity=q.granularity,
        filter=q.filter,
        aggregations=q.aggregations,
        # with zero-fill, post-aggs run AFTER the spine join so they see the
        # identity-filled aggregate values (Druid computes them per emitted
        # bucket, empty or not)
        post_aggregations=[] if zf else q.post_aggregations,
        intervals=q.intervals,
        time_output_name=q.time_output_name,
        output_order=None if zf else q.output_order,
        granularity_tz=getattr(q, "granularity_tz", None),
        granularity_origin=getattr(q, "granularity_origin", None),
    )
    out = lower_groupby(g, backing)
    if not zf:
        return out
    tname = q.time_output_name
    spine = _zero_fill_spine(out.sparkSession, q, tname)
    dtypes = dict(out.dtypes)
    spine = spine.select(F.col(tname).cast(dtypes.get(tname, "timestamp")))
    joined = spine.join(out, tname, "left")
    for n in _zero_fill_names(q.aggregations):
        if n in dtypes:
            joined = joined.withColumn(
                n, F.coalesce(F.col(n), F.lit(0).cast(dtypes[n]))
            )
    for p in q.post_aggregations:
        joined = joined.withColumn(p.name, F.expr(p.expr))
    joined = joined.orderBy(tname)
    # the non-zero-fill path honors the SQL select-list column order via
    # lower_groupby; the spine join must not silently drop it
    if q.output_order:
        return _project_output_order(joined, q.output_order)
    return joined


def split_sketch_filter(
    f: "ir.FilterSpec | None", sketch_dim: str
) -> "tuple | None":
    """Partition a TopN filter for approx (sketch-map) serving: returns
    ``(cell_filter, values)`` where ``cell_filter`` is the conjunction of
    parts NOT touching the sketched dimension (applied to cube CELLS before
    the explode) and ``values`` is the list the sketched dim must be IN
    (applied to the exploded map entries — ``None`` = unconstrained), or
    ``None`` when any sketch-dim part is not a plain selector/IN conjunct
    (round 7 widening; previously ANY filter on the sketched dim declined).

    Post-filtering the merged map is exact w.r.t. the sketch: each kept
    entry's summed weight is exactly what the unfiltered merge would carry
    for that value, so the residual bound (est <= true <= est +
    absent-cell bounds) holds per surviving value unchanged."""
    if f is None:
        return None, None
    conjs = (
        list(f.fields_)
        if isinstance(f, ir.LogicalFilter) and f.op == "and"
        else [f]
    )
    cell: list = []
    vals: list | None = None
    for c in conjs:
        if sketch_dim in c.referenced_columns():
            if isinstance(c, ir.SelectorFilter) and c.dimension == sketch_dim:
                v = [c.value]
            elif isinstance(c, ir.InFilter) and c.dimension == sketch_dim:
                v = list(c.values)
            else:
                return None
            vset = set(v)
            vals = v if vals is None else [x for x in vals if x in vset]
        else:
            cell.append(c)
    cell_f = (
        None
        if not cell
        else (cell[0] if len(cell) == 1 else ir.LogicalFilter("and", cell))
    )
    return cell_f, vals


def _lower_topn_sketch(q: ir.TopNQuery, backing: Backing) -> DataFrame:
    """Approximate TopN from a cube's TopKSpec map — Druid's per-segment
    top-m merge (the reference's allowTopN semantics,
    DruidPlanner.scala:149-159): explode the selected cells' maps, sum the
    partial weights per value, rank by the estimate. Provably exact when
    no selected cell overflowed m (bound column all-zero — the regime the
    driver oracle pins); otherwise est <= true <= est + sum of absent
    cells' bounds. The merge's input is CUBE rows (cells x <= m entries),
    never the fact table — the scan and shuffle are both sketch-sized."""
    import dataclasses

    tk = backing.topk
    split = split_sketch_filter(q.filter, q.dimension.dimension)
    assert split is not None, "planner gates non-splittable sketch filters"
    cell_f, sketch_vals = split
    df = _apply_filters(
        backing.df, backing, dataclasses.replace(q, filter=cell_f)
    )
    keys = []
    if q.granularity not in ("all",):
        keys.append(
            _time_bucket_col(
                backing, q.granularity, q.time_output_name,
                getattr(q, "granularity_tz", None),
                getattr(q, "granularity_origin", None),
            )
        )
    key_names = [q.time_output_name] if keys else []
    ex = df.select(
        *keys, F.explode(F.col(tk.col_name)).alias("__tkv", "__w")
    )
    if sketch_vals is not None:
        # selector/IN on the sketched dim applies to the exploded entries —
        # exact w.r.t. the sketch (see split_sketch_filter)
        ex = ex.where(F.col("__tkv").isin(sketch_vals))
    out = ex.groupBy(
        *key_names, F.col("__tkv").alias(q.dimension.out)
    ).agg(F.sum("__w").alias(q.metric))
    metric = F.col(q.metric).desc()  # planner rejects inverted
    if key_names:
        from pyspark.sql import Window

        w = Window.partitionBy(*key_names).orderBy(
            metric, F.col(q.dimension.out).asc()
        )
        out = (
            out.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= q.threshold)
            .drop("__rk")
            .orderBy(*key_names, metric, F.col(q.dimension.out).asc())
        )
    else:
        out = out.orderBy(metric, F.col(q.dimension.out).asc()).limit(
            q.threshold
        )
    if q.output_order:
        return _project_output_order(out, q.output_order)
    declared = list(
        dict.fromkeys(
            [q.dimension.out] + key_names + [a.name for a in q.aggregations]
        )
    )
    return _default_order(out, declared)


def lower_topn(q: ir.TopNQuery, backing: Backing) -> DataFrame:
    if getattr(backing, "topk", None) is not None:
        return _lower_topn_sketch(q, backing)
    df = _apply_filters(backing.df, backing, q)
    dim = dim_to_column(q.dimension, backing)
    aggs, avg_post = _decompose_avgs(list(q.aggregations))
    keys = [dim]
    if q.granularity not in ("all",):
        # Druid TopN semantics with a granularity: top-k per time bucket
        keys.append(
            _time_bucket_col(
                backing, q.granularity, q.time_output_name,
                getattr(q, "granularity_tz", None),
                getattr(q, "granularity_origin", None),
            )
        )
    out = df.groupBy(*keys).agg(*_agg_columns(aggs, backing))
    for name, expr in avg_post:
        out = out.withColumn(name, F.expr(expr))
    internal = [c for c in out.columns if c.startswith("__avg_")]
    if internal:
        out = out.drop(*internal)
    for p in q.post_aggregations:
        out = out.withColumn(p.name, F.expr(p.expr))
    metric = F.col(q.metric).asc() if q.inverted else F.col(q.metric).desc()
    if q.granularity not in ("all",):
        # per-bucket top-k: window rank inside each time bucket (one shuffle
        # keyed by bucket; the agg above already shuffled on (dim, bucket))
        from pyspark.sql import Window

        w = Window.partitionBy(q.time_output_name).orderBy(
            metric, F.col(q.dimension.out).asc()
        )
        out = (
            out.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= q.threshold)
            .drop("__rk")
            .orderBy(q.time_output_name, metric, F.col(q.dimension.out).asc())
        )
    else:
        # deterministic tie-break on the dimension value
        out = out.orderBy(metric, F.col(q.dimension.out).asc()).limit(q.threshold)
    if q.output_order:
        return _project_output_order(out, q.output_order)
    declared = list(
        dict.fromkeys(
            [q.dimension.out]
            + ([q.time_output_name] if q.granularity not in ("all",) else [])
            + [a.name for a in q.aggregations]
            + [p.name for p in q.post_aggregations]
        )
    )
    return _default_order(out, declared)


def lower_search(q: ir.SearchQuery, backing: Backing) -> DataFrame:
    df = _apply_filters(backing.df, backing, q)
    branches = []
    for d in q.dimensions:
        c = F.col(d)
        if q.case_sensitive:
            m = c.contains(q.value)
        else:
            m = F.lower(c).contains(q.value.lower())
        branches.append(
            df.where(m).select(
                F.lit(d).alias("dimension"), c.cast("string").alias("value")
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    order = ["dimension", "value"]
    if getattr(q, "sort", "lexicographic") == "strlen":
        # Druid strlen search sort: shortest first, lexicographic tie-break
        order = ["dimension", F.length("value"), "value"]
    out = out.distinct().orderBy(*order)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def lower_select(q: ir.SelectQuery, backing: Backing) -> DataFrame:
    df = _apply_filters(backing.df, backing, q)
    cols = []
    for c in q.columns:
        if isinstance(c, (list, tuple)):
            cols.append(F.col(c[0]).alias(c[1]))
        else:
            cols.append(F.col(c))
    if getattr(q, "window_posts", None):
        # ANSI: row-grain windows evaluate over the filtered FROM result,
        # before projection. Unlike the aggregate path the input here is NOT
        # planner-bounded — this is Spark's standard distributed window (one
        # shuffle on the partition keys), with the index contributing the
        # star-eliminated, partition- and file-pruned scan under it. The
        # same empty-PARTITION-BY single-partition hazard as any Spark SQL
        # window applies equally to the fallback this replaces.
        df = _apply_window_posts(df, q.window_posts)
        if getattr(q, "window_exprs", None):
            df = df.withColumns(
                {name: F.expr(e) for name, e in q.window_exprs}
            )
        if getattr(q, "qualify", None):
            # ANSI: QUALIFY filters after the windows, before projection
            df = df.where(F.expr(q.qualify))
        wnames = [
            w.name for w in q.window_posts if not w.name.startswith("__wp_")
        ] + [name for name, _ in (q.window_exprs or [])]
        cols = cols + [F.col(n) for n in wnames]
    out = df.select(*cols)
    if getattr(q, "output_order", None):
        out = out.select(*q.output_order)
    if q.order_by:
        out = out.orderBy(
            *[
                F.col(c.column).asc() if c.direction == "asc" else F.col(c.column).desc()
                for c in q.order_by
            ]
        )
    if getattr(q, "offset", None):
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def lower(q: ir.QuerySpec, backing: Backing) -> DataFrame:
    if isinstance(q, ir.GroupByQuery):
        return lower_groupby(q, backing)
    if isinstance(q, ir.TimeseriesQuery):
        return lower_timeseries(q, backing)
    if isinstance(q, ir.TopNQuery):
        return lower_topn(q, backing)
    if isinstance(q, ir.SearchQuery):
        return lower_search(q, backing)
    if isinstance(q, ir.SelectQuery):
        return lower_select(q, backing)
    raise TypeError(f"unknown query spec {q!r}")
