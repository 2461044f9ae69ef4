"""Query IR: the five query shapes + filter/aggregation/post-agg algebra.

Shape inventory mirrors the reference's Druid query specs
(DruidQuerySpec.scala:573-604 trait; GroupBy :638, Timeseries :709, TopN :767,
Search :870, Select :981-1098) re-expressed as Python dataclasses that lower to
PySpark DataFrame pipelines (pysparkline.lowering). Where the reference fell
back to JavaScript codegen (jscodegen/JSCodeGenerator.scala) this IR simply
carries a Spark SQL expression string — strictly more general and it stays
JVM-side inside whole-stage codegen.

All nodes round-trip through ``to_dict``/``node_from_dict`` (json4s serde
analog, SerTest.scala).
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields
from typing import Any, Optional

# ---------------------------------------------------------------------------
# serde registry
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, type] = {}


def _node(cls):
    _REGISTRY[cls.__name__] = cls
    return cls


def _encode(v: Any) -> Any:
    if isinstance(v, IRNode):
        return v.to_dict()
    if isinstance(v, (list, tuple)):
        return [_encode(x) for x in v]
    return v


def _decode(v: Any) -> Any:
    if isinstance(v, dict) and "_type" in v:
        return node_from_dict(v)
    if isinstance(v, list):
        return [_decode(x) for x in v]
    return v


class IRNode:
    def to_dict(self) -> dict:
        d = {"_type": type(self).__name__}
        for f in fields(self):
            d[f.name] = _encode(getattr(self, f.name))
        return d


def node_from_dict(d: dict) -> Any:
    cls = _REGISTRY[d["_type"]]
    kwargs = {k: _decode(v) for k, v in d.items() if k != "_type"}
    # tuples were serialized as lists; dataclass fields accept lists fine
    return cls(**kwargs)


# ---------------------------------------------------------------------------
# Filters (DruidQuerySpec.scala:160-281)
# ---------------------------------------------------------------------------


class FilterSpec(IRNode):
    def referenced_columns(self) -> set[str]:
        raise NotImplementedError


@_node
@dataclass
class SelectorFilter(FilterSpec):
    """dim = value (DruidQuerySpec.scala:164-169)."""

    dimension: str
    value: Any

    def referenced_columns(self):
        return {self.dimension}


@_node
@dataclass
class InFilter(FilterSpec):
    """dim IN (values) — extraction+lookup filter analog (:202-208)."""

    dimension: str
    values: list = field(default_factory=list)

    def referenced_columns(self):
        return {self.dimension}


@_node
@dataclass
class BoundFilter(FilterSpec):
    """Range filter (:238-253). ``ordering`` is 'numeric' or 'lexicographic'."""

    dimension: str
    lower: Any = None
    upper: Any = None
    lower_strict: bool = False
    upper_strict: bool = False
    ordering: str = "numeric"

    def referenced_columns(self):
        return {self.dimension}


@_node
@dataclass
class RegexFilter(FilterSpec):
    """dim RLIKE pattern (:171-176)."""

    dimension: str
    pattern: str

    def referenced_columns(self):
        return {self.dimension}


@_node
@dataclass
class ContainsFilter(FilterSpec):
    """Substring match (:178-183); case_sensitive=False matches Druid's
    insensitive-contains search spec (:547-552)."""

    dimension: str
    value: str
    case_sensitive: bool = True

    def referenced_columns(self):
        return {self.dimension}


@_node
@dataclass
class NullFilter(FilterSpec):
    """IsNull / IsNotNull. The reference mapped these onto ``dim = ''`` per
    Druid's empty-string-null convention (ProjectFilterTransfom.scala:389-397);
    our index keeps real SQL nulls."""

    dimension: str
    is_null: bool = True

    def referenced_columns(self):
        return {self.dimension}


@_node
@dataclass
class LogicalFilter(FilterSpec):
    """and/or with flattening (:185-197)."""

    op: str  # 'and' | 'or'
    fields_: list = field(default_factory=list)

    def referenced_columns(self):
        out: set[str] = set()
        for f in self.fields_:
            out |= f.referenced_columns()
        return out


@_node
@dataclass
class NotFilter(FilterSpec):
    field_: FilterSpec = None

    def referenced_columns(self):
        return self.field_.referenced_columns()


@_node
@dataclass
class SpatialFilter(FilterSpec):
    """Rectangular bounding box over spatial-indexed numeric dimensions
    (DruidQuerySpec.scala:255-281). ``dimensions[i]`` constrained to
    [lower[i], upper[i]); either bound may be None (unbounded). Conjoined
    spatial filters over the same dimensions intersect their boxes
    (metadata/DruidRelationInfo.scala:142-173 combine semantics — see
    transforms.combine_spatial)."""

    dimensions: list = field(default_factory=list)
    lower: list = field(default_factory=list)
    upper: list = field(default_factory=list)

    def referenced_columns(self):
        return set(self.dimensions)


@_node
@dataclass
class ExprFilter(FilterSpec):
    """Arbitrary Spark-SQL boolean expression — the JavaScript-filter analog
    (DruidQuerySpec.scala:218-236) without leaving the JVM. ``columns`` must
    list every column the expression touches (for eligibility checks)."""

    expr: str
    columns: list = field(default_factory=list)

    def referenced_columns(self):
        return set(self.columns)


def and_(*specs: FilterSpec) -> FilterSpec:
    flat: list[FilterSpec] = []
    for s in specs:
        if isinstance(s, LogicalFilter) and s.op == "and":
            flat.extend(s.fields_)
        elif s is not None:
            flat.append(s)
    return flat[0] if len(flat) == 1 else LogicalFilter("and", flat)


def or_(*specs: FilterSpec) -> FilterSpec:
    flat: list[FilterSpec] = []
    for s in specs:
        if isinstance(s, LogicalFilter) and s.op == "or":
            flat.extend(s.fields_)
        elif s is not None:
            flat.append(s)
    return flat[0] if len(flat) == 1 else LogicalFilter("or", flat)


# ---------------------------------------------------------------------------
# Time intervals (QueryIntervals.scala:40-131)
# ---------------------------------------------------------------------------


@_node
@dataclass
class Interval(IRNode):
    """[start, end) on the time dimension; ISO date/timestamp strings.
    None = unbounded on that side."""

    start: Optional[str] = None
    end: Optional[str] = None


# ---------------------------------------------------------------------------
# Dimensions & extraction (DruidQuerySpec.scala:41-138)
# ---------------------------------------------------------------------------


class DimSpec(IRNode):
    pass


@_node
@dataclass
class DefaultDim(DimSpec):
    """Group-by passthrough (:123-128)."""

    dimension: str
    output_name: Optional[str] = None

    @property
    def out(self) -> str:
        return self.output_name or self.dimension

    def referenced_columns(self):
        return {self.dimension}


@_node
@dataclass
class TimeFormatDim(DimSpec):
    """timeFormat extraction (:72-80): format the time dim with a pattern.
    ``part`` is a date_part name (year/quarter/month/day/hour) or a Spark
    date_format pattern when ``is_pattern``. ``tz`` shifts the (UTC-stored)
    instant to a zone's wall clock first — the extraction's timeZone
    parameter; non-UTC zones force row-grain backings (bucket boundaries
    move, so pre-aggregated UTC buckets cannot serve them)."""

    dimension: str
    output_name: str
    part: str = "year"
    is_pattern: bool = False
    tz: Optional[str] = None

    @property
    def out(self) -> str:
        return self.output_name

    def referenced_columns(self):
        return {self.dimension}


@_node
@dataclass
class LookupDim(DimSpec):
    """Registered-lookup extraction dimension (Druid's lookup extractionFn,
    DruidQuerySpec.scala:202-208 family used as a DIMENSION, not a filter):
    map the dimension's values through a small key->value table at query
    time. ``retain_missing_value=True`` passes unmapped values through
    unchanged; otherwise they become ``replace_missing_with`` (default
    NULL). The table is broadcast-class by contract (Druid lookups live on
    every historical's heap) and lowers to a literal create_map +
    element_at — pure JVM, no join, cube-servable because the mapping is a
    function of the grouped dimension (re-aggregation over mapped values
    rides the same merge-form partials)."""

    dimension: str
    output_name: str
    lookup: dict = field(default_factory=dict)
    retain_missing_value: bool = False
    replace_missing_with: Optional[str] = None

    @property
    def out(self) -> str:
        return self.output_name

    def referenced_columns(self):
        return {self.dimension}


@_node
@dataclass
class ExprDim(DimSpec):
    """Group-by an arbitrary Spark-SQL expression — the JS-extraction analog
    (:90-95)."""

    expr: str
    output_name: str
    columns: list = field(default_factory=list)

    @property
    def out(self) -> str:
        return self.output_name

    def referenced_columns(self):
        return set(self.columns)


# ---------------------------------------------------------------------------
# Aggregations (DruidQuerySpec.scala:298-377)
# ---------------------------------------------------------------------------


class AggSpec(IRNode):
    name: str


@_node
@dataclass
class CountAgg(AggSpec):
    """count(*) — lowered to sum(__count) over a pre-agg backing
    (AggregateTransform.scala:331-347 count-vs-sum-of-count switch)."""

    name: str = "count"


@_node
@dataclass
class FieldAgg(AggSpec):
    """sum/min/max of a source column (:298-306, longSum/doubleSum/...)."""

    fn: str = "sum"  # 'sum' | 'min' | 'max'
    name: str = ""
    field_name: str = ""


@_node
@dataclass
class AvgAgg(AggSpec):
    """avg decomposed into sum+count at lowering (AggregateTransform.scala:
    425-441; divide rebuilt above the scan, DruidStrategy.scala:422-431).
    ``expr`` (round 8): avg over an arbitrary Spark SQL expression — the
    decomposition emits ExprAgg sum/count of the expression (count(expr)
    is the NON-NULL count, ANSI); ``columns`` lists its source columns
    for the planner's coverage check."""

    name: str = ""
    field_name: str = ""
    expr: Optional[str] = None
    columns: list = field(default_factory=list)


@_node
@dataclass
class ExprAgg(AggSpec):
    """fn(arbitrary Spark-SQL expression) — JS-aggregate analog
    (DruidQuerySpec.scala:350-360, JSAggGenerator.scala:34-117)."""

    fn: str = "sum"
    name: str = ""
    expr: str = ""
    columns: list = field(default_factory=list)


@_node
@dataclass
class FilteredAgg(AggSpec):
    """Aggregate over rows matching a filter (:370-377):
    sum(CASE WHEN cond THEN x END)."""

    name: str = ""
    filter: FilterSpec = None
    agg: AggSpec = None


@_node
@dataclass
class CardinalityAgg(AggSpec):
    """Approx count-distinct over dimension(s) (:316-325)."""

    name: str = ""
    field_names: list = field(default_factory=list)


@_node
@dataclass
class HyperUniqueAgg(AggSpec):
    """Approx count-distinct from a pre-built HLL sketch metric (:327-336);
    lowered to hll_sketch_estimate(hll_union_agg(sketch_col))."""

    name: str = ""
    field_name: str = ""


class ThetaKError(ValueError):
    """A theta sketch size k that Spark's theta built-ins cannot take."""


def theta_lg_nom_entries(k: int) -> int:
    """``lgNomEntries = log2(k)`` for Spark's ``theta_sketch_agg`` /
    ``theta_union_agg``. k must be a power of two in [16, 2^26] (the
    built-ins' lgNomEntries range 4-26); any other k raises, never rounds."""
    if not isinstance(k, int) or not 16 <= k <= 1 << 26 or k & (k - 1):
        raise ThetaKError(
            f"theta k must be a power of two in [16, 2^26], got {k!r}"
        )
    return k.bit_length() - 1


@_node
@dataclass
class ThetaAgg(AggSpec):
    """Distinct-count estimate (DOUBLE) from a theta sketch — the
    thetaSketch column type of the reference's type map (DruidDataType
    thetaSketch -> BinaryType; columnInfos ``sketchMetric`` link). Lowered to
    Spark's DataSketches theta built-ins with ``lgNomEntries = log2(k)``:
    row-grain backings build the sketch on the fly, cube backings union
    pre-built ``theta_<col>_k<k>`` partials, and both give the same
    estimate. Exact (= COUNT DISTINCT) while group NDV <= k."""

    name: str = ""
    field_name: str = ""
    k: int = 4096

    def __post_init__(self):
        theta_lg_nom_entries(self.k)


@_node
@dataclass
class ThetaSketchAgg(AggSpec):
    """Emit the merged theta sketch itself (a BinaryType DataSketches
    sketch) so set operations — intersect / difference / union cardinality,
    Druid's thetaSketchSetOp post-aggregations — can run above the
    aggregation (``theta_sketch_estimate(theta_intersection(a, b))`` and
    co.). This is the operation family HLL sketches cannot serve."""

    name: str = ""
    field_name: str = ""
    k: int = 4096

    def __post_init__(self):
        theta_lg_nom_entries(self.k)


@_node
@dataclass
class DistinctAgg(AggSpec):
    """Exact COUNT(DISTINCT col) — legal over a pre-agg backing only when the
    column is part of the backing's grain (SURVEY §7 step 5 exactness note)."""

    name: str = ""
    field_name: str = ""


@_node
@dataclass
class HistQuantileAgg(AggSpec):
    """Approximate percentile from a mergeable fixed-bin histogram — the
    approxHistogram analog (Druid's histogram extension served percentiles
    from mergeable bucket sketches). The estimator is fully determined by
    (lo, hi, nbins): row-grain backings bin the raw values, cube backings
    element-wise-sum pre-built ``hist_<col>`` partials, and both interpolate
    inside the target bin — so cube and flat answers are BIT-IDENTICAL and
    exactly reproducible by any engine (the oracle property). Error bound:
    |est - exact percentile| <= (hi-lo)/nbins for in-range data."""

    name: str = ""
    field_name: str = ""
    fraction: float = 0.5
    lo: float = 0.0
    hi: float = 1.0
    nbins: int = 64


@_node
@dataclass
class QuantileAgg(AggSpec):
    """Exact linear-interpolated percentile of a column (beyond-reference:
    the reference ecosystem served percentiles from approxHistogram sketches;
    here row-grain backings compute the exact percentile and pre-aggregated
    backings REJECT it — percentiles don't merge — so the planner falls back
    to flat/base automatically via the AggLoweringError eligibility path)."""

    name: str = ""
    field_name: str = ""
    fraction: float = 0.5


# ---------------------------------------------------------------------------
# Post-aggregations (DruidQuerySpec.scala:388-430)
# ---------------------------------------------------------------------------


class PostAggSpec(IRNode):
    name: str


@_node
@dataclass
class ArithmeticPostAgg(PostAggSpec):
    """fn over previously-computed agg names / constants (:414-424).
    ``expr`` is a Spark-SQL expression over agg output names."""

    name: str = ""
    expr: str = ""


# ---------------------------------------------------------------------------
# Having / limit (DruidQuerySpec.scala:437-506)
# ---------------------------------------------------------------------------


@_node
@dataclass
class HavingSpec(IRNode):
    """Post-aggregation predicate as a Spark-SQL expression over output names.
    The reference modeled having but never pushed it (DruidQuerySpec.scala:
    458-476, TODO at DruidTransforms.scala:48); we support it natively."""

    expr: str


@_node
@dataclass
class OrderByColumn(IRNode):
    column: str
    direction: str = "asc"  # 'asc' | 'desc'


@_node
@dataclass
class LimitSpec(IRNode):
    columns: list = field(default_factory=list)  # [OrderByColumn]
    limit: Optional[int] = None
    # skip the first n ordered rows (SelectSpec paging analog; ANSI OFFSET)
    offset: Optional[int] = None


@_node
@dataclass
class WindowPostSpec(IRNode):
    """ANSI window function evaluated over the AGGREGATED result (e.g.
    ``sum(sum(m)) OVER ()`` share-of-total, ``rank() OVER (PARTITION BY dim
    ORDER BY sum(m) DESC)``). Beyond the reference surface — it never rewrote
    window functions (SURVEY §2 "notably absent") — but windows whose inputs
    are the grouped outputs cost only a pass over the (planner-bounded)
    aggregate result, so the index still serves the heavy aggregation.

    ``arg``/``order[].column`` are Spark-SQL expressions over output columns;
    ``partition`` entries are grouped-dimension output names. Aggregate
    window functions carry no ORDER BY (whole-partition frame — identical in
    Spark and ANSI); rank/dense_rank/row_number require one.
    """

    name: str
    func: str  # sum|count|avg|min|max|rank|dense_rank|row_number|lag|lead
    arg: Optional[str] = None  # None for the rank family
    partition: list = field(default_factory=list)  # dim output names
    order: list = field(default_factory=list)  # [OrderByColumn]
    offset: Optional[int] = None  # lag/lead row offset (default 1); nth_value n
    default: Any = None  # lag/lead default literal (JSON-serializable)
    # aggregate-window frame: None + no order = whole partition; None +
    # order = ANSI default running frame (RANGE ... CURRENT ROW, ties are
    # peers — identical in Spark); [lo, hi] = explicit frame in Spark
    # rowsBetween/rangeBetween convention (negative = preceding,
    # null = unbounded)
    frame: Optional[list] = None
    # "rows" (default when frame is set) or "range". RANGE frames require a
    # single ascending ORDER BY; bounds are in order-key units (numeric key)
    # or in `range_unit` calendar units (time-bucket key)
    frame_type: Optional[str] = None
    # for RANGE over the time bucket: "year"|"month"|"day"|"hour"|"minute"|
    # "second" — the lowering orders by an integer surrogate (calendar month
    # index / epoch seconds) so Spark's numeric rangeBetween reproduces
    # DuckDB's interval-arithmetic frame exactly on bucket-truncated keys
    range_unit: Optional[str] = None
    # IGNORE NULLS for first_value/last_value/nth_value (ANSI null
    # treatment; Spark first/last/nth_value carry it natively)
    ignore_nulls: bool = False
    # ANSI frame-exclusion clause for aggregate windows: "NO_OTHER"
    # (default), "CURRENT_ROW", "GROUP", "TIES". Spark has no native
    # EXCLUDE — the lowering composes it from subtractable aggregates
    # (sum/count/avg) or split sub-frames (min/max ROWS); the SQL front
    # gates to exactly the composable shapes
    exclude: str = "NO_OTHER"


# ---------------------------------------------------------------------------
# Query shapes
# ---------------------------------------------------------------------------


class QuerySpec(IRNode):
    pass


@_node
@dataclass
class GroupByQuery(QuerySpec):
    """DruidQuerySpec.scala:638-707."""

    dimensions: list = field(default_factory=list)  # [DimSpec]
    granularity: str = "all"  # 'all'|'none'|'day'|'month'|'year'|'hour'|...
    filter: Optional[FilterSpec] = None
    aggregations: list = field(default_factory=list)  # [AggSpec]
    post_aggregations: list = field(default_factory=list)
    having: Optional[HavingSpec] = None
    limit_spec: Optional[LimitSpec] = None
    intervals: list = field(default_factory=list)  # [Interval]
    grouping_sets: Optional[list] = None  # list[list[str]] of dim out-names
    time_output_name: str = "__time"
    output_order: Optional[list] = None  # SQL select-list output column order
    # period-granularity timeZone (DruidQueryGranularity.scala:42-59): time
    # buckets follow the zone's wall clock; output is the wall-clock bucket
    # start. Non-UTC zones force row-grain backings.
    granularity_tz: Optional[str] = None
    # duration-granularity origin (DruidQueryGranularity.scala:42-107):
    # buckets anchor at this ISO timestamp instead of the epoch. Origins not
    # on an epoch-aligned bucket boundary force row-grain backings.
    granularity_origin: Optional[str] = None
    # window functions over the aggregated result (WindowPostSpec); computed
    # after HAVING, before ORDER BY/LIMIT (ANSI evaluation order)
    window_posts: list = field(default_factory=list)
    # scalar expressions over window outputs (e.g. round(share, 6)):
    # [name, spark_sql_expr] pairs applied after window_posts
    window_exprs: list = field(default_factory=list)
    # QUALIFY: boolean Spark-SQL expr over output/window columns, applied
    # after the windows, before ORDER BY/LIMIT (ANSI evaluation order);
    # Spark SQL has no QUALIFY — natively-served surface
    qualify: Optional[str] = None


@_node
@dataclass
class TimeseriesQuery(QuerySpec):
    """DruidQuerySpec.scala:709-765: aggregation grouped only by time."""

    granularity: str = "all"
    filter: Optional[FilterSpec] = None
    aggregations: list = field(default_factory=list)
    post_aggregations: list = field(default_factory=list)
    intervals: list = field(default_factory=list)
    time_output_name: str = "__time"
    output_order: Optional[list] = None
    granularity_tz: Optional[str] = None  # see GroupByQuery.granularity_tz
    granularity_origin: Optional[str] = None
    # Druid timeseries emits EVERY bucket in the queried intervals, filling
    # empty ones with aggregator identities (skipEmptyBuckets=false default);
    # True reproduces that: count/sum-family (incl. sketch estimates) -> 0,
    # min/max/avg/quantile -> NULL, post-aggs computed over the filled
    # values. Requires fully-bounded intervals + a bucketing granularity
    # (lowering._zero_fill_spine).
    zero_fill: bool = False


@_node
@dataclass
class TopNQuery(QuerySpec):
    """DruidQuerySpec.scala:767-868. Spark lowering is exact (groupBy + sort +
    limit = TakeOrderedAndProject), an upgrade over Druid's approximate TopN —
    the reference gated approximation behind allowTopN
    (DruidPlanner.scala:149-159)."""

    dimension: DimSpec = None
    metric: str = ""
    threshold: int = 10
    inverted: bool = False  # ascending ("inverted" metric spec :478-506)
    granularity: str = "all"  # != all => top-k PER time bucket (Druid TopN)
    filter: Optional[FilterSpec] = None
    aggregations: list = field(default_factory=list)
    post_aggregations: list = field(default_factory=list)
    intervals: list = field(default_factory=list)
    time_output_name: str = "__time"
    output_order: Optional[list] = None
    granularity_tz: Optional[str] = None  # see GroupByQuery.granularity_tz
    granularity_origin: Optional[str] = None
    # opt back into Druid's approximate TopN semantics (the reference's
    # allowTopN gate, DruidPlanner.scala:149-159): when a cube carries a
    # matching TopKSpec map the planner serves the per-cell top-m merge
    # (est-ranked, provably exact when no selected cell overflowed m);
    # otherwise the exact lowering runs as usual
    approx: bool = False


@_node
@dataclass
class SearchQuery(QuerySpec):
    """DruidQuerySpec.scala:870-975: distinct values of dimension(s) matching
    insensitive-contains, lexicographically sorted, limited."""

    dimensions: list = field(default_factory=list)  # [str]
    value: str = ""
    case_sensitive: bool = False
    filter: Optional[FilterSpec] = None
    limit: Optional[int] = None
    intervals: list = field(default_factory=list)
    # SearchSortSpec (:870-975): 'lexicographic' (default) or 'strlen'
    # (shortest values first, lexicographic tie-break)
    sort: str = "lexicographic"


@_node
@dataclass
class SelectQuery(QuerySpec):
    """DruidQuerySpec.scala:981-1098: raw row scan with projection + filter.
    Spark streams natively — no paging spec needed
    (DruidSelectResultIterator.scala:34-230 is obsolete here)."""

    columns: list = field(default_factory=list)  # [str] or [(col, alias)]
    filter: Optional[FilterSpec] = None
    limit: Optional[int] = None
    offset: Optional[int] = None  # paging (PagingSpec analog; ANSI OFFSET)
    order_by: list = field(default_factory=list)  # [OrderByColumn]
    intervals: list = field(default_factory=list)
    # ROW-GRAIN window functions (rank/running/lag over raw rows — no GROUP
    # BY): arg/partition/order are Spark SQL exprs over SOURCE columns,
    # evaluated ANSI-style over the filtered scan BEFORE projection.
    # window_source_columns lists every source column they reference so the
    # planner's flat-coverage check sees them.
    window_posts: list = field(default_factory=list)
    window_exprs: list = field(default_factory=list)  # [name, expr] pairs
    window_source_columns: list = field(default_factory=list)
    output_order: Optional[list] = None  # select-list output column order
    # QUALIFY: boolean Spark-SQL expr over output/window columns, applied
    # after the windows, before ORDER BY/LIMIT (the latest-row-per-key /
    # top-k-per-group idiom — Spark SQL itself has no QUALIFY, so this is
    # natively-served surface with no fallback twin)
    qualify: Optional[str] = None


@_node
@dataclass
class SetOpQuery(QuerySpec):
    """UNION [ALL] / INTERSECT / EXCEPT of two servable queries (round 7).

    The reference unioned per-grouping-set Druid queries inside one plan
    (DruidStrategy.scala:74-76) but never accelerated user-written set
    operations — BI tools emit UNION ALL constantly (period blends,
    actual-vs-plan), so here each arm is planned and lowered through the
    index independently and the LAZY results combine in one Spark DAG
    (positionally, ANSI set-op semantics — column names come from the left
    arm). Arms may nest (a SetOpQuery child). A statement-level ORDER BY /
    LIMIT / OFFSET applies after the combine. Any arm outside the
    rewritable surface declines the WHOLE statement to the spark.sql
    fallback (session.OlapContext.sql), which stays correct."""

    op: str = "union"  # 'union' | 'intersect' | 'except'
    all: bool = False
    left: Optional["QuerySpec"] = None
    right: Optional["QuerySpec"] = None
    limit_spec: Optional[LimitSpec] = None
    output_order: Optional[list] = None  # left arm's output names


@_node
@dataclass
class BaseKeysQuery(QuerySpec):
    """Distinct key set from ONE base (dimension-grain) table — the inner
    arm of a :class:`SemiJoinQuery` whose FROM is a dimension table of the
    star. It cannot lower through the index: the flat backing is FACT grain,
    and a dim-grain key set computed over flat rows would silently drop dim
    rows with no fact match — wrong for NOT EXISTS and for correlation keys
    off the star join path. The session lowers it over the registered base
    table instead: filter -> select(key...) -> distinct (map-side combined;
    shrinks the semi-join build side before any shuffle)."""

    table: str = ""
    keys: list = field(default_factory=list)  # output key column names
    filter: Optional[FilterSpec] = None
    # extra aliased outputs [(col, alias)] — inner columns a non-equi
    # EXISTS residual references (aliased to reserved __sjr_* names so the
    # join condition can address them unambiguously against the outer)
    extra: list = field(default_factory=list)
    # expression keys [[sql, alias]] — an IN/NOT IN subquery selecting an
    # expression rather than a plain column (round 8 cont.)
    exprs: list = field(default_factory=list)
    # ROW-GRAIN mode (round 11, theta correlated scalars): False keeps
    # duplicate rows — the residual-only scalar bundle re-aggregates
    # SUM/AVG/COUNT leaves over the matched dim rows, where multiplicity
    # is semantics. Distinct stays the default (semi/anti arms only need
    # existence, and the distinct shrinks the build side).
    distinct: bool = True


@_node
@dataclass
class BaseScalarQuery(QuerySpec):
    """Single-row aggregate over ONE base (dimension-grain) table — the
    inner of an uncorrelated scalar subquery whose FROM is a dim table.
    Like :class:`BaseKeysQuery` it cannot lower through the fact-grain
    index (an aggregate over orders evaluated on flat rows would weight
    each order by its lineitem count); the session lowers it as
    ``base_table.where(filter).agg(expr)`` — one map-side-combined global
    aggregate, exactly one output row even on empty input (ANSI)."""

    table: str = ""
    agg_sql: str = ""  # Spark SQL aggregate expression text
    filter: Optional[FilterSpec] = None
    # multi-aggregate form (round 8, quantified/correlated subqueries):
    # [[sql, alias], ...] — when set, supersedes agg_sql
    aggs: list = field(default_factory=list)
    # correlated form: group by these key columns (one row PER KEY, not
    # one row total — the decorrelated per-group scalar)
    group_keys: list = field(default_factory=list)


@_node
@dataclass
class ScalarCond(IRNode):
    """One `expr <op> (SELECT agg FROM ...)` conjunct of a SemiJoinQuery:
    the 1-row inner broadcast-cross-joins the outer's row-grain scan and
    ``outer_sql <op> <scalar>`` filters before aggregation — lazy (no
    driver-side collect of the scalar), and a NULL scalar (e.g. AVG of an
    empty set) makes the comparison NULL = row dropped, exactly ANSI.
    ``flip`` marks the scalar appearing on the LEFT of the comparison."""

    inner: Optional["QuerySpec"] = None  # 1-row aggregate spec
    inner_col: str = ""  # the inner's single output column name
    op: str = "="
    outer_sql: str = ""  # rendered Spark SQL for the non-subquery side
    outer_columns: list = field(default_factory=list)
    flip: bool = False
    # parse-assigned broadcast column name (__sc{j}); when standalone is
    # False the comparison is NOT applied as its own filter — it appears
    # inline inside an or_filters expression instead (subquery under OR)
    alias: str = ""
    standalone: bool = True


@_node
@dataclass
class GuardCond(IRNode):
    """Quantified-comparison guard (round 8 cont.): ONE 1-row multi-
    aggregate inner whose outputs (reserved ``__g{j}_{i}`` aliases)
    broadcast-cross-join the outer's row-grain scan; ``cond_sql`` (a
    boolean Spark SQL expression over those aliases + outer columns)
    filters before aggregation. This is how ``[NOT] x <op> ANY (SELECT
    ...)`` — including NOT IN and the ALL quantifiers DuckDB rewrites to
    NOT+ANY — keeps ANSI three-valued semantics: the aggregate bundle
    (count(*), count(item), min/max(item)) lets the condition encode the
    empty-set and NULL-member cases a bare min/max rewrite would get
    wrong."""

    inner: Optional["QuerySpec"] = None  # 1-row aggregates (GroupByQuery | BaseScalarQuery)
    inner_cols: list = field(default_factory=list)  # output aliases __g{j}_{i}
    cond_sql: str = ""
    outer_columns: list = field(default_factory=list)
    # False = the condition appears inline inside an or_filters expression
    # (subquery under OR) instead of filtering on its own
    standalone: bool = True
    # guard-over-arm form (round 10): instead of a second scan via
    # ``inner``, aggregate ``arm_aggs`` [(sql, alias)] over the OUTPUT of
    # the sibling SemiJoinArm at this index — NOT IN's NULL/empty guard
    # only needs "does the set contain NULL" and "is the set empty", both
    # preserved by the arm's DISTINCT (distinct keeps a NULL row, and
    # emptiness is distinct-invariant). The arm and guard branches then
    # share one physical subplan, so Spark's ReuseExchange serves both
    # from a single scan of the inner table (the r9 matched-twin loss was
    # exactly the guard's second scan).
    over_arm: Optional[int] = None
    arm_aggs: list = field(default_factory=list)


@_node
@dataclass
class CorrScalarCond(IRNode):
    """Equi-correlated scalar-aggregate comparison (round 8 cont.) — the
    TPC-H Q17 shape ``x < (SELECT 0.2*avg(q) FROM t WHERE t.k = outer.k)``
    decorrelated the classical way: the inner becomes a GROUP BY over its
    correlation keys computing each aggregate LEAF of the select item
    (aliased ``__ca{j}_{i}``); the outer scan joins that per-key table on
    the correlation pairs and ``outer_sql <op> value_sql`` filters before
    aggregation. ``left_join`` is True when a count-class leaf requires
    empty groups to still evaluate (COALESCE(leaf, 0) is baked into
    value_sql); otherwise an inner join is identical (a missing group
    yields a NULL scalar, the comparison is NULL, the row drops — ANSI).
    NULL outer keys never match the equi join, matching the correlated
    predicate ``k = NULL`` selecting nothing."""

    inner: Optional["QuerySpec"] = None  # grouped agg (GroupByQuery | BaseScalarQuery)
    inner_keys: list = field(default_factory=list)  # DEDUPED groupBy key names
    pairs: list = field(default_factory=list)  # [[outer_col, inner_col], ...]
    leaf_cols: list = field(default_factory=list)  # agg-leaf aliases __ca{j}_{i}
    value_sql: str = ""  # select item over the leaf aliases
    op: str = "="
    outer_sql: str = ""
    outer_columns: list = field(default_factory=list)
    flip: bool = False
    left_join: bool = False
    # guard form (correlated NOT IN / quantified comparisons): a boolean
    # condition over the leaf aliases + outer columns replaces the
    # op-comparison entirely — the per-group analog of GuardCond, with
    # COALESCE(count, 0) baked in where a missing group must still pass
    cond_sql: str = ""
    # False = the condition appears inline inside an or_filters expression
    # (subquery under OR); the per-key join still happens, its leaf
    # columns stay visible until the OR filter has run
    standalone: bool = True
    # ROW-GRAIN residual mode (round 11): a NON-EQUI residual conjunct
    # referencing outer frame columns means the per-key bundle cannot
    # precompute — ``inner`` stays a row-grain select (keys + leaf
    # arguments + residual columns) and the server builds the bundle per
    # DISTINCT (pair outer cols + residual frame cols) tuple: distinct
    # frame tuples LEFT-join the rows on the equi pairs AND residual_sql,
    # the leaf aggregates recompute per tuple (leaf_aggs), and the bundle
    # joins back null-safely — no frame-row duplication is possible by
    # construction. One SQL-front builder emits it
    # (sqlfront._residual_bundle) for HAVING EXISTS / [NOT] IN /
    # quantified, the select-list and WHERE scalars, and the OR-composed
    # EXISTS / [NOT] IN / quantified atoms; the frame is the aggregated
    # frame in HAVING and the select list, the row-grain scan elsewhere.
    row_grain: bool = False
    # residual condition over frame output aliases + __hcr* inner aliases
    residual_sql: str = ""
    # frame output aliases the residual reads (bundle key extension)
    residual_frame_cols: list = field(default_factory=list)
    # inner-side residual column aliases exposed by the row-grain inner
    residual_cols: list = field(default_factory=list)
    # [[fn, arg_sql | None, leaf_alias]] with fn in
    # count_star/count/sum/min/max/avg — the re-aggregation recipe
    leaf_aggs: list = field(default_factory=list)
    # RESIDUAL-ONLY correlation (round 11, late): no equi anchor — the
    # row-grain bundle joins distinct outer residual tuples to the dim
    # rows on the residual ALONE (a theta join), acceptable only as a
    # broadcast nested loop over a PROVABLY tiny inner: the server
    # probes the row set against theta_inner_max_rows and declines past
    # it. The rate-card idiom: `(SELECT MAX(rate) FROM rates WHERE
    # rates.threshold <= o.amount)`.
    broadcast_theta: bool = False


@_node
@dataclass
class SemiJoinArm(IRNode):
    """One `col IN (SELECT ...)` / `[NOT] EXISTS (...)` conjunct of a
    SemiJoinQuery. ``outer_keys[i]`` equi-joins ``inner``'s output column
    ``inner_keys[i]`` (left_semi, or left_anti when ``anti``)."""

    inner: Optional["QuerySpec"] = None  # GroupByQuery (fact grain) | BaseKeysQuery
    outer_keys: list = field(default_factory=list)
    inner_keys: list = field(default_factory=list)
    anti: bool = False
    # marker mode (round 8 cont. — Catalyst ExistenceJoin analog): instead
    # of a semi/anti join, LEFT join the key set with a literal-true flag
    # under this name; the OR-level filter (SemiJoinQuery.or_filters)
    # reads the flag. Only emitted for arms whose key set is DISTINCT on
    # the full join condition (no residual), so the left join cannot
    # duplicate outer rows.
    marker: str = ""
    # non-equi EXISTS residual (round 8): a boolean Spark SQL expression
    # ANDed into the join condition; inner-scoped columns appear under
    # their reserved __sjr_* aliases (exposed by the inner spec), outer
    # columns under their bare names. NULL residual = no match, exactly
    # the EXISTS/NOT EXISTS comparison semantics.
    residual_sql: str = ""
    # outer columns the residual reads — counted into the outer backing's
    # coverage check (they must exist on the row-grain scan)
    residual_outer_cols: list = field(default_factory=list)
    # RESIDUAL-ONLY correlation (round 11): no equi anchor at all — the
    # arm joins on residual_sql alone. Serving this is a theta join,
    # acceptable ONLY as a broadcast nested loop over a PROVABLY TINY
    # inner: the server probes the materialized inner row set against
    # OlapContext.theta_inner_max_rows and declines past the bound
    # (the spark.sql fallback stays correct). outer_keys/inner_keys are
    # empty; the inner is a dim-grain BaseKeysQuery exposing only the
    # __sjr_* residual columns. Never marker-composable (a theta match
    # set is not distinct per outer row).
    broadcast_theta: bool = False


@_node
@dataclass
class ScalarSelectQuery(QuerySpec):
    """Uncorrelated scalar subqueries in the SELECT list (round 8 cont.)
    — the share-of-total BI idiom ``sum(x) / (SELECT sum(x) FROM ...)``
    and plain constant columns ``(SELECT max(...) ...) AS m``.

    Parsed by DEFERRED PROJECTION: each subquery-bearing select item is
    rewritten into (a) hidden aggregate leaves appended to the BASE
    statement's select list (``__sa*`` aliases — computed by the base's
    normal grouped lowering, cube-servable) and (b) scalar subquery
    placeholders (``__ss*``), then re-rendered as a final projection
    expression over those columns. Lowering runs the base, broadcast-
    cross-joins each 1-row scalar (lazy, no driver collect; a NULL scalar
    propagates NULL into the expression — ANSI), applies the final
    projection in statement order, then the LIFTED ORDER BY/LIMIT (lifted
    so the sort happens above the join — emitted order is guaranteed, and
    ordering by scalar-derived outputs like the share itself works).

    Typing note (pre-existing class, same as post-aggs over cubes): a
    BARE decimal division like ``SUM(dec) / (SELECT SUM(dec) ...)``
    derives its result scale from the operand precision, and cube-backed
    sums carry wider accumulators than a direct aggregation — so the
    derived scale can differ from the spark.sql fallback's (and engines
    differ among themselves). Portable SQL casts the operands
    (``CAST(SUM(..) AS DOUBLE) / ...``), which is exact and identical
    everywhere; the oracle-backed driver rows use that house style.

    Round 9 widens HAVING to the NON-scalar subquery kinds the WHERE side
    already accelerates, re-expressed over the POST-AGGREGATION frame:
    ``HAVING x IN (SELECT ...)`` becomes a marker LEFT join of the inner's
    DISTINCT key set (``having_arms`` — the key set is distinct on the
    join key, so the left join cannot duplicate group rows; the HAVING
    conjunct renders inline as ``coalesce(flag, false)``, exact in filter
    context), and ``HAVING [NOT] x <op> ANY/ALL (...)`` / ``[NOT]
    EXISTS (...)`` / ``NOT IN`` become broadcast 1-row aggregate bundles
    (``having_guards``, reusing :class:`GuardCond`) whose three-valued
    conditions render inline into the same post_filters. Equi-CORRELATED
    ``[NOT] EXISTS`` / ``IN`` also serve: a HAVING correlation binds to
    the outer's GROUP columns, so when every correlation column is
    SELECTED the arm is a multi-key membership test of the aggregated
    frame (correlation pairs + the IN equality as join keys — exact,
    two-valued in filter context).

    Round 10 widens further: correlated QUANTIFIED comparisons and
    correlated NOT IN in HAVING serve through ``having_corr`` —
    per-correlation-key aggregate bundles LEFT-joined onto the frame
    (the WHERE side's _parse_corr_quantified machinery one aggregation
    later), with NOT IN pairing a membership marker arm with its
    per-group NULL/empty count guard.

    Declines: correlated select-list scalars,
    HAVING correlation on unselected columns or with non-equi residuals,
    DISTINCT over a scalar-bearing select list (the projection can
    collapse differently when the scalar is NULL), dimension references
    inside a subquery-bearing item (HAVING may reference SELECTED group
    columns only; a select alias shadowing a different real column
    declines), unaliased subquery items, row-value IN in HAVING."""

    base: Optional["QuerySpec"] = None
    scalars: list = field(default_factory=list)  # [[inner_spec, alias]]
    # ordered outputs: [[name, sql|None]] — None = passthrough base column
    final: list = field(default_factory=list)
    limit_spec: Optional[LimitSpec] = None  # lifted statement ORDER/LIMIT
    # HAVING conjuncts carrying subqueries: boolean SQL over base outputs
    # (incl. hidden __sa* leaves) + scalar aliases + __hm* marker flags +
    # __hg* guard columns, applied after every join below and BEFORE the
    # final projection / lifted ORDER BY
    post_filters: list = field(default_factory=list)
    # HAVING membership arms (round 9): [[inner_spec, outer_sqls,
    # inner_keys, marker]] — inner_spec's key set (DISTINCT on ALL its
    # keys) LEFT-joins the aggregated frame on pairwise outer_sqls[i] ==
    # inner_keys[i] with a literal-true flag named marker (__hm{j}).
    # Single-key arms carry uncorrelated [NOT] IN; multi-key arms carry
    # equi-CORRELATED [NOT] EXISTS / IN, whose correlation pairs bind to
    # SELECTED group columns of the frame (correlation on an unselected
    # column declines). Key sets are NDV-bounded and AQE broadcast-
    # converts small ones at runtime (no forced broadcast — a huge key
    # set degrades to a shuffled hash join, never a cross product).
    having_arms: list = field(default_factory=list)
    # HAVING guard bundles (round 9): [GuardCond] with standalone=False —
    # 1-row aggregate bundles broadcast-cross-joined; their conditions
    # live inline in post_filters (polarity/OR composition comes free)
    having_guards: list = field(default_factory=list)
    # correlated HAVING quantified / NOT IN (round 10): [CorrScalarCond]
    # whose correlation pairs bind to SELECTED group columns of the frame
    # (outer side = frame output alias). Lowered as a LEFT join of the
    # per-correlation-key aggregate bundle onto the aggregated frame; the
    # three-valued condition lives inline in post_filters (left join so a
    # missing group — the empty set — still reaches the condition, which
    # COALESCEs its counts). The same _parse_corr_quantified machinery as
    # the WHERE side, evaluated one aggregation later.
    having_corr: list = field(default_factory=list)
    output_order: Optional[list] = None


@_node
@dataclass
class SemiJoinQuery(QuerySpec):
    """Uncorrelated `IN (SELECT ...)` / equi-correlated `[NOT] EXISTS`
    acceleration (round 8) — the reference's 357x "SubQry" benchmark shape
    (BenchMarkDetails.org:95-102; SparklineData pushed the subquery's dims
    as Druid filters after Catalyst rewrote IN to a semi-join).

    The outer query (with the subquery conjuncts REMOVED from its WHERE)
    runs over a ROW-GRAIN backing — the semi-join key is row grain, so the
    planner is forced past the cubes to the pruned flat scan — and each
    arm's key set left_semi/left_anti joins that scan BEFORE the outer's
    aggregation. Arms are planned independently (fact-grain inners may use
    a cube; dim-grain inners read the base table). The win over the
    spark.sql fallback is the pruned flat scan + no star re-join, with the
    aggregation still map-side combined above the semi-join.

    Uncorrelated SCALAR subqueries (``x > (SELECT agg ...)``) ride the
    same wrapper as :class:`ScalarCond` entries: the 1-row inner
    broadcast-cross-joins the scan and filters before aggregation.

    Round-8 continuation widened the surface: correlated IN rides the
    EXISTS machinery (the IN equality is one more equi-correlation pair);
    NOT IN lowers as a left_anti arm PLUS a :class:`GuardCond` encoding
    its three-valued NULL semantics exactly; the ALL quantifiers (DuckDB
    rewrites them to NOT + flipped ANY) and non-equal ANY comparisons
    lower as pure guards; equi-correlated scalar aggregates (TPC-H Q17's
    per-group form) decorrelate via :class:`CorrScalarCond`.

    Honest declines (sqlfront raises, statement falls back): correlated
    NOT IN / quantified comparisons, scalar subqueries with non-equi or
    zero equi correlation, outer references inside aggregate arguments,
    non-aggregate or grouped scalars (no 1-row guarantee), subqueries
    under OR, unknown qualifiers (a qualifier naming neither an inner nor
    an outer table/alias)."""

    outer: Optional["QuerySpec"] = None
    arms: list = field(default_factory=list)  # [SemiJoinArm]
    scalar_conds: list = field(default_factory=list)  # [ScalarCond]
    guards: list = field(default_factory=list)  # [GuardCond]
    corr_scalars: list = field(default_factory=list)  # [CorrScalarCond]
    # OR-composed conjuncts containing subqueries (round 8 cont.): each is
    # a boolean Spark SQL expression over scan columns + marker flags +
    # inline scalar/guard conditions, applied once every marker join and
    # broadcast cross join is attached (after the arm joins — all these
    # conjuncts commute) and BEFORE the outer aggregation.
    # Exactness argument: in a WHERE with no NOT above a subquery atom,
    # collapsing a predicate's UNKNOWN to FALSE never changes the kept row
    # set (monotone positive context); EXISTS atoms are two-valued anyway,
    # and NOT EXISTS renders as NOT coalesce(flag, false).
    or_filters: list = field(default_factory=list)
    # scan columns the or_filters read (outer coverage)
    or_columns: list = field(default_factory=list)
    output_order: Optional[list] = None  # outer's output names


def query_referenced_columns(q: QuerySpec) -> set[str]:
    """Every source column a query touches (dims + filters + agg inputs)."""
    cols: set[str] = set()

    def from_agg(a: AggSpec):
        if isinstance(a, FieldAgg):
            cols.add(a.field_name)
        elif isinstance(a, AvgAgg):
            if a.expr is not None:
                cols.update(a.columns)
            else:
                cols.add(a.field_name)
        elif isinstance(a, ExprAgg):
            cols.update(a.columns)
        elif isinstance(a, FilteredAgg):
            cols.update(a.filter.referenced_columns())
            from_agg(a.agg)
        elif isinstance(a, (CardinalityAgg,)):
            cols.update(a.field_names)
        elif isinstance(
            a,
            (
                HyperUniqueAgg,
                DistinctAgg,
                QuantileAgg,
                HistQuantileAgg,
                ThetaAgg,
                ThetaSketchAgg,
            ),
        ):
            cols.add(a.field_name)

    if isinstance(q, (GroupByQuery,)):
        for d in q.dimensions:
            cols |= d.referenced_columns()
    if isinstance(q, TopNQuery) and q.dimension is not None:
        cols |= q.dimension.referenced_columns()
    if isinstance(q, SearchQuery):
        cols.update(q.dimensions)
    if isinstance(q, SelectQuery):
        for c in q.columns:
            cols.add(c[0] if isinstance(c, (list, tuple)) else c)
        cols.update(q.window_source_columns)
    f = getattr(q, "filter", None)
    if f is not None:
        cols |= f.referenced_columns()
    for a in getattr(q, "aggregations", []) or []:
        from_agg(a)
    return cols
