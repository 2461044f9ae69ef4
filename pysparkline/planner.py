"""Planner: choose the backing (cube / flat / base) for a query and explain it.

This is the PySpark-native replacement for the reference's plan-rewrite engine
(DruidPlanner.scala:29-50 transform stack + DruidQueryCostModel.scala). The
reference pattern-matched Catalyst plans and decided broker-vs-historical; we
match the IR against the index manifest and decide cube-vs-flat-vs-base:

- A **cube** is eligible when every referenced column (dims, filter columns,
  aggregation inputs) is in the cube grain or satisfied by a pre-built metric,
  the query granularity is coarser-or-equal the cube's, and every time interval
  aligns to cube bucket boundaries.
- The **flat** table is eligible when all referenced columns exist in the
  flattened star (this is star-join elimination: JoinTransform.scala's whole
  purpose, achieved here by construction).
- Otherwise the query falls back to a caller-supplied **base** DataFrame
  (the raw star join) — always correct, never fast.

Cardinality bail-out mirrors maxResultCardinality (DefaultSource.scala:212-221):
the estimated result-group count (NDV product collapsed by functional
dependencies, FunctionalDependency.scala:59-83) above the cap rejects
pre-aggregated execution.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from . import index as index_mod
from . import ir, lowering
from .index import OlapIndex, _file_key
from .lowering import AggLoweringError, Backing
from .metadata import FDGraph


@dataclass
class PlanDecision:
    backing: str  # 'cube' | 'flat' | 'base'
    cube_name: str | None = None
    estimated_groups: float | None = None
    notes: list[str] = field(default_factory=list)

    def pretty(self) -> str:
        head = f"backing={self.backing}" + (
            f" cube={self.cube_name}" if self.cube_name else ""
        )
        if self.estimated_groups is not None:
            head += f" est_groups={int(self.estimated_groups)}"
        return head + "".join(f"\n  - {n}" for n in self.notes)


_AGG_SHAPES = (ir.GroupByQuery, ir.TimeseriesQuery, ir.TopNQuery)


def _query_dims(q: ir.QuerySpec) -> list[ir.DimSpec]:
    if isinstance(q, ir.GroupByQuery):
        return list(q.dimensions)
    if isinstance(q, ir.TopNQuery):
        return [q.dimension]
    return []


def _cube_eligible(
    q: ir.QuerySpec, index: OlapIndex, cube_name: str, notes: list[str]
) -> Backing | None:
    info = index.manifest["cubes"][cube_name]
    cube_dims = set(info["dims"])
    gran = info["granularity"]
    tcol = index.time_col

    def reject(msg: str) -> None:
        notes.append(f"cube {cube_name}: rejected — {msg}")

    if not isinstance(q, _AGG_SHAPES):
        reject("not an aggregate query shape")
        return None

    qgran = getattr(q, "granularity", "all")
    if not lowering.gran_coarser_or_equal(qgran, gran):
        reject(f"query granularity {qgran} finer than cube {gran}")
        return None
    qtz = getattr(q, "granularity_tz", None)
    if qtz not in (None, "UTC", "Etc/UTC"):
        # zone-shifted buckets don't align with the cube's UTC buckets
        reject(f"granularity timeZone {qtz} shifts bucket boundaries")
        return None
    qorigin = getattr(q, "granularity_origin", None)
    if qorigin is not None:
        dur = lowering.duration_seconds(qgran)
        o = lowering.origin_epoch_seconds(qorigin)
        if dur is None or o % dur != 0:
            # an origin off the epoch-aligned grid shifts every boundary
            reject(f"granularity origin {qorigin} shifts bucket boundaries")
            return None

    part_gran = {
        "year": "year", "quarter": "quarter", "month": "month", "day": "day",
        "dayofyear": "day", "weekofyear": "week", "hour": "hour",
        "minute": "minute", "second": "none",
    }
    for d in _query_dims(q):
        if isinstance(d, ir.TimeFormatDim) and d.dimension == tcol:
            # the extracted part must be constant within a cube bucket:
            # year() from a month bucket is fine, day() from month is not
            if getattr(d, "tz", None) not in (None, "UTC", "Etc/UTC"):
                # a zone shift moves bucket boundaries (wall-clock day !=
                # UTC day): pre-aggregated UTC buckets cannot answer it
                reject(f"time-format tz {d.tz} shifts bucket boundaries")
                return None
            if d.is_pattern:
                reject("pattern time-format not supported on pre-agg backing")
                return None
            if not lowering.gran_coarser_or_equal(part_gran.get(d.part, "none"), gran):
                reject(f"time part {d.part} finer than cube granularity {gran}")
                return None
            continue
        if not d.referenced_columns() <= cube_dims:
            reject(f"dimension {sorted(d.referenced_columns())} not in grain")
            return None

    f = getattr(q, "filter", None)
    if f is not None and not f.referenced_columns() <= cube_dims:
        reject(f"filter columns {sorted(f.referenced_columns() - cube_dims)} not in grain")
        return None

    for iv in getattr(q, "intervals", []) or []:
        if not lowering.interval_aligned(iv, gran):
            reject(f"interval {iv} not aligned to {gran} buckets")
            return None

    backing = Backing.cube(index, cube_name)
    aggs, _ = lowering._decompose_avgs(list(getattr(q, "aggregations", [])))
    for a in aggs:
        try:
            lowering._preagg_agg(a, backing)
        except AggLoweringError as e:
            reject(str(e))
            return None
    notes.append(f"cube {cube_name}: eligible (rows={info['rowCount']})")
    return backing


def _topn_ranking_expr(agg) -> str | None:
    """The additive measure a TopN ranks by, in TopKSpec.metric terms —
    None when the agg shape can't ride a top-k map (non-sum folds)."""
    if isinstance(agg, ir.CountAgg):
        return "count"
    if isinstance(agg, ir.FieldAgg) and agg.fn == "sum":
        return agg.field_name
    if isinstance(agg, ir.ExprAgg) and agg.fn == "sum":
        return agg.expr
    return None


def _topk_eligible(
    q: ir.TopNQuery, index: OlapIndex, notes: list[str]
) -> Backing | None:
    """Serve an approx TopN from a cube's TopKSpec map (the Druid
    per-segment-top-m merge the reference gated behind allowTopN,
    DruidPlanner.scala:149-159). Requirements: the query opted in
    (``approx=True``), ranks DESCENDING by its single sum/count
    aggregation, groups a plain dimension matching a spec, and every
    filter column lives in the cube grain (filters select CELLS; a filter
    on the sketched dim itself would change what the stored maps mean).
    Anything else falls through to the exact lowering."""
    if not getattr(q, "approx", False):
        return None
    if q.inverted:
        notes.append("approx TopN: inverted (ascending) metric — the maps "
                     "keep the LARGEST weights; exact path serves it")
        return None
    if q.post_aggregations or len(q.aggregations) != 1:
        notes.append("approx TopN: needs exactly one sum/count aggregation "
                     "and no post-aggregations")
        return None
    agg = q.aggregations[0]
    want = _topn_ranking_expr(agg)
    if want is None or q.metric != agg.name:
        notes.append("approx TopN: ranking aggregation not an additive "
                     "sum/count of the sketched measure")
        return None
    if not isinstance(q.dimension, ir.DefaultDim):
        notes.append("approx TopN: extraction dimensions not in the maps")
        return None

    def norm(s: str) -> str:
        return re.sub(r"\s+", "", s)

    tcol = index.time_col
    for name, info in sorted(
        index.manifest["cubes"].items(), key=lambda kv: kv[1]["rowCount"]
    ):
        gran = info["granularity"]
        cube_dims = set(info["dims"])
        if not lowering.gran_coarser_or_equal(
            getattr(q, "granularity", "all"), gran
        ):
            continue
        if getattr(q, "granularity_tz", None) not in (None, "UTC", "Etc/UTC"):
            continue
        qorigin = getattr(q, "granularity_origin", None)
        if qorigin is not None:
            dur = lowering.duration_seconds(getattr(q, "granularity", "all"))
            o = lowering.origin_epoch_seconds(qorigin)
            if dur is None or o % dur != 0:
                continue
        # interval bounds must land on cube-bucket boundaries — a cell
        # cannot split mid-bucket (same rule as _cube_eligible)
        if any(
            not lowering.interval_aligned(iv, gran)
            for iv in (getattr(q, "intervals", []) or [])
        ):
            continue
        f = q.filter
        if f is not None:
            # round-7 widening: selector/IN conjuncts ON the sketched dim
            # post-filter the exploded map (exact w.r.t. the sketch —
            # lowering.split_sketch_filter); every OTHER conjunct must
            # select cube CELLS, i.e. live in the grain
            split = lowering.split_sketch_filter(f, q.dimension.dimension)
            if split is None:
                notes.append(
                    "approx TopN: filter on the sketched dimension is not "
                    "a selector/IN conjunct — exact path serves it"
                )
                return None
            cell_f, _ = split
            if (
                cell_f is not None
                and not cell_f.referenced_columns() <= cube_dims
            ):
                continue
        for tk in index.config.topk_specs:
            if tk.dim != q.dimension.dimension:
                continue
            if norm(tk.metric) != norm(want):
                continue
            if tk.col_name not in index.cube_column_types(name):
                continue
            backing = Backing.cube(index, name)
            backing.topk = tk
            backing.reads.add(tk.col_name)
            rel = _cube_relation(index, name, backing, set())
            if rel:
                notes.append(f"cube {name} relation: {rel}")
            notes.append(
                f"approx TopN: cube {name} serves dim {tk.dim} from its "
                f"top-{tk.m} map (est-ranked; exact when no cell "
                f"overflowed m)"
            )
            return backing
    notes.append("approx TopN: no cube carries a matching top-k map; "
                 "exact path serves it")
    return None


def _time_part_ndv(index: OlapIndex, part: str) -> float:
    """Bucket-count estimate for a time part/granularity over the index's
    time span — year(ts) has ~#years distinct values, not ndv(ts). The
    reference made the same interval-based dampening in its cost model
    (DruidQueryCostModel.scala:622-636 ndv-by-interval)."""
    try:
        lo, hi = index.time_bounds()
    except Exception:
        return float(index.ndv(index.time_col) or 1.0)
    days = max(1.0, (hi - lo).total_seconds() / 86400.0)
    years = hi.year - lo.year + 1
    months = (hi.year - lo.year) * 12 + (hi.month - lo.month) + 1
    per_part = {
        "year": years,
        "quarter": min(4 * years, months),
        "month": months,
        "week": days / 7 + 1,
        "day": days,
        "hour": days * 24,
        "minute": days * 1440,
        "second": days * 86400,
        "dayofyear": 366,
        "weekofyear": 53,
        "none": float(index.ndv(index.time_col) or days),
    }
    dur = lowering.duration_seconds(part)
    if dur is not None:
        return float(max(1.0, days * 86400.0 / dur))
    return float(max(1.0, per_part.get(part, days)))


def estimate_groups(
    q: ir.QuerySpec, index: OlapIndex, fd_graph: FDGraph | None
) -> float | None:
    """NDV-product estimate of the result group count: FD-collapsed column
    NDVs x time-part bucket counts x granularity bucket count."""
    dims = _query_dims(q)
    cols: list[str] = []
    time_factor = 1.0
    tcol = index.time_col
    for d in dims:
        if (
            isinstance(d, ir.TimeFormatDim)
            and d.dimension == tcol
            and not d.is_pattern
        ):
            time_factor *= _time_part_ndv(index, d.part)
        else:
            cols.extend(sorted(d.referenced_columns()))
    gran = getattr(q, "granularity", "all")
    if gran not in ("all",):
        time_factor *= _time_part_ndv(index, gran)
    if not cols:
        return time_factor
    card = {c: float(index.ndv(c) or 1.0) for c in cols}
    if fd_graph is not None:
        return time_factor * fd_graph.estimate_cardinality(cols, card)
    total = time_factor
    for c in dict.fromkeys(cols):
        total *= max(1.0, card[c])
    return total


class GroupCountFeedback:
    """Observed-group-count feedback: adaptive re-optimization of the NDV
    estimator (VERDICT r2 "Next round" #8).

    ``estimate_groups`` is an NDV-product heuristic; correlated dimensions
    make it overshoot by orders of magnitude (two FD-free 1000-NDV columns
    that move together: est 10^6, actual 10^3), wrongly tripping the
    maxResultCardinality pre-agg rejection and mis-sizing the distinct-agg
    skew guard. After a query EXECUTES, the context harvests the actual
    output row count from the executed plan's SQL metrics (no extra job) and
    records it here; the next planning pass corrects with it. Two tiers:

    - exact tier: same (shape, dims, granularity, filter, intervals)
      signature => the observed count is authoritative.
    - drift tier: same (shape, dims, granularity) under a DIFFERENT filter
      => multiply the raw estimate by the median observed/estimated ratio
      seen for that dims-key. Filters only shrink group counts, so a <1
      median is evidence of correlation the FD graph missed; ratios are
      clamped to <=1 so a permissive filter can never inflate an estimate.

    State is bounded: per-key ratio lists are capped, the exact map is a
    FIFO of ``cap`` entries. Driver-side only — nothing here touches a plan.
    """

    def __init__(self, cap: int = 512, ratios_per_key: int = 32):
        self.cap = cap
        self.ratios_per_key = ratios_per_key
        self.exact: dict[str, float] = {}
        self.ratios: dict[str, list[float]] = {}

    # -- signatures ---------------------------------------------------------
    @staticmethod
    def _dims_part(q: ir.QuerySpec) -> list:
        d = q.to_dict()
        return [
            type(q).__name__,
            d.get("dimensions") or d.get("dimension"),
            d.get("granularity"),
        ]

    @classmethod
    def dims_sig(cls, q: ir.QuerySpec) -> str:
        return json.dumps(cls._dims_part(q), sort_keys=True, default=str)

    @classmethod
    def exact_sig(cls, q: ir.QuerySpec) -> str:
        d = q.to_dict()
        part = cls._dims_part(q) + [d.get("filter"), d.get("intervals")]
        return json.dumps(part, sort_keys=True, default=str)

    # -- record / correct ---------------------------------------------------
    def record(self, q: ir.QuerySpec, estimated: float | None, observed: int) -> None:
        if observed <= 0:
            return
        key = self.exact_sig(q)
        if key not in self.exact and len(self.exact) >= self.cap:
            self.exact.pop(next(iter(self.exact)))
        self.exact[key] = float(observed)
        # drift ratios ONLY from unfiltered, un-intervaled queries:
        # estimate_groups ignores filters AND intervals (it derives
        # time-part NDV from the full index time bounds), so a restricted
        # query's observed/estimated measures that restriction's
        # selectivity, not dimension correlation — generalizing it to
        # full-span queries would deflate estimates and bypass the pre-agg
        # cardinality gate. (Restricted queries still feed the exact tier,
        # whose signature carries filter + intervals.)
        if (
            estimated
            and estimated > 0
            and getattr(q, "filter", None) is None
            and not getattr(q, "intervals", None)
        ):
            lst = self.ratios.setdefault(self.dims_sig(q), [])
            lst.append(min(1.0, observed / estimated))
            del lst[: -self.ratios_per_key]

    # -- persistence (VERDICT r3 #8: fresh sessions start corrected) --------
    def to_dict(self) -> dict:
        return {"exact": dict(self.exact), "ratios": dict(self.ratios)}

    @classmethod
    def from_dict(
        cls, d: dict, cap: int = 512, ratios_per_key: int = 32
    ) -> "GroupCountFeedback":
        fb = cls(cap, ratios_per_key)
        fb.exact = dict(list(d.get("exact", {}).items())[-cap:])
        fb.ratios = {
            k: [float(x) for x in v][-ratios_per_key:]
            for k, v in d.get("ratios", {}).items()
        }
        return fb

    def correct(self, q: ir.QuerySpec, est: float | None) -> tuple[float | None, str | None]:
        """(corrected estimate, note) — note is None when nothing applied."""
        obs = self.exact.get(self.exact_sig(q))
        if obs is not None:
            return obs, f"feedback: observed group count {int(obs)} (exact match)"
        if est is None:
            return est, None
        lst = self.ratios.get(self.dims_sig(q))
        if lst:
            med = sorted(lst)[len(lst) // 2]
            if med < 1.0:
                return est * med, (
                    f"feedback: est {int(est)} x median observed/est ratio "
                    f"{med:.3g} for this dims-key -> {int(est * med)}"
                )
        return est, None


NON_AGG_MODES = ("push_none", "push_filters", "push_project_and_filters")


def _distinct_skew_buckets(q: ir.QuerySpec, est: float | None, df: DataFrame) -> int:
    """Value-space bucket count for the distinct-agg skew guard, or 1 (off).

    Exact count-distinct over FEW groups is the skew shape AQE cannot fix:
    however Spark plans it, the final distinct-set build for a group lands on
    one reduce task, so a 100 TB scan funnels into ≤ est_groups tasks. When
    the NDV-estimated group count is below the configured shuffle parallelism,
    lowering decomposes the distinct into (keys, hash(x) % n) partials first
    (lowering._two_stage_distinct) — n chosen so groups × n ≈ parallelism."""
    if est is None or not any(
        isinstance(a, ir.DistinctAgg) for a in getattr(q, "aggregations", [])
    ):
        return 1
    try:
        par = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        par = 200
    if est >= par:
        return 1
    import math

    return min(par, max(2, math.ceil(par / max(est, 1.0))))


# ---------------------------------------------------------------------------
# File-manifest pruning (the Druid per-dimension index analog)
# ---------------------------------------------------------------------------
#
# The index build persists per-file min/max for every scalar column and exact
# distinct-value sets for low-NDV string dimensions (index.py
# _build_file_manifest), with the flat layout range-clustered on
# config.sort_cols so those stats are SELECTIVE. The functions below evaluate
# a query's FilterSpec tree against that manifest driver-side (no Spark job,
# no footer reads) and hand choose_backing an explicit file list — whole-file
# skipping for Selector/In/Bound/spatial/contains predicates on any manifested
# dimension, which partition pruning (time only) and row-group stats (read
# per-query, footer cost) cannot give at plan time. Conservative by
# construction: any stat that is missing, un-coercible, or outside the
# mirrored comparison semantics keeps the file.


def _coerce(stat, val):
    """``val`` coerced into ``stat``'s comparison domain, or None to keep the
    file. Strings compare only when both ASCII (Python str ordering mirrors
    Spark's binary UTF-8 ordering on the ASCII plane)."""
    import datetime
    import decimal

    if stat is None or val is None or isinstance(val, bool):
        return None
    if isinstance(stat, str):
        if isinstance(val, str) and stat.isascii() and val.isascii():
            return val
        return None
    if isinstance(stat, bool):
        return None
    if isinstance(stat, decimal.Decimal):
        try:
            return decimal.Decimal(str(val))
        except decimal.InvalidOperation:
            return None
    if isinstance(stat, (int, float)):
        try:
            return float(val)
        except (TypeError, ValueError):
            return None
    if isinstance(stat, datetime.datetime):
        try:
            return lowering._parse_iso(str(val))
        except ValueError:
            return None
    if isinstance(stat, datetime.date):
        try:
            return lowering._parse_iso(str(val)).date()
        except ValueError:
            return None
    return None


def _range_excludes(row: dict, col: str, val) -> bool:
    """True when the file's [min, max] provably cannot contain ``val``."""
    lo, hi = row.get(f"min__{col}"), row.get(f"max__{col}")
    v_lo, v_hi = _coerce(lo, val), _coerce(hi, val)
    return (v_lo is not None and v_lo < lo) or (v_hi is not None and v_hi > hi)


def _value_set(row: dict, col: str):
    """The per-file distinct-value set for ``col``, but ONLY when the column
    is string-typed (min/max stat is str): set values are stored as
    cast-to-string, and for any other type the filter literal's textual form
    need not match Spark's cast ("5" vs "5.0" vs "5.00", "1996-1-5" vs
    "1996-01-05") — comparing those would wrongly prune files whose rows the
    lowered (type-coercing) predicate matches. Non-string columns still get
    min/max range pruning through _coerce's typed comparisons."""
    if isinstance(row.get(f"min__{col}"), str):
        return row.get(f"set__{col}")
    return None


def _file_passes(row: dict, f: ir.FilterSpec) -> bool:
    """May this file contain a row matching ``f``? False only on proof."""
    if isinstance(f, ir.SelectorFilter):
        s = _value_set(row, f.dimension)
        if s is not None and isinstance(f.value, str) and f.value not in s:
            return False
        return not _range_excludes(row, f.dimension, f.value)
    if isinstance(f, ir.InFilter):
        return any(
            _file_passes(row, ir.SelectorFilter(f.dimension, v))
            for v in f.values
        )
    if isinstance(f, ir.BoundFilter):
        lo, hi = row.get(f"min__{f.dimension}"), row.get(f"max__{f.dimension}")
        if f.upper is not None:
            u = _coerce(lo, f.upper)
            if u is not None and (lo > u or (f.upper_strict and lo >= u)):
                return False
        if f.lower is not None:
            l = _coerce(hi, f.lower)
            if l is not None and (hi < l or (f.lower_strict and hi <= l)):
                return False
        return True
    if isinstance(f, ir.ContainsFilter):
        s = _value_set(row, f.dimension)
        if s is not None:
            if f.case_sensitive:
                return any(f.value in v for v in s if v is not None)
            needle = f.value.lower()
            return any(needle in v.lower() for v in s if v is not None)
        return True
    if isinstance(f, ir.LogicalFilter):
        if f.op == "and":
            return all(_file_passes(row, c) for c in f.fields_)
        return any(_file_passes(row, c) for c in f.fields_)
    if isinstance(f, ir.NotFilter):
        inner = f.field_
        if isinstance(inner, ir.SelectorFilter):
            # exact value set == {v}: no row can satisfy NOT v
            s = _value_set(row, inner.dimension)
            if s is not None and s == [inner.value]:
                return False
        return True
    if isinstance(f, ir.SpatialFilter):
        for dim, lo, hi in zip(f.dimensions, f.lower, f.upper):
            fmin, fmax = row.get(f"min__{dim}"), row.get(f"max__{dim}")
            if lo is not None:
                v = _coerce(fmax, lo)
                if v is not None and fmax < v:
                    return False
            if hi is not None:
                v = _coerce(fmin, hi)
                if v is not None and fmin >= v:  # upper bound is exclusive
                    return False
        return True
    # Regex/Null/Expr/extraction shapes: no mirrored semantics — keep
    return True


def _intervals_overlap(row: dict, time_col: str, ivs: list) -> bool:
    import datetime

    tmin, tmax = row.get(f"min__{time_col}"), row.get(f"max__{time_col}")
    if tmin is None or tmax is None:
        return True
    if isinstance(tmin, datetime.date) and not isinstance(
        tmin, datetime.datetime
    ):
        tmin = datetime.datetime.combine(tmin, datetime.time())
        tmax = datetime.datetime.combine(tmax, datetime.time())
    for iv in ivs:
        try:
            start = lowering._parse_iso(iv.start) if iv.start else None
            end = lowering._parse_iso(iv.end) if iv.end else None
        except ValueError:
            return True
        if (end is None or tmin < end) and (start is None or tmax >= start):
            return True
    return False


# built from the shared constant so the planner and index.files_by_month
# cannot silently disagree on the partition directory name
_MONTH_RX = re.compile(r"/" + re.escape(index_mod.MONTH_COL) + r"=([^/]+)/")


def _parse_interval_bounds(ivs: list):
    """Intervals parsed to [(start_dt|None, end_dt|None)] ONCE per query —
    the month loop must not re-parse the same ISO strings per month. None
    when any bound is unparseable (callers then keep every month)."""
    out = []
    for iv in ivs:
        try:
            s = lowering._parse_iso(iv.start) if iv.start else None
            e = lowering._parse_iso(iv.end) if iv.end else None
        except ValueError:
            return None
        out.append((s, e))
    return out


def _month_survives(month: str, bounds: list) -> bool:
    """May a ``__tpart=yyyy-MM`` partition contain rows inside any parsed
    interval? False only on proof (unparseable month strings keep the
    month). Interval semantics are [start, end), matching
    _intervals_overlap."""
    from datetime import datetime

    try:
        if "-" in month:
            y, mo = month.split("-")
            start = datetime(int(y), int(mo), 1)
            end = datetime(
                start.year + (start.month == 12), start.month % 12 + 1, 1
            )
        else:
            # byte-floor-coarsened layout: a bare 'yyyy' year partition
            start = datetime(int(month), 1, 1)
            end = datetime(start.year + 1, 1, 1)
    except (ValueError, TypeError):
        return True
    for s, e in bounds:
        if (s is None or s < end) and (e is None or e > start):
            return True
    return False


def _vector_scalar(arr_type, val):
    """``val`` coerced for a vectorized comparison against an arrow column of
    ``arr_type`` — mirroring ``_coerce``'s per-type rules so the coarse pass
    can only exclude files the exact per-row walk would also exclude — or
    None when the comparison isn't safely vectorizable (decimal, bool,
    non-ascii strings, non-integral literals on integer columns)."""
    import pyarrow.types as pt

    if val is None or isinstance(val, bool):
        return None
    if pt.is_string(arr_type) or pt.is_large_string(arr_type):
        # python-str ordering == utf8 binary ordering on the ASCII plane
        # only; the caller guards rows by string_is_ascii(stat)
        if isinstance(val, str) and val.isascii():
            return val
        return None
    if pt.is_integer(arr_type):
        # float64 casts lose precision past 2^53; per-row compares int
        # exactly, so only vectorize integral literals in the int domain
        try:
            fv = float(val)
        except (TypeError, ValueError):
            return None
        if fv != int(fv) or abs(fv) >= 2**62:
            return None
        return int(fv)
    if pt.is_floating(arr_type):
        try:
            return float(val)
        except (TypeError, ValueError):
            return None
    if pt.is_timestamp(arr_type):
        try:
            return lowering._parse_iso(str(val))
        except ValueError:
            return None
    if pt.is_date(arr_type):
        try:
            return lowering._parse_iso(str(val)).date()
        except ValueError:
            return None
    return None


def _vector_excluded_mask(tbl, f, time_col: str, ivs: list):
    """``(excluded, needs_row)`` numpy bool masks over the manifest table.

    ``excluded``: file PROVABLY excluded by vectorized min/max comparisons —
    strictly a subset of the per-row walk's exclusions, so it never drops a
    file the exact walk would keep. ``needs_row``: rows where some conjunct
    retains per-row pruning power the vector pass couldn't exercise (value
    sets for values strictly inside the file range, OR trees, NOT, spatial,
    non-coercible literals) — only those survivors get the Python
    `_file_passes` walk. On z-clustered layouts the typical selective query
    fully vectorizes, so planning cost at 10^6 manifest rows drops from the
    per-row walk's ~15 s to arrow-kernel milliseconds with IDENTICAL
    results."""
    import numpy as np
    import pyarrow as pa_lib
    import pyarrow.compute as pc
    import pyarrow.types as pt

    n = tbl.num_rows
    excluded = np.zeros(n, dtype=bool)
    needs_row = np.zeros(n, dtype=bool)
    names = set(tbl.column_names)

    def npmask(arrow_bool):
        return (
            pc.fill_null(arrow_bool, False)
            .to_numpy(zero_copy_only=False)
            .astype(bool)
        )

    def ascii_guard(*arrays):
        g = np.ones(n, dtype=bool)
        for a in arrays:
            if pt.is_string(a.type) or pt.is_large_string(a.type):
                g &= npmask(pc.string_is_ascii(a))
        return g

    def col(name):
        return tbl.column(name).combine_chunks() if name in names else None

    def set_valid(dim):
        """Rows whose string value set exists for ``dim`` (per-row set
        semantics apply only when the min stat is string-typed — here that
        is a column-level property)."""
        sv = col(f"set__{dim}")
        cmin = col(f"min__{dim}")
        if sv is None or cmin is None or not (
            pt.is_string(cmin.type) or pt.is_large_string(cmin.type)
        ):
            return None
        return npmask(pc.is_valid(sv))

    def range_excl(dim, lo_val, hi_val, lo_strict=False, hi_strict=False):
        """(exclusion mask, fully_mirrored) for 'file range cannot intersect
        [lo_val, hi_val]' (either bound may be None). fully_mirrored=False
        when some provided bound could not be vectorized, i.e. the per-row
        walk may still exclude rows this pass kept."""
        cmin, cmax = col(f"min__{dim}"), col(f"max__{dim}")
        if cmin is None or cmax is None:
            # unmanifested column: per-row keeps too — fully mirrored
            return np.zeros(n, dtype=bool), True
        term = np.zeros(n, dtype=bool)
        full = True
        guard = ascii_guard(cmin, cmax)
        try:
            if lo_val is not None:
                s = _vector_scalar(cmax.type, lo_val)
                if s is None:
                    full = False
                else:
                    op = pc.less_equal if lo_strict else pc.less
                    term |= npmask(op(cmax, s)) & guard
            if hi_val is not None:
                s = _vector_scalar(cmin.type, hi_val)
                if s is None:
                    full = False
                else:
                    op = pc.greater_equal if hi_strict else pc.greater
                    term |= npmask(op(cmin, s)) & guard
        except (pa_lib.ArrowInvalid, pa_lib.ArrowNotImplementedError, TypeError):
            # incomparable scalar/column combination (e.g. tz-aware stats):
            # conservative — no vectorized exclusion for this conjunct
            return np.zeros(n, dtype=bool), False
        # note: guard-failing rows (non-ascii stats) are fully mirrored —
        # the per-row _coerce keeps them too
        return term, full

    conjuncts = []
    if f is not None:
        conjuncts = (
            list(f.fields_)
            if isinstance(f, ir.LogicalFilter) and f.op == "and"
            else [f]
        )
    for c in conjuncts:
        if isinstance(c, ir.SelectorFilter):
            term, full = range_excl(c.dimension, c.value, c.value)
            excluded |= term
            if not full:
                needs_row |= ~term
            sv = set_valid(c.dimension)
            if sv is not None and isinstance(c.value, str):
                # per-row can still exclude via the exact value set when the
                # value lies strictly INSIDE the file's range (min/max are
                # real values, so equality at either edge proves presence)
                cmin, cmax = col(f"min__{c.dimension}"), col(f"max__{c.dimension}")
                try:
                    inside = npmask(
                        pc.and_(
                            pc.not_equal(cmin, c.value),
                            pc.not_equal(cmax, c.value),
                        )
                    )
                except (pa_lib.ArrowInvalid, pa_lib.ArrowNotImplementedError,
                        TypeError):
                    inside = np.ones(n, dtype=bool)
                needs_row |= sv & inside & ~term
        elif isinstance(c, ir.BoundFilter):
            term, full = range_excl(
                c.dimension, c.lower, c.upper,
                lo_strict=c.lower_strict, hi_strict=c.upper_strict,
            )
            excluded |= term
            if not full:
                needs_row |= ~term
        elif isinstance(c, ir.InFilter) and c.values:
            try:
                vmin, vmax = min(c.values), max(c.values)
            except TypeError:
                vmin = vmax = None
            term = np.zeros(n, dtype=bool)
            full = False
            if vmin is not None:
                term, full = range_excl(c.dimension, vmin, vmax)
            excluded |= term
            sv = set_valid(c.dimension)
            # per-row retains power beyond the [min(v),max(v)] envelope
            # whenever the IN list has >1 member: a file range can sit
            # strictly BETWEEN two members (IN (1,45), file [20,30]) and
            # only the per-member walk proves exclusion — for any stat
            # type, not just string value sets (ADVICE r4)
            if not full or sv is not None or len(c.values) > 1:
                extra = (
                    sv
                    if (full and sv is not None and len(c.values) == 1)
                    else np.ones(n, bool)
                )
                needs_row |= extra & ~term
        elif isinstance(c, (ir.RegexFilter, ir.NullFilter, ir.ExprFilter)):
            pass  # per-row always keeps these shapes — nothing to mirror
        else:
            # OR trees, NOT, contains, spatial, unknown shapes: full
            # per-row fidelity on every surviving row
            needs_row |= np.ones(n, dtype=bool)

    if ivs:
        iv_done = False
        if f"min__{time_col}" in names:
            try:
                tmin, tmax = col(f"min__{time_col}"), col(f"max__{time_col}")
                # per-row promotes date stats to midnight datetimes; the cast
                # is the same promotion vectorized
                if pt.is_date(tmin.type):
                    tmin = pc.cast(tmin, pa_lib.timestamp("us"))
                    tmax = pc.cast(tmax, pa_lib.timestamp("us"))
                if pt.is_timestamp(tmin.type) and tmin.type.tz is None:
                    try:
                        bounds = [
                            (
                                lowering._parse_iso(iv.start)
                                if iv.start
                                else None,
                                lowering._parse_iso(iv.end) if iv.end else None,
                            )
                            for iv in ivs
                        ]
                    except ValueError:
                        bounds = None  # per-row keeps everything too
                    if bounds is not None:
                        overlap = np.zeros(n, dtype=bool)
                        for start, end in bounds:
                            m = np.ones(n, dtype=bool)
                            if end is not None:
                                m &= npmask(pc.less(tmin, end))
                            if start is not None:
                                m &= npmask(pc.greater_equal(tmax, start))
                            overlap |= m
                        # null stats keep the file (per-row: tmin None->True)
                        valid = npmask(pc.is_valid(tmin)) & npmask(
                            pc.is_valid(tmax)
                        )
                        excluded |= valid & ~overlap
                    iv_done = True  # parse failure keeps ALL rows both ways
            except (
                pa_lib.ArrowInvalid, pa_lib.ArrowNotImplementedError, TypeError
            ):
                iv_done = False
        else:
            iv_done = True  # no time stats: per-row keeps everything too
        if not iv_done:
            needs_row |= np.ones(n, dtype=bool)
    return excluded, needs_row


def prune_flat_files(
    index: OlapIndex, q: ir.QuerySpec
) -> tuple[list[str], int] | None:
    """Explicit file list for ``q`` over the flat backing, or None when the
    manifest is absent / the query prunes nothing. Unmanifested files (e.g.
    appended after the build) are always kept.

    Two passes: a vectorized arrow min/max pass excludes the bulk of the
    files in milliseconds even at 10^6 manifest rows, then the exact
    per-row walk (`_file_passes`: value sets, OR trees, NOT, spatial) runs
    only on the survivors. Identical results to running the per-row walk
    alone — the vector pass is strictly conservative."""
    tbl = index.file_manifest_table()
    if tbl is None:
        # no columnar manifest: the exact per-row walk alone
        fm = index.file_manifest()
        if fm is None:
            return None
        return _prune_files_per_row(
            index.flat_input_files(), list(fm.values()), index.time_col, q
        )
    f = getattr(q, "filter", None)
    ivs = getattr(q, "intervals", None) or []
    if f is None and not ivs:
        return None
    import numpy as np

    all_files = index.flat_input_files()
    tcol = index.time_col
    excluded, needs_row = _vector_excluded_mask(tbl, f, tcol, ivs)
    keep_mask = ~excluded
    row_idx = np.flatnonzero(needs_row & keep_mask)
    if len(row_idx):
        # materialize ONLY the columns the filter walk consults, ONLY
        # for rows the vector pass couldn't decide — full-width
        # to_pylist at 10^6 rows costs seconds
        dims = f.referenced_columns() if f is not None else set()
        dims = set(dims) | {tcol}
        wanted = ["file"] + [
            c
            for c in tbl.column_names
            if c.split("__", 1)[-1] in dims
            and c.split("__", 1)[0] in ("min", "max", "set")
        ]
        rows = tbl.select(wanted).take(row_idx).to_pylist()
        for i, row in zip(row_idx, rows):
            ok = not ivs or _intervals_overlap(row, tcol, ivs)
            if ok and f is not None:
                ok = _file_passes(row, f)
            keep_mask[i] = ok
    # key ONLY the kept manifest paths (arrow take, then Python over the
    # pruned count — not the full listing)
    passing = {
        _file_key(p)
        for p in tbl.column("file")
        .take(np.flatnonzero(keep_mask))
        .to_pylist()
    }
    # listing keys + manifested key set are epoch-memoized on the index (a
    # 10^6-file pass costs ~0.5 s — once, not per query)
    keys, manifested_n = index.pruning_path_sets()
    by_month = unman_by_month = None
    iv_bounds = _parse_interval_bounds(ivs) if ivs else None
    if iv_bounds is not None:
        by_month, unman_by_month = index.files_by_month()
    if by_month is not None:
        # interval query over a month-partitioned layout: compose the
        # keep list from interval-surviving months only, so this final
        # Python loop scales with PRUNED file count, not total.
        # Strict equivalence with the full walk: a month also counts as
        # surviving when a passing file lives in it (possible when a
        # file's time stats are absent/incomparable and the exact walk
        # conservatively kept it) — an O(pruned) regex pass, and months
        # the intervals exclude still contribute their unmanifested
        # files (kept unconditionally — the month directory is never
        # trusted over actual data stats, same as the full walk).
        months_with_passing = {
            m.group(1)
            for m in (_MONTH_RX.search(q) for q in passing)
            if m is not None
        }
        keep = []
        for mkey, (origs, norms) in by_month.items():
            if (
                mkey is None
                or mkey in months_with_passing
                or _month_survives(mkey, iv_bounds)
            ):
                keep.extend(
                    p
                    for p, q in zip(origs, norms)
                    if q in passing or q not in manifested_n
                )
            else:
                keep.extend(unman_by_month.get(mkey, ()))
    else:
        keep = [
            p
            for p, np_ in zip(all_files, keys)
            if np_ in passing or np_ not in manifested_n
        ]
    if len(keep) == len(all_files):
        return None
    return keep, len(all_files)


def prune_cube_files(
    index: OlapIndex, name: str, q: ir.QuerySpec
) -> tuple[list[str], int] | None:
    """Explicit file list for ``q`` over cube ``name``, or None when the
    cube has no per-file manifest / the query prunes nothing. Same
    conservative semantics as prune_flat_files; intervals compare against
    per-file BUCKET min/max, exact because cube eligibility already
    requires bucket-aligned intervals. Cube manifests hold files × grain
    columns (small at any data scale — file count is byte-floored), so the
    per-row walk suffices; unmanifested files (streaming appends before
    compaction) are always kept."""
    rows = index.cube_file_manifest(name)
    if rows is None:
        return None
    files = index.cube_input_files(name)
    return _prune_files_per_row(files, rows, index_mod.BUCKET_COL, q)


def _prune_files_per_row(
    files: list[str], rows: list, time_col: str, q: ir.QuerySpec
) -> tuple[list[str], int] | None:
    """Per-row manifest walk shared by cube and projection pruning (their
    manifests are byte-floored-small; the flat path keeps its vectorized
    arrow pass). Same conservative semantics as prune_flat_files."""
    f = getattr(q, "filter", None)
    ivs = getattr(q, "intervals", None) or []
    if f is None and not ivs:
        return None
    by_key = {_file_key(r["file"]): r for r in rows}
    keep = []
    for p in files:
        row = by_key.get(_file_key(p))
        if row is None:
            keep.append(p)
            continue
        ok = not ivs or _intervals_overlap(row, time_col, ivs)
        if ok and f is not None:
            ok = _file_passes(row, f)
        if ok:
            keep.append(p)
    if len(keep) == len(files):
        return None
    return keep, len(files)


def prune_projection_files(
    index: OlapIndex, name: str, q: ir.QuerySpec
) -> tuple[list[str], int] | None:
    """Explicit file list for ``q`` over projection ``name`` — whole-file
    skipping on the projection's own per-file stats (its sort_cols ranges
    are tight by construction); intervals compare against the REAL time
    column's per-file min/max, so no bucket-alignment requirement."""
    rows = index.projection_file_manifest(name)
    if rows is None:
        return None
    files = index.projection_input_files(name)
    return _prune_files_per_row(files, rows, index.time_col, q)


def _columns_provable(q: ir.QuerySpec) -> bool:
    """True when the query's referenced-column set is PROVABLY complete.

    ``ir.query_referenced_columns`` under-reports when an Expr* node
    carries a free-form SQL expression without its ``columns`` list — safe
    for the flat/base fallback decision (the flat has every star column,
    so under-reporting only ever errs toward a backing that has more), but
    FATAL for projection choice: a narrow projection picked off an
    incomplete set would fail analysis (or worse, shadow a column). Any
    unprovable expression disqualifies projections; the full flat serves."""
    def agg_ok(a) -> bool:
        if isinstance(a, ir.ExprAgg):
            return not a.expr or bool(a.columns)
        if isinstance(a, ir.AvgAgg):
            return a.expr is None or bool(a.columns)
        if isinstance(a, ir.FilteredAgg):
            return filter_ok(a.filter) and agg_ok(a.agg)
        return True

    def filter_ok(f) -> bool:
        if f is None:
            return True
        if isinstance(f, ir.ExprFilter):
            return bool(f.columns)
        if isinstance(f, ir.LogicalFilter):
            return all(filter_ok(c) for c in f.fields_)
        if isinstance(f, ir.NotFilter):
            return filter_ok(f.field_)
        return True

    def dim_ok(d) -> bool:
        if isinstance(d, ir.ExprDim):
            return bool(d.referenced_columns())
        return True

    dims = (
        list(getattr(q, "dimensions", []) or [])
        + ([q.dimension] if isinstance(q, ir.TopNQuery) else [])
    )
    return (
        all(dim_ok(d) for d in dims)
        and filter_ok(getattr(q, "filter", None))
        and all(agg_ok(a) for a in getattr(q, "aggregations", []) or [])
    )


def covering_projections(
    index: OlapIndex, referenced: set, q: ir.QuerySpec
) -> list[str]:
    """Projections covering every referenced column, narrowest first.
    Projections are row grain, so coverage is the only correctness
    condition — semi-join outers and cardinality-rejected aggregations
    qualify exactly like plain scans. Queries whose column set cannot be
    PROVEN complete (_columns_provable) never ride a projection."""
    projs = index.manifest.get("projections") or {}
    if not projs or not _columns_provable(q):
        return []
    out = [
        (len(info["columns"]), name)
        for name, info in projs.items()
        if referenced <= set(info["columns"])
    ]
    return [name for _w, name in sorted(out)]


def choose_projection(
    index: OlapIndex, referenced: set, q: ir.QuerySpec
) -> str | None:
    """The NARROWEST covering projection, or None (legacy/width order —
    choose_backing upgrades to kept-bytes cost when the manifests carry
    bytesPerRow stamps)."""
    cov = covering_projections(index, referenced, q)
    return cov[0] if cov else None


_SKETCH_AGG_TYPES = (
    ir.CardinalityAgg, ir.HyperUniqueAgg, ir.ThetaAgg, ir.ThetaSketchAgg,
    ir.HistQuantileAgg, ir.QuantileAgg,
)


def _query_has_sketch_aggs(q: ir.QuerySpec) -> bool:
    def unwrap(a):
        return a.agg if isinstance(a, ir.FilteredAgg) else a

    return any(
        isinstance(unwrap(a), _SKETCH_AGG_TYPES)
        for a in getattr(q, "aggregations", []) or []
    )


def _cube_scan_bytes_per_row(
    info: dict, q: ir.QuerySpec, referenced: set
) -> float | None:
    """Estimated bytes/row a cube scan actually READS for ``q`` — the
    column-store cost, not the row width. Whole-row pricing made
    sketch-heavy small cubes (HLL binaries + top-k maps are ~90% of their
    bytes) lose to near-raw-sized narrow rollups whose columns the query
    then scanned in full (measured ship_date_range 61x -> 3x regression).
    Priced columns: the bucket, the referenced grain dims, and every
    SCALAR measure column (over-counts the 2-3 the lowering touches, but
    scalar measures are thin and near-uniform across candidates, so the
    ordering stays fair); sketch-typed columns (binary/map/array) are
    charged only when the query carries sketch-consuming aggregates.
    None when the manifest predates the per-column stamp — the caller
    falls back to whole-row, then to rowCount order."""
    col_bpr = info.get("columnBytesPerRow")
    if not col_bpr:
        return info.get("bytesPerRow")
    dims = set(info.get("dims") or [])
    sketchy = _query_has_sketch_aggs(q)
    total = 0.0
    for c, meta in (info.get("columns") or {}).items():
        if c in dims:
            if c not in referenced:
                continue
        elif not sketchy and index_mod.is_sketch_type(
            (meta or {}).get("type", "")
        ):
            continue
        total += col_bpr.get(c, 0.0)
    return total or info.get("bytesPerRow")


def _cube_relation(
    index: OlapIndex, name: str, backing: Backing, referenced: set
) -> str | None:
    """Point a cube backing at the pinned relation when it holds every cube
    column the lowering reads, else at the on-disk relation. Returns the
    choice for a pinned cube ("pinned" or "disk: needs sketch columns
    [...]"), None for an unpinned one."""
    cols = backing.reads | (referenced & index.cube_column_types(name).keys())
    backing.df = index.cube_df(name, cols)
    held = index.pinned_columns(name)
    if held is None:
        return None
    missing = cols - held
    return f"disk: needs sketch columns {sorted(missing)}" if missing else "pinned"


def _pruned_cube_df(index: OlapIndex, name: str, files: list[str]) -> DataFrame:
    base = index._cube_base(name)
    rel = index.manifest["cubes"][name]["path"]
    return _pruned_aux_df(index, base, rel, files)


def _pruned_aux_df(
    index: OlapIndex, base: DataFrame, rel: str, files: list[str]
) -> DataFrame:
    import os

    if not files:
        return base.where(F.lit(False))
    root = os.path.join(index.path, rel)
    return (
        index.spark.read.schema(base.schema)
        .option("basePath", root)
        .parquet(*files)
    )


def _pruned_flat_df(index: OlapIndex, files: list[str]) -> DataFrame:
    if not files:
        # provably empty — keep the schema, skip the scan entirely
        return index.flat_df().where(F.lit(False))
    return (
        index.spark.read.schema(index.flat_df().schema)
        .option("basePath", index.flat_root())
        .parquet(*files)
    )


def choose_backing(
    q: ir.QuerySpec,
    index: OlapIndex,
    base_df: DataFrame | None = None,
    fd_graph: FDGraph | None = None,
    max_result_cardinality: float = 1_000_000,
    non_agg_handling: str = "push_project_and_filters",
    feedback: GroupCountFeedback | None = None,
    force_row_grain: bool = False,
    extra_columns: set | None = None,
) -> tuple[Backing, PlanDecision]:
    notes: list[str] = []
    if force_row_grain:
        # SemiJoinQuery outer: the semi-join key is row grain, so cube cells
        # (and cube TopK sketches) cannot be joined — only flat/base serve
        notes.append("row grain forced (semi-join outer): cubes skipped")
    referenced = ir.query_referenced_columns(q)
    if extra_columns:
        # semi-join keys / scalar-comparison / residual outer columns: the
        # spec itself doesn't reference them, but the join/filter applied
        # on top of the chosen backing will — count them into coverage so
        # a too-narrow flat falls back to base instead of failing analysis
        # (round-8 review finding #3)
        referenced = referenced | set(extra_columns)
    flat_cols = index.flat_columns()

    # nonAggregateQueryHandling (DruidRelationInfo.scala:27-32): how much of a
    # non-aggregate query may run against the index. push_none = never;
    # push_filters = only filtering scans; push_project_and_filters = all.
    if isinstance(q, (ir.SelectQuery, ir.SearchQuery)):
        mode = non_agg_handling
        if mode not in NON_AGG_MODES:
            raise ValueError(f"bad non_agg_handling {mode!r}")
        pushable = mode == "push_project_and_filters" or (
            mode == "push_filters" and getattr(q, "filter", None) is not None
        )
        if not pushable:
            notes.append(f"non-agg query not pushed (mode={mode})")
            if base_df is None:
                raise ValueError(
                    f"non_agg_handling={mode} forbids index execution and no "
                    "base DataFrame was supplied"
                )
            return Backing.base(base_df, index.time_col), PlanDecision(
                "base", None, None, notes
            )

    est = None
    if (
        isinstance(q, ir.TopNQuery)
        and getattr(q, "approx", False)
        and not force_row_grain
    ):
        b = _topk_eligible(q, index, notes)
        if b is not None:
            return b, PlanDecision("cube", b.cube_name, None, notes)
    if isinstance(q, _AGG_SHAPES):
        est = estimate_groups(q, index, fd_graph)
        if feedback is not None:
            est, fb_note = feedback.correct(q, est)
            if fb_note:
                notes.append(fb_note)
        if force_row_grain:
            pass  # keep est for the distinct-skew guard; never pick a cube
        elif est is not None and est > max_result_cardinality:
            notes.append(
                f"estimated groups {int(est)} > maxResultCardinality "
                f"{int(max_result_cardinality)}: pre-agg rejected"
            )
        else:
            candidates: list[tuple[int, str, Backing]] = []
            for name, info in index.manifest["cubes"].items():
                b = _cube_eligible(q, index, name, notes)
                if b is not None:
                    candidates.append((info["rowCount"], name, b))
            if candidates:
                # cost tie-breaker (VERDICT r10 missing #1): rowCount
                # ordering alone lets the smallest cube beat a larger but
                # better-pruning rollup. Score each eligible cube by
                # ESTIMATED BYTES SCANNED after manifest pruning —
                # bytesPerRow (on-disk stamp from the build) x rowCount x
                # kept-file ratio (files are byte-floored, so the count
                # ratio tracks the byte ratio) — and take the cheapest.
                # Deterministic: ties fall to rowCount then name; manifests
                # predating the stamp keep the pure rowCount order. A cube
                # the pin serves is scanned whole from memory (the in-memory
                # scan's batch statistics prune): a pruned file list would
                # be a new relation the cache never matches, so such a cube
                # is neither file-pruned nor priced as pruned.
                scored = []
                for rows, name, b in candidates:
                    rel = _cube_relation(index, name, b, referenced)
                    pr = (
                        None if rel == "pinned"
                        else prune_cube_files(index, name, q)
                    )
                    ratio = len(pr[0]) / pr[1] if pr and pr[1] else 1.0
                    bpr = _cube_scan_bytes_per_row(
                        index.manifest["cubes"][name], q, referenced
                    )
                    cost = rows * bpr * ratio if bpr else None
                    scored.append((cost, rows, name, b, pr, rel))
                if all(s[0] is not None for s in scored):
                    scored.sort(key=lambda s: (s[0], s[1], s[2]))
                    if len(scored) > 1 and scored[0][2] != min(
                        scored, key=lambda s: (s[1], s[2])
                    )[2]:
                        notes.append(
                            "cost tie-breaker: kept-bytes order overrode "
                            "rowCount order"
                        )
                else:
                    scored.sort(key=lambda s: (s[1], s[2]))
                cost, rows, name, backing, pr, rel = scored[0]
                notes.append(
                    f"chose cube {name} ({rows} rows"
                    + (f", ~{int(cost)} kept bytes)" if cost is not None
                       else ")")
                )
                if rel:
                    notes.append(f"cube {name} relation: {rel}")
                if pr is not None:
                    files, total = pr
                    notes.append(
                        f"cube file manifest pruned scan: "
                        f"{len(files)}/{total} files"
                    )
                    backing.df = _pruned_cube_df(index, name, files)
                return backing, PlanDecision("cube", name, est, notes)

    if referenced <= flat_cols:
        notes.append("flat backing: all referenced columns in flattened star")
        backing = Backing.flat(index)
        cov = covering_projections(index, referenced, q)
        proj = cov[0] if cov else None
        flat_pr: tuple | None = None
        flat_pruned = False
        if cov:
            # kept-bytes cost competition (VERDICT r10 missing #1): a
            # covering projection wins over the flat (and over a wider
            # sibling) only when its estimated post-pruning bytes —
            # bytesPerRow x rows x kept-file ratio — are smaller; the flat's
            # z-order manifest may prune a predicate a projection's sort
            # cannot. Width order stands in when any stamp is missing.
            flat_pr = prune_flat_files(index, q)
            flat_pruned = True
            flat_info = index.manifest.get("flat") or {}
            # price only the columns the scan reads (column store): the
            # per-column stamp makes flat-vs-projection a fair fight —
            # both sides read the same referenced set, so the decision
            # reduces to kept-file ratios + in-situ compression. Whole-row
            # widths stand in when a manifest predates the stamp.
            scan_cols = referenced | {index.time_col}

            def _row_bytes(info):
                col_bpr = info.get("columnBytesPerRow")
                if not col_bpr:
                    return info.get("bytesPerRow")
                got = [col_bpr[c] for c in scan_cols if c in col_bpr]
                if not got:
                    return info.get("bytesPerRow")
                return sum(got)

            def _cost(bpr, rows, pr):
                if not bpr or not rows:
                    return None
                ratio = len(pr[0]) / pr[1] if pr and pr[1] else 1.0
                return bpr * rows * ratio

            scored = []
            for name in cov:
                info = index.manifest["projections"][name]
                ppr = prune_projection_files(index, name, q)
                c = _cost(_row_bytes(info), info.get("rowCount"), ppr)
                scored.append((c, len(info["columns"]), name, ppr))
            flat_cost = _cost(
                _row_bytes(flat_info), flat_info.get("rowCount"), flat_pr,
            )
            if flat_cost is not None and all(
                s[0] is not None for s in scored
            ):
                scored.sort(key=lambda s: (s[0], s[1], s[2]))
                best = scored[0]
                # the flat must be meaningfully cheaper (25%+) to override
                # a covering projection: the byte model can't see the
                # projection's sort selectivity (tight row groups on its
                # own predicates), and near-ties at small scale are
                # footer-overhead noise
                if best[0] <= flat_cost * 1.25:
                    proj, proj_pr = best[2], best[3]
                    notes.append(
                        f"kept-bytes cost: projection {proj} "
                        f"~{int(best[0])} B vs flat ~{int(flat_cost)} B"
                    )
                else:
                    proj = None
                    notes.append(
                        f"kept-bytes cost: flat ~{int(flat_cost)} B beats "
                        f"projection {best[2]} ~{int(best[0])} B"
                    )
            else:
                proj_pr = next(s[3] for s in scored if s[2] == proj)
        if proj is not None:
            # narrow row-grain projection covers the query: identical rows,
            # a fraction of the column bytes, sorted for its own predicates
            info = index.manifest["projections"][proj]
            notes.append(
                f"projection {proj} covers the scan "
                f"({len(info['columns'])} cols vs {len(flat_cols)} flat)"
            )
            backing.df = index.projection_df(proj)
            if proj_pr is not None:
                files, total = proj_pr
                notes.append(
                    f"projection file manifest pruned scan: "
                    f"{len(files)}/{total} files"
                )
                backing.df = _pruned_aux_df(
                    index, backing.df, info["path"], files
                )
        else:
            pr = flat_pr if flat_pruned else prune_flat_files(index, q)
            if pr is not None:
                files, total = pr
                notes.append(
                    f"file manifest pruned scan: {len(files)}/{total} files"
                )
                backing.df = _pruned_flat_df(index, files)
        n = _distinct_skew_buckets(q, est, backing.df)
        if n > 1:
            backing.distinct_buckets = n
            notes.append(
                f"distinct-agg skew guard: est groups {int(est)} < shuffle "
                f"parallelism — value-space bucketed x{n}"
            )
        return backing, PlanDecision("flat", None, est, notes)

    if base_df is not None:
        notes.append(
            f"fallback to base: columns {sorted(referenced - flat_cols)} not in index"
        )
        backing = Backing.base(base_df, index.time_col)
        n = _distinct_skew_buckets(q, est, backing.df)
        if n > 1:
            backing.distinct_buckets = n
            notes.append(
                f"distinct-agg skew guard: est groups {int(est)} < shuffle "
                f"parallelism — value-space bucketed x{n}"
            )
        return backing, PlanDecision("base", None, est, notes)
    raise ValueError(
        f"query references columns outside the index {sorted(referenced - flat_cols)} "
        "and no base DataFrame was supplied"
    )
