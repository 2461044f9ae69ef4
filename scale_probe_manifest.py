"""Measure the file manifest at thousands-of-files-per-partition scale.

SCALE.md claims (z-order section) that per-dimension pruning resolution grows
with log2(files_per_partition) and that the planner's driver-side pruning
(pyarrow manifest + pure-Python predicate walk, no Spark job) stays cheap at
100 TB file counts. Both were extrapolated from the 1992-file sf0.1 build;
this probe measures them:

  A. REAL build: a 2-month sf0.1 slice laid out at 2048 files per time
     partition (4096 z-clustered files). Reports manifest build/load wall
     time and keep ratios for the q3/q10 predicate families at that
     resolution.
  B. DRIVER-COST scaling: the pruning loop is driver-side Python over
     manifest rows — replicate the real rows to 10^5 and 10^6 files (the
     hundreds-of-partitions regime) and time `planner.prune_files` itself,
     on the flat manifest and on a 10^5-row projection manifest (row grain:
     projections reach flat-like file counts), next to the exact per-row
     walk alone.

Usage: python scale_probe_manifest.py   (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from dataclasses import replace

from pyspark.sql import functions as F

from pysparkline import ir, planner, tpch
from pysparkline.index import OlapIndex, ScanFiles
from pysparkline.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

Q3_FILTER = ir.LogicalFilter(
    "and",
    [
        ir.SelectorFilter("c_mktsegment", "BUILDING"),
        ir.BoundFilter("o_orderdate", None, "1997-02-15", upper_strict=True),
    ],
)
Q10_FILTER = ir.LogicalFilter(
    "and",
    [
        ir.SelectorFilter("l_returnflag", "R"),
        ir.BoundFilter("o_orderdate", "1997-01-01", "1997-02-01",
                       upper_strict=True),
    ],
)
SEG_FILTER = ir.SelectorFilter("c_mktsegment", "BUILDING")
FLAG_FILTER = ir.SelectorFilter("l_returnflag", "R")


def _probe_query(f: ir.FilterSpec) -> ir.GroupByQuery:
    return ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_returnflag")],
        aggregations=[ir.CountAgg("n")],
        granularity="all",
        filter=f,
        intervals=[],
    )


class _StubIndex:
    """prune_files reads only ``scan_files(kind, name)`` — enough to drive
    every pruning path over a synthetic listing."""

    def __init__(self, sf: ScanFiles):
        self._sf = sf

    def scan_files(self, kind, name=None) -> ScanFiles:
        return self._sf


def _replicate(base_tbl, tcol: str, n: int, rel: str):
    """``base_tbl``'s rows replicated to ``n`` files under ``rel``, with an
    honest month layout: replica r is one month of a ~10-year span, and its
    dir label AND time stats agree (ScanFiles.by_month's contract on a real
    index). Returns (manifest table, listing)."""
    import datetime as _dt

    import pyarrow as pa

    tmin_i = base_tbl.schema.get_field_index(f"min__{tcol}")
    tmax_i = base_tbl.schema.get_field_index(f"max__{tcol}")
    t_type = base_tbl.column(tmin_i).type
    nrow = base_tbl.num_rows
    parts, files = [], []
    for r in range(-(-n // nrow)):
        y, mo = 1993 + (r // 12) % 10, 1 + r % 12
        paths = [
            f"/synthetic/{rel}/part{r}/__tpart={y:04d}-{mo:02d}/f{i}.parquet"
            for i in range(nrow)
        ]
        lo, hi = _dt.datetime(y, mo, 3), _dt.datetime(y, mo, 27)
        if pa.types.is_date(t_type):
            lo, hi = lo.date(), hi.date()
        t = base_tbl.set_column(
            base_tbl.schema.get_field_index("file"), "file", pa.array(paths)
        )
        t = t.set_column(tmin_i, f"min__{tcol}", pa.array([lo] * nrow, t_type))
        t = t.set_column(tmax_i, f"max__{tcol}", pa.array([hi] * nrow, t_type))
        parts.append(t)
        files.extend(paths)
    return pa.concat_tables(parts).slice(0, n), files[:n]


def _per_row_walk(sf: ScanFiles, rows: list, q) -> int:
    """The exact per-row walk alone (`_intervals_overlap` + `_file_passes`
    over every manifest row, keyed by ``_file_key``; ``rows`` is the
    manifest's ``to_pylist()``) — the reference the vector pass equals.
    Returns the kept file count."""
    by_key = {planner._file_key(r["file"]): r for r in rows}
    kept = 0
    for k in sf.keys:
        row = by_key.get(k)
        ok = row is None or not q.intervals or planner._intervals_overlap(
            row, sf.time_col, q.intervals
        )
        if ok and row is not None and q.filter is not None:
            ok = planner._file_passes(row, q.filter)
        kept += ok
    return kept


def _timed_ms(fn) -> tuple:
    t0 = time.perf_counter()
    res = fn()
    return res, round((time.perf_counter() - t0) * 1e3, 1)


def main() -> None:
    out: dict = {"sf_dir": SF_DIR}
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    # ---- A. real 2048-files-per-partition build -------------------------
    flat, _ = tpch.flat_star_df(spark, SF_DIR)
    flat = flat.where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-03-01")
    )
    cfg = tpch.tpch_index_config()
    cfg.cubes = []
    cfg.hll_cols = []
    cfg.theta_specs = []
    cfg.hist_specs = []
    cfg.files_per_time_partition = 2048
    # this arm probes MANIFEST scalability (2048 manifest rows/partition at
    # sf0.001 stands in for a 100 TB month's file count) — the byte floor
    # would correctly collapse such tiny slices, so it is disabled here
    cfg.target_file_bytes = 0

    tmp = tempfile.mkdtemp(prefix="manifest_probe_")
    try:
        t0 = time.perf_counter()
        idx = OlapIndex.build(spark, flat, cfg, os.path.join(tmp, "idx"))
        out["build_s"] = round(time.perf_counter() - t0, 2)

        sf, ms = _timed_ms(lambda: idx.scan_files("flat"))
        out["manifest_load_ms"] = ms
        out["n_files"] = len(idx.scan_files("flat").listing)
        out["n_manifest_rows"] = sf.table.num_rows

        for name, f in [
            ("q3", Q3_FILTER), ("q10", Q10_FILTER),
            ("segment_only", SEG_FILTER), ("flag_only", FLAG_FILTER),
        ]:
            q = _probe_query(f)
            t0 = time.perf_counter()
            pr = planner.prune_files(idx, "flat", None, q)
            ms = round((time.perf_counter() - t0) * 1e3, 1)
            kept, total = pr if pr is not None else (sf.listing, len(sf.listing))
            out[name] = {
                "kept": len(kept), "total": total,
                "keep_pct": round(100 * len(kept) / total, 1),
                "prune_ms": ms,
            }
            # correctness spot-check: the pruned scan returns the same rows
            got = (
                planner._pruned_df(idx, "flat", None, kept)
                .where(lowering_filter(f)).count()
            )
            want = idx.flat_df().where(lowering_filter(f)).count()
            assert got == want, (name, got, want)

        # ---- B. driver-cost scaling over synthetic listings -------------
        tcol = idx.time_col
        q10 = _probe_query(Q10_FILTER)
        # the round-5 interval path: a 1-year query over the ~10-year
        # span must cost O(pruned) driver time, not O(total) — months
        # outside the intervals never enter the Python keep loop
        iv_q = ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            aggregations=[ir.CountAgg("n")],
            granularity="all",
            filter=FLAG_FILTER,
            intervals=[ir.Interval("1997-01-01", "1998-01-01")],
        )
        scaling = {}
        for n in (100_000, 1_000_000):
            big, files = _replicate(sf.table, tcol, n, "flat")
            # the epoch memo (keys, month groups), outside the timer
            big_sf = ScanFiles.build(big, files, tcol)
            stub = _StubIndex(big_sf)
            _, scaling[f"{n}_files_vector_prune_ms"] = _timed_ms(
                lambda: planner.prune_files(stub, "flat", None, q10)
            )
            if n == 100_000:  # the 1M per-row walk was measured at 15.6 s
                rows = big.to_pylist()
                _, scaling[f"{n}_files_per_row_prune_ms"] = _timed_ms(
                    lambda: _per_row_walk(big_sf, rows, q10)
                )
            for grouped, label in (
                (big_sf, "interval_month_sharded"),
                (replace(big_sf, by_month=None), "interval_full_walk"),
            ):
                pr, scaling[f"{n}_files_{label}_prune_ms"] = _timed_ms(
                    lambda: planner.prune_files(
                        _StubIndex(grouped), "flat", None, iv_q
                    )
                )
                scaling[f"{n}_files_{label}_kept"] = (
                    len(pr[0]) if pr else None
                )
        # a row-grain projection manifest at flat-like file count: an
        # orderkey range (its sort key) over one year
        proj_q = ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            aggregations=[ir.CountAgg("n")],
            granularity="all",
            filter=ir.BoundFilter("l_orderkey", 1000, 50_000),
            intervals=[ir.Interval("1997-01-01", "1998-01-01")],
        )
        n = 100_000
        big, files = _replicate(
            idx.scan_files("projection", "li_order").table, tcol, n, "proj"
        )
        big_sf = ScanFiles.build(big, files, tcol)
        pr, scaling[f"{n}_proj_files_vector_prune_ms"] = _timed_ms(
            lambda: planner.prune_files(
                _StubIndex(big_sf), "projection", "li_order", proj_q
            )
        )
        rows = big.to_pylist()
        kept, scaling[f"{n}_proj_files_per_row_prune_ms"] = _timed_ms(
            lambda: _per_row_walk(big_sf, rows, proj_q)
        )
        assert kept == (len(pr[0]) if pr else n), (kept, pr and len(pr[0]))
        scaling[f"{n}_proj_files_kept"] = kept
        out["driver_scaling"] = scaling

        # ---- A2. real build at the DEFAULT byte-floored layout ----------
        # (VERDICT r8 #5): the same 2-month slice under the production
        # config — target_file_bytes active, so the floor collapses the
        # tiny months (and may coarsen the partition grain). Reports the
        # measured file count, keep ratios and pruning cost at the
        # opposite file-count regime from arm A; intra-file pruning
        # responsibility moves to parquet row-group/page stats there,
        # which test_file_pruning's floored-build correctness pins.
        cfg2 = tpch.tpch_index_config()
        cfg2.cubes = []
        cfg2.hll_cols = []
        cfg2.theta_specs = []
        cfg2.hist_specs = []
        t0 = time.perf_counter()
        idx2 = OlapIndex.build(spark, flat, cfg2, os.path.join(tmp, "idx2"))
        floored: dict = {
            "build_s": round(time.perf_counter() - t0, 2),
            "n_files": len(idx2.scan_files("flat").listing),
            "partition_granularity": idx2.config.partition_granularity,
        }
        for name, f in [
            ("q3", Q3_FILTER), ("q10", Q10_FILTER),
            ("segment_only", SEG_FILTER), ("flag_only", FLAG_FILTER),
        ]:
            q = _probe_query(f)
            t0 = time.perf_counter()
            pr = planner.prune_files(idx2, "flat", None, q)
            ms = round((time.perf_counter() - t0) * 1e3, 1)
            kept, total = pr if pr is not None else (
                idx2.scan_files("flat").listing, floored["n_files"]
            )
            floored[name] = {
                "kept": len(kept), "total": total,
                "keep_pct": round(100 * len(kept) / max(1, total), 1),
                "prune_ms": ms,
            }
            got = (
                planner._pruned_df(idx2, "flat", None, kept)
                .where(lowering_filter(f)).count()
            )
            want = idx2.flat_df().where(lowering_filter(f)).count()
            assert got == want, (name, got, want)
        out["byte_floored"] = floored
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(out))


def lowering_filter(f: ir.FilterSpec):
    from pysparkline.lowering import filter_to_column

    return filter_to_column(f)


if __name__ == "__main__":
    main()
