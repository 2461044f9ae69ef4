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
     hundreds-of-partitions regime) and time `prune_flat_files` itself.

Usage: python scale_probe_manifest.py   (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from pysparkline import ir, planner, tpch
from pysparkline.index import OlapIndex
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
    """prune_flat_files sees only file_manifest_table()/file_manifest()/
    flat_input_files()/time_col (+ the memoized path hooks real indexes
    carry) — enough to drive every pruning path over a synthetic listing."""

    def __init__(self, fm_tbl, files: list, time_col: str, use_table: bool,
                 with_months: bool = False):
        self._tbl, self._files, self.time_col = fm_tbl, files, time_col
        self._use_table = use_table
        self._with_months = with_months
        self._dict = None
        self._paths = None
        self._fbm = None

    def file_manifest_table(self):
        return self._tbl if self._use_table else None

    def file_manifest(self):
        if self._dict is None:
            self._dict = {r["file"]: r for r in self._tbl.to_pylist()}
        return self._dict

    def flat_input_files(self):
        return self._files

    def pruning_path_sets(self):
        if self._paths is None:
            listing = [planner._file_key(p) for p in self._files]
            manifested = {
                planner._file_key(p)
                for p in self._tbl.column("file").to_pylist()
            }
            self._paths = (listing, manifested)
        return self._paths

    def files_by_month(self):
        if not self._with_months:
            return None, {}
        if self._fbm is None:
            listing, manifested = self.pruning_path_sets()
            by, unman = {}, {}
            any_month = False
            for p, np_ in zip(self._files, listing):
                m = planner._MONTH_RX.search(p)
                key = m.group(1) if m else None
                any_month = any_month or key is not None
                b = by.setdefault(key, ([], []))
                b[0].append(p)
                b[1].append(np_)
                if np_ not in manifested:
                    unman.setdefault(key, []).append(p)
            self._fbm = (by if any_month else None, unman)
        return self._fbm


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

        t0 = time.perf_counter()
        fm = idx.file_manifest()
        out["manifest_load_ms"] = round((time.perf_counter() - t0) * 1e3, 1)
        out["n_files"] = len(idx.flat_input_files())
        out["n_manifest_rows"] = len(fm)

        for name, f in [
            ("q3", Q3_FILTER), ("q10", Q10_FILTER),
            ("segment_only", SEG_FILTER), ("flag_only", FLAG_FILTER),
        ]:
            q = _probe_query(f)
            t0 = time.perf_counter()
            pr = planner.prune_flat_files(idx, q)
            ms = round((time.perf_counter() - t0) * 1e3, 1)
            kept, total = pr if pr is not None else (idx.flat_input_files(),
                                                     out["n_files"])
            out[name] = {
                "kept": len(kept), "total": total,
                "keep_pct": round(100 * len(kept) / total, 1),
                "prune_ms": ms,
            }
            # correctness spot-check: the pruned scan returns the same rows
            got = (
                planner._pruned_flat_df(idx, kept)
                .where(lowering_filter(f)).count()
            )
            want = idx.flat_df().where(lowering_filter(f)).count()
            assert got == want, (name, got, want)

        # ---- B. driver-cost scaling over synthetic listings -------------
        import pyarrow as pa

        base_tbl = idx.file_manifest_table()
        tcol = idx.time_col
        tmin_i = base_tbl.schema.get_field_index(f"min__{tcol}")
        tmax_i = base_tbl.schema.get_field_index(f"max__{tcol}")
        t_type = base_tbl.column(tmin_i).type
        scaling = {}
        for n in (100_000, 1_000_000):
            reps = -(-n // base_tbl.num_rows)
            parts = []
            files_big = []
            for r in range(reps):
                # honest month layout: replica r is one month of a ~10-year
                # span — dir label AND time stats agree (files_by_month's
                # contract on a real index)
                y, mo = 1993 + (r // 12) % 10, 1 + r % 12
                month = f"{y:04d}-{mo:02d}"
                paths = [
                    f"/synthetic/part{r}/__tpart={month}/f{i}.parquet"
                    for i in range(base_tbl.num_rows)
                ]
                import datetime as _dt

                lo = _dt.datetime(y, mo, 3)
                hi = _dt.datetime(y, mo, 27)
                if pa.types.is_date(t_type):
                    lo, hi = lo.date(), hi.date()
                nrow = base_tbl.num_rows
                t = base_tbl.set_column(
                    base_tbl.schema.get_field_index("file"),
                    "file",
                    pa.array(paths),
                )
                t = t.set_column(
                    tmin_i, f"min__{tcol}", pa.array([lo] * nrow, t_type)
                )
                t = t.set_column(
                    tmax_i, f"max__{tcol}", pa.array([hi] * nrow, t_type)
                )
                parts.append(t)
                files_big.extend(paths)
            big = pa.concat_tables(parts).slice(0, n)
            files_big = files_big[:n]
            for use_table, label in ((True, "vector"), (False, "per_row")):
                if not use_table and n > 100_000:
                    continue  # the 1M per-row walk was measured at 15.6 s
                stub = _StubIndex(big, files_big, tcol, use_table)
                if not use_table:
                    stub.file_manifest()  # pre-build dict outside the timer
                t0 = time.perf_counter()
                planner.prune_flat_files(stub, _probe_query(Q10_FILTER))
                scaling[f"{n}_files_{label}_prune_ms"] = round(
                    (time.perf_counter() - t0) * 1e3, 1
                )
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
            for with_months, label in (
                (True, "interval_month_sharded"),
                (False, "interval_full_walk"),
            ):
                stub = _StubIndex(big, files_big, tcol, True,
                                  with_months=with_months)
                stub.pruning_path_sets()  # epoch memo, outside the timer
                if with_months:
                    stub.files_by_month()
                t0 = time.perf_counter()
                pr = planner.prune_flat_files(stub, iv_q)
                scaling[f"{n}_files_{label}_prune_ms"] = round(
                    (time.perf_counter() - t0) * 1e3, 1
                )
                scaling[f"{n}_files_{label}_kept"] = (
                    len(pr[0]) if pr else None
                )
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
            "n_files": len(idx2.flat_input_files()),
            "partition_granularity": idx2.config.partition_granularity,
        }
        for name, f in [
            ("q3", Q3_FILTER), ("q10", Q10_FILTER),
            ("segment_only", SEG_FILTER), ("flag_only", FLAG_FILTER),
        ]:
            q = _probe_query(f)
            t0 = time.perf_counter()
            pr = planner.prune_flat_files(idx2, q)
            ms = round((time.perf_counter() - t0) * 1e3, 1)
            kept, total = pr if pr is not None else (
                idx2.flat_input_files(), floored["n_files"]
            )
            floored[name] = {
                "kept": len(kept), "total": total,
                "keep_pct": round(100 * len(kept) / max(1, total), 1),
                "prune_ms": ms,
            }
            got = (
                planner._pruned_flat_df(idx2, kept)
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
