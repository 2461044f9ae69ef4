"""Narrow row-grain projections (round 10 — the Vertica-projection /
Druid-narrow-segment analog): sorted column-subset copies of the flat table
the planner serves covered queries from. Row GRAIN is the point — semi-join
outers and cardinality-rejected aggregations can ride them (cubes never
can), with identical results and a fraction of the column bytes.

Safety property pinned here: a query whose referenced-column set cannot be
PROVEN complete (Expr* nodes without their ``columns`` list) must NEVER
ride a projection — under-reporting is harmless for the flat fallback
(it has every column) but fatal for a narrow copy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pysparkline import ir, planner, tpch
from pysparkline.index import (
    IndexConfig, MetricSpec, OlapIndex, ProjectionSpec,
)
from pysparkline.session import OlapContext
from tests.conftest import SF_DIR


def _synth_flat(spark, n=4000):
    return spark.range(n).select(
        F.expr(
            "timestampadd(HOUR, CAST(id % 17000 AS INT),"
            " timestamp'1996-01-01 00:00:00')"
        ).alias("ts"),
        F.concat(F.lit("k"), (F.col("id") % 7).cast("string")).alias("k"),
        (F.col("id") % 997).alias("u"),
        (F.col("id") % 50).cast("double").alias("v"),
        (F.col("id") % 13).cast("double").alias("w"),
    )


@pytest.fixture(scope="module")
def pidx(spark, tmp_path_factory):
    flat = _synth_flat(spark)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v", "v", "sum")],
        projections=[ProjectionSpec("kv", ("k", "v"), ("k",))],
        target_file_bytes=2048,  # several files -> pruning observable
        files_per_time_partition=8,
    )
    return OlapIndex.build(
        spark, flat, cfg, str(tmp_path_factory.mktemp("proj") / "idx")
    )


def test_covered_query_rides_projection_same_answer(spark, pidx):
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        # force row grain the way semi-join outers do
        aggregations=[ir.FieldAgg("sum", "sv", "v"), ir.CountAgg("n")],
    )
    b, dec = planner.choose_backing(q, pidx, force_row_grain=True)
    assert any("projection kv covers" in n for n in dec.notes), dec.notes
    from pysparkline import lowering

    got = {tuple(r) for r in lowering.lower(q, b).collect()}
    exp = {
        tuple(r)
        for r in pidx.flat_df()
        .groupBy("k")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp


def test_uncovered_query_falls_to_flat(pidx):
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        aggregations=[ir.FieldAgg("sum", "sw", "w")],  # w not in projection
    )
    _, dec = planner.choose_backing(q, pidx, force_row_grain=True)
    assert not any("projection" in n for n in dec.notes)


def test_unprovable_expr_never_rides_projection(pidx):
    """ExprAgg without its columns list: referenced-column under-reporting
    must disqualify projections even when the (incomplete) set is covered."""
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        aggregations=[ir.ExprAgg("sum", "sw", "v + w")],  # no columns list
    )
    _, dec = planner.choose_backing(q, pidx, force_row_grain=True)
    assert not any("projection" in n for n in dec.notes)
    # same expression WITH the proof rides (when covered)
    q2 = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        aggregations=[ir.ExprAgg("sum", "sv", "v * 2", ["v"])],
    )
    _, dec2 = planner.choose_backing(q2, pidx, force_row_grain=True)
    assert any("projection kv covers" in n for n in dec2.notes)


def test_projection_file_pruning_selector(spark, pidx):
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        filter=ir.SelectorFilter("k", "k3"),
        aggregations=[ir.FieldAgg("sum", "sv", "v")],
    )
    pr = planner.prune_projection_files(pidx, "kv", q)
    assert pr is not None
    files, total = pr
    assert 0 < len(files) < total
    from pysparkline import lowering

    b, dec = planner.choose_backing(q, pidx, force_row_grain=True)
    assert any("projection file manifest pruned" in n for n in dec.notes)
    got = {tuple(r) for r in lowering.lower(q, b).collect()}
    exp = {
        tuple(r)
        for r in pidx.flat_df()
        .where("k = 'k3'")
        .groupBy("k")
        .agg(F.sum("v").alias("sv"))
        .collect()
    }
    assert got == exp


def test_append_keeps_projection_consistent(spark, tmp_path):
    """Batch/stream appends write the same rows into every projection —
    a covered query over the projection sees appended data exactly like
    the flat would."""
    flat = _synth_flat(spark, 1500)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v", "v", "sum")],
        projections=[ProjectionSpec("kv", ("k", "v"), ("k",))],
        target_file_bytes=0,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    # a disjoint batch: ids in a fresh range
    batch = spark.range(1500, 2100).select(
        F.expr(
            "timestampadd(HOUR, CAST(id % 17000 AS INT),"
            " timestamp'1996-01-01 00:00:00')"
        ).alias("ts"),
        F.concat(F.lit("k"), (F.col("id") % 7).cast("string")).alias("k"),
        (F.col("id") % 997).alias("u"),
        (F.col("id") % 50).cast("double").alias("v"),
        (F.col("id") % 13).cast("double").alias("w"),
    )
    idx.append_batch(batch)
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        aggregations=[ir.FieldAgg("sum", "sv", "v"), ir.CountAgg("n")],
    )
    b, dec = planner.choose_backing(q, idx, force_row_grain=True)
    assert any("projection kv covers" in n for n in dec.notes)
    from pysparkline import lowering

    got = {tuple(r) for r in lowering.lower(q, b).collect()}
    both = flat.unionByName(batch)
    exp = {
        tuple(r)
        for r in both.groupBy("k")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp


def test_compact_projections_restores_pruning(spark, tmp_path):
    """Appends land unsorted/unmanifested (pruner keeps them — correct,
    never fast); compact_projections re-sorts the affected partitions,
    rebuilds the manifest, and pruning covers every file again, with
    identical answers throughout."""
    from pysparkline.streaming.ingest import StreamingIngest

    flat = _synth_flat(spark, 2000)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v", "v", "sum")],
        projections=[ProjectionSpec("kv", ("k", "v"), ("k",))],
        target_file_bytes=2048,
        files_per_time_partition=8,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    batch = _synth_flat(spark, 2600).where("u >= 0")  # same generator
    idx.append_batch(batch)
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        filter=ir.SelectorFilter("k", "k3"),
        aggregations=[ir.FieldAgg("sum", "sv", "v"), ir.CountAgg("n")],
    )
    from pysparkline import lowering

    def run():
        b, dec = planner.choose_backing(q, idx, force_row_grain=True)
        return {tuple(r) for r in lowering.lower(q, b).collect()}, dec

    both = flat.unionByName(batch)
    exp = {
        tuple(r)
        for r in both.where("k = 'k3'")
        .groupBy("k")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got_pre, _ = run()
    assert got_pre == exp  # appended (unmanifested) files are kept
    n = StreamingIngest(idx).compact_projections()
    assert n > 0
    got_post, dec = run()
    assert got_post == exp
    # post-compaction every file is manifested again and pruning engages
    rows = idx.projection_file_manifest("kv")
    files = idx.projection_input_files("kv")
    known = {planner._file_key(r["file"]) for r in rows}
    assert all(planner._file_key(f) in known for f in files)
    assert any("projection file manifest pruned" in x for x in dec.notes)


def test_unpartitioned_projection_lifecycle(spark, tmp_path):
    """Round 11: when every time partition averages under the byte floor,
    the projection writes UNPARTITIONED (no __tpart dirs — the dirs cost a
    file + reader init per partition, measured 3-5x a probe query's task
    time at bench SF). MONTH_COL is stored as an ordinary column, covered
    queries answer identically, appends land in the same flat-root layout,
    and compaction re-sorts the whole (byte-floor-bounded) root."""
    import glob as _glob
    import os

    from pysparkline.streaming.ingest import StreamingIngest

    flat = _synth_flat(spark, 2000)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v", "v", "sum")],
        projections=[ProjectionSpec("kv", ("k", "v"), ("k",))],
        # huge target -> every partition is under the floor -> collapsed
        target_file_bytes=64 << 20,
        files_per_time_partition=8,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    info = idx.manifest["projections"]["kv"]
    assert info["partitioned"] is False
    root = str(tmp_path / "idx" / "proj_kv")
    assert not _glob.glob(os.path.join(root, "__tpart=*")), "no time dirs"
    files = _glob.glob(os.path.join(root, "*.parquet"))
    assert len(files) == 1, files  # single byte-floored file
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        intervals=[ir.Interval("1996-01-01", "1996-04-01")],
        aggregations=[ir.FieldAgg("sum", "sv", "v"), ir.CountAgg("n")],
    )
    from pysparkline import lowering

    def run():
        b, dec = planner.choose_backing(q, idx, force_row_grain=True)
        assert any("projection kv covers" in n for n in dec.notes), dec.notes
        return {tuple(r) for r in lowering.lower(q, b).collect()}

    def expect(src):
        return {
            tuple(r)
            for r in src.where("ts >= '1996-01-01' AND ts < '1996-04-01'")
            .groupBy("k")
            .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
            .collect()
        }

    assert run() == expect(flat)
    # append lands in the SAME (dir-free) layout; answers stay exact
    batch = _synth_flat(spark, 2600).where("u >= 0")
    idx.append_batch(batch)
    assert not _glob.glob(os.path.join(root, "__tpart=*")), "append made dirs"
    both = flat.unionByName(batch)
    assert run() == expect(both)
    # compaction re-sorts the root and re-manifests every file
    n = StreamingIngest(idx).compact_projections()
    assert n > 0
    assert run() == expect(both)
    rows = idx.projection_file_manifest("kv")
    files = idx.projection_input_files("kv")
    known = {planner._file_key(r["file"]) for r in rows}
    assert all(planner._file_key(f) in known for f in files)


def test_tpch_semijoin_outers_ride_projections(spark):
    """The motivating workload: Q17-shaped probes ride li_probe, the
    SubQry-family outers li_order (with file pruning) — visible in the
    explain, answers already oracle-pinned by the entry/driver rows."""
    idx = tpch.build_or_load_index(spark, SF_DIR)
    ctx = OlapContext(
        spark, idx, base_tables=tpch.load_star_tables(spark, SF_DIR)
    )
    x = ctx.explain_rewrite(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               / 7.0 AS avg_yearly
           FROM lineitem
           WHERE l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                               WHERE l2.l_partkey = lineitem.l_partkey)"""
    )
    assert "projection li_probe covers the scan" in x, x
