"""Round-10 cube layout discipline (VERDICT r9 #1/#2/#3): cubes get the
flat table's byte-floored, dim-clustered, manifested layout; the planner
prunes cube files on grain predicates; a compression gate auto-coarsens
grains finer than the data; count metrics make cube-served avg exact; and
the writer/read knobs (small row groups + adaptive blooms, maxPartitionBytes
tuning) keep byte-floored layouts parallel and skippable at every scale.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from pysparkline import ir, planner, tpch
from pysparkline.index import (
    CubeSpec, IndexConfig, MetricSpec, OlapIndex, ProjectionSpec,
    parquet_write_options,
)
from pysparkline.session import OlapContext
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def ctx(spark):
    return OlapContext(spark, tpch.build_or_load_index(spark, SF_DIR))


def _synth_flat(spark, n=4000, nulls_in_v=True):
    """Synthetic flat frame: 2 years of daily-ish data, a low-NDV dim k,
    a high-NDV dim u, and a nullable measure v."""
    df = spark.range(n).select(
        F.expr(
            "timestampadd(HOUR, CAST(id % 17000 AS INT),"
            " timestamp'1996-01-01 00:00:00')"
        ).alias("ts"),
        F.concat(F.lit("k"), (F.col("id") % 7).cast("string")).alias("k"),
        (F.col("id") % 997).alias("u"),
        F.when(
            (F.col("id") % 11) != 0 if nulls_in_v else F.lit(True),
            (F.col("id") % 50).cast("double"),
        ).alias("v"),
    )
    return df


# ------------------------------------------------------ layout + manifest


def test_tpch_cubes_carry_manifest_and_compression(ctx):
    for name, info in ctx.index.manifest["cubes"].items():
        assert info.get("fileManifest"), name
        assert info.get("compression", 0) > 0, name
        tbl = ctx.index.scan_files("cube", name).table
        assert tbl.num_rows and "file" in tbl.column_names, name
        # grain stats present: bucket min/max at least
        assert "min____bucket" in tbl.column_names, name


def test_cube_files_are_dim_sorted(ctx):
    """Rows within each cube file are sorted with the dims leading —
    tight row-group stats for grain predicates."""
    import pyarrow.parquet as pq

    info = ctx.index.manifest["cubes"]["nations_yr"]
    files = glob.glob(
        os.path.join(ctx.index.path, info["path"], "*.parquet")
    )
    assert files
    t = pq.read_table(files[0], columns=["c_nation"])
    vals = t.column("c_nation").to_pylist()
    assert vals == sorted(vals)


def test_partkey_cube_is_measure_subset(ctx):
    """The partkey rollup must carry ONLY its avg pair (+ grain/__count):
    no HLL/top-k sketch state per high-NDV cell."""
    cols = set(ctx.index.manifest["cubes"]["partkey"]["columns"])
    assert cols == {
        "__bucket", "l_partkey", "__count", "sum_qty_raw", "count_qty_raw"
    }


def test_cube_file_pruning_multi_file(spark, tmp_path):
    """A multi-file cube layout prunes whole files on grain selectors —
    identical results to the full scan, fewer files read."""
    flat = _synth_flat(spark)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v", "v", "sum")],
        cubes=[CubeSpec("k", ("k",), "month")],
        # floor disabled -> the configured count governs and the 42-row
        # cube genuinely lands in several files (with the floor active, a
        # KB-sized cube is ONE file at any honest bytes/row estimate)
        target_file_bytes=0,
        files_per_time_partition=8,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    total = len(idx.scan_files("cube", "k").listing)
    assert total > 1, "fixture must produce a multi-file cube"
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        filter=ir.SelectorFilter("k", "k3"),
        aggregations=[ir.FieldAgg("sum", "sv", "v"), ir.CountAgg("n")],
    )
    pr = planner.prune_files(idx, "cube", "k", q)
    assert pr is not None
    files, tot = pr
    assert tot == total and 0 < len(files) < total
    # end-to-end: the pruned backing serves the same answer
    ctx = OlapContext(spark, idx)
    got = {tuple(r) for r in ctx.query(q).collect()}
    exp = {
        tuple(r)
        for r in flat.where("k = 'k3'")
        .groupBy("k")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp
    assert ctx.query_history[-1].backing == "cube"
    assert any(
        "cube file manifest pruned scan" in n
        for n in ctx.query_history[-1].decision.splitlines()
    )


def test_cube_interval_pruning_on_bucket(spark, tmp_path):
    """Bucket-aligned intervals prune cube files via BUCKET min/max."""
    flat = _synth_flat(spark)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v", "v", "sum")],
        cubes=[CubeSpec("k", ("k",), "month")],
        target_file_bytes=2048,
        files_per_time_partition=8,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        intervals=[ir.Interval("1996-01-01", "1996-03-01")],
        aggregations=[ir.CountAgg("n")],
    )
    pr = planner.prune_files(idx, "cube", "k", q)
    # with dims-leading sort, bucket ranges may straddle files; pruning
    # must stay CONSERVATIVE (None or a correct subset)
    ctx = OlapContext(spark, idx)
    got = {tuple(r) for r in ctx.query(q).collect()}
    exp = {
        tuple(r)
        for r in flat.where("ts >= '1996-01-01' AND ts < '1996-03-01'")
        .groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == exp
    if pr is not None:
        files, tot = pr
        assert len(files) < tot


# ------------------------------------------------------ cost tie-breaker


def test_cost_tiebreaker_prefers_better_pruning_cube(spark, tmp_path):
    """Kept-bytes cost choice (round 11, VERDICT r10 missing #1): the
    rowCount-SMALLEST eligible cube loses to a larger rollup whose file
    manifest prunes the query's selector — bytesPerRow x rows x kept-file
    ratio orders candidates, not rowCount alone.

    Fixture: cube ``padk`` is row-smallest but (a) its leading sort dim is
    the wide pad column, so a selector on k prunes none of its files, and
    (b) every row carries the ~100-char pad. Cube ``kb`` has 2x the rows
    but k LEADS its sort, so the selector keeps ~1/7 of its narrow files."""
    flat = _synth_flat(spark).withColumn(
        "pad",
        F.concat(F.lpad((F.col("u") % 20).cast("string"), 3, "0"),
                 F.lit("x" * 100)),
    ).withColumn("b", (F.col("u") % 40).cast("string"))
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v", "v", "sum")],
        cubes=[
            CubeSpec("padk", ("pad", "k"), "month"),
            CubeSpec("kb", ("k", "b"), "month"),
        ],
        target_file_bytes=0,  # configured count governs -> multi-file cubes
        files_per_time_partition=8,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    rows_padk = idx.manifest["cubes"]["padk"]["rowCount"]
    rows_kb = idx.manifest["cubes"]["kb"]["rowCount"]
    assert rows_padk < rows_kb, "fixture needs padk row-smaller"
    assert all(
        idx.manifest["cubes"][c].get("bytesPerRow") for c in ("padk", "kb")
    )
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        filter=ir.SelectorFilter("k", "k3"),
        aggregations=[ir.FieldAgg("sum", "sv", "v"), ir.CountAgg("n")],
    )
    b, dec = planner.choose_backing(q, idx)
    assert dec.backing == "cube" and dec.cube_name == "kb", dec
    assert any("kept-bytes order overrode rowCount" in n for n in dec.notes)
    # and the answer from the overriding cube is exact
    ctx = OlapContext(spark, idx)
    got = {tuple(r) for r in ctx.query(q).collect()}
    exp = {
        tuple(r)
        for r in flat.where("k = 'k3'").groupBy("k")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp


def test_cost_tiebreaker_flat_beats_unpruning_projection(spark, tmp_path):
    """Flat-vs-projection kept-bytes competition: a covering projection
    loses to the flat when the flat's sorted layout prunes the predicate
    and the projection's sort cannot."""
    flat = _synth_flat(spark)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v", "v", "sum")],
        sort_cols=["u"],
        projections=[ProjectionSpec("kuv", ("k", "u", "v"), ("k",))],
        target_file_bytes=0,
        files_per_time_partition=8,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        filter=ir.BoundFilter("u", lower=0, upper=40,
                              lower_strict=False, upper_strict=True),
        aggregations=[ir.FieldAgg("sum", "sv", "v")],
    )
    b, dec = planner.choose_backing(q, idx, force_row_grain=True)
    assert any("kept-bytes cost: flat" in n for n in dec.notes), dec.notes
    assert not any("covers the scan" in n for n in dec.notes)
    from pysparkline import lowering

    got = {tuple(r) for r in lowering.lower(q, b).collect()}
    exp = {
        tuple(r)
        for r in flat.where("u >= 0 AND u < 40").groupBy("k")
        .agg(F.sum("v").alias("sv")).collect()
    }
    assert got == exp


# --------------------------------------------------- compression coarsening


def test_min_cube_compression_coarsens(spark, tmp_path):
    """A day-grain cube over a high-NDV dim barely compresses; the gate
    coarsens it until it pays (or bottoms out) and stamps the manifest +
    config so appends agree with the on-disk buckets."""
    flat = _synth_flat(spark)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v", "v", "sum")],
        cubes=[CubeSpec("u", ("u",), "day")],
        min_cube_compression=2.0,
        target_file_bytes=0,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    info = idx.manifest["cubes"]["u"]
    assert info["requestedGranularity"] == "day"
    assert info["granularity"] in ("month", "year")
    assert info["compression"] >= 2.0 or info["granularity"] == "year"
    # the reloaded config's CubeSpec reflects the coarsened grain
    assert idx.config.cube_by_name("u").granularity == info["granularity"]
    # and the cube still serves correctly at its (coarser) grain
    ctx = OlapContext(spark, idx)
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("u")],
        aggregations=[ir.FieldAgg("sum", "sv", "v")],
    )
    got = {tuple(r) for r in ctx.query(q).collect()}
    exp = {
        tuple(r)
        for r in flat.groupBy("u").agg(F.sum("v").alias("sv")).collect()
    }
    assert got == exp
    assert ctx.query_history[-1].backing == "cube"


def test_compression_gate_keeps_paying_cubes(spark, tmp_path):
    """A cube that already compresses past the gate keeps its grain."""
    flat = _synth_flat(spark)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[],
        cubes=[CubeSpec("k", ("k",), "month")],
        min_cube_compression=2.0,
        target_file_bytes=0,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    info = idx.manifest["cubes"]["k"]
    assert info["granularity"] == "month"
    assert "requestedGranularity" not in info


# ------------------------------------------------------------ count metric


def test_count_metric_serves_exact_avg_with_nulls(spark, tmp_path):
    """MetricSpec agg='count' stores the NON-NULL count; avg(v) served
    from the cube's sum/count pair equals the row-grain ANSI avg even
    with NULLs present, merged across buckets."""
    flat = _synth_flat(spark, nulls_in_v=True)
    cfg = IndexConfig(
        time_col="ts",
        metrics=[
            MetricSpec("v", "v", "sum"),
            MetricSpec("v", "v", "count"),
        ],
        cubes=[CubeSpec("k", ("k",), "month")],
        target_file_bytes=0,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    # cube stores the true non-null counts
    cube = idx.cube_df("k")
    got_counts = {
        r["k"]: r["c"]
        for r in cube.groupBy("k")
        .agg(F.sum("count_v").alias("c"))
        .collect()
    }
    exp_counts = {
        r["k"]: r["c"]
        for r in flat.groupBy("k").agg(F.count("v").alias("c")).collect()
    }
    assert got_counts == exp_counts
    # avg rides the cube and matches row grain exactly (integer-valued v)
    ctx = OlapContext(spark, idx)
    q = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("k")],
        aggregations=[ir.AvgAgg("av", "v")],
    )
    got = {(r["k"], r["av"]) for r in ctx.query(q).collect()}
    exp = {
        (r["k"], r["av"])
        for r in flat.groupBy("k").agg(F.avg("v").alias("av")).collect()
    }
    assert got == exp
    assert ctx.query_history[-1].backing == "cube"


# ----------------------------------------------------------- writer knobs


def test_parquet_write_options_shape():
    cfg = IndexConfig(time_col="ts", target_file_bytes=64 << 20)
    opts = parquet_write_options(cfg)
    assert opts["parquet.block.size"] == str(8 << 20)
    assert opts["parquet.bloom.filter.enabled"] == "true"
    assert opts["parquet.bloom.filter.adaptive.enabled"] == "true"
    # floor disabled -> no overrides (probe-free builds stay default)
    assert parquet_write_options(IndexConfig(time_col="ts",
                                             target_file_bytes=0)) == {}


def test_block_size_yields_multiple_row_groups(spark, tmp_path):
    """The block-size override actually lands: a ~few-MB write at 1 MB
    block size produces multiple row groups per file (the within-file
    pruning + parallelism unit the byte floor relies on)."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "blk")
    (
        spark.range(400_000)
        .select(F.col("id"), F.rand(7).alias("x"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", str(1 << 20))
        .parquet(out)
    )
    f = glob.glob(out + "/*.parquet")[0]
    assert pq.ParquetFile(f).metadata.num_row_groups > 1


def test_floored_flat_row_groups_are_skippable(spark, tmp_path):
    """The inverted-index analog that SURVIVES the byte floor (VERDICT r9
    #3): when the floor collapses a partition to one big file, the small
    parquet.block.size + the z/lex sort inside the file must leave
    row-group min/max stats selective on the cluster column — a point
    predicate can skip most row groups. Pinned structurally (parquet
    footers), since Spark exposes no skipped-row-group metric: row groups
    must be (a) plural and (b) near-disjoint on the lead sort column."""
    import pyarrow.parquet as pq

    n = 1_500_000
    flat = spark.range(n).select(
        F.expr(
            "timestampadd(SECOND, CAST(id % 2000000 AS INT),"
            " timestamp'1996-01-01 00:00:00')"
        ).alias("ts"),
        F.concat(F.lit("g"), (F.col("id") % 40).cast("string")).alias("g"),
        F.rand(7).alias("x"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    cfg = IndexConfig(
        time_col="ts",
        metrics=[],
        sort_cols=["g"],
        # 8 MB target -> 512 KB row groups; the whole table is ~a few MB
        # compressed so the floor collapses it to one file per partition
        target_file_bytes=8 << 20,
        files_per_time_partition=8,
    )
    idx = OlapIndex.build(spark, flat, cfg, str(tmp_path / "idx"))
    files = [f for f in idx.scan_files("flat").listing]
    assert files
    f = files[0].replace("file:", "")
    md = pq.ParquetFile(f).metadata
    assert md.num_row_groups > 3, "byte-floored file must still split into row groups"
    schema_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    gi = schema_idx["g"]
    ranges = []
    for r in range(md.num_row_groups):
        st = md.row_group(r).column(gi).statistics
        ranges.append((st.min, st.max))
    # selectivity: a single value must be skippable in most row groups —
    # count how many row groups could contain the median value
    probe = sorted(v for lo, hi in ranges for v in (lo, hi))[len(ranges)]
    containing = sum(1 for lo, hi in ranges if lo <= probe <= hi)
    assert containing <= max(2, md.num_row_groups // 3), (ranges, probe)


def test_tune_read_parallelism_clamps(ctx):
    spark = ctx.spark
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        got = ctx.index.tune_read_parallelism()
        assert (16 << 20) <= got <= (128 << 20)
        assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(got)
        # a tiny sf0.001 flat must clamp to the measured 16 MB floor
        assert got == 16 << 20
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", before)


def test_cube_df_coalesce_never_widens_the_scan(ctx):
    """cube_df's width is Spark's coalesce of the cube scan to its
    row-count width: min(want, scan partitions), never wider than the scan,
    rows unchanged. Two sizings exercise both sides of the min: scans split
    into many 4 KB pieces under the default want (narrowed), and want
    raised to the 2x-parallelism cap over the default scans (kept)."""
    spark = ctx.spark
    cap = 2 * spark.sparkContext.defaultParallelism
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    sides = set()
    try:
        for rows_per_part, split_bytes in ((None, "4096"), (1, before)):
            spark.conf.set("spark.sql.files.maxPartitionBytes", split_bytes)
            idx = OlapIndex(spark, ctx.index.path, ctx.index.manifest)
            if rows_per_part:
                idx.CUBE_ROWS_PER_PARTITION = rows_per_part
            for name, info in idx.manifest["cubes"].items():
                want = max(1, min(
                    -(-int(info["rowCount"]) // idx.CUBE_ROWS_PER_PARTITION),
                    cap,
                ))
                base, df = idx._cube_base(name), idx.cube_df(name)
                scan = base.rdd.getNumPartitions()
                got = df.rdd.getNumPartitions()
                assert got == min(want, scan), (name, want, scan, got)
                assert df.count() == base.count(), name
                sides.add(scan > want)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", before)
    assert sides == {True, False}
