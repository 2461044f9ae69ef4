"""File-manifest pruning — the Druid per-dimension inverted-index analog.

The reference's headline wins came from dimension indexes inside Druid
segments (docs/benchmark/BenchMarkDetails.org:165-190): selective non-time
predicates skipped whole segments. Here the index build persists per-file
min/max + exact value sets (index._build_file_manifest) over a layout
range-clustered on config.sort_cols, and the planner turns filter trees into
an explicit file list driver-side (planner.prune_flat_files) — no Spark job,
no footer reads, conservative on every unknown.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from pysparkline import ir, lowering, planner, tpch
from pysparkline.lowering import Backing
from pysparkline.session import OlapContext
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def ctx(spark):
    return OlapContext(spark, tpch.build_or_load_index(spark, SF_DIR))


@pytest.fixture(scope="module")
def fine_ctx(spark):
    """TPC-H index with the byte floor DISABLED: at sf0.001 the production
    config (64 MB target) collapses each month to one file, so per-month
    fine-slice keep ratios — the layout property that matters at scales
    where months hold many × target bytes — are only observable on a
    floor-free build."""
    cfg = tpch.tpch_index_config()
    cfg.target_file_bytes = 0
    return OlapContext(spark, tpch.build_or_load_index(spark, SF_DIR, config=cfg))


# ------------------------------------------------------------- driver-side unit


def test_file_passes_selector_and_bound():
    row = {
        "min__d": "AAA", "max__d": "MMM", "set__d": ["AAA", "BBB"],
        "min__n": 10, "max__n": 20,
        "min__t": datetime.date(1996, 1, 1), "max__t": datetime.date(1996, 3, 31),
    }
    ok = planner._file_passes
    assert ok(row, ir.SelectorFilter("d", "AAA"))
    assert not ok(row, ir.SelectorFilter("d", "CCC"))  # in [min,max], not in set
    assert not ok(row, ir.SelectorFilter("d", "ZZZ"))  # outside min/max
    assert ok(row, ir.InFilter("d", ["ZZZ", "BBB"]))
    assert not ok(row, ir.InFilter("d", ["ZZZ", "QQQ"]))
    assert ok(row, ir.BoundFilter("n", 15, None))
    assert not ok(row, ir.BoundFilter("n", 25, None))
    assert not ok(row, ir.BoundFilter("n", 20, None, lower_strict=True))
    assert ok(row, ir.BoundFilter("n", 20, None))
    assert not ok(row, ir.BoundFilter("n", None, 5, upper_strict=True))
    assert ok(row, ir.BoundFilter("t", "1996-02-01", None))
    assert not ok(row, ir.BoundFilter("t", "1996-06-01", None))
    # conjunction prunes when ANY conjunct excludes; disjunction when all do
    assert not ok(
        row,
        ir.LogicalFilter(
            "and",
            [ir.SelectorFilter("d", "AAA"), ir.BoundFilter("n", 25, None)],
        ),
    )
    assert ok(
        row,
        ir.LogicalFilter(
            "or",
            [ir.SelectorFilter("d", "CCC"), ir.BoundFilter("n", 15, None)],
        ),
    )
    # unknown stats / filter kinds keep the file
    assert ok(row, ir.SelectorFilter("unknown_col", "x"))
    assert ok(row, ir.RegexFilter("d", "^A"))
    # NOT prunes only on an exact single-value set
    # real manifests always carry min/max next to a value set; the string-
    # typed min is what licenses exact set semantics (planner._value_set)
    assert not ok(
        {"min__d": "v", "max__d": "v", "set__d": ["v"]},
        ir.NotFilter(ir.SelectorFilter("d", "v")),
    )
    assert ok(row, ir.NotFilter(ir.SelectorFilter("d", "AAA")))
    # contains consults the exact value set
    assert ok(row, ir.ContainsFilter("d", "BB", case_sensitive=True))
    assert not ok(row, ir.ContainsFilter("d", "QQ", case_sensitive=True))
    assert ok(row, ir.ContainsFilter("d", "bb", case_sensitive=False))


def test_coerce_conservative():
    # non-ASCII strings and unparseable values never exclude
    assert planner._coerce("ZÜRICH", "A") is None
    assert planner._coerce(10, "not a number") is None
    assert planner._coerce(datetime.date(2020, 1, 1), "garbage") is None


# -------------------------------------------------------------- engine level


def _q3_spec():
    return ir.GroupByQuery(
        dimensions=[
            ir.DefaultDim("l_orderkey"),
            ir.DefaultDim("o_orderdate"),
            ir.DefaultDim("o_orderpriority"),
        ],
        filter=ir.LogicalFilter(
            "and",
            [
                ir.SelectorFilter("c_mktsegment", "BUILDING"),
                ir.BoundFilter("o_orderdate", None, "1996-06-01", upper_strict=True),
            ],
        ),
        intervals=[ir.Interval("1996-06-01", None)],
        aggregations=[ir.ExprAgg("sum", "revenue", tpch.DISC_PRICE)],
    )


def test_manifest_built_and_covers_all_files(ctx):
    idx = ctx.index
    fm = idx.file_manifest()
    assert fm is not None and len(fm) == len(idx.flat_input_files())
    info = idx.manifest["fileManifest"]
    assert "c_mktsegment" in info["setCols"]
    assert "l_returnflag" in info["setCols"]
    assert "o_orderdate" in info["statsCols"]


def _q3_row_grain_spec():
    """_q3_spec plus a row-grain dimension (l_linenumber): same filters and
    interval, but no cube covers the grain — these tests pin the FLAT
    backing's file-manifest pruning, and since round 10 the plain q3 shape
    routes to the orderline rollup instead."""
    spec = _q3_spec()
    spec.dimensions.append(ir.DefaultDim("l_linenumber"))
    return spec


def test_q3_shape_prunes_and_matches_full_scan(ctx):
    spec = _q3_row_grain_spec()
    planned, backing, dec = ctx.plan(spec)
    note = "\n".join(dec.notes)
    assert "file manifest pruned scan" in note, note
    got = sorted(map(tuple, ctx.query(spec).collect()))
    want = sorted(
        map(tuple, lowering.lower(planned, Backing.flat(ctx.index)).collect())
    )
    assert got == want and got


def test_prune_fraction_is_material(fine_ctx):
    """The clustered layout must make the segment selector selective: the
    kept-file fraction stays under half of the interval-only baseline.
    Runs on the floor-free build — the production config's multi-file
    regime only engages when months exceed target_file_bytes."""
    ctx = fine_ctx
    spec = _q3_spec()
    files, total = planner.prune_flat_files(ctx.index, spec)
    iv_only = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("l_orderkey")],
        intervals=[ir.Interval("1996-06-01", None)],
        aggregations=[ir.CountAgg("n")],
    )
    pr = planner.prune_flat_files(ctx.index, iv_only)
    iv_files = pr[0] if pr is not None else ctx.index.flat_input_files()
    assert len(files) < 0.5 * len(iv_files), (len(files), len(iv_files), total)


def test_impossible_selector_prunes_everything(ctx):
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("c_nation")],
        filter=ir.SelectorFilter("c_mktsegment", "NO_SUCH_SEGMENT"),
        aggregations=[ir.CountAgg("n")],
    )
    files, total = planner.prune_flat_files(ctx.index, spec)
    assert files == [] and total > 0
    assert ctx.query(spec).count() == 0


def test_vectorized_prune_equals_per_row_walk(ctx):
    """The arrow coarse pass + survivor walk must return exactly the file
    list the pure per-row walk does, across the filter-shape zoo (it exists
    only to cut 10^6-row planning cost, never to change results)."""

    class _DictOnly:
        """Forces prune_flat_files onto the legacy dict path."""

        def __init__(self, idx):
            self._idx = idx
            self.time_col = idx.time_col

        def file_manifest_table(self):
            return None

        def file_manifest(self):
            return self._idx.file_manifest()

        def flat_input_files(self):
            return self._idx.flat_input_files()

    specs = [
        _q3_spec(),
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            filter=ir.LogicalFilter(
                "and",
                [
                    ir.SelectorFilter("l_returnflag", "R"),
                    ir.BoundFilter(
                        "o_orderdate", "1996-01-01", "1996-07-01",
                        upper_strict=True,
                    ),
                ],
            ),
            aggregations=[ir.CountAgg("n")],
        ),
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("c_mktsegment")],
            filter=ir.InFilter("c_mktsegment", ["BUILDING", "MACHINERY"]),
            intervals=[ir.Interval("1995-06-01", "1996-06-01")],
            aggregations=[ir.CountAgg("n")],
        ),
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("c_nation")],
            filter=ir.LogicalFilter(
                "or",
                [
                    ir.SelectorFilter("c_mktsegment", "BUILDING"),
                    ir.BoundFilter("l_quantity", 45, None),
                ],
            ),
            aggregations=[ir.CountAgg("n")],
        ),
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("c_nation")],
            filter=ir.NotFilter(ir.SelectorFilter("l_returnflag", "N")),
            aggregations=[ir.CountAgg("n")],
        ),
        # numeric IN with a gap: a file whose [min,max] sits strictly
        # between two members is excluded by the per-member walk but NOT
        # by the [min(v),max(v)] envelope — the vector pass must hand such
        # rows to the walk (ADVICE r4: was only tested for string INs)
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            filter=ir.InFilter("l_quantity", [1, 45]),
            aggregations=[ir.CountAgg("n")],
        ),
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            filter=ir.LogicalFilter(
                "and",
                [
                    ir.InFilter("l_quantity", [2, 3, 49]),
                    ir.SelectorFilter("l_returnflag", "A"),
                ],
            ),
            aggregations=[ir.CountAgg("n")],
        ),
        # interval-heavy shapes: the month-grouped keep composition
        # (round 5) must stay file-set-identical to the per-row walk on
        # multi-interval ORs, sub-month windows crossing a boundary, and
        # open-ended intervals
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            intervals=[
                ir.Interval("1995-03-01", "1995-05-15"),
                ir.Interval("1996-11-20", "1997-01-10"),
            ],
            aggregations=[ir.CountAgg("n")],
        ),
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            intervals=[ir.Interval("1997-06-15", None)],
            filter=ir.SelectorFilter("l_linestatus", "O"),
            aggregations=[ir.CountAgg("n")],
        ),
        ir.GroupByQuery(
            dimensions=[ir.DefaultDim("l_returnflag")],
            intervals=[ir.Interval(None, "1993-06-10")],
            aggregations=[ir.CountAgg("n")],
        ),
    ]
    for spec in specs:
        fast = planner.prune_flat_files(ctx.index, spec)
        slow = planner.prune_flat_files(_DictOnly(ctx.index), spec)
        # the contract is the file SET (the month-grouped interval path
        # composes keeps per month, so emission order differs); sorted
        # compare still catches duplicates
        f_files = sorted(fast[0]) if fast is not None else None
        s_files = sorted(slow[0]) if slow is not None else None
        assert f_files == s_files, (spec.filter, fast and len(f_files),
                                    slow and len(s_files))


def test_moved_index_prunes_the_same_files(spark, fine_ctx, tmp_path):
    """Manifests record each file's path at build time; an index copied to
    another directory, or read through a symlink, must still match its
    listing against them and prune the same files (relative to its root)
    on the flat table, a cube and a projection."""
    import os
    import shutil

    from pysparkline.index import OlapIndex

    src = fine_ctx.index
    copy_root = str(tmp_path / "copied")
    shutil.copytree(src.path, copy_root)
    link_root = str(tmp_path / "linked")
    os.symlink(os.path.abspath(src.path), link_root)

    q = _q3_spec()
    prunes = (
        lambda idx: planner.prune_flat_files(idx, q),
        lambda idx: planner.prune_cube_files(idx, "market", q),
        lambda idx: planner.prune_projection_files(idx, "li_order", q),
    )

    def relative(idx, res):
        root = os.path.abspath(idx.path) + "/"
        files, total = res
        return sorted(p.split(root, 1)[1] for p in files), total

    for prune in prunes:
        want = prune(src)
        assert want is not None and 0 < len(want[0]) < want[1]
        for root in (copy_root, link_root):
            moved = OlapIndex.load(spark, root)
            got = prune(moved)
            assert got is not None, root
            assert relative(moved, got) == relative(src, want), root


def test_appended_files_are_kept(spark, tmp_path):
    """Files appended after the build are absent from the manifest and must
    always be kept — pruned queries stay exact across appends."""
    from pysparkline.index import IndexConfig, MetricSpec, OlapIndex
    from pysparkline.tpch import read_events

    ev = read_events(spark, SF_DIR)
    split = "2024-01-20"
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("value", "value", "sum")],
        sort_cols=["event_type"],
    )
    idx = OlapIndex.build(
        spark, ev.where(F.col("ts") < split), cfg, str(tmp_path / "idx")
    )
    idx.append_batch(ev.where(F.col("ts") >= split))
    ctx = OlapContext(spark, idx, fact_name="events")
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("event_type")],
        filter=ir.SelectorFilter("event_type", "purchase"),
        aggregations=[ir.CountAgg("n")],
    )
    planned, backing, dec = ctx.plan(spec)
    got = {r.event_type: r.n for r in ctx.query(spec).collect()}
    want = {
        r.event_type: r.n
        for r in ev.where(F.col("event_type") == "purchase")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and got


def test_pruned_plan_reads_fewer_files(ctx):
    """The executed plan's scan reads only the kept files (file-level skip,
    not just a predicate over the full listing)."""
    spec = _q3_row_grain_spec()
    files, total = planner.prune_flat_files(ctx.index, spec)
    df = ctx.query(spec)
    df.collect()
    assert len(df.inputFiles()) == len(files) < total


# ------------------------------------------------------------------- z-order


def test_zorder_prunes_on_every_dimension(spark, tmp_path):
    """The property lexicographic sort lacks: with zorder_cols=(a, b), a
    selective predicate on EITHER column alone prunes files (under
    sort_cols=(a, b) a filter on b keeps every file)."""
    from pysparkline.index import IndexConfig, MetricSpec, OlapIndex

    n = 40_000
    df = spark.range(0, n).select(
        F.to_timestamp(
            F.concat(F.lit("2024-01-"), F.lpad((F.col("id") % 28) + 1, 2, "0"))
        ).alias("ts"),
        F.concat(F.lit("a"), (F.pmod(F.hash(F.col("id")), 5))).alias("a"),
        F.concat(F.lit("b"), (F.pmod(F.hash(F.col("id") * 7 + 3), 4))).alias("b"),
        (F.col("id") % 1000).alias("v"),
    )
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v_sum", "v", "sum")],
        zorder_cols=["a", "b"],
        files_per_time_partition=16,
        target_file_bytes=0,  # pin the fine-slice property at test scale
    )
    idx = OlapIndex.build(spark, df, cfg, str(tmp_path / "zidx"))

    def pruned(filt):
        q = ir.GroupByQuery(
            dimensions=[ir.DefaultDim("a")],
            filter=filt,
            aggregations=[ir.CountAgg("n")],
        )
        res = planner.prune_flat_files(idx, q)
        assert res is not None
        return res

    kept_a, total = pruned(ir.SelectorFilter("a", "a0"))
    kept_b, _ = pruned(ir.SelectorFilter("b", "b0"))
    assert total >= 8
    # both dimensions must prune materially — not just the leading one
    assert len(kept_a) <= total * 0.6, (len(kept_a), total)
    assert len(kept_b) <= total * 0.6, (len(kept_b), total)

    # correctness: pruned scan == full scan
    ctx = OlapContext(spark, idx, fact_name="zfact")
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("a")],
        filter=ir.SelectorFilter("b", "b0"),
        aggregations=[ir.CountAgg("n"), ir.FieldAgg("sum", "sv", "v")],
    )
    got = sorted(map(tuple, ctx.query(spec).collect()))
    want = sorted(
        map(
            tuple,
            df.where(F.col("b") == "b0")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .collect(),
        )
    )
    assert got == want


def test_effective_files_per_partition_floor():
    """Byte floor unit contract (VERDICT r8 #1): configured count governs at
    scale, collapses toward 1 file when partitions are small, off switch
    and unknown sizes preserve the configured count."""
    from pysparkline.index import IndexConfig, effective_files_per_partition

    cfg = IndexConfig(time_col="ts", files_per_time_partition=32)
    t = cfg.target_file_bytes
    assert t == 64 << 20
    # 100 TB regime: a month holds thousands x target -> configured count
    assert effective_files_per_partition(cfg, 4096 * t) == 32
    # floor binds: 1.5 MB month -> one file
    assert effective_files_per_partition(cfg, 1.5 * (1 << 20)) == 1
    # partial bind: ~3 x target -> 3 files
    assert effective_files_per_partition(cfg, 3.2 * t) == 3
    # unknown bytes / disabled floor -> configured count
    assert effective_files_per_partition(cfg, None) == 32
    cfg.target_file_bytes = 0
    assert effective_files_per_partition(cfg, 1024) == 32


def test_choose_partition_granularity():
    """Directory-grain floor: months below target coarsen to year; the
    100 TB regime, explicit year configs, unknown sizes, and a disabled
    floor all keep the configured granularity."""
    from pysparkline.index import IndexConfig, choose_partition_granularity

    cfg = IndexConfig(time_col="ts")
    t = cfg.target_file_bytes
    # 100 TB regime: months hold many x target -> stays monthly
    assert choose_partition_granularity(cfg, 1200 * 100 * t, 1200, 100) == "month"
    # bench regime: 96 MB over 62 months -> year
    assert choose_partition_granularity(cfg, 96 << 20, 62, 7) == "year"
    # coarsening that wouldn't reduce partition count is pointless
    assert choose_partition_granularity(cfg, 1 << 20, 3, 3) == "month"
    # unknown bytes -> conservative keep
    assert choose_partition_granularity(cfg, None, 62, 7) == "month"
    cfg.target_file_bytes = 0
    assert choose_partition_granularity(cfg, 96 << 20, 62, 7) == "month"
    cfg2 = IndexConfig(time_col="ts", partition_granularity="year")
    assert choose_partition_granularity(cfg2, 96 << 20, 62, 7) == "year"


def test_byte_floor_collapses_small_partitions(spark, tmp_path):
    """End-to-end: a z-order build over months far below target_file_bytes
    coarsens the time partitioning month->year AND writes ONE file per
    partition (not files_per_time_partition); answers — including
    interval-filtered ones, which exercise the year-format partition
    predicates — match row-grain evaluation."""
    from pysparkline.index import IndexConfig, MetricSpec, OlapIndex

    df = spark.range(0, 20_000).select(
        F.to_timestamp(
            F.when(F.col("id") % 4 == 0, F.lit("2023-11-15")).otherwise(
                F.concat(
                    F.lit("2024-0"), (F.col("id") % 3) + 1, F.lit("-15")
                )
            )
        ).alias("ts"),
        F.concat(F.lit("a"), F.pmod(F.hash(F.col("id")), 5)).alias("a"),
        (F.col("id") % 100).alias("v"),
    )
    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v_sum", "v", "sum")],
        zorder_cols=["a"],
        files_per_time_partition=16,
    )
    idx = OlapIndex.build(spark, df, cfg, str(tmp_path / "floored"))
    assert idx.config.partition_granularity == "year"
    by_part: dict[str, int] = {}
    for f in idx.flat_input_files():
        m = f.split("__tpart=")[1].split("/")[0]
        by_part[m] = by_part.get(m, 0) + 1
    assert sorted(by_part) == ["2023", "2024"], by_part
    assert all(n == 1 for n in by_part.values()), by_part
    ctx = OlapContext(spark, idx, fact_name="floored")
    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("a")],
        filter=ir.SelectorFilter("a", "a1"),
        aggregations=[ir.CountAgg("n"), ir.FieldAgg("sum", "sv", "v")],
    )
    got = sorted(map(tuple, ctx.query(spec).collect()))
    want = sorted(
        map(
            tuple,
            df.where(F.col("a") == "a1")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .collect(),
        )
    )
    assert got == want and got
    # interval crossing the year boundary: the 'yyyy' partition predicate
    # must keep BOTH year dirs (a month-format comparison would silently
    # drop 2024) and the time filter must still apply exactly
    spec_iv = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("a")],
        intervals=[ir.Interval("2023-12-01", "2024-02-20")],
        aggregations=[ir.CountAgg("n"), ir.FieldAgg("sum", "sv", "v")],
    )
    got_iv = sorted(map(tuple, ctx.query(spec_iv).collect()))
    want_iv = sorted(
        map(
            tuple,
            df.where(
                (F.col("ts") >= "2023-12-01") & (F.col("ts") < "2024-02-20")
            )
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .collect(),
        )
    )
    assert got_iv == want_iv and got_iv
    # and a pre-range interval prunes the 2024 partition entirely
    spec_old = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("a")],
        intervals=[ir.Interval(None, "2023-12-01")],
        aggregations=[ir.CountAgg("n")],
    )
    res = planner.prune_flat_files(idx, spec_old)
    assert res is not None and len(res[0]) < res[1]


def test_zvalue_column_order_preserving(spark):
    """Monotone inputs -> monotone z-codes per dimension (top bits)."""
    from pysparkline.index import zvalue_column

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(64)], "k long, x double"
    )
    z = [
        r["z"]
        for r in df.select(zvalue_column(df, ["x"], bits=6).alias("z"))
        .orderBy("k")
        .collect()
    ]
    assert z == sorted(z)
    assert len(set(z)) > 32  # buckets actually spread


# ---------------------------------------------------------------- fuzzer


def _prune_filter_strategy():
    import hypothesis.strategies as st

    seg = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    flag = ["A", "N", "R"]
    leaf = st.one_of(
        st.sampled_from(seg).map(lambda v: ir.SelectorFilter("c_mktsegment", v)),
        st.sampled_from(flag).map(lambda v: ir.SelectorFilter("l_returnflag", v)),
        st.lists(st.sampled_from(seg), min_size=1, max_size=3, unique=True).map(
            lambda vs: ir.InFilter("c_mktsegment", vs)
        ),
        st.tuples(
            st.integers(1994, 1999), st.integers(1, 12),
            st.integers(1994, 1999), st.integers(1, 12),
            st.booleans(), st.booleans(),
        ).map(
            lambda t: ir.BoundFilter(
                "o_orderdate",
                f"{min(t[0], t[2])}-{t[1]:02d}-01",
                f"{max(t[0], t[2])}-{t[3]:02d}-28",
                lower_strict=t[4],
                upper_strict=t[5],
            )
        ),
        st.tuples(st.integers(0, 30), st.integers(10, 50)).map(
            lambda t: ir.BoundFilter("l_quantity", t[0], t[1])
        ),
        st.sampled_from(["BUILD", "URN", "zzz"]).map(
            lambda v: ir.ContainsFilter("c_mktsegment", v, case_sensitive=False)
        ),
    )
    tree = st.one_of(
        leaf,
        leaf.map(lambda f: ir.NotFilter(f)),
        st.lists(leaf, min_size=2, max_size=3).map(
            lambda fs: ir.LogicalFilter("and", fs)
        ),
        st.lists(leaf, min_size=2, max_size=3).map(
            lambda fs: ir.LogicalFilter("or", fs)
        ),
    )
    return tree


def test_prune_is_conservative_fuzz(spark, ctx):
    """Property: the pruned file list retains EVERY row the filter matches —
    a dropped matching row is silent data corruption, the one failure mode
    manifest pruning must never have (z-order + aligned buckets in the
    loop: the module fixture index is the sf0.001 TPC-H z-order build)."""
    import os

    from hypothesis import HealthCheck, given, settings
    import hypothesis.strategies as st

    from pysparkline import lowering as low

    idx = ctx.index
    flat = idx.flat_df()

    @given(f=_prune_filter_strategy())
    @settings(
        max_examples=30 * int(os.environ.get("PYSPARKLINE_FUZZ_SCALE", "1")),
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    def run(f):
        q = ir.GroupByQuery(
            dimensions=[],
            filter=f,
            aggregations=[ir.CountAgg("n")],
        )
        res = planner.prune_flat_files(idx, q)
        if res is None:
            return
        files, total = res
        cond = low.filter_to_column(f)
        full = flat.where(cond).count()
        pruned = planner._pruned_flat_df(idx, files).where(cond).count()
        assert pruned == full, (f, len(files), total, pruned, full)

    run()


def test_compact_flat_restores_pruning(spark, tmp_path):
    """Append -> files unknown to the manifest (kept, correct-but-unpruned);
    compact_flat -> re-clustered + manifest-refreshed; results identical and
    the appended month prunes again."""
    from pysparkline.index import IndexConfig, MetricSpec, OlapIndex
    from pysparkline.streaming.ingest import StreamingIngest

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.to_timestamp(
                F.concat(F.lit("2024-0"), (F.col("id") % 2) + 1, F.lit("-15"))
            ).alias("ts"),
            F.concat(F.lit("a"), F.pmod(F.hash(F.col("id")), 4)).alias("a"),
            (F.col("id") % 100).alias("v"),
        )

    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v_sum", "v", "sum")],
        zorder_cols=["a"],
        files_per_time_partition=8,
        target_file_bytes=0,  # pin the fine-slice property at test scale
    )
    idx = OlapIndex.build(spark, mk(0, 8000), cfg, str(tmp_path / "cidx"))
    ing = StreamingIngest(idx)
    ing.process_batch(mk(8000, 12000), batch_id=-1)

    spec = ir.GroupByQuery(
        dimensions=[ir.DefaultDim("a")],
        filter=ir.SelectorFilter("a", "a1"),
        aggregations=[ir.CountAgg("n"), ir.FieldAgg("sum", "sv", "v")],
    )
    ctx = OlapContext(spark, idx, fact_name="cfact")
    before = sorted(map(tuple, ctx.query(spec).collect()))
    res_before = planner.prune_flat_files(idx, spec)
    kept_before, total_before = len(res_before[0]), res_before[1]

    n = ing.compact_flat()
    assert n == 2  # both months got appended files

    res_after = planner.prune_flat_files(idx, spec)
    kept_after, total_after = len(res_after[0]), res_after[1]
    # every file known again and the selector prunes materially
    assert kept_after < total_after
    assert kept_after / total_after < kept_before / total_before

    ctx2 = OlapContext(spark, idx, fact_name="cfact")
    after = sorted(map(tuple, ctx2.query(spec).collect()))
    assert after == before
    # expected ground truth
    want = sorted(
        map(
            tuple,
            mk(0, 12000)
            .where(F.col("a") == "a1")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .collect(),
        )
    )
    assert after == want
    # idempotent: nothing left to compact
    assert ing.compact_flat() == 0


def test_compact_flat_on_moved_index(spark, tmp_path):
    """compact_flat on a copied index rewrites only the month holding
    appended files and replaces that month's manifest rows: the manifest's
    build-time paths are matched by their index-relative key."""
    import glob
    import os
    import shutil

    from pysparkline.index import IndexConfig, MetricSpec, OlapIndex
    from pysparkline.streaming.ingest import StreamingIngest

    def mk(lo, hi, months=2):
        return spark.range(lo, hi).select(
            F.to_timestamp(
                F.concat(
                    F.lit("2024-0"), (F.col("id") % months) + 1, F.lit("-15")
                )
            ).alias("ts"),
            (F.col("id") % 100).alias("v"),
        )

    cfg = IndexConfig(
        time_col="ts",
        metrics=[MetricSpec("v_sum", "v", "sum")],
        files_per_time_partition=4,
        target_file_bytes=0,
    )
    idx = OlapIndex.build(spark, mk(0, 4000), cfg, str(tmp_path / "built"))
    StreamingIngest(idx).process_batch(mk(4000, 5000, months=1), batch_id=-1)
    moved_root = str(tmp_path / "moved")
    shutil.copytree(idx.path, moved_root)
    moved = OlapIndex.load(spark, moved_root)
    ing = StreamingIngest(moved)
    assert ing.compact_flat() == 1  # only 2024-01 got appended files
    files = glob.glob(os.path.join(moved_root, "flat", "*", "*.parquet"))
    manifest = moved.file_manifest()
    assert len(manifest) == len(files)  # no stale rows left behind
    assert ing.compact_flat() == 0


def test_value_sets_ignored_for_non_string_columns():
    """Regression (round-3 review): set values are cast-to-string, so for a
    numeric/date column the filter literal's textual form need not match
    ("5" vs "5.00") — membership must not prune; range pruning (typed
    coercion) still applies."""
    row = {"min__n": 1.0, "max__n": 9.0, "set__n": ["5.00", "7.00"]}
    # "5" would fail naive membership against ["5.00", ...] but coerces into
    # range -> file must be KEPT
    assert planner._file_passes(row, ir.SelectorFilter("n", "5"))
    # typed range pruning still rejects out-of-range values
    assert not planner._file_passes(row, ir.SelectorFilter("n", "12"))
    # string columns keep exact set pruning
    srow = {"min__d": "AAA", "max__d": "MMM", "set__d": ["AAA"]}
    assert not planner._file_passes(srow, ir.SelectorFilter("d", "BBB"))
    assert planner._file_passes(srow, ir.SelectorFilter("d", "AAA"))
