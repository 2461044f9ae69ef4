"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[N].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": <sf>, ...extras}

Per BASELINE.md the anchor is the reference's speedup of index-accelerated vs
raw execution, so alongside per-query times this also reports the raw-scan
(base star join, no index) time for the flagship so the acceleration ratio is
visible: `raw_q1_sec` / `queries.q1`.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request

from pyspark.sql import functions as F


class TaskTimeMeter:
    """Per-query summed executor task time via the Spark UI REST API.

    Wall-clock at bench SF sits on the local-mode per-stage scheduling floor
    (~25-40 ms/stage) on both the indexed and raw side, compressing every
    ratio toward 1. Summed executor run time has no such floor: it is the
    work the cluster actually does, and at 100 TB wall-clock tracks it
    (VERDICT r2 "Next round" #2). Each measured collect runs inside a
    `setJobGroup`; afterwards one pass over /api/v1 jobs+stages attributes
    stage executorRunTime to groups (skipped/reused stages report no attempt
    and are correctly not re-counted).
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.runs: dict[str, int] = {}

    def group(self, name: str, runs: int = 1):
        self.runs[name] = self.runs.get(name, 0) + runs
        self.sc.setJobGroup(name, name, interruptOnCancel=False)
        return self

    def clear(self):
        self.sc.setJobGroup("", "")

    def collect(self) -> dict[str, float]:
        """Return per-group summed executorRunTime in seconds / run."""
        try:
            base = self.sc.uiWebUrl
            app = self.sc.applicationId
            if not base:
                return {}

            def get(path):
                with urllib.request.urlopen(
                    f"{base}/api/v1/applications/{app}/{path}", timeout=20
                ) as r:
                    return json.load(r)

            jobs = get("jobs")
            stages = get("stages?status=complete")
            stage_ms: dict[int, int] = {}
            for s in stages:
                sid = s["stageId"]
                stage_ms[sid] = max(stage_ms.get(sid, 0), s.get("executorRunTime", 0))
            out: dict[str, float] = {}
            for j in jobs:
                g = j.get("jobGroup")
                if g not in self.runs:
                    continue
                ms = sum(stage_ms.get(sid, 0) for sid in j.get("stageIds", []))
                out[g] = out.get(g, 0.0) + ms
            return {
                g: round(ms / 1000.0 / self.runs[g], 4) for g, ms in out.items()
            }
        except Exception:
            return {}


HEADLINE = [
    "q1",
    "basic_agg",
    "ship_date_range",
    "monthly_revenue",
    "dim_filters",
    "topn_brand",
    "q3",
    "q5",
    "q7",
    "q8",
    "q10",
]

# LLM-pipeline operator throughput (documents/embeddings/events tables) —
# reported separately so the headline total stays comparable across rounds
LLM_OPS = [
    "sql_q1",
    "dedup_exact_docs",
    "minhash_pairs_docs",
    "cosine_topk",
    "lsh_cosine_topk",
    "text_stats_docs",
    "lang_id_docs",
    "sessionize_stats",
    "asof_event_purchase",
    "decontaminate_docs",
    "dedup_clusters_docs",
    "boilerplate_prune_docs",
    "theta_retention_daily",
    "ivf_index_topk",
    "bm25_topk_docs",
    "pack_docs",
    "hash_split_docs",
    "source_overlap_docs",
    "perplexity_docs",
    "semantic_dedup_emb",
    "pq_topk",
    "sql_window_share",
    "sql_window_range",
    "sql_window_range_desc",
    "sql_window_filter_distinct",
    "sql_window_rowgrain",
    "curate_docs",
    "tfidf_docs",
    "interval_join_events",
    "ivfpq_index_topk",
    "incremental_dedup_docs",
    "shard_docs",
    "temperature_mix_docs",
    "sql_qualify_topk",
    "vocab_topk_docs",
    "knn_join_emb",
    "quantized_topk_emb",
    "hamming_topk_emb",
    "bigram_nll_docs",
    "hybrid_rrf_docs",
    "fuzzy_join_docs",
    "weighted_sample_docs",
    "semantic_decontam_emb",
    "nb_classify_docs",
    "dsir_select_docs",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf = float(sf)
    except ValueError:
        sf = None

    from pysparkline.session import get_spark

    spark = get_spark(app="pysparkline-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    t0 = time.perf_counter()
    ctx = entry_mod._ctx(spark, sf_dir)  # builds or loads the index
    # pin cubes in executor memory — the serving posture of the reference
    # (Druid historicals hold segments resident); flat data stays on disk
    ctx.index.cache_cubes()
    index_sec = time.perf_counter() - t0

    qs = entry_mod.queries()

    # ---- fixed-work calibration probe (VERDICT r7 #4) --------------------
    # A constant raw-parquet scan + hash aggregate, measured with the same
    # warm best-of-2 discipline as every query, run BEFORE and AFTER the
    # measured block. Environment drift (CPU contention, turbo/thermal
    # state, JIT luck) moves this probe and all queries together — r7's
    # across-the-board 1.3-1.4x wall drift (raw twins included, scan rows
    # identical) was indistinguishable from a real regression without it.
    # Round-over-round comparisons should quote <time>/<calibration_sec>.
    from pysparkline import tpch as _tpch

    def _calibration_probe() -> float:
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        df = li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)),
            F.sum(F.expr(_tpch.QTY)),
            F.avg(F.expr(_tpch.DISC)),
        )
        # 2 warmups (JIT + page cache; the START probe runs right after the
        # index build, where scan codepaths are still cold), then best-of-3
        df.collect()
        df.collect()
        best = float("inf")
        for _ in range(3):
            t = time.perf_counter()
            df.collect()
            best = min(best, time.perf_counter() - t)
        return round(best, 4)

    calibration_sec = _calibration_probe()

    cold_times: dict[str, float] = {}

    def scan_rows(df, runs: int) -> int | None:
        """Rows emitted per run by the leaf scans (Spark SQL metrics; they
        accumulate across executions of one plan, hence /runs) — the
        scale-faithful signal: at 100 TB the wall-clock ratio follows the
        rows-scanned ratio, while at bench SF both sides sit on the
        per-stage scheduling floor."""
        try:
            plan = df._jdf.queryExecution().executedPlan()
            if "AdaptiveSparkPlan" in plan.getClass().getSimpleName():
                plan = plan.finalPhysicalPlan()
            total = 0

            def walk(p):
                nonlocal total
                if "QueryStage" in p.getClass().getSimpleName():
                    walk(p.plan())
                    return
                if p.children().size() == 0:
                    m = p.metrics()
                    if m.contains("numOutputRows"):
                        total += m.apply("numOutputRows").value()
                    return
                it = p.children().iterator()
                while it.hasNext():
                    walk(it.next())

            walk(plan)
            return int(total // runs)
        except Exception:
            return None

    meter = TaskTimeMeter(spark)

    def timed(name: str) -> float:
        """First call = cold (Catalyst analysis + execution; recorded
        separately), then best of two warm runs — with the compiled-plan
        memo both sides of every ratio pay execution only (local-mode job
        scheduling noise is +-30%; min is the stable statistic)."""
        fn = qs[name]
        t = time.perf_counter()
        fn(spark, sf_dir).collect()  # cold: plan compile + execute
        cold_times[name] = round(time.perf_counter() - t, 4)
        best = float("inf")
        for _ in range(2):
            t = time.perf_counter()
            df = fn(spark, sf_dir)
            df.collect()
            best = min(best, time.perf_counter() - t)
        scan_rows_indexed[name] = scan_rows(df, 3)
        return round(best, 4)

    scan_rows_indexed: dict[str, int | None] = {}

    times = {name: timed(name) for name in HEADLINE}
    llm_times = {name: timed(name) for name in LLM_OPS}

    # raw-scan counterparts over the base star join with no index artifacts
    # (the "Spark raw" column of BASELINE.md) — one per headline query plus
    # the SubQry+filters analog, so every published BASELINE.md ratio has a
    # measured twin. Semantics mirror the indexed queries; output cosmetics
    # (aliases/sort) are skipped exactly as the reference's raw runs skipped
    # them (BenchMarkDetails.org: "no aggregation formulas, no order-by").
    from pysparkline import tpch

    raw_flat, _ = tpch.flat_star_df(spark, sf_dir)
    REV = F.expr(tpch.DISC_PRICE)

    # ---- layout-matched raw twin (VERDICT r8 #2) -------------------------
    # The natural raw twin reads the driver's few-file parquet; the index's
    # flat layout carries time-partition directories whose per-file/per-task
    # fixed costs dominate task time at bench SF. To make plan quality and
    # layout separable, build a SECOND twin whose FACT side (lineitem) is
    # re-written at the index's own granularity and file count — same bytes
    # discipline, zero engine artifacts (no z-order, no manifest, star
    # joined at query time). Cached per (sf_dir, granularity, nfiles).
    def matched_lineitem():
        import hashlib

        from pysparkline.index import PARTITION_FORMATS

        gran = ctx.index.config.partition_granularity
        nfiles = len(ctx.index.scan_files("flat").listing)
        fmt = PARTITION_FORMATS.get(gran, "yyyy-MM")
        key = hashlib.sha256(
            json.dumps(
                {"sf": os.path.abspath(sf_dir), "gran": gran, "n": nfiles}
            ).encode()
        ).hexdigest()[:12]
        out = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            ".olap_cache",
            f"rawmatched_{os.path.basename(os.path.normpath(sf_dir))}_{key}",
        )
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            li = spark.read.parquet(
                os.path.join(sf_dir, "lineitem.parquet")
            ).withColumn(
                "__part", F.date_format(F.col("l_shipdate"), fmt)
            )
            (
                li.repartitionByRange(nfiles, "__part", "l_orderkey")
                .write.mode("overwrite")
                .partitionBy("__part")
                .parquet(out)
            )
        return spark.read.parquet(out).drop("__part")

    matched_li = matched_lineitem()
    tables_matched = tpch.load_star_tables(spark, sf_dir)
    tables_matched["lineitem"] = matched_li
    from pysparkline.index import flatten_star as _flatten

    matched_flat = _flatten(
        spark, tables_matched, tpch.tpch_star(tables_matched)
    ).withColumn("order_year", F.year("o_orderdate"))

    # the fact-side frames the twins read: "flat" = the star join to run
    # queries over, "li" = bare lineitem (corr_scalar's view). The natural
    # pass binds the driver's few-file layout; the matched pass rebinds the
    # SAME builders to the layout-matched twin, so both measurements run
    # identical code.
    frames = {
        "flat": raw_flat,
        "li": spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")),
    }

    def _raw_q1():
        return (
            frames["flat"].where(F.col("l_shipdate") < "1998-09-01")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.expr(tpch.QTY)),
                F.sum(F.expr(tpch.PRICE)),
                F.sum(REV),
                F.sum(F.expr(tpch.CHARGE)),
                F.count(F.lit(1)),
            )
        )

    def _raw_basic_agg():
        return frames["flat"].agg(F.count(F.lit(1)), F.sum(F.expr(tpch.QTY)), F.sum(REV))

    def _raw_sdr():
        return frames["flat"].where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        ).agg(F.count(F.lit(1)), F.sum(REV))

    def _raw_monthly_revenue():
        return (
            frames["flat"].groupBy(F.date_trunc("month", F.col("l_shipdate")))
            .agg(F.count(F.lit(1)), F.sum(REV))
        )

    def _raw_dim_filters():
        return (
            frames["flat"].where(
                F.col("c_region").isin("AMERICA", "ASIA")
                & (F.col("o_orderpriority") == "1-URGENT")
                & ~(F.col("o_orderstatus") == "P")
            )
            .groupBy("c_nation")
            .agg(F.count(F.lit(1)), F.sum(REV))
        )

    def _raw_topn_brand():
        return (
            frames["flat"].groupBy("p_brand")
            .agg(F.sum(REV).alias("revenue"))
            .orderBy(F.col("revenue").desc(), "p_brand")
            .limit(5)
        )

    def _raw_q3():
        return (
            frames["flat"].where(
                (F.col("c_mktsegment") == "BUILDING")
                & (F.col("o_orderdate") < "1996-06-01")
                & (F.col("l_shipdate") >= "1996-06-01")
            )
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(REV).alias("revenue"))
            .orderBy(F.col("revenue").desc(), "l_orderkey")
            .limit(10)
        )

    def _raw_q5():
        return (
            frames["flat"].where(
                (F.col("c_region") == "ASIA")
                & (F.col("order_year") == 1996)
                & (F.col("c_nation") == F.col("s_nation"))
            )
            .groupBy("c_nation")
            .agg(F.sum(REV))
        )

    def _raw_q7():
        n1, n2 = "NATION_1", "NATION_2"
        return (
            frames["flat"].where(
                (
                    ((F.col("c_nation") == n1) & (F.col("s_nation") == n2))
                    | ((F.col("c_nation") == n2) & (F.col("s_nation") == n1))
                )
                & (F.col("l_shipdate") >= "1996-01-01")
                & (F.col("l_shipdate") < "1998-01-01")
            )
            .groupBy("s_nation", "c_nation", F.year("l_shipdate"))
            .agg(F.sum(REV))
        )

    def _raw_q8():
        nat = F.when(F.col("s_nation") == "NATION_3", REV)
        return (
            frames["flat"].where(F.col("c_region") == "AMERICA")
            .groupBy("order_year")
            .agg(F.sum(nat), F.sum(REV))
        )

    def _raw_q10():
        return (
            frames["flat"].where(
                (F.col("l_returnflag") == "R")
                & (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-07-01")
            )
            .groupBy("c_custkey", "c_name", "c_acctbal", "c_nation")
            .agg(F.sum(REV).alias("revenue"))
            .orderBy(F.col("revenue").desc(), "c_custkey")
            .limit(20)
        )

    def _raw_subquery():
        return (
            frames["flat"].where(
                (F.col("l_quantity") > 20)
                & (F.col("l_shipdate") >= "1996-01-01")
                & (F.col("l_shipdate") < "1997-01-01")
            )
            .groupBy("l_linestatus")
            .agg(F.count(F.lit(1)), F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(12,2))")))
        )

    # raw twins for the round-8 WHERE-subquery acceleration (the
    # reference's "SubQry" anchor family): same semantics over the raw
    # star join with Spark's own subquery planning (left_semi after
    # Catalyst's rewrite) — no index artifacts
    orders_raw = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))

    def _raw_in_subquery():
        keys = orders_raw.where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        return (
            frames["flat"].where(
                (F.col("l_shipdate") >= "1995-12-01")
                & (F.col("l_shipdate") < "1997-09-01")
            )
            .join(keys, frames["flat"]["l_orderkey"] == keys["o_orderkey"],
                  "left_semi")
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)),
                F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(12,2))")),
            )
        )

    def _raw_scalar_subquery():
        scalar = (
            frames["flat"].where(F.col("l_returnflag") == "R")
            .agg((F.max("l_quantity") - F.lit(5)).alias("__sc"))
        )
        return (
            frames["flat"].where(
                (F.col("l_shipdate") >= "1996-01-01")
                & (F.col("l_shipdate") < "1997-01-01")
            )
            .crossJoin(F.broadcast(scalar))
            .where(F.col("l_quantity") >= F.col("__sc"))
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)),
                F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(12,2))")),
            )
        )

    def _raw_not_in():
        keys = orders_raw.where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        return (
            frames["flat"].where(
                (F.col("l_shipdate") >= "1996-01-01")
                & (F.col("l_shipdate") < "1998-01-01")
            )
            .join(keys, frames["flat"]["l_orderkey"] == keys["o_orderkey"],
                  "left_anti")
            .groupBy("l_linestatus")
            .agg(
                F.count(F.lit(1)),
                F.sum(F.expr(tpch.QTY)),
            )
        )

    def _raw_corr_scalar():
        # Q17's correlated scalar in Spark's OWN planning (it decorrelates
        # to an aggregate + join itself) over the raw parquet — the twin
        # measures the pruned-scan/index advantage, not the rewrite
        frames["li"].createOrReplaceTempView("__bench_li")
        return spark.sql(
            """SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0
               FROM __bench_li
               WHERE l_quantity < (SELECT 0.2 * AVG(l_quantity)
                                   FROM __bench_li l2
                                   WHERE l2.l_partkey = __bench_li.l_partkey)"""
        )

    raw_builders = {
        "q1": _raw_q1,
        "basic_agg": _raw_basic_agg,
        "ship_date_range": _raw_sdr,
        "monthly_revenue": _raw_monthly_revenue,
        "dim_filters": _raw_dim_filters,
        "topn_brand": _raw_topn_brand,
        "q3": _raw_q3,
        "q5": _raw_q5,
        "q7": _raw_q7,
        "q8": _raw_q8,
        "q10": _raw_q10,
        "sql_subquery": _raw_subquery,
        # round-8 WHERE-subquery acceleration (measured OUTSIDE the
        # headline total so `value` stays round-over-round comparable)
        "sql_in_subquery": _raw_in_subquery,
        "sql_scalar_subquery": _raw_scalar_subquery,
        "sql_not_in": _raw_not_in,
        "sql_corr_scalar": _raw_corr_scalar,
    }

    # same warm-plan discipline as the indexed side (queries() memoizes the
    # compiled DataFrame): construct once, collect repeatedly — both sides
    # pay execution only, neither pays per-run Catalyst re-analysis
    raw_times: dict[str, float] = {}
    scan_rows_raw: dict[str, int | None] = {}
    for name, mk in raw_builders.items():
        df = mk()
        df.collect()  # warm
        best = float("inf")
        for _ in range(2):  # same best-of-2 statistic as the indexed side
            t = time.perf_counter()
            df.collect()
            best = min(best, time.perf_counter() - t)
        raw_times[name] = round(best, 4)
        scan_rows_raw[name] = scan_rows(df, 3)

    indexed_for_ratio = dict(times)
    for extra in ("sql_subquery", "sql_in_subquery", "sql_scalar_subquery",
                  "sql_not_in", "sql_corr_scalar"):
        if extra not in indexed_for_ratio:
            indexed_for_ratio[extra] = timed(extra)
    speedups = {
        name: round(raw_times[name] / indexed_for_ratio[name], 2)
        for name in raw_builders
        if indexed_for_ratio.get(name)
    }

    total = round(sum(times.values()), 4)

    # ---- floor-free task-time pass --------------------------------------
    # Re-collecting a DataFrame reuses its materialized AQE query stages
    # (only the final stage re-runs), so warm runs cannot attribute full
    # executor work. This pass builds a FRESH plan per query (plan memo
    # cleared on the indexed side; raw builders construct new Datasets) and
    # executes it once inside a job group: every stage — scans, shuffles,
    # broadcasts — runs in-group, and summed executorRunTime is the total
    # work a first-time execution costs. Catalyst compile is driver-side
    # and does not pollute executor task time.
    tt_names = list(dict.fromkeys(
        HEADLINE + ["sql_subquery", "sql_in_subquery", "sql_scalar_subquery",
                    "sql_not_in", "sql_corr_scalar"]
    ))
    _MAX_FRESH_REPS = 6
    tt_snaps: dict[str, float] = {}  # earliest-wins accumulated snapshots

    def _snapshot() -> dict[str, float]:
        snap = meter.collect()
        for k, v in snap.items():
            tt_snaps.setdefault(k, v)
        return snap

    def fresh_until_steady(prefix: str, name: str, build):
        """Execute fresh lineages until the JIT decay flattens: at least
        3 reps (the round-10/11 variance floor), then continue while each
        new rep still improves the prior best by >10% (the decay slope —
        measured ~1.6x over 4 consecutive fresh lineages), capped at
        _MAX_FRESH_REPS. The per-rep snapshot also protects the earliest
        groups from UI-store eviction. Returns the last DataFrame (the ix
        pass re-collects it for the warm serving stat)."""
        df = None
        for rep in range(1, _MAX_FRESH_REPS + 1):
            df = build()
            meter.group(f"{prefix}{rep}:{name}")
            df.collect()
            meter.clear()
            if rep < 3:
                continue
            snap = _snapshot()
            cur = snap.get(f"{prefix}{rep}:{name}")
            prior = [
                v for k in range(1, rep)
                if (v := snap.get(f"{prefix}{k}:{name}"))
            ]
            if cur is None or not prior:
                break  # meter unavailable: keep the 3-rep floor
            if cur >= min(prior) * 0.9:
                break  # improvement under 10% — steady state reached
        return df
    for name in tt_names:
        # BOTH memo layers must clear for a genuinely fresh plan: the
        # ctx plan cache AND the entry registry's DataFrame cache — a
        # memoized DataFrame re-collects with its shuffle map stages
        # SKIPPED (same RDD lineage), attributing only the final stage's
        # work to the group and inflating the speedup ratio (found in the
        # round-8 continuation: the subquery family read ~1 ms indexed).
        # Plan CONSTRUCTION runs OUTSIDE the job group: the planner's
        # one-off NDV estimation probes are serving-cache state, not
        # per-query execution cost (in-group they added seconds of
        # executor time per query); collect() then runs every stage of
        # the fresh lineage in-group.
        # SYMMETRY (round 9): the raw twins execute their fresh lineage in
        # a process already JIT-warm on that exact plan (their warm-timing
        # loop ran moments before); a single-shot indexed fresh run pays
        # cold codegen/JIT instead (measured 2-7x on q3 at sf0.1, decaying
        # to a ~320 ms steady state by the 3rd fresh execution). Measure
        # the SECOND fresh lineage on the indexed side too — both columns
        # then mean "steady-state cost of executing a brand-new plan".
        # VARIANCE (round 10): one fresh execution is 2-3x noisy at this
        # SF (GC/shuffle-timing luck on ~0.5 s measurements); round 11
        # widens to THREE fresh lineages per side (min-of-3, symmetric on
        # ix / raw / matched passes): consecutive fresh lineages of the
        # same query decay ~1.6x as the JIT warms their regenerated
        # codegen (measured 0.186 -> 0.112 s over 4 reps on
        # sql_corr_scalar), and min-of-2 sampled the decay mid-slope.
        # STEADY STATE (round 11, late): a fixed rep count still samples
        # the decay mid-slope for the slowest-warming plans (the
        # sql_corr_scalar twins read 0.94x in-harness vs 1.44x in a
        # clean-process decomposition) — reps now continue PER QUERY
        # while each new fresh lineage improves the prior best by >10%,
        # capped at _MAX_FRESH_REPS, symmetric on all three sides.
        ctx._plan_cache.clear()
        entry_mod._DF_CACHE.clear()
        qs[name](spark, sf_dir).collect()  # fresh warm-up lineage

        def _build_ix(name=name):
            ctx._plan_cache.clear()
            entry_mod._DF_CACHE.clear()
            return qs[name](spark, sf_dir)

        df = fresh_until_steady("ix", name, _build_ix)
        # warm serving cost: re-collect the SAME lineage — the plan cache
        # returns this DataFrame for repeated identical queries, and Spark
        # skips its materialized shuffle map stages, so only final stages
        # re-run. This is the steady-state repeated-query cost (a real
        # serving property, like Druid's segment caches) — NOT comparable
        # to the fresh raw side.
        meter.group(f"ixw:{name}")
        df.collect()
        meter.clear()
    # snapshot after each pass: the UI store retains a bounded number of
    # jobs/stages (spark.ui.retainedJobs/Stages), and the min-of-2 reps
    # doubled the job count — a single collect() at the end loses the
    # earliest groups to eviction
    tt_ix_pass = _snapshot()
    for name, mk in raw_builders.items():
        mk().collect()  # fresh warm-up lineage (JIT parity with ix pass)
        fresh_until_steady("raw", name, mk)
    tt_raw_pass = _snapshot()
    # layout-matched raw pass (VERDICT r8 #2): the SAME builders over the
    # fact table re-written at the index's own partition granularity and
    # file count — plan quality (pruning, star elimination, decorrelation)
    # and layout (per-file/per-task fixed costs at bench SF) become
    # separable: ix vs raw = the whole engine, ix vs raw_matched = the
    # engine's plan wins at equal layout.
    frames["flat"] = matched_flat
    frames["li"] = matched_li
    for name, mk in raw_builders.items():
        mk().collect()  # one warm pass: codegen/JIT parity with raw pass
        fresh_until_steady("rawm", name, mk)

    # merge pass snapshots, earliest snapshot winning for its own groups
    # (later snapshots may have lost them to UI-store eviction); the
    # per-rep steady-state snapshots accumulated in tt_snaps are the
    # earliest of all
    _snapshot()
    tt = {**tt_raw_pass, **tt_ix_pass, **tt_snaps}

    def _min_reps(prefix: str, names) -> dict:
        return {
            n: min(
                (v for v in (tt.get(f"{prefix}{r}:{n}")
                             for r in range(1, _MAX_FRESH_REPS + 1)) if v),
                default=None,
            )
            for n in names
        }

    tasktime_indexed = _min_reps("ix", indexed_for_ratio)
    tasktime_warm = {n: tt.get(f"ixw:{n}") for n in indexed_for_ratio}
    tasktime_raw = _min_reps("raw", raw_builders)
    tasktime_raw_matched = _min_reps("rawm", raw_builders)
    # fresh-vs-fresh: both sides execute a brand-new lineage end to end.
    # METHOD CORRECTION (round-8 continuation): earlier rounds re-collected
    # the MEMOIZED indexed DataFrame here, so its shuffle map stages were
    # skipped and only final-stage work was attributed — an asymmetric
    # comparison (warm indexed vs fresh raw) that overstated flat-backed
    # ratios by orders of magnitude. Fresh task time at this tiny SF is
    # dominated by per-file fixed costs on the z-ordered many-file layout
    # (a cost that amortizes at production file sizes); scan_reduction_
    # vs_raw remains the scale-faithful signal, tasktime_warm_indexed_sec
    # the repeated-query serving cost.
    tasktime_speedup = {
        n: round(tasktime_raw[n] / tasktime_indexed[n], 2)
        for n in raw_builders
        if tasktime_raw.get(n) and tasktime_indexed.get(n)
    }
    tasktime_speedup_matched = {
        n: round(tasktime_raw_matched[n] / tasktime_indexed[n], 2)
        for n in raw_builders
        if tasktime_raw_matched.get(n) and tasktime_indexed.get(n)
    }

    calibration_end_sec = _calibration_probe()
    # normalize by the BEST of the two probes: the start probe can still
    # carry JIT/GC backlog from the index build (observed 2x at sf0.01);
    # the floor is the stable environment statistic, and round-over-round
    # environment drift moves the floor
    probes = [x for x in (calibration_sec, calibration_end_sec) if x]
    cal = min(probes) if probes else 1.0

    # media-pair decomposition (VERDICT r11 #9, additions-only): the three
    # 778k-row pair ops collect large outputs, conflating compute with
    # driver Arrow-collect cost. Time the same warm plan at BOTH sinks so
    # the split is visible round-over-round. Measured LAST — after the end
    # calibration probe — so every pre-existing number above is untouched;
    # reported only in bench_detail, never in the headline metric or the
    # stdout `queries` map.
    media_pairs: dict = {}
    for mname in ("image_dhash_pairs", "video_dhash_pairs", "audio_fp_pairs"):
        if mname not in qs:
            continue
        try:
            t = time.perf_counter()
            qs[mname](spark, sf_dir).collect()  # cold: compile + decode
            mcold = round(time.perf_counter() - t, 4)
            mcoll = float("inf")
            mnoop = float("inf")
            for _ in range(2):
                t = time.perf_counter()
                qs[mname](spark, sf_dir).collect()
                mcoll = min(mcoll, time.perf_counter() - t)
                t = time.perf_counter()
                (
                    qs[mname](spark, sf_dir)
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                mnoop = min(mnoop, time.perf_counter() - t)
            media_pairs[mname] = {
                "cold_sec": mcold,
                "warm_collect_sec": round(mcoll, 4),
                "warm_noop_sec": round(mnoop, 4),
                "collect_overhead_sec": round(mcoll - mnoop, 4),
            }
        except Exception as ex:  # noqa: BLE001 — extra block never fails the bench
            media_pairs[mname] = {"error": str(ex)[:120]}

    def _norm(d: dict) -> dict:
        return {
            n: (round(v / cal, 3) if v else None) for n, v in d.items()
        }

    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "llm_ops": llm_times,
        "llm_ops_total_sec": round(sum(llm_times.values()), 4),
        # drift attribution (VERDICT r7 #4): quote the *_normalized maps
        # (time / min(start,end) same-session calibration) when comparing
        # rounds; if calibration itself moved round-over-round, the
        # environment moved, not the plans. start-vs-end bounds intra-run
        # drift (start can carry index-build JIT/GC backlog).
        "calibration_sec": calibration_sec,
        "calibration_used_sec": round(cal, 4),
        "calibration_end_sec": calibration_end_sec,
        "queries_normalized": _norm(times),
        "llm_ops_normalized": _norm(llm_times),
        "raw_normalized": _norm(raw_times),
        "sf": sf,
        "index_build_or_load_sec": round(index_sec, 2),
        "cold": cold_times,
        "raw": raw_times,
        "speedup_vs_raw": speedups,
        "tasktime_indexed_sec": tasktime_indexed,
        "tasktime_warm_indexed_sec": tasktime_warm,
        "tasktime_raw_sec": tasktime_raw,
        "tasktime_raw_matched_sec": tasktime_raw_matched,
        "tasktime_speedup_vs_raw": tasktime_speedup,
        "tasktime_speedup_vs_raw_matched": tasktime_speedup_matched,
        "scan_rows_indexed": scan_rows_indexed,
        "scan_rows_raw": scan_rows_raw,
        "media_pairs": media_pairs,
        "scan_reduction_vs_raw": {
            n: round(scan_rows_raw[n] / scan_rows_indexed[n], 1)
            for n in scan_rows_raw
            if scan_rows_raw.get(n) and scan_rows_indexed.get(n)
        },
        "sql_subquery_sec": indexed_for_ratio["sql_subquery"],
        "sql_in_subquery_sec": indexed_for_ratio["sql_in_subquery"],
        "sql_scalar_subquery_sec": indexed_for_ratio["sql_scalar_subquery"],
        "note": (
            "wall-clock at this SF sits on the local-mode per-stage "
            "scheduling floor (~25-40ms/stage) on BOTH sides, compressing "
            "speedup_vs_raw toward 1; the floor-free signals are "
            "tasktime_speedup_vs_raw (summed executor task time, no "
            "scheduling floor, both sides measuring the second fresh-"
            "lineage execution) and scan_reduction_vs_raw (rows read); "
            "tasktime_speedup_vs_raw_matched re-runs the same twins over "
            "a fact table laid out at the index's own granularity/file "
            "count, separating plan quality from layout; 'cold' holds "
            "first-query latency incl. Catalyst compile"
        ),
        # legacy keys (round-1 BENCH continuity)
        "raw_q1_sec": raw_times["q1"],
        "raw_ship_date_range_sec": raw_times["ship_date_range"],
        "q1_speedup_vs_raw": speedups.get("q1"),
        "ship_date_range_speedup_vs_raw": speedups.get("ship_date_range"),
    }

    # full detail: first stdout line + a repo-root file. The driver captures a
    # bounded tail of stdout (r2's single long line got truncated to
    # parsed:null), so the LAST line is a compact summary guaranteed to fit.
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "bench_detail.json"), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    print(json.dumps(detail))
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "calibration_sec": round(cal, 4),
        "sf": sf,
        "tasktime_speedup_vs_raw": tasktime_speedup,
        "tasktime_speedup_vs_raw_matched": tasktime_speedup_matched,
        "scan_reduction_vs_raw": detail["scan_reduction_vs_raw"],
        "llm_ops_total_sec": detail["llm_ops_total_sec"],
        "index_build_or_load_sec": detail["index_build_or_load_sec"],
        "detail": "bench_detail.json + first stdout line",
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
