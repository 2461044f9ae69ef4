"""Second OLAP index fixture: the events stream table as a single-table star.

Exists to prove the engine is schema-agnostic — nothing in metadata/index/
planner/lowering knows about TPC-H; this wires the same machinery over a
completely different fact table (event stream, no dimension tree, second
granularity). The reference supported N datasources the same way
(one DruidRelation per registration, DefaultSource.scala:32-194).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .index import CubeSpec, HistSpec, IndexConfig, MetricSpec, OlapIndex, ThetaSpec
from .metadata import StarSchema
from .tpch import DEFAULT_CACHE_ROOT, read_events


def events_star() -> StarSchema:
    return StarSchema("events", relations=())


def events_index_config() -> IndexConfig:
    return IndexConfig(
        time_col="ts",
        metrics=[
            MetricSpec("value", "CAST(value AS DECIMAL(18,6))", "sum"),
            MetricSpec("value", "value", "min"),
            MetricSpec("value", "value", "max"),
        ],
        hll_cols=["user_id"],
        cubes=[
            CubeSpec("types", ("event_type",), "day"),
            # dimension-free hour-grain cube: serves hourly dashboards (and
            # any epoch-aligned duration that's a multiple of an hour) from
            # ~24 rows/day instead of the raw event stream
            CubeSpec("hourly", (), "hour"),
        ],
        partition_granularity="month",
        # mergeable histogram over the value column: quantile queries ride
        # the cube (HistQuantileAgg), bit-identical to row-grain evaluation
        hist_specs=[HistSpec("value", 0.0, 512.0, 64)],
        # mergeable theta sketch (Spark's DataSketches theta, BinaryType)
        # over user_id: distinct users AND set-op cardinalities (retention =
        # day-over-day intersection) ride the cube; exact while per-group
        # NDV <= k
        theta_specs=[ThetaSpec("user_id", k=4096)],
    )


def build_or_load_events_index(
    spark: SparkSession, sf_dir: str, cache_root: str | None = None
) -> OlapIndex:
    from .index import cached_build_or_load

    return cached_build_or_load(
        spark,
        sf_dir,
        cache_root or DEFAULT_CACHE_ROOT,
        "events",
        events_index_config(),
        lambda: read_events(spark, sf_dir),
        star=events_star(),
        extra_key={"fixture": "events"},
    )
