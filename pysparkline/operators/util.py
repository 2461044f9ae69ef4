"""Shared operator utilities."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _packed_width(df: DataFrame, files: list[str]) -> int:
    """Estimate how many scan partitions Spark will pack ``files`` into.

    File COUNT alone overestimates width for many-small-file layouts: the
    reader bin-packs files into splits of up to maxPartitionBytes (charging
    openCostInBytes per file), so 500 tiny files can become 2 scan
    partitions — exactly the narrow shape a CPU-bound stage must not run on.
    Local paths are stat-ed (metadata only, no Spark job); any path we can't
    stat falls back to file count for the rest.
    """
    conf = df.sparkSession.conf

    def _bytes(key: str, default: int) -> int:
        v = str(conf.get(key, str(default))).lower().strip()
        # Spark accepts both one-letter (128m) and two-letter (128mb)
        # suffixes — check the two-letter forms FIRST or '512mb' strips only
        # 'b' and falls back to the default silently
        units = {
            "kb": 10, "mb": 20, "gb": 30, "tb": 40,
            "k": 10, "m": 20, "g": 30, "t": 40, "b": 0,
        }
        for suf, shift in units.items():
            if v.endswith(suf):
                try:
                    return int(float(v[: -len(suf)])) << shift
                except ValueError:
                    return default
        try:
            return int(v)
        except ValueError:
            return default

    max_part = _bytes("spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _bytes("spark.sql.files.openCostInBytes", 4 << 20)
    total_cost = 0
    unstat = 0
    for f in files:
        p = f[5:] if f.startswith("file:") else f
        try:
            total_cost += os.stat(p).st_size + open_cost
        except OSError:
            unstat += 1
    packed = -(-total_cost // max_part) if total_cost else 0
    return int(packed) + unstat


def ensure_parallelism(df: DataFrame, width: int | None = None) -> DataFrame:
    """Spread a narrow input across the fleet before a CPU-bound Python/Arrow
    stage (decode, hashing, matmul): a corpus read from one or two parquet
    files — or from hundreds of tiny files the scan bin-packs into two
    splits — would otherwise run the stage on one or two cores. No-op when
    the input is already at least as wide as the default parallelism — wide
    production inputs never pay the shuffle.

    Width probe: the caller's hint, else the scan-partition estimate from
    the source file listing + sizes (pure metadata calls). Never
    ``df.rdd.getNumPartitions()``, which forces a full physical-planning
    pass per invocation just to read a number. Non-file sources (in-memory
    test frames) report no files and repartition — the safe direction for
    the narrow inputs they are."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if width is None:
        try:
            files = df.inputFiles()
            width = _packed_width(df, files) if files else 0
        except Exception:
            width = 0
    if width >= par:
        return df
    return df.repartition(par)


def pinned_shuffle(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition on ``cols`` at the session's configured shuffle
    width, with the partition count PINNED (user-specified N is exempt from
    AQE coalescing).

    AQE sizes post-shuffle partitions by BYTES; LSH band rows and candidate
    id pairs are byte-tiny (tens of bytes/row) yet feed CPU-dense work —
    the band self-join, candidate dedup, per-pair signature comparison and
    exact verify — so byte-based coalescing serializes those stages onto
    1-2 cores of the fleet (measured live at bench SF: the whole
    join+dedup+est chain ran as ONE 0.8 s task). Placed on the exact keys
    the downstream Window/aggregate requires, the pinned exchange REPLACES
    the ENSURE_REQUIREMENTS exchange rather than adding one. Width follows
    ``spark.sql.shuffle.partitions`` — the knob deployments already size
    to the fleet — so the choice is scale-adaptive, not a local constant.

    Spark's own rules keep the pin from adding a second exchange:
    ``CollapseRepartition`` merges it into a repartition directly below
    it, and ``EnsureRequirements`` drops it when its child is already
    hash-partitioned on the same expressions (matched by expression id,
    through projections) at the same width. That includes the output of a
    sort-merge join on the same keys, whose own exchanges AQE may then
    coalesce; a pin on other keys survives into the final adaptive plan.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(n, *cols)
