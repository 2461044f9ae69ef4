"""Structured-Streaming ingestion into the OLAP index.

The reference had NO streaming path of its own — Druid ingested streams
out-of-band and the Spark extension only queried the result (SURVEY.md §1.1:
"nothing in src/main touches streaming APIs"). This module is the
beyond-reference extension (SURVEY.md §7 step 11): keep the index fresh from a
stream without rebuilding it.

Why incremental append is *correct*: every cube column is a merge-form partial
(``__count``, ``sum_x``, ``min_x``, ``max_x``, HLL sketch buffers), and the
lowering always re-merges at query time (sum over sums, min over mins,
``hll_union_agg`` over sketches — lowering.py:304-353). The cube is therefore
a commutative monoid keyed by (bucket, dims): appending one partial row per
micro-batch group needs no read-modify-write, no dedup, and no compaction for
correctness. Compaction (re-grouping appended partials) is purely a
performance knob, exposed as :meth:`StreamingIngest.compact`.

Scale notes (100 TB / 1000 executors):
- flat appends are partitioned by the ``__tpart`` time bucket, so a micro-batch
  touches only the partitions its event times fall in; queries keep pruning.
- cube appends are tiny (|dims| x buckets-per-batch rows) and never shuffle
  more than one groupBy per batch.
- plain Parquet append is not atomic across files; on a production cluster
  swap the sink for Delta/Iceberg by changing ``_append`` only.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from ..index import (
    BUCKET_COL, COUNT_COL, MONTH_COL, OlapIndex, _bucket_expr, _file_key,
)
from ..metadata import StarSchema


def stream_flatten(
    stream_fact: DataFrame,
    static_tables: dict[str, DataFrame],
    star: StarSchema,
) -> DataFrame:
    """Stream-static star flattening: the streaming fact inner-joins each
    (static, broadcast) dimension — Spark supports stream-static equi-joins
    without watermarks, and broadcasting keeps the stream side shuffle-free."""
    df = stream_fact
    for rel in star.join_order():
        right = F.broadcast(static_tables[rel.right_table])
        cond = None
        for c in rel.conditions:
            p = F.col(c.left_col) == F.col(c.right_col)
            cond = p if cond is None else (cond & p)
        df = df.join(right, cond, "inner")
    return df


def windowed_rollup(
    stream_df: DataFrame,
    time_col: str,
    dims: list[str],
    agg_cols: list,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed aggregation with late-data bound — the streaming
    analog of a cube at ``window`` granularity. Returns a streaming DataFrame
    (append/update sink-ready)."""
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("window"), *dims)
        .agg(*agg_cols)
    )


def streaming_dedup_exact(
    stream_df: DataFrame,
    key_cols: list[str],
    time_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: emit the first arrival of each key,
    dropping duplicates that arrive within the watermark horizon — the
    streaming analog of ``operators.dedup.exact_dedup`` for at-least-once
    sources (replayed Kafka offsets, retried file drops).

    ``dropDuplicatesWithinWatermark`` bounds the dedup state by event time:
    keys whose last sighting fell behind the watermark are evicted, so state
    is O(keys-per-horizon), not O(all keys ever) — the property that lets
    the job run forever at ingest scale. The trade is explicit: a duplicate
    arriving later than ``watermark`` after the original is emitted again;
    exact global dedup over unbounded lateness needs unbounded state and
    belongs to the batch operator.
    """
    return stream_df.withWatermark(
        time_col, watermark
    ).dropDuplicatesWithinWatermark(key_cols)


def streaming_incremental_dedup(
    store,
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    verdict_path: str,
    checkpoint: str,
):
    """Dedup of a document STREAM against a persisted fingerprint store
    (``dedup.SignatureStore`` for near-duplicates, ``dedup.SubstringStore``
    for shared token runs) — the production ingest loop: each micro-batch
    dedups against the full history (and itself), appends its survivors'
    fingerprints, and writes per-batch verdicts to
    ``verdict_path/batch=<id>``.

    Exactly-once store semantics under foreachBatch's at-least-once
    replays come from the store's committed-batch protocol
    (``process_stream_batch``: replayed batch ids skip; the survivors'
    append and the stream-batch marker commit in one atomic manifest
    rewrite). Returns the started StreamingQuery.
    """
    return (
        stream_df.writeStream.foreachBatch(
            lambda bdf, bid: store.process_stream_batch(
                bdf, bid, id_col, text_col, verdict_path
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


class StreamingIngest:
    """foreachBatch writer keeping an OlapIndex fresh from a stream.

    Usage::

        ingest = StreamingIngest(index)
        q = ingest.start(flat_stream_df, checkpoint_dir)
        q.awaitTermination()
    """

    def __init__(self, index: OlapIndex):
        self.index = index
        self.batches_seen = 0
        self.rows_ingested = 0
        self._state_path = os.path.join(index.path, "_ingest_state.json")

    def _committed_batch(self) -> int:
        try:
            with open(self._state_path) as fh:
                return json.load(fh).get("lastBatchId", -1)
        except (OSError, ValueError):
            return -1

    def _commit_batch(self, batch_id: int) -> None:
        # the exactly-once marker: a torn write here would break replay
        from ..index import atomic_json_dump

        atomic_json_dump({"lastBatchId": batch_id}, self._state_path)

    # ------------------------------------------------------------------ sink
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Append one micro-batch of *flattened star rows* to the index.

        foreachBatch is at-least-once: after a crash between the append and
        the checkpoint commit, Spark replays the same batch_id. A committed
        high-water mark makes the replay a no-op (a crash strictly inside the
        append window can still duplicate — plain Parquet has no transaction;
        the Delta/Iceberg swap noted above closes that window too).
        batch_id < 0 (the batch append API) bypasses the mark."""
        if batch_id >= 0 and batch_id <= self._committed_batch():
            return
        cfg = self.index.config
        t = cfg.time_col
        batch_df = batch_df.persist()
        try:
            n = batch_df.count()
            if n == 0:
                return
            # 1. flat rows, partitioned by the time bucket the BUILD chose
            #    (manifest-recorded granularity — a month-format append into
            #    a year-partitioned layout would fork the directory scheme);
            #    partition-pruned reads keep working on the appended data
            from ..index import PARTITION_FORMATS

            flat = batch_df.withColumn(
                MONTH_COL,
                F.date_format(
                    F.col(t),
                    PARTITION_FORMATS.get(
                        cfg.partition_granularity, "yyyy-MM"
                    ),
                ),
            )
            flat.write.mode("append").partitionBy(MONTH_COL).parquet(
                os.path.join(self.index.path, "flat")
            )
            # 1b. the same rows into every narrow projection (row grain —
            #     a projection missing appended rows would answer covered
            #     queries wrongly; appended files are unmanifested, so the
            #     pruner keeps them unconditionally until compaction)
            from ..index import projection_columns

            for p in cfg.projections:
                pdf = flat.select(MONTH_COL, *projection_columns(cfg, p))
                pw = pdf.write.mode("append")
                pinfo = (self.index.manifest.get("projections") or {}).get(
                    p.name
                ) or {}
                if pinfo.get("partitioned", True):
                    pw = pw.partitionBy(MONTH_COL)
                # else: the build's byte floor collapsed this projection's
                # partition dirs — append into the flat root with MONTH_COL
                # stored as an ordinary column, matching the base layout
                pw.parquet(os.path.join(self.index.path, f"proj_{p.name}"))
            # 2. one merge-form partial row per cube group for this batch
            for cube in cfg.cubes:
                partial = OlapIndex._build_cube(batch_df, cfg, cube)
                partial.write.mode("append").parquet(
                    os.path.join(self.index.path, f"cube_{cube.name}")
                )
            self.batches_seen += 1
            self.rows_ingested += n
            self._update_manifest(batch_df, n)
            if batch_id >= 0:
                self._commit_batch(batch_id)
            # memoized relations hold a stale file listing after append
            self.index.invalidate()
        finally:
            batch_df.unpersist()

    def _update_manifest(self, batch_df: DataFrame, n: int) -> None:
        t = self.index.config.time_col
        lo, hi = batch_df.agg(F.min(t), F.max(t)).collect()[0]
        m = self.index.manifest
        m["flat"]["rowCount"] += n

        def absent(v) -> bool:  # empty initial build stores str(None)
            return v in (None, "None", "")

        if lo is not None:
            cur = m["flat"].get("timeMin")
            if absent(cur) or str(lo) < cur:
                m["flat"]["timeMin"] = str(lo)
        if hi is not None:
            cur = m["flat"].get("timeMax")
            if absent(cur) or str(hi) > cur:
                m["flat"]["timeMax"] = str(hi)
        from ..index import atomic_json_dump

        atomic_json_dump(
            m, os.path.join(self.index.path, "manifest.json"),
            indent=1, default=str,
        )

    def start(
        self,
        flat_stream: DataFrame,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ):
        """Start the streaming query. ``trigger`` defaults to availableNow
        (drain everything queued, then stop) — pass e.g.
        ``{"processingTime": "30 seconds"}`` for continuous ingestion."""
        writer = flat_stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        writer = writer.trigger(**(trigger or {"availableNow": True}))
        return writer.start()

    # ----------------------------------------------------------- maintenance
    def compact(self, cube_name: str) -> None:
        """Re-merge appended partials so each (bucket, dims) group is one row
        again. Pure performance maintenance — queries are correct without it.

        Concurrency contract: run in a maintenance window. A batch appended
        between the initial read and the final overwrite would be lost, and
        a reader racing the overwrite can observe a partially-replaced
        directory — plain Parquet directories are not transactional (swap
        ``_append``/this rewrite for Delta/Iceberg commits to lift both
        restrictions). The temp-dir staging only bounds the inconsistency
        window; it does not eliminate it."""
        from ..index import METRIC_MERGE_FNS

        spark = self.index.spark
        cfg = self.index.config
        info = self.index.manifest["cubes"][cube_name]
        cube = cfg.cube_by_name(cube_name)
        path = os.path.join(self.index.path, f"cube_{cube_name}")
        df = spark.read.parquet(path)
        keys = [BUCKET_COL, *info["dims"]]
        aggs = [F.sum(COUNT_COL).alias(COUNT_COL)]
        for m in cfg.cube_metrics(cube):
            # count partials merge by SUMMING (METRIC_MERGE_FNS doc)
            fn = METRIC_MERGE_FNS[m.agg]
            aggs.append(fn(F.col(m.col_name)).alias(m.col_name))
        for c in cfg.cube_hll_cols(cube):
            aggs.append(F.hll_union_agg(F.col(f"hll_{c}")).alias(f"hll_{c}"))
        for h in cfg.cube_hist_specs(cube):
            # histogram partials merge by element-wise sum (same as querying)
            aggs.append(
                F.array(
                    *[
                        F.sum(F.element_at(F.col(h.col_name), i + 1))
                        for i in range(h.nbins)
                    ]
                ).alias(h.col_name)
            )
        for t in cfg.cube_theta_specs(cube):
            # theta partials merge by theta_union_agg, the same merge the
            # query path runs
            aggs.append(t.merge_agg().alias(t.col_name))
        merged = df.groupBy(*keys).agg(*aggs)
        topks = cfg.cube_topk_specs(cube)
        if topks:
            # top-k maps re-merge by value-sum + re-rank; the merged bound
            # absorbs the partials' bounds plus any truncation (the query
            # path needs NO merge — explode+sum is additive across
            # partials — so this is schema maintenance, like the rest)
            merged = OlapIndex._merge_topk_partials(
                df, cfg, keys, merged, topk_specs=topks
            )
        # re-aggregation widens decimal types (sum(DECIMAL(22,2)) =>
        # DECIMAL(32,2)); cast back so compacted files share a schema with
        # future appended partials — and keep the original column ORDER so
        # compacted files and future appended partials stay byte-compatible
        orig = {f.name: f.dataType for f in df.schema.fields}
        merged = merged.select(
            *[F.col(c).cast(orig[c]).alias(c) for c in df.columns]
        )
        tmp = path + "__compact"
        merged.write.mode("overwrite").parquet(tmp)
        final = spark.read.parquet(tmp)
        rows = final.count()
        # compaction restores the BUILD's cube layout discipline (clustered,
        # byte-floored, bloom-filtered) and refreshes the per-cube file
        # manifest — appended partials land unclustered/unmanifested (kept
        # unconditionally by the pruner), so without this an always-
        # appending cube degrades toward full scans, same as compact_flat
        OlapIndex._write_cube_clustered(
            spark, final, cfg, cube, path, self.index.path, rows,
            # the manifest's on-disk stamp seeds the byte floor — no probe
            # write per compaction
            bpr_hint=info["bytesPerRow"],
        )
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        info["rowCount"] = rows
        from ..index import dir_column_bytes_per_row, dir_parquet_bytes

        info["bytesPerRow"] = round(dir_parquet_bytes(path) / max(rows, 1), 4)
        info["columnBytesPerRow"] = dir_column_bytes_per_row(path, rows)
        info["fileManifest"] = OlapIndex._build_cube_file_manifest(
            spark, path, self.index.path, cfg, cube
        )
        from ..index import atomic_json_dump

        atomic_json_dump(
            self.index.manifest,
            os.path.join(self.index.path, "manifest.json"),
            indent=1, default=str,
        )
        self.index.invalidate()  # memoized relation holds the old file list


    def compact_flat(self, months: list[str] | None = None) -> int:
        """Re-cluster appended flat files into the indexed layout and refresh
        their file-manifest rows — the Druid compaction-task analog for the
        FLAT table. Returns the number of month partitions rewritten.

        Appends land partition-correct but un-clustered, and the pruner keeps
        manifest-unknown files unconditionally (correct, never fast): over
        time an always-appending index degrades toward full-partition scans.
        This rewrites each affected month with the SAME clustering the build
        used (z-order buckets or lexicographic sort), swaps the directory,
        and replaces that month's rows in the file manifest — pruning
        selectivity is restored without touching any other partition.

        Scale/concurrency contract mirrors :meth:`compact`: per-month work
        (never a full-table rewrite), run it in a maintenance window — plain
        Parquet directory swaps are not transactional (Delta/Iceberg lifts
        that). Z-codes are computed from the month's own value ranges, which
        may differ from the build's global ranges; pruning reads per-file
        stats, not codes, so this only affects locality, never correctness.
        """
        import shutil

        from ..index import cluster_for_layout, manifest_stat_aggs

        idx, cfg, spark = self.index, self.index.config, self.index.spark
        flat_root = os.path.join(idx.path, "flat")
        fm_info = idx.manifest["fileManifest"]
        if months is None:
            known = idx.scan_files("flat").manifested
            months = []
            for d in sorted(os.listdir(flat_root)):
                if not d.startswith(f"{MONTH_COL}="):
                    continue
                mdir = os.path.join(flat_root, d)
                files = [
                    os.path.join(mdir, f)
                    for f in os.listdir(mdir)
                    if f.endswith(".parquet")
                ]
                if any(_file_key(f) not in known for f in files):
                    months.append(d.split("=", 1)[1])
        if not months:
            return 0

        from ..index import effective_files_per_partition

        for m in months:
            mdir = os.path.join(flat_root, f"{MONTH_COL}={m}")
            # byte floor applied EXACTLY here (no probe needed): the month's
            # compressed bytes are on disk — compaction merges accumulated
            # small batch files up to the configured count only when the
            # month actually holds enough bytes for them
            month_bytes = sum(
                os.path.getsize(os.path.join(mdir, f))
                for f in os.listdir(mdir)
                if f.endswith(".parquet")
            )
            n_files = effective_files_per_partition(cfg, month_bytes)
            df = spark.read.parquet(mdir)
            out = cluster_for_layout(
                df, cfg, n_files, files_per_partition=n_files
            )
            tmp = os.path.join(idx.path, f"_compact_flat__{m}")
            out.write.mode("overwrite").option(
                "maxRecordsPerFile", 5_000_000
            ).parquet(tmp)
            old = mdir + "__old"
            os.rename(mdir, old)
            os.rename(tmp, mdir)
            shutil.rmtree(old, ignore_errors=True)

        # refresh manifest rows for ONLY the rewritten months
        mm_cols = fm_info["statsCols"]
        set_cols = fm_info["setCols"]
        month_dirs = [
            os.path.join(flat_root, f"{MONTH_COL}={m}") for m in months
        ]
        fresh = (
            spark.read.parquet(*month_dirs)
            .groupBy(F.col("_metadata.file_path").alias("file"))
            .agg(*manifest_stat_aggs(mm_cols, set_cols))
        )
        fm_path = os.path.join(idx.path, fm_info["path"])
        # rewritten months' rows matched by their index-relative directory,
        # not the build-time root (the index may have moved since)
        stale = F.lit(False)
        for m in months:
            stale = stale | F.col("file").contains(f"/flat/{MONTH_COL}={m}/")
        kept = spark.read.parquet(fm_path).where(~stale)
        merged = kept.unionByName(fresh, allowMissingColumns=True)
        tmp_fm = fm_path + "__compact"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp_fm)
        spark.read.parquet(tmp_fm).coalesce(1).write.mode("overwrite").parquet(
            fm_path
        )
        shutil.rmtree(tmp_fm, ignore_errors=True)
        self.index.invalidate()
        return len(months)

    def _rebuild_projection_manifest(self, p, info: dict, root: str) -> None:
        """Projection manifests are tiny (files x columns): rebuild whole
        rather than merge per-partition rows."""
        from ..index import OlapIndex as _OI
        from ..index import projection_columns

        idx, cfg, spark = self.index, self.index.config, self.index.spark
        st = {
            f"ndv__{c}": idx.ndv(c)
            for c in projection_columns(cfg, p)
        }
        info["fileManifest"] = _OI._build_file_manifest(
            spark, root, idx.path, cfg, None, st,
            rel_name=f"{info['path']}_manifest",
        )

    def _compact_projection_flat_root(
        self, p, info: dict, root: str, known: set
    ) -> bool:
        """Full re-sort of an UNPARTITIONED (byte-floor-collapsed)
        projection when it holds manifest-unknown appended files. Bounded:
        the layout only exists when the whole projection is around one
        target file of parquet. Returns True when a rewrite happened."""
        import shutil

        idx, cfg, spark = self.index, self.index.config, self.index.spark
        files = [
            os.path.join(root, f)
            for f in os.listdir(root)
            if f.endswith(".parquet")
        ]
        if all(_file_key(f) in known for f in files):
            return False
        from ..index import parquet_write_options

        total = sum(os.path.getsize(f) for f in files)
        n_files = (
            max(1, int(round(total / cfg.target_file_bytes)))
            if cfg.target_file_bytes > 0
            else 1
        )
        df = spark.read.parquet(root)
        keys = list(p.sort_cols) or [cfg.time_col]
        out = df.repartitionByRange(n_files, *keys).sortWithinPartitions(
            *keys
        )
        tmp = os.path.join(idx.path, f"_compact_proj__{p.name}")
        (
            out.write.mode("overwrite")
            .option("maxRecordsPerFile", 5_000_000)
            .options(**parquet_write_options(cfg))
            .parquet(tmp)
        )
        old = root + "__old"
        os.rename(root, old)
        os.rename(tmp, root)
        shutil.rmtree(old, ignore_errors=True)
        return True

    def compact_projections(self, names: list[str] | None = None) -> int:
        """Re-sort appended projection files into the indexed layout and
        rebuild their file manifests — the projection twin of
        :meth:`compact_flat`. Appends land partition-correct but unsorted
        and UNMANIFESTED (the pruner keeps unknown files unconditionally:
        correct, never fast), so an always-appending projection degrades
        toward full scans until this runs. Returns the number of
        (projection, partition) pairs rewritten. Same maintenance-window
        contract as every compaction here (plain parquet directory swaps
        are not transactional)."""
        import shutil

        from ..index import OlapIndex as _OI
        from ..index import effective_files_per_partition, projection_columns

        idx, cfg, spark = self.index, self.index.config, self.index.spark
        rewritten = 0
        for p in cfg.projections:
            if names is not None and p.name not in names:
                continue
            info = idx.manifest["projections"][p.name]
            root = os.path.join(idx.path, info["path"])
            known = idx.scan_files("projection", p.name).manifested
            if not info.get("partitioned", True):
                # byte-floor-collapsed layout (no time dirs): the whole
                # projection is smaller than ~one target file by
                # construction, so "compaction" is a bounded full re-sort —
                # the same work one partition costs in the partitioned case
                if self._compact_projection_flat_root(p, info, root, known):
                    rewritten += 1
                else:
                    continue
                self._rebuild_projection_manifest(p, info, root)
                continue
            parts = []
            for d in sorted(os.listdir(root)):
                if not d.startswith(f"{MONTH_COL}="):
                    continue
                pdir = os.path.join(root, d)
                files = [
                    os.path.join(pdir, f)
                    for f in os.listdir(pdir)
                    if f.endswith(".parquet")
                ]
                if any(_file_key(f) not in known for f in files):
                    parts.append(d.split("=", 1)[1])
            if not parts:
                continue
            from ..index import parquet_write_options

            for m in parts:
                pdir = os.path.join(root, f"{MONTH_COL}={m}")
                part_bytes = sum(
                    os.path.getsize(os.path.join(pdir, f))
                    for f in os.listdir(pdir)
                    if f.endswith(".parquet")
                )
                n_files = effective_files_per_partition(cfg, part_bytes)
                df = spark.read.parquet(pdir)
                out = df
                if p.sort_cols:
                    out = df.repartitionByRange(
                        n_files, *p.sort_cols
                    ).sortWithinPartitions(*p.sort_cols)
                tmp = os.path.join(idx.path, f"_compact_proj__{p.name}_{m}")
                (
                    out.write.mode("overwrite")
                    .option("maxRecordsPerFile", 5_000_000)
                    .options(**parquet_write_options(cfg))
                    .parquet(tmp)
                )
                old = pdir + "__old"
                os.rename(pdir, old)
                os.rename(tmp, pdir)
                shutil.rmtree(old, ignore_errors=True)
                rewritten += 1
            self._rebuild_projection_manifest(p, info, root)
        if rewritten:
            from ..index import atomic_json_dump

            atomic_json_dump(
                idx.manifest, os.path.join(idx.path, "manifest.json"),
                indent=1, default=str,
            )
            self.index.invalidate()
        return rewritten
