"""Continuous small-file compaction (streaming collector+flusher).

Reference parity (file:line into /root/reference):

- O11 rotation event -> flush      core/flusher.py:48-67 (watchdog
      observer; misses pre-existing files and events while down)
      -> checkpointed streaming FILE SOURCE: every file is listed
         exactly once, including files that existed before start and
         files that arrived during downtime. Strict upgrade (§3.4).
- O8  time-based rotation          core/file_handler.py:58-59 (emit-
      time check only; idle collector never rotates)
      -> ``Trigger(processingTime=...)`` — a real timer; or
         ``Trigger.AvailableNow`` for catch-up-then-stop batch runs.
- O18 source batching              utils/file/processor.py:109-111
      -> ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` (real
         backpressure, not sleep() throttling).
- O12 empty-batch skip             core/flusher.py:37-42
      -> empty micro-batches write nothing and append no audit row.

Scale stance: each micro-batch is the same read→write job the batch
compactor runs: a ``repartition`` to the batch's bundle count (below
2048 bundles, a shuffle of the batch's own bytes), then
``maxRecordsPerFile`` rolls bundles inside tasks. State is only the
source's file-listing checkpoint — at 100 TB/day the knob that matters
is maxBytesPerTrigger (bound the per-batch working set, and with it
the shuffle) and a dest layout partitioned by arrival time so
audit/bundle listing never scans history.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from lakeflush_spark.io import commit_parquet
from lakeflush_spark.operators.compaction import partition_columns

#: one row per non-empty micro-batch (``flushed_at``: UTC-adjusted
#: INT64 timestamp, read by Spark as TIMESTAMP)
_AUDIT_SCHEMA = pa.schema(
    [
        pa.field(name, dtype, nullable=False)
        for name, dtype in (
            ("run_id", pa.string()),
            ("batch_id", pa.int64()),
            ("records", pa.int64()),
            ("bytes", pa.int64()),
            ("flushed_at", pa.timestamp("us", tz="UTC")),
        )
    ]
)


@dataclass
class StreamCompactionConfig:
    source_dir: str
    dest_dir: str
    checkpoint_dir: str
    max_size_mb: float = 16.0
    compress: bool = False
    date_partition_format: str | None = None
    max_files_per_trigger: int | None = None
    max_bytes_per_trigger: str | None = None
    glob: str | None = None
    #: exactly-once bundle delivery under batch replay: bundles land in
    #: a ``batch=<id>`` partition written with DYNAMIC partition
    #: overwrite, so a micro-batch replayed after a crash (foreachBatch
    #: is otherwise at-least-once) REPLACES its own output instead of
    #: appending duplicates. The reference's restart semantics
    #: re-collect and duplicate data (SURVEY §3.4); plain append mode
    #: reproduces that, this flag upgrades it. Caveat: combined with
    #: ``date_partition_format``, a replay that crosses a
    #: processing-time partition boundary lands in the new date dir
    #: (the overwrite is scoped to the partition actually written) —
    #: inherent to processing-time partitioning, not to the batch scheme.
    exactly_once: bool = False


def _validate_dest_layout(cfg: StreamCompactionConfig) -> None:
    """Fail fast when ``exactly_once`` disagrees with an existing dest.

    The two modes write incompatible layouts (``batch=N``-partitioned
    vs flat appended bundles; ``batch_id=``-partitioned vs flat audit
    parquet) — mixing them in one directory breaks partition discovery
    for every reader of that directory, so the mode must be chosen at
    stream creation and kept for the directory's lifetime. Local paths
    only (object-store layouts are validated by their first read).
    """
    root = cfg.dest_dir
    if "://" in root or not os.path.isdir(root):
        return
    audit = os.path.abspath(os.path.join(root, "_lakeflush_audit_stream"))
    batch_dirs = loose_files = False
    for dirpath, dirnames, filenames in os.walk(root):
        if os.path.abspath(dirpath) == audit:
            if any(d.startswith("batch_id=") for d in dirnames):
                batch_dirs = True
            elif any(f.endswith(".parquet") for f in filenames):
                loose_files = True
            dirnames[:] = []
            continue
        if any(d.startswith("batch=") for d in dirnames):
            batch_dirs = True
            dirnames[:] = [d for d in dirnames if not d.startswith("batch=")]
        # only files the text writer actually produces count as
        # append-mode bundles (part-*.txt[.gz]); a stray README or
        # notes file in the dest must not fail exactly-once startup
        if any(
            f.startswith("part-") and (f.endswith(".txt") or f.endswith(".txt.gz"))
            for f in filenames
        ):
            loose_files = True
    if cfg.exactly_once and loose_files:
        raise ValueError(
            f"exactly_once=True but {root!r} already holds unpartitioned "
            "part-*.txt bundles from an append-mode stream; use a fresh "
            "dest_dir (the modes' layouts cannot share a directory)"
        )
    if not cfg.exactly_once and batch_dirs:
        raise ValueError(
            f"exactly_once=False but {root!r} already holds batch=N "
            "partitions from an exactly-once stream; use a fresh "
            "dest_dir (the modes' layouts cannot share a directory)"
        )


def _bundle_writer(cfg: StreamCompactionConfig):
    """foreachBatch callback: size-targeted bundle write + audit row.

    Spark runs two actions per non-empty micro-batch: an aggregate
    that counts the batch's records and decompressed bytes to size the
    bundles (the listed file lengths would under-size bundles from gzip
    sources), then the bundle write. The audit row is one parquet file
    written from the driver (``io.commit_parquet``, no Spark job); in
    exactly-once mode it lands in ``batch_id=N/``, which a replay of
    batch N replaces.
    """
    target_bytes = int(cfg.max_size_mb * 1024 * 1024)
    part_cols = (
        partition_columns(cfg.date_partition_format) if cfg.date_partition_format else []
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        stats = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.length("value") + 1), F.lit(0)).alias("bytes"),
        ).collect()[0]
        n_records, batch_bytes = int(stats["n"]), int(stats["bytes"])
        if n_records == 0:  # O12: empty micro-batch -> no bundles, no audit
            return
        avg_rec = max(1.0, batch_bytes / n_records)
        # conservative 4x gzip ratio guess for text; compressed bundles
        # may undershoot the cap (cheaper than a per-batch sample pass)
        ratio = 4.0 if cfg.compress else 1.0
        records_per_bundle = max(1, int(target_bytes * ratio / avg_rec))

        out = batch_df
        for name, pat in part_cols:
            out = out.withColumn(name, F.date_format(F.current_timestamp(), pat))
        n_bundles = max(1, -(-n_records // records_per_bundle))
        if n_bundles < 2048:
            out = out.repartition(n_bundles)
        part_names = [name for name, _ in part_cols]
        if cfg.exactly_once:
            # batch-scoped partition + dynamic overwrite: a replay of
            # batch N rewrites ONLY batch=N — idempotent delivery.
            out = out.withColumn("batch", F.lit(int(batch_id)))
            writer = (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("maxRecordsPerFile", records_per_bundle)
            )
            part_names = part_names + ["batch"]
        else:
            writer = out.write.mode("append").option(
                "maxRecordsPerFile", records_per_bundle
            )
        if cfg.compress:
            writer = writer.option("compression", "gzip")
        if part_names:
            writer = writer.partitionBy(*part_names)
        writer.text(cfg.dest_dir)

        # audit: one row per micro-batch (queryable upgrade of the
        # reference's per-bundle sidecar files, utils/file/store.py:10-21)
        row = pa.table(
            {
                "run_id": [uuid.uuid4().hex],
                "batch_id": [int(batch_id)],
                "records": [n_records],
                "bytes": [batch_bytes],
                "flushed_at": [datetime.now(timezone.utc)],
            },
            schema=_AUDIT_SCHEMA,
        )
        audit_path = f"{cfg.dest_dir.rstrip('/')}/_lakeflush_audit_stream"
        if cfg.exactly_once:
            # batch_id is the partition directory, not a file column
            commit_parquet(
                spark,
                f"{audit_path}/batch_id={int(batch_id)}",
                row.drop_columns(["batch_id"]),
                replace=True,
            )
        else:
            commit_parquet(spark, audit_path, row)

    return write_batch


def compact_stream(
    spark: SparkSession,
    cfg: StreamCompactionConfig,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Start the streaming compactor; returns the StreamingQuery.

    ``available_now=True`` = catch-up mode (process everything listed,
    then stop) — the batch-equivalent semantics SURVEY §5 requires for
    simulated-time tests. ``processing_time`` = continuous mode, the
    reference's daemon pair (collector O8-time + flusher O11) in one
    query.
    """
    _validate_dest_layout(cfg)
    reader = spark.readStream.option("recursiveFileLookup", "true")
    if cfg.glob:
        reader = reader.option("pathGlobFilter", cfg.glob)
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
    if cfg.max_bytes_per_trigger:
        reader = reader.option("maxBytesPerTrigger", cfg.max_bytes_per_trigger)
    stream = reader.text(cfg.source_dir)

    writer = (
        stream.writeStream.foreachBatch(_bundle_writer(cfg))
        .option("checkpointLocation", cfg.checkpoint_dir)
        .queryName(f"lakeflush_compact_{uuid.uuid4().hex[:8]}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
