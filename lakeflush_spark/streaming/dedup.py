"""Incremental ingest dedup: exact- and NEAR-dedup each arriving
micro-batch against everything ingested before it.

The batch dedup operators (``operators/dedup.py``) assume the corpus
is at rest; a continuously-fed training-data lake needs dedup ON
ARRIVAL — a document seen last week must not re-enter the corpus
today. The reference has no analog (it stops at bundle delivery);
``dedup_stream`` is the streaming face of ``exact_dedup_by_hash``:

1. every micro-batch first dedups WITHIN itself (min-id winner, the
   same digest-shuffle shape as the batch operator);
2. survivors are checked against the persisted DIGEST STORE — a
   parquet table of 16-byte content digests, never document bodies;
3. genuinely-new documents append to the dest corpus and their
   digests append to the store, both under ``run=<tag>/batch=<id>``
   partitions written with DYNAMIC partition overwrite — a replayed
   micro-batch (foreachBatch is at-least-once) REPLACES its own output
   instead of duplicating it, the same exactly-once recipe as
   ``streaming/compaction.py``. The run tag scopes replay exclusion
   and overwrite to THIS stream generation, so a store can be reused
   under a fresh checkpoint without clobbering or mis-excluding an
   earlier generation's partitions (see :func:`_run_tag`).

Scale stance: the batch's digests are explicitly BROADCAST into a
semi-probe of the history scan (then the tiny hit set anti-joins the
batch) — history is only ever scanned, never shuffled and never
broadcast, and per-batch cost is one history scan + broadcast-sized
joins; document bodies never shuffle. At 100 TB of history, enable
``digest_prefix_partitions``: the store gains 256 ``_dp=xx`` digest-
prefix partitions and each batch PARTITION-PRUNES its history scan to
the prefixes it touches (a trickle batch reads ~1/256th of the
store). A Bloom-filter front remains a further upgrade the (digest,
batch) schema supports without rewriting history.

Store existence/history reads go through the Spark reader itself
(missing-store analysis errors caught), so the same code works on
local paths and on object stores (``s3a://`` etc.) where a local
``os.listdir`` probe would silently report "no history".
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession

from lakeflush_spark.io import overlap
from lakeflush_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_NUM,
    _cap_hot_buckets,
    content_digest,
    with_minhash,
)


@dataclass
class StreamDedupConfig:
    #: streaming source directory of parquet document files
    source_dir: str
    #: deduped corpus destination (parquet, batch=N partitioned)
    dest_dir: str
    #: digest store directory (parquet, batch=N partitioned)
    digest_dir: str
    checkpoint_dir: str
    id_col: str = "doc_id"
    text_col: str = "text"
    #: True = additionally partition the digest store by the first two
    #: hex chars of the digest (256 ``_dp=xx`` partitions under each
    #: (run, batch)); each micro-batch then PARTITION-PRUNES its
    #: history scan to the prefixes it actually touches. At 1e10 docs
    #: the store is ~hundreds of GB — a trickle batch touching a few
    #: prefixes reads a couple of GB instead of all of it, and a huge
    #: batch (all 256 prefixes) degrades gracefully to the full scan.
    #: Must be constant over a store's lifetime (the layout is on
    #: disk): turn it on when creating the store.
    digest_prefix_partitions: bool = False
    #: source file format: parquet (default) or the reference lake's
    #: bundle formats json/csv, or raw text (see ``open_file_stream``)
    source_format: str = "parquet"
    #: options for the source reader (schema inference AND the stream),
    #: e.g. {"header": "true"} for CSV lakes
    source_options: dict | None = None
    max_files_per_trigger: int | None = None


def _batch_digests(df: DataFrame, cfg: StreamDedupConfig) -> DataFrame:
    # the SAME key builder as exact_dedup_by_hash — a store written by
    # the stream stays digest-compatible with batch dedup and vice versa
    return df.withColumn("_digest", content_digest([cfg.text_col]))


def _run_tag(checkpoint_dir: str) -> str:
    """Stable id of one stream GENERATION, derived from the checkpoint
    location: replays of the same checkpoint share it (so a replay can
    exclude its own crashed attempt), while a NEW stream over a fresh
    checkpoint gets a different tag even against the same store.
    Without run scoping, store reuse across checkpoint generations is
    broken twice over: generation 2's batch 0 would exclude generation
    1's ``batch=0`` partition as if it were its own replay (silently
    ignoring real history), and its dynamic overwrite of ``batch=0``
    would REPLACE generation 1's rows. Stores therefore partition by
    ``(run, batch)`` and exclusion matches both.

    URI locations (``s3a://…``, and the single-slash forms Hadoop's
    ``Path.toString`` emits, e.g. ``file:/tmp/ck``) hash AS GIVEN —
    ``os.path.abspath`` would prepend the driver's cwd to them, so a
    restart from a different workdir (new container) would mint a new
    tag for the SAME checkpoint and break replay exclusion. Only
    scheme-less local paths are cwd-normalized (for those, resolving
    against cwd is what the filesystem itself does)."""
    # URI iff <scheme>:/… — the '/' after the colon is required, so a
    # colon-containing RELATIVE path ("ckpt:v2/ck", legal on Linux)
    # still normalizes through abspath instead of minting a
    # cwd-independent tag for two different directories
    p = (
        checkpoint_dir
        if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:/", checkpoint_dir)
        else os.path.abspath(checkpoint_dir)
    )
    # the 'r' prefix keeps the tag NON-NUMERIC by construction: a bare
    # 12-hex tag is all-digits for ~1 in 280 checkpoints, and once every
    # run dir of a store is all-digits, partition-column type inference
    # types `run` as BIGINT — the next lettered tag then fails the
    # replay-exclusion comparison at ANALYSIS time (CAST_INVALID_INPUT),
    # and an all-digit tag with a leading zero would round-trip to a
    # DIFFERENT partition name. _read_store additionally cast-normalizes
    # for stores written before the prefix existed.
    return "r" + hashlib.md5(p.encode()).hexdigest()[:12]


def _read_store(
    sp: SparkSession, store_dir: str, batch_id: int, run: str
) -> DataFrame | None:
    """History rows of a ``run=R/batch=N``-partitioned store, EXCLUDING
    the replaying batch's own partition (so a replay does not see its
    previous crashed attempt as history); None when the store does not
    exist yet. Existence is probed by the read itself — works on any
    Hadoop-compatible filesystem, unlike a driver-local ``os.listdir``
    which would silently report "no history" for ``s3a://`` stores and
    re-admit every previously-ingested document."""
    try:
        df = sp.read.option("basePath", store_dir).parquet(store_dir)
    except AnalysisException:
        # PATH_NOT_FOUND (no store yet) / UNABLE_TO_INFER_SCHEMA
        # (dir exists but holds no data files yet)
        return None
    # inference-proof types: on a store written before the _run_tag
    # 'r' prefix whose run dirs are ALL all-digit hex, partition-type
    # inference types `run` BIGINT — comparing it against a lettered
    # tag would fail the cast at analysis. Cast both partition columns
    # to their contract types so the exclusion (and every downstream
    # consumer) sees stable types regardless of what inference did.
    # (Known legacy corner: an all-digit tag with a LEADING ZERO loses
    # it under BIGINT inference, so its replay exclusion cannot match —
    # impossible for prefixed tags, ~1 in 2800 for pre-prefix stores.)
    df = df.withColumn("run", F.col("run").cast("string")).withColumn(
        "batch", F.col("batch").cast("bigint")
    )
    return df.where(
        ~((F.col("run") == run) & (F.col("batch") == int(batch_id)))
    )


#: streaming file-source formats beside parquet — json/csv are the
#: reference lake's own bundle formats (what `operators/compaction`
#: writes), text covers raw line lakes
_SOURCE_FORMATS = ("parquet", "json", "csv", "text")

#: target rows per written store/dest FILE (r11): micro-batch store
#: writes otherwise inherit the batch's task partitioning and emit one
#: near-empty parquet file per task per (run, batch) — measured as the
#: dominant per-batch cost of the composed curation stream (~10-12 s
#: of an ~18 s batch at sf0.1 went to 5 stores × 32 tiny files ×
#: commit renames), and the classic streaming small-file sin: every
#: later history read pays the accumulated file count. Writers
#: coalesce pinned frames to ceil(nrows / this) tasks — file count
#: tracks DATA size, so a genuinely large batch still fans out.
_STORE_ROWS_PER_FILE = 65_536


def _sized(df: DataFrame, nrows: int | None) -> DataFrame:
    """Coalesce a PINNED output frame to ceil(nrows/_STORE_ROWS_PER_FILE)
    write tasks (see _STORE_ROWS_PER_FILE). Only for frames whose
    compute is already materialized (persisted/checkpointed): coalesce
    propagates upstream, so on an unpinned frame it would also shrink
    the producing computation's parallelism."""
    if nrows is None:
        return df
    return df.coalesce(max(1, -(-int(nrows) // _STORE_ROWS_PER_FILE)))


def open_file_stream(
    spark: SparkSession,
    source_dir: str,
    source_format: str = "parquet",
    schema=None,
    max_files_per_trigger: int | None = None,
    source_options: dict | None = None,
):
    """The shared streaming FILE-SOURCE builder behind every
    dedup-on-arrival stream (r9): ``readStream`` over ``source_dir``
    in ``source_format`` — parquet (default), or the reference lake's
    own bundle formats json/csv, or raw text — so the curation/dedup
    streams can consume a compacted JSON/CSV lake directly instead of
    requiring a parquet re-materialization first. Streaming file
    sources require a schema; when ``schema`` is None it is inferred
    ONCE from a static read of the files already present (a stream
    can start against a non-empty lake without a hand-written
    schema). ``source_options`` pass through to BOTH the inference
    read and the stream (e.g. ``{"header": "true"}`` for CSV lakes,
    or ``operators/compaction.JSON_TS_OPTIONS`` for timestamp
    round-trip fidelity with compacted JSON bundles)."""
    if source_format not in _SOURCE_FORMATS:
        raise ValueError(
            f"unsupported source_format {source_format!r}; expected one "
            f"of {'/'.join(_SOURCE_FORMATS)}"
        )
    opts = dict(source_options or {})
    if schema is None:
        schema = getattr(spark.read.options(**opts), source_format)(
            source_dir
        ).schema
    reader = spark.readStream.schema(schema).options(**opts)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return getattr(reader, source_format)(source_dir)


def _cfg_stream(spark: SparkSession, cfg, schema):
    """`open_file_stream` from a stream config carrying the shared
    source_* fields (every dedup-on-arrival config does)."""
    return open_file_stream(
        spark,
        cfg.source_dir,
        getattr(cfg, "source_format", "parquet"),
        schema,
        cfg.max_files_per_trigger,
        getattr(cfg, "source_options", None),
    )


def within_batch_exact(keyed: DataFrame, id_col: str) -> DataFrame:
    """Min-id winner per ``_digest`` within one micro-batch (map-side
    combinable groupBy + ids-only semi join — no body shuffle)."""
    winners = (
        keyed.groupBy("_digest").agg(F.min(id_col).alias(id_col)).select(id_col)
    )
    return keyed.join(winners, id_col, "semi")


def against_history_exact(fresh: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Drop rows whose ``_digest`` appears in the history store.

    Broadcasts the BATCH digests into a semi-probe of the history
    scan: LeftAnti can only build (broadcast) its right side, so
    ``fresh anti-join history`` would broadcast or shuffle ALL
    history. Probing history with the tiny batch set instead yields
    ``dup`` (≤ batch size), and the anti-join against THAT broadcasts
    the small side — history is scanned once, never shuffled."""
    if seen is None:
        return fresh
    dup = seen.select("_digest").join(
        F.broadcast(fresh.select("_digest")), "_digest", "semi"
    )
    return fresh.join(F.broadcast(dup), "_digest", "left_anti")


def dedup_stream(spark: SparkSession, cfg: StreamDedupConfig, schema=None):
    """Start the incremental-dedup stream (``Trigger.AvailableNow``).

    ``schema`` defaults to the schema of the parquet files already in
    ``source_dir`` (streaming parquet sources require one).
    Returns the StreamingQuery; ``awaitTermination()`` it.
    """
    stream = _cfg_stream(spark, cfg, schema)
    run = _run_tag(cfg.checkpoint_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        keyed = _batch_digests(batch_df, cfg)
        if cfg.digest_prefix_partitions:
            # the prefix collect below is an extra action over keyed —
            # pin it so the batch's bodies are digested once, not twice
            keyed = keyed.persist()
        try:
            fresh = within_batch_exact(keyed, cfg.id_col)
            seen = _read_store(sp, cfg.digest_dir, batch_id, run)
            if (
                seen is not None
                and cfg.digest_prefix_partitions
                and "_dp" in seen.columns
            ):
                # partition-prune the history scan to the prefixes this
                # batch touches (≤256 values — one tiny job over the
                # pinned batch). _dp is a partition column, so the isin
                # filter prunes directories, not just rows.
                prefixes = [
                    r._dp
                    for r in keyed.select(
                        F.substring("_digest", 1, 2).alias("_dp")
                    ).distinct().collect()
                ]
                # normalize an int-inferred _dp partition column (an
                # all-numeric prefix dir set infers as int — r9) back
                # to the documented 2-char hex string for type
                # stability; literal coercion matches either way
                if dict(seen.dtypes)["_dp"] != "string":
                    seen = seen.withColumn(
                        "_dp", F.lpad(F.col("_dp").cast("string"), 2, "0")
                    )
                seen = seen.where(F.col("_dp").isin(prefixes))
            fresh = against_history_exact(fresh, seen)
            _write_outputs(fresh, batch_id)
        finally:
            if cfg.digest_prefix_partitions:
                keyed.unpersist()

    def _write_outputs(fresh: DataFrame, batch_id: int) -> None:
        # localCheckpoint: consumed by BOTH writes, and the digest
        # write must see a snapshot computed BEFORE it starts
        # replacing files under the digest dir it was derived from.
        # Checkpoint rather than persist (r11): a persisted frame
        # keeps full logical lineage and each write re-runs
        # Catalyst/AQE over the whole batch plan (seconds of driver
        # time per write, measured on the curation stream); the
        # truncated plan writes in milliseconds. Blocks are
        # executor-resident and freed on GC; a failed batch replays
        # whole via the streaming checkpoint, so no lineage is needed
        # for recovery.
        out = (
            fresh.withColumn("run", F.lit(run))
            .withColumn("batch", F.lit(int(batch_id)))
            .localCheckpoint()
        )
        store_parts = ["run", "batch"]
        store = out.select("_digest", "run", "batch")
        if cfg.digest_prefix_partitions:
            store = store.withColumn("_dp", F.substring("_digest", 1, 2))
            store_parts = ["run", "batch", "_dp"]
        try:
            # one cached count sizes both writes (and materializes the
            # pin before the first write starts replacing files)
            n_out = out.count()
            # the dest and digest writes are independent jobs over
            # the checkpointed snapshot; a failure in either fails the
            # batch for replay
            overlap(
                lambda: (
                    _sized(out.drop("_digest"), n_out)
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("run", "batch")
                    .parquet(cfg.dest_dir)
                ),
                lambda: (
                    _sized(store, n_out)
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(*store_parts)
                    .parquet(cfg.digest_dir)
                ),
            )
        finally:
            # checkpointed blocks free on GC — drop the reference
            del out

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# Incremental NEAR-dup: LSH on arrival
# --------------------------------------------------------------------------


@dataclass
class StreamNearDupConfig:
    """Config for :func:`near_dup_stream`.

    ``threshold`` is the minimum ESTIMATED Jaccard (fraction of equal
    minhash components) for a pair to count as a near-dup. Signature
    agreement — not exact shingle Jaccard — is the verify step here
    because history stores signatures only (MINHASH_NUM bigints per
    doc), never bodies or shingle sets; an unbiased estimator whose
    error shrinks with MINHASH_NUM, the standard trade for dedup-on-
    arrival where re-reading old bodies per batch is not viable. Note
    this is a DIFFERENT verify than the batch pipeline's exact shingle
    Jaccard: with MINHASH_NUM=16 the effective threshold quantizes to
    sixteenths (0.7 ⇒ ≥ 12/16), so streamed and batch-curated survivor
    sets can differ near the threshold.
    """

    #: streaming source directory of parquet document files
    source_dir: str
    #: near-dup-free corpus destination (parquet, batch=N partitioned)
    dest_dir: str
    #: signature/band store directory (parquet, batch=N partitioned)
    sig_dir: str
    checkpoint_dir: str
    id_col: str = "doc_id"
    text_col: str = "text"
    threshold: float = 0.7
    #: cap on members per LSH bucket on the join's candidate side (see
    #: operators/dedup._cap_hot_buckets — bounds each bucket's
    #: candidate rows at the cap under boilerplate skew); None = uncapped
    max_bucket: int | None = None
    #: how to enforce the cap. Default "sample" (keep a deterministic
    #: max_bucket-row sample): with an ever-growing history store,
    #: "drop" would PERMANENTLY disable near-dup detection for any
    #: bucket whose cumulative membership once crosses the cap (every
    #: later dup in it admitted forever); sampling keeps cap
    #: representatives so detection degrades to partial recall instead
    #: of zero.
    hot_bucket_mode: str = "sample"
    #: source file format: parquet (default) or the reference lake's
    #: bundle formats json/csv, or raw text (see ``open_file_stream``)
    source_format: str = "parquet"
    #: options for the source reader (schema inference AND the stream),
    #: e.g. {"header": "true"} for CSV lakes
    source_options: dict | None = None
    max_files_per_trigger: int | None = None


def _sig_agreement(a: Column, b: Column) -> Column:
    """Fraction of equal minhash components — E[.] = Jaccard."""
    eq = F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0))
    return (
        F.aggregate(eq, F.lit(0), lambda acc, x: acc + x).cast("double")
        / F.lit(float(MINHASH_NUM))
    )


def _bands_long(keyed: DataFrame, id_col: str) -> DataFrame:
    """(doc, sig, band_idx, bh) rows from a ``with_minhash`` frame."""
    return keyed.select(
        F.col(id_col).alias("doc"),
        F.col("_sig").alias("sig"),
        F.posexplode(
            F.array(*[F.col(f"_band{b}") for b in range(MINHASH_BANDS)])
        ).alias("band_idx", "bh"),
    )


def batch_history_bands(
    new_bands: DataFrame, hist: DataFrame | None
) -> DataFrame:
    """Batch bands ∪ touched-history bands, hist-tagged — the UNCAPPED
    comparison frame :func:`near_dup_dropped_ids` caps and joins.
    Extracted (r6) so a caller that also wants cap observability can
    pin ONE frame and feed both the drop join and the stats
    aggregation, instead of re-reading and re-pruning the history
    store per consumer."""
    new_tag = new_bands.withColumn("hist", F.lit(False))
    if hist is None:
        return new_tag
    touched = new_bands.select("band_idx", "bh").distinct()
    hist_bands = (
        hist.select("doc", "sig", "band_idx", "bh")
        .join(F.broadcast(touched), ["band_idx", "bh"], "semi")
        .withColumn("hist", F.lit(True))
    )
    return new_tag.unionByName(hist_bands)


def near_dup_dropped_ids(
    new_bands: DataFrame,
    hist: DataFrame | None,
    threshold: float,
    max_bucket: int | None,
    hot_bucket_mode: str,
    id_col: str,
    all_bands: DataFrame | None = None,
) -> DataFrame:
    """Ids of batch docs that near-dup-match history or a lower-id
    batchmate (the per-batch core of :func:`near_dup_stream`).

    ``new_bands`` is the batch's ``_bands_long`` frame; ``hist`` the
    full store read (or None). History is pruned to batch-touched
    buckets by a broadcast semi-join — scanned, never shuffled; ONE
    band equi-join then covers within-batch and against-history
    pairing, verified by signature agreement. Pass a prebuilt (and
    ideally pinned) :func:`batch_history_bands` frame via
    ``all_bands`` to share the history scan with other consumers."""
    new_tag = new_bands.withColumn("hist", F.lit(False))
    if all_bands is None:
        all_bands = batch_history_bands(new_bands, hist)
    all_bands = _cap_hot_buckets(
        all_bands, ["band_idx", "bh"], max_bucket, mode=hot_bucket_mode, doc_col="doc"
    )
    n, o = F.broadcast(new_tag).alias("n"), all_bands.alias("o")
    return (
        n.join(
            o,
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.bh") == F.col("o.bh"))
            & (F.col("o.hist") | (F.col("o.doc") < F.col("n.doc"))),
        )
        .where(_sig_agreement(F.col("n.sig"), F.col("o.sig")) >= threshold)
        .select(F.col("n.doc").alias(id_col))
        .distinct()
    )


def near_dup_hot_bucket_stats(
    new_bands: DataFrame | None,
    hist: DataFrame | None,
    max_bucket: int,
    all_bands: DataFrame | None = None,
) -> DataFrame:
    """ONE-row hot-bucket counts over EXACTLY the frame
    :func:`near_dup_dropped_ids` caps (batch bands ∪ touched history
    bands) — the streaming face of ``operators.dedup.
    hot_bucket_stats`` (r6 cap observability; see that docstring).
    Pass the caller's pinned :func:`batch_history_bands` frame via
    ``all_bands`` so the stats share the drop join's history scan
    instead of re-reading the store."""
    from lakeflush_spark.operators.dedup import hot_bucket_stats

    if all_bands is None:
        if new_bands is None:
            raise ValueError(
                "near_dup_hot_bucket_stats needs either new_bands (+hist) "
                "or a prebuilt all_bands frame"
            )
        all_bands = batch_history_bands(new_bands, hist)
    return hot_bucket_stats(all_bands, ["band_idx", "bh"], max_bucket)


def list_runs(spark: SparkSession, store_dir: str) -> list[str]:
    """Distinct stream-generation tags present in a ``(run, batch)``-
    partitioned store (sorted). Empty/missing store → []."""
    df = _read_store(spark, store_dir, batch_id=-1, run="")
    if df is None:
        return []
    return sorted(r.run for r in df.select("run").distinct().collect())


def vacuum_runs(spark: SparkSession, store_dir: str, keep_runs: list[str]) -> list[str]:
    """Delete the ``run=<tag>`` partition trees of stream GENERATIONS
    not in ``keep_runs``; returns the deleted tags.

    Superseded generations (old checkpoints, abandoned experiments)
    otherwise accumulate forever in the run-scoped stores. Keep the
    tag of every generation still streaming or still being read —
    :func:`_run_tag` of its checkpoint dir, or :func:`list_runs` to
    inspect. Deletion goes through the Hadoop FileSystem API, so it
    works wherever the stream can write (local, ``s3a://``, HDFS);
    under Spark Connect (no JVM bridge) local ``file:`` stores are
    vacuumed with plain Python, and remote schemes fail fast with a
    pointer to storage-native tooling (r6 guard).

    ``keep_runs`` must be non-empty: vacuuming EVERY generation of a
    store is indistinguishable from a typo'd keep list — delete the
    store directory itself for that.
    """
    if not keep_runs:
        raise ValueError("keep_runs must name at least one generation to keep")
    keep = set(keep_runs)
    from lakeflush_spark.io import hadoop_fs, local_path

    h = hadoop_fs(spark, store_dir)
    if h is None:
        lp = local_path(store_dir)
        if lp is None:
            raise RuntimeError(
                "vacuum_runs needs the JVM Hadoop FileSystem bridge for "
                f"remote stores, and this session has none (Spark Connect); "
                f"drop the run=<tag> partitions of {store_dir} with "
                "storage-native tooling instead"
            )
        import shutil

        if not os.path.isdir(lp):
            return []
        deleted = []
        for name in os.listdir(lp):
            if name.startswith("run=") and name[len("run="):] not in keep:
                shutil.rmtree(os.path.join(lp, name))
                deleted.append(name[len("run="):])
        return sorted(deleted)
    jvm, fs, root = h
    if not fs.exists(root):
        return []
    deleted = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith("run=") and name[len("run="):] not in keep:
            fs.delete(status.getPath(), True)
            deleted.append(name[len("run="):])
    return sorted(deleted)


def compact_store(
    spark: SparkSession,
    store_dir: str,
    dest_dir: str,
    max_bucket: int,
    mode: str = "sample",
) -> None:
    """Offline compaction of a near-dup signature store: bound every
    LSH bucket at ``max_bucket`` rows and write the result to
    ``dest_dir`` (must not exist — compaction never rewrites a store
    in place while streams may be reading it; swap ``cfg.sig_dir``
    to the compacted copy between runs).

    Uses the SAME deterministic md5(doc) bucket ranking as the online
    cap (``operators/dedup._cap_hot_buckets``), so the representatives
    a compacted store keeps are exactly the ones the online sample
    mode would have consulted. The ``(run, batch)`` partition layout
    is preserved — replay exclusion in a continuing stream keeps
    working against the compacted copy.
    """
    df = spark.read.option("basePath", store_dir).parquet(store_dir)
    # stable partition-column types regardless of inference (see
    # _read_store) so the rewritten layout matches the original
    df = df.withColumn("run", F.col("run").cast("string")).withColumn(
        "batch", F.col("batch").cast("bigint")
    )
    capped = _cap_hot_buckets(
        df, ["band_idx", "bh"], max_bucket, mode=mode, doc_col="doc"
    )
    capped.write.mode("error").partitionBy("run", "batch").parquet(dest_dir)


def near_dup_stream(spark: SparkSession, cfg: StreamNearDupConfig, schema=None):
    """Start the incremental NEAR-dup stream (``Trigger.AvailableNow``).

    Each micro-batch:

    1. map-only minhash signatures + band hashes for arriving docs
       (``operators/dedup.with_minhash`` — the batch operators' exact
       signature/band math, so a store built here is directly
       comparable with batch LSH artifacts; the VERIFY step differs —
       estimated vs exact Jaccard, see :class:`StreamNearDupConfig`);
    2. the persisted band store is PRUNED to the buckets this batch
       touches (broadcast semi-join on the batch's (band, hash) keys —
       history is scanned, never shuffled);
    3. ONE equi-join covers both within-batch and against-history
       pairing: new docs left, (new ∪ pruned history) right. A new doc
       drops iff it signature-verifies against a history doc (any id)
       or a lower-id doc of its own batch — the batch pipeline's
       greedy round-0 resolution semantics. Only (id, band, 8-byte
       hash, 16-bigint sig) rows ever join — bodies never shuffle;
    4. survivors append bodies to ``dest_dir`` and signature+band rows
       to ``sig_dir``, both under ``run=<tag>/batch=<id>`` partitions
       with dynamic overwrite — replayed batches replace their own
       output (see :func:`dedup_stream`; same exactly-once,
       generation-scoped recipe), and history reads exclude only the
       replaying batch's own (run, batch) partition.

    Scale: per-batch cost = one column-pruned history scan + joins
    over (batch bands) × (touched-bucket rows) — linear-ish in
    arrivals, independent of corpus BODY size. ``cfg.max_bucket``
    bounds boilerplate-skewed buckets (default mode "sample"; see the
    config for why "drop" is wrong for an append-forever store). The
    store itself still accrues rows for hot buckets —
    :func:`compact_store` bounds it offline with the same
    deterministic cap when that matters.
    At very large history, partition the store by band-hash prefix so
    the pruning semi-join partition-prunes the scan too.
    """
    stream = _cfg_stream(spark, cfg, schema)
    run = _run_tag(cfg.checkpoint_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        keyed = with_minhash(batch_df, text_col=cfg.text_col)
        new_bands = _bands_long(keyed, cfg.id_col)
        hist = _read_store(sp, cfg.sig_dir, batch_id, run)
        dropped = near_dup_dropped_ids(
            new_bands,
            hist,
            cfg.threshold,
            cfg.max_bucket,
            cfg.hot_bucket_mode,
            cfg.id_col,
        )
        # drop the shingle array before persisting: neither the body
        # write nor the sig-store write reads `_sh`, and it is roughly
        # body-sized per doc — dead cache weight otherwise
        # localCheckpoint, not persist — the _write_outputs rationale
        out = (
            keyed.join(F.broadcast(dropped), cfg.id_col, "left_anti")
            .drop("_sh")
            .withColumn("run", F.lit(run))
            .withColumn("batch", F.lit(int(batch_id)))
            .localCheckpoint()
        )
        try:
            body_cols = [c for c in batch_df.columns] + ["run", "batch"]
            n_out = out.count()
            # dest and sig-store writes are independent jobs over the
            # checkpointed snapshot (the _write_outputs rationale)
            overlap(
                lambda: (
                    _sized(out.select(*body_cols), n_out)
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("run", "batch")
                    .parquet(cfg.dest_dir)
                ),
                lambda: (
                    _sized(
                        _bands_long(out, cfg.id_col)
                        .withColumn("run", F.lit(run))
                        .withColumn("batch", F.lit(int(batch_id))),
                        n_out * MINHASH_BANDS,
                    )
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("run", "batch")
                    .parquet(cfg.sig_dir)
                ),
            )
        finally:
            del out

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
