"""Incremental perceptual-image dedup: pHash-match each arriving
micro-batch against every image ingested before it.

The multimodal face of ``streaming/dedup.py``: text dedup keys on an
exact content digest, but near-duplicate IMAGES (re-encodes, mild
noise, brightness shifts) share no bytes — they share a perceptual
hash neighborhood (operators/phash.py). Per micro-batch:

1. decode + hash the batch (``phash_images`` — Arrow-batched map-only;
   undecodable payloads get no hash and always survive, the
   corrupt-input SKIP policy);
2. within-batch near-dups resolve exactly as the batch operator does
   (``dedup_images``): connected components over the verified pairs,
   min-id member survives — batch and streaming dedup of the same
   corpus agree (r12; the CC runs as a driver union-find over the
   pair list, bounded by the batch size);
3. survivors are Hamming-checked against the persisted HASH STORE — a
   parquet table of ``(media_id, phash)`` rows, never payloads;
4. genuinely-new images append to the dest corpus and their hashes to
   the store, both under ``run=<tag>/batch=<id>`` dynamic-overwrite
   partitions — the same exactly-once replay recipe as every other
   dedup-on-arrival store (see streaming/dedup.py).

Store maintenance: the hash store shares the generic
``(run, batch)`` layout, so ``streaming/dedup.list_runs`` and
``vacuum_runs`` work on it unchanged (they operate on the partition
tree, not the row schema); rows are 16 bytes each, so offline
compaction is rarely needed before the multi-billion-image regime.

Scale stance: the history check explodes the HISTORY hashes into
their ``max_hamming + 1`` pigeonhole chunks MAP-SIDE and probes them
with a BROADCAST of the batch's chunk table (batch-sized x chunks), so
history is only ever scanned — never shuffled, never broadcast — and
the exact ``bit_count`` verify runs on the chunk-collision survivors
only. Per-batch cost: one history scan + broadcast-sized joins; image
payloads never shuffle anywhere (only 8-byte hashes and ids move).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from lakeflush_spark.io import overlap
from lakeflush_spark.operators.phash import (
    DEFAULT_MAX_HAMMING,
    PHASH_BITS,
    phash_chunks,
    phash_images,
    phash_near_dups,
)
from lakeflush_spark.streaming.dedup import (
    _cfg_stream,
    _read_store,
    _run_tag,
    _sized,
)

#: within-batch near-dup PAIR rows above which the driver union-find
#: is abandoned for the distributed near_dup_clusters loop — the pair
#: count is O(batch²) for mutually-similar batches (one repeated image
#: otherwise floods the driver), unlike the batch-bounded ID pulls.
_PAIR_DRIVER_CAP = 100_000


@dataclass
class StreamPhashConfig:
    #: streaming source directory of parquet files with binary payloads
    source_dir: str
    #: deduped media destination (parquet, run/batch partitioned)
    dest_dir: str
    #: pHash store directory (parquet, run/batch partitioned)
    hash_dir: str
    checkpoint_dir: str
    id_col: str = "media_id"
    payload_col: str = "payload"
    #: Hamming radius: batch images within this distance of history
    #: (or of a smaller-id batch member) are dropped
    max_hamming: int = DEFAULT_MAX_HAMMING
    #: ``decoder(bytes) -> numpy array``; None = the pure-Python PNG
    #: decoder (operators/png_codec)
    decoder: object = None
    source_format: str = "parquet"
    source_options: dict | None = None
    max_files_per_trigger: int | None = None


def against_history_phash(
    fresh_hashes: DataFrame,
    hist: DataFrame | None,
    id_col: str,
    max_hamming: int = DEFAULT_MAX_HAMMING,
) -> DataFrame:
    """Batch ids whose pHash is within ``max_hamming`` of any history
    hash.

    History rows explode into pigeonhole chunks map-side and are
    probed by the BROADCAST batch chunk table (two near hashes must
    agree on >=1 of the ``max_hamming + 1`` disjoint chunks) — the
    history scan never shuffles. The exact ``bit_count`` verify runs
    only on chunk collisions; output is at most batch-sized.
    """
    if hist is None:
        return fresh_hashes.select(F.col(id_col)).limit(0)
    bchunks = fresh_hashes.select(
        F.col(id_col).alias("_bid"),
        F.col("phash").alias("_bph"),
        F.posexplode(F.array(*phash_chunks("phash", max_hamming))).alias(
            "_ci", "_cv"
        ),
    )
    hchunks = hist.select(
        F.col("phash").alias("_hph"),
        F.posexplode(F.array(*phash_chunks("phash", max_hamming))).alias(
            "_ci", "_cv"
        ),
    )
    hits = (
        hchunks.join(F.broadcast(bchunks), ["_ci", "_cv"])
        .where(
            F.bit_count(F.col("_hph").bitwiseXOR(F.col("_bph")))
            <= F.lit(max_hamming)
        )
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )
    return hits


def phash_dedup_stream(
    spark: SparkSession, cfg: StreamPhashConfig, schema=None
):
    """Start the incremental pHash-dedup stream (Trigger.AvailableNow).
    Returns the StreamingQuery; ``awaitTermination()`` it."""
    if not 0 <= cfg.max_hamming < PHASH_BITS:
        raise ValueError("max_hamming must be in [0, 63)")
    stream = _cfg_stream(spark, cfg, schema)
    run = _run_tag(cfg.checkpoint_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        # localCheckpoint: the hash frame feeds the within-batch pair
        # join (both sides), the history probe, and the store write —
        # without truncation each consumer re-decodes every payload
        hashes = phash_images(
            batch_df,
            id_col=cfg.id_col,
            payload_col=cfg.payload_col,
            decoder=cfg.decoder,
        ).localCheckpoint()
        try:
            pairs = phash_near_dups(
                hashes, id_col="media_id", max_hamming=cfg.max_hamming
            )
            # within-batch resolution = the batch operator's exactly
            # (r12): min-id per CONNECTED COMPONENT survives, so
            # dedup_images(corpus) and streaming the same corpus agree
            # — e.g. pairs (A,C),(B,C) keep {A} here, not {A,B} as the
            # r11 drop-any-id2 greedy did. The batch's ID COUNT is
            # broadcast-small by the stream's own invariant, but the
            # PAIR count is O(batch²) for mutually-similar batches
            # (one repeated image floods the driver — r12 ADVICE), so
            # the driver union-find runs only when a capped probe
            # proves the pair list small; above the cap the
            # distributed near_dup_clusters loop resolves the same
            # min-id components executor-side.
            pairs = pairs.select("id1", "id2").localCheckpoint()
            n_pairs = pairs.limit(_PAIR_DRIVER_CAP + 1).count()
            from lakeflush_spark.io import local_rows_df

            if n_pairs <= _PAIR_DRIVER_CAP:
                parent: dict = {}

                def _find(x):
                    while parent.get(x, x) != x:
                        parent[x] = parent.get(parent[x], parent[x])
                        x = parent[x]
                    return x

                loser_ids = set()
                for r in pairs.collect():
                    a, b = _find(r.id1), _find(r.id2)
                    if a != b:
                        lo, hi = (a, b) if a < b else (b, a)
                        parent[hi] = lo
                for node in list(parent):
                    root = _find(node)
                    if node != root:
                        loser_ids.add(node)
                within_losers = local_rows_df(
                    sp, [(i,) for i in sorted(loser_ids)], "media_id bigint"
                )
                n_within = len(loser_ids)
            else:
                from lakeflush_spark.operators.dedup import (
                    near_dup_clusters,
                )

                # pinned: feeds the anti-join, the dropped union, and
                # the survivor count below (ids only, batch-bounded)
                within_losers = (
                    near_dup_clusters(pairs)
                    .where(F.col("id") != F.col("cluster_id"))
                    .select(F.col("id").alias("media_id"))
                    .localCheckpoint()
                )
                n_within = within_losers.count()
            fresh = hashes.join(
                F.broadcast(within_losers), "media_id", "left_anti"
            )
            hist = _read_store(sp, cfg.hash_dir, batch_id, run)
            # pinned: this tiny id frame (at most batch-sized) feeds
            # FOUR consumers — the store's anti-join, the dest's
            # dropped union, and the two counts below — and unpinned
            # each would replay the history chunk probe
            hist_losers = against_history_phash(
                fresh, hist, "media_id", cfg.max_hamming
            ).localCheckpoint()
            fresh = fresh.join(
                F.broadcast(hist_losers), "media_id", "left_anti"
            ).localCheckpoint()
            n_new = fresh.count()
            store = (
                fresh.select("media_id", "phash")
                .withColumn("run", F.lit(run))
                .withColumn("batch", F.lit(int(batch_id)))
            )
            # the hash-store and survivors writes are independent jobs
            # (the store reads the pinned `fresh` frame, the dest
            # chain reads the source payloads); a failure in either
            # fails the batch for replay
            #
            # survivors: everything not dropped — undecodable payloads
            # have no hash row, join nothing, and pass through (SKIP,
            # not drop). Sizing uses the ACTUAL survivor count (r12;
            # n_new undercounts: undecodable pass-through rows have no
            # hash row), computed ARITHMETICALLY — n_batch comes from a
            # parquet-metadata count and the loser counts are already
            # in hand — because checkpointing the survivors frame to
            # make the count free would copy every payload byte into
            # block storage (measured: warm batches 2.4 -> 4.0 s).
            # The coalesce inside _sized deliberately applies to this
            # UNPINNED frame: it propagates upstream, so the whole
            # dest chain (payload scan + broadcast anti-join + write)
            # runs in ceil(n_out/rows_per_file) tasks — data-
            # proportional by construction, and that chain is the only
            # compute the coalesce touches (the hash/store chain is
            # pinned separately above).
            def _write_survivors():
                dropped = within_losers.unionByName(
                    hist_losers
                ).withColumnRenamed("media_id", cfg.id_col)
                n_out = (
                    batch_df.count() - n_within - hist_losers.count()
                )
                survivors = batch_df.join(
                    F.broadcast(dropped), cfg.id_col, "left_anti"
                )
                (
                    _sized(
                        survivors.withColumn("run", F.lit(run)).withColumn(
                            "batch", F.lit(int(batch_id))
                        ),
                        n_out,
                    )
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("run", "batch")
                    .parquet(cfg.dest_dir)
                )

            overlap(
                lambda: (
                    _sized(store, n_new)
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("run", "batch")
                    .parquet(cfg.hash_dir)
                ),
                _write_survivors,
            )
        finally:
            del hashes  # checkpointed blocks free on GC

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
