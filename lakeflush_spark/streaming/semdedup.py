"""Incremental SemDedup: embedding-space near-dup ON ARRIVAL.

Completes the dedup-on-arrival trio (``streaming/dedup.py``: exact
digests, lexical LSH) with the semantic modality: a vector arriving
today must not re-enter the corpus if an embedding-near-duplicate was
admitted last week. Batch-mode SemDedup is
``operators/similarity.semantic_dedup*`` (cluster-then-compare,
arXiv:2303.09540); this is its streaming face, on the same
``(run, batch)`` exactly-once store recipe as the other two streams.

Per micro-batch:

1. **Stable quantizer.** The IVF coarse quantizer is trained ONCE, on
   the first batch this STORE ever sees (deterministic md5-bucket
   seeds — a replay of that batch rebuilds identical centroids), and
   persisted beside the vector store; every later batch — including
   batches of LATER stream generations reusing the store across a
   checkpoint swap — loads the same n_cells rows. Cell ids therefore
   MEAN the same thing for the store's whole life — the invariant
   incremental assignment needs.
2. **Assignment** is the batch operator's broadcast map-only pass.
3. **History pruning**: the vector store is scanned, never shuffled —
   a broadcast semi-join on the batch's touched cell ids prunes it
   (cells are the unit of comparison, so untouched cells cannot
   matter); with ``cell_partitions=True`` (r6) the store is
   partitioned by ``_cp = cell_id % 256`` and the prune upgrades to
   partition ELIMINATION — directories of untouched cells are never
   even listed (the digest store's ``_dp`` upgrade path, delivered).
4. **One cell equi-join** covers batch-vs-history and batch-vs-
   lower-id-batchmate pairs; the 4dp-rounded cosine ≥ threshold drops
   the arriving vector (greedy min-id, the batch semantics).
5. Survivors append (vid, cell_id, v, nrm) to the store and full rows
   to the dest, both under ``run=<tag>/batch=<id>`` dynamic-overwrite
   partitions — replays replace their own output exactly-once.

Store size: one row per admitted vector — dims×8 bytes each; for
billion-vector stores, quantize with ``functions/vectors.
quantize_int8`` (4× smaller, >0.999 cosine fidelity) before writing
and dequantize in the verify join.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from lakeflush_spark.functions.vectors import dot_product
from lakeflush_spark.io import overlap
from lakeflush_spark.operators.similarity import (
    _nearest_cells,
    _pack_cells,
    centroid_frame,
    prepare_vectors,
)
from lakeflush_spark.streaming.dedup import (
    _cfg_stream,
    _read_store,
    _run_tag,
    _sized,
)


@dataclass
class StreamSemDedupConfig:
    #: streaming source directory of parquet files with (id, embedding)
    source_dir: str
    #: semantically-deduped destination (parquet, run/batch partitioned)
    dest_dir: str
    #: vector store directory (vid, cell_id, v, nrm; run/batch partitioned)
    vec_dir: str
    #: centroid sidecar directory — written ONCE for the store's whole
    #: life (store-scoped, not per-generation: cell ids must keep their
    #: meaning across checkpoint swaps; never vacuum this with old runs)
    cent_dir: str
    checkpoint_dir: str
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    #: drop threshold on the 4dp-rounded cosine (the batch operator's
    #: decision rule)
    threshold: float = 0.95
    n_cells: int = 16
    #: SIZING RULE (r7): the steady-state measurement showed per-batch
    #: cost is verify-join-bound — O(|batch| x mean cell occupancy) —
    #: so n_cells must track corpus size, but the quantizer is
    #: trained once for the store's life. Set ``expected_corpus`` to
    #: the store's anticipated vector count and training uses
    #: ``max(n_cells, ceil(expected_corpus / target_cell_rows))``
    #: cells (bounded by the training batch's size — feed a
    #: representative first batch). Leaving it None keeps the static
    #: ``n_cells``.
    expected_corpus: int | None = None
    target_cell_rows: int = 1024
    #: occupancy guard: every ``occupancy_check_batches``-th batch,
    #: count the store (parquet metadata count — footers only, no row
    #: scan) and warn when mean rows-per-cell exceeds
    #: ``occupancy_warn_factor x target_cell_rows`` — the signal that
    #: the store outgrew its quantizer and needs a rebuild at higher
    #: n_cells (or a ``max_cell`` cap as the stopgap). 0 disables.
    occupancy_check_batches: int = 16
    occupancy_warn_factor: float = 4.0
    #: bound comparison-side rows per cell (operators/dedup.
    #: _cap_hot_buckets over cell_id): a generation-fixed quantizer
    #: means cells grow with the corpus — the cap bounds each batch's
    #: verify join at |batch|×cap per cell. Default mode "sample"
    #: keeps a deterministic md5(vid) sample (same rationale as the
    #: LSH stream: "drop" would permanently disable a cell).
    max_cell: int | None = None
    hot_cell_mode: str = "sample"
    #: store int8-quantized vectors (functions/vectors.quantize_int8:
    #: struct<scale, q tinyint[]> — ~4× smaller store and history
    #: scan). History vectors dequantize inside the verify join;
    #: reconstruction keeps cosine fidelity > 0.999 (tested), so
    #: near-threshold decisions can differ from the float store by at
    #: most the last ~1e-3 of cosine — the standard storage trade.
    #: Must be constant over a store's lifetime.
    quantize_store: bool = False
    #: partition the vector store by ``_cp = cell_id % 256`` under
    #: each (run, batch) — the named upgrade path from the digest
    #: store's ``_dp`` prefixes: a batch that touches k cells then
    #: READS ~k/256 of history via partition ELIMINATION (directory
    #: pruning) before the broadcast semi-join refines to exact cells.
    #: Worth it once history dwarfs batches; like ``quantize_store``,
    #: must stay constant for a store's life (layout-guarded).
    cell_partitions: bool = False
    #: opt into two-level (coarse -> fine) assignment with this many
    #: coarse super-cells (operators/similarity section comment):
    #: bounds the per-vector centroid scan at
    #: O(coarse + n_cells/coarse) — the knob for corpus-proportional
    #: n_cells. Approximate at coarse boundaries, and like the other
    #: layout knobs it must stay CONSTANT for a store's life (mixed
    #: flat/two-level generations could assign a near-boundary
    #: duplicate to different cells and miss the pair).
    assign_coarse_cells: int | None = None
    assign_coarse_probe: int = 1
    #: source file format: parquet (default) or the reference lake's
    #: bundle formats json/csv, or raw text (see ``open_file_stream``)
    source_format: str = "parquet"
    #: options for the source reader (schema inference AND the stream),
    #: e.g. {"header": "true"} for CSV lakes
    source_options: dict | None = None
    max_files_per_trigger: int | None = None


def load_or_init_centroids(
    sp: SparkSession, cent_dir: str, n_cells: int, batch_vecs: DataFrame
) -> DataFrame | None:
    """The STORE's centroid FRAME (cell_id, cv, cnrm) — read if
    present, else trained deterministically on this (first) batch and
    persisted. Returns ``None`` only when the training batch is empty.
    r6: centroids never round-trip through the driver — the sidecar
    parquet is both the persistence and the distribution mechanism, so
    ``n_cells`` can grow with the store without a driver-side list.

    Centroids are scoped to the VECTOR STORE, not the stream
    generation: the store's cell_id column means "a region of centroid
    space", so every stream that ever compares against this store must
    use the same quantizer. (Run-scoped centroids would silently break
    store reuse across checkpoint swaps: a fresh generation would
    retrain, assign arrivals to incompatible cell ids, and never pair
    them with history — re-admitting the very duplicates the stream
    exists to drop.) A replay of the training batch rewrites
    byte-identical centroids (deterministic md5-bucket seeds), so the
    overwrite is idempotent."""
    try:
        df = sp.read.parquet(cent_dir)
        if "run" in df.columns:
            # a run-partitioned centroid layout mixes incompatible
            # quantizers (duplicate cell_ids) — fail fast rather than
            # silently assign against the union
            raise ValueError(
                f"{cent_dir} holds run-partitioned centroids; keep "
                "exactly ONE generation's rows (drop the run column) — "
                "cell ids must mean one quantizer for the store's life"
            )
        if df.limit(1).count() > 0:
            return df.select("cell_id", "cv", "cnrm")
    except AnalysisException:
        pass
    cents = centroid_frame(batch_vecs, n_cells)
    if cents.limit(1).count() == 0:
        return None  # empty first batch: train on the first nonempty one
    cents.coalesce(1).write.mode("overwrite").parquet(cent_dir)
    # re-read so every later use is storage-backed (stable, no lineage
    # recompute of the training top-k)
    return sp.read.parquet(cent_dir).select("cell_id", "cv", "cnrm")


def assign_cells(
    vecs: DataFrame,
    cents: DataFrame,
    coarse_cells: int | None = None,
    coarse_probe: int = 1,
) -> DataFrame:
    """Map-only 1-nearest-cell assignment of a prepared-vectors batch
    against the store's centroid frame — flat scan by default, the
    bounded two-level coarse→fine scan when ``coarse_cells`` is set
    (the corpus-proportional-n_cells knob; see operators/similarity)."""
    if coarse_cells is not None:
        from lakeflush_spark.operators.similarity import (
            _nearest_cells_two_level,
            _pack_cells_two_level,
        )

        packed2 = _pack_cells_two_level(cents, coarse_cells)
        return _nearest_cells_two_level(vecs, packed2, 1, coarse_probe)
    return _nearest_cells(vecs, _pack_cells(cents), 1)


def pruned_history(
    hist: DataFrame,
    indexed: DataFrame,
    *,
    vec_dir: str,
    quantize_store: bool,
    cell_partitions: bool,
) -> DataFrame:
    """The vector store scanned — never shuffled — down to the cells
    this batch touches: layout fail-fasts (flipped ``cell_partitions``
    / ``quantize_store`` configs, mixed-layout stores), optional
    ``_cp`` partition ELIMINATION, int8 dequantize after the prune,
    then a broadcast semi-join on the batch's distinct cell ids.
    Returns ``(vid, v, nrm, cell_id)``; caller tags/unions it.
    ``indexed`` should be persisted by the caller (read twice: the
    ``_cp`` collect and the semi-probe)."""
    if ("_cp" in hist.columns) != cell_partitions:
        have = "cell-partitioned" if "_cp" in hist.columns else "flat"
        raise ValueError(
            f"{vec_dir} is a {have} store but "
            f"cell_partitions={cell_partitions} — the "
            "layout must stay constant for a store's life; "
            "flip the config back or rebuild the store"
        )
    touched = indexed.select("cell_id").distinct()
    if cell_partitions and "_cp" in hist.columns:
        # partition ELIMINATION first: _cp is a partition
        # column, so the isin prunes whole directories of
        # history before any row is read (bounded collect:
        # <= 256 values from the pinned batch)
        cps = [
            r._cp
            for r in indexed.select(
                F.pmod(F.col("cell_id"), F.lit(256)).alias("_cp")
            )
            .distinct()
            .collect()
        ]
        hist = hist.where(F.col("_cp").isin(cps))
    if "qv" in hist.columns and "v" in hist.columns:
        # quantize_store was FLIPPED mid-life: old and new
        # partitions carry different vector columns, and a
        # merged read would silently NULL one side's
        # cosines (history ignored). Fail fast instead.
        raise ValueError(
            f"{vec_dir} mixes quantized (qv) and float "
            "(v) partitions — quantize_store must stay "
            "constant for a store's life; rebuild the store "
            "in one layout"
        )
    if ("qv" in hist.columns) != quantize_store:
        # write-side guard (r6): a flipped quantize_store
        # would APPEND the incompatible layout this batch,
        # corrupting the store so the NEXT batch fails —
        # refuse before any write happens
        have = "qv" if "qv" in hist.columns else "v"
        want = "qv" if quantize_store else "v"
        raise ValueError(
            f"{vec_dir} holds '{have}' vectors but "
            f"quantize_store={quantize_store} would write "
            f"'{want}' — quantize_store must stay constant "
            "for a store's life; flip the config back or "
            "rebuild the store in the new layout"
        )
    if "qv" in hist.columns:
        # quantized store: dequantize AFTER the cell prune
        # (the semi-join sees only 1-byte lanes)
        from lakeflush_spark.functions.vectors import dequantize_int8

        hist = hist.select(
            "vid",
            dequantize_int8(F.col("qv")).alias("v"),
            "nrm",
            "cell_id",
        )
    return hist.select("vid", "v", "nrm", "cell_id").join(
        F.broadcast(touched), "cell_id", "semi"
    )


def sem_dropped_ids(
    indexed: DataFrame,
    hist_cells: DataFrame | None,
    threshold: float,
    max_cell: int | None = None,
    hot_cell_mode: str = "sample",
) -> DataFrame:
    """The batch ids dropped by the semantic verify join: one cell
    equi-join covers batch-vs-history and batch-vs-lower-id-batchmate
    pairs; the 4dp-rounded cosine ≥ ``threshold`` drops the arriving
    vector (greedy min-id, the batch-operator semantics). Returns a
    distinct ``(vid)`` frame — caller persists (it feeds ≥2 writes)."""
    new_tag = indexed.select(
        F.col("vid"), F.col("v"), F.col("nrm"), F.col("cell_id")
    ).withColumn("hist", F.lit(False))
    others = new_tag
    if hist_cells is not None:
        others = new_tag.unionByName(
            hist_cells.select("vid", "v", "nrm", "cell_id").withColumn(
                "hist", F.lit(True)
            )
        )
    if max_cell is not None:
        from lakeflush_spark.operators.dedup import _cap_hot_buckets

        others = _cap_hot_buckets(
            others, ["cell_id"], max_cell, mode=hot_cell_mode, doc_col="vid"
        )
    n, o = F.broadcast(new_tag).alias("n"), others.alias("o")
    return (
        n.join(
            o,
            (F.col("n.cell_id") == F.col("o.cell_id"))
            & (F.col("o.hist") | (F.col("o.vid") < F.col("n.vid"))),
        )
        .where(
            F.round(
                dot_product(F.col("n.v"), F.col("o.v"))
                / (F.col("n.nrm") * F.col("o.nrm")),
                4,
            )
            >= threshold
        )
        .select(F.col("n.vid").alias("vid"))
        .distinct()
    )


def store_frame(
    admitted: DataFrame, quantize_store: bool, cell_partitions: bool
) -> tuple[DataFrame, tuple[str, ...]]:
    """The vector-store rows for this batch's admitted vectors —
    ``(vid, cell_id, v|qv, nrm)`` plus ``_cp`` when cell-partitioned —
    and the extra partition columns (beyond run/batch) to write with.
    ``admitted`` must carry (vid, cell_id, v, nrm)."""
    if quantize_store:
        from lakeflush_spark.functions.vectors import quantize_int8

        out = admitted.select(
            "vid", "cell_id", quantize_int8(F.col("v")).alias("qv"), "nrm"
        )
    else:
        out = admitted.select("vid", "cell_id", "v", "nrm")
    extra: tuple[str, ...] = ()
    if cell_partitions:
        out = out.withColumn("_cp", F.pmod(F.col("cell_id"), F.lit(256)))
        extra = ("_cp",)
    return out, extra


def _warn_if_cells_overfull(
    sp: SparkSession, cfg: StreamSemDedupConfig, cents: DataFrame
) -> None:
    """The occupancy guard behind ``occupancy_check_batches``: parquet
    metadata counts only (no row scan); a store that outgrew its
    quantizer warns with the measured mean occupancy and the rebuild
    knobs. Store-missing/empty is silently fine (first batches)."""
    try:
        store_rows = sp.read.parquet(cfg.vec_dir).count()
    except AnalysisException:
        return
    cells = cents.count()
    if not cells:
        return
    limit = cfg.occupancy_warn_factor * cfg.target_cell_rows
    if store_rows / cells > limit:
        import warnings

        warnings.warn(
            f"semdedup store {cfg.vec_dir} holds {store_rows} vectors in "
            f"{cells} cells (mean {store_rows / cells:.0f}/cell > "
            f"{limit:.0f}): the verify join now dominates batch cost — "
            "run streaming.semdedup.retrain_quantizer to migrate the "
            "store to a right-sized quantizer (swap vec_dir+cent_dir to "
            "the migrated pair between runs), or cap with max_cell as a "
            "recall-trading stopgap",
            RuntimeWarning,
            stacklevel=2,
        )


def compact_vec_store(
    spark: SparkSession,
    vec_dir: str,
    dest_dir: str,
    max_cell: int,
    mode: str = "sample",
) -> None:
    """Offline compaction of a SemDedup vector store: bound every IVF
    cell at ``max_cell`` rows and write the result to ``dest_dir``
    (must not exist — compaction never rewrites a store in place while
    streams may be reading it; swap ``cfg.vec_dir`` to the compacted
    copy between runs). The streaming twin of the LSH store's
    ``streaming/dedup.compact_store``: a corpus-lifetime store grows
    one row per admitted vector forever, and with a generation-fixed
    quantizer its cells grow with the corpus — compaction is the
    offline half of the ``max_cell`` bound (the occupancy guard's
    named remedy).

    Uses the SAME deterministic md5(vid) ranking as the online cap
    (``operators/dedup._cap_hot_buckets``), so a compacted store keeps
    exactly the representatives the online sample mode would have
    consulted — detection against retained history is unchanged. The
    ``(run, batch[, _cp])`` partition layout is preserved: replay
    exclusion and the cell-partition elimination path keep working
    against the compacted copy. Works on float and int8-quantized
    stores alike (the cap reads only vid/cell_id). The centroid
    sidecar is NOT touched — cell ids must keep their meaning."""
    from lakeflush_spark.operators.dedup import _cap_hot_buckets

    df = spark.read.option("basePath", vec_dir).parquet(vec_dir)
    # stable partition-column types regardless of inference (see
    # dedup._read_store) so the rewritten layout matches the original
    df = df.withColumn("run", F.col("run").cast("string")).withColumn(
        "batch", F.col("batch").cast("bigint")
    )
    capped = _cap_hot_buckets(df, ["cell_id"], max_cell, mode=mode, doc_col="vid")
    parts = ["run", "batch"] + (["_cp"] if "_cp" in df.columns else [])
    capped.write.mode("error").partitionBy(*parts).parquet(dest_dir)


def retrain_quantizer(
    spark: SparkSession,
    vec_dir: str,
    cent_dir: str,
    dest_vec_dir: str,
    dest_cent_dir: str,
    n_cells: int | None = None,
    target_cell_rows: int = 1024,
) -> int:
    """Offline quantizer migration for a store that outgrew its cells
    (r9 — the remedy the occupancy guard warns toward): train a NEW
    coarse quantizer on the store's own vectors at
    ``max(old_cells, ceil(store_rows / target_cell_rows))`` cells
    (or an explicit ``n_cells``), reassign every stored vector
    map-only, and write the migrated store to ``dest_vec_dir`` with
    its new centroid sidecar at ``dest_cent_dir`` (both must not
    exist). Layout knobs are preserved verbatim: an int8-quantized
    store re-quantizes under the new cells, a ``_cp``-partitioned
    store gets ``_cp`` recomputed from the new cell ids, and the
    ``(run, batch)`` partitions (including a compacted ``batch=-1``)
    carry over row-for-row — replay exclusion and partition
    elimination keep working against the migrated copy.

    SWAP DISCIPLINE — the sidecar is never replaced in place: until
    ``cfg.vec_dir`` AND ``cfg.cent_dir`` both point at the migrated
    pair, an in-place sidecar overwrite would pair the OLD store with
    NEW cell ids — exactly the silent cell-meaning corruption the
    layout fail-fasts exist to prevent. Instead the migrated store and
    sidecar are written as a fresh pair and the caller swaps BOTH
    config fields between stream runs (the ``compact_vec_store``
    discipline); the sidecar is written last, so a crashed migration
    is detectable (vectors without centroids) and simply deleted.
    Must run in a single-writer window. Returns the new cell count."""
    import math

    df = spark.read.option("basePath", vec_dir).parquet(vec_dir)
    # stable partition-column types regardless of inference (see
    # dedup._read_store) — run/batch carry over row-for-row
    df = df.withColumn("run", F.col("run").cast("string")).withColumn(
        "batch", F.col("batch").cast("bigint")
    )
    quantized = "qv" in df.columns
    cell_parted = "_cp" in df.columns
    keep = ["vid", "nrm", "run", "batch"]
    if quantized:
        from lakeflush_spark.functions.vectors import dequantize_int8

        vecs = df.select(*keep, dequantize_int8(F.col("qv")).alias("v"))
    else:
        vecs = df.select(*keep, "v")
    n_rows = vecs.count()
    old_cells = spark.read.parquet(cent_dir).count()
    if n_cells is None:
        n_cells = max(old_cells, math.ceil(n_rows / target_cell_rows))
    cents = centroid_frame(vecs.select("vid", "v", "nrm"), n_cells).persist()
    try:
        cents.count()
        indexed = _nearest_cells(vecs, _pack_cells(cents), 1)
        if quantized:
            from lakeflush_spark.functions.vectors import quantize_int8

            out = indexed.select(
                "vid", "cell_id", quantize_int8(F.col("v")).alias("qv"),
                "nrm", "run", "batch",
            )
        else:
            out = indexed.select("vid", "cell_id", "v", "nrm", "run", "batch")
        parts = ["run", "batch"]
        if cell_parted:
            out = out.withColumn("_cp", F.pmod(F.col("cell_id"), F.lit(256)))
            parts.append("_cp")
        out.write.mode("error").partitionBy(*parts).parquet(dest_vec_dir)
        # sidecar LAST: its presence marks the migration complete
        cents.coalesce(1).write.mode("error").parquet(dest_cent_dir)
    finally:
        cents.unpersist()
    return int(n_cells)


def semdedup_stream(spark: SparkSession, cfg: StreamSemDedupConfig, schema=None):
    """Start the incremental SemDedup stream (``Trigger.AvailableNow``).
    Returns the StreamingQuery; ``awaitTermination()`` it."""
    stream = _cfg_stream(spark, cfg, schema)
    run = _run_tag(cfg.checkpoint_dir)

    # the documented sizing rule: corpus-proportional cells at train
    # time (static n_cells as the floor)
    n_cells = cfg.n_cells
    if cfg.expected_corpus is not None:
        import math

        n_cells = max(
            cfg.n_cells, math.ceil(cfg.expected_corpus / cfg.target_cell_rows)
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        vecs = prepare_vectors(batch_df, id_col=cfg.id_col, vec_col=cfg.vec_col)
        cents = load_or_init_centroids(sp, cfg.cent_dir, n_cells, vecs)
        if cents is None:  # empty first batch: nothing to admit or store
            return
        if (
            cfg.occupancy_check_batches
            and batch_id % cfg.occupancy_check_batches == 0
        ):
            _warn_if_cells_overfull(sp, cfg, cents)
        # localCheckpoint, not persist — truncating the assignment
        # lineage keeps the verify join, the drop count, and both
        # writes from re-planning the whole batch tree (see
        # streaming/dedup._write_outputs)
        indexed = assign_cells(
            vecs, cents, cfg.assign_coarse_cells, cfg.assign_coarse_probe
        ).localCheckpoint()
        dropped = None
        try:
            hist = _read_store(sp, cfg.vec_dir, batch_id, run)
            hist_cells = (
                pruned_history(
                    hist,
                    indexed,
                    vec_dir=cfg.vec_dir,
                    quantize_store=cfg.quantize_store,
                    cell_partitions=cfg.cell_partitions,
                )
                if hist is not None
                else None
            )
            dropped = (
                sem_dropped_ids(
                    indexed,
                    hist_cells,
                    cfg.threshold,
                    cfg.max_cell,
                    cfg.hot_cell_mode,
                )
                # persisted: consumed by BOTH writes below — without
                # this, each write re-runs the history scan and the
                # cosine verify join (the dominant per-batch cost)
                .persist()
            )
            out = indexed.join(F.broadcast(dropped), "vid", "left_anti")
            # one cached count sizes both writes (file count tracks
            # data, not task count — streaming/dedup._sized note)
            n_out = out.count()
            store, extra_parts = store_frame(
                out, cfg.quantize_store, cfg.cell_partitions
            )
            store = store.withColumn("run", F.lit(run)).withColumn(
                "batch", F.lit(int(batch_id))
            )
            # the store and dest writes are independent jobs over the
            # already-materialized indexed/dropped frames; a failure in
            # either fails the batch for replay
            survivors = batch_df.join(
                F.broadcast(dropped.withColumnRenamed("vid", cfg.id_col)),
                cfg.id_col,
                "left_anti",
            )
            overlap(
                lambda: (
                    _sized(store, n_out)
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("run", "batch", *extra_parts)
                    .parquet(cfg.vec_dir)
                ),
                lambda: (
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
                ),
            )
        finally:
            del indexed  # checkpointed blocks free on GC
            if dropped is not None:
                dropped.unpersist()

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
