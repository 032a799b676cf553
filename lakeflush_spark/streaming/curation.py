"""Continuous corpus curation: the full batch curation pipeline
(``pipelines.curate_documents``) re-expressed as dedup-on-arrival.

Each micro-batch runs the same stage order as the batch pipeline —
quality filters → optional LM gate → exact dedup → LSH near-dup →
optional semantic (SemDedup) near-dup → optional repeated-passage
(boilerplate) strip/drop → eval-set
decontamination — but the dedup stages check arriving documents
against PERSISTED history stores (16-byte digests; band hashes +
minhash signatures), so a continuously-fed corpus stays curated
without ever re-processing what is already in it. The reference has
no analog (it stops at bundle delivery; `lakeflush/core/flusher.py`).

Composition, all reused from :mod:`lakeflush_spark.streaming.dedup`:

- ``within_batch_exact`` / ``against_history_exact`` — digest-only
  shuffles, history scanned never shuffled (batch digests broadcast
  into a semi-probe);
- ``near_dup_dropped_ids`` — band store pruned to batch-touched
  buckets, one band equi-join for within-batch + against-history
  pairing, signature-agreement verify, hot-bucket cap;
- the boilerplate stage — :mod:`lakeflush_spark.streaming.substring`'s
  occurrence store + the batch operator's own rewrite
  (``strip_spans_against``), prospective semantics;
- the semantic stage — :mod:`lakeflush_spark.streaming.semdedup`'s
  per-batch helpers (store-scoped centroid sidecar, broadcast
  semi-join cell pruning, one cell equi-join verify) against a
  vector store that, like the others, holds only ADMITTED docs;
- ``operators/decontaminate.decontaminate`` — the STATIC eval-gram
  frame is built once at stream start and broadcast into every batch
  (the corpus side never shuffles);
- the ``(run, batch)`` dynamic-overwrite exactly-once store recipe —
  replays replace their own output; stores survive checkpoint swaps.

Stores describe THE CORPUS (what was admitted), not everything seen:
a future copy of a rejected document is re-evaluated and — all stages
being content-deterministic — rejected the same way, without the
stores accumulating rows for documents that never entered the corpus.

Auditability: every batch appends one stats row
(n_in / n_filtered / n_lm_filtered / n_exact_dup / n_near_dup /
n_url_blocked / n_domain_capped /
n_sem_dup / n_boilerplate / n_contaminated / n_out — n_sem_dup /
n_boilerplate NULL when their stages are not configured; in strip
mode n_boilerplate counts REWRITTEN docs, which stay in n_out — plus
n_hot_buckets / n_hot_rows_trimmed — the hot-bucket cap's
per-batch recall trade, NULL when no cap is configured) to a
queryable parquet stats store under the same (run, batch)
exactly-once layout — the streaming twin of the batch pipeline's
per-stage stats frame. Stage counts are computed from the persisted
per-stage frames of ONE pass (count jobs over already-materialized or
id-only frames), not by re-running stages.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from lakeflush_spark.io import overlap
from lakeflush_spark.operators.decontaminate import ngram_hash_set
from lakeflush_spark.operators.dedup import content_digest, with_minhash
from lakeflush_spark.streaming.dedup import (
    _STORE_ROWS_PER_FILE,
    _bands_long,
    _cfg_stream,
    _read_store,
    _run_tag,
    against_history_exact,
    batch_history_bands,
    near_dup_dropped_ids,
    near_dup_hot_bucket_stats,
    within_batch_exact,
)


@dataclass
class CurationStreamConfig:
    #: streaming source directory of parquet document files
    source_dir: str
    #: curated corpus destination (parquet, run=R/batch=N partitioned)
    dest_dir: str
    #: exact-dedup digest store (parquet, run=R/batch=N partitioned)
    digest_dir: str
    #: near-dup band/signature store (parquet, run=R/batch=N partitioned)
    sig_dir: str
    #: per-batch stats store (parquet, run=R/batch=N partitioned)
    stats_dir: str
    checkpoint_dir: str
    id_col: str = "doc_id"
    text_col: str = "text"
    #: quality gates — the SAME predicate as the batch CurationConfig
    #: (pipelines.quality_keep_condition builds both): token count in
    #: [min, max], stopword-ratio ceiling, allowed language
    #: predictions. All map-only. NOTE the defaults differ on purpose:
    #: batch gates are ON by default (min_tokens=5 etc. — an explicit
    #: curation run); a STREAM defaults to pass-through (None/None)
    #: because an ingest pipeline must opt into dropping data.
    min_tokens: int | None = None
    max_tokens: int | None = None
    max_stopword_ratio: float | None = None
    allowed_langs: tuple[str, ...] | None = None
    #: True = additionally require all seven Gopher rules (operators/
    #: quality.gopher_flags == 0) — same predicate the batch
    #: CurationConfig.gopher_rules drives, so batch/stream can't drift
    gopher_rules: bool = False
    #: True = C4 cleanup (operators/quality.c4_flags + functions/text.
    #: c4_clean), the batch CurationConfig.c4_rules twin driven through
    #: the SAME shared predicate: failing pages drop in the quality
    #: gate (counted in n_filtered), survivors' text is rewritten to
    #: its line-filtered form before any dedup stage
    c4_rules: bool = False
    #: True = additionally require the seven MassiveText repetition
    #: rules (the batch CurationConfig.mt_repetition_rules twin)
    mt_repetition_rules: bool = False
    #: with mt_repetition_rules: gate on the full 13-rule table (the
    #: batch CurationConfig.mt_full_table twin)
    mt_full_table: bool = False
    #: True = rewrite survivors keeping the first occurrence of each
    #: line (the batch CurationConfig.strip_dup_lines twin; runs after
    #: the C4 rewrite, before any dedup stage)
    strip_dup_lines: bool = False
    #: True = the input text_col holds raw HTML: rewrite through the
    #: library-free extractor before any metric/gate/dedup (the batch
    #: CurationConfig.html_input twin; map-only regexp chain)
    html_input: bool = False
    #: optional PRE-TRAINED quality-classifier gate (the batch
    #: CurationConfig.classifier_weights twin; same shared predicate)
    classifier_weights: "dict[str, float] | None" = None
    classifier_threshold: float = 0.5
    #: optional URL stages (the batch CurationConfig.url_* twins,
    #: r12): name of a URL column on arriving documents. When set, a
    #: ``url_domain`` column (registrable domain) is attached up front
    #: and rides to the dest corpus.
    url_col: str | None = None
    #: registrable domains dropped before any other stage (map-only)
    url_blocklist: tuple = ()
    #: per-registrable-domain admission quota across the STREAM's
    #: WHOLE LIFE: a batch admits a domain's docs (md5-deterministic
    #: within-batch order) only up to ``url_domain_cap`` minus what
    #: history already admitted. Requires ``domain_count_dir`` — a
    #: run/batch-partitioned store of per-batch (url_domain, n)
    #: admission increments; history quota = summed increments, a
    #: frame with one row per (domain, batch) that stays broadcast-
    #: small for any real domain population. None disables.
    url_domain_cap: int | None = None
    url_cap_seed: str = "0"
    domain_count_dir: str | None = None
    #: True = dedup on the CANONICAL URL before the content exact-dedup
    #: stage (the batch CurationConfig.url_exact_dedup twin): within
    #: batch, then against ``url_digest_dir`` — a run/batch-partitioned
    #: store of admitted docs' canonical-URL md5 digests. Unparseable
    #: URLs are exempt.
    url_exact_dedup: bool = False
    url_digest_dir: str | None = None
    #: near-dup gate: estimated-Jaccard threshold (see StreamNearDupConfig)
    near_dup_threshold: float = 0.7
    near_dup_max_bucket: int | None = None
    near_dup_hot_bucket_mode: str = "sample"
    #: optional PRE-TRAINED bigram LM (operators/lm_filter.
    #: train_bigram_lm output written as parquet): arriving docs with
    #: mean bigram log-probability below ``lm_min_logprob`` are
    #: dropped. The threshold is ABSOLUTE (a streaming batch cannot
    #: see corpus quantiles) — derive it offline from a batch quantile
    #: over a reference corpus, e.g. percentile_approx(avg_logprob,
    #: 0.05). ``lm_buckets``/``lm_hash_fn`` must match training.
    lm_dir: str | None = None
    lm_min_logprob: float | None = None
    lm_buckets: int = 1 << 20
    lm_hash_fn: str = "xxhash64"
    #: optional SemDedup stage (the batch pipeline's
    #: CurationConfig.embedding_col twin, streaming face at
    #: streaming/semdedup.py): name of an array<float/double>
    #: embedding column on the arriving documents — a doc whose
    #: embedding near-coincides (within-IVF-cell 4dp-rounded cosine ≥
    #: sem_threshold) with an ADMITTED doc (this batch's lower ids or
    #: the persisted vector-store history) is dropped. Requires
    #: ``sem_vec_dir`` + ``sem_cent_dir``. Runs after the lexical
    #: near-dup stage, before decontamination — the batch pipeline's
    #: stage order.
    embedding_col: str | None = None
    sem_threshold: float = 0.95
    sem_n_cells: int = 16
    #: the streaming SemDedup sizing rule (StreamSemDedupConfig.
    #: expected_corpus): when set, quantizer training uses
    #: max(sem_n_cells, ceil(sem_expected_corpus / sem_target_cell_rows))
    #: cells so the verify join stays bounded as the corpus grows
    sem_expected_corpus: int | None = None
    sem_target_cell_rows: int = 1024
    #: vector store (vid, cell_id, v|qv, nrm; run/batch partitioned) —
    #: holds only ADMITTED docs' embeddings (the corpus, per the
    #: store principle above)
    sem_vec_dir: str | None = None
    #: centroid sidecar — written once for the store's whole life
    #: (see streaming/semdedup.load_or_init_centroids)
    sem_cent_dir: str | None = None
    #: the StreamSemDedupConfig scale knobs, same semantics and same
    #: must-stay-constant-per-store rules (layout-guarded)
    sem_max_cell: int | None = None
    sem_hot_cell_mode: str = "sample"
    sem_quantize_store: bool = False
    sem_cell_partitions: bool = False
    sem_coarse_cells: int | None = None
    sem_coarse_probe: int = 1
    #: optional repeated-passage (boilerplate) stage (r7; the batch
    #: CurationConfig.drop_repeated_passage_window twin, streaming
    #: face at streaming/substring.py): window/stride/min_docs are the
    #: batch operator's knobs, occurrence counts accumulate in a
    #: persisted fp store at ``bp_fp_dir`` (required when the window
    #: is set), and once history+batch occurrences reach
    #: ``bp_min_docs`` the passage acts on every arrival onward —
    #: ``bp_action="strip"`` (default) rewrites the doc (adds an
    #: n_stripped column to the dest), "drop" removes it. Prospective
    #: semantics (see streaming/substring.py); runs after the
    #: semantic stage, before decontamination — the batch order, so
    #: decontam sees post-strip text. The PERSISTED store counts only
    #: ADMITTED docs' pre-strip passages (r9 — the digest/sig/vector
    #: stores' corpus-describing principle: a contaminated/dropped
    #: doc's passages must not advance the threshold for clean future
    #: arrivals; recomputed from the span frame semi-joined to the
    #: admitted ids at store-write time), while THIS batch's hot-set
    #: decision sees the whole post-semantic batch — batch-pipeline
    #: order parity, where boilerplate counting runs before
    #: decontamination. Counts are pre-strip, keeping the threshold
    #: monotone.
    bp_window: int | None = None
    bp_stride: int = 8
    bp_min_docs: int = 2
    bp_action: str = "strip"
    bp_fp_dir: str | None = None
    #: prefix-partition the boilerplate fp store by the first two hex
    #: chars of the fingerprint (256 ``_fp=xx`` dirs under each
    #: (run, batch)) and partition-PRUNE each batch's history scan to
    #: the prefixes it touches — the ``digest_prefix_partitions``
    #: recipe applied to the fp store (r8). Layout must stay constant
    #: for a store's life (guarded, like the sibling knobs).
    bp_fp_prefix_partitions: bool = False
    #: optional parquet directory of eval documents — when set, corpus
    #: docs sharing >= decontam_min_common distinct word n-grams with
    #: ANY eval doc are dropped (operators/decontaminate semantics)
    eval_dir: str | None = None
    decontam_min_common: int = 1
    #: prefix-partition the digest store and partition-prune each
    #: batch's history scan (see StreamDedupConfig.digest_prefix_partitions)
    digest_prefix_partitions: bool = False
    #: source file format: parquet (default) or the reference lake's
    #: bundle formats json/csv, or raw text (see ``open_file_stream``)
    source_format: str = "parquet"
    #: options for the source reader (schema inference AND the stream),
    #: e.g. {"header": "true"} for CSV lakes
    source_options: dict | None = None
    max_files_per_trigger: int | None = None


def read_stats(spark: SparkSession, stats_dir: str) -> DataFrame:
    """The per-batch audit stats store as ONE schema-merged frame (r9).

    Always read the stats store through this (or pass
    ``mergeSchema=true`` yourself): parquet schema inference samples
    one footer, so a store whose early batches predate later-added
    columns (``n_sem_dup``/``n_boilerplate`` arrived in r7,
    ``n_hot_buckets``/``n_hot_rows_trimmed`` in r6) would otherwise
    SILENTLY drop whichever columns the sampled file lacks, depending
    on which batch's file won — the ``audit_table`` pattern
    (``operators/compaction.py``). Merged columns are NULL for rows
    written before the column existed."""
    df = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", stats_dir)
        .parquet(stats_dir)
    )
    # stable partition-column types regardless of inference (see
    # dedup._read_store)
    return df.withColumn("run", F.col("run").cast("string")).withColumn(
        "batch", F.col("batch").cast("bigint")
    )


def curate_stream(spark: SparkSession, cfg: CurationStreamConfig, schema=None):
    """Start the continuous-curation stream (``Trigger.AvailableNow``).

    Returns the StreamingQuery; ``awaitTermination()`` it. Read the
    curated corpus from ``cfg.dest_dir`` and the per-batch audit from
    ``cfg.stats_dir``.
    """
    # validate config BEFORE pinning anything — a late ValueError must
    # not leak a persisted frame with no release listener registered
    if (cfg.url_blocklist or cfg.url_domain_cap is not None) and cfg.url_col is None:
        raise ValueError("url_blocklist / url_domain_cap require url_col")
    if cfg.url_domain_cap is not None and cfg.domain_count_dir is None:
        raise ValueError(
            "url_domain_cap requires domain_count_dir — the per-domain "
            "admission quota needs a persisted increment store"
        )
    if cfg.url_exact_dedup and (cfg.url_col is None or cfg.url_digest_dir is None):
        raise ValueError(
            "url_exact_dedup requires url_col AND url_digest_dir"
        )
    if cfg.lm_dir is not None and cfg.lm_min_logprob is None:
        raise ValueError("lm_dir requires lm_min_logprob (absolute threshold)")
    if cfg.lm_min_logprob is not None and cfg.lm_dir is None:
        raise ValueError(
            "lm_min_logprob set without lm_dir — the LM gate would be "
            "silently OFF; point lm_dir at a train_bigram_lm output"
        )
    if cfg.embedding_col is not None and (
        cfg.sem_vec_dir is None or cfg.sem_cent_dir is None
    ):
        raise ValueError(
            "embedding_col requires sem_vec_dir AND sem_cent_dir — the "
            "semantic stage needs a vector store and a centroid sidecar"
        )
    if cfg.embedding_col is None and (
        cfg.sem_vec_dir is not None or cfg.sem_cent_dir is not None
    ):
        raise ValueError(
            "sem_vec_dir/sem_cent_dir set without embedding_col — the "
            "semantic stage would be silently OFF; name the embedding "
            "column on the arriving documents"
        )
    if cfg.bp_window is not None and cfg.bp_fp_dir is None:
        raise ValueError(
            "bp_window requires bp_fp_dir — the boilerplate stage needs "
            "a persisted fingerprint store"
        )
    if cfg.bp_window is None and cfg.bp_fp_dir is not None:
        raise ValueError(
            "bp_fp_dir set without bp_window — the boilerplate stage "
            "would be silently OFF; set the passage window"
        )
    if cfg.bp_action not in ("strip", "drop"):
        raise ValueError(
            f"bp_action must be 'strip' or 'drop', got {cfg.bp_action!r}"
        )
    stream = _cfg_stream(spark, cfg, schema)
    # fail at stream START, not inside batch 0's foreachBatch, if the
    # arriving schema already carries a column the fused gate will add
    # (the stream uses the _q_ metric prefix, plus its _q_keep marker)
    from lakeflush_spark.pipelines import gate_clash_check

    gate_clash_check(
        "curate_stream",
        stream.columns,
        metrics_prefix="_q_",
        extra=("_q_keep",),
    )
    run = _run_tag(cfg.checkpoint_dir)

    # the eval-gram frame is STATIC: build (and pin) it once at stream
    # start, not per batch — one distinct gram set, broadcast into
    # every batch's probe
    eval_grams = None
    lm = None
    try:
        if cfg.eval_dir is not None:
            eval_grams = (
                spark.read.parquet(cfg.eval_dir)
                .select(
                    F.explode(ngram_hash_set(F.col(cfg.text_col))).alias("_g")
                )
                .distinct()
                .persist()
            )
            eval_grams.count()

        # likewise static: the pre-trained LM count table, pinned once
        if cfg.lm_dir is not None:
            lm = spark.read.parquet(cfg.lm_dir).persist()
            lm.count()
    except Exception:
        # a bad eval_dir/lm_dir path must not leak an already-pinned
        # frame for the session — the release listener is only
        # registered once the stream starts, below
        for frame in (eval_grams, lm):
            if frame is not None:
                frame.unpersist()
        raise

    def _writer(
        df: DataFrame,
        dest: str,
        parts: tuple = ("run", "batch"),
        nrows: int | None = None,
    ):
        # size output FILES to the data, not to the batch's task count
        # (r11): every store write otherwise inherits the micro-batch's
        # partitioning and emits one near-empty parquet file per task
        # per (run, batch) — measured as the dominant per-batch cost
        # (the 'writes' phase: 5 stores × 32 tiny files × commit
        # renames ≈ 10-12 s/batch at sf0.1), and the classic streaming
        # small-file sin: every later history read and dest scan pays
        # the file count forever. When the caller knows the row count
        # (already counted for stats — no extra job), coalesce to
        # ceil(nrows / _STORE_ROWS_PER_FILE) write tasks; frames are
        # pinned upstream, so the coalesce merges cached partitions
        # without losing compute parallelism.
        if nrows is not None:
            df = df.coalesce(
                max(1, -(-int(nrows) // _STORE_ROWS_PER_FILE))
            )
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*parts)
            .parquet(dest)
        )

    # per-stream centroid-frame cache (r15, guide §2.4): the semantic
    # quantizer is FROZEN for the store's life (the load_or_init
    # docstring's own contract — every batch must assign against the
    # same cells), so re-reading + limit-probing the sidecar parquet
    # per micro-batch was pure fixed overhead. One localCheckpoint of
    # the ~n_cells-row frame after the first successful load serves
    # every later batch; a batch REPLAY sees identical centroids by
    # the same frozen-quantizer contract.
    _sem_cent_cache: list = []

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        # env-gated phase timings (one stderr JSON line per batch):
        # each mark is the wall delta since the previous ACTION, so the
        # numbers attribute batch time to gate/dedup/semantic/write
        # phases without guessing from triggerExecution
        import os as _os
        import sys as _sys
        import time as _time

        _dbg = _os.environ.get("LAKEFLUSH_STREAM_PHASES") == "1"
        _tprev = _time.monotonic()
        _phases: dict = {}

        def _mark(name: str) -> None:
            nonlocal _tprev
            if _dbg:
                now = _time.monotonic()
                _phases[name] = round(now - _tprev, 2)
                _tprev = now
        # 1. quality filters (map-only) — THE shared STAGED gate from
        # the batch pipeline (pipelines.quality_gate_stages): every
        # cheap rule (metrics, gopher/c4 bitmasks, MT unit bits, a
        # coverage-free classifier) as DIRECT column expressions —
        # codegen-eligible, no generator subtree fattening each
        # per-batch action's plan (the r10 fused gate cost this stream
        # 20-38% throughput; measured in the r11 interleaved A/B) —
        # filtering first; only survivors pay the coverage-dependent
        # stage-2 fused generator. Kept set identical to the
        # single-pass gate (pure conjunction, exact bitmask split).
        # Stream metric columns use the _q_ prefix so an input batch
        # already carrying n_tokens/stop_ratio/lang_pred composes
        # without duplicate names; all gate columns drop before the
        # sink (dest schema unchanged).
        from lakeflush_spark.pipelines import (
            GATE_COLS,
            quality_gate_stages,
            quality_keep_condition,
            stage2_keep_condition,
        )

        if cfg.html_input:
            # HTML arrives first: extract before any metric/gate/dedup
            # sees the text (the batch pipeline's html_input twin)
            from lakeflush_spark.functions.html import html_to_text

            batch_df = batch_df.withColumn(
                cfg.text_col, html_to_text(cfg.text_col)
            )
        # URL front gate (r12, the batch url_col/url_blocklist twins):
        # the registrable domain attaches before the dest schema is
        # captured (it rides to the corpus), and blocklisted domains
        # drop before the quality gates — the cheapest filter first
        n_url_blocked = 0
        if cfg.url_col is not None:
            from lakeflush_spark.operators.url import (
                parse_url,
                registrable_domain,
            )

            batch_df = batch_df.withColumn(
                "url_domain",
                registrable_domain(parse_url(F.col(cfg.url_col))["host"]),
            )
            if cfg.url_blocklist:
                hit = F.col("url_domain").isin(
                    *[str(d) for d in cfg.url_blocklist]
                )
                n_url_blocked = batch_df.where(hit).count()
                batch_df = batch_df.where(~F.coalesce(hit, F.lit(False)))
        input_cols = list(batch_df.columns)  # dest schema (pre-helper)
        cols1, gen2, clf_in_stage2 = quality_gate_stages(
            cfg.text_col,
            c4=cfg.c4_rules,
            gopher=cfg.gopher_rules,
            mt=cfg.mt_repetition_rules,
            mt_full=cfg.mt_full_table,
            clf_weights=cfg.classifier_weights,
            clf_threshold=cfg.classifier_threshold,
            metrics_prefix="_q_",
        )
        batch_df = batch_df.select("*", *cols1)
        cond = quality_keep_condition(
            F.col("_q_n_tokens"),
            F.col("_q_stop_ratio"),
            F.col("_q_lang_pred"),
            cfg.min_tokens,
            cfg.max_tokens,
            cfg.max_stopword_ratio,
            cfg.allowed_langs,
            gopher_flags_col=F.col("_q_gf") if cfg.gopher_rules else None,
            c4_flags_col=F.col("_q_cf") if cfg.c4_rules else None,
            mt_rep_flags_col=(
                F.col("_q_mf") if cfg.mt_repetition_rules else None
            ),
            classifier_pass_col=(
                F.col("_q_clf")
                if cfg.classifier_weights is not None and not clf_in_stage2
                else None
            ),
        )
        # every per-batch persist registers here; the outer finally
        # releases them even when a MID-BATCH action fails (a corrupt
        # file / executor loss must not pin batch-sized frames for the
        # stream's life)
        pins: list[DataFrame] = []

        def _pin(df: DataFrame) -> DataFrame:
            pins.append(df.persist())
            return pins[-1]

        try:
            # pin the flagged batch: every later stage derives from it,
            # and n_in/n_kept come from ONE aggregation over the cache
            src = _pin(batch_df.withColumn("_q_keep", cond))
            counts = src.agg(
                F.count(F.lit(1)).alias("n_in"),
                F.count(F.when(F.col("_q_keep"), 1)).alias("n_kept"),
            ).first()
            n_in, n_q_kept = int(counts.n_in), int(counts.n_kept)
            _mark("gate")
            kept = src.where(F.col("_q_keep")).drop(
                "_q_keep", "_q_n_tokens", "_q_stop_ratio", "_q_lang_pred",
                *GATE_COLS,
            )
            if gen2 is not None:
                # stage 2: coverage-dependent rules on stage-1
                # survivors only (read from the pinned batch) — BEFORE
                # the c4 rewrite, matching the batch pipeline (the
                # single-pass gate also read the pre-rewrite text)
                kept = _pin(
                    kept.select("*", F.inline(gen2))
                    .where(
                        stage2_keep_condition(
                            cfg.mt_repetition_rules, clf_in_stage2
                        )
                    )
                    .drop(*GATE_COLS)
                )
                n_q_kept = kept.count()
            n_filtered_in = n_q_kept
            if cfg.c4_rules:
                # batch-pipeline parity: survivors carry the C4
                # line-cleaned text into every dedup stage
                kept = kept.withColumn(
                    cfg.text_col, F.col("_c4_clean")
                ).drop("_c4_clean")
            if cfg.strip_dup_lines:
                from lakeflush_spark.functions.text import (
                    strip_duplicate_lines,
                )

                kept = kept.withColumn(
                    cfg.text_col, strip_duplicate_lines(cfg.text_col)
                )

            # 1b. optional static-LM quality gate — the pinned LM joins
            # each batch with the SAME pass predicate as the batch
            # pipeline (pipelines.lm_keep_condition), but against a
            # PRE-TRAINED model with an absolute threshold
            n_lm_filtered = 0
            if lm is not None:
                from lakeflush_spark.operators.lm_filter import lm_logprob_scores
                from lakeflush_spark.pipelines import lm_keep_condition

                kept = _pin(
                    lm_logprob_scores(
                        lm, kept, id_col=cfg.id_col, text_col=cfg.text_col,
                        buckets=cfg.lm_buckets, hash_fn=cfg.lm_hash_fn,
                    )
                    .where(
                        lm_keep_condition(
                            F.col("avg_logprob"), cfg.lm_min_logprob
                        )
                    )
                    .drop("avg_logprob")
                )
                n_filtered_in = kept.count()
                n_lm_filtered = n_q_kept - n_filtered_in

            # 1c. canonical-URL exact dedup (r12, the batch
            # url_exact_dedup twin): same page re-crawled under
            # different tracking params collapses — within batch, then
            # vs the URL-digest store, reusing the exact-dedup helpers
            # with the canonical-URL digest as the key. Unparseable
            # URLs (canonical '') are exempt from both checks.
            n_url_dup = None if not cfg.url_exact_dedup else 0
            if cfg.url_exact_dedup:
                from lakeflush_spark.operators.url import canonicalize_url

                ukeyed = _pin(
                    kept.withColumn(
                        "_ucanon", canonicalize_url(F.col(cfg.url_col))
                    ).withColumn(
                        "_digest",
                        F.when(
                            F.col("_ucanon") == "", F.lit(None)
                        ).otherwise(F.md5(F.col("_ucanon"))),
                    )
                )
                exempt = ukeyed.where(F.col("_digest").isNull())
                dedupable = ukeyed.where(F.col("_digest").isNotNull())
                ufresh = within_batch_exact(dedupable, cfg.id_col)
                useen = _read_store(sp, cfg.url_digest_dir, batch_id, run)
                ufresh = against_history_exact(ufresh, useen)
                kept = _pin(
                    ufresh.unionByName(exempt).drop("_ucanon", "_digest")
                )
                n_kept_after_url = kept.count()
                n_url_dup = n_filtered_in - n_kept_after_url
                n_filtered_in = n_kept_after_url

            # 2. exact dedup: within batch, then vs the digest store
            # (the same content_digest key builder as batch
            # exact_dedup_by_hash)
            keyed = kept.withColumn("_digest", content_digest([cfg.text_col]))
            fresh = within_batch_exact(keyed, cfg.id_col)
            seen = _read_store(sp, cfg.digest_dir, batch_id, run)
            if (
                seen is not None
                and cfg.digest_prefix_partitions
                and "_dp" in seen.columns
            ):
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
            # localCheckpoint (not _pin) for the same reason as `out`
            # below: everything downstream — minhash/bands, the
            # semantic stage, the boilerplate stage, decontam — plans
            # on top of this frame, and truncating the gate+history
            # lineage here keeps every later action's Catalyst/AQE
            # pass milliseconds instead of seconds. Eager: doubles as
            # the materialization the old pin+count pair did.
            fresh = against_history_exact(fresh, seen).localCheckpoint()
            n_exact = fresh.count()
            _mark("exact")

            # 3. near-dup vs the band/signature store; the id-only drop
            # set (bounded by batch size) feeds the anti-join AND stats.
            # r15 (guide §2.4, VERDICT r14 #7): the minhash pipeline
            # (shingle set + 128 hashes + band hashes per doc) used to
            # evaluate TWICE per batch — once building the nd-probe's
            # broadcast bands, once again inside the `out` checkpoint
            # (the sig-store write needs _sig/_band*). Checkpointing
            # the signed frame here runs it exactly once; `_sh` (the
            # body-sized shingle array) is dropped first — no consumer
            # reads it (verification is signature agreement, and the
            # dest write selects body columns only), so the checkpoint
            # carries signatures, not shingle bytes. Values unchanged.
            sigged = with_minhash(fresh, text_col=cfg.text_col).drop(
                "_sh"
            ).localCheckpoint()
            hist = _read_store(sp, cfg.sig_dir, batch_id, run)
            batch_bands = _bands_long(sigged, cfg.id_col)
            all_bands = batch_history_bands(batch_bands, hist)
            if cfg.near_dup_max_bucket is not None:
                # pinned: consumed by BOTH the drop join and the cap
                # stats below — one history read+prune, not two
                all_bands = _pin(all_bands)
            nd_dropped = _pin(
                near_dup_dropped_ids(
                    batch_bands,
                    hist,
                    cfg.near_dup_threshold,
                    cfg.near_dup_max_bucket,
                    cfg.near_dup_hot_bucket_mode,
                    cfg.id_col,
                    all_bands=all_bands,
                )
            )
            nd_count = nd_dropped.count()
            _mark("neardup")
            # cap observability (r6): what the hot-bucket cap trimmed
            # THIS batch (None columns when no cap is configured)
            n_hot = n_hot_over = None
            if cfg.near_dup_max_bucket is not None:
                hb = near_dup_hot_bucket_stats(
                    batch_bands, hist, cfg.near_dup_max_bucket,
                    all_bands=all_bands,
                ).first()
                n_hot = int(hb.n_hot_buckets)
                n_hot_over = int(
                    hb.n_rows_in_hot
                    if cfg.near_dup_hot_bucket_mode == "drop"
                    else hb.n_rows_over_cap
                )
            sigged = sigged.join(F.broadcast(nd_dropped), cfg.id_col, "left_anti")

            # 3b. semantic (SemDedup) near-dup vs the persisted vector
            # store — the batch pipeline's stage order (after lexical
            # near-dup, before decontamination), on the standalone
            # stream's per-batch helpers and store recipe
            # (streaming/semdedup.py): store-scoped centroid sidecar,
            # broadcast semi-join cell pruning (partition elimination
            # with sem_cell_partitions), one cell equi-join verify.
            n_sem = None if cfg.embedding_col is None else 0
            sem_indexed = None
            if cfg.embedding_col is not None:
                from lakeflush_spark.operators.similarity import prepare_vectors
                from lakeflush_spark.streaming.semdedup import (
                    assign_cells,
                    load_or_init_centroids,
                    pruned_history,
                    sem_dropped_ids,
                )

                # derive vectors from the PINNED pre-minhash frame
                # (fresh) minus the LSH drops rather than from
                # `sigged` — same survivor set (the anti-join key is
                # the id either way), but the semantic lineage then
                # reads the cache directly instead of re-planning the
                # minhash projection above it
                sem_vecs = prepare_vectors(
                    fresh.join(F.broadcast(nd_dropped), cfg.id_col, "left_anti"),
                    id_col=cfg.id_col,
                    vec_col=cfg.embedding_col,
                )
                n_cells = cfg.sem_n_cells
                if cfg.sem_expected_corpus is not None:
                    import math

                    n_cells = max(
                        cfg.sem_n_cells,
                        math.ceil(
                            cfg.sem_expected_corpus / cfg.sem_target_cell_rows
                        ),
                    )
                if _sem_cent_cache:
                    sem_cents = _sem_cent_cache[0]
                else:
                    sem_cents = load_or_init_centroids(
                        sp, cfg.sem_cent_dir, n_cells, sem_vecs
                    )
                    if sem_cents is not None:
                        sem_cents = sem_cents.localCheckpoint()
                        _sem_cent_cache.append(sem_cents)
                if sem_cents is not None:
                    # localCheckpoint: consumed by the verify join,
                    # the drop count, AND the store write — see the
                    # `fresh`/`out` lineage-cut notes
                    sem_indexed = assign_cells(
                        sem_vecs,
                        sem_cents,
                        cfg.sem_coarse_cells,
                        cfg.sem_coarse_probe,
                    ).localCheckpoint()
                    sem_hist = _read_store(sp, cfg.sem_vec_dir, batch_id, run)
                    sem_hist_cells = (
                        pruned_history(
                            sem_hist,
                            sem_indexed,
                            vec_dir=cfg.sem_vec_dir,
                            quantize_store=cfg.sem_quantize_store,
                            cell_partitions=cfg.sem_cell_partitions,
                        )
                        if sem_hist is not None
                        else None
                    )
                    sem_dropped = _pin(
                        sem_dropped_ids(
                            sem_indexed,
                            sem_hist_cells,
                            cfg.sem_threshold,
                            cfg.sem_max_cell,
                            cfg.sem_hot_cell_mode,
                        )
                    )
                    n_sem = sem_dropped.count()
                    _mark("semantic")
                    sigged = sigged.join(
                        F.broadcast(
                            sem_dropped.withColumnRenamed("vid", cfg.id_col)
                        ),
                        cfg.id_col,
                        "left_anti",
                    )

            # 3c. repeated-passage (boilerplate) stage vs the persisted
            # fp store — the batch pipeline's stage order (after
            # semantic, before decontam). THIS batch's hot-set decision
            # counts the whole post-semantic batch (pre-strip text); the
            # PERSISTED counts are recomputed from admitted docs only at
            # store-write time below. The threshold stays monotone over
            # the store's life (streaming/substring.py semantics).
            n_bp = None if cfg.bp_window is None else 0
            bp_counts = None
            if cfg.bp_window is not None:
                from lakeflush_spark.operators.substring_dedup import (
                    anchored_span_fps,
                    strip_spans_against,
                )
                from lakeflush_spark.streaming.substring import (
                    fp_store_frame,
                    pruned_fp_history,
                )

                # pinned: consumed by bp_counts, the drop-mode id set,
                # AND the admitted-only store recount — without the pin
                # each consumer re-runs the tokenize+md5 span explode
                # over the whole post-semantic batch
                bp_spans = _pin(
                    sigged.select(
                        F.col(cfg.id_col).alias("_id"),
                        F.explode(
                            anchored_span_fps(
                                cfg.text_col, cfg.bp_window, cfg.bp_stride
                            )
                        ).alias("fp"),
                    )
                )
                bp_counts = _pin(
                    bp_spans.groupBy("fp").agg(
                        F.countDistinct("_id").alias("n")
                    )
                )
                bp_hist = _read_store(sp, cfg.bp_fp_dir, batch_id, run)
                if bp_hist is not None:
                    bp_hist_counts = pruned_fp_history(
                        bp_hist,
                        bp_counts,
                        fp_dir=cfg.bp_fp_dir,
                        fp_prefix_partitions=cfg.bp_fp_prefix_partitions,
                    )
                    bp_totals = bp_counts.join(
                        bp_hist_counts, "fp", "left"
                    ).select(
                        "fp",
                        (
                            F.col("n") + F.coalesce(F.col("_hn"), F.lit(0))
                        ).alias("_tot"),
                    )
                else:
                    bp_totals = bp_counts.select(
                        "fp", F.col("n").alias("_tot")
                    )
                bp_hot = bp_totals.where(
                    F.col("_tot") >= cfg.bp_min_docs
                ).select("fp")
                if cfg.bp_action == "drop":
                    bp_bad = _pin(
                        bp_spans.join(F.broadcast(bp_hot), "fp", "semi")
                        .select(F.col("_id").alias(cfg.id_col))
                        .distinct()
                    )
                    n_bp = bp_bad.count()
                    sigged = sigged.join(
                        F.broadcast(bp_bad), cfg.id_col, "left_anti"
                    )
                else:
                    sigged = _pin(
                        strip_spans_against(
                            sigged,
                            bp_hot,
                            id_col=cfg.id_col,
                            text_col=cfg.text_col,
                            window=cfg.bp_window,
                            stride=cfg.bp_stride,
                        )
                    )
                    n_bp = sigged.where(F.col("n_stripped") > 0).count()

            # 4. decontamination vs the static broadcast eval grams
            if eval_grams is not None:
                doc_grams = sigged.select(
                    F.col(cfg.id_col),
                    F.explode(ngram_hash_set(F.col(cfg.text_col))).alias("_g"),
                )
                contaminated = (
                    doc_grams.join(F.broadcast(eval_grams), "_g")
                    .groupBy(cfg.id_col)
                    .agg(F.countDistinct("_g").alias("_ng"))
                    .where(F.col("_ng") >= cfg.decontam_min_common)
                    .select(cfg.id_col)
                )
                sigged = sigged.join(
                    F.broadcast(contaminated), cfg.id_col, "left_anti"
                )

            # 5. per-domain admission quota (r12): rank this batch's
            # survivors within their registrable domain by the
            # deterministic md5 order and admit only up to
            # cap - (history's admitted count for that domain). The
            # history frame is one row per domain (summed increments)
            # — broadcast-small; the rank is ONE window over the
            # already-filtered batch. Replay-safe: _read_store
            # excludes this batch's own prior crashed increment.
            n_dcap = None if cfg.url_domain_cap is None else 0
            if cfg.url_domain_cap is not None:
                from pyspark.sql import Window as _W

                hist_dc = _read_store(
                    sp, cfg.domain_count_dir, batch_id, run
                )
                dw = _W.partitionBy("url_domain").orderBy(
                    F.md5(
                        F.concat(
                            F.lit(f"{cfg.url_cap_seed}:"),
                            F.col(cfg.id_col).cast("string"),
                        )
                    ),
                    cfg.id_col,
                )
                ranked = sigged.withColumn("_dc_rn", F.row_number().over(dw))
                if hist_dc is not None:
                    histc = hist_dc.groupBy("url_domain").agg(
                        F.sum("n").alias("_dc_hist")
                    )
                    ranked = ranked.join(
                        F.broadcast(histc), "url_domain", "left"
                    )
                else:
                    ranked = ranked.withColumn(
                        "_dc_hist", F.lit(None).cast("bigint")
                    )
                keep_dc = F.col("_dc_rn") <= (
                    F.lit(int(cfg.url_domain_cap))
                    - F.coalesce(F.col("_dc_hist"), F.lit(0))
                )
                ranked = _pin(ranked.withColumn("_dc_keep", keep_dc))
                n_dcap = ranked.where(~F.col("_dc_keep")).count()
                sigged = ranked.where(F.col("_dc_keep")).drop(
                    "_dc_rn", "_dc_hist", "_dc_keep"
                )

            # `_sh` was already dropped at the sigged checkpoint (r15).
            # localCheckpoint, NOT persist (r11): `out` fans into FOUR
            # store writes plus the count, and a persisted frame keeps
            # its full logical lineage — every one of those actions
            # re-ran Catalyst+AQE over the entire batch plan (the
            # ~250-node gate/dedup/semantic tree), measured 2-4.5 s of
            # DRIVER time per write. The checkpoint truncates lineage
            # to a Scan ExistingRDD, so each write plans in
            # milliseconds; blocks are executor-resident and freed on
            # GC (the pipelines.py localCheckpoint convention).
            out = (
                sigged
                .withColumn("run", F.lit(run))
                .withColumn("batch", F.lit(int(batch_id)))
                .localCheckpoint()
            )
            n_out = out.count()
            _mark("out_count")
            body_cols = [c for c in input_cols] + ["run", "batch"]
            if "n_stripped" in out.columns:
                body_cols.insert(-2, "n_stripped")
            # the admitted-batch store writes below (dest/domains/
            # url-digest/boilerplate/digest/sig/vector) are INDEPENDENT
            # jobs — different dest dirs, each a dynamic (run,batch)
            # overwrite over frames derived from the checkpointed
            # `out` — run sequentially they cost their sum (~1.5
            # s/batch of the warm stream's fixed overhead), so they run
            # through one overlap() call, which returns only after
            # every write has finished. The stats write stays LAST
            # deliberately: it summarizes the batch, so a crash
            # mid-batch leaves stores without a stats row (the
            # recoverable direction) rather than a stats row
            # describing missing stores. Frames are all CONSTRUCTED
            # (lazily, driver-side) before the first write starts, so
            # a construction error cannot orphan a write.
            _writes = [
                (out.select(*body_cols), cfg.dest_dir, {"nrows": n_out})
            ]
            if cfg.url_domain_cap is not None:
                # admission increments for ADMITTED docs only (out) —
                # the stores-describe-the-corpus principle; one row per
                # domain per batch
                _writes.append((
                    out.groupBy("url_domain")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .withColumn("run", F.lit(run))
                    .withColumn("batch", F.lit(int(batch_id))),
                    cfg.domain_count_dir,
                    {"nrows": 1},
                ))
            if cfg.url_exact_dedup:
                # canonical-URL digests for ADMITTED docs only (the
                # stores-describe-the-corpus principle); unparseable
                # URLs contribute no row
                from lakeflush_spark.operators.url import canonicalize_url

                _writes.append((
                    out.withColumn(
                        "_ucanon", canonicalize_url(F.col(cfg.url_col))
                    )
                    .where(F.col("_ucanon") != "")
                    .select(F.md5("_ucanon").alias("_digest"))
                    .withColumn("run", F.lit(run))
                    .withColumn("batch", F.lit(int(batch_id))),
                    cfg.url_digest_dir,
                    {"nrows": n_out},
                ))
            if bp_counts is not None:
                # PERSISTED counts cover only ADMITTED docs' (pre-strip)
                # passages — the stores-describe-the-corpus principle: a
                # contaminated/dropped doc's passages must not advance
                # the threshold for clean future arrivals. Recomputed
                # from the span frame semi-joined to out's ids (NOT by
                # filtering the aggregated bp_counts — a countDistinct
                # that included a dropped doc would over-count).
                bp_store_counts = (
                    bp_spans.join(
                        F.broadcast(
                            out.select(F.col(cfg.id_col).alias("_id"))
                        ),
                        "_id",
                        "semi",
                    )
                    .groupBy("fp")
                    .agg(F.countDistinct("_id").alias("n"))
                )
                bp_store_rows, bp_extra = fp_store_frame(
                    bp_store_counts, cfg.bp_fp_prefix_partitions
                )
                _writes.append((
                    bp_store_rows.withColumn("run", F.lit(run)).withColumn(
                        "batch", F.lit(int(batch_id))
                    ),
                    cfg.bp_fp_dir,
                    # fp rows per admitted doc are bounded (anchor
                    # stride) — n_out is a sizing proxy, not a count
                    {"parts": ("run", "batch", *bp_extra), "nrows": n_out},
                ))
            if cfg.digest_prefix_partitions:
                _writes.append((
                    out.select("_digest", "run", "batch").withColumn(
                        "_dp", F.substring("_digest", 1, 2)
                    ),
                    cfg.digest_dir,
                    {"parts": ("run", "batch", "_dp"), "nrows": n_out},
                ))
            else:
                _writes.append((
                    out.select("_digest", "run", "batch"),
                    cfg.digest_dir,
                    {"nrows": n_out},
                ))
            from lakeflush_spark.operators.dedup import MINHASH_BANDS

            _writes.append((
                _bands_long(out, cfg.id_col)
                .withColumn("run", F.lit(run))
                .withColumn("batch", F.lit(int(batch_id))),
                cfg.sig_dir,
                {"nrows": n_out * MINHASH_BANDS},
            ))
            if sem_indexed is not None:
                # vector store rows for ADMITTED docs only (out — i.e.
                # survivors of the semantic AND decontam stages): the
                # stores-describe-the-corpus principle, so a future
                # copy of a contaminated doc is not "deduped" against
                # a row that never entered the corpus
                from lakeflush_spark.streaming.semdedup import store_frame

                admitted = sem_indexed.join(
                    out.select(F.col(cfg.id_col).alias("vid")), "vid", "semi"
                )
                sem_store, sem_extra = store_frame(
                    admitted, cfg.sem_quantize_store, cfg.sem_cell_partitions
                )
                _writes.append((
                    sem_store.withColumn("run", F.lit(run)).withColumn(
                        "batch", F.lit(int(batch_id))
                    ),
                    cfg.sem_vec_dir,
                    # admitted vectors ⊆ out
                    {"parts": ("run", "batch", *sem_extra), "nrows": n_out},
                ))
            # every store write lands before the stats row
            overlap(*(
                functools.partial(_writer, _df, _dir, **_kw)
                for _df, _dir, _kw in _writes
            ))
            _mark("w_stores")
            from lakeflush_spark.io import local_rows_df

            stats = local_rows_df(
                sp,
                [
                    (
                        run,
                        int(batch_id),
                        n_in,
                        n_in - n_q_kept,
                        n_lm_filtered,
                        n_filtered_in - n_exact,
                        nd_count,
                        n_sem,
                        n_bp,
                        # residual: what the decontam stage removed
                        # (every other drop is counted explicitly)
                        n_exact
                        - n_out
                        - nd_count
                        - (n_sem or 0)
                        - (n_bp or 0 if cfg.bp_action == "drop" else 0)
                        - (n_dcap or 0),
                        n_out,
                        n_hot,
                        n_hot_over,
                        # r12 URL stages; n_in counts post-blocklist
                        # arrivals, so raw arrivals = n_in + blocked
                        n_url_blocked,
                        n_dcap,
                        n_url_dup,
                    )
                ],
                "run string, batch long, n_in long, n_filtered long, "
                "n_lm_filtered long, n_exact_dup long, n_near_dup long, "
                "n_sem_dup long, n_boilerplate long, n_contaminated long, "
                "n_out long, n_hot_buckets long, n_hot_rows_trimmed long, "
                "n_url_blocked long, n_domain_capped long, n_url_dup long",
            )
            _writer(stats, cfg.stats_dir, nrows=1)
            _mark("w_stats")
            _mark("writes")
            if _dbg:
                import json as _json

                print(
                    "STREAM_PHASES "
                    + _json.dumps({"batch": int(batch_id), **_phases}),
                    file=_sys.stderr,
                    flush=True,
                )
        finally:
            for p in reversed(pins):
                p.unpersist()

    query = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    pinned = [f for f in (eval_grams, lm) if f is not None]
    if pinned:
        # tie the pinned static frames' (eval grams, LM) lifetime to
        # THIS query: release them (and the listener) when the query
        # terminates, so repeated curate_stream launches in a
        # long-lived session (the AvailableNow catch-up pattern) never
        # accumulate cached relations
        import threading

        from pyspark.sql.streaming import StreamingQueryListener

        qid = query.id
        released = threading.Lock()  # acquired once: first releaser wins

        class _ReleaseStaticFrames(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def _release(self):
                if released.acquire(blocking=False):
                    try:
                        for f in pinned:
                            f.unpersist()
                    finally:
                        try:
                            spark.streams.removeListener(self)
                        except Exception:  # noqa: BLE001 - already removed
                            pass

            def onQueryTerminated(self, event):
                if str(event.id) == str(qid):
                    self._release()

        listener = _ReleaseStaticFrames()
        spark.streams.addListener(listener)
        # the query can terminate (AvailableNow with nothing to do)
        # BEFORE the listener registers — its terminated event would
        # then never fire for us. Check after registering: either the
        # event will arrive (registered in time) or we release here;
        # the once-lock makes the two paths race-safe.
        if not query.isActive:
            listener._release()
    return query


def compact_domain_store(
    spark: SparkSession, domain_dir: str, dest_dir: str
) -> None:
    """Offline compaction of a per-domain admission-count store
    (``domain_count_dir`` — VERDICT r12 #5: the one persisted store
    without a ``compact_*`` sibling). Per-batch ``(url_domain, n)``
    increments merge losslessly into ONE row per domain per run under
    a synthetic ``batch=-1`` partition; counts are summable, so every
    future quota decision (``cap - Σ history``) is identical against
    the compacted copy.

    The ``compact_fp_store`` contract, verbatim:

    - ``dest_dir`` must not exist (mode=error) — compaction never
      rewrites a store in place while streams may be reading it; swap
      ``cfg.domain_count_dir`` between runs.
    - Each run's HIGHEST batch partition is kept VERBATIM — only that
      batch can be a crashed attempt awaiting foreachBatch replay, and
      the replay must still find/exclude its own ``(run, batch)``
      partition. Batch ids are ≥ 0, so replay exclusion and dynamic
      overwrite can never touch ``batch=-1``.
    - Idempotent and composable: re-compacting folds existing
      ``batch=-1`` rows in again.
    """
    df = spark.read.option("basePath", domain_dir).parquet(domain_dir)
    # inference-proof partition types (the _read_store contract)
    df = df.withColumn("run", F.col("run").cast("string")).withColumn(
        "batch", F.col("batch").cast("bigint")
    )
    maxb = df.groupBy("run").agg(F.max("batch").alias("_mb"))
    tagged = df.join(F.broadcast(maxb), "run")
    keep = tagged.where(F.col("batch") == F.col("_mb")).select(
        "url_domain", "n", "run", "batch"
    )
    merged = (
        tagged.where(F.col("batch") != F.col("_mb"))
        .groupBy("run", "url_domain")
        .agg(F.sum("n").alias("n"))
        .withColumn("batch", F.lit(-1))
        .select("url_domain", "n", "run", "batch")
    )
    keep.unionByName(merged).write.mode("error").partitionBy(
        "run", "batch"
    ).parquet(dest_dir)
