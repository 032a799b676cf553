"""End-to-end training-data curation pipeline.

Composes the engine's text-analysis and dedup operators into the
standard LLM-corpus preparation flow:

    raw documents
      -> optional URL gates (registrable-domain blocklist first;
         canonical-URL exact dedup before content dedup — r12)
      -> quality metrics (token count, stopword ratio, language ID)
      -> filter (length / language / quality gates)
      -> exact dedup (content hash)
      -> near-dup removal (MinHash+LSH candidate pairs; greedy,
         iterative chain-preserving, or one-per-cluster resolution;
         optional hot-bucket cap)
      -> optional LM-perplexity gate (self-trained bigram LM,
         quantile cut — drops the gibberish/boilerplate tail)
      -> optional SemDedup (embedding-space near-dup, IVF-cell
         cluster-then-compare — catches semantic rephrasings)
      -> optional repeated-passage (boilerplate) removal
      -> optional eval-set decontamination (broadcast n-gram probe)
      -> curated corpus + per-stage stats

Scale design:

- Metrics are map-only JVM projections (functions/text.py) — no
  shuffle, no Python.
- Per-stage counts come from ONE aggregation over stage flags, not a
  count() action per stage (four extra full scans at 100 TB).
- Exact dedup shuffles 16-byte digests on the content hash, never
  document bodies (operators/dedup.exact_dedup_by_hash), with a
  deterministic min-id winner.
- Near-dup uses the LSH band join (operators/dedup.py), so candidate
  generation is an equi-join, never all-pairs. The greedy resolution
  ("drop every doc that pairs with a lower-id survivor") is one
  semi-join; it approximates connected components without iteration —
  iterative CC over pair graphs is available offline if exactness
  matters more than a single-pass pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from lakeflush_spark.operators.decontaminate import decontaminate
from lakeflush_spark.operators.dedup import exact_dedup_by_hash, minhash_near_dups


@dataclass
class CurationConfig:
    min_tokens: int = 5
    max_tokens: int = 100_000
    max_stopword_ratio: float = 0.9
    allowed_langs: tuple[str, ...] | None = None  # None = keep all
    #: True = additionally require all seven published Gopher rules
    #: (operators/quality.gopher_flags == 0) in the quality gate —
    #: word-count/word-length bounds, symbol/bullet/ellipsis ratios,
    #: alpha-word ratio, stop-word presence. Off by default: the rules
    #: assume natural-language prose and would gut code corpora.
    gopher_rules: bool = False
    #: True = C4 cleanup (Raffel et al. 2020 §2.2, operators/quality):
    #: pages failing the C4 page rules (< 3 sentences on retained
    #: lines, 'lorem ipsum', '{') are dropped in the quality gate, and
    #: SURVIVORS' text is rewritten to its line-filtered form before
    #: any dedup stage — so dedup keys/shingles see the cleaned text.
    #: The annotation metrics (n_tokens/stop_ratio/lang_pred) describe
    #: the PRE-clean text (the strip-mode precedent). Off by default
    #: for the same reason as gopher_rules: assumes prose.
    c4_rules: bool = False
    #: True = additionally require all seven MassiveText repetition
    #: rules (operators/quality.massivetext_repetition_flags == 0) in
    #: the quality gate — duplicate line/paragraph fractions and
    #: char fractions, top-2/3/4-gram char coverage. Off by default
    #: (prose assumption, like gopher_rules).
    mt_repetition_rules: bool = False
    #: with mt_repetition_rules: gate on the FULL 13-rule table
    #: (adds the dup-5..10-gram positional-union char fractions —
    #: ~6x the bitmask's per-doc cost; see operators/quality)
    mt_full_table: bool = False
    #: True = rewrite surviving docs keeping only the FIRST occurrence
    #: of each line (functions/text.strip_duplicate_lines — the
    #: MassiveText in-document repetition scrub). Runs after the C4
    #: rewrite (when both are on) and before any dedup stage, so
    #: dedup keys see the scrubbed text. Map-only.
    strip_dup_lines: bool = False
    #: True = the input text_col holds raw HTML: rewrite it through
    #: the library-free extractor (functions/html.html_to_text —
    #: strip comment/script/style blocks, block tags to newlines,
    #: entity decode, whitespace normalize) BEFORE any metric, gate,
    #: or dedup stage sees it. Map-only regexp chain, scan speed.
    html_input: bool = False
    #: optional PRE-TRAINED quality-classifier gate (operators/
    #: quality_classifier.train_quality_classifier's weight dict):
    #: docs scoring below ``classifier_threshold`` drop in the quality
    #: gate — the GPT-3 appendix-A recipe, map-only inference. None
    #: disables. Train offline on reference-vs-raw samples.
    classifier_weights: "dict[str, float] | None" = None
    classifier_threshold: float = 0.5
    near_dup_threshold: float = 0.85  # Jaccard on 3-shingles
    #: 0 = single-pass greedy resolution (drop every doc that pairs with
    #: a lower id). N > 0 = N rounds of iterative independent-set
    #: resolution over the near-dup pair graph: each round keeps the
    #: docs with no lower-id active neighbor and drops only their DIRECT
    #: neighbors, so a chain A~B~C (with A~C not similar) keeps A AND C
    #: instead of over-deleting C. A chain of length L fully resolves in
    #: ~L/2 rounds; unresolved edges after the budget keep both ends
    #: (conservative: never over-delete).
    cc_iterations: int = 0
    #: True = resolve near-dups by FULL connected components
    #: (operators/dedup.near_dup_clusters): exactly one survivor (the
    #: min id) per component — the published "keep one per cluster"
    #: recipe. Stricter than cc_iterations (a chain A~B~C keeps only
    #: A) and exact regardless of chain length; costs O(log diameter)
    #: edges-only join rounds (min-label propagation + per-round
    #: pointer jumping). Mutually exclusive with cc_iterations.
    cluster_resolution: bool = False
    #: round budget for cluster_resolution: with pointer jumping a
    #: component of diameter D converges in ~log2(D) rounds, so the
    #: default 20 covers astronomically long chains; near_dup_clusters
    #: raises (never silently partial) if the budget is somehow
    #: exceeded.
    cluster_max_iters: int = 20
    #: with cluster_resolution: name of a column on the input frame to
    #: keep the BEST member of each cluster by (argmax, min-id ties —
    #: operators/dedup.cluster_representatives), instead of the min-id
    #: member. The FineWeb-style refinement: near-dup clusters mix a
    #: clean original with mangled copies, and the kept doc should be
    #: the highest-quality one, e.g. a classifier score or n_chars.
    #: None = keep the min-id member (the published default).
    cluster_keep_best: str | None = None
    #: bound LSH band buckets at this size before the near-dup
    #: self-join (operators/dedup._cap_hot_buckets): one boilerplate
    #: bucket of B docs otherwise costs O(B²) candidate pairs — the
    #: only quadratic risk in the pipeline at 100 TB. None = uncapped.
    near_dup_max_bucket: int | None = None
    #: what to do with over-cap buckets: "drop" removes them (docs in
    #: dropped buckets are boilerplate by construction — enable the
    #: repeated-passage stage to catch them); "sample" keeps a
    #: content-deterministic near_dup_max_bucket-row sample, retaining
    #: partial recall on legitimately hot keys at the same ≤cap² pair
    #: bound.
    near_dup_hot_bucket_mode: str = "drop"
    #: act on documents containing a cross-document repeated passage
    #: (operators/substring_dedup.py) of at least this many tokens;
    #: None disables the stage. Catches boilerplate/license blocks that
    #: whole-doc similarity misses when surrounding text differs.
    drop_repeated_passage_window: int | None = None
    #: anchor stride for the repeated-passage probe (see substring_dedup)
    repeated_passage_stride: int = 8
    #: "drop" removes flagged documents entirely; "strip" keeps them
    #: but REWRITES the text with the repeated passage removed
    #: (strip_repeated_spans — right when the boilerplate wraps unique
    #: content; adds an n_stripped column, and note the earlier
    #: n_tokens/quality metrics describe the PRE-strip text)
    repeated_passage_action: str = "drop"
    #: optional SemDedup stage (operators/similarity.semantic_dedup*):
    #: name of an array<float> embedding column on the input frame —
    #: docs whose embeddings near-coincide (within-IVF-cell cosine ≥
    #: sem_threshold) are deduped to the min id, catching semantic
    #: rephrasings text-level shingles miss. None disables the stage.
    embedding_col: str | None = None
    #: derive the SemDedup / cluster-balance vectors IN-ENGINE when
    #: the corpus has no embedding column: hashed-TF embeddings of
    #: this many buckets (operators/featurize.py — the model-free
    #: tier) are computed from ``text_col`` and feed the semantic
    #: stages. Ignored when ``embedding_col`` is set; None disables.
    #: Coarser than model embeddings — catches lexical rephrasings and
    #: template near-dups, not deep paraphrase.
    hashed_embedding_dim: int | None = None
    sem_threshold: float = 0.9
    #: IVF cell count for the SemDedup quantizer; grow with the corpus
    #: so within-cell comparison (Σ|cell|²) stays bounded
    sem_n_cells: int = 16
    #: opt into two-level (coarse->fine) assignment once sem_n_cells
    #: reaches the corpus-proportional regime (operators/similarity
    #: section comment): bounds the per-vector centroid scan at
    #: ~(coarse + n/coarse); approximate at coarse boundaries
    sem_coarse_cells: int | None = None
    #: optional cluster-balanced quota (requires embedding_col): after
    #: the SemDedup stage, keep at most this many docs per quantizer
    #: cell — the Sorscher et al. 2022 per-cluster pruning recipe, so
    #: no topic/mode dominates the curated set. Uses sem_n_cells cells.
    #: None disables.
    cluster_balance_cap: int | None = None
    #: member choice within a cell: "hash" (deterministic uniform),
    #: "prototype" (most central first), "outlier" (hardest first —
    #: the paper's big-data prescription)
    cluster_balance_rank: str = "hash"
    #: optional LM-perplexity gate (operators/lm_filter.py, the CCNet
    #: recipe with an in-engine bigram LM): after dedup, train the LM
    #: on the surviving corpus, score every doc, and drop the bottom
    #: ``lm_filter_quantile`` fraction by mean bigram log-probability
    #: (the gibberish/boilerplate tail). None disables. 0.05 drops the
    #: worst 5%.
    lm_filter_quantile: float | None = None
    #: hash-bucket count for the LM vocabulary (bounds all LM state)
    lm_buckets: int = 1 << 20
    #: word-n-gram width for the optional eval-set decontamination
    #: stage (only used when ``curate_documents`` receives eval_docs)
    decontam_n: int = 13
    #: min DISTINCT contaminated grams to drop a doc (see
    #: operators/decontaminate.decontaminate)
    decontam_min_common: int = 1
    #: optional URL-curation stages (operators/url.py — the C4/
    #: RefinedWeb URL-filtering front gate, r12): name of a URL column
    #: on the input frame. When set, a ``url_domain`` annotation column
    #: (registrable domain, multi-part-suffix aware) is attached up
    #: front and kept on the output for downstream policies. None
    #: disables both URL stages.
    url_col: str | None = None
    #: registrable domains dropped outright BEFORE any other stage
    #: (map-only filter — the cheapest gate runs first, as crawl
    #: pipelines do); docs with an unparseable URL are kept (their
    #: domain is '').
    url_blocklist: tuple = ()
    #: keep at most this many docs per registrable domain, decided by
    #: deterministic md5 order (domain_cap_sample) AFTER the dedup/
    #: semantic stages — capping the clean pool shuffles far fewer
    #: rows than capping the raw crawl, and dedup already collapsed
    #: the mass a mega-domain contributes. None disables.
    url_domain_cap: int | None = None
    url_cap_seed: str = "0"
    #: True = dedup on the CANONICAL URL (canonicalize_url) before the
    #: text exact-dedup stage — the same page re-crawled under
    #: different tracking params / host casing collapses to the min-id
    #: copy even when its text drifted between fetches. Docs whose URL
    #: has no parseable scheme (canonical '') are exempt (never
    #: collapsed into one bucket). Digest-only shuffle, like the text
    #: stage.
    url_exact_dedup: bool = False
    #: optional DSIR targeted-selection stage (operators/dsir.py — Xie
    #: et al. 2023 importance resampling): as the LAST stage, keep the
    #: top ``dsir_keep_frac`` fraction of the surviving corpus by
    #: Gumbel-perturbed importance weight toward the ``dsir_target``
    #: frame passed to ``curate_documents`` (same id/text columns —
    #: the in-domain sample the selected corpus should resemble).
    #: None disables. Batch pipeline only: the selection calibrates a
    #: global percentile, which has no incremental analog
    #: (``dsir_select`` with a frozen threshold is the streamable
    #: form). Selection runs after dedup/decontamination so weights
    #: are computed over — and the fraction applies to — the CLEAN
    #: pool.
    dsir_keep_frac: float | None = None
    #: hashed feature space for the DSIR bag-of-words models (bounds
    #: both count tables regardless of corpus size)
    dsir_buckets: int = 1 << 16
    dsir_seed: str = "0"
    #: "xxhash64" (fast JVM path) or "md5" (cross-engine mode)
    dsir_hash_fn: str = "xxhash64"
    id_col: str = "doc_id"
    text_col: str = "text"


def quality_gate_inline(
    text_col: str,
    *,
    c4: bool = False,
    gopher: bool = False,
    mt: bool = False,
    mt_full: bool = False,
    clf_weights: "dict[str, float] | None" = None,
    clf_threshold: float = 0.5,
    metrics_prefix: str = "",
):
    """THE quality stage's annotation as ONE fused generator (r10):
    ``array<struct>`` for ``F.inline()`` producing the metric columns
    ``{prefix}n_tokens / {prefix}stop_ratio / {prefix}lang_pred`` plus
    (per enabled gate) ``_c4_clean``+``_q_cf``, ``_q_gf``, ``_q_mf``,
    and the classifier boolean ``_q_clf`` — all evaluated over ONE
    bound set of shared text views (tokens/words/lines/paragraphs and,
    only when a gate needs them, the gram arrays + top-k coverages).

    Shared by batch (``curate_documents``) and stream
    (``streaming/curation.py``) so the two gates cannot drift — and so
    neither pays the un-fused cost: with gopher+c4+mt+classifier on,
    the old inline expressions re-split the text per gate and ran the
    coverage folds up to three times (mt bits, clf top-k features).
    Values are bit-identical to the un-fused expressions (same
    arithmetic over bound views; the A/B and oracle hashes pin the
    building blocks).
    """
    from lakeflush_spark.functions.text import (
        c4_keep_line,
        lang_id_from,
        stopword_ratio_from,
    )
    from lakeflush_spark.operators.quality import (
        _c4_flags_from,
        _gopher_flags_from,
        _mt_flags_from_views,
        quality_views_inline,
    )
    from lakeflush_spark.operators.quality_classifier import (
        _COV_FEATURES,
        _scaled,
        _view_feature_exprs,
        FEATURE_COLS,
        INTERCEPT_KEY,
    )

    clf_active = [
        c
        for c in FEATURE_COLS
        if clf_weights and float(clf_weights.get(c, 0.0)) != 0.0
    ]
    need_covs = mt or bool(_COV_FEATURES & set(clf_active))

    def clf_field(v: dict) -> "F.Column":
        z = F.lit(float(clf_weights.get(INTERCEPT_KEY, 0.0)))
        for c in clf_active:
            z = z + F.lit(float(clf_weights[c])) * _scaled(
                c, _view_feature_exprs(v, c)
            )
        score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        return (score >= clf_threshold).alias("_q_clf")

    def build(v: dict) -> "F.Column":
        fields = [
            F.size(v["tk"]).cast("bigint").alias(f"{metrics_prefix}n_tokens"),
            stopword_ratio_from(v["tk"]).alias(f"{metrics_prefix}stop_ratio"),
            lang_id_from(v["tk"]).alias(f"{metrics_prefix}lang_pred"),
        ]
        if c4:
            clean = F.concat_ws("\n", F.filter(v["ls"], c4_keep_line))
            fields.append(clean.alias("_c4_clean"))
            fields.append(_c4_flags_from(clean, v["raw"]).alias("_q_cf"))
        if gopher:
            fields.append(
                _gopher_flags_from(v["raw"], v["ws"], v["ls"]).alias("_q_gf")
            )
        if mt:
            fields.append(
                _mt_flags_from_views(v, full_table=mt_full).alias("_q_mf")
            )
        if clf_weights is not None:
            fields.append(clf_field(v))
        return F.struct(*fields)

    return quality_views_inline(build, text_col, covs=need_covs)


def quality_gate_stages(
    text_col: str,
    *,
    c4: bool = False,
    gopher: bool = False,
    mt: bool = False,
    mt_full: bool = False,
    clf_weights: "dict[str, float] | None" = None,
    clf_threshold: float = 0.5,
    metrics_prefix: str = "",
):
    """STAGED (short-circuit) form of the curation quality gate —
    returns ``(stage1_cols, stage2_gen, clf_in_stage2)``.

    Stage 1 is every CHEAP rule — the metric columns, the Gopher and
    C4 bitmasks, the MT duplicate-line/paragraph bits (``_q_mf`` —
    bits 0-3 only), and the classifier when none of its nonzero
    weights reads a gram coverage — as a list of DIRECT column
    expressions (attach with ``df.select("*", *stage1_cols)``), NOT a
    fused generator: the r11 A/B measured the ``inline()`` generator
    4x slower per row than direct expressions on this cheap field set
    (the interpreted array<struct> boxing costs more than the token
    re-splits it saves), and in the stream its fat subtree re-entered
    every per-batch action's plan analysis. Direct expressions restore
    the pre-fusion fast path and stay codegen-eligible. Stage 2 (None
    when nothing expensive is enabled) holds the coverage-dependent
    rules: the MT top-k-gram bits as ``_q_mf2`` (bits 4-6, plus the
    full 13-rule table's dup-k-gram bits) and the classifier when it
    needs coverage features (``clf_in_stage2`` tells the caller which
    stage scored it) — THERE the fused generator stays, because the
    gram arrays and coverage folds dominate per-row cost and are
    shared across the MT bits and classifier features.

    Filtering on stage 1 BEFORE attaching stage 2 means the coverage
    folds — the dominant per-doc curation compute at 100 TB — run only
    on documents that survived every cheap rule; most dropped docs
    fail a cheap rule, so the saving is roughly (1 - survivor
    fraction) of the expensive panel. The kept set is IDENTICAL to the
    single-pass gate: the gate is a pure conjunction and the bitmask
    split is exact (``_q_mf + _q_mf2 == massivetext_repetition_flags``
    by construction — operators/quality._mt_unit_bits_from /
    _mt_cov_bits_from). The stage-1 Filter sits below the stage-2
    Generate, and Catalyst cannot (and must not) reorder a generator
    above a filter on columns the generator doesn't produce.
    """
    from lakeflush_spark.functions.text import (
        bind,
        c4_clean,
        doc_lines,
        doc_paragraphs,
        lang_id,
        stopword_ratio,
        token_count,
    )
    from lakeflush_spark.operators.quality import (
        _c4_flags_from,
        _mt_cov_bits_from,
        _mt_unit_bits_from,
        gopher_flags,
        quality_views_inline,
    )
    from lakeflush_spark.operators.quality_classifier import (
        _COV_FEATURES,
        _scaled,
        _view_feature_exprs,
        FEATURE_COLS,
        INTERCEPT_KEY,
        quality_score_from_text,
    )

    clf_active = [
        c
        for c in FEATURE_COLS
        if clf_weights and float(clf_weights.get(c, 0.0)) != 0.0
    ]
    clf_in_stage2 = clf_weights is not None and bool(
        _COV_FEATURES & set(clf_active)
    )

    raw = F.col(text_col) if isinstance(text_col, str) else text_col
    cols1 = [
        token_count(text_col).alias(f"{metrics_prefix}n_tokens"),
        stopword_ratio(text_col).alias(f"{metrics_prefix}stop_ratio"),
        lang_id(text_col).alias(f"{metrics_prefix}lang_pred"),
    ]
    if c4:
        # the shared clean expression feeds BOTH the flags bit and the
        # survivor rewrite (single source of truth; Catalyst inlines it
        # through filter pushdown — the documented pre-fusion floor)
        clean = c4_clean(text_col)
        cols1.append(clean.alias("_c4_clean"))
        cols1.append(_c4_flags_from(clean, raw).alias("_q_cf"))
    if gopher:
        cols1.append(gopher_flags(text_col).alias("_q_gf"))
    if mt:
        cols1.append(
            bind(
                doc_lines(text_col),
                lambda ls: bind(
                    doc_paragraphs(text_col),
                    lambda ps: _mt_unit_bits_from(ls, ps),
                ),
            ).alias("_q_mf")
        )
    if clf_weights is not None and not clf_in_stage2:
        cols1.append(
            (
                quality_score_from_text(clf_weights, text_col)
                >= clf_threshold
            ).alias("_q_clf")
        )

    if not mt and not clf_in_stage2:
        return cols1, None, False

    def build2(v: dict) -> "F.Column":
        fields = []
        if mt:
            fields.append(
                _mt_cov_bits_from(
                    v["raw"], v["tk"], v["c2"], v["c3"], v["c4"],
                    full_table=mt_full,
                ).alias("_q_mf2")
            )
        if clf_in_stage2:
            z = F.lit(float(clf_weights.get(INTERCEPT_KEY, 0.0)))
            for c in clf_active:
                z = z + F.lit(float(clf_weights[c])) * _scaled(
                    c, _view_feature_exprs(v, c)
                )
            score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            fields.append((score >= clf_threshold).alias("_q_clf"))
        return F.struct(*fields)

    return cols1, quality_views_inline(build2, text_col, covs=True), clf_in_stage2


def stage2_keep_condition(mt: bool, clf_in_stage2: bool) -> "F.Column":
    """The stage-2 keep predicate matching
    :func:`quality_gate_stages`'s second generator — shared by batch
    and stream so the staged gates cannot drift."""
    keep = F.lit(True)
    if mt:
        keep = keep & (F.col("_q_mf2") == 0)
    if clf_in_stage2:
        keep = keep & F.col("_q_clf")
    return keep


#: gate-internal columns quality_gate_inline / quality_gate_stages may
#: add — drop post-filter (_q_mf2 is the staged gate's coverage bits)
GATE_COLS = ("_q_gf", "_q_cf", "_q_mf", "_q_mf2", "_q_clf")


def gate_clash_check(
    caller: str, columns: list[str], metrics_prefix: str = "", extra: tuple = ()
) -> None:
    """Fail fast if the input frame already carries ANY column the
    fused gate will add — the metric columns, the gate bitmasks
    (GATE_COLS), and the ``_c4_clean`` rewrite field. Without this, a
    frame from an aborted run that kept e.g. ``_c4_clean`` produces
    duplicate names and a downstream AMBIGUOUS_REFERENCE far from the
    cause. Reserves ALL gate names regardless of which gates are
    enabled: the cheap guard beats a config-dependent one that stops
    protecting when a gate is toggled off."""
    reserved = {
        f"{metrics_prefix}n_tokens",
        f"{metrics_prefix}stop_ratio",
        f"{metrics_prefix}lang_pred",
        "_c4_clean",
        *GATE_COLS,
        *extra,
    }
    clash = reserved & set(columns)
    if clash:
        raise ValueError(
            f"{caller}: input already has gate/metric column(s) "
            f"{sorted(clash)} — drop or rename them first"
        )


def lm_keep_condition(avg_logprob: "F.Column", threshold: float) -> "F.Column":
    """THE LM-gate predicate, shared by the batch quantile gate and the
    stream's absolute-threshold gate: NULL scores (< 2 tokens) PASS —
    length policy belongs to min_tokens, not the LM."""
    return avg_logprob.isNull() | (avg_logprob >= threshold)


def quality_keep_condition(
    n_tokens: "F.Column",
    stop_ratio: "F.Column",
    lang_pred: "F.Column",
    min_tokens: int | None,
    max_tokens: int | None,
    max_stopword_ratio: float | None,
    allowed_langs: tuple[str, ...] | None,
    gopher_flags_col: "F.Column | None" = None,
    c4_flags_col: "F.Column | None" = None,
    mt_rep_flags_col: "F.Column | None" = None,
    classifier_pass_col: "F.Column | None" = None,
) -> "F.Column":
    """THE quality-gate predicate, shared by the batch pipeline and
    ``streaming/curation.py`` so the two can never drift. Callers pass
    the metric COLUMNS (precomputed annotation columns in batch; inline
    expressions in streaming) and each gate's knob (None disables it).

    ``gopher_flags_col`` (r9): pass ``operators.quality.gopher_flags``
    to additionally require all seven Gopher rules to pass (bitmask
    == 0); None keeps the gate as before. ``c4_flags_col`` (r9) is the
    same contract for the C4 page rules (``operators.quality.
    c4_flags``); the caller owns the post-gate ``c4_clean`` rewrite.
    ``mt_rep_flags_col`` likewise gates on the MassiveText repetition
    bitmask (``operators.quality.massivetext_repetition_flags``).
    """
    keep = F.lit(True)
    if min_tokens is not None:
        keep = keep & (n_tokens >= min_tokens)
    if max_tokens is not None:
        keep = keep & (n_tokens <= max_tokens)
    if max_stopword_ratio is not None:
        keep = keep & (stop_ratio <= max_stopword_ratio)
    if allowed_langs:
        keep = keep & lang_pred.isin(*allowed_langs)
    if gopher_flags_col is not None:
        keep = keep & (gopher_flags_col == 0)
    if c4_flags_col is not None:
        keep = keep & (c4_flags_col == 0)
    if mt_rep_flags_col is not None:
        keep = keep & (mt_rep_flags_col == 0)
    if classifier_pass_col is not None:
        keep = keep & classifier_pass_col
    return keep


@dataclass
class CurationStats:
    input_docs: int
    after_filters: int
    after_exact_dedup: int
    after_near_dedup: int
    #: final count after the optional repeated-passage and
    #: decontamination stages; equals after_near_dedup when both are off
    after_decontam: int | None = None
    #: hot-bucket cap observability (r6): buckets over
    #: ``near_dup_max_bucket`` and the rows the cap trimmed from them
    #: ('drop' removes whole hot buckets — rows_in_hot; 'sample' trims
    #: rows_over_cap). None when no cap is configured. A capped run
    #: that looks "done" while silently skipping 10% of its buckets is
    #: the failure mode these numbers make visible.
    near_dup_hot_buckets: int | None = None
    near_dup_hot_rows_in: int | None = None
    near_dup_rows_over_cap: int | None = None
    #: count after the optional DSIR targeted-selection stage (r11);
    #: None when cfg.dsir_keep_frac is off. When on, after_decontam
    #: still reports the PRE-selection clean-pool size, so the
    #: realized keep fraction is after_dsir / after_decontam.
    after_dsir: int | None = None
    #: docs collapsed by the canonical-URL exact-dedup stage (r12);
    #: None when cfg.url_exact_dedup is off
    url_dups: int | None = None
    #: docs dropped by the URL blocklist front gate (r12); None when
    #: cfg.url_blocklist is empty. input_docs counts the survivors of
    #: this gate (it runs before everything, like crawl pipelines do),
    #: so the raw arrival count is input_docs + url_blocked.
    url_blocked: int | None = None
    #: count right after the per-domain cap stage (r12); None when
    #: cfg.url_domain_cap is off.
    after_domain_cap: int | None = None


def _iterative_near_dup_losers(pairs: DataFrame, iters: int, id_col: str) -> DataFrame:
    """Deterministic iterative independent-set resolution of the
    near-dup pair graph (Luby-style, priority = doc id).

    Per round: *winners* are active nodes with no lower-id active
    neighbor (they keep); their direct neighbors become *losers*
    (dropped); both leave the graph, and edges between remaining nodes
    carry to the next round. Unlike the greedy single pass, a doc whose
    only near-dups were themselves dropped SURVIVES — the A~B~C chain
    keeps A and C.

    Scale notes: each round is a fixed number of distinct/joins on the
    pair table (edges only — never the corpus), shrinking monotonically;
    ``localCheckpoint`` truncates the growing lineage so round N's plan
    does not re-derive rounds 1..N-1. Edges still active after the
    round budget are left alone — both endpoints kept (conservative)."""
    edges = pairs.select("id1", "id2")
    dropped: DataFrame | None = None
    for _ in range(iters):
        edges = edges.localCheckpoint()
        if not edges.take(1):
            break
        id1s = edges.select(F.col("id1").alias("id")).distinct()
        id2s = edges.select(F.col("id2").alias("id")).distinct()
        winners = id1s.join(id2s, "id", "left_anti")
        new_losers = (
            edges.join(winners.select(F.col("id").alias("id1")), "id1")
            .select(F.col("id2").alias("id"))
            .distinct()
        )
        dropped = new_losers if dropped is None else dropped.unionByName(new_losers)
        gone = winners.unionByName(new_losers)
        edges = (
            edges.join(gone.select(F.col("id").alias("id1")), "id1", "left_anti")
            .join(gone.select(F.col("id").alias("id2")), "id2", "left_anti")
        )
    if dropped is None:
        return pairs.select(F.col("id2").alias(id_col)).where(F.lit(False))
    return dropped.distinct().select(F.col("id").alias(id_col))


def curate_documents(
    spark,
    docs: DataFrame,
    cfg: CurationConfig = CurationConfig(),
    eval_docs: DataFrame | None = None,
    return_provenance: bool = False,
    dsir_target: DataFrame | None = None,
):
    """Run the full curation flow; returns (curated_df, stats), or
    (curated_df, stats, provenance_df) with ``return_provenance``.

    The returned frame keeps the input columns plus the computed
    metric columns (n_tokens, stop_ratio, lang_pred) for downstream
    sampling/packing decisions. When ``eval_docs`` is given (same
    id/text columns), a final decontamination stage drops every doc
    sharing >= cfg.decontam_min_common distinct lowercased
    cfg.decontam_n-grams with the eval set (broadcast probe — the
    corpus never shuffles; see operators/decontaminate.py).

    ``provenance`` is a LAZY ``(id_col, stage)`` frame naming the
    stage that removed each dropped document — 'url_blocked',
    'quality', 'url_dup', 'exact_dup', 'near_dup', 'lm_quality', 'semantic_dup',
    'cluster_balance', 'domain_capped', 'repeated_passage' (drop mode
    only; strip rewrites instead of dropping), 'decontaminated',
    'dsir_selection' — the per-doc audit trail a corpus release ships
    beside the stats.

    When ``cfg.url_col`` is set (r12), a ``url_domain`` annotation
    column is attached up front and kept on the output; the blocklist
    gate runs before everything (map-only) and the per-domain cap runs
    on the post-dedup clean pool (one shuffle over far fewer rows than
    the raw crawl). Materializing it
    re-executes the drop-set lineages; write it in the same job as the
    curated corpus.

    When ``cfg.dsir_keep_frac`` is set, ``dsir_target`` (same id/text
    columns) is the in-domain sample and a final DSIR importance-
    resampling stage keeps that fraction of the clean pool
    (operators/dsir.py; stats report both the pre-selection and
    post-selection counts).
    """
    tc = cfg.text_col
    if (
        cfg.url_blocklist or cfg.url_domain_cap is not None or cfg.url_exact_dedup
    ) and cfg.url_col is None:
        raise ValueError(
            "url_blocklist / url_domain_cap / url_exact_dedup require cfg.url_col"
        )
    url_blocked_ids = None
    n_url_blocked: int | None = None
    if cfg.url_col is not None:
        from lakeflush_spark.operators.url import parse_url, registrable_domain

        if "url_domain" in docs.columns:
            raise ValueError(
                "input already carries a url_domain column; rename it "
                "before enabling url_col"
            )
        docs = docs.withColumn(
            "url_domain",
            registrable_domain(parse_url(F.col(cfg.url_col))["host"]),
        )
        if cfg.url_blocklist:
            hit = F.col("url_domain").isin(*[str(d) for d in cfg.url_blocklist])
            url_blocked_ids = docs.where(hit).select(cfg.id_col)
            docs = docs.where(~F.coalesce(hit, F.lit(False)))
            n_url_blocked = url_blocked_ids.count()
    if cfg.html_input:
        # HTML arrives first: every downstream metric/gate/dedup key
        # must see the EXTRACTED text, so the rewrite happens before
        # anything else (map-only regexp chain, scan speed)
        from lakeflush_spark.functions.html import html_to_text

        docs = docs.withColumn(tc, html_to_text(tc))
    # STAGED gate annotation (r11): every CHEAP rule (metrics,
    # gopher/c4 bitmasks, MT unit bits, a coverage-free classifier) is
    # a direct column expression and filters FIRST; only survivors pay
    # the coverage-dependent stage-2 fused generator (MT top-k-gram
    # bits, a coverage-reading classifier).
    # Kept set identical to the single-pass gate (pure conjunction,
    # exact bitmask split — see quality_gate_stages). The single
    # _c4_clean source-of-truth property is preserved: the flags bit
    # and the survivor rewrite both read the stage-1 clean field.
    # e.g. re-curating a frame this pipeline already annotated (or an
    # aborted run that kept _c4_clean / a gate bitmask) — fail with
    # guidance instead of a downstream AMBIGUOUS_REFERENCE
    gate_clash_check("curate_documents", docs.columns)
    cols1, gen2, clf_in_stage2 = quality_gate_stages(
        tc,
        c4=cfg.c4_rules,
        gopher=cfg.gopher_rules,
        mt=cfg.mt_repetition_rules,
        mt_full=cfg.mt_full_table,
        clf_weights=cfg.classifier_weights,
        clf_threshold=cfg.classifier_threshold,
    )
    annotated = docs.select("*", *cols1)

    keep = quality_keep_condition(
        F.col("n_tokens"),
        F.col("stop_ratio"),
        F.col("lang_pred"),
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
    stage2 = keep2 = None
    if gen2 is None:
        filtered = annotated.where(keep).drop(*GATE_COLS)
    else:
        stage2 = annotated.where(keep).select("*", F.inline(gen2))
        keep2 = stage2_keep_condition(cfg.mt_repetition_rules, clf_in_stage2)
        filtered = stage2.where(keep2).drop(*GATE_COLS)
    if cfg.c4_rules:
        # survivors carry the C4 line-cleaned text into every dedup
        # stage (shingles/digests key on the cleaned form); the
        # annotation metrics above describe the pre-clean text
        filtered = filtered.withColumn(tc, F.col("_c4_clean")).drop(
            "_c4_clean"
        )
    if cfg.strip_dup_lines:
        from lakeflush_spark.functions.text import strip_duplicate_lines

        filtered = filtered.withColumn(tc, strip_duplicate_lines(tc))

    prov: list[DataFrame] = []

    def _mark(ids: DataFrame, stage: str) -> None:
        prov.append(
            ids.select(F.col(cfg.id_col), F.lit(stage).alias("stage"))
        )

    if url_blocked_ids is not None:
        _mark(url_blocked_ids, "url_blocked")
    # NULL keep (e.g. NULL text) is dropped by where(keep) — mark it;
    # staged runs also mark stage-2 failures (coverage rules)
    _mark(
        annotated.where(~F.coalesce(keep, F.lit(False))), "quality"
    )
    if stage2 is not None:
        _mark(stage2.where(~F.coalesce(keep2, F.lit(False))), "quality")

    # URL exact dedup (r12, optional): collapse same-canonical-URL
    # re-crawls BEFORE text dedup — digest-only shuffle on the
    # canonical form; unparseable URLs (canonical '') are exempt
    n_url_dup: int | None = None
    if cfg.url_exact_dedup:
        from lakeflush_spark.operators.url import canonicalize_url

        keyed = filtered.withColumn(
            "_url_canon", canonicalize_url(F.col(cfg.url_col))
        )
        dedupable = keyed.where(F.col("_url_canon") != "")
        url_kept = exact_dedup_by_hash(dedupable, ["_url_canon"], cfg.id_col)
        url_dups = dedupable.select(cfg.id_col).join(
            url_kept.select(cfg.id_col), cfg.id_col, "left_anti"
        )
        _mark(url_dups, "url_dup")
        filtered = keyed.join(url_dups, cfg.id_col, "left_anti").drop(
            "_url_canon"
        )
        n_url_dup = url_dups.count()

    # Exact dedup: digests-only shuffle with a deterministic min-id
    # winner (operators/dedup.exact_dedup_by_hash) — document bodies
    # never move on the content-hash key, and the winners semi-join
    # leaves the corpus id-partitioned, the layout the near-dup
    # anti-join below shuffles on anyway.
    exact = exact_dedup_by_hash(filtered, [tc], cfg.id_col)
    if cfg.near_dup_max_bucket is not None:
        # cap observability (hot_bucket_stats below) is a second action
        # over this lineage; without truncation it would replay the
        # corpus scan + quality filter + exact-dedup shuffle at stats
        # time. The checkpoint also serves the near-dup join and the
        # final anti-join (three consumers, one materialization).
        exact = exact.localCheckpoint()
    _mark(filtered.join(exact.select(cfg.id_col), cfg.id_col, "left_anti"), "exact_dup")

    # Near-dup: LSH candidates above threshold. Resolution is either the
    # single-pass greedy (drop every id2 — cheapest, may over-delete
    # chain tails) or the iterative independent-set walk (cc_iterations
    # rounds, keeps chain tails whose surviving neighbors were dropped).
    pairs = minhash_near_dups(
        exact,
        id_col=cfg.id_col,
        text_col=tc,
        threshold=cfg.near_dup_threshold,
        max_bucket_size=cfg.near_dup_max_bucket,
        hot_bucket_mode=cfg.near_dup_hot_bucket_mode,
    )
    if cfg.cluster_resolution and cfg.cc_iterations > 0:
        raise ValueError("cluster_resolution and cc_iterations are mutually exclusive")
    if cfg.cluster_keep_best is not None and not cfg.cluster_resolution:
        raise ValueError("cluster_keep_best requires cluster_resolution=True")
    if cfg.cluster_resolution:
        from lakeflush_spark.operators.dedup import (
            cluster_representatives,
            near_dup_clusters,
        )

        members = near_dup_clusters(pairs, max_iters=cfg.cluster_max_iters)
        if cfg.cluster_keep_best is not None:
            if cfg.cluster_keep_best not in exact.columns:
                raise ValueError(
                    f"cluster_keep_best column {cfg.cluster_keep_best!r} "
                    "not on the input frame"
                )
            reps = cluster_representatives(
                exact, members, cfg.cluster_keep_best, id_col=cfg.id_col
            )
            losers = members.join(
                reps.select(F.col(cfg.id_col).alias("id")), "id", "left_anti"
            ).select(F.col("id").alias(cfg.id_col))
        else:
            losers = members.where(F.col("id") != F.col("cluster_id")).select(
                F.col("id").alias(cfg.id_col)
            )
    elif cfg.cc_iterations > 0:
        losers = _iterative_near_dup_losers(pairs, cfg.cc_iterations, cfg.id_col)
    else:
        losers = pairs.select(F.col("id2").alias(cfg.id_col)).distinct()
    _mark(losers, "near_dup")
    curated = exact.join(losers, cfg.id_col, "left_anti")

    # Stage counts: input/filter from ONE aggregation pass over flags
    # (cheap stage-1 panel only); a staged run pays one more agg over
    # the stage-2 frame — the coverage panel there runs on stage-1
    # survivors only, which is the point of staging. The near-dup
    # stage needs its own count (post-join).
    agg = annotated.select(
        F.count(F.lit(1)).alias("n_in"),
        F.sum(keep.cast("long")).alias("n_filt"),
    ).first()
    n_filt = int(agg.n_filt or 0)
    if stage2 is not None:
        n_filt = int(
            stage2.select(
                F.sum(keep2.cast("long")).alias("n_filt")
            ).first().n_filt
            or 0
        )
    n_exact = exact.count()
    # the LM and SemDedup stages each traverse `curated` several times
    # (LM train + score + quantile cut; centroid draw + assignment +
    # pair join) — truncate the dedup lineage ONCE so those passes and
    # the final count don't each replay the corpus-scale joins above.
    # localCheckpoint, like the near-dup cluster loop (dedup.py): its
    # blocks are executor-resident and freed on GC.
    emb_col = cfg.embedding_col
    if emb_col is None and cfg.hashed_embedding_dim is not None:
        # model-free semantic tier (r14): derive hashed-TF embeddings
        # from the text itself — one explode + count + dense assembly
        # over the CLEAN pool (post near-dup, so far fewer rows than
        # the raw crawl), joined back on the id
        from lakeflush_spark.operators.featurize import hashed_tf_embeddings

        htf = hashed_tf_embeddings(
            curated.select(cfg.id_col, cfg.text_col),
            dim=cfg.hashed_embedding_dim,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
        ).withColumnRenamed("embedding", "_htf_embedding")
        curated = curated.join(htf, cfg.id_col)
        emb_col = "_htf_embedding"
    if cfg.lm_filter_quantile is not None or emb_col is not None:
        curated = curated.localCheckpoint()
    n_near = curated.count()

    if cfg.lm_filter_quantile is not None:
        if not 0.0 < cfg.lm_filter_quantile < 1.0:
            raise ValueError("lm_filter_quantile must be in (0, 1)")
        from lakeflush_spark.operators.lm_filter import (
            lm_logprob_scores,
            train_bigram_lm,
        )

        # self-trained gate: the corpus IS the in-domain sample, so the
        # degenerate tail (gibberish, token soup) lands at the smoothed
        # floor and falls below the quantile cut. LM state is bounded
        # by lm_buckets; the cut is one percentile_approx sketch over
        # the score column (never a sort).
        # materialized once: the scoring join consumes the LM twice
        # (pair counts + context counts)
        lm = train_bigram_lm(
            curated, id_col=cfg.id_col, text_col=tc, buckets=cfg.lm_buckets
        ).localCheckpoint()
        scored = lm_logprob_scores(
            lm, curated, id_col=cfg.id_col, text_col=tc, buckets=cfg.lm_buckets
        )
        cut = scored.agg(
            F.percentile_approx(
                "avg_logprob", cfg.lm_filter_quantile, 10_000
            ).alias("c")
        ).first()["c"]
        if cut is not None:
            lm_pass = lm_keep_condition(F.col("avg_logprob"), float(cut))
            _mark(scored.where(~lm_pass), "lm_quality")
            curated = scored.where(lm_pass).drop("avg_logprob")

    if emb_col is not None:
        from lakeflush_spark.operators.similarity import (
            prepare_vectors,
            semantic_dedup_pairs,
            semantic_drop_ids,
        )

        vecs = prepare_vectors(
            curated, id_col=cfg.id_col, vec_col=emb_col
        )
        sem_drops = semantic_drop_ids(
            semantic_dedup_pairs(
                vecs,
                cfg.sem_threshold,
                cfg.sem_n_cells,
                coarse_cells=cfg.sem_coarse_cells,
            )
        ).select(F.col("vid").alias(cfg.id_col))
        _mark(sem_drops, "semantic_dup")
        # drop set is pair-table-sized — the anti-join broadcasts
        curated = curated.join(sem_drops, cfg.id_col, "left_anti")

    if cfg.cluster_balance_cap is not None:
        if emb_col is None:
            raise ValueError(
                "cluster_balance_cap requires embedding_col (or "
                "hashed_embedding_dim for the derived tier)"
            )
        from lakeflush_spark.operators.similarity import (
            cluster_balanced_sample,
            prepare_vectors as _prep_bal,
        )

        bal_vecs = _prep_bal(
            curated, id_col=cfg.id_col, vec_col=emb_col
        )
        kept = cluster_balanced_sample(
            bal_vecs,
            per_cell_cap=cfg.cluster_balance_cap,
            n_cells=cfg.sem_n_cells,
            rank_by=cfg.cluster_balance_rank,
        ).select(F.col("vid").alias(cfg.id_col))
        _mark(
            curated.select(cfg.id_col).join(kept, cfg.id_col, "left_anti"),
            "cluster_balance",
        )
        # the KEPT set is bounded by cap x cells — semi-join broadcasts
        # it, unlike an anti-join against the (corpus-sized) drop set
        curated = curated.join(F.broadcast(kept), cfg.id_col, "left_semi")

    # the derived hashed-TF column is an internal vehicle for the two
    # stages above — the returned frame keeps the input contract
    curated = curated.drop("_htf_embedding")

    n_domain_cap: int | None = None
    if cfg.url_domain_cap is not None:
        from lakeflush_spark.operators.url import domain_cap_sample

        # the url_domain annotation was attached up front — reuse it
        # (domain_col) so the cap never re-parses URLs
        capped = domain_cap_sample(
            curated,
            id_col=cfg.id_col,
            max_per_domain=cfg.url_domain_cap,
            seed=cfg.url_cap_seed,
            domain_col="url_domain",
        )
        _mark(
            curated.select(cfg.id_col).join(
                capped.select(cfg.id_col), cfg.id_col, "left_anti"
            ),
            "domain_capped",
        )
        curated = capped
        n_domain_cap = curated.count()

    if cfg.drop_repeated_passage_window is not None:
        if cfg.repeated_passage_action not in ("drop", "strip"):
            raise ValueError(
                "repeated_passage_action must be 'drop' or 'strip', "
                f"got {cfg.repeated_passage_action!r}"
            )
        if cfg.repeated_passage_action == "strip":
            from lakeflush_spark.operators.substring_dedup import (
                strip_repeated_spans,
            )

            curated = strip_repeated_spans(
                curated,
                id_col=cfg.id_col,
                text_col=cfg.text_col,
                window=cfg.drop_repeated_passage_window,
                stride=cfg.repeated_passage_stride,
            )
        else:
            from lakeflush_spark.operators.substring_dedup import (
                docs_with_repeated_spans,
            )

            boiler = docs_with_repeated_spans(
                curated,
                id_col=cfg.id_col,
                text_col=cfg.text_col,
                window=cfg.drop_repeated_passage_window,
                stride=cfg.repeated_passage_stride,
            )
            _mark(boiler, "repeated_passage")
            # no broadcast hint: unlike the decontamination hit set
            # (bounded by the small eval suite), boilerplate-heavy
            # corpora can flag a large fraction of docs — let AQE pick
            # broadcast vs shuffle from the actual flagged-set size.
            curated = curated.join(boiler, cfg.id_col, "left_anti")

    if eval_docs is not None:
        res = decontaminate(
            curated,
            eval_docs,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
            n=cfg.decontam_n,
            min_common=cfg.decontam_min_common,
            # NOT materialized: with return_provenance the contaminated
            # set is consumed twice (anti-join + provenance write) and
            # re-runs the broadcast probe — the documented lazy-
            # provenance trade; callers needing one-pass decontam
            # provenance should call decontaminate(materialize=True)
            # directly and manage DecontamResult.unpersist()
            materialize=False,
        )
        _mark(res.contaminated, "decontaminated")
        curated = res.clean

    n_decontam: int | None = None
    if cfg.dsir_keep_frac is not None:
        if dsir_target is None:
            raise ValueError(
                "cfg.dsir_keep_frac is set but curate_documents received "
                "no dsir_target frame (the in-domain sample to select "
                "toward)"
            )
        _dsir_cols = {"n_grams", "sum_ct", "sum_cr", "log_weight", "dsir_key"}
        clash = _dsir_cols & set(curated.columns)
        if clash:
            raise ValueError(
                f"input carries DSIR metric columns {sorted(clash)}; "
                "rename them before enabling dsir_keep_frac"
            )
        from lakeflush_spark.operators.dsir import dsir_resample_corpus

        # pinned: the selection makes two passes over the clean pool
        # (threshold calibration + the filter) plus the provenance
        # anti-join — without the checkpoint each would replay the
        # full curation lineage above
        curated = curated.localCheckpoint()
        n_decontam = curated.count()
        selected = dsir_resample_corpus(
            curated,
            dsir_target,
            cfg.dsir_keep_frac,
            id_col=cfg.id_col,
            text_col=tc,
            buckets=cfg.dsir_buckets,
            seed=cfg.dsir_seed,
            hash_fn=cfg.dsir_hash_fn,
        ).select(*curated.columns)
        _mark(
            curated.join(selected.select(cfg.id_col), cfg.id_col, "left_anti"),
            "dsir_selection",
        )
        curated = selected
    n_final = curated.count()
    hot_b = hot_in = hot_over = None
    if cfg.near_dup_max_bucket is not None:
        # cap observability (r6): one map-only minhash pass + tiny-band
        # groupBy over the CHECKPOINTED exact frame (truncated above —
        # no upstream replay), paid ONLY when a cap is configured; the
        # numbers say how much recall the cap traded away this run
        from lakeflush_spark.operators.dedup import (
            band_table,
            hot_bucket_stats,
            with_minhash,
        )

        hb = hot_bucket_stats(
            band_table(with_minhash(exact, tc), cfg.id_col),
            ["band_idx", "bh"],
            cfg.near_dup_max_bucket,
        ).first()
        hot_b, hot_in, hot_over = (
            int(hb.n_hot_buckets),
            int(hb.n_rows_in_hot),
            int(hb.n_rows_over_cap),
        )
    stats = CurationStats(
        int(agg.n_in), n_filt, n_exact, n_near,
        n_decontam if n_decontam is not None else n_final,
        near_dup_hot_buckets=hot_b,
        near_dup_hot_rows_in=hot_in,
        near_dup_rows_over_cap=hot_over,
        after_dsir=n_final if n_decontam is not None else None,
        url_blocked=n_url_blocked,
        after_domain_cap=n_domain_cap,
        url_dups=n_url_dup,
    )
    if not return_provenance:
        return curated, stats
    provenance = prov[0]
    for p in prov[1:]:
        provenance = provenance.unionByName(p)
    return curated, stats, provenance
