"""Vector function units: normalization, int8 quantization round-trip,
and the repeated-passage (substring) detector."""


import random

import pyspark.sql.functions as F

from lakeflush_spark.functions.vectors import (
    cosine_similarity,
    dequantize_int8,
    l2_norm,
    l2_normalize,
    quantize_int8,
    to_double_vec,
)
from lakeflush_spark.operators.substring_dedup import (
    docs_with_repeated_spans,
    repeated_spans,
)


def _rand_vecs(n, dim, seed=11):
    rng = random.Random(seed)
    return [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]


def test_l2_normalize_unit_norm_and_zero_passthrough(spark):
    vecs = _rand_vecs(20, 16) + [[0.0] * 16]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i long, v array<double>"
    )
    rows = df.select(
        "i", l2_norm(l2_normalize(F.col("v"))).alias("nrm")
    ).collect()
    for r in rows:
        if r.i == len(vecs) - 1:
            assert r.nrm == 0.0  # zero vector passes through
        else:
            assert abs(r.nrm - 1.0) < 1e-12


def test_quantize_int8_roundtrip_bound_and_cosine(spark):
    vecs = _rand_vecs(30, 64)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i long, v array<double>"
    )
    q = df.select("i", "v", quantize_int8(F.col("v")).alias("qs"))
    rows = q.select(
        "i",
        "v",
        F.col("qs.scale").alias("scale"),
        dequantize_int8(F.col("qs")).alias("dq"),
    ).collect()
    for r in rows:
        assert r.scale > 0
        for orig, deq in zip(r.v, r.dq):
            assert abs(orig - deq) <= r.scale / 2 + 1e-12
    # cosine fidelity of the reconstruction
    sims = q.select(
        cosine_similarity(F.col("v"), dequantize_int8(F.col("qs"))).alias("cs")
    ).collect()
    assert min(r.cs for r in sims) > 0.999


def test_quantize_int8_zero_vector(spark):
    df = spark.createDataFrame([(1, [0.0] * 8)], "i long, v array<double>")
    r = df.select(quantize_int8(F.col("v")).alias("qs")).select(
        "qs.scale", "qs.q"
    ).collect()[0]
    assert r.scale == 0.0 and list(r.q) == [0] * 8


def test_quantize_embeddings_table(spark, sf_dir):
    from lakeflush_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_vec("embedding").alias("v")
    )
    qs = emb.select(
        "vec_id", cosine_similarity(F.col("v"), dequantize_int8(quantize_int8(F.col("v")))).alias("cs")
    )
    assert qs.where(F.col("cs") < 0.999).count() == 0


def _passage_docs(spark):
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(500)]
    passage = " ".join(rng.choice(vocab) for _ in range(60))
    rows = []
    for i in range(10):
        filler = lambda k: " ".join(rng.choice(vocab) for _ in range(k))  # noqa: E731
        if i < 3:  # planted: same 60-token passage at different offsets
            rows.append((i, f"{filler(5 + 7 * i)} {passage} {filler(11)}"))
        else:
            rows.append((i, filler(80)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repeated_spans_finds_planted_passage(spark):
    docs = _passage_docs(spark)
    spans = repeated_spans(docs, window=30, stride=4).collect()
    assert spans, "planted passage not detected"
    assert all(s.n_docs == 3 for s in spans)  # only the 3 planted docs share
    flagged = {r.doc_id for r in docs_with_repeated_spans(
        docs, window=30, stride=4
    ).collect()}
    assert flagged == {0, 1, 2}


def test_repeated_spans_clean_corpus(spark):
    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(500)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(80))) for i in range(8)],
        "doc_id long, text string",
    )
    assert repeated_spans(docs, window=30, stride=4).count() == 0


def test_repeated_span_texts_reports_passage(spark):
    import random

    from lakeflush_spark.operators.substring_dedup import (
        repeated_span_texts,
        repeated_spans,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]
    passage = " ".join(rng.choice(vocab) for _ in range(60))
    rows = []
    for i in range(6):
        filler = " ".join(rng.choice(vocab) for _ in range(40))
        rows.append((i, f"{filler} {passage}" if i < 4 else filler))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    texts = repeated_span_texts(docs, window=30, stride=4).collect()
    assert texts
    # every reported span is a true verbatim substring of the passage
    for r in texts:
        assert r.span_text in passage
        assert r.n_docs == 4
    # fingerprints agree with the fp-only operator (same anchors/windows)
    fps = {r.fp for r in repeated_spans(docs, window=30, stride=4).collect()}
    assert {r.fp for r in texts} == fps


# ---------------------------------------------------------------------------
# SemDedup (operators/similarity.semantic_dedup*): cluster-then-compare
# embedding dedup — planted-duplicate recall, greedy min-id drop
# semantics, and partition-layout independence.
# ---------------------------------------------------------------------------


def _sem_corpus(spark, sf_dir, n_dups=5):
    """sf0.01 embeddings + exact copies of the first n_dups vectors
    under shifted ids (vec_id + 10000)."""
    from lakeflush_spark.io import load_table
    from lakeflush_spark.operators.similarity import prepare_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    dups = (
        emb.where(F.col("vec_id") < n_dups)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    )
    return prepare_vectors(emb.unionByName(dups))


def test_semantic_dedup_drops_planted_copies(spark, sf_dir):
    from lakeflush_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
        semantic_drop_ids,
    )

    corpus = _sem_corpus(spark, sf_dir)
    pairs = semantic_dedup_pairs(corpus, threshold=0.4, n_cells=16)
    got = {(r.id1, r.id2): r.cos_sim for r in pairs.collect()}
    # every exact copy collides with its original (same cell — identical
    # vectors share the deterministic argmax cell) at cosine 1.0
    for i in range(5):
        assert got.get((i, i + 10000)) == 1.0
    drops = {r.vid: r.dup_of for r in semantic_drop_ids(pairs).collect()}
    for i in range(5):
        assert i + 10000 in drops
        # the kept neighbor is the SMALLEST above-threshold partner
        assert drops[i + 10000] <= i
    survivors = {r.vid for r in semantic_dedup(corpus, threshold=0.4).collect()}
    assert not any(i + 10000 in survivors for i in range(5))
    # greedy rule: exactly the ids with a smaller above-threshold
    # neighbor are gone
    expected_dropped = {b for (_, b) in got}
    assert survivors == {r.vid for r in corpus.collect()} - expected_dropped


def test_semantic_dedup_layout_independent(spark, sf_dir):
    from lakeflush_spark.operators.similarity import semantic_dedup_pairs

    corpus = _sem_corpus(spark, sf_dir)
    base = {(r.id1, r.id2, r.cos_sim) for r in
            semantic_dedup_pairs(corpus, threshold=0.4).collect()}
    shuffled = {(r.id1, r.id2, r.cos_sim) for r in
                semantic_dedup_pairs(corpus.repartition(13), threshold=0.4).collect()}
    assert base == shuffled and base


def test_strip_repeated_spans_removes_boilerplate_keeps_content(spark):
    from lakeflush_spark.operators.substring_dedup import (
        repeated_spans,
        strip_repeated_spans,
    )

    rng = random.Random(23)
    vocab = [f"w{i:03d}" for i in range(400)]
    passage = " ".join(rng.choice(vocab) for _ in range(80))
    rows, fillers = [], []
    for i in range(5):
        filler = " ".join(rng.choice(vocab) for _ in range(50))
        fillers.append(filler)
        # 4 docs wrap the SAME license block around unique content
        rows.append((i, f"{filler} {passage}" if i < 4 else filler))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stripped = strip_repeated_spans(docs, window=30, stride=4)
    got = {r.doc_id: r for r in stripped.collect()}

    # the clean doc is untouched (modulo nothing: single-space input)
    assert got[4].text == fillers[4] and got[4].n_stripped == 0
    mid = passage.split()[40]  # a mid-passage token, covered for sure
    for i in range(4):
        assert got[i].n_stripped > 0
        # unique content survives
        for tok in fillers[i].split():
            assert tok in got[i].text.split() or tok in passage.split()
        # the shared block's interior is gone (edge tokens may survive
        # by the documented winnowing edge effect)
        core = passage.split()[10:70]
        remaining = [t for t in core if t in set(got[i].text.split()) - set(fillers[i].split())]
        assert len(remaining) < len(core) // 4

    # after stripping, no cross-doc repeated span remains
    assert repeated_spans(stripped, window=30, stride=4).count() == 0


# ---------------------------------------------------------------------------
# r6 centroid plumbing: distributed packing (createDataFrame +
# collect_list), no SQL-literal build — must hold at n_cells >= 1024
# (the "n_cells grows with the corpus" SemDedup scale story).
# ---------------------------------------------------------------------------


def _synth_corpus(spark, n=1500, dims=8):
    """Deterministic synthetic vectors (> 1024 rows; the testdata
    embeddings tables are 500-2000 rows, too small to also leave room
    above n_cells=1024 at the tests' sf)."""
    from lakeflush_spark.operators.similarity import prepare_vectors

    rows = [
        (i, [((i * 37 + j * 11) % 97) / 97.0 - 0.5 for j in range(dims)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return prepare_vectors(df)


def test_jl_projection_matches_numpy_and_preserves_distances(spark):
    """r14: random_project folds the literal sign matrix exactly like
    numpy (same products, same order), and the 64->16 JL projection
    keeps pairwise distances within the expected distortion on a
    deterministic corpus."""
    import numpy as np

    from lakeflush_spark.functions.vectors import (
        jl_sign_matrix,
        random_project,
        to_double_vec,
    )

    signs = jl_sign_matrix(64, 16)
    # pure function: same args -> same matrix; rows scaled 1/sqrt(16)
    assert signs == jl_sign_matrix(64, 16)
    assert all(len(r) == 64 and all(abs(x) == 0.25 for x in r) for r in signs)
    assert len(signs) == 16
    assert signs != jl_sign_matrix(64, 16, seed="other:")

    vecs = _rand_vecs(60, 64, seed=7)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i long, v array<double>"
    )
    got = {
        r.i: np.asarray(r.pv)
        for r in df.select(
            "i", random_project(to_double_vec("v"), signs).alias("pv")
        ).collect()
    }
    S = np.asarray(signs)  # (16, 64)
    X = np.asarray(vecs)
    # Sequential left fold of the products. Not ``X @ S.T``: OpenBLAS
    # picks its dgemm kernel per CPU, and its AVX-512 kernel sums in a
    # different order, so the BLAS result is not bit-stable across hosts.
    want = np.add.accumulate(X[:, None, :] * S[None, :, :], axis=-1)[..., -1]
    for i in range(len(vecs)):
        assert np.array_equal(got[i], want[i]), i
    # JL distance preservation: median pairwise distortion small
    d_orig, d_proj = [], []
    for a in range(0, 40, 3):
        for b in range(a + 1, 40, 5):
            d_orig.append(np.linalg.norm(X[a] - X[b]))
            d_proj.append(np.linalg.norm(want[a] - want[b]))
    ratio = np.asarray(d_proj) / np.asarray(d_orig)
    assert 0.75 < np.median(ratio) < 1.25
    assert (np.abs(ratio - 1.0) < 0.6).mean() > 0.95


def test_centroid_plumbing_n_cells_1024(spark):
    from lakeflush_spark.operators.similarity import (
        _cells_as_one_row,
        _nearest_cells,
        centroid_frame,
        ivf_centroids,
    )

    corpus = _synth_corpus(spark)
    n_cells = 1024
    cents = ivf_centroids(corpus, n_cells)
    assert len(cents) == n_cells
    assert [c[0] for c in cents] == list(range(n_cells))
    # the frame view and the list view are the same quantizer
    frame = {
        (r.cell_id, tuple(r.cv), r.cnrm)
        for r in centroid_frame(corpus, n_cells).collect()
    }
    assert frame == {(cid, tuple(cv), nrm) for cid, cv, nrm in cents}
    # seed draw is layout-independent (md5 order, not partition order)
    assert ivf_centroids(corpus.repartition(13), n_cells) == cents
    # every vector lands in exactly one cell
    assigned = _nearest_cells(corpus, _cells_as_one_row(spark, cents), 1)
    assert assigned.count() == 1500
    assert assigned.select("vid").distinct().count() == 1500
    assert assigned.groupBy("vid").count().where(F.col("count") != 1).count() == 0


def test_semantic_dedup_and_ivf_on_empty_corpus(spark):
    """An empty corpus flows through the packed-empty-array path: no
    ParseException, no special-case schema — just empty results."""
    from lakeflush_spark.operators.similarity import (
        ivf_topk,
        prepare_vectors,
        semantic_dedup_pairs,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    corpus = prepare_vectors(empty)
    assert semantic_dedup_pairs(corpus).count() == 0
    assert ivf_topk(corpus, corpus).count() == 0


def test_two_level_assignment_valid_and_deterministic(spark):
    """r6 two-level (coarse->fine) assignment: every vector lands in
    exactly one valid fine cell, layout-independently — the bounded-
    scan opt-in for corpus-proportional n_cells."""
    from lakeflush_spark.operators.similarity import (
        _nearest_cells_two_level,
        _pack_cells_two_level,
        centroid_frame,
    )

    corpus = _synth_corpus(spark, n=1500, dims=8)
    cent_df = centroid_frame(corpus, 64)
    packed2 = _pack_cells_two_level(cent_df, 8)
    assigned = _nearest_cells_two_level(corpus, packed2, 1)
    rows = {r.vid: r.cell_id for r in assigned.collect()}
    assert len(rows) == 1500
    assert assigned.count() == 1500  # exactly one cell per vector
    assert all(0 <= c < 64 for c in rows.values())
    again = {
        r.vid: r.cell_id
        for r in _nearest_cells_two_level(
            corpus.repartition(13), packed2, 1
        ).collect()
    }
    assert again == rows


def test_semantic_dedup_two_level_finds_planted_copies(spark, sf_dir):
    """Identical vectors score identically at every level, so exact
    copies always share a fine cell — the planted-copy guarantee holds
    under the approximate two-level assignment too."""
    from lakeflush_spark.operators.similarity import semantic_dedup_pairs

    corpus = _sem_corpus(spark, sf_dir)
    pairs = semantic_dedup_pairs(
        corpus, threshold=0.4, n_cells=16, coarse_cells=4
    )
    got = {(r.id1, r.id2): r.cos_sim for r in pairs.collect()}
    for i in range(5):
        assert got.get((i, i + 10000)) == 1.0


def test_two_level_never_drops_vectors_on_tied_centroids(spark):
    """Regression (r6 review): duplicate/6dp-tied centroids collapse a
    coarse group to zero members; probing it used to NULL the
    candidate array and silently DROP the vector. Every vector must
    come back, at any coarse_probe."""
    from lakeflush_spark.operators.similarity import (
        _nearest_cells_two_level,
        _pack_cells_two_level,
        prepare_vectors,
    )

    # three identical centroids (as corpus rows): the md5-seeded coarse
    # quantizer puts all fine members under one coarse id, leaving the
    # other coarse cells memberless
    dup = [1.0, 0.0, 0.0, 0.0]
    cent_corpus = prepare_vectors(
        spark.createDataFrame(
            [(i, dup) for i in range(3)], "vec_id long, embedding array<double>"
        )
    )
    from lakeflush_spark.operators.similarity import centroid_frame

    packed2 = _pack_cells_two_level(centroid_frame(cent_corpus, 3), 3)
    vecs = prepare_vectors(
        spark.createDataFrame(
            [(10, dup), (11, [0.0, 1.0, 0.0, 0.0]), (12, [0.5, 0.5, 0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
    )
    for probe in (1, 2, 3):
        got = sorted(
            r.vid for r in _nearest_cells_two_level(vecs, packed2, 1, probe).collect()
        )
        assert got == [10, 11, 12], f"coarse_probe={probe} dropped vectors: {got}"


def test_persisted_ivf_index_matches_one_shot_search(spark, tmp_path):
    """r7: build_ivf_index/ivf_search — the storage-backed serving
    path. Same deterministic quantizer as ivf_topk, so search results
    are IDENTICAL to the one-shot operator; the vectors store is
    _cp-partitioned for directory elimination; the quantized layout
    searches through the same API."""
    import os

    from lakeflush_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        ivf_topk,
    )

    corpus = _synth_corpus(spark, n=300, dims=16)
    queries = corpus.where(F.col("vid") < 4)
    idx = str(tmp_path / "ivf")
    build_ivf_index(corpus, idx, n_cells=8)
    # layout: centroid sidecar + _cp-partitioned vectors
    assert os.path.isdir(os.path.join(idx, "centroids"))
    leaves = os.listdir(os.path.join(idx, "vectors"))
    assert any(p.startswith("_cp=") for p in leaves)

    got = ivf_search(spark, idx, queries, k=5, nprobe=4)
    want = ivf_topk(corpus, queries, k=5, n_cells=8, nprobe=4)
    as_set = lambda df: {  # noqa: E731
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in df.collect()
    }
    assert as_set(got) == as_set(want)

    # int8 layout: same cells, near-identical cosines -> same top sets
    idx_q = str(tmp_path / "ivf_q")
    build_ivf_index(corpus, idx_q, n_cells=8, quantize=True)
    got_q = ivf_search(spark, idx_q, queries, k=5, nprobe=4)
    pairs = lambda df: {(r.query_id, r.neighbor_id) for r in df.collect()}  # noqa: E731
    overlap = pairs(got_q) & pairs(got)
    assert len(overlap) >= int(0.8 * len(pairs(got)))


def test_ivf_broadcast_queries_off_is_value_identical(spark, tmp_path):
    """broadcast_queries=False (the corpus-sized-query-set path) plans
    a shuffled equi-join but returns the same rows."""
    from lakeflush_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        ivf_topk,
    )

    corpus = _synth_corpus(spark, n=200, dims=8)
    queries = corpus.where(F.col("vid") < 6)
    as_set = lambda df: {  # noqa: E731
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in df.collect()
    }
    a = ivf_topk(corpus, queries, k=4, n_cells=4, nprobe=2)
    b = ivf_topk(corpus, queries, k=4, n_cells=4, nprobe=2, broadcast_queries=False)
    assert as_set(a) == as_set(b)
    idx = str(tmp_path / "idx")
    build_ivf_index(corpus, idx, n_cells=4)
    c = ivf_search(spark, idx, queries, k=4, nprobe=2)
    d = ivf_search(spark, idx, queries, k=4, nprobe=2, broadcast_queries=False)
    assert as_set(c) == as_set(d) == as_set(a)


def test_ivf_search_materialize_is_value_identical_and_unpins(spark, tmp_path):
    """r9 (testing the r8 fix): ivf_search(materialize=True) returns
    the same rows as the default path, and leaves NO pinned probe
    frame behind — the serving-loop cache-hygiene contract."""
    from lakeflush_spark.operators.similarity import build_ivf_index, ivf_search

    corpus = _synth_corpus(spark, n=200, dims=8)
    queries = corpus.where(F.col("vid") < 6)
    idx = str(tmp_path / "idx")
    build_ivf_index(corpus, idx, n_cells=4)
    as_set = lambda df: {  # noqa: E731
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in df.collect()
    }
    want = as_set(ivf_search(spark, idx, queries, k=4, nprobe=2))

    jsc = spark.sparkContext._jsc.sc()

    def pinned_ids():
        # ids of persisted RDDs, minus (local)checkpoint block holders
        it = jsc.getPersistentRDDs().iterator()
        out = set()
        while it.hasNext():
            kv = it.next()
            if "Checkpoint" not in kv._2().toString():
                out.add(int(kv._1()))
        return out

    before = pinned_ids()
    got_df = ivf_search(spark, idx, queries, k=4, nprobe=2, materialize=True)
    assert as_set(got_df) == want
    # the probe frame was explicitly unpersisted before return: the
    # materialize call added no pinned RDD beyond the localCheckpoint's
    # own blocks (compared against the pre-call snapshot, so pins left
    # by OTHER tests in a shared session don't flake this one)
    leaked = pinned_ids() - before
    assert leaked == set(), f"probe frame still pinned: {leaked}"


def test_quantize_index_equals_from_scratch_int8_build(spark, tmp_path):
    """r9: quantize_index (one map-only pass over an existing float
    index) produces the same cells, assignments, and quantized lanes
    as build_ivf_index(quantize=True) from scratch — deterministic
    assignment makes the cheap conversion exact; searches through
    either index return identical rows."""
    from lakeflush_spark.operators.similarity import (
        build_ivf_index,
        ivf_search,
        quantize_index,
    )

    corpus = _synth_corpus(spark, n=200, dims=8)
    queries = corpus.where(F.col("vid") < 5)
    idx_f = str(tmp_path / "float")
    idx_q = str(tmp_path / "scratch_q")
    idx_c = str(tmp_path / "converted_q")
    build_ivf_index(corpus, idx_f, n_cells=4)
    build_ivf_index(corpus, idx_q, n_cells=4, quantize=True)
    quantize_index(spark, idx_f, idx_c)

    def rows(d):
        return sorted(
            (r.vid, r.cell_id, r.qv.scale, tuple(r.qv.q), r.nrm, r._cp)
            for r in spark.read.option("basePath", f"{d}/vectors")
            .parquet(f"{d}/vectors").collect()
        )

    assert rows(idx_c) == rows(idx_q)
    as_set = lambda df: {  # noqa: E731
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank) for r in df.collect()
    }
    assert as_set(ivf_search(spark, idx_c, queries, k=4, nprobe=2)) == as_set(
        ivf_search(spark, idx_q, queries, k=4, nprobe=2)
    )
    # guards: int8 input refused, live dest refused
    import pytest

    with pytest.raises(ValueError, match="already an int8"):
        quantize_index(spark, idx_q, str(tmp_path / "x"))
    with pytest.raises(Exception):
        quantize_index(spark, idx_f, idx_c)


def test_int8_roundtrip_verdict_passes_and_flips(spark):
    """The q29 'fidelity' verdict: True on a faithful round-trip of
    every normalized vector (incl. the zero vector), False when the
    reconstruction is planted out of the scale/2 bound — and False on
    a non-normalized input or a corrupted zero-vector round-trip."""
    from lakeflush_spark.functions.vectors import int8_roundtrip_verdict

    vecs = _rand_vecs(15, 32) + [[0.0] * 32]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i long, v array<double>"
    )
    rt = df.select(
        "i", l2_normalize(F.col("v")).alias("nv")
    ).withColumn("dv", dequantize_int8(quantize_int8(F.col("nv"))))
    good = rt.select(int8_roundtrip_verdict(F.col("nv"), F.col("dv")).alias("ok"))
    assert all(r.ok for r in good.collect())

    # plant: nudge the first element past scale/2 of a unit vector
    bad_elem = rt.where(F.col("i") == 0).select(
        int8_roundtrip_verdict(
            F.col("nv"),
            F.concat(
                F.array(F.element_at("dv", 1) + F.lit(0.1)), F.slice("dv", 2, 31)
            ),
        ).alias("ok")
    )
    assert not bad_elem.collect()[0].ok

    # plant: un-normalized input fails the unit-norm leg
    notnorm = df.where(F.col("i") == 0).select(
        int8_roundtrip_verdict(
            F.transform("v", lambda x: x * 3.0),
            dequantize_int8(quantize_int8(F.transform("v", lambda x: x * 3.0))),
        ).alias("ok")
    )
    assert not notnorm.collect()[0].ok

    # plant: zero vector whose round-trip is not zeros
    zbad = rt.where(F.col("i") == len(vecs) - 1).select(
        int8_roundtrip_verdict(
            F.col("nv"), F.transform("dv", lambda x: x + 0.5)
        ).alias("ok")
    )
    assert not zbad.collect()[0].ok


def test_int8_roundtrip_verdict_zero_dv_is_false_not_null(spark):
    """ADVICE r9: a planted all-zero dv against a UNIT nv makes
    dot/dnrm = 0/0 = NULL — the verdict must coalesce to False, never
    let a NULL slip through the hash-verified boolean column."""
    from lakeflush_spark.functions.vectors import int8_roundtrip_verdict

    df = spark.createDataFrame([([float(x) for x in range(1, 9)],)], "v array<double>")
    rows = df.select(
        int8_roundtrip_verdict(
            l2_normalize(F.transform("v", lambda x: x.cast("double"))),
            F.transform("v", lambda x: F.lit(0.0)),
        ).alias("ok")
    ).collect()
    assert rows[0].ok is False  # False, not None


def test_cluster_balanced_sample_modes(spark):
    """Quota, determinism, and the three rank modes of
    cluster_balanced_sample (operators/similarity.py)."""
    import numpy as np
    import pyspark.sql.functions as F

    from lakeflush_spark.operators.similarity import (
        cluster_balanced_sample,
        prepare_vectors,
    )

    rng = np.random.default_rng(13)
    # two well-separated clusters of different sizes
    rows = []
    for i in range(30):
        rows.append((i, (np.array([10.0, 0.0]) + rng.normal(0, 0.3, 2)).tolist()))
    for i in range(30, 40):
        rows.append((i, (np.array([0.0, 10.0]) + rng.normal(0, 0.3, 2)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = prepare_vectors(df)

    kept = cluster_balanced_sample(corpus, per_cell_cap=5, n_cells=2).collect()
    by_cell = {}
    for r in kept:
        by_cell.setdefault(r.cell_id, []).append(r)
    # quota: at most 5 per cell; both cells represented
    assert len(by_cell) == 2
    assert all(len(v) <= 5 for v in by_cell.values())
    assert all(sorted(r.rank for r in v) == list(range(1, len(v) + 1))
               for v in by_cell.values())
    # deterministic: a second run keeps the identical set
    again = cluster_balanced_sample(corpus, per_cell_cap=5, n_cells=2).collect()
    assert {(r.vid, r.cell_id, r.rank) for r in kept} == {
        (r.vid, r.cell_id, r.rank) for r in again
    }
    # prototype vs outlier: rank-1 picks opposite extremes of centroid
    # similarity within each cell
    proto = {r.cell_id: r.vid for r in cluster_balanced_sample(
        corpus, per_cell_cap=1, n_cells=2, rank_by="prototype").collect()}
    outl = {r.cell_id: r.vid for r in cluster_balanced_sample(
        corpus, per_cell_cap=1, n_cells=2, rank_by="outlier").collect()}
    assert set(proto) == set(outl) and proto != outl

    import pytest as _pytest

    with _pytest.raises(ValueError, match="per_cell_cap"):
        cluster_balanced_sample(corpus, per_cell_cap=0)
    with _pytest.raises(ValueError, match="rank_by"):
        cluster_balanced_sample(corpus, per_cell_cap=1, rank_by="zzz")


def test_append_ivf_index_assigns_and_serves_new_vectors(spark, tmp_path):
    """r13: append_ivf_index assigns new vectors map-only against the
    EXISTING centroids; probing every cell afterwards equals exhaustive
    search over the grown corpus, and the int8 layout quantizes
    appended rows to match."""
    import pyspark.sql.functions as F

    from lakeflush_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        ivf_search,
        prepare_vectors,
        quantize_index,
    )

    def vecs_df(ids):
        return spark.createDataFrame(
            [
                (i, [float((i * 5 + d * 3) % 13) - 6.0 for d in range(8)])
                for i in ids
            ],
            "vec_id long, embedding array<double>",
        )

    n_cells = 4
    base = prepare_vectors(vecs_df(range(40)))
    extra = prepare_vectors(vecs_df(range(100, 120)))
    idx = str(tmp_path / "ivf")
    build_ivf_index(base, idx, n_cells=n_cells)
    append_ivf_index(spark, extra, idx)

    # appended rows carry assignments matching a fresh map-only pass
    # against the same sidecar
    from lakeflush_spark.operators.similarity import (
        _nearest_cells,
        _pack_cells,
    )

    cents = spark.read.parquet(f"{idx}/centroids")
    want = {
        (r.vid, r.cell_id)
        for r in _nearest_cells(extra, _pack_cells(cents), 1)
        .select("vid", "cell_id")
        .collect()
    }
    got = {
        (r.vid, r.cell_id)
        for r in spark.read.option("basePath", f"{idx}/vectors")
        .parquet(f"{idx}/vectors")
        .where("vid >= 100")
        .select("vid", "cell_id")
        .collect()
    }
    assert got == want and len(got) == 20

    # probing EVERY cell == exhaustive search over the grown corpus
    from lakeflush_spark.operators.similarity import brute_force_topk

    queries = prepare_vectors(vecs_df([500]))  # fresh query vector
    grown = prepare_vectors(vecs_df(list(range(40)) + list(range(100, 120))))
    served = {
        (r.neighbor_id, r.rank)
        for r in ivf_search(spark, idx, queries, k=5, nprobe=n_cells).collect()
    }
    exact = {
        (r.neighbor_id, r.rank)
        for r in brute_force_topk(grown, queries, k=5).collect()
    }
    assert served == exact
    # and the appended population is actually reachable
    assert spark.read.parquet(f"{idx}/vectors").count() == 60

    # int8 layout: appended rows quantize to match
    idx8 = str(tmp_path / "ivf8")
    quantize_index(spark, idx, idx8)
    append_ivf_index(spark, prepare_vectors(vecs_df([300])), idx8)
    row = (
        spark.read.option("basePath", f"{idx8}/vectors")
        .parquet(f"{idx8}/vectors")
        .where("vid = 300")
        .collect()
    )
    assert len(row) == 1 and row[0].qv is not None


def test_compact_ivf_index_is_value_identical_and_fewer_files(spark, tmp_path):
    """r13: compaction re-coalesces an appended-to index's vector files
    per _cp into a fresh dest; searches are value-identical and a live
    dest is refused."""
    import glob as _glob

    import pytest as _pytest

    from lakeflush_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_search,
        prepare_vectors,
    )

    def vecs_df(ids):
        return spark.createDataFrame(
            [
                (i, [float((i * 5 + d * 3) % 13) - 6.0 for d in range(8)])
                for i in ids
            ],
            "vec_id long, embedding array<double>",
        )

    idx = str(tmp_path / "ivf")
    build_ivf_index(prepare_vectors(vecs_df(range(40))), idx, n_cells=4)
    for shard in (range(100, 110), range(200, 210), range(300, 310)):
        append_ivf_index(spark, prepare_vectors(vecs_df(shard)), idx)

    comp = str(tmp_path / "ivf_c")
    compact_ivf_index(spark, idx, comp)
    q = prepare_vectors(vecs_df([999]))

    def res(d):
        return {
            (r.neighbor_id, r.rank)
            for r in ivf_search(spark, d, q, k=8, nprobe=4).collect()
        }

    assert res(comp) == res(idx)
    assert spark.read.parquet(f"{comp}/vectors").count() == 70
    n_src = len(_glob.glob(f"{idx}/vectors/_cp=*/part-*.parquet"))
    n_dst = len(_glob.glob(f"{comp}/vectors/_cp=*/part-*.parquet"))
    assert n_dst < n_src
    with _pytest.raises(Exception):
        compact_ivf_index(spark, idx, comp)
