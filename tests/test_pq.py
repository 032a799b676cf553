"""IVF-PQ units: codebook determinism, encode layout, ADC + reranked
search fidelity, and the maintenance lifecycle (append / compact /
layout guards) shared with the IVF index."""

import os

import pyspark.sql.functions as F

from lakeflush_spark.operators.pq import (
    ivfpq_search,
    pq_encode_index,
    read_codebooks,
    train_pq_codebooks,
)
from lakeflush_spark.operators.similarity import (
    append_ivf_index,
    build_ivf_index,
    compact_ivf_index,
    ivf_search,
    prepare_vectors,
    quantize_index,
)


def _corpus(spark, n=600, dims=64, offset=0):
    rows = [
        (i + offset, [((i * 37 + j * 11) % 97) / 97.0 - 0.5 for j in range(dims)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return prepare_vectors(df)


def test_train_pq_codebooks_partitioning_independent(spark):
    import numpy as np

    corpus = _corpus(spark)
    cb1 = train_pq_codebooks(corpus, m=8, n_codes=32, iters=4)
    cb2 = train_pq_codebooks(corpus.repartition(13), m=8, n_codes=32, iters=4)
    assert cb1.shape == (8, 32, 8)
    assert np.array_equal(cb1, cb2)


def test_pq_encode_index_layout_and_code_bounds(spark, tmp_path):
    corpus = _corpus(spark)
    idx = str(tmp_path / "ivf")
    pq = str(tmp_path / "pq")
    build_ivf_index(corpus, idx, n_cells=8)
    pq_encode_index(spark, idx, pq, m=8, n_codes=32)
    # layout: codes store + BOTH sidecars, _cp partitions preserved
    assert os.path.isdir(os.path.join(pq, "codebooks"))
    assert os.path.isdir(os.path.join(pq, "centroids"))
    leaves = os.listdir(os.path.join(pq, "vectors"))
    assert any(p.startswith("_cp=") for p in leaves)
    vecs = spark.read.option("basePath", f"{pq}/vectors").parquet(f"{pq}/vectors")
    stats = vecs.select(
        F.min(F.size("codes")).alias("lo_m"),
        F.max(F.size("codes")).alias("hi_m"),
        F.min(F.array_min("codes")).alias("lo_c"),
        F.max(F.array_max("codes")).alias("hi_c"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert (stats.lo_m, stats.hi_m) == (8, 8)
    assert stats.lo_c >= 0 and stats.hi_c < 32
    assert stats.n == 600
    # cell assignments / norms carried over row-for-row
    src = {
        (r.vid, r.cell_id, r.nrm)
        for r in spark.read.option("basePath", f"{idx}/vectors")
        .parquet(f"{idx}/vectors")
        .select("vid", "cell_id", "nrm")
        .collect()
    }
    got = {
        (r.vid, r.cell_id, r.nrm)
        for r in vecs.select("vid", "cell_id", "nrm").collect()
    }
    assert got == src
    # codebooks sidecar round-trips to the training output
    import numpy as np

    cb = read_codebooks(spark, pq)
    assert cb.shape == (8, 32, 8)
    want = train_pq_codebooks(
        spark.read.option("basePath", f"{idx}/vectors")
        .parquet(f"{idx}/vectors")
        .select("vid", "v"),
        m=8,
        n_codes=32,
    )
    assert np.allclose(cb, want)


def test_ivfpq_reranked_search_matches_float_search(spark, tmp_path):
    """The refine posture (FAISS IVFPQR): ADC candidates at factor 8,
    exact rescoring against the float parent — value-identical
    (query, neighbor, cosine, rank) tuples to ivf_search here."""
    corpus = _corpus(spark)
    queries = corpus.where(F.col("vid") < 4)
    idx = str(tmp_path / "ivf")
    pq = str(tmp_path / "pq")
    build_ivf_index(corpus, idx, n_cells=8)
    pq_encode_index(spark, idx, pq, m=16, n_codes=64)
    want = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in ivf_search(spark, idx, queries, k=5, nprobe=4).collect()
    }
    got = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in ivfpq_search(
            spark, pq, queries, k=5, nprobe=4,
            rerank_index_dir=idx, rerank_factor=8,
        ).collect()
    }
    assert got == want


def test_ivfpq_adc_search_ranks_sensibly(spark, tmp_path):
    """Raw ADC (no rerank): approximate cosines, but the top-k of a
    full-probe search must still recover most true neighbors."""
    corpus = _corpus(spark)
    queries = corpus.where(F.col("vid") < 4)
    idx = str(tmp_path / "ivf")
    pq = str(tmp_path / "pq")
    build_ivf_index(corpus, idx, n_cells=8)
    pq_encode_index(spark, idx, pq, m=16, n_codes=64)
    pairs = lambda df: {  # noqa: E731
        (r.query_id, r.neighbor_id) for r in df.collect()
    }
    want = pairs(ivf_search(spark, idx, queries, k=10, nprobe=8))
    got = pairs(ivfpq_search(spark, pq, queries, k=10, nprobe=8))
    assert len(got & want) >= int(0.6 * len(want))


def test_append_ivf_index_encodes_onto_pq_layout(spark, tmp_path):
    corpus = _corpus(spark, n=400)
    extra = _corpus(spark, n=50, offset=1000)
    idx = str(tmp_path / "ivf")
    pq = str(tmp_path / "pq")
    build_ivf_index(corpus, idx, n_cells=8)
    pq_encode_index(spark, idx, pq, m=8, n_codes=32)
    append_ivf_index(spark, extra, pq)
    vecs = spark.read.option("basePath", f"{pq}/vectors").parquet(f"{pq}/vectors")
    assert vecs.count() == 450
    # appended rows are PQ-encoded (no float column in the store)
    assert "v" not in vecs.columns and "codes" in vecs.columns
    # frozen-codebook consistency: appended vid=1030 carries the SAME
    # vector as base vid=30 (the lattice repeats with period 97 and
    # _corpus offsets ids, not the formula), so it must encode to the
    # same codes and the same cell as 30's base-corpus twins
    fam = {
        r.vid: (r.cell_id, tuple(r.codes))
        for r in vecs.where(F.col("vid").isin(30, 127, 224, 321, 1030)).collect()
    }
    assert len(fam) == 5 and len(set(fam.values())) == 1
    # and a full-probe search retrieves the appended twin at the same
    # estimated cosine as the base twins (identical codes -> identical
    # ADC score)
    queries = corpus.where(F.col("vid") == 30)
    got = {
        r.neighbor_id: r.cos_sim
        for r in ivfpq_search(spark, pq, queries, k=400, nprobe=8).collect()
    }
    assert 1030 in got and got[1030] == got[127]


def test_compact_ivf_index_carries_pq_sidecars(spark, tmp_path):
    import numpy as np

    corpus = _corpus(spark, n=400)
    extra = _corpus(spark, n=50, offset=1000)
    idx = str(tmp_path / "ivf")
    pq = str(tmp_path / "pq")
    dest = str(tmp_path / "pq_compacted")
    build_ivf_index(corpus, idx, n_cells=8)
    pq_encode_index(spark, idx, pq, m=8, n_codes=32)
    append_ivf_index(spark, extra, pq)
    compact_ivf_index(spark, pq, dest)
    assert np.array_equal(read_codebooks(spark, pq), read_codebooks(spark, dest))
    queries = corpus.where(F.col("vid") < 3)
    res = lambda d: {  # noqa: E731
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in ivfpq_search(spark, d, queries, k=5, nprobe=4).collect()
    }
    assert res(dest) == res(pq)


def test_layout_guards(spark, tmp_path):
    import pytest

    corpus = _corpus(spark, n=200)
    idx = str(tmp_path / "ivf")
    idx8 = str(tmp_path / "ivf8")
    pq = str(tmp_path / "pq")
    build_ivf_index(corpus, idx, n_cells=4)
    quantize_index(spark, idx, idx8)
    pq_encode_index(spark, idx, pq, m=8, n_codes=16)
    queries = corpus.where(F.col("vid") < 2)
    with pytest.raises(ValueError, match="IVF-PQ"):
        ivf_search(spark, pq, queries, k=3)
    with pytest.raises(ValueError, match="IVF-PQ"):
        quantize_index(spark, pq, str(tmp_path / "x1"))
    with pytest.raises(ValueError, match="float"):
        pq_encode_index(spark, idx8, str(tmp_path / "x2"))
    with pytest.raises(ValueError, match="IVF-PQ"):
        ivfpq_search(spark, idx, queries, k=3)


def test_reencode_at_same_path_invalidates_codebook_cache(spark, tmp_path):
    """A delete + re-encode at the SAME dest path within one session
    must serve the NEW codebooks (r15, VERDICT r14 #4: the per-(appId,
    dir) cache would otherwise return the stale array)."""
    import shutil

    import numpy as np

    idx_a = str(tmp_path / "ivf_a")
    idx_b = str(tmp_path / "ivf_b")
    pq = str(tmp_path / "pq")
    build_ivf_index(_corpus(spark, n=300), idx_a, n_cells=4)
    # a different corpus trains measurably different codebooks
    build_ivf_index(_corpus(spark, n=300, offset=5000), idx_b, n_cells=4)
    pq_encode_index(spark, idx_a, pq, m=8, n_codes=16)
    cb_a = read_codebooks(spark, pq)  # populates the cache
    shutil.rmtree(pq)
    pq_encode_index(spark, idx_b, pq, m=8, n_codes=16)
    cb_b = read_codebooks(spark, pq)
    fresh = train_pq_codebooks(
        spark.read.option("basePath", f"{idx_b}/vectors")
        .parquet(f"{idx_b}/vectors")
        .select("vid", "v"),
        m=8,
        n_codes=16,
    )
    assert not np.array_equal(cb_a, cb_b)
    assert np.array_equal(cb_b, fresh)


def test_trailing_slash_read_sees_reencoded_codebooks(spark, tmp_path):
    """``read_codebooks`` and the re-encode invalidation must agree on
    the cache key: a read via ``idx/`` after a delete and rebuild at
    ``idx`` serves the NEW codebooks."""
    import shutil

    import numpy as np

    idx_a = str(tmp_path / "ivf_a")
    idx_b = str(tmp_path / "ivf_b")
    pq = str(tmp_path / "pq")
    build_ivf_index(_corpus(spark, n=300), idx_a, n_cells=4)
    build_ivf_index(_corpus(spark, n=300, offset=5000), idx_b, n_cells=4)
    pq_encode_index(spark, idx_a, pq, m=8, n_codes=16)
    cb_a = read_codebooks(spark, pq + "/")
    shutil.rmtree(pq)
    pq_encode_index(spark, idx_b, pq, m=8, n_codes=16)
    cb_b = read_codebooks(spark, pq + "/")
    assert not np.array_equal(cb_a, cb_b)
    assert np.array_equal(cb_b, read_codebooks(spark, pq))
