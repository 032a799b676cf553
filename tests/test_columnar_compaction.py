"""Columnar bundle formats — the lakehouse maintenance path.

"Compact many small parquet files into few big ones" is the canonical
Spark small-file job; the reference can't express it (text-only data
plane, SURVEY §1.2). Round-trips verified by row-multiset equality.
"""

import glob
import os

import pytest

from lakeflush_spark.io import load_table
from lakeflush_spark.operators.compaction import (
    CompactionConfig,
    compact,
    read_bundles,
)


def _small_parquet_lake(df, root: str, n: int) -> None:
    df.repartition(n).write.mode("overwrite").parquet(root)


def test_parquet_to_parquet_compaction(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    lake = str(tmp_path / "plake")
    _small_parquet_lake(orders, lake, 40)
    dest = str(tmp_path / "pout")
    res = compact(
        spark,
        CompactionConfig(
            source_dir=lake, dest_dir=dest, file_format="parquet", max_size_mb=16
        ),
    )
    # 40 data files (+ the writer's zero-byte _SUCCESS marker, which the
    # one-call getContentSummary listing cannot exclude; it contributes
    # zero bytes so sizing is unaffected)
    assert res.source_files in (40, 41)
    bundles = [p for p in glob.glob(os.path.join(dest, "part-*")) if os.path.getsize(p)]
    assert 1 <= len(bundles) < 40, "small files consolidated"
    assert all(os.path.getsize(p) <= 16 * 1024 * 1024 for p in bundles)
    back = read_bundles(spark, dest, "parquet")
    assert back.count() == orders.count()
    assert back.exceptAll(orders).count() == 0


def test_json_to_parquet_compaction(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    lake = str(tmp_path / "jlake")
    nation.repartition(10).write.mode("overwrite").json(lake)
    dest = str(tmp_path / "jout")
    compact(
        spark,
        CompactionConfig(
            source_dir=lake,
            dest_dir=dest,
            file_format="json",
            output_format="parquet",
            max_size_mb=8,
        ),
    )
    back = read_bundles(spark, dest, "parquet")
    assert back.count() == nation.count()
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in nation.collect()
    )


def test_parquet_to_orc_compaction(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer")
    lake = str(tmp_path / "clake")
    _small_parquet_lake(cust, lake, 12)
    dest = str(tmp_path / "oout")
    compact(
        spark,
        CompactionConfig(
            source_dir=lake,
            dest_dir=dest,
            file_format="parquet",
            output_format="orc",
            max_size_mb=16,
        ),
    )
    back = read_bundles(spark, dest, "orc")
    assert back.count() == cust.count()
    assert back.exceptAll(cust).count() == 0


def test_approx_distinct_error_bound(spark, sf_dir):
    # q10's tolerance contract: HLL++ at rsd=0.01 stays within 5% of
    # exact, so the approx_ok verdict column is TRUE for every segment
    from lakeflush_spark.plans import QUERIES

    rows = QUERIES["q10_distinct_exact_approx"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.approx_ok, f"HLL++ out of 5% tolerance for {r.c_mktsegment}"


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    # IVF@nprobe=4/16 cells must recover most of the exact top-10
    from lakeflush_spark.plans import QUERIES

    exact = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["q29_ann_topk"].builder(spark, sf_dir).collect()
        if r.method == "exact"
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["q55_ann_ivf"].builder(spark, sf_dir).collect()
    }
    assert exact, "baseline non-empty"
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.6, f"IVF recall@10 too low: {recall:.2f}"


def test_q55_index_registers_temp_dir_cleanup_before_the_builds(
    spark, sf_dir, monkeypatch
):
    # a derived build that fails must not leak the memo's temp dirs:
    # each dir's atexit cleanup is registered as soon as it exists
    import atexit
    import shutil

    import lakeflush_spark.operators.pq as pq
    import lakeflush_spark.operators.similarity as sim
    import lakeflush_spark.plans.similarity_queries as sq
    import lakeflush_spark.streaming.retrieval as stream_ret

    registered = []

    def record(fn, path, **kw):
        registered.append(path)

    def fail(*a, **kw):
        raise RuntimeError("int8 build failed")

    class _Finished:
        def awaitTermination(self, timeout):
            return True

    monkeypatch.setattr(atexit, "register", record)
    monkeypatch.setattr(sim, "build_ivf_index", lambda *a, **kw: None)
    monkeypatch.setattr(sim, "quantize_index", fail)
    monkeypatch.setattr(pq, "pq_encode_index", lambda *a, **kw: None)
    monkeypatch.setattr(stream_ret, "ivf_index_stream", lambda *a, **kw: _Finished())
    monkeypatch.setattr(sq, "_Q55_IDX_MEMO", {})
    try:
        with pytest.raises(RuntimeError, match="int8 build failed"):
            sq._q55_index(spark, sf_dir)
        assert sq._Q55_IDX_MEMO == {}
        idx = min((p for p in registered if "q55_ivf_index_" in p), key=len)
        (work,) = [p for p in registered if os.path.basename(p).startswith("q55_ivf_stream_")]
        assert sorted(registered) == sorted([idx, idx + "_int8", idx + "_pq", work])
    finally:
        for path in registered:
            shutil.rmtree(path, ignore_errors=True)


def test_ivf_kmeans_refinement_recall(spark, sf_medium_dir):
    # Lloyd-refined quantizer clears the tightened 0.8 recall gate
    # (md5 seeds alone manage ~0.7 on this near-uniform corpus; the
    # refinement adapts cells to the actual distribution)
    from lakeflush_spark.io import load_table
    from lakeflush_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        prepare_vectors,
    )
    from lakeflush_spark.plans.similarity_queries import N_QUERIES, TOP_K

    corpus = prepare_vectors(load_table(spark, sf_medium_dir, "embeddings"))
    queries = corpus.where(corpus.vid < N_QUERIES)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(corpus, queries, TOP_K).collect()
    }
    refined = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(corpus, queries, TOP_K, n_cells=16, nprobe=8,
                          kmeans_iters=2).collect()
    }
    recall = len(refined & exact) / len(exact)
    assert recall >= 0.8, f"k-means-refined IVF recall@10 too low: {recall:.2f}"


def test_corrupt_file_skip(spark, sf_dir, tmp_path):
    # O19 parity: per-file read errors skip the file, not the job
    # (reference collectors/local_lake.py:69-72). A torn parquet file
    # in the lake must not fail parsed-mode compaction.
    orders = load_table(spark, sf_dir, "orders")
    lake = str(tmp_path / "lake")
    _small_parquet_lake(orders, lake, 8)
    good = glob.glob(os.path.join(lake, "part-*"))[0]
    with open(os.path.join(lake, "part-corrupt.parquet"), "wb") as f:
        f.write(open(good, "rb").read()[:100])  # torn file
    dest = str(tmp_path / "out")
    compact(
        spark,
        CompactionConfig(
            source_dir=lake,
            dest_dir=dest,
            file_format="parquet",
            max_size_mb=16,
            ignore_corrupt_files=True,
        ),
    )
    back = read_bundles(spark, dest, "parquet")
    assert back.count() == orders.count()


def test_zstd_codec_override(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    lake = str(tmp_path / "zlake")
    _small_parquet_lake(orders, lake, 8)
    dest = str(tmp_path / "zout")
    compact(
        spark,
        CompactionConfig(
            source_dir=lake,
            dest_dir=dest,
            file_format="parquet",
            compression_codec="zstd",
            max_size_mb=16,
        ),
    )
    files = glob.glob(os.path.join(dest, "part-*"))
    assert files and all(".zstd." in os.path.basename(p) for p in files)
    assert read_bundles(spark, dest, "parquet").count() == orders.count()


def test_overwrite_mode_is_idempotent(spark, sf_dir, tmp_path):
    # append re-runs duplicate (reference's no-resume parity);
    # overwrite re-runs replace -> idempotent batch job
    nation = load_table(spark, sf_dir, "nation")
    lake = str(tmp_path / "ilake")
    nation.repartition(5).write.mode("overwrite").json(lake)
    dest = str(tmp_path / "iout")
    cfg = CompactionConfig(
        source_dir=lake,
        dest_dir=dest,
        file_format="json",
        output_format="parquet",
        write_mode="overwrite",
        max_size_mb=8,
    )
    compact(spark, cfg)
    compact(spark, cfg)  # re-run must not duplicate
    assert read_bundles(spark, dest, "parquet").count() == nation.count()
