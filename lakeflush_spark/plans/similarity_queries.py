"""Q29–Q30 — similarity search over ``embeddings`` (LLM-data ops).

Brute-force cosine top-k (exact baseline) and the sign-LSH bucketed
variant (scale path). The oracle recomputes identical cosines and
buckets in DuckDB; ranking windows order by the ROUNDED cosine with
id tie-breaks, so rank assignment is engine-independent.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from lakeflush_spark.io import load_table, overlap, spread_for_compute
from lakeflush_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    prepare_vectors,
)
from lakeflush_spark.plans.queries import declare

N_QUERIES = 5  # query set = vec_id < 5
TOP_K = 10
LSH_BITS = 8

_VEC_CTES = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
n AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
             ({" + ".join(f"(CASE WHEN v[{i + 1}] >= 0 THEN {2**i} ELSE 0 END)" for i in range(LSH_BITS))})::BIGINT AS bucket
      FROM e),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, bucket AS qbucket
      FROM n WHERE vec_id < {N_QUERIES})
"""

_SQL_COS = "round(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) / (qnrm * nrm), 4)"

# ---------------------------------------------------------------------------
# 'rp' (r14): Johnson–Lindenstrauss ±1/sqrt(out_dim) sign projection —
# the SAME matrix rides the Spark plan as a literal and the oracle as a
# SQL list literal (both generated by jl_sign_matrix, a pure function
# of (d, out_dim, seed)), and both engines fold the projection and the
# projected cosine in identical sequential order, so the label is
# hash-EXACT, not a verdict. The 0.25 scale (1/sqrt(16)) is a power of
# two — every product is an exact float64 scaling.
_JL_DIM = 16

from lakeflush_spark.functions.vectors import jl_sign_matrix  # noqa: E402

_JL_SIGNS = jl_sign_matrix(64, _JL_DIM)

_JL_SIGNS_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join(repr(x) for x in row) + "]" for row in _JL_SIGNS
    )
    + "]"
)

_JL_CTES = f""",
jp AS (SELECT vec_id,
              list_transform({_JL_SIGNS_SQL},
                             s -> list_sum(list_transform(range(1, 65),
                                                          i -> v[i] * s[i]))) AS pv
       FROM e),
jpn AS (SELECT vec_id, pv,
               sqrt(list_sum(list_transform(pv, x -> x * x))) AS nrm
        FROM jp),
jpq AS (SELECT vec_id AS qid, pv AS qv, nrm AS qnrm
        FROM jpn WHERE vec_id < {N_QUERIES})
"""

_JL_SQL_BRANCH = f""" UNION ALL
    SELECT 'rp' AS method, query_id, neighbor_id, cos_sim, rank FROM (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
               ) AS BIGINT) AS rank
        FROM (
            SELECT jpq.qid AS query_id, jpn.vec_id AS neighbor_id,
                   round(list_sum(list_transform(range(1, {_JL_DIM + 1}),
                                                 j -> jpq.qv[j] * jpn.pv[j]))
                         / (jpq.qnrm * jpn.nrm), 4) AS cos_sim
            FROM jpn JOIN jpq ON jpn.vec_id != jpq.qid
        )
    ) WHERE rank <= {TOP_K}
"""


def _sql_topk_labeled(method: str, bucket_cond: str) -> str:
    """One method's scored+ranked CTE chain as a labeled SELECT."""
    return f"""
    SELECT '{method}' AS method, query_id, neighbor_id, cos_sim, rank FROM (
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
               ) AS BIGINT) AS rank
        FROM (
            SELECT qid AS query_id, vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
            FROM n JOIN q ON vec_id != qid {bucket_cond}
        )
    ) WHERE rank <= {TOP_K}
    """


@declare(
    "q29_ann_topk",
    _VEC_CTES
    + _JL_CTES
    + _sql_topk_labeled("exact", "")
    + " UNION ALL "
    + _sql_topk_labeled("lsh", "AND bucket = qbucket")
    + _JL_SQL_BRANCH
    + """ UNION ALL
    -- 'fidelity' (r9): int8 round-trip VERDICT rows, one per corpus
    -- vector (the q10/q55-int8 tolerance trick — int8 lane values are
    -- not bit-replayable in SQL, so the ENGINE asserts the bound and
    -- the driver hash-checks the assertion): cos_sim=1.0 and rank=1
    -- iff dequantize(quantize(l2_normalize(v))) stays within the
    -- documented per-element scale/2 error bound AND >=0.999 cosine
    -- of the normalized original AND the normalized vector has unit
    -- norm. Any vector failing hashes as 0.0/0 and mismatches.
    SELECT 'fidelity' AS method, vec_id AS query_id,
           vec_id AS neighbor_id, 1.0 AS cos_sim, CAST(1 AS BIGINT) AS rank
    FROM embeddings
    """
    + " ORDER BY method, query_id, rank",
    "ANN top-10 for 5 query vectors, two strategies labeled in one "
    "frame: exact brute-force cosine (broadcast queries, one corpus "
    "scan, window top-k — the correctness baseline) and sign-LSH "
    "bucketed search (256 sign buckets; the bucket equi-join cuts "
    "candidate pairs ~256x — the scale path). (r4: merged q29+q30 to "
    "free a contract slot for q62.) r9 adds the 'fidelity' label: the "
    "embedding-compression kit (functions/vectors.l2_normalize / "
    "quantize_int8 / dequantize_int8) driver-verified per corpus "
    "vector via verdict rows — map-only, no shuffle beyond the "
    "existing total order. r14 adds 'rp': Johnson-Lindenstrauss "
    "+-1/sqrt(16) sign projection 64->16 (jl_sign_matrix / "
    "random_project — the pre-reduction that cuts downstream "
    "LSH/IVF shuffle bytes 4x at 100 TB) with top-k in the PROJECTED "
    "space hash-EXACT against the oracle's replay of the same "
    "literal matrix (identical sequential fold order both engines).",
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeflush_spark.functions.vectors import (
        dequantize_int8,
        int8_roundtrip_verdict,
        l2_norm,
        l2_normalize,
        quantize_int8,
        random_project,
    )

    emb = spread_for_compute(load_table(spark, sf_dir, "embeddings"), spark)
    # r15 (guide §2.4, VERDICT r14 #3): the four labels each re-derived
    # the prepared corpus from the embeddings parquet — the union plan
    # carried SEVEN scans per materialization (exact 2, lsh 2, fidelity
    # 1, rp 2), each re-running the to_double_vec + norm + bucket map
    # work. ONE localCheckpoint per build is shared by every label:
    # exact/lsh consume it directly, and fidelity/rp derive map-only
    # from its `v` column, which IS to_double_vec(embedding) — the
    # same expression the labels previously applied to the raw scan,
    # so every value is identical by construction (oracle-verified).
    # The checkpoint is paid inside the timed build on every call.
    corpus = prepare_vectors(
        emb, with_bucket=True, n_bits=LSH_BITS
    ).localCheckpoint()
    queries = corpus.where(corpus.vid < N_QUERIES)
    exact = brute_force_topk(corpus.drop("bucket"), queries.drop("bucket"), TOP_K).select(
        F.lit("exact").alias("method"), "query_id", "neighbor_id", "cos_sim", "rank"
    )
    lsh = lsh_topk(corpus, queries, TOP_K).select(
        F.lit("lsh").alias("method"), "query_id", "neighbor_id", "cos_sim", "rank"
    )
    # 'fidelity' (r9): per-vector int8 round-trip verdict — one
    # map-only corpus scan, all JVM Column expressions; the contract
    # asserted lives in ``int8_roundtrip_verdict`` (unit-tested both
    # ways in tests/test_vectors.py, incl. a planted violation).
    rt = corpus.select(
        F.col("vid").alias("vec_id"),
        l2_normalize(F.col("v")).alias("nv"),
    ).withColumn("dv", dequantize_int8(quantize_int8(F.col("nv"))))
    ok = int8_roundtrip_verdict(F.col("nv"), F.col("dv"))
    fidelity = rt.select(
        F.lit("fidelity").alias("method"),
        F.col("vec_id").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.when(ok, 1.0).otherwise(0.0).alias("cos_sim"),
        F.when(ok, 1).otherwise(0).cast("bigint").alias("rank"),
    )
    # 'rp' (r14): brute-force top-k in the JL-projected 16-dim space —
    # map-only projection (one sequential dot per output coordinate)
    # off the shared checkpoint (corpus.v == to_double_vec(embedding)),
    # then the same broadcast-scan top-k as 'exact' over 4x-smaller
    # vectors; hash-exact vs the oracle's literal-matrix replay
    proj = corpus.select(
        "vid",
        random_project(F.col("v"), _JL_SIGNS).alias("v"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    rp = brute_force_topk(proj, proj.where(F.col("vid") < N_QUERIES), TOP_K).select(
        F.lit("rp").alias("method"), "query_id", "neighbor_id", "cos_sim", "rank"
    )
    return (
        exact.unionByName(lsh).unionByName(fidelity).unionByName(rp)
        .orderBy("method", "query_id", "rank")
    )


_IVF_CELLS = 16
# nprobe=8 on this corpus: the synthetic embeddings are near-uniform —
# the hardest case for IVF (weak cluster structure) — so half the cells
# must be probed to keep recall@10 above the gate. On a real clustered
# corpus fewer probes suffice; the candidate-set reduction is still 2x
# here and n_cells/nprobe-fold in general.
_IVF_NPROBE = 8
# the two-level (coarse -> fine) label: ~sqrt(n_cells) coarse
# super-cells; queries probe their 2 best coarse groups
_IVF_COARSE = 4
_IVF_COARSE_PROBE = 2


def _cscore(v: str, nrm: str, cv: str, cnrm: str) -> str:
    """The 6dp-rounded assignment cosine (operators/similarity
    ``_nearest_cells``' struct score) as DuckDB SQL."""
    return (
        f"round(list_sum(list_transform(range(1, 65), i -> {v}[i] * {cv}[i]))"
        f" / ({nrm} * {cnrm}), 6)"
    )


# Full IVF twin in SQL: the md5-bucket centroid sample, the argmax cell
# assignment (6dp-rounded scores, cell-id tie-break), nprobe probing,
# and the final top-k are ALL recomputed by DuckDB — the driver
# hash-checks the entire index build + search, not just row counts.
# r7: the 'twolevel' label replays the OPT-IN two-level assignment
# (operators/similarity._pack_cells_two_level / _nearest_cells_two_level)
# end-to-end: coarse centroids are the md5-seed draw over the FINE
# centroids themselves, fine cells group under their argmax coarse
# cell, and every vector ranks only member-owning coarse cells, then
# its chosen groups' fine members — the exact scan the engine bounds
# at O(coarse + n_cells/coarse) per vector.
_IVF_SQL = (
    _VEC_CTES
    + f""",
cent AS (
    SELECT cell_id, v AS cv, nrm AS cnrm FROM (
        SELECT vec_id, v, nrm,
               CAST(row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
                    AS BIGINT) AS cell_id
        FROM n
    ) WHERE cell_id < {_IVF_CELLS}
),
ass AS (
    SELECT n.vec_id, c.cell_id,
           round(list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i]))
                 / (n.nrm * c.cnrm), 6) AS cscore
    FROM n CROSS JOIN cent c
),
ranked_cells AS (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cell_id) AS crn
    FROM ass
),
cell1 AS (SELECT vec_id, cell_id FROM ranked_cells WHERE crn = 1),
probes AS (
    SELECT q.qid, q.qv, q.qnrm, rc.cell_id
    FROM ranked_cells rc JOIN q ON rc.vec_id = q.qid
    WHERE rc.crn <= {_IVF_NPROBE}
),
scored AS (
    SELECT p.qid AS query_id, n.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
    FROM n
    JOIN cell1  ON n.vec_id = cell1.vec_id
    JOIN probes p ON p.cell_id = cell1.cell_id AND n.vec_id != p.qid
),
ccent AS (
    SELECT coarse_id, cv AS ccv, cnrm AS ccnrm FROM (
        SELECT cell_id, cv, cnrm,
               CAST(row_number() OVER (ORDER BY md5(cell_id::VARCHAR), cell_id) - 1
                    AS BIGINT) AS coarse_id
        FROM cent
    ) WHERE coarse_id < {_IVF_COARSE}
),
fgrp AS (
    SELECT cell_id, coarse_id FROM (
        SELECT c.cell_id, cc.coarse_id,
               row_number() OVER (PARTITION BY c.cell_id ORDER BY
                   {_cscore("c.cv", "c.cnrm", "cc.ccv", "cc.ccnrm")} DESC,
                   cc.coarse_id) AS rn
        FROM cent c CROSS JOIN ccent cc
    ) WHERE rn = 1
),
vcoarse AS (
    SELECT n.vec_id, cc.coarse_id,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY
               {_cscore("n.v", "n.nrm", "cc.ccv", "cc.ccnrm")} DESC,
               cc.coarse_id) AS crn
    FROM n CROSS JOIN ccent cc
    WHERE cc.coarse_id IN (SELECT coarse_id FROM fgrp)
),
vfine AS (
    SELECT nv.vec_id, f.cell_id,
           row_number() OVER (PARTITION BY nv.vec_id ORDER BY
               {_cscore("nv.v", "nv.nrm", "c.cv", "c.cnrm")} DESC,
               f.cell_id) AS frn
    FROM vcoarse vc
    JOIN fgrp f ON f.coarse_id = vc.coarse_id AND vc.crn <= 1
    JOIN cent c ON c.cell_id = f.cell_id
    JOIN n nv ON nv.vec_id = vc.vec_id
),
cell1_2l AS (SELECT vec_id, cell_id FROM vfine WHERE frn = 1),
qfine AS (
    SELECT nv.vec_id, f.cell_id,
           row_number() OVER (PARTITION BY nv.vec_id ORDER BY
               {_cscore("nv.v", "nv.nrm", "c.cv", "c.cnrm")} DESC,
               f.cell_id) AS frn
    FROM vcoarse vc
    JOIN fgrp f ON f.coarse_id = vc.coarse_id AND vc.crn <= {_IVF_COARSE_PROBE}
    JOIN cent c ON c.cell_id = f.cell_id
    JOIN n nv ON nv.vec_id = vc.vec_id
),
probes2 AS (
    SELECT q.qid, q.qv, q.qnrm, t.cell_id
    FROM qfine t JOIN q ON t.vec_id = q.qid
    WHERE t.frn <= {_IVF_NPROBE}
),
scored2 AS (
    SELECT p.qid AS query_id, n.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
    FROM n
    JOIN cell1_2l ON n.vec_id = cell1_2l.vec_id
    JOIN probes2 p ON p.cell_id = cell1_2l.cell_id AND n.vec_id != p.qid
),
ranked AS (
    SELECT 'flat' AS method, query_id, neighbor_id, cos_sim,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
           ) AS BIGINT) AS rank
    FROM scored
    UNION ALL
    -- 'served' = the persisted build_ivf_index/ivf_search path: the
    -- deterministic quantizer makes index-then-search value-identical
    -- to the one-shot flat search, so its oracle IS the flat chain
    SELECT 'served' AS method, query_id, neighbor_id, cos_sim,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
           ) AS BIGINT) AS rank
    FROM scored
    UNION ALL
    SELECT 'twolevel' AS method, query_id, neighbor_id, cos_sim,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
           ) AS BIGINT) AS rank
    FROM scored2
    UNION ALL
    -- 'shuffled' = ivf_search(broadcast_queries=False), the
    -- corpus-sized-query-set plan: value-identical to the broadcast
    -- plan, so its oracle is the same flat chain relabeled
    SELECT 'shuffled' AS method, query_id, neighbor_id, cos_sim,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
           ) AS BIGINT) AS rank
    FROM scored
    UNION ALL
    -- 'ivfstream' = ivf_index_stream-maintained store (r14): the
    -- corpus arrives through a real AvailableNow StreamingQuery
    -- against the frozen quantizer; deterministic assignment makes
    -- the streamed index value-identical to the batch build, so its
    -- oracle is the same flat chain relabeled
    SELECT 'ivfstream' AS method, query_id, neighbor_id, cos_sim,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
           ) AS BIGINT) AS rank
    FROM scored
    UNION ALL
    -- 'int8' = quantized-index serving VERDICT (the q10 trick): the
    -- engine emits rank=1 per query iff its int8-index top-k agrees
    -- with the float-index top-k (>= 80% pair overlap, cosine
    -- deviation <= 0.01 on shared pairs); the oracle expects every
    -- query's verdict to hold
    SELECT 'int8' AS method, qid AS query_id,
           CAST(-1 AS BIGINT) AS neighbor_id,
           CAST(NULL AS DOUBLE) AS cos_sim,
           CAST(1 AS BIGINT) AS rank
    FROM q
    UNION ALL
    -- 'pq' = IVF-PQ serving VERDICT (r14, same q10 trick): the engine
    -- emits rank=1 per query iff its reranked PQ top-k agrees with
    -- the float-index top-k (>= 80% pair overlap; rerank rescoring
    -- makes shared cosines exactly the float values); the oracle
    -- expects every query's verdict to hold
    SELECT 'pq' AS method, qid AS query_id,
           CAST(-1 AS BIGINT) AS neighbor_id,
           CAST(NULL AS DOUBLE) AS cos_sim,
           CAST(1 AS BIGINT) AS rank
    FROM q
)
SELECT method, query_id, neighbor_id, cos_sim, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY method, query_id, rank
"""
)


#: per-(session, sf_dir) memo of the PERSISTED index artifacts — the
#: float index dir, its int8 twin, and the prepared corpus/query
#: frames. Index building is a one-time serving artifact (the whole
#: point of build_ivf_index); the SEARCHES are the query's product and
#: stay live per call — unlike q41's memo, no result frame is cached.
#: Index dirs live for the session (atexit-cleaned), keyed by
#: applicationId so a restarted session rebuilds.
_Q55_IDX_MEMO: dict = {}


def _q55_index(spark: SparkSession, sf_dir: str):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _Q55_IDX_MEMO:
        return _Q55_IDX_MEMO[key]
    import atexit
    import shutil
    import tempfile

    from lakeflush_spark.operators.similarity import (
        build_ivf_index,
        quantize_index,
    )

    emb = spread_for_compute(load_table(spark, sf_dir, "embeddings"), spark)
    corpus = prepare_vectors(emb)
    # the query set is |N_QUERIES| rows but derives from a corpus scan
    # — un-checkpointed, every one of the five index searches per
    # build re-ran that scan just to produce 5 rows (r14; the memo
    # already owns the index artifacts, so the bounded query frame is
    # the same input-prep class). coalesce(1) first (r15): the filter
    # kept the corpus's 32-partition layout, so every downstream probe
    # stage over these 5 rows launched 32 near-empty tasks per search.
    queries = corpus.where(corpus.vid < N_QUERIES).coalesce(1).localCheckpoint()
    # every dir's cleanup is registered as soon as its path exists, so
    # a failed build below leaks nothing
    idx = tempfile.mkdtemp(prefix="q55_ivf_index_")
    # idx is already a unique path; derive the int8 twin's name from it
    # (quantize_index requires an ABSENT dest, so no mkdtemp here)
    idx8 = idx + "_int8"
    idx_pq = idx + "_pq"
    for path in (idx, idx8, idx_pq):
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    build_ivf_index(corpus, idx, n_cells=_IVF_CELLS)

    # the three DERIVED builds below are independent of each other
    # (each only READS the finished float index and writes its own
    # dir), so they overlap (r15, guide §2.6) — previously they
    # serialized ~40 s of once-per-session memo build:
    # - int8 twin (quantize_index)
    # - PQ twin (r14): m=16 six-bit codebooks off the float index —
    #   the geometry the rerank-agreement sweep measured at 100%
    #   candidate recall on this corpus (factor 8)
    # - streamed twin (r14): the same corpus arrives through
    #   ivf_index_stream against idx's frozen quantizer —
    #   deterministic assignment makes the stream-owned
    #   (_cp, run, batch) store serve searches value-identical to the
    #   batch-built index, so the 'ivfstream' label hash-checks the
    #   streaming maintenance path end-to-end
    from lakeflush_spark.operators.pq import pq_encode_index
    from lakeflush_spark.streaming.retrieval import (
        StreamVecIndexConfig,
        ivf_index_stream,
    )

    stream_work = tempfile.mkdtemp(prefix="q55_ivf_stream_")
    atexit.register(shutil.rmtree, stream_work, ignore_errors=True)
    idx_stream = f"{stream_work}/idx"

    def _boot_stream():
        emb.select("vec_id", "embedding").repartition(4).write.parquet(
            f"{stream_work}/src"
        )
        if not ivf_index_stream(
            spark,
            StreamVecIndexConfig(
                source_dir=f"{stream_work}/src",
                index_dir=idx_stream,
                checkpoint_dir=f"{stream_work}/ck",
                quantizer_index_dir=idx,
            ),
        ).awaitTermination(600):
            # a timed-out boot would leave a PARTIAL store that the
            # 'ivfstream' label would silently serve — fail loudly
            raise RuntimeError(
                "q55 ivf_index_stream boot did not finish within 600s; "
                "refusing to memoize a partial streamed index"
            )

    overlap(
        lambda: quantize_index(spark, idx, idx8),
        lambda: pq_encode_index(spark, idx, idx_pq, m=16, n_codes=64),
        _boot_stream,
    )
    _Q55_IDX_MEMO[key] = (corpus, queries, idx, idx8, idx_pq, idx_stream)
    return _Q55_IDX_MEMO[key]


def _agreement_verdict(
    queries, served_raw, approx_raw, method, types, dev_tol
):
    """One verdict row per QUERY comparing an approximate index's
    top-k against the float index's (the q10 tolerance trick): rank=1
    iff >= 80% of the float top-k pairs recur AND shared pairs
    deviate <= ``dev_tol`` in cosine. The oracle emits one row per q
    row, so a query with zero float results must still appear; the
    overlap floor scales to each query's ACTUAL float top-k size (a
    sparse query may have < TOP_K reachable neighbors — a fixed
    0.8*TOP_K floor would fail it despite perfect agreement)."""
    # both sides are top-k results (<= |queries| * k rows); broadcast
    # the float side so the pair-overlap join never plans an SMJ
    ov = approx_raw.select(
        "query_id", "neighbor_id", F.col("cos_sim").alias("c8")
    ).join(
        F.broadcast(
            served_raw.select(
                "query_id", "neighbor_id", F.col("cos_sim").alias("cf")
            )
        ),
        ["query_id", "neighbor_id"],
    )
    # both aggregates are <= one row per query (groupBy query_id over a
    # top-k result), i.e. bounded by the query batch at any corpus
    # size — but they hang off ExistingRDD checkpoints with no stats,
    # so the planner falls back to SortMergeJoin (2 exchanges + 2
    # sorts each). Broadcast them explicitly (guide §3.1): the probe
    # side stays unshuffled and the verdict is join-strategy-exact.
    return (
        queries.select(F.col("vid").alias("query_id"))
        .join(
            F.broadcast(
                served_raw.groupBy("query_id").agg(
                    F.count(F.lit(1)).alias("_n_float")
                )
            ),
            "query_id",
            "left",
        )
        .join(
            F.broadcast(
                ov.groupBy("query_id").agg(
                    F.count(F.lit(1)).alias("_n_ov"),
                    F.max(F.abs(F.col("c8") - F.col("cf"))).alias("_dev"),
                )
            ),
            "query_id",
            "left",
        )
        .select(
            F.lit(method).alias("method"),
            "query_id",
            F.lit(-1).cast(types["neighbor_id"]).alias("neighbor_id"),
            F.lit(None).cast(types["cos_sim"]).alias("cos_sim"),
            F.when(
                (
                    F.coalesce(F.col("_n_ov"), F.lit(0))
                    >= F.ceil(0.8 * F.coalesce(F.col("_n_float"), F.lit(0)))
                )
                & (F.coalesce(F.col("_dev"), F.lit(0.0)) <= dev_tol),
                1,
            )
            .otherwise(0)
            .cast(types["rank"])
            .alias("rank"),
        )
    )


@declare(
    "q55_ann_ivf",
    _IVF_SQL,
    "IVF ANN: md5-bucket-sampled coarse-quantizer cells (deterministic, "
    "content-independent draw), broadcast map-only cell assignment, "
    f"nprobe={_IVF_NPROBE}/{_IVF_CELLS} probing (this corpus is near-"
    "uniform — IVF's hardest case). Fully hash-checked: DuckDB rebuilds "
    "the identical index and search. Recall vs the exact baseline "
    "asserted in tests. (r2: upgraded from rows-only to full hash check; "
    f"r7: 'twolevel' label runs the same search through the opt-in "
    f"coarse_cells={_IVF_COARSE} two-level assignment — the "
    "corpus-proportional-n_cells scale path — with the oracle replaying "
    "the coarse->fine scan end to end; 'served' label drives the "
    "persisted build_ivf_index/ivf_search pair — centroid sidecar + "
    "_cp-partitioned vectors, searches pruned by partition elimination "
    "— which the deterministic quantizer makes value-identical to the "
    "flat search, so the driver hash-checks the serving path too; r9: "
    "'shuffled' drives broadcast_queries=False — the corpus-sized-"
    "query-set plan, value-identical, hash-checked — and 'int8' drives "
    "the quantize=True index layout with a per-query agreement VERDICT "
    "vs the float index — >=80% top-k pair overlap, <=0.01 cosine "
    "deviation — the q10 tolerance trick, since int8 cosines are not "
    "bit-reproducible in SQL; r14: 'pq' drives the IVF-PQ layout "
    "(operators/pq.py — m=16 sample-trained codebooks, ADC scoring as "
    "a JVM aggregate over code arrays, exact rerank against the float "
    "parent at factor 8) through the same per-query agreement verdict "
    "— rerank makes shared cosines exactly the float values, so only "
    "candidate recall is tolerated, at 100%-measured margin — and "
    "'ivfstream' serves the ivf_index_stream-maintained store (a real "
    "AvailableNow StreamingQuery in the memo build): deterministic "
    "assignment makes it value-identical to the batch index, so the "
    "streaming maintenance path itself is hash-checked.)",
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakeflush_spark.operators.similarity import (
        centroid_frame,
        ivf_search,
        ivf_topk,
    )

    corpus, queries, idx, idx8, idx_pq, idx_stream = _q55_index(spark, sf_dir)
    # r14 optimization (guide §2.6): the seven search legs below are
    # INDEPENDENT eager jobs over tiny frames — run sequentially they
    # serialized ~10 sub-second driver round trips per build; one
    # overlap() keeps every leg in flight (FIFO scheduling back-fills
    # idle cores). Each leg builds its own frames; results are
    # assembled after all of them finish, so the union — and every
    # value in it — is unchanged. (r15 measured all seven in flight as
    # the fastest shape at both 8 and 32 cores: narrower pools
    # serialize the slow pq leg behind the FIFO queue.)

    # one quantizer train per build, shared by the flat AND twolevel
    # labels (identical by the deterministic seed draw; previously
    # each ivf_topk call re-ran the persist+count seed scan)
    cents = centroid_frame(corpus, _IVF_CELLS).persist()

    # r14: _flat/_two localCheckpoint INSIDE their legs — they
    # were the only two legs still lazy at union time, so the final
    # materialization recomputed them AFTER every search had finished
    # (~1.9 s measured, the whole tail of the build). Checkpointed,
    # their compute overlaps the searches like everything else and the
    # union reads seven checkpoints. Same rows, same values.
    def _flat():
        cents.count()
        return ivf_topk(
            corpus, queries, TOP_K, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE,
            cents=cents,
        ).select(
            F.lit("flat").alias("method"),
            "query_id", "neighbor_id", "cos_sim", "rank",
        ).localCheckpoint()

    # materialize=True: eager localCheckpoint + probe-cache release
    # (the r8 serving-loop hygiene flag) — this builder runs
    # repeatedly in one long-lived session (bench warmups,
    # scale-smoke), so each call must leave zero pinned state
    def _served_raw():
        return ivf_search(
            spark, idx, queries, TOP_K, nprobe=_IVF_NPROBE,
            materialize=True,
        )

    # 'shuffled' (r9): the broadcast_queries=False serving plan —
    # the corpus-sized-query-set path — driven for real and
    # hash-checked against the same flat chain (value-identical)
    def _shuffled():
        return ivf_search(
            spark, idx, queries, TOP_K,
            nprobe=_IVF_NPROBE, broadcast_queries=False,
            materialize=True,
        ).select(
            F.lit("shuffled").alias("method"),
            "query_id", "neighbor_id", "cos_sim", "rank",
        )

    # 'int8' (r9): the quantized index layout (built once in the memo
    # via quantize_index — one map-only pass off the float index; the
    # test suite proves it equivalent to a from-scratch quantize=True
    # build) served end-to-end, verdict-checked (the q10 trick — int8
    # cosines are not bit-reproducible in SQL, agreement with the
    # float index is): per query, >= 80% of the float top-k pairs
    # recur and shared pairs deviate <= 0.01 in cosine.
    def _int8_raw():
        return ivf_search(
            spark, idx8, queries, TOP_K, nprobe=_IVF_NPROBE,
            materialize=True,
        )

    # 'pq' (r14): the IVF-PQ layout (pq_encode_index in the memo —
    # m=16 codebooks trained on the index's own vectors) served via
    # ADC + exact rerank against the float parent
    # (rerank_index_dir=idx), verdict-checked like int8. Rerank makes
    # shared-pair cosines EXACTLY the float values (dev_tol 1e-9 is a
    # float-noise guard, not a tolerance); only candidate recall is
    # approximate, and the 0.8 floor holds 100%-measured margin at
    # sf0.001/0.01/0.1 (see operators/pq.py).
    def _pq_raw():
        from lakeflush_spark.operators.pq import ivfpq_search

        return ivfpq_search(
            spark, idx_pq, queries, TOP_K, nprobe=_IVF_NPROBE,
            rerank_index_dir=idx, rerank_factor=8, materialize=True,
        )

    # 'ivfstream' (r14): the stream-maintained index (built once in
    # the memo via a real AvailableNow StreamingQuery) served through
    # the same search — value-identical to the batch index by
    # deterministic assignment, so the driver hash-checks the
    # streaming maintenance path itself
    def _ivstream():
        return ivf_search(
            spark, idx_stream, queries, TOP_K, nprobe=_IVF_NPROBE,
            materialize=True,
        ).select(
            F.lit("ivfstream").alias("method"),
            "query_id", "neighbor_id", "cos_sim", "rank",
        )

    def _two():
        return ivf_topk(
            corpus,
            queries,
            TOP_K,
            n_cells=_IVF_CELLS,
            nprobe=_IVF_NPROBE,
            coarse_cells=_IVF_COARSE,
            coarse_probe=_IVF_COARSE_PROBE,
            cents=cents,
        ).select(
            F.lit("twolevel").alias("method"),
            "query_id", "neighbor_id", "cos_sim", "rank",
        ).localCheckpoint()

    flat, served_raw, shuffled, int8_raw, pq_raw, ivstream, two = overlap(
        _flat, _served_raw, _shuffled, _int8_raw, _pq_raw, _ivstream, _two
    )
    served = served_raw.select(
        F.lit("served").alias("method"),
        "query_id", "neighbor_id", "cos_sim", "rank",
    )
    types = dict(served_raw.dtypes)
    int8 = _agreement_verdict(
        queries, served_raw, int8_raw, "int8", types, dev_tol=0.01
    )
    pq = _agreement_verdict(
        queries, served_raw, pq_raw, "pq", types, dev_tol=1e-9
    )
    return (
        flat.unionByName(served)
        .unionByName(two)
        .unionByName(shuffled)
        .unionByName(int8)
        .unionByName(pq)
        .unionByName(ivstream)
        .orderBy("method", "query_id", "rank")
    )
