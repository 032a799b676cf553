"""BM25 / TF-IDF document retrieval over a text corpus.

The missing piece of a training-data pipeline's *targeted selection*
toolbox next to DSIR (`operators/dsir.py`) and the quality classifier:
given a small set of keyword queries, score every document with
Okapi BM25 (Robertson & Sparck Jones; the `ln(1 + (N-df+.5)/(df+.5))`
idf variant Lucene uses, which is non-negative by construction) and
take the top-k per query.

Reference parity: none — /root/reference has no text analysis at all
(SURVEY.md §2.B); this is a declared engine capability, so the DuckDB
oracle contract is the spec (q41's 'bm25' label,
plans/retrieval_queries.py).

Scale shape (the 100 TB stance)
-------------------------------
- The query set is TINY (human-curated keywords); its distinct terms
  broadcast. The corpus-side explode is filtered by that broadcast
  hash join BEFORE any aggregation, so only postings for query terms
  ever shuffle — everything else dies map-side.
- Term frequencies are one map-side-combinable groupBy on
  ``(term, doc)``; document frequencies re-aggregate that (≤ |terms|
  rows) and broadcast back. Corpus stats (N, total length) are one
  map-side-combined 1-row agg.
- Scoring is a broadcast join + map-only arithmetic; no per-row
  Python anywhere.
- Top-k per query uses the salted two-pass ``grouped_top_k``
  (operators/topk.py) so a query matching a billion documents never
  funnels through one window partition.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from lakeflush_spark.functions.text import tokens
from lakeflush_spark.io import overlap
from lakeflush_spark.operators.topk import grouped_top_k

#: Okapi defaults (the values every major implementation ships).
K1 = 1.2
B = 0.75


def query_frame(spark: SparkSession, queries: list[tuple[int, str]]) -> DataFrame:
    """Build a ``(query_id, query)`` frame from driver-side pairs.

    One-slice local frame (io.local_rows_df) — a query set is small by
    contract and must not pay the defaultParallelism pickle tax.
    """
    from lakeflush_spark.io import local_rows_df

    return local_rows_df(
        spark,
        [(int(i), str(q)) for i, q in queries],
        "query_id long, query string",
    )


def _query_terms(queries: DataFrame, query_col: str) -> DataFrame:
    """Explode queries to distinct ``(query_id, term)`` rows.

    ``array_distinct`` first: BM25 sums over *distinct* query terms —
    a term repeated in the query string must not double-count.
    """
    return queries.select(
        "query_id",
        F.explode(F.array_distinct(tokens(query_col))).alias("term"),
    )


def bm25_term_scores(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_col: str = "query",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Per ``(query_id, term, doc)`` BM25 term scores with exact-integer
    witnesses.

    Returns columns ``query_id, term, {id_col}, tf, df, dl, n_docs,
    total_len, s`` where ``tf/df/dl/n_docs/total_len`` are exact
    BIGINTs (the hash-verifiable join/agg witnesses) and ``s`` is the
    double per-term score ``idf * tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl))``
    with ``avgdl = total_len / n_docs``.

    The expression tree is shaped so an ANSI-SQL twin computing the
    same parenthesization produces bit-identical doubles everywhere
    except the single ``ln`` (engines may differ by ≤1 ulp — callers
    that hash scores must band, see plans/retrieval_queries.py).
    """
    qterms = _query_terms(queries, query_col)
    terms = qterms.select("term").distinct()

    d = docs.select(
        F.col(id_col),
        tokens(text_col).alias("_toks"),
    ).withColumn("dl", F.size("_toks").cast("bigint"))

    # corpus stats: one map-side-combined 1-row agg, broadcast below.
    stats = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )

    # postings for query terms only: broadcast semi-filter BEFORE the
    # tf groupBy so non-query terms never shuffle.
    matched = d.select(
        id_col, "dl", F.explode("_toks").alias("term")
    ).join(F.broadcast(terms), "term")
    tf = matched.groupBy("term", id_col, "dl").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))

    scored = (
        tf.join(F.broadcast(dft), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl))
    )
    return scored.select(
        "query_id",
        "term",
        id_col,
        "tf",
        "df",
        "dl",
        "n_docs",
        "total_len",
        (idf * tf_part).alias("s"),
    )


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_col: str = "query",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Per ``(query_id, doc)`` BM25 scores.

    Returns ``query_id, {id_col}, n_hit, sum_tf, dl, score`` — ``n_hit``
    is the count of distinct query terms present in the doc, ``sum_tf``
    their summed term frequency (both exact BIGINT witnesses),
    ``score`` the double BM25 sum over matched terms.
    """
    ts = bm25_term_scores(
        docs,
        queries,
        id_col=id_col,
        text_col=text_col,
        query_col=query_col,
        k1=k1,
        b=b,
    )
    return ts.groupBy("query_id", id_col, "dl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit"),
        F.sum("tf").cast("bigint").alias("sum_tf"),
        F.sum("s").alias("score"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_col: str = "query",
    k1: float = K1,
    b: float = B,
    shards: int = 32,
) -> DataFrame:
    """Top-k documents per query by BM25, salted two-pass (scale path).

    Ties break on ``{id_col}`` ascending, making the ranking a total
    order (deterministic across runs/retries/cluster sizes).
    """
    scores = bm25_scores(
        docs,
        queries,
        id_col=id_col,
        text_col=text_col,
        query_col=query_col,
        k1=k1,
        b=b,
    )
    return grouped_top_k(
        scores,
        group_cols=["query_id"],
        order_cols=[F.col("score").desc(), F.col(id_col).asc()],
        k=k,
        salt_cols=[id_col],
        shards=shards,
    ).orderBy("query_id", "rank")


def tfidf_term_scores(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per ``(doc, term)`` TF-IDF scores with exact-integer witnesses:
    ``{id_col}, term, tf, df, n_docs, tfidf`` where
    ``tfidf = tf · ln(N / df)``.

    Unlike BM25 there is no tiny query set to broadcast, so the full
    ``(term, doc)`` posting frame shuffles once (map-side combinable);
    the df table is |vocab| rows and broadcasts. Like
    :func:`bm25_term_scores`, the expression shape is fixed so an
    ANSI-SQL twin is bit-identical everywhere but the single ``ln``.
    """
    d = docs.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    )
    tf = d.select(id_col, F.explode("_toks").alias("term")).groupBy(
        id_col, "term"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = tf.join(F.broadcast(dft), "term").crossJoin(F.broadcast(n_docs))
    return scored.withColumn(
        "tfidf",
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
    )


def tfidf_doc_terms(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_terms: int = 5,
    shards: int = 32,
) -> DataFrame:
    """Per-document top TF-IDF terms — keyword extraction for data
    cards / topic audits. Top terms per doc are salted-two-pass ranked
    over :func:`tfidf_term_scores`.
    """
    return grouped_top_k(
        tfidf_term_scores(docs, id_col=id_col, text_col=text_col),
        group_cols=[id_col],
        order_cols=[F.col("tfidf").desc(), F.col("term").asc()],
        k=top_terms,
        salt_cols=["term"],
        shards=shards,
    )


# ---------------------------------------------------------------------------
# Persisted inverted index — the build-once / search-many serving
# pattern (the q55 IVF index's sibling for keyword retrieval).
# ---------------------------------------------------------------------------

#: term-bucket count for the partitioned postings layout.
DEFAULT_TERM_BUCKETS = 64


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the JVM ``_tb`` expression below — md5, not
    xxhash64, precisely so a query's prune values are computable in
    pure Python with no Spark job."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % n_buckets


def _term_bucket_col(term: Column, n_buckets: int) -> Column:
    return (
        F.conv(F.substring(F.md5(term), 1, 4), 16, 10).cast("bigint")
        % F.lit(n_buckets)
    )


def build_bm25_index(
    docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
) -> None:
    """Materialize an inverted index under ``index_dir``:

    - ``postings/`` — ``(term, {id_col}, tf, dl)`` partitioned by
      ``_tb = md5_16(term) % n_buckets``;
    - ``terms/`` — ``(term, df)`` (|vocab| rows), same partitioning;
    - ``stats/`` — the one-row ``(n_docs, total_len)`` corpus frame.

    Build is ONE corpus explode + a map-side-combinable groupBy (the
    same shuffle any tf computation pays) plus a |vocab|-row
    re-aggregate; no driver-side state. At serving time a query's
    terms map to a handful of ``_tb`` values computed in pure Python
    (md5, no Spark job), so :func:`bm25_search` reads ONLY those
    partitions — the 100 TB point: a 3-term query against a trillion
    postings touches 3/n_buckets of the index, not all of it.
    """
    base = index_dir.rstrip("/")
    d = docs.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).withColumn("dl", F.size("_toks").cast("bigint"))
    stats = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    # the stats aggregate and the postings build are INDEPENDENT jobs
    # that both tokenize the corpus — run sequentially they cost two
    # full scans back to back; overlapped, the stats scan back-fills
    # the postings shuffle's idle tail. The terms job runs after both
    # (it reads the persisted postings — deriving df from the
    # PERSISTED store, not a recompute, is deliberate). Any partial
    # build fails loudly at search time (bm25_search cannot open a dir
    # missing terms/).
    tf = (
        d.select(id_col, "dl", F.explode("_toks").alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    posts = tf.withColumn("_tb", _term_bucket_col(F.col("term"), n_buckets))
    overlap(
        lambda: stats.coalesce(1).write.mode("overwrite").parquet(
            f"{base}/stats"
        ),
        lambda: posts.write.mode("overwrite").partitionBy("_tb").parquet(
            f"{base}/postings"
        ),
    )
    dft = (
        spark_read_back(posts.sparkSession, f"{base}/postings")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .withColumn("_tb", _term_bucket_col(F.col("term"), n_buckets))
    )
    dft.write.mode("overwrite").partitionBy("_tb").parquet(f"{base}/terms")


def spark_read_back(spark: SparkSession, path: str) -> DataFrame:
    """Read a just-written parquet dir (tiny helper so the df table is
    derived from the PERSISTED postings, never a recompute of the
    corpus explode)."""
    return spark.read.parquet(path)


def append_bm25_index(
    docs_new: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
) -> None:
    """Incrementally add documents to a :func:`build_bm25_index`
    directory (r13) — the serving-side maintenance op: new crawl
    shards arrive continuously at 100 TB and a full rebuild per shard
    re-pays the whole corpus explode.

    Everything BM25 reads is summable, so the append is pure parquet
    appends with no read-modify-write: the new docs' postings append
    under their ``_tb`` partitions, a per-term ``df`` INCREMENT frame
    appends to ``terms/``, and a one-row ``(n_docs, total_len)``
    increment appends to ``stats/``. :func:`bm25_search` aggregates
    terms/stats at read time (a |query-terms|-row and a
    |appends|-row aggregate), so search results over build(A)+append(B)
    are EXACTLY those of build(A ∪ B) — no approximation, no staleness
    window beyond the append itself. ``n_buckets`` must match the
    build. Caller contract: ``docs_new`` ids must not already be in
    the index (exact dedup is an upstream stage); re-appending a doc
    would double-count its df/tf like any append-only store.

    Run :func:`compact_bm25_index` offline when the increment-row
    count (or postings file count) grows; quota/search semantics are
    unchanged either way.

    **Crash semantics (ADVICE r13)**: the three parquet appends
    (postings, then terms, then stats — stats deliberately LAST) are
    not atomic as a group. A crash mid-append leaves the index
    inconsistent — postings without matching df rows, or df rows
    without the stats increment — and a blind re-run of the same
    append double-counts whatever did land. Recovery contract: treat a
    failed append as poisoning the directory; rebuild into a fresh dir
    with :func:`build_bm25_index`, or :func:`compact_bm25_index` from
    a known-good pre-append copy. Writing stats last shrinks the worst
    window (idf/avgdl skew across ALL queries) to the final one-row
    write; the earlier partial states only under-rank the new docs.
    For replay-safe incremental maintenance use the streaming variant
    (:mod:`lakeflush_spark.streaming.retrieval`), whose (run, batch)
    dynamic-overwrite appends are idempotent under retry.
    """
    base = index_dir.rstrip("/")
    d = docs_new.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).withColumn("dl", F.size("_toks").cast("bigint"))
    tf = (
        d.select(id_col, "dl", F.explode("_toks").alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .withColumn("_tb", _term_bucket_col(F.col("term"), n_buckets))
        .localCheckpoint()  # feeds both the postings append and the df
    )
    tf.write.mode("append").partitionBy("_tb").parquet(f"{base}/postings")
    (
        tf.groupBy("term", "_tb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .select("term", "df", "_tb")
        .write.mode("append")
        .partitionBy("_tb")
        .parquet(f"{base}/terms")
    )
    # stats last: until this lands, searches see build-time idf/avgdl
    # (slightly stale normalization) rather than corpus-wide skew
    d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("total_len"),
    ).coalesce(1).write.mode("append").parquet(f"{base}/stats")


def compact_bm25_index(
    spark: SparkSession,
    index_dir: str,
    dest_dir: str,
    *,
    n_buckets: int = DEFAULT_TERM_BUCKETS,
) -> None:
    """Offline compaction of an appended-to BM25 index into ``dest_dir``
    (must not exist — the compact_fp_store rule: never rewrite a store
    in place while searches may be reading it). Merges the per-append
    ``terms/`` increments to ONE row per term, ``stats/`` to one row,
    and rewrites ``postings/`` with files re-coalesced per bucket —
    lossless by construction (everything merged is a sum), so searches
    against the compacted copy are value-identical.

    Write order (r14, the compact_ivf_index rule): postings, terms,
    then ``stats/`` LAST as the completion marker — ``bm25_search``
    cannot run without stats, so a compact that crashed mid-way fails
    loudly on first read instead of serving a partially-merged index;
    delete the dest and re-run.
    """
    base = index_dir.rstrip("/")
    dest = dest_dir.rstrip("/")
    posts = spark.read.option("basePath", f"{base}/postings").parquet(
        f"{base}/postings"
    )
    # a streamed index (streaming/retrieval.py) carries (run, batch)
    # replay partitions — compaction is the commit point, drop them
    posts = posts.drop("run", "batch")
    posts.repartition(n_buckets, "_tb").write.mode("error").partitionBy(
        "_tb"
    ).parquet(f"{dest}/postings")
    (
        spark.read.option("basePath", f"{base}/terms")
        .parquet(f"{base}/terms")
        .groupBy("term", "_tb")
        .agg(F.sum("df").cast("bigint").alias("df"))
        .select("term", "df", "_tb")
        .repartition(n_buckets, "_tb")
        .write.mode("error")
        .partitionBy("_tb")
        .parquet(f"{dest}/terms")
    )
    # stats last — completion marker (see docstring)
    stats = spark.read.parquet(f"{base}/stats").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_len").cast("bigint").alias("total_len"),
    )
    stats.coalesce(1).write.mode("error").parquet(f"{dest}/stats")


def bm25_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
    k1: float = K1,
    b: float = B,
    shards: int = 32,
) -> DataFrame:
    """Top-k BM25 over a :func:`build_bm25_index` index.

    The query terms' ``_tb`` values are computed driver-side (pure
    Python md5, no job), so both the postings and the term-df reads
    are partition-PRUNED to the query's buckets before any term
    filter runs — verified by ``tests/test_retrieval.py`` asserting
    the pruned scan lists strictly fewer files. Everything after the
    prune is the standard broadcast-scoring chain of
    :func:`bm25_topk`.
    """
    base = index_dir.rstrip("/")
    terms: list[str] = []
    for _, q in queries:
        terms.extend(dict.fromkeys(str(q).split(" ")))
    terms = sorted(set(terms))
    if not terms:
        raise ValueError("queries contain no terms")
    buckets = sorted({_term_bucket_py(t, n_buckets) for t in terms})
    posts = (
        spark.read.parquet(f"{base}/postings")
        .where(F.col("_tb").isin(buckets))
        .where(F.col("term").isin(terms))
    )
    # terms/stats may hold per-append INCREMENT rows (append_bm25_index)
    # — df, n_docs and total_len are summable, so aggregating here makes
    # fresh and appended-to indexes serve identical scores; on a
    # freshly-built index both aggregates are no-ops over 1 row/term.
    dft = (
        spark.read.parquet(f"{base}/terms")
        .where(F.col("_tb").isin(buckets))
        .where(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").cast("bigint").alias("df"))
    )
    stats = spark.read.parquet(f"{base}/stats").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_len").cast("bigint").alias("total_len"),
    )
    qterms = _query_terms(query_frame(spark, queries), "query")
    scored = (
        posts.join(F.broadcast(dft), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl))
    )
    scores = scored.select(
        "query_id", id_col, "dl", "tf", (idf * tf_part).alias("s")
    ).groupBy("query_id", id_col, "dl").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit"),
        F.sum("tf").cast("bigint").alias("sum_tf"),
        F.sum("s").alias("score"),
    )
    return grouped_top_k(
        scores,
        group_cols=["query_id"],
        order_cols=[F.col("score").desc(), F.col(id_col).asc()],
        k=k,
        salt_cols=[id_col],
        shards=shards,
    ).orderBy("query_id", "rank")


#: the RRF constant every major implementation defaults to (Cormack,
#: Clarke & Buettcher 2009: k=60 dominates the tuning grid)
RRF_K = 60


def reciprocal_rank_fusion(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = RRF_K,
    top_k: int | None = None,
) -> DataFrame:
    """Fuse two per-query rankings into one — hybrid search's standard
    combiner (Cormack et al. 2009): ``rrf(d) = Σ_lists 1/(k + rank_d)``
    over the lists that ranked ``d``; documents found by both systems
    (e.g. BM25 keywords AND embedding ANN) rise above single-system
    hits without any score normalization across systems.

    Inputs are ``(query_id, doc_id, rank)`` frames (ranks 1-based, as
    :func:`bm25_topk` / ``operators/similarity`` searches emit).
    Output per (query_id, doc_id): ``rrf`` (DOUBLE), ``rrf_e9``
    (BIGINT — the score on a fixed 1e-9 grid), ``src_mask`` (1 = list
    A only, 2 = B only, 3 = both), and the fused ``rank`` (``rrf_e9``
    DESC, doc_id ASC — a total order).

    Hash determinism (why ``rrf_e9`` needs NO edge band, unlike the
    ln-based scores): the chain is two IEEE divisions and one
    fixed-order two-term sum — operations whose results are fully
    specified by IEEE 754, so every engine computes the bit-identical
    double and the grid snap is a deterministic integer encoding of
    it, not a tolerance against drift.

    Scale shape: no join at all — the two lists UNION and one
    map-side-combinable hash aggregate on (query_id, doc_id) sums the
    ≤ 2 contribution terms (a full-outer join would force a
    SortMergeJoin: Spark cannot broadcast full-outer). The 2-term
    float sum stays bit-exact under any aggregation order because
    IEEE addition of two values is commutative. Both inputs are
    top-k-bounded per query, so the shuffle carries |queries| x 2k
    rows; the fused rank is a window over ≤ 2k rows per query.
    """
    kk = float(int(k))

    def _terms(ranked: DataFrame, mask: int) -> DataFrame:
        return ranked.select(
            "query_id",
            "doc_id",
            (F.lit(1.0) / (F.lit(kk) + F.col("rank"))).alias("_term"),
            F.lit(mask).cast("bigint").alias("_mask"),
        )

    fused = (
        _terms(ranked_a, 1)
        .unionByName(_terms(ranked_b, 2))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("_term").alias("rrf"),
            F.sum("_mask").cast("bigint").alias("src_mask"),
        )
    )
    fused = fused.withColumn(
        "rrf_e9", F.floor(F.col("rrf") * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    )
    out = grouped_top_k(
        fused,
        group_cols=["query_id"],
        order_cols=[F.col("rrf_e9").desc(), F.col("doc_id").asc()],
        k=top_k if top_k is not None else (1 << 30),
        salt_cols=["doc_id"],
    )
    return out


def hybrid_search(
    spark: SparkSession,
    bm25_index_dir: str,
    ivf_index_dir: str,
    queries: list[tuple[int, str, list[float]]],
    k: int = 10,
    *,
    rrf_k: int = RRF_K,
    list_k: int | None = None,
    nprobe: int = 4,
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
    ann_rerank_index_dir: str | None = None,
    rerank_factor: int = 8,
) -> DataFrame:
    """One-call HYBRID retrieval over two persisted indexes (VERDICT
    r12 #3): BM25 keyword search against a :func:`build_bm25_index`
    directory, embedding ANN against an
    ``operators.similarity.build_ivf_index`` directory, fused with
    :func:`reciprocal_rank_fusion` — the serving-side composition of
    q41's 'rrf' label, packaged the way ``dedup_images`` packages the
    pHash pipeline.

    ``queries`` is a list of ``(query_id, keywords, embedding)``
    triples — one hybrid query pairs a keyword string with a query
    vector under the same id. ``list_k`` is the per-system candidate
    depth fed to the fuser (default ``4*k``: RRF reorders across
    systems, so each list must run deeper than the final cut or
    single-system tails get truncated before they can fuse).

    Returns ``(query_id, doc_id, rrf, rrf_e9, src_mask, rank)``,
    top ``k`` per query.

    100 TB shape: BOTH index reads are partition-pruned before any
    row is touched — the postings scan to the query terms' ``_tb``
    buckets (driver-side md5, no job), the vector scan to the probed
    cells' ``_cp`` partitions (directory elimination) — and the
    fusion is the union + map-side hash aggregate of
    :func:`reciprocal_rank_fusion` (no join). Per-query cost is
    independent of corpus size given bucket/cell counts sized to the
    corpus; nothing here collects to the driver.

    ``ivf_index_dir`` may also point at an IVF-PQ store
    (:func:`~lakeflush_spark.operators.pq.pq_encode_index`) — the ANN
    leg then scores via ADC, exactly reranked against the float
    parent when ``ann_rerank_index_dir`` names it (the memory-tier
    hybrid: PQ codes hot, floats on cheap storage touched only for
    |Q|·list_k·factor candidate rows).
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    if list_k is None:
        list_k = 4 * k
    from lakeflush_spark.io import local_rows_df
    from lakeflush_spark.operators.similarity import (
        ivf_search,
        prepare_vectors,
    )

    kw = [(int(qid), str(text)) for qid, text, _ in queries]
    qvecs = prepare_vectors(
        local_rows_df(
            spark,
            [(int(qid), [float(x) for x in vec]) for qid, _, vec in queries],
            "vec_id long, embedding array<double>",
        )
    )
    keyword_ranks = bm25_search(
        spark, bm25_index_dir, kw, k=list_k, id_col=id_col,
        n_buckets=n_buckets,
    ).select("query_id", F.col(id_col).alias("doc_id"), "rank")
    # layout-aware ANN leg (r14): a PQ vectors store (codes column)
    # routes through ADC search — with exact rerank when the float
    # parent is supplied via ``ann_rerank_index_dir`` (ignored for
    # float/int8 layouts). Schema check is a parquet-footer read.
    ivf_base = ivf_index_dir.rstrip("/")
    if "codes" in spark.read.parquet(f"{ivf_base}/vectors").schema.names:
        from lakeflush_spark.operators.pq import ivfpq_search

        ann_raw = ivfpq_search(
            spark, ivf_base, qvecs, k=list_k, nprobe=nprobe,
            rerank_index_dir=ann_rerank_index_dir,
            rerank_factor=rerank_factor,
        )
    else:
        ann_raw = ivf_search(
            spark, ivf_base, qvecs, k=list_k, nprobe=nprobe
        )
    ann_ranks = ann_raw.select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return reciprocal_rank_fusion(
        keyword_ranks, ann_ranks, k=rrf_k, top_k=k
    )
