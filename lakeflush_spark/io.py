"""Table loading for the driver testdata star schema.

Tables live as single parquet files per scale factor
(``/root/testdata/sf*/<name>.parquet``). At 100 TB each table would be
a partitioned/bucketed parquet (or Delta/Iceberg) root — the loader
only changes its path argument; every downstream operator stays the
same because access goes through the DataFrame reader (partition
discovery, predicate pushdown and column pruning are free).
"""

from __future__ import annotations

import os
import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor —
# TPC-H fixes nation=25 / region=5 rows independent of SF, so a
# broadcast hint on these is safe even at 100 TB.
ALWAYS_BROADCAST = {"region", "nation"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Tolerate nanosecond parquet timestamps in any session (the driver
    # builds its own SparkSession, so set this defensively per read).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    return _fixup(spark, name, df)


def _fixup(spark: SparkSession, name: str, df: DataFrame) -> DataFrame:
    """Normalize testdata quirks at the source boundary.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS) which Spark's
    parquet reader rejects ([PARQUET_TYPE_ILLEGAL]). We read nanos as
    raw int64 (``spark.sql.legacy.parquet.nanosAsLong``) and convert
    ns → µs → TIMESTAMP_NTZ right at the scan, so every downstream
    operator sees a regular timestamp column. The conversion is a
    codegen'd projection — no extra pass over the data.
    """
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")
        )
    return df


def spread_for_compute(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Ensure a compute-bound map stage uses the whole cluster.

    Parquet scans parallelize by ROW GROUP: a table written as one file
    with one row group (the testdata layout) becomes a single task, and
    an expression-heavy projection (minhash, simhash, fingerprints)
    then runs on one core no matter how many are available. Repartition
    ONLY when the scan is under-parallelized — at real scale the scan
    already has >= defaultParallelism splits and this is the identity,
    so no 100 TB shuffle is ever introduced; at bench scale the shuffle
    moves a few MB to unlock an N-core compute stage.
    """
    try:
        target = spark.sparkContext.defaultParallelism
        n_parts = df.rdd.getNumPartitions()
    except (AttributeError, NotImplementedError):
        # Spark Connect exposes neither sparkContext nor df.rdd
        # (PySparkAttributeError / PySparkNotImplementedError subclass
        # these); skip the under-parallelized-scan fixup there (AQE's
        # coalesce and the scan's own split sizing still apply). Other
        # errors — real analysis/connection failures — propagate.
        return df
    if n_parts < target:
        return df.repartition(target)
    return df


def hadoop_fs(spark: SparkSession, path_str: str):
    """``(jvm, fs, path)`` via the py4j Hadoop FileSystem bridge, or
    ``None`` when that private surface is unavailable (Spark Connect
    sessions have no ``_jvm``). Callers must degrade to a
    metadata-only DataFrame job (``scan_manifest``) or plain Python IO
    for ``file:`` paths — never assume the bridge exists (r6 guard;
    the q52 ``_jdf → inputFiles → count`` chain is the same pattern).
    """
    try:
        jvm, jsc = spark._jvm, spark._jsc
        if jvm is None or jsc is None:
            return None
        p = jvm.org.apache.hadoop.fs.Path(path_str)
        return jvm, p.getFileSystem(jsc.hadoopConfiguration()), p
    except Exception:
        return None


def local_path(path_str: str) -> str | None:
    """Local-filesystem form of ``path_str`` (scheme-less or ``file:``),
    else ``None`` — the test for "can plain Python IO touch this"."""
    import re

    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.\-]*):", path_str)
    if m is None:
        return path_str
    if m.group(1).lower() != "file":
        return None
    rest = path_str[m.end():]
    if rest.startswith("//"):
        rest = rest[2:]
        if not rest.startswith("/"):
            return None  # non-empty authority: not this machine
    return rest or "/"


def commit_parquet(spark: SparkSession, dir_path: str, table, replace: bool = False) -> None:
    """Write a small driver-side ``pyarrow.Table`` as ONE parquet file
    in ``dir_path``, with no Spark job.

    The file is written under a hidden temp name (Spark's file index
    and pyarrow datasets both skip ``.``-prefixed names) and renamed
    into place, so readers see the whole file or nothing.
    ``replace=True`` first deletes everything else in ``dir_path`` (a
    replayed batch's earlier file, or a crashed attempt's temp file).

    The Hadoop FileSystem bridge resolves ``dir_path`` the way Spark
    does (a scheme-less path lands on ``fs.defaultFS``); a session
    without the bridge (Spark Connect) treats scheme-less paths as
    local. A path that resolves to the local filesystem is written
    with plain Python IO: without the native Hadoop library, Hadoop's
    local FileSystem forks ``chmod`` for every file it creates, ~20 ms
    of CPU a commit against ~1. Any other filesystem goes through the
    bridge, or without it through a one-partition Spark write of the
    same table.
    """
    import uuid

    import pyarrow.parquet as pq

    name = f"part-00000-{uuid.uuid4().hex}-c000.snappy.parquet"
    tmp = f".{name}.tmp"
    h = hadoop_fs(spark, dir_path)
    lp = local_path(dir_path)
    if h is not None:
        jvm, fs, d = h
        if fs.getScheme() != "file":
            lp = None
    if lp is not None:
        import shutil

        os.makedirs(lp, exist_ok=True)
        pq.write_table(table, os.path.join(lp, tmp))
        if replace:
            for entry in os.scandir(lp):
                if entry.name == tmp:
                    continue
                if entry.is_dir(follow_symlinks=False):
                    shutil.rmtree(entry.path)
                else:
                    os.remove(entry.path)
        os.replace(os.path.join(lp, tmp), os.path.join(lp, name))
        return
    if h is None:
        mode = "overwrite" if replace else "append"
        spark.createDataFrame(table).coalesce(1).write.mode(mode).parquet(dir_path)
        return
    import pyarrow as pa

    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    P = jvm.org.apache.hadoop.fs.Path
    tmp_path, final = P(d, tmp), P(d, name)
    out = fs.create(tmp_path, True)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if replace:
        for st in fs.listStatus(d):
            # tmp's own checksum sidecar (``.<tmp>.crc``) must survive
            if tmp not in st.getPath().getName():
                fs.delete(st.getPath(), True)
    if not fs.rename(tmp_path, final):
        raise RuntimeError(f"commit_parquet: rename {tmp_path} -> {final} failed")


#: the shared pool behind :func:`overlap`. MODULE-LEVEL on purpose: in
#: py4j pinned-thread mode every Python thread owns a dedicated JVM
#: thread that outlives it unless explicitly cleaned
#: (pyspark.InheritableThread's reason to exist) — a per-call pool
#: leaks JVM threads at every use and measurably degrades a long run.
#: Creation is lock-guarded: two concurrent callers (e.g. two
#: foreachBatch streams) could otherwise both build one and leak the
#: loser's threads.
_POOL: list = []
_POOL_LOCK = threading.Lock()
#: ``in_pool`` is True while a thread runs a pooled :func:`overlap` leg
_WORKER = threading.local()


def _eager_pool():
    """8 workers: enough to keep every independent leg a caller passes
    in flight, few enough that FIFO scheduling keeps the first job's
    stages at full width."""
    if not _POOL:
        from concurrent.futures import ThreadPoolExecutor

        with _POOL_LOCK:
            if not _POOL:
                _POOL.append(
                    ThreadPoolExecutor(
                        max_workers=8, thread_name_prefix="eager-pool"
                    )
                )
    return _POOL[0]


def _settled(thunk):
    """A finished Future holding ``thunk()``'s result or exception."""
    from concurrent.futures import Future

    fut: Future = Future()
    try:
        fut.set_result(thunk())
    except Exception as e:
        fut.set_exception(e)
    return fut


def _as_worker(thunk):
    """Run a pooled leg with the pool-worker flag set (see overlap)."""
    _WORKER.in_pool = True
    try:
        return thunk()
    finally:
        _WORKER.in_pool = False


def _carry_properties(thunks):
    """``thunks`` wrapped to run with the calling thread's Spark local
    properties (``spark.job.description``, job group, scheduler pool)
    and session tags; unchanged when no session is active. Each thunk
    gets its own snapshot: the wrapper installs the snapshot object
    itself as the worker's properties, so a shared one would let
    concurrent legs overwrite each other's SQL execution id."""
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    session = SparkSession.getActiveSession() if thunks else None
    if session is None:
        return list(thunks)
    return [inheritable_thread_target(session)(t) for t in thunks]


def overlap(*thunks) -> list:
    """Run independent zero-argument callables concurrently and return
    their results in argument order.

    Spark runs several jobs at once; eager steps (checkpoint builds,
    store writes, index searches) are only sequential because the
    driver calls them one after another. Every thunk but the last goes
    to one shared pool; the last runs inline on the caller's thread.

    - **Drain before raise.** Every pooled leg is waited for — even
      when the inline leg fails — before anything propagates; then the
      first failure in ARGUMENT order is raised. A stream batch that
      fails therefore never leaves an orphaned overwrite racing its
      replay, and a memo build never leaves background writers behind.
    - **Caller's job properties.** Pooled legs run with the caller's
      Spark local properties and session tags
      (``pyspark.util.inheritable_thread_target``), so their jobs carry
      the caller's ``spark.job.description`` and job group.
    - **No nested deadlock.** Called from inside a pooled leg, every
      thunk runs inline, in order (same drain-then-raise contract): a
      leg that submitted to the pool and waited could otherwise
      exhaust the workers and wait on itself.

    Concurrency contract: query builders assume ONE builder runs at a
    time per process. Legs may call module-level check-then-append
    memos whose worst case under concurrency is a double build of a
    pure, idempotent Column tree — wasted work, never a wrong value.
    Drivers that run two builders concurrently serialize the build
    calls themselves.
    """
    if not thunks:
        return []
    if getattr(_WORKER, "in_pool", False):
        futures = [_settled(t) for t in thunks]
    else:
        from concurrent.futures import wait

        pooled = [
            _eager_pool().submit(_as_worker, t)
            for t in _carry_properties(thunks[:-1])
        ]
        try:
            futures = pooled + [_settled(thunks[-1])]
        finally:
            wait(pooled)
    return [f.result() for f in futures]


def local_rows_df(
    spark: SparkSession, rows: list, schema, slices: int = 1
) -> DataFrame:
    """``createDataFrame`` for small DRIVER-SIDE row lists, pre-sized
    to ``slices`` partitions (default ONE).

    ``SparkSession.createDataFrame(list)`` chops even a one-row list
    into ``defaultParallelism`` pickled slices; any later
    ``coalesce(1)`` — or any single-task consumer — then evaluates
    every slice SERIALLY through its own Python-worker round-trip
    (~160 ms each; measured ~5 s per call on a local[32] session —
    this was the curation stream's per-batch stats-write tax and the
    metastore's per-put tax). An explicit one-slice ``parallelize``
    makes the local frame ONE python partition: one round-trip, one
    output file, and ``coalesce(1)`` downstream is a no-op.

    Falls back to plain ``createDataFrame`` where no SparkContext is
    exposed (Spark Connect).
    """
    try:
        sc = spark.sparkContext
    except Exception:  # Spark Connect: no local RDD path
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(sc.parallelize(rows, max(1, slices)), schema)
