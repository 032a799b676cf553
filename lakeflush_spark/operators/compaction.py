"""Small-file compaction — the reference's Collector+Flusher as ONE Spark job.

Reference parity map (file:line cites into /root/reference):

- O4  whole-file JSON record      utils/file/reader/json.py:8-12
      -> ``spark.read.text(wholetext=True)`` (opaque mode) or
         ``spark.read.json`` (parsed mode)
- O5/O6 CSV lines + header dedup  utils/file/reader/csv.py:12-34
      -> ``spark.read.csv(header=True)`` / ``write.csv(header=True)``
         (one header per bundle, exactly the reference's header lock)
- O7  record append               core/collector.py:97-103
      -> rows in a DataFrame; no imperative append path needed
- O8/O9 size+time rotation        core/file_handler.py:28-66,
                                  core/gzipfile_handler.py:30-114
      -> size-targeted part files via ``maxRecordsPerFile`` computed
         from sampled record size (and sampled gzip ratio when
         compressing): a driver-side head sample of the first source
         file for opaque and all-string CSV lakes, a sampling job over
         the parsed rows for typed schemas; time rotation is the
         streaming trigger (lakeflush_spark.streaming)
- O10 bundle naming/commit        core/collector.py:82-91
      -> Spark's file committer (task temp file -> atomic rename);
         bundle identity lives in the audit table, not the filename
- O12 empty-bundle skip           core/flusher.py:37-42
      -> empty input => no part files, no audit rows
- O13/O14 delivery + date parts   flushers/local_lake.py:27-69,
                                  flushers/s3_lake.py:28-70
      -> direct write to the destination root; optional processing-time
         Hive partitions via ``partitionBy`` on strftime-derived columns
- O15 flush audit sidecar         utils/file/store.py:10-21
      -> one row per bundle in a queryable parquet audit table; each
         run's rows are ONE file the driver writes and renames in
- O19 error-skip                  collectors/local_lake.py:69-72
      -> ``ignoreCorruptFiles`` / ``ignoreMissingFiles`` per-read
         options (never the caller's session conf)

Scale stance: listing, reading and writing all distribute; the only
driver-side work is sizing the bundles from a small sample (the head
of one source file, at most 256 KB, or a few hundred parsed records)
and writing the audit file (one row per bundle).
At 100 TB with 128 MB bundles this plans ~800k write tasks — the
repartition count is derived from data size, never hardcoded.
"""

from __future__ import annotations

import gzip as _gzip
import math
import uuid
from dataclasses import dataclass, field, replace
from datetime import datetime, timezone

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType

from lakeflush_spark.io import commit_parquet, hadoop_fs, local_path
from lakeflush_spark.operators.manifest import name_glob, scan_manifest

_AUDIT_DIRNAME = "_lakeflush_audit"
#: one row per delivered bundle; ``flushed_at`` is a UTC-adjusted
#: INT64 timestamp, which Spark reads as TIMESTAMP
_AUDIT_SCHEMA = pa.schema(
    [
        pa.field(name, dtype, nullable=False)
        for name, dtype in (
            ("run_id", pa.string()),
            ("bundle_path", pa.string()),
            ("bytes", pa.int64()),
            ("source", pa.string()),
            ("format", pa.string()),
            ("compressed", pa.bool_()),
            ("source_fp", pa.string()),
            ("flushed_at", pa.timestamp("us", tz="UTC")),
        )
    ]
)

# Spark's JSON reader/writer defaults truncate timestamps to millis;
# pin microsecond-precision patterns so parse(write(x)) == x.
JSON_TS_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


@dataclass
class CompactionConfig:
    """Mirrors the reference collector/flusher ctor args
    (core/collector.py:27-34, flushers/local_lake.py:27-43)."""

    source_dir: str
    dest_dir: str
    #: source format: json | csv | text | parquet | orc | avro.
    #: avro READS work even without the spark-avro jar (r6 pure-Python
    #: container codec fallback, sources.read_avro); avro OUTPUT
    #: (output_format="avro") still needs the connector jar.
    file_format: str = "json"
    #: bundle format; None = same as source. parquet/orc bundles are the
    #: 100 TB training-data path (columnar, splittable, predicate-
    #: pushdown-able) — "compact small parquet files" is the canonical
    #: Spark lakehouse maintenance job.
    output_format: str | None = None
    match_patterns: list[str] = field(default_factory=list)
    max_size_mb: float = 16.0  # bundle size target (reference: maxBytes cap)
    compress: bool = False  # gzip bundles (reference O9)
    #: explicit codec override (e.g. "zstd", "snappy", "lz4"); None =
    #: gzip when ``compress`` (reference parity) else the format's
    #: default. zstd is the modern pick for columnar bundles: ~gzip
    #: ratios at several× the throughput.
    compression_codec: str | None = None
    #: "append" re-runs add bundles (the reference's no-resume
    #: behavior, SURVEY §3.4 — restart = duplicate data); "overwrite"
    #: makes a batch re-run idempotent (replaces dest). The streaming
    #: path gets exactly-once from its checkpoint instead.
    write_mode: str = "append"
    date_partition_format: str | None = None  # e.g. "date=%Y-%m-%d/hour=%H"
    parsed: bool = False  # parsed mode: real schema instead of opaque text
    schema: object | None = None  # optional explicit schema for parsed mode
    csv_header: bool = True  # reference csv_header flag
    ignore_corrupt_files: bool = True  # O19 error-skip semantics
    #: records sampled to size the bundles of typed parsed sources
    #: (opaque and all-string CSV sources size from a head sample)
    sample_records: int = 512
    #: sampled-text-bytes -> columnar-bytes ratio used to size
    #: parquet/orc bundles (encoding+compression shrinks rows vs their
    #: JSON text; 1.0 = strict under-cap, raise for denser packing)
    columnar_ratio: float = 1.0
    #: skip the whole job when the source lake is byte-identical to the
    #: last compacted run into this dest (fingerprint of the listing —
    #: paths+mtimes+sizes — recorded in the audit table). Makes blind
    #: re-runs of a scheduled batch job idempotent WITHOUT overwrite
    #: semantics: unchanged source -> no-op, changed source -> append.
    skip_unchanged: bool = False
    # Opaque mode reads line-records by default: for the reference's own
    # data model (compact one-line JSON docs, CSV/text lines —
    # tests/lakes/random_datalake.py:35-36) concatenating lines produces
    # byte-identical bundles to concatenating whole files, and the
    # line reader is vectorized/packed instead of one stream per file.
    # Set True only for multi-line single-record files (e.g.
    # pretty-printed JSON), where bundle boundaries must not split a file.
    whole_file_records: bool = False


@dataclass
class CompactionResult:
    bundles: list[str]
    bundle_bytes: int
    #: files under the source root per the listing fast path — may
    #: include zero-byte commit markers (_SUCCESS); they add no bytes,
    #: so bundle sizing is unaffected
    source_files: int
    source_bytes: int
    audit_path: str
    #: True when skip_unchanged detected an identical source listing
    #: and the job was a no-op
    skipped: bool = False


# --------------------------------------------------------------------------
# strftime -> Hive partition columns (reference O13: datetime.now().strftime)
# --------------------------------------------------------------------------
_STRFTIME_TO_JAVA = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%j": "DDD",
}


def partition_columns(fmt: str) -> list[tuple[str, str]]:
    """Parse ``"date=%Y-%m-%d/hour=%H"`` into [(col, java_pattern), ...].

    The reference builds these paths with ``datetime.now().strftime``
    (flushers/local_lake.py:55-60); we derive real partition columns so
    the output is standard Hive layout AND partition-prunable on read.
    """
    cols = []
    for seg in fmt.strip("/").split("/"):
        if "=" not in seg:
            raise ValueError(f"partition segment {seg!r} must look like name=%fmt")
        name, pat = seg.split("=", 1)
        for py, java in _STRFTIME_TO_JAVA.items():
            pat = pat.replace(py, java)
        if "%" in pat:
            raise ValueError(f"unsupported strftime directive in {seg!r}")
        cols.append((name, pat))
    return cols


def _sampled_size_estimates(text: DataFrame, n: int, compress: bool) -> tuple[float, float]:
    """(avg_record_bytes, gzip_ratio) from the first ``n`` serialized
    records of a parsed source, taken in one pass (the take scans only
    the partitions it needs) for both estimates. Record bytes count the
    newline terminator, the same accounting as the reference's
    pre-write size check (core/file_handler.py:52-57). The reference
    checks the on-disk compressed size every 100 KB instead
    (gzipfile_handler.py:52,66-69); sampling keeps the write one pass."""
    rows = [r[0] for r in text.limit(n).collect() if r[0] is not None]
    if not rows:
        return 1.0, 1.0
    raw = ("\n".join(rows) + "\n").encode()
    ratio = 1.0
    if compress:
        ratio = max(1.0, len(raw) / max(1, len(_gzip.compress(raw, compresslevel=6))))
    return len(raw) / len(rows), ratio


def _sample_source_head(spark: SparkSession, first_file: str, max_bytes: int = 262144) -> bytes:
    """Read the head of the first source file via the Hadoop FS API —
    O(1) driver-side sampling that works for file:/hdfs:/s3a: alike.
    Replaces a whole Spark probe job for opaque-mode size estimation.

    NOTE: must NOT use ``stream.read(py_bytearray)`` — py4j does not
    propagate Java-side mutation of the buffer back to Python, so the
    sample silently comes back as zeros. A bounded IOUtils.toByteArray
    returns a real byte[] (-> Python bytes).

    Spark Connect (no JVM bridge): plain Python IO for local paths;
    remote schemes fall back to a one-file ``binaryFile`` read — that
    reads the WHOLE file into one row (bounded by small-file-lake
    sizes), so the bridge path stays preferred where it exists.
    """
    h = hadoop_fs(spark, first_file)
    if h is None:
        lp = local_path(first_file)
        if lp is not None:
            with open(lp, "rb") as f:
                return f.read(max_bytes)
        row = (
            spark.read.format("binaryFile").load(first_file).select("content").head()
        )
        return bytes(row.content)[:max_bytes] if row is not None else b""
    jvm, fs, path = h
    size = min(int(fs.getFileStatus(path).getLen()), max_bytes)
    stream = fs.open(path)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream, size)
        return bytes(data)
    finally:
        stream.close()


def _opaque_size_estimates(
    spark: SparkSession, first_file: str, compress: bool
) -> tuple[float, float]:
    """(avg_record_bytes, gzip_ratio) from a 256 KB head sample."""
    head = _sample_source_head(spark, first_file)
    lines = head.splitlines()
    if len(lines) > 1:
        lines = lines[:-1]  # last line may be cut by the sample boundary
    avg = (sum(len(ln) + 1 for ln in lines) / len(lines)) if lines else 1.0
    ratio = 1.0
    if compress and head:
        ratio = max(1.0, len(head) / max(1, len(_gzip.compress(head, compresslevel=6))))
    return max(1.0, avg), ratio


def _as_text(df: DataFrame, fmt: str) -> DataFrame:
    """Serialize a parsed DataFrame to one text column for size math,
    the way the bundle writer renders it: a plain string cast would
    under-count values the writers print longer (a timestamp casts to
    19 characters but the CSV writer prints 24)."""
    row = F.struct(*df.columns)
    if fmt == "csv":
        return df.select(F.to_csv(row).alias("value"))
    return df.select(F.to_json(row, JSON_TS_OPTIONS).alias("value"))


def _first_source_file(spark: SparkSession, cfg: CompactionConfig) -> str | None:
    """First non-hidden, non-empty file under the source root whose
    name matches ``cfg.match_patterns`` (lazy listFiles walk — stops at
    the first hit — filtered by the readers' own Hadoop ``GlobFilter``
    string). Spark Connect: a metadata-only manifest aggregate instead
    (Spark's file index prunes hidden ``_``/``.`` names itself,
    matching the walk's filter)."""
    h = hadoop_fs(spark, cfg.source_dir)
    if h is None:
        try:
            row = (
                scan_manifest(spark, cfg.source_dir, cfg.match_patterns)
                .where(F.col("size") > 0)
                .agg(F.min("file_path"))
                .collect()[0]
            )
        except AnalysisException:
            return None  # missing root
        return row[0]
    jvm, fs, root = h
    if not fs.exists(root):
        return None
    glob = name_glob(cfg.match_patterns)
    name_filter = None if glob is None else jvm.org.apache.hadoop.fs.GlobFilter(glob)
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        path = st.getPath()
        if (
            not path.getName().startswith(("_", "."))
            and st.getLen() > 0
            and (name_filter is None or name_filter.accept(path))
        ):
            return path.toString()
    return None


def _source_stats(spark: SparkSession, cfg: CompactionConfig, need_first: bool = True):
    """(n_files, total_bytes, first_file) for the source lake.

    Fast path (no glob patterns): ONE py4j call to Hadoop's
    ``getContentSummary`` — the recursion runs JVM-side, no Spark job
    and no per-file round trips. The first-file walk costs a second
    listing pass on huge flat dirs, so callers that don't need a head
    sample (binaryFile mode, uncompressed) pass ``need_first=False``.
    With patterns — or under Spark Connect, where the JVM bridge is
    absent — we fall back to the manifest aggregate (a metadata-only
    Spark job, still never reads file bytes).
    """
    h = hadoop_fs(spark, cfg.source_dir)
    if h is not None:
        jvm, fs, root = h
        if not fs.exists(root):
            return 0, 0, None
        if name_glob(cfg.match_patterns) is None:
            summary = fs.getContentSummary(root)
            n_files, total = int(summary.getFileCount()), int(summary.getLength())
            if n_files == 0 or total == 0:
                return 0, 0, None
            if not need_first:
                return n_files, total, None
            first_file = _first_source_file(spark, cfg)
            if first_file is None:
                return 0, 0, None
            return n_files, total, first_file
    try:
        stats = (
            scan_manifest(spark, cfg.source_dir, cfg.match_patterns)
            .where(F.col("size") > 0)
            .agg(
                F.count(F.lit(1)).alias("files"),
                F.coalesce(F.sum("size"), F.lit(0)).alias("bytes"),
                F.min("file_path").alias("first_file"),
            )
            .collect()[0]
        )
    except AnalysisException:
        return 0, 0, None  # missing root (Connect path has no exists())
    return int(stats["files"]), int(stats["bytes"]), stats["first_file"]


def _reader(spark: SparkSession, cfg: CompactionConfig):
    """Recursive source reader with ``cfg.match_patterns`` pushed into
    the listing as one glob and the O19 error-skip policy as per-read
    options, so the caller's session conf stays untouched."""
    reader = (
        spark.read.option("recursiveFileLookup", "true")
        .option("ignoreCorruptFiles", str(cfg.ignore_corrupt_files).lower())
        .option("ignoreMissingFiles", "true")
    )
    glob = name_glob(cfg.match_patterns)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader


def read_source(spark: SparkSession, cfg: CompactionConfig) -> DataFrame:
    """Read the small-file lake.

    Opaque mode (the reference's data model — bytes in, bytes out):
    whole-file-as-record for JSON (O4), line-records for text. Parsed
    mode: schema-on-read via the native json/csv readers.
    """
    if cfg.parsed or cfg.file_format in ("parquet", "orc", "avro"):
        if cfg.file_format == "avro":
            # avro -> parquet/orc bundles: the canonical row-to-columnar
            # compaction. Prefers the spark-avro connector; degrades to
            # the r6 pure-Python container codec when the jar is absent
            # (sources.read_avro fallback).
            from lakeflush_spark.sources import read_avro

            return read_avro(
                spark,
                cfg.source_dir,
                schema=cfg.schema,
                glob=name_glob(cfg.match_patterns),
                skip_corrupt=cfg.ignore_corrupt_files,
            )
        if cfg.file_format == "json":
            reader = _reader(spark, cfg)
            for k, v in JSON_TS_OPTIONS.items():
                reader = reader.option(k, v)
            if cfg.schema is not None:
                reader = reader.schema(cfg.schema)
            return reader.json(cfg.source_dir)
        if cfg.file_format == "csv":
            reader = _reader(spark, cfg).option("header", str(cfg.csv_header).lower())
            if cfg.schema is not None:
                reader = reader.schema(cfg.schema)
            return reader.csv(cfg.source_dir)
        if cfg.file_format in ("parquet", "orc"):
            # Columnar small-file lake (streaming sinks, per-event
            # writers). Schema comes from the footers.
            reader = _reader(spark, cfg)
            if cfg.schema is not None:
                reader = reader.schema(cfg.schema)
            return getattr(reader, cfg.file_format)(cfg.source_dir)
        raise ValueError(f"parsed mode unsupported for format {cfg.file_format!r}")

    wholetext = cfg.whole_file_records  # O4 strict whole-file-record mode
    return _reader(spark, cfg).option("wholetext", str(wholetext).lower()).text(cfg.source_dir)


def _opaque_binary_raw(spark: SparkSession, cfg: CompactionConfig) -> DataFrame:
    """binaryFile scan of the source lake with glob filtering applied,
    keeping the metadata columns (path/length/content).

    The frame's file index holds the one driver-side listing the write
    will use, so stats read off it (:func:`_indexed_stats`) never
    re-walk the lake. An aggregate over the frame reuses that listing
    too, but it is a Spark job whose tasks ``getFileStatus`` every
    file even when ``content`` is pruned.
    """
    return _reader(spark, cfg).format("binaryFile").load(cfg.source_dir)


def _indexed_stats(df: DataFrame) -> tuple[int, int]:
    """(files, bytes) of a file-source frame, read off its own file
    index with no Spark job: the non-empty files its scan will plan
    (the index's ``listFiles`` drops empty files, as the scan does)
    and their summed lengths. Needs the py4j bridge."""
    jvm = df.sparkSession._jvm
    index = df._jdf.queryExecution().analyzed().relation().location()
    nil = jvm.org.apache.spark.api.python.PythonUtils.toSeq(jvm.java.util.ArrayList())
    dirs = index.listFiles(nil, nil)
    n_files = sum(dirs.apply(i).files().size() for i in range(dirs.size()))
    return n_files, int(index.sizeInBytes())


def _binary_values(df: DataFrame) -> DataFrame:
    """Whole-file-as-record projection over a binaryFile frame.

    Record = whole file, exactly the reference's JSON read semantics
    (utils/file/reader/json.py:8-12). The trailing newline is dropped
    because the text writer adds one per record — concatenation stays
    byte-identical.
    """
    return df.select(F.decode("content", "UTF-8").alias("value")).select(
        F.when(
            F.col("value").endswith("\n"), F.expr("left(value, length(value) - 1)")
        )
        .otherwise(F.col("value"))
        .alias("value")
    )


def compact(spark: SparkSession, cfg: CompactionConfig) -> CompactionResult:
    """Run the full collect→bundle→flush pipeline as one batch job.

    Job structure (local AND cluster):

    1. source stats from metadata, no Spark job: opaque mode reads them
       off the binaryFile relation's file index (the listing the write
       reuses), other modes call Hadoop's ``getContentSummary``. A
       metadata-only aggregate job runs instead when match patterns
       are set outside opaque mode, for ``skip_unchanged`` (its
       fingerprint needs per-file mtimes) and without the py4j bridge;
    2. bundle sizing: a driver-side head sample of the first source
       file for opaque and all-string CSV sources (no Spark job), one
       sampling job over the parsed rows for typed schemas;
    3. the read→write job. Small inputs ``repartition(n_bundles)`` —
       a trivial shuffle that keeps the read of thousands of tiny files
       parallel; big inputs write straight from the scan partitions
       with no shuffle. Either way ``maxRecordsPerFile`` rolls bundles
       inside each task the way the reference's rotation check does
       per record (core/file_handler.py:52-57);
    4. the audit rows, one parquet file written from the driver (no
       Spark job).

    So an opaque or all-string CSV pass runs the bundle write as its
    only Spark job.

    Every job runs with a 64 KiB ``spark.sql.files.openCostInBytes``,
    so thousands of tiny files pack densely into scan partitions (the
    default 4 MB plans one near-empty task per handful of files). The
    key has no per-read option: it is set on the session for the call
    and the caller's value is restored after.
    """
    key = "spark.sql.files.openCostInBytes"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, str(64 * 1024))
    try:
        return _compact(spark, cfg)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def _compact(spark: SparkSession, cfg: CompactionConfig) -> CompactionResult:
    target_bytes = int(cfg.max_size_mb * 1024 * 1024)
    # avro counts as columnar-ish: container files must be PARSED and
    # re-encoded (their per-file headers/sync markers make byte-level
    # opaque concatenation invalid)
    columnar_source = cfg.file_format in ("parquet", "orc", "avro")
    out_fmt = cfg.output_format or cfg.file_format
    opaque = not cfg.parsed and not columnar_source and out_fmt == cfg.file_format
    empty = CompactionResult([], 0, 0, 0, f"{cfg.dest_dir.rstrip('/')}/{_AUDIT_DIRNAME}")

    raw = None
    fp_sum = None
    if opaque:
        # One listing for stats AND read: the binaryFile relation's own
        # file index. The skip_unchanged fingerprint needs per-file
        # mtimes, so it (and a session without the py4j bridge) runs
        # an aggregate over the same listing instead.
        try:
            raw = _opaque_binary_raw(spark, cfg)
            if cfg.skip_unchanged or hadoop_fs(spark, cfg.source_dir) is None:
                aggs = [
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum("length"), F.lit(0)).alias("b"),
                ]
                if cfg.skip_unchanged:
                    aggs.append(_fp_sum_col("path", "modificationTime", "length").alias("fp"))
                stats = raw.agg(*aggs).first()
                n_files, total_bytes = int(stats["n"]), int(stats["b"])
                if cfg.skip_unchanged:
                    fp_sum = int(stats["fp"])
            else:
                n_files, total_bytes = _indexed_stats(raw)
        except AnalysisException:  # source root missing
            n_files, total_bytes = 0, 0
        first_file = None
    else:
        n_files, total_bytes, first_file = _source_stats(spark, cfg, need_first=False)

    if n_files == 0 or total_bytes == 0:  # O12: empty input -> no audit row
        return empty

    source_fp = ""
    if cfg.skip_unchanged:
        source_fp = (
            f"{n_files}:{fp_sum}:{_cfg_digest(cfg)}"
            if fp_sum is not None
            else _source_fingerprint(spark, cfg)
        )
        if source_fp and source_fp == _last_audit_fingerprint(spark, cfg):
            return replace(empty, source_files=n_files, source_bytes=total_bytes,
                           skipped=True)

    avg_file = total_bytes / n_files

    # Tiny-file fast path: whole-file records via binaryFile (per-file
    # reader setup dominates the line scan when files are small).
    # (crossover measured: binaryFile ~5x faster at ~600 B files, line
    # scan ~2x faster at ~100 KB files)
    use_binary = opaque and (cfg.whole_file_records or avg_file <= 16 * 1024)

    # Head sample only where sizing needs real bytes: binaryFile mode
    # knows avg record = avg file from the stats, so uncompressed
    # binary skips the extra listing walk entirely.
    if opaque and (cfg.compress or not use_binary):
        first_file = _first_source_file(spark, cfg)
        if first_file is None:
            return empty
    read_cfg = cfg
    if not opaque and not cfg.parsed and not columnar_source:
        # e.g. json source -> parquet bundles: the source must be parsed
        # even though the caller left the (text-to-text) default
        read_cfg = replace(cfg, parsed=True)
    df = _binary_values(raw) if use_binary else read_source(spark, read_cfg)

    if use_binary:
        avg_rec = max(1.0, avg_file)  # record = file; exact from stats
        ratio = _opaque_size_estimates(spark, first_file, True)[1] if cfg.compress else 1.0
    elif opaque or (
        cfg.file_format == out_fmt == "csv"
        and all(isinstance(f.dataType, StringType) for f in df.schema.fields)
    ):
        # All-string CSV (the collector's csv_header path) writes every
        # value back as its source text, so the head sample sizes it
        # without a sampling job. Typed values can print longer than
        # their source text (timestamps) and keep the job below.
        first_file = first_file or _first_source_file(spark, cfg)
        if first_file is None:
            return empty
        avg_rec, ratio = _opaque_size_estimates(spark, first_file, cfg.compress)
    else:
        columnar_out = out_fmt in ("parquet", "orc")
        avg_rec, ratio = _sampled_size_estimates(
            _as_text(df, cfg.file_format if columnar_out else out_fmt),
            cfg.sample_records,
            cfg.compress and not columnar_out,
        )
        if columnar_out:
            # Columnar bundles: text bytes upper-bound the encoded size;
            # columnar_ratio densifies when the caller knows better.
            ratio = max(0.01, cfg.columnar_ratio)
    if out_fmt == "csv" and cfg.csv_header and not opaque:
        target_bytes -= len(",".join(df.columns)) + 1  # each bundle's header line
    records_per_bundle = max(1, int(target_bytes * ratio / avg_rec))
    est_total_records = max(1, int(total_bytes / avg_rec))
    n_bundles = max(1, math.ceil(est_total_records / records_per_bundle))

    part_cols = partition_columns(cfg.date_partition_format) if cfg.date_partition_format else []
    out = df
    for name, pat in part_cols:
        # processing-time partitions, like the reference's datetime.now()
        out = out.withColumn(name, F.date_format(F.current_timestamp(), pat))

    # Partitioning strategy, scale-aware:
    # - SMALL input (fits in a handful of bundles): repartition(n_bundles)
    #   — the shuffle is trivial at this size and it keeps the *read*
    #   parallel instead of coalescing 20k tiny file-opens into one task.
    # - BIG input: no shuffle at all. Scan partitions are already
    #   ~maxPartitionBytes; maxRecordsPerFile rolls bundles inside each
    #   task. Shuffling 100 TB just to compact would be the bottleneck.
    small_input = total_bytes <= max(2 * 1024**3, 64 * target_bytes)
    if small_input and n_bundles < 2048:
        out = out.repartition(n_bundles)

    if cfg.write_mode not in ("append", "overwrite"):
        raise ValueError(f"write_mode must be append|overwrite, got {cfg.write_mode!r}")
    # Snapshot the dest BEFORE writing: in append mode a re-run into a
    # non-empty dest must report (and audit) only the bundles THIS run
    # produced, not prior runs' output. Spark part-file names carry a
    # task UUID, so a path diff identifies this run's files exactly.
    pre_existing: set[str] = (
        {p for p, _, _ in _list_bundles(spark, cfg.dest_dir)}
        if cfg.write_mode == "append"
        else set()
    )
    writer = out.write.mode(cfg.write_mode).option("maxRecordsPerFile", records_per_bundle)
    if cfg.compression_codec:
        writer = writer.option("compression", cfg.compression_codec)
    elif cfg.compress:
        # text formats: gzip (reference O9); columnar: gzip codec pages
        # (snappy is the uncompressed=False default already)
        writer = writer.option("compression", "gzip")
    if part_cols:
        writer = writer.partitionBy(*[name for name, _ in part_cols])

    if opaque:
        writer.text(cfg.dest_dir)
    elif out_fmt == "json":
        for k, v in JSON_TS_OPTIONS.items():
            writer = writer.option(k, v)
        writer.json(cfg.dest_dir)
    elif out_fmt == "csv":
        writer.option("header", str(cfg.csv_header).lower()).csv(cfg.dest_dir)
    elif out_fmt in ("parquet", "orc"):
        getattr(writer, out_fmt)(cfg.dest_dir)
    else:
        raise ValueError(f"unsupported output format {out_fmt!r}")

    bundles = [b for b in _list_bundles(spark, cfg.dest_dir) if b[0] not in pre_existing]
    audit_path = _write_audit(spark, cfg, bundles, source_fp)
    return CompactionResult(
        bundles=[b[0] for b in bundles],
        bundle_bytes=sum(b[1] for b in bundles),
        source_files=n_files,
        source_bytes=total_bytes,
        audit_path=audit_path,
    )


def _list_bundles(spark: SparkSession, dest: str) -> list[tuple[str, int, int]]:
    """(path, size, mtime_ms) for every bundle under dest, via the Hadoop
    FS API so the same code works for file:/hdfs:/s3a: destinations.
    Spark Connect: a metadata-only manifest job instead (Spark's file
    index prunes hidden names, so the ``_``-prefixed audit dir and
    temp files drop out the same way)."""
    h = hadoop_fs(spark, dest)
    if h is None:
        try:
            rows = (
                scan_manifest(spark, dest)
                .select(
                    "file_path",
                    "size",
                    (F.col("mtime").cast("double") * 1000).cast("long").alias("ms"),
                )
                .collect()
            )
        except AnalysisException:
            return []
        return sorted(
            (r.file_path, int(r.size), int(r.ms))
            for r in rows
            if f"/{_AUDIT_DIRNAME}/" not in r.file_path
        )
    jvm, fs, path = h
    out: list[tuple[str, int, int]] = []
    if not fs.exists(path):
        return out
    # qualify FIRST: listFiles returns fully-qualified paths (scheme +
    # authority add components on non-default FS), so an unqualified
    # dest string would shift the hidden-component slice two components
    # early and apply the _/. rule to dest's own path (a dest like
    # /tmp/_output would list zero bundles)
    base_depth = len(
        fs.makeQualified(path).toString().rstrip("/").split("/")
    )
    it = fs.listFiles(path, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        # Spark's hidden-file rule, applied to EVERY path component
        # below the dest (r8 — previously only the basename and the
        # exact audit dirname were checked, so part files under
        # _lakeflush_audit_archive/ or a crash-orphaned
        # _lakeflush_audit_tmp-*/ were listed as data bundles,
        # diverging from the Connect manifest path which prunes them)
        if any(
            c.startswith(("_", ".")) for c in p.split("/")[base_depth:]
        ):
            continue
        out.append((p, int(st.getLen()), int(st.getModificationTime())))
    return sorted(out)


def _fp_sum_col(path_col: str, mtime_col: str, size_col: str):
    """Order-independent listing fingerprint term: sum of per-file
    32-bit md5 prefixes over path|mtime|size. 32-bit terms keep the
    BIGINT sum overflow-free past a billion files (ANSI mode throws on
    overflow)."""
    return F.coalesce(
        F.sum(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            path_col,
                            F.col(mtime_col).cast("string"),
                            F.col(size_col).cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
        ),
        F.lit(0),
    )


def _cfg_digest(cfg: CompactionConfig) -> str:
    """Digest of every output-shaping config field: a re-run that asks
    for different bundles (codec, format, sizing, partitioning) must
    NOT be skipped just because the source is unchanged."""
    import hashlib

    key = "|".join(
        str(x)
        for x in (
            cfg.file_format, cfg.output_format, cfg.match_patterns,
            cfg.max_size_mb, cfg.compress, cfg.compression_codec,
            cfg.date_partition_format, cfg.parsed, cfg.csv_header,
            cfg.columnar_ratio, cfg.whole_file_records,
        )
    )
    return hashlib.md5(key.encode()).hexdigest()[:8]


def _source_fingerprint(spark: SparkSession, cfg: CompactionConfig) -> str:
    """Listing fingerprint + config digest via a dedicated manifest
    scan (the non-opaque path; the opaque path folds the same terms
    into its existing stats aggregate)."""
    try:
        m = scan_manifest(spark, cfg.source_dir, cfg.match_patterns or None)
        row = m.agg(
            F.count(F.lit(1)).alias("n"),
            _fp_sum_col("file_path", "mtime", "size").alias("fp"),
        ).first()
        return f"{int(row['n'])}:{int(row['fp'])}:{_cfg_digest(cfg)}"
    except Exception:  # noqa: BLE001 - unreadable source -> no skip
        return ""


def _last_audit_fingerprint(spark: SparkSession, cfg: CompactionConfig) -> str | None:
    """Latest recorded source fingerprint for this source in the dest's
    audit table (None when no audit / no fingerprinted runs exist)."""
    audit_path = f"{cfg.dest_dir.rstrip('/')}/{_AUDIT_DIRNAME}"
    try:
        audit = spark.read.option("mergeSchema", "true").parquet(audit_path)
    except Exception:  # noqa: BLE001 - first run: no audit yet
        return None
    if "source_fp" not in audit.columns:
        return None
    row = (
        audit.where((F.col("source") == cfg.source_dir) & (F.col("source_fp") != ""))
        .orderBy(F.desc("flushed_at"))
        .select("source_fp")
        .first()
    )
    return row["source_fp"] if row else None


def _write_audit(spark: SparkSession, cfg: CompactionConfig, bundles, source_fp: str = "") -> str:
    """O15 upgraded: per-bundle audit rows in a parquet table instead of
    sidecar files in a hidden directory (utils/file/store.py:10-21).

    The rows are built on the driver and committed as ONE parquet file
    per run (``io.commit_parquet``: hidden temp name, then rename), so
    the run's rows become visible atomically — an incremental consumer
    (read_increment) can never observe half a run's bundles — and the
    audit costs no Spark job."""
    audit_path = f"{cfg.dest_dir.rstrip('/')}/{_AUDIT_DIRNAME}"
    if bundles:
        n = len(bundles)
        table = pa.table(
            {
                "run_id": [uuid.uuid4().hex] * n,
                "bundle_path": [p for p, _, _ in bundles],
                "bytes": [int(sz) for _, sz, _ in bundles],
                "source": [cfg.source_dir] * n,
                "format": [cfg.file_format] * n,
                "compressed": [bool(cfg.compress)] * n,
                "source_fp": [source_fp] * n,
                "flushed_at": [datetime.now(timezone.utc)] * n,
            },
            schema=_AUDIT_SCHEMA,
        )
        commit_parquet(spark, audit_path, table)
    return audit_path


def audit_table(spark: SparkSession, dest_dir: str) -> DataFrame:
    """The dest's queryable audit table (one row per delivered bundle:
    run_id, bundle_path, bytes, source, format, compressed, source_fp,
    flushed_at) — the O15 sidecar upgrade. Raises if no compaction has
    audited into ``dest_dir`` yet."""
    return spark.read.option("mergeSchema", "true").parquet(
        f"{dest_dir.rstrip('/')}/{_AUDIT_DIRNAME}"
    )


@dataclass(frozen=True)
class AuditCursor:
    """Exact consumption state over the audit table: the SET of run_ids
    already consumed (``run_ids``), plus the max ``flushed_at`` seen
    (``ts``, informational).

    Set-based exclusion is deliberately NOT a timestamp high-watermark:
    with concurrent compactions, a run's audit rows can become visible
    AFTER a later-stamped run's rows (commit order ≠ timestamp order),
    and a ts cut-off would skip the late-visible run forever. Excluding
    by consumed run_id is order-independent — a run is delivered
    exactly once whenever its audit row appears. The set grows by one
    entry per compaction run (a run is one scheduled job — thousands
    of entries over a store's life, trivially driver-sized)."""

    ts: object
    run_ids: tuple = ()


@dataclass
class IncrementResult:
    #: rows of the newly delivered bundles (empty frame when none)
    df: DataFrame
    #: pass back as ``cursor`` on the next call
    cursor: AuditCursor | None
    #: bundle files this increment covers
    bundle_paths: list


def read_increment(
    spark: SparkSession,
    dest_dir: str,
    fmt: str = "json",
    cursor: AuditCursor | None = None,
    schema=None,
) -> IncrementResult:
    """Incremental (CDC-style) consumption of a compacted lake: rows of
    bundles delivered AFTER ``cursor``, plus the new cursor.

    Downstream jobs (training-data refresh, index builds) should not
    re-list or re-read the whole dest per cycle — re-listing is the
    exact small-file tax compaction exists to remove. The audit table
    is the commit log: this reads it (tiny — one row per bundle),
    selects runs beyond the cursor, and reads ONLY those bundle files
    by explicit path (no directory scan of the dest). At 100 TB the
    per-cycle cost is proportional to NEW data, independent of corpus
    size. ``cursor=None`` consumes from the beginning. The ``run_ids``
    SET is the entire cursor state — always persist and pass back the
    returned cursor object; a hand-built cursor with an empty set
    means "nothing consumed" and replays every run (``ts`` is
    informational only, never used for filtering — see
    :class:`AuditCursor` for why a ts high-watermark would lose
    late-visible runs). The reference has no consumer-side analog at
    all (its `.flushed` sidecars are write-only breadcrumbs,
    utils/file/store.py:10-21).
    """
    if fmt not in ("json", "csv", "parquet", "orc", "text"):
        # fail-fast convention (mix_sources, hot_bucket_mode): a typo'd
        # fmt must not silently come back as raw text lines
        raise ValueError(
            f"unsupported fmt {fmt!r}; expected one of json/csv/parquet/orc/text"
        )
    audit = audit_table(spark, dest_dir)
    if cursor is not None and cursor.run_ids:
        if len(cursor.run_ids) > _CURSOR_ISIN_MAX:
            # a years-long trickle consumer's set would otherwise be
            # re-sent as a giant isin literal each cycle — ship it as
            # an ordinary broadcast-anti-join build side instead
            from lakeflush_spark.io import local_rows_df

            consumed = local_rows_df(
                spark, [(r,) for r in cursor.run_ids], "run_id string"
            )
            audit = audit.join(F.broadcast(consumed), "run_id", "left_anti")
        else:
            audit = audit.where(~F.col("run_id").isin(list(cursor.run_ids)))
    # bundle count is run-sized (the audit exists because files are FEW
    # after compaction) — driver-side collect is the point, not a smell
    rows = audit.select("bundle_path", "run_id", "flushed_at").collect()
    if not rows:
        empty = spark.createDataFrame([], schema=schema or "bundle_path string")
        return IncrementResult(df=empty, cursor=cursor, bundle_paths=[])
    max_ts = max(r.flushed_at for r in rows)
    prev = cursor.run_ids if cursor is not None else ()
    new_cursor = AuditCursor(
        ts=max_ts,
        run_ids=tuple(sorted({*prev, *(r.run_id for r in rows)})),
    )
    if len(new_cursor.run_ids) > CURSOR_WARN_RUNS:
        # observable bound (r7): the set-based cursor is the correct
        # exclusion mechanism (see AuditCursor), but it grows one id
        # per run forever — surface the growth instead of letting a
        # years-long trickle consumer discover it as slow cycles
        import warnings

        warnings.warn(
            f"AuditCursor tracks {len(new_cursor.run_ids)} consumed runs; "
            "run compact_audit(spark, dest_dir, cursor) in a maintenance "
            "window to archive consumed audit rows and reset the cursor",
            RuntimeWarning,
            stacklevel=2,
        )
    paths = sorted({r.bundle_path for r in rows})
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "json":
        for k, v in JSON_TS_OPTIONS.items():
            reader = reader.option(k, v)
    elif fmt == "csv":
        reader = reader.option("header", "true")
    df = reader.format(fmt).load(paths)
    return IncrementResult(df=df, cursor=new_cursor, bundle_paths=paths)


#: above this, read_increment ships the consumed set as a broadcast
#: anti-join instead of an isin literal in the plan text
_CURSOR_ISIN_MAX = 1000
#: above this, read_increment warns and points at compact_audit
CURSOR_WARN_RUNS = 10_000


def compact_audit(
    spark: SparkSession, dest_dir: str, cursor: AuditCursor | None
) -> AuditCursor:
    """Maintenance op: archive the audit rows of runs ``cursor`` has
    consumed into ``<dest>/_lakeflush_audit_archive`` (full history
    kept, append-only) and rewrite the live audit table without them —
    after which those run_ids need no cursor exclusion at all, so the
    returned cursor is EMPTY-set and the consumer's per-cycle state
    stops growing with store age. The exactly-once guarantee carries
    over: a consumed run's rows are gone from the commit log the
    consumer reads, which excludes them as firmly as the set did.

    MUST run in a single-writer window — no concurrent compaction may
    be appending audit rows while the live table is rewritten (the
    swap would drop the concurrent run's file). That is the normal
    discipline for log compaction; schedule it beside other
    maintenance (``vacuum_runs``, ``compact_store``). Local and
    JVM-bridged stores are supported; a Connect session with a remote
    store fails fast (the ``vacuum_runs`` guard pattern).

    Crash safety (r8): the swap is rename-based and RECOVERABLE —
    live renames to ``<audit>_old``, the rewritten table renames into
    place, then ``_old`` is deleted. A crash at any point leaves
    either the old live table, the new one, or the old one under
    ``_old``; the next ``compact_audit`` call repairs the interruption
    before doing anything else (restores ``_old`` to live if live is
    missing, clears leftover ``_old``/``_tmp-*`` debris otherwise) —
    never a lost audit row, at worst duplicate archived rows (the
    archive is append-only and re-archiving is idempotent for
    consumers, which read only the live table)."""
    if cursor is None or not cursor.run_ids:
        return cursor if cursor is not None else AuditCursor(ts=None)
    audit_path = f"{dest_dir.rstrip('/')}/{_AUDIT_DIRNAME}"
    archive_path = audit_path + "_archive"
    _recover_audit_swap(spark, audit_path)
    audit = audit_table(spark, dest_dir)
    from lakeflush_spark.io import local_rows_df

    consumed_df = local_rows_df(
        spark, [(r,) for r in cursor.run_ids], "run_id string"
    )
    # archive FIRST (append): a crash between the two writes leaves
    # duplicate archived rows, never a lost audit row
    audit.join(F.broadcast(consumed_df), "run_id", "semi").write.mode(
        "append"
    ).parquet(archive_path)
    tmp_path = f"{audit_path}_tmp-{uuid.uuid4().hex[:8]}"
    (
        audit.join(F.broadcast(consumed_df), "run_id", "left_anti")
        # one file, like each run's own audit append — the live table
        # is recent-runs-sized after compaction
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp_path)
    )
    # recoverable three-step swap (see docstring): live -> _old,
    # tmp -> live, delete _old — a crash between any two steps leaves
    # a state _recover_audit_swap repairs on the next call
    old_path = audit_path + "_old"
    h = hadoop_fs(spark, audit_path)
    if h is not None:
        jvm, fs, ap = h
        P = jvm.org.apache.hadoop.fs.Path
        # Hadoop rename reports failure by returning false, not
        # raising — an unchecked false on step 1 would make step 2
        # rename tmp INTO the still-existing live dir (hidden child)
        # and return an empty cursor for rows still in the live table
        if not fs.rename(ap, P(old_path)):
            raise RuntimeError(
                f"compact_audit: rename {audit_path} -> {old_path} "
                "failed; live audit table left untouched"
            )
        if not fs.rename(P(tmp_path), ap):
            # put the live table back so the store stays readable —
            # and report honestly if even the rollback failed (the
            # next compact_audit's _recover_audit_swap restores _old)
            if fs.rename(P(old_path), ap):
                raise RuntimeError(
                    f"compact_audit: rename {tmp_path} -> {audit_path} "
                    "failed; previous live table restored"
                )
            raise RuntimeError(
                f"compact_audit: rename {tmp_path} -> {audit_path} "
                f"failed AND restoring {old_path} failed — the live "
                "audit table is currently under _old; the next "
                "compact_audit call repairs this via recovery, or "
                "rename it back manually"
            )
        fs.delete(P(old_path), True)
    else:
        lp, lt = local_path(audit_path), local_path(tmp_path)
        lo = local_path(old_path)
        if lp is None or lt is None or lo is None:
            raise RuntimeError(
                "compact_audit needs the JVM Hadoop FileSystem bridge for "
                "remote stores, and this session has none (Spark Connect); "
                f"swap {tmp_path} into place with storage-native tooling, "
                "then reset the cursor run_ids yourself"
            )
        import os as _os
        import shutil as _shutil

        _os.rename(lp, lo)
        _os.rename(lt, lp)
        _shutil.rmtree(lo)
    return AuditCursor(ts=cursor.ts, run_ids=())


def _recover_audit_swap(spark: SparkSession, audit_path: str) -> None:
    """Repair an interrupted :func:`compact_audit` swap before the next
    one runs (single-writer window assumed): if ``<audit>_old`` exists
    without a live table, the crash hit between the two renames —
    restore ``_old`` to live (the consumed rows re-archive as
    duplicates next time, never lost); if both exist, the crash hit
    before the final delete — drop ``_old``. Leftover ``_tmp-*`` dirs
    from crashed attempts are deleted either way (their content is
    rebuilt from the live table)."""
    old_path = audit_path + "_old"
    h = hadoop_fs(spark, audit_path)
    if h is not None:
        jvm, fs, ap = h
        P = jvm.org.apache.hadoop.fs.Path
        op = P(old_path)
        if fs.exists(op):
            if fs.exists(ap):
                fs.delete(op, True)
            elif not fs.rename(op, ap):
                raise RuntimeError(
                    f"audit-swap recovery: rename {old_path} -> "
                    f"{audit_path} failed; repair manually before "
                    "running compact_audit"
                )
        parent = ap.getParent()
        prefix = ap.getName() + "_tmp-"
        if parent is not None and fs.exists(parent):
            for st in fs.listStatus(parent):
                if st.getPath().getName().startswith(prefix):
                    fs.delete(st.getPath(), True)
        return
    lp, lo = local_path(audit_path), local_path(old_path)
    if lp is None or lo is None:
        return  # remote store without a bridge: compact_audit fails fast later
    import glob as _glob
    import os as _os
    import shutil as _shutil

    if _os.path.isdir(lo):
        if _os.path.isdir(lp):
            _shutil.rmtree(lo)
        else:
            _os.rename(lo, lp)
    for t in _glob.glob(lp + "_tmp-*"):
        _shutil.rmtree(t, ignore_errors=True)


def read_bundles(spark: SparkSession, dest_dir: str, fmt: str = "json", schema=None) -> DataFrame:
    """Read compacted bundles back as parsed rows (for round-trip checks)."""
    if fmt not in ("json", "csv", "parquet", "orc", "text"):
        raise ValueError(
            f"unsupported fmt {fmt!r}; expected one of json/csv/parquet/orc/text"
        )
    reader = spark.read.option("recursiveFileLookup", "true")
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "json":
        for k, v in JSON_TS_OPTIONS.items():
            reader = reader.option(k, v)
        return reader.option("pathGlobFilter", "part-*").json(dest_dir)
    if fmt == "csv":
        return reader.option("header", "true").option("pathGlobFilter", "part-*").csv(dest_dir)
    if fmt in ("parquet", "orc"):
        return getattr(reader.option("pathGlobFilter", "part-*"), fmt)(dest_dir)
    return reader.option("pathGlobFilter", "part-*").text(dest_dir)
