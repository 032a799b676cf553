"""Source-lake file manifest — the reference's scan operators, declaratively.

Reference parity: O1 recursive mtime-ordered local scan
(``utils/file/processor.py:9-118``), O2 S3 scan
(``utils/s3/processor.py:10-110``), O3 filename glob filter
(``utils/file/processor.py:38-50``).

The reference walks directories single-threaded with a bounded heap and
yields files in *approximate* mtime order. Here the listing is Spark's
driver-side ``InMemoryFileIndex`` (parallelized over a thread pool, and
over the cluster for very large trees) and the order is an explicit
**total** ``(mtime, path)`` sort — a strict upgrade declared in SURVEY
§3.4/§7.3.3. The same call works on ``file:``, ``hdfs:`` or ``s3a:``
roots; at 100 TB the manifest itself is a DataFrame, so it partitions,
filters and joins like any other table instead of living in driver
memory.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def name_glob(match_patterns) -> str | None:
    """The fnmatch-style ``match_patterns`` (any-of; empty/None = match
    all) as ONE Hadoop ``GlobFilter`` pattern on the file name — the
    string every reader takes as ``pathGlobFilter``. Several patterns
    become a ``{p1,p2}`` alternation; ``\\``, ``{``, ``}`` and ``,``
    are escaped inside each pattern because fnmatch reads them
    literally."""
    patterns = [re.sub(r"([\\{},])", r"\\\1", p) for p in (match_patterns or []) if p]
    if len(patterns) > 1:
        return "{" + ",".join(patterns) + "}"
    return patterns[0] if patterns else None


def scan_manifest(
    spark: SparkSession,
    root: str,
    match_patterns: list[str] | None = None,
    recursive: bool = True,
) -> DataFrame:
    """List every file under ``root`` as rows ``(file_path, mtime, size)``.

    ``match_patterns`` are fnmatch-style globs on the file name (any-of,
    empty/None = match all — same semantics as the reference's
    ``_should_match``), pushed into the listing via ``pathGlobFilter``
    (:func:`name_glob`).
    """
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true" if recursive else "false")
    )
    glob = name_glob(match_patterns)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    # binaryFile only materializes `content` when selected — this
    # projection prunes it, so the scan is metadata-only.
    return reader.load(root).select(
        F.col("path").alias("file_path"),
        F.col("modificationTime").alias("mtime"),
        F.col("length").alias("size"),
    )


def ordered_manifest(spark: SparkSession, root: str, match_patterns=None) -> DataFrame:
    """Total-order manifest ``ORDER BY mtime, file_path`` (SURVEY Q17)."""
    return scan_manifest(spark, root, match_patterns).orderBy("mtime", "file_path")
