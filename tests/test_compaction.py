"""Compaction pipeline invariants (SURVEY Q16/Q17 + reference semantics).

Models the reference's test layers (SURVEY §5): operator-unit checks,
lake-level counts, and end-to-end round trips — with exact call-count
assertions replaced by row-multiset equality, per the survey's port
guidance.
"""

import glob
import gzip
import os
from dataclasses import replace

import pyspark.sql.functions as F
import pytest

from lakeflush_spark.io import load_table
from lakeflush_spark.operators.compaction import (
    JSON_TS_OPTIONS,
    CompactionConfig,
    compact,
    partition_columns,
    read_bundles,
)
from lakeflush_spark.operators.manifest import ordered_manifest, scan_manifest


@pytest.fixture(scope="module")
def small_json_lake(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("lake_json")
    ev = load_table(spark, sf_dir, "events")
    writer = ev.repartition(100).write.mode("overwrite")
    for k, v in JSON_TS_OPTIONS.items():
        writer = writer.option(k, v)
    writer.json(str(root))
    return str(root), ev


def test_manifest_counts_and_order(spark, small_json_lake):
    lake, _ = small_json_lake
    m = scan_manifest(spark, lake, ["*.json"])
    n_listed = m.count()
    n_disk = len(glob.glob(os.path.join(lake, "part-*.json")))
    assert n_listed == n_disk > 0
    rows = ordered_manifest(spark, lake, ["*.json"]).collect()
    keys = [(r.mtime, r.file_path) for r in rows]
    assert keys == sorted(keys), "manifest must be total-ordered by (mtime, path)"


def test_glob_filter_excludes_everything(spark, small_json_lake):
    # reference test analog: pattern that matches nothing -> 0 records
    # (tests/collectors/test_local_lake.py:72-101)
    lake, _ = small_json_lake
    assert scan_manifest(spark, lake, ["*.nomatch"]).count() == 0


def test_multi_pattern_glob(spark, small_json_lake):
    lake, _ = small_json_lake
    n_all = scan_manifest(spark, lake, []).count()
    n_multi = scan_manifest(spark, lake, ["*.json", "*.csv"]).count()
    n_json = scan_manifest(spark, lake, ["*.json"]).count()
    assert n_multi == n_json
    assert n_all >= n_json


def test_compact_roundtrip_and_size_cap(spark, small_json_lake, tmp_path):
    lake, ev = small_json_lake
    dest = str(tmp_path / "out")
    cap_mb = 0.25
    res = compact(
        spark,
        CompactionConfig(source_dir=lake, dest_dir=dest, file_format="json", max_size_mb=cap_mb),
    )
    assert res.source_files > 0 and res.bundles
    # far fewer bundles than source files (the whole point of compaction)
    assert len(res.bundles) < res.source_files / 5
    # size cap: allow the declared ±5% overshoot (BASELINE.md targets)
    cap = cap_mb * 1024 * 1024
    for b in res.bundles:
        assert os.path.getsize(b.replace("file:", "")) <= cap * 1.05
    # row multiset equality vs source
    back = read_bundles(spark, dest, "json", schema=ev.schema)
    assert back.count() == ev.count()
    assert back.exceptAll(ev).count() == 0
    assert ev.exceptAll(back).count() == 0
    # audit table has one row per bundle
    audit = spark.read.parquet(res.audit_path)
    assert audit.count() == len(res.bundles)


def test_compact_append_rerun_reports_only_new_bundles(spark, small_json_lake, tmp_path):
    # append-mode re-run into a non-empty dest: the result and the audit
    # must cover ONLY this run's bundles, not prior runs' output
    lake, ev = small_json_lake
    dest = str(tmp_path / "out")
    cfg = CompactionConfig(source_dir=lake, dest_dir=dest, file_format="json", max_size_mb=0.25)
    first = compact(spark, cfg)
    second = compact(spark, cfg)
    assert second.bundles, "re-run produced bundles"
    assert not set(first.bundles) & set(second.bundles), "re-run re-reported old bundles"
    # dest now holds both runs' bundles; each audit row belongs to exactly one
    audit = spark.read.parquet(second.audit_path)
    assert audit.count() == len(first.bundles) + len(second.bundles)
    assert audit.select("bundle_path").distinct().count() == audit.count()
    # round trip doubles the row multiset (append semantics, reference parity)
    back = read_bundles(spark, dest, "json", schema=ev.schema)
    assert back.count() == 2 * ev.count()


def test_compact_skip_unchanged_is_idempotent(spark, small_json_lake, tmp_path):
    # blind re-run of a scheduled batch job: unchanged source -> no-op,
    # changed source -> compacts again (fingerprint in the audit table)
    import shutil

    shared_lake, ev = small_json_lake
    lake = str(tmp_path / "lake")  # private copy: this test mutates it
    shutil.copytree(shared_lake, lake)
    dest = str(tmp_path / "out")
    cfg = CompactionConfig(
        source_dir=lake, dest_dir=dest, file_format="json",
        max_size_mb=0.25, skip_unchanged=True,
    )
    first = compact(spark, cfg)
    assert first.bundles and not first.skipped

    second = compact(spark, cfg)
    assert second.skipped and not second.bundles
    audit = spark.read.parquet(first.audit_path)
    assert audit.count() == len(first.bundles), "no-op must not add audit rows"

    with open(os.path.join(lake, "extra.json"), "w") as f:
        f.write('{"event_id": 999999}\n')
    third = compact(spark, cfg)
    assert not third.skipped and third.bundles

    # same source but DIFFERENT output request -> must not be skipped
    from dataclasses import replace as _replace

    gz = compact(spark, _replace(cfg, compress=True))
    assert not gz.skipped and gz.bundles and all(b.endswith(".gz") for b in gz.bundles)


def test_compact_gzip(spark, small_json_lake, tmp_path):
    lake, ev = small_json_lake
    dest = str(tmp_path / "gz")
    res = compact(
        spark,
        CompactionConfig(
            source_dir=lake, dest_dir=dest, file_format="json", max_size_mb=0.25, compress=True
        ),
    )
    assert res.bundles and all(b.endswith(".gz") for b in res.bundles)
    with gzip.open(res.bundles[0].replace("file:", ""), "rt") as f:
        assert f.readline().strip().startswith("{")
    back = read_bundles(spark, dest, "json", schema=ev.schema)
    assert back.count() == ev.count()


def test_compact_empty_input(spark, tmp_path):
    src = tmp_path / "empty"
    src.mkdir()
    dest = str(tmp_path / "out")
    res = compact(
        spark,
        CompactionConfig(source_dir=str(src), dest_dir=dest, file_format="json"),
    )
    assert res.bundles == [] and res.source_files == 0
    assert not os.path.exists(dest)  # O12: nothing written


def test_compact_csv_header_semantics(spark, sf_dir, tmp_path):
    # O5/O6: many small CSVs each carrying a header -> each bundle
    # carries exactly one header (the reference's "header lock").
    cust = load_table(spark, sf_dir, "customer")
    lake = str(tmp_path / "csvlake")
    cust.repartition(20).write.mode("overwrite").option("header", "true").csv(lake)
    dest = str(tmp_path / "csvout")
    compact(
        spark,
        CompactionConfig(
            source_dir=lake,
            dest_dir=dest,
            file_format="csv",
            parsed=True,
            schema=cust.schema,
            max_size_mb=16,
        ),
    )
    bundle_files = [p for p in glob.glob(os.path.join(dest, "part-*")) if os.path.getsize(p)]
    assert bundle_files
    header = "c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment"
    for p in bundle_files:
        with open(p) as f:
            lines = [ln.rstrip("\n") for ln in f]
        assert lines[0] == header
        assert sum(1 for ln in lines if ln == header) == 1, "exactly one header per bundle"
    back = read_bundles(spark, dest, "csv", schema=cust.schema)
    assert back.count() == cust.count()
    assert back.exceptAll(cust).count() == 0


def test_date_partitioned_delivery(spark, small_json_lake, tmp_path):
    # O13: processing-time Hive partition path (reference:
    # flushers/local_lake.py:55-60; layout per FIXTURES.md F4)
    lake, ev = small_json_lake
    dest = str(tmp_path / "parts")
    res = compact(
        spark,
        CompactionConfig(
            source_dir=lake,
            dest_dir=dest,
            file_format="json",
            date_partition_format="date=%Y-%m-%d/hour=%H",
        ),
    )
    assert res.bundles
    assert all("/date=" in b and "/hour=" in b for b in res.bundles)
    back = spark.read.option("recursiveFileLookup", "false").schema(ev.schema).json(
        os.path.join(dest, "date=*", "hour=*")
    )
    assert back.count() == ev.count()


def test_partition_columns_parse():
    assert partition_columns("date=%Y-%m-%d/hour=%H") == [
        ("date", "yyyy-MM-dd"),
        ("hour", "HH"),
    ]
    with pytest.raises(ValueError):
        partition_columns("nodateformat")
    with pytest.raises(ValueError):
        partition_columns("x=%Q")


def test_read_increment_consumes_only_new_runs(spark, sf_dir, tmp_path):
    """CDC-style consumption: a cursor-holding consumer sees each
    compaction run's rows exactly once, reading only the new bundle
    files by path (never re-listing the dest)."""
    from lakeflush_spark.operators.compaction import read_increment

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    first = orders.where(F.col("o_orderkey") % 2 == 0)
    second = orders.where(F.col("o_orderkey") % 2 == 1)
    lake1, lake2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    first.repartition(5).write.parquet(lake1)
    second.repartition(5).write.parquet(lake2)
    dest = str(tmp_path / "out")

    cfg = dict(dest_dir=dest, file_format="parquet", max_size_mb=16,
               write_mode="append")
    compact(spark, CompactionConfig(source_dir=lake1, **cfg))

    inc1 = read_increment(spark, dest, fmt="parquet", cursor=None)
    assert inc1.cursor is not None and inc1.bundle_paths
    assert inc1.df.count() == first.count()

    # nothing new yet: empty increment, cursor unchanged
    idle = read_increment(spark, dest, fmt="parquet", cursor=inc1.cursor)
    assert idle.bundle_paths == [] and idle.df.count() == 0
    assert idle.cursor == inc1.cursor

    compact(spark, CompactionConfig(source_dir=lake2, **cfg))
    inc2 = read_increment(spark, dest, fmt="parquet", cursor=inc1.cursor)
    assert inc2.df.count() == second.count()
    # the increment covers ONLY run-2 bundles
    assert not (set(inc2.bundle_paths) & set(inc1.bundle_paths))
    # multiset equality: first ∪ second == everything delivered
    got = inc1.df.unionByName(inc2.df)
    assert got.count() == orders.count()
    assert got.exceptAll(orders).count() == 0

    # audit_table is directly queryable and covers both runs
    from lakeflush_spark.operators.compaction import audit_table

    assert audit_table(spark, dest).select("run_id").distinct().count() == 2


def test_audit_reads_spark_written_and_driver_written_files(spark, tmp_path):
    """One audit dir may hold a file Spark's parquet writer produced
    (a VALUES relation, INT96 ``flushed_at``: how audit rows were
    written before the driver wrote them) beside a driver-written one
    (INT64 UTC ``flushed_at``). ``audit_table``, ``read_increment`` and
    ``skip_unchanged`` read both."""
    import json
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeflush_spark.operators.compaction import audit_table, read_increment

    lake = tmp_path / "lake"
    lake.mkdir()
    for i in range(20):
        (lake / f"f{i:02d}.json").write_text(json.dumps({"i": i}) + "\n")
    dest = str(tmp_path / "out")
    cfg = CompactionConfig(source_dir=str(lake), dest_dir=dest, skip_unchanged=True)
    first = compact(spark, cfg)
    audit_dir = first.audit_path
    rows = pq.read_table(audit_dir).to_pylist()
    assert len(rows) == len(first.bundles)
    shutil.rmtree(audit_dir)
    values = ",".join(
        f"('{r['run_id']}', '{r['bundle_path']}', {r['bytes']}L, '{r['source']}', "
        f"'{r['format']}', {str(r['compressed']).lower()}, '{r['source_fp']}')"
        for r in rows
    )
    spark.sql(
        f"SELECT *, current_timestamp() AS flushed_at FROM (VALUES {values}) AS "
        "t(run_id, bundle_path, bytes, source, format, compressed, source_fp)"
    ).coalesce(1).write.mode("append").parquet(audit_dir)
    assert pq.read_table(audit_dir).schema.field("flushed_at").type == pa.timestamp("ns")

    assert compact(spark, cfg).skipped  # fingerprint read off the Spark-written file
    inc1 = read_increment(spark, dest, fmt="text", cursor=None)
    assert inc1.df.count() == 20

    (lake / "f20.json").write_text(json.dumps({"i": 20}) + "\n")
    second = compact(spark, cfg)
    assert second.bundles and not second.skipped
    files = [f for f in os.listdir(audit_dir) if f.endswith(".parquet") and f[0] != "."]
    assert len(files) == 2

    audit = audit_table(spark, dest)
    assert dict(audit.dtypes) == {
        "run_id": "string", "bundle_path": "string", "bytes": "bigint",
        "source": "string", "format": "string", "compressed": "boolean",
        "source_fp": "string", "flushed_at": "timestamp",
    }
    assert audit.count() == len(first.bundles) + len(second.bundles)
    assert audit.select("run_id").distinct().count() == 2
    inc2 = read_increment(spark, dest, fmt="text", cursor=inc1.cursor)
    assert sorted(inc2.bundle_paths) == sorted(second.bundles)
    assert inc2.df.count() == 21
    # the latest run is the driver-written one: an identical re-run skips
    assert compact(spark, cfg).skipped


@pytest.mark.parametrize("parsed", [False, True])
def test_compact_schema_drift_union(spark, tmp_path, parsed):
    """Schema evolution across source eras: a column appearing in later
    files union-infers; earlier rows carry NULL — no row dropped, no
    torn schema. Both modes covered: opaque (raw lines concatenated,
    schema inferred at read-back) AND parsed (json inference spans the
    whole listing during compaction itself)."""
    lake = tmp_path / "lake"
    lake.mkdir()
    (lake / "era1.json").write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    (lake / "era2.json").write_text('{"a": 3, "b": "z", "c": 9.5}\n')
    dest = str(tmp_path / "out")
    compact(
        spark,
        CompactionConfig(
            source_dir=str(lake), dest_dir=dest, file_format="json",
            max_size_mb=16, parsed=parsed,
        ),
    )
    back = read_bundles(spark, dest, "json")
    assert set(back.columns) == {"a", "b", "c"}
    rows = {r.a: (r.b, r.c) for r in back.collect()}
    assert rows == {1: ("x", None), 2: ("y", None), 3: ("z", 9.5)}


def test_read_increment_delivers_late_visible_runs(spark, sf_dir, tmp_path):
    """Visibility-order independence: a run whose audit rows appear
    AFTER a later-stamped run's rows must still be delivered exactly
    once — the run-set cursor excludes by identity, never by a
    timestamp high-watermark."""
    from lakeflush_spark.operators.compaction import read_increment

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    first = orders.where(F.col("o_orderkey") % 2 == 0)
    second = orders.where(F.col("o_orderkey") % 2 == 1)
    lake1, lake2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    first.write.parquet(lake1)
    second.write.parquet(lake2)
    dest = str(tmp_path / "out")
    cfg = dict(dest_dir=dest, file_format="parquet", max_size_mb=16,
               write_mode="append")
    compact(spark, CompactionConfig(source_dir=lake1, **cfg))
    compact(spark, CompactionConfig(source_dir=lake2, **cfg))

    from lakeflush_spark.operators.compaction import AuditCursor, audit_table

    runs = sorted(
        (r.flushed_at, r.run_id)
        for r in audit_table(spark, dest).select("run_id", "flushed_at")
        .distinct().collect()
    )
    assert len(runs) == 2
    later_ts, later_run = runs[-1]
    # simulate: consumer saw ONLY the later-stamped run (the earlier
    # run's audit rows were not yet visible when it read)
    cursor = AuditCursor(ts=later_ts, run_ids=(later_run,))
    inc = read_increment(spark, dest, fmt="parquet", cursor=cursor)
    # the earlier run is still delivered despite its older timestamp
    assert inc.df.count() == first.count()
    assert set(inc.cursor.run_ids) == {r for _, r in runs}
    # and now everything is consumed
    idle = read_increment(spark, dest, fmt="parquet", cursor=inc.cursor)
    assert idle.bundle_paths == []


def test_read_increment_rejects_unknown_fmt(spark, tmp_path):
    """r6 (ADVICE): a typo'd fmt fails fast instead of silently
    falling back to raw text lines."""
    import pytest

    from lakeflush_spark.operators.compaction import read_bundles, read_increment

    with pytest.raises(ValueError, match="unsupported fmt"):
        read_increment(spark, str(tmp_path / "nope"), fmt="jsn")
    with pytest.raises(ValueError, match="unsupported fmt"):
        read_bundles(spark, str(tmp_path / "nope"), fmt="jsn")


def test_compact_audit_resets_cursor_and_archives(spark, sf_dir, tmp_path, monkeypatch):
    """r7 (VERDICT #7): the consumed-runs set is observably bounded —
    compact_audit archives consumed runs' audit rows, rewrites the
    live commit log without them, and hands back an EMPTY-set cursor
    that still never replays them; oversized cursors ride a broadcast
    anti-join (not an isin literal) and warn past the documented
    threshold."""
    import lakeflush_spark.operators.compaction as comp
    from lakeflush_spark.operators.compaction import (
        AuditCursor,
        audit_table,
        compact_audit,
        read_increment,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    lakes = []
    for i in range(3):
        part = orders.where(F.col("o_orderkey") % 3 == i)
        lake = str(tmp_path / f"l{i}")
        part.write.parquet(lake)
        lakes.append((lake, part.count()))
    dest = str(tmp_path / "out")
    cfg = dict(dest_dir=dest, file_format="parquet", max_size_mb=16,
               write_mode="append")
    compact(spark, CompactionConfig(source_dir=lakes[0][0], **cfg))
    compact(spark, CompactionConfig(source_dir=lakes[1][0], **cfg))
    inc = read_increment(spark, dest, fmt="parquet", cursor=None)
    assert inc.df.count() == lakes[0][1] + lakes[1][1]
    assert len(inc.cursor.run_ids) == 2

    # compact the log: archive the 2 consumed runs, cursor resets empty
    cur2 = compact_audit(spark, dest, inc.cursor)
    assert cur2.run_ids == ()
    live_runs = {r.run_id for r in audit_table(spark, dest).select("run_id").collect()}
    assert live_runs == set()  # nothing unconsumed yet
    archived = spark.read.parquet(f"{dest}/_lakeflush_audit_archive")
    assert {r.run_id for r in archived.collect()} == set(inc.cursor.run_ids)

    # a third run arrives: the empty-set cursor delivers ONLY it —
    # the archived runs are excluded by absence, not by cursor state
    compact(spark, CompactionConfig(source_dir=lakes[2][0], **cfg))
    inc3 = read_increment(spark, dest, fmt="parquet", cursor=cur2)
    assert inc3.df.count() == lakes[2][1]
    assert len(inc3.cursor.run_ids) == 1

    # oversized cursor: >_CURSOR_ISIN_MAX ids goes through the
    # broadcast anti-join branch and still answers correctly
    fat = AuditCursor(
        ts=None,
        run_ids=tuple(sorted({*inc3.cursor.run_ids,
                              *(f"ghost-{i}" for i in range(1200))})),
    )
    idle = read_increment(spark, dest, fmt="parquet", cursor=fat)
    assert idle.bundle_paths == []

    # growth warning past the documented threshold
    monkeypatch.setattr(comp, "CURSOR_WARN_RUNS", 0)
    with pytest.warns(RuntimeWarning, match="compact_audit"):
        read_increment(spark, dest, fmt="parquet", cursor=cur2)

    # no-op forms
    assert compact_audit(spark, dest, None).run_ids == ()
    assert compact_audit(spark, dest, cur2) is cur2


def test_recover_audit_swap_crash_states(spark, sf_dir, tmp_path):
    """r9 (testing the r8 fix): compact_audit's three-step swap repairs
    every crash state on the next call — only _old left (crash between
    renames: restore), live + _old (crash before delete: drop _old),
    orphaned _tmp-* debris (sweep) — with no audit row lost, on both
    the JVM rail and the local-fallback rail."""
    import os
    import shutil

    import lakeflush_spark.operators.compaction as comp
    from lakeflush_spark.operators.compaction import (
        audit_table,
        compact_audit,
        read_increment,
    )

    def build_dest(tag):
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
        lake = str(tmp_path / f"lake_{tag}")
        orders.limit(50).write.parquet(lake)
        dest = str(tmp_path / f"out_{tag}")
        for _ in range(2):
            compact(spark, CompactionConfig(
                source_dir=lake, dest_dir=dest, file_format="parquet",
                max_size_mb=16, write_mode="append",
            ))
        return dest

    def audit_rows(dest):
        return {r.run_id for r in
                audit_table(spark, dest).select("run_id").collect()}

    for rail, patch in (("jvm", None), ("local", lambda *_: None)):
        if patch is not None:
            # the local fallback rail (Spark Connect shape)
            orig = comp.hadoop_fs
            comp.hadoop_fs = patch
        try:
            dest = build_dest(rail)
            ap = os.path.join(dest, "_lakeflush_audit")
            want = audit_rows(dest)
            assert len(want) == 2

            # state 1: crash BETWEEN the renames — only _old exists
            os.rename(ap, ap + "_old")
            comp._recover_audit_swap(spark, ap)
            assert audit_rows(dest) == want  # restored, nothing lost

            # state 2: crash BEFORE the final delete — both exist
            shutil.copytree(ap, ap + "_old")
            comp._recover_audit_swap(spark, ap)
            assert not os.path.exists(ap + "_old")
            assert audit_rows(dest) == want

            # state 3: orphaned _tmp-* debris from a crashed rewrite
            os.makedirs(ap + "_tmp-deadbeef")
            with open(os.path.join(ap + "_tmp-deadbeef", "junk"), "w") as f:
                f.write("x")
            comp._recover_audit_swap(spark, ap)
            assert not os.path.exists(ap + "_tmp-deadbeef")
            assert audit_rows(dest) == want

            # and a REAL compact_audit after each repair still works
            inc = read_increment(spark, dest, fmt="parquet", cursor=None)
            cur = compact_audit(spark, dest, inc.cursor)
            assert cur.run_ids == ()
            assert audit_rows(dest) == set()
            archived = spark.read.parquet(f"{dest}/_lakeflush_audit_archive")
            assert {r.run_id for r in archived.collect()} == want
        finally:
            if patch is not None:
                comp.hadoop_fs = orig


def test_list_bundles_skips_archive_and_tmp_debris(spark, tmp_path):
    """r9 (testing the r8 hidden-file rule): part files under the
    audit ARCHIVE dir and crash-orphaned _tmp-* dirs are not listed
    as data bundles, on the JVM rail and the Connect-manifest rail
    alike; a dest whose OWN name starts with '_' still lists (the
    hidden rule applies only below the dest)."""
    import os

    import lakeflush_spark.operators.compaction as comp

    dest = tmp_path / "_output"  # underscore dest: its own name is exempt
    (dest / "_lakeflush_audit").mkdir(parents=True)
    (dest / "_lakeflush_audit" / "a.json").write_text("{}")
    (dest / "_lakeflush_audit_archive").mkdir()
    (dest / "_lakeflush_audit_archive" / "part-0.parquet").write_text("x" * 8)
    (dest / "_lakeflush_audit_tmp-ab12").mkdir()
    (dest / "_lakeflush_audit_tmp-ab12" / "part-0.parquet").write_text("y" * 8)
    (dest / ".hidden_dir").mkdir()
    (dest / ".hidden_dir" / "c.txt").write_text("z")
    (dest / "b1.txt").write_text("x" * 10)
    (dest / "b2.txt").write_text("y" * 12)

    jvm = comp._list_bundles(spark, str(dest))
    assert [(os.path.basename(p), s) for p, s, _ in jvm] == [
        ("b1.txt", 10), ("b2.txt", 12),
    ]
    import unittest.mock as mock

    with mock.patch.object(comp, "hadoop_fs", lambda *_: None):
        fb = comp._list_bundles(spark, str(dest))
    assert [(os.path.basename(p), s) for p, s, _ in fb] == [
        ("b1.txt", 10), ("b2.txt", 12),
    ]


def test_compact_audit_raises_on_failed_rename(spark, sf_dir, tmp_path, monkeypatch):
    """r9 (ADVICE r8 #4): Hadoop FileSystem.rename signals failure by
    returning false — compact_audit must RAISE on a false return
    instead of proceeding to the next swap step (which would nest tmp
    inside the live dir and return an empty cursor for unswapped
    rows), leaving the live table untouched."""
    import lakeflush_spark.operators.compaction as comp
    from lakeflush_spark.operators.compaction import (
        audit_table,
        compact_audit,
        read_increment,
    )

    lake = str(tmp_path / "lake")
    load_table(spark, sf_dir, "orders").select("o_orderkey").limit(
        30
    ).write.parquet(lake)
    dest = str(tmp_path / "out")
    compact(spark, CompactionConfig(
        source_dir=lake, dest_dir=dest, file_format="parquet",
        max_size_mb=16, write_mode="append",
    ))
    inc = read_increment(spark, dest, fmt="parquet", cursor=None)
    want = {r.run_id for r in audit_table(spark, dest).select("run_id").collect()}

    class _FakePath:
        def __init__(self, s):
            self._s = str(s)

        def getParent(self):
            parent = os.path.dirname(self._s)
            return _FakePath(parent) if parent else None

        def getName(self):
            return os.path.basename(self._s)

    class _FakeJvm:
        class org:
            class apache:
                class hadoop:
                    class fs:
                        Path = _FakePath

    class _FakeFS:
        def rename(self, a, b):
            return False  # Hadoop-style silent failure

        def exists(self, p):
            return False  # _recover_audit_swap: nothing to repair

        def listStatus(self, p):
            return []

        def delete(self, p, rec):
            return True

    fake = (_FakeJvm, _FakeFS(), _FakePath(f"{dest}/_lakeflush_audit"))
    monkeypatch.setattr(comp, "hadoop_fs", lambda *_: fake)
    with pytest.raises(RuntimeError, match="left untouched"):
        compact_audit(spark, dest, inc.cursor)
    # the live audit table was not moved or replaced
    monkeypatch.undo()
    assert {r.run_id for r in
            audit_table(spark, dest).select("run_id").collect()} == want

    # _recover_audit_swap: a false restore-rename must raise too
    class _FakeFSRestore(_FakeFS):
        def exists(self, p):
            # _old exists, live does not -> the restore branch
            return p._s.endswith("_old")

    fake2 = (_FakeJvm, _FakeFSRestore(), _FakePath(f"{dest}/_lakeflush_audit"))
    monkeypatch.setattr(comp, "hadoop_fs", lambda *_: fake2)
    with pytest.raises(RuntimeError, match="repair manually"):
        comp._recover_audit_swap(spark, f"{dest}/_lakeflush_audit")


def _stray_files_listed_first(lake, keep: str) -> None:
    """Add non-matching, non-empty files to ``lake`` until the directory
    listing (the order a Hadoop ``listFiles`` walk follows) yields one
    of them before ``keep``."""
    i = 0
    while i == 0 or os.listdir(lake)[0] == keep:
        (lake / f"README{i}").write_text("this lake holds csv files\n")
        i += 1


def test_first_source_file_honours_match_patterns(spark, tmp_path, monkeypatch):
    import lakeflush_spark.operators.compaction as comp

    lake = tmp_path / "lake"
    lake.mkdir()
    (lake / "data.csv").write_text("a,b\n1,2\n")
    _stray_files_listed_first(lake, "data.csv")
    cfg = CompactionConfig(
        source_dir=str(lake), dest_dir="", file_format="csv", match_patterns=["*.csv"]
    )
    no_match = replace(cfg, match_patterns=["*.tsv"])
    assert comp._first_source_file(spark, cfg).endswith("/data.csv")
    assert comp._first_source_file(spark, no_match) is None
    # Spark Connect fallback (no JVM bridge): the manifest aggregate
    monkeypatch.setattr(comp, "hadoop_fs", lambda *_: None)
    assert comp._first_source_file(spark, cfg).endswith("/data.csv")
    assert comp._first_source_file(spark, no_match) is None


def test_csv_header_collector_ignores_non_matching_files(spark, tmp_path):
    # the header schema and the head-sample sizing must come from a
    # file the patterns select, not a stray README in the lake root
    from lakeflush_spark.compat import FileType, LocalLakeCollector

    lake = tmp_path / "lake"
    lake.mkdir()
    rows = [f"{i},name{i}" for i in range(30)]
    for f in range(3):
        (lake / f"part{f}.csv").write_text("id,name\n" + "\n".join(rows[f::3]) + "\n")
    _stray_files_listed_first(lake, "part0.csv")
    out = tmp_path / "out"
    out.mkdir()
    bundles = LocalLakeCollector(
        str(lake), file_type=FileType.CSV, match_patterns=["*.csv"], csv_header=True,
        filepath=str(out), filename="b",
    ).start()
    lines = [ln.rstrip("\n") for b in bundles for ln in open(b)]
    assert lines.count("id,name") == len(bundles) == 1
    assert sorted(lines[1:]) == sorted(rows)


def test_compact_leaves_session_error_policy_alone(spark, small_json_lake, tmp_path):
    # O19's skip policy rides each read as options and the tiny-file
    # open cost is restored after the call: a compaction must not make
    # every later read in the caller's session skip bad files or plan
    # its scans differently
    lake, ev = small_json_lake
    pq_lake = str(tmp_path / "pq_lake")
    ev.repartition(20).write.parquet(pq_lake)
    big_lake = tmp_path / "big_lake"  # > 16 KiB files: the line reader
    big_lake.mkdir()
    for i in range(2):
        (big_lake / f"f{i}.json").write_text('{"v": "%s"}\n' % ("x" * 40_000))
    keys = ("spark.sql.files.ignoreCorruptFiles", "spark.sql.files.ignoreMissingFiles")
    open_cost = "spark.sql.files.openCostInBytes"
    saved = {k: spark.conf.get(k) for k in (*keys, open_cost)}
    try:
        for k in keys:
            spark.conf.set(k, "false")
        spark.conf.set(open_cost, "1234567")
        runs = {
            "binary": dict(source_dir=lake, file_format="json"),
            "parsed": dict(source_dir=lake, file_format="json", parsed=True),
            "lines": dict(source_dir=str(big_lake), file_format="json"),
            "parquet": dict(source_dir=pq_lake, file_format="parquet"),
        }
        for name, kw in runs.items():
            compact(spark, CompactionConfig(dest_dir=str(tmp_path / name), **kw))
            assert {k: spark.conf.get(k) for k in keys} == dict.fromkeys(keys, "false")
            assert spark.conf.get(open_cost) == "1234567", name
        spark.conf.unset(open_cost)
        compact(spark, CompactionConfig(dest_dir=str(tmp_path / "unset"),
                                        **runs["binary"]))
        assert spark.conf.get(open_cost, None) is None
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("record_bytes", [200, 40_000])
def test_compact_skips_files_that_vanish_after_listing(
    spark, tmp_path, monkeypatch, record_bytes
):
    # O19 on both opaque readers: 200 B files take the binaryFile path,
    # 40 KB files the line reader. A file deleted between the listing
    # and the write is skipped, not fatal, whatever the session conf says.
    import lakeflush_spark.operators.compaction as comp

    lake = tmp_path / "lake"
    lake.mkdir()
    records = {f"f{i}.json": '{"v": "%s"}' % (str(i) * record_bytes) for i in range(4)}
    for name, rec in records.items():
        (lake / name).write_text(rec + "\n")
    list_bundles = comp._list_bundles

    def vanish_then_list(spark_, dest):
        (lake / "f0.json").unlink(missing_ok=True)  # after the source listing
        return list_bundles(spark_, dest)

    monkeypatch.setattr(comp, "_list_bundles", vanish_then_list)
    saved = spark.conf.get("spark.sql.files.ignoreMissingFiles")
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "false")
    try:
        res = compact(
            spark,
            CompactionConfig(source_dir=str(lake), dest_dir=str(tmp_path / "out")),
        )
    finally:
        spark.conf.set("spark.sql.files.ignoreMissingFiles", saved)
    assert res.source_files == 4
    got = sorted(
        ln.rstrip("\n") for b in res.bundles for ln in open(b.removeprefix("file:"))
    )
    assert got == sorted(rec for name, rec in records.items() if name != "f0.json")


def test_compact_typed_csv_samples_rows_and_holds_cap(spark, tmp_path, monkeypatch):
    # Typed values re-serialize longer than their source text: a
    # "2024-01-05" timestamp is written as "2024-01-05T00:00:00.000Z".
    # A head sample of the source would undersize every record, so typed
    # schemas keep the sampling job, and every bundle stays under the cap
    # (header line included: 676 rows of 31 bytes leave 15 bytes of a
    # 0.02 MiB cap, less than the 34-byte header).
    import lakeflush_spark.operators.compaction as comp

    lake = tmp_path / "lake"
    lake.mkdir()
    header = "record_identifier,event_timestamp"
    schema = "record_identifier INT, event_timestamp TIMESTAMP"
    for f in range(4):
        rows = [f"{10000 + f * 1000 + i},2024-01-{i % 28 + 1:02d}" for i in range(1000)]
        (lake / f"part{f}.csv").write_text(header + "\n" + "\n".join(rows) + "\n")
    calls = []
    sampled = comp._sampled_size_estimates
    monkeypatch.setattr(
        comp, "_sampled_size_estimates", lambda *a: calls.append(a) or sampled(*a)
    )
    cap_mb = 0.02
    res = compact(
        spark,
        CompactionConfig(
            source_dir=str(lake), dest_dir=str(tmp_path / "out"), file_format="csv",
            parsed=True, schema=schema, max_size_mb=cap_mb,
        ),
    )
    assert len(calls) == 1
    sizes = [os.path.getsize(b.removeprefix("file:")) for b in res.bundles]
    assert len(sizes) > 3, sizes
    assert max(sizes) <= cap_mb * 1024 * 1024, sizes
    back = read_bundles(spark, str(tmp_path / "out"), "csv", schema=schema)
    assert back.count() == 4000


_MIXED_LAKE = {
    "a.json": '{"v": 1}\n{"v": 2}\n',
    "b.json": '{"v": 3}\n',
    "c.csv": "v\n4\n5\n",
    "README": "this lake holds json and csv files\n",
    "q,r.txt": "6\n",
}


@pytest.mark.parametrize(
    "patterns", [["*.json", "*.csv"], ["[!R]*"], ["q,r.txt", "*.csv"]]
)
def test_match_patterns_select_the_same_files_in_every_reader(
    spark, tmp_path, monkeypatch, patterns
):
    # every reader and listing applies ALL patterns with fnmatch
    # semantics, however many there are
    import fnmatch
    from urllib.parse import unquote

    import lakeflush_spark.operators.compaction as comp

    lake = tmp_path / "lake"
    lake.mkdir()
    for name, body in _MIXED_LAKE.items():
        (lake / name).write_text(body)
    want = {n for n in _MIXED_LAKE if any(fnmatch.fnmatchcase(n, p) for p in patterns)}
    cfg = CompactionConfig(source_dir=str(lake), dest_dir="", match_patterns=patterns)

    def names(df, col=F.input_file_name()):
        return {os.path.basename(unquote(r[0])) for r in df.select(col).distinct().collect()}

    assert names(comp.read_source(spark, cfg)) == want
    assert names(comp.read_source(spark, replace(cfg, whole_file_records=True))) == want
    assert names(comp._opaque_binary_raw(spark, cfg), F.col("path")) == want
    for fmt in ("json", "csv"):
        parsed = replace(cfg, parsed=True, file_format=fmt, csv_header=False)
        assert names(comp.read_source(spark, parsed)) == want, fmt
    assert names(scan_manifest(spark, str(lake), patterns), F.col("file_path")) == want
    first = comp._first_source_file(spark, cfg)
    assert os.path.basename(unquote(first)) in want
    monkeypatch.setattr(comp, "hadoop_fs", lambda *_: None)
    assert os.path.basename(unquote(comp._first_source_file(spark, cfg))) in want


def test_compact_line_reader_honours_every_match_pattern(spark, tmp_path):
    lake = tmp_path / "lake"
    lake.mkdir()
    for name, body in _MIXED_LAKE.items():
        (lake / name).write_text(body)
    # big files keep the opaque compaction on the line reader
    pad = {n: "x" * 40_000 + "\n" for n in ("a.json", "c.csv", "README")}
    for name, line in pad.items():
        with open(lake / name, "a") as f:
            f.write(line)
    out = str(tmp_path / "out")
    compact(spark, CompactionConfig(source_dir=str(lake), dest_dir=out, file_format="json",
                                    match_patterns=["*.json", "*.csv"]))
    got = sorted(r.value for r in read_bundles(spark, out, "text").collect())
    want = sorted(
        line
        for n in ("a.json", "b.json", "c.csv")
        for line in (lake / n).read_text().splitlines()
    )
    assert got == want
