"""Compat facade tests — the reference's API driven end-to-end.

Mirrors the reference's own four test layers (SURVEY §5):
ctor-validation matrix and rotation invariants
(tests/core/test_collector.py), collector-over-lake semantics
(tests/collectors/test_local_lake.py), and end-to-end
collector→flusher delivery (tests/flushers/test_local_lake.py) —
with exact-call-count assertions replaced by row-multiset equality
(call counts were an artifact of the reference's logging data plane).
"""

import glob
import gzip
import json
import os

import pytest

from lakeflush_spark.compat import (
    Collector,
    FileType,
    LocalLakeCollector,
    LocalLakeFlusher,
    S3LakeCollector,
    S3LakeFlusher,
)


# ---- Collector unit layer (reference tests/core/test_collector.py) ----


def test_collector_ctor_validation(tmp_path):
    with pytest.raises(ValueError, match="filepath and filename"):
        Collector("", "name")
    with pytest.raises(ValueError, match="filepath and filename"):
        Collector(str(tmp_path), "")
    with pytest.raises(ValueError, match="does not exists"):
        Collector(str(tmp_path / "nope"), "n")
    with pytest.raises(ValueError, match="max_size_mb"):
        Collector(str(tmp_path), "n", max_size_mb=0)
    with pytest.raises(ValueError, match="max_time_mins"):
        Collector(str(tmp_path), "n", max_time_mins=0)


def test_collector_creates_inprogress(tmp_path):
    c = Collector(str(tmp_path), "data")
    assert os.path.exists(tmp_path / "data.lakeflush.inprogress")
    c.close()
    cz = Collector(str(tmp_path), "gzdata", compress=True)
    assert os.path.exists(tmp_path / "gzdata.lakeflush.inprogress.gz")
    cz.close()


def test_collector_size_rotation_cap(tmp_path):
    # Reference invariant: pre-write size check => bundles never exceed
    # the cap (core/file_handler.py:52-57; test_collector.py:91-110).
    c = Collector(str(tmp_path), "data", max_size_mb=1)
    record = "x" * 1024
    for _ in range(1200):  # ~1.2 MB
        c.collect(record)
    c.close()
    collected = glob.glob(str(tmp_path / "*.lakeflush.collected"))
    assert len(collected) == 1
    assert os.path.getsize(collected[0]) <= 1024 * 1024


def test_collector_oversize_records_one_bundle_each(tmp_path):
    # 3 records each near the cap => 3 rotated bundles
    # (reference test_collector.py:192-209).
    c = Collector(str(tmp_path), "data", max_size_mb=1)
    big = "y" * (1024 * 1024 - 512)
    for _ in range(3):
        c.collect(big)
    c.rotate()  # finalize the tail (pre-write check leaves it in-progress)
    c.close()
    assert len(glob.glob(str(tmp_path / "*.lakeflush.collected"))) == 3


def test_collector_gzip_roundtrip(tmp_path):
    c = Collector(str(tmp_path), "data", max_size_mb=1, compress=True)
    for i in range(100):
        c.collect(f"line-{i}")
    path = c.rotate()
    c.close()
    assert path and path.endswith(".lakeflush.collected.gz")
    with gzip.open(path, "rt") as f:
        lines = f.read().splitlines()
    assert lines == [f"line-{i}" for i in range(100)]


def test_collector_rotate_empty_returns_none(tmp_path):
    c = Collector(str(tmp_path), "data")
    assert c.rotate() is None
    c.close()


# ---- Lake-collector layer + end-to-end delivery ----------------------


def _make_json_lake(spark, sf_dir, root: str) -> int:
    """Per-row JSON files in hive-ish subdirs, like the reference's
    random_datalake fixture but deterministic (driver testdata)."""
    from lakeflush_spark.io import load_table

    rows = load_table(spark, sf_dir, "nation").toJSON().collect()
    for i, r in enumerate(rows):
        d = os.path.join(root, f"day={i % 3}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"doc-{i}.json"), "w") as f:
            f.write(r + "\n")
    return len(rows)


def test_local_collector_flusher_end_to_end(spark, sf_dir, tmp_path):
    lake = str(tmp_path / "lake")
    stage = str(tmp_path / "stage")
    dest = str(tmp_path / "dest")
    for d in (lake, stage, dest):
        os.makedirs(d)
    n = _make_json_lake(spark, sf_dir, lake)

    collector = LocalLakeCollector(
        lake,
        file_type=FileType.JSON,
        match_patterns=["*.json"],
        filepath=stage,
        filename="nation-bundle",
        max_size_mb=1,
    )
    bundles = collector.start()
    assert bundles and all(".lakeflush.collected" in b for b in bundles)

    flusher = LocalLakeFlusher(dest, stage, "nation-bundle")
    assert flusher.poll_once() == len(bundles)
    assert not glob.glob(os.path.join(stage, "*.collected"))  # moved out

    delivered = glob.glob(os.path.join(dest, "*"))
    assert len(delivered) == len(bundles)
    assert all(".collected" not in p for p in delivered)

    # Row-multiset round trip: every source doc survives exactly once.
    docs = []
    for p in delivered:
        with open(p) as f:
            docs += [json.loads(ln) for ln in f if ln.strip()]
    assert len(docs) == n
    assert sorted(d["n_nationkey"] for d in docs) == list(range(n))


def test_local_flusher_partitioned_delivery(spark, sf_dir, tmp_path):
    lake, stage, dest = (str(tmp_path / x) for x in ("lake", "stage", "dest"))
    for d in (lake, stage, dest):
        os.makedirs(d)
    _make_json_lake(spark, sf_dir, lake)
    LocalLakeCollector(
        lake, filepath=stage, filename="b", max_size_mb=1
    ).start()
    LocalLakeFlusher(
        dest, stage, "b", date_partition_format="date=%Y-%m-%d/hour=%H"
    ).poll_once()
    assert glob.glob(os.path.join(dest, "date=*/hour=*/*")), "hive partition path"


def test_csv_header_lock_modes(spark, sf_dir, tmp_path):
    from lakeflush_spark.io import load_table

    cust = load_table(spark, sf_dir, "customer")
    lake = str(tmp_path / "csvlake")
    cust.repartition(8).write.option("header", "true").csv(lake)
    header = ",".join(cust.columns)

    # header lock ON: exactly one header per bundle
    stage1 = str(tmp_path / "s1")
    os.makedirs(stage1)
    bundles = LocalLakeCollector(
        lake,
        file_type=FileType.CSV,
        csv_header=True,
        filepath=stage1,
        filename="cust",
        max_size_mb=16,
    ).start()
    total_rows = 0
    for b in bundles:
        with open(b) as f:
            lines = [ln.rstrip("\n") for ln in f if ln.strip()]
        assert lines[0] == header
        assert sum(1 for ln in lines if ln == header) == 1
        total_rows += len(lines) - 1
    assert total_rows == cust.count()

    # header lock OFF: opaque concat, all 8 per-file headers survive
    stage2 = str(tmp_path / "s2")
    os.makedirs(stage2)
    bundles2 = LocalLakeCollector(
        lake,
        file_type=FileType.CSV,
        csv_header=False,
        filepath=stage2,
        filename="cust",
        max_size_mb=16,
    ).start()
    all_lines = []
    for b in bundles2:
        with open(b) as f:
            all_lines += [ln.rstrip("\n") for ln in f if ln.strip()]
    assert sum(1 for ln in all_lines if ln == header) == 8
    assert len(all_lines) == cust.count() + 8


def test_s3_classes_via_file_uri(spark, sf_dir, tmp_path):
    # Hadoop-FS-backed S3 path exercised offline with file:// URIs —
    # the identical code path serves s3a:// on a real cluster.
    lake, stage, bucket = (str(tmp_path / x) for x in ("lake", "stage", "bucket"))
    for d in (lake, stage, bucket):
        os.makedirs(d)
    n = _make_json_lake(spark, sf_dir, lake)

    collector = S3LakeCollector(
        f"file://{lake}",
        filepath=stage,
        filename="s3b",
        max_size_mb=1,
    )
    bundles = collector.start()
    assert bundles

    flusher = S3LakeFlusher(f"file://{bucket}", stage, "s3b")
    assert flusher.poll_once() == len(bundles)
    # upload leaves the local bundle (reference flushers/s3_lake.py:62)
    assert glob.glob(os.path.join(stage, "*.collected*"))
    # second poll must not re-upload
    assert flusher.poll_once() == 0

    docs = []
    for p in glob.glob(os.path.join(bucket, "*")):
        with open(p) as f:
            docs += [json.loads(ln) for ln in f if ln.strip()]
    assert sorted(d["n_nationkey"] for d in docs) == list(range(n))


def test_s3_collector_requires_bucket(tmp_path):
    with pytest.raises(ValueError, match="bucket name is required"):
        S3LakeCollector("", filepath=str(tmp_path), filename="x")


def test_reference_import_shim(tmp_path):
    # Reference users' imports work verbatim (zero-code-change switch).
    from lakeflush.collectors import LocalLakeCollector as ShimCollector
    from lakeflush.core import Collector as ShimCore
    from lakeflush.flushers import LocalLakeFlusher as ShimFlusher
    from lakeflush.utils.file import FileStatus as ShimStatus

    assert ShimCollector is LocalLakeCollector
    assert ShimFlusher is LocalLakeFlusher
    assert ShimCore is Collector
    assert ShimStatus.COLLECTED == ".collected"


def test_flusher_event_driven_delivery(tmp_path):
    # poll_interval=30s: only the inotify event path can explain a
    # sub-second delivery of a bundle created AFTER the loop starts
    import threading
    import time as _time

    from lakeflush_spark.compat.core import _INotifyWatcher

    if _INotifyWatcher.create(str(tmp_path)) is None:
        import pytest as _pytest

        _pytest.skip("inotify unavailable on this platform")

    stage = tmp_path / "stage"
    dest = tmp_path / "dest"
    stage.mkdir()
    dest.mkdir()
    flusher = LocalLakeFlusher(str(dest), str(stage), "evt")
    t = threading.Thread(target=flusher.start, kwargs={"poll_interval": 30.0})
    t.start()
    try:
        _time.sleep(0.3)  # let the loop enter its event wait
        bundle = stage / "evt.1.aa.lakeflush.collected"
        bundle.write_text('{"k":1}\n')
        deadline = _time.time() + 3.0
        delivered = dest / "evt.1.aa.lakeflush"
        while _time.time() < deadline and not delivered.exists():
            _time.sleep(0.05)
        assert delivered.exists(), "event-driven flush did not fire within 3s"
    finally:
        flusher.stop()
        # wake the event wait so the thread can exit promptly
        (stage / "wake.lakeflush.collected").write_text("x")
        t.join(timeout=35)
        assert not t.is_alive()


def test_utils_import_parity():
    """The reference's three utility import paths resolve (SURVEY §2.D)."""
    from lakeflush.utils import MetaDataKey as K1
    from lakeflush.utils.logger import Logger
    from lakeflush.utils.metadata import MetaDataKey, MetaDataStore
    from lakeflush.utils.metadata.key import MetaDataKey as K2
    from lakeflush.utils.metadata.store import MetaDataStore as S2
    from lakeflush.utils.metastore import SQLiteMetastore

    assert K1 is MetaDataKey is K2
    assert S2 is MetaDataStore
    assert MetaDataKey.COLLECTED == "collected"
    assert callable(Logger.setup) and callable(SQLiteMetastore)


def test_metadata_store_counters():
    from lakeflush.utils.metadata import MetaDataKey, MetaDataStore

    MetaDataStore.setup()
    assert MetaDataStore.get(MetaDataKey.COLLECTED) == 0
    MetaDataStore.set(MetaDataKey.COLLECTED, 7)
    assert MetaDataStore.get(MetaDataKey.COLLECTED) == 7
    # live link: metrics incremented through the Spark plumbing are the
    # same numbers the compat class reads
    MetaDataStore.metrics().add(collected=3)
    assert MetaDataStore.get(MetaDataKey.COLLECTED) == 10
    MetaDataStore.setup()
    assert MetaDataStore.get(MetaDataKey.COLLECTED) == 0


def test_logger_facade(capsys):
    import logging

    from lakeflush.utils.logger import Logger

    Logger.setup(name="lakeflush-test", level=logging.INFO)
    Logger.info("hello from compat")
    Logger.warning("warn line")
    out = capsys.readouterr().out
    assert "| INFO | lakeflush-test | hello from compat" in out
    assert "| WARNING | lakeflush-test | warn line" in out


def test_sqlite_metastore_adapter(spark, tmp_path):
    from lakeflush.utils.metastore import SQLiteMetastore

    ms = SQLiteMetastore(str(tmp_path / "meta"), spark=spark)
    ms.set_metadata("plain", "v1")
    ms.set_metadata("obj", {"a": 1, "b": [2, 3]})
    assert ms.get_metadata("plain") == "v1"
    assert ms.get_metadata("obj") == {"a": 1, "b": [2, 3]}
    assert ms.get_metadata("missing", default="d") == "d"

    # versioned overwrite archives the superseded value, newest first
    ms.set_metadata("plain", "v2", versioned=True)
    ms.set_metadata("plain", "v3", versioned=True)
    hist = [h["value"] for h in ms.get_metadata_versions("plain")]
    assert hist == ["v2", "v1"]
    # unversioned overwrites leave no history
    ms.set_metadata("obj", {"a": 9})
    assert ms.get_metadata_versions("obj") == []

    got = ms.get_metadata_with_timestamps("plain")
    assert got["value"] == "v3" and got["created_at"] <= got["updated_at"]

    assert ms.search_metadata("v3") == {"plain": "v3"}
    assert sorted(ms.list_keys()) == ["obj", "plain"]
    ms.delete_metadata("obj")
    assert ms.get_metadata("obj") is None
    ms.clear()
    assert ms.list_keys() == []


def test_csv_reader_empty_first_file_does_not_eat_next_header(tmp_path):
    """r13 (ADVICE): an EMPTY first file must not capture '' as the
    header — the next file's real header has to be yielded, and later
    files' repeated headers still dedup."""
    from lakeflush_spark.compat.files import CSVFileReader

    empty = tmp_path / "a.csv"
    empty.write_text("")
    real = tmp_path / "b.csv"
    real.write_text("col1,col2\n1,2\n")
    again = tmp_path / "c.csv"
    again.write_text("col1,col2\n3,4\n")

    r = CSVFileReader(header=True, batch_size=10)
    assert list(r.read(str(empty))) == []
    assert r.header_data is None
    assert list(r.read(str(real))) == ["col1,col2", "1,2"]
    assert r.header_data == "col1,col2"
    # O6 header dedup still holds for the third file
    assert list(r.read(str(again))) == ["3,4"]


@pytest.mark.parametrize("kind", ["csv", "tiny_json"])
def test_collector_pass_runs_only_the_bundle_write(spark, tmp_path, job_stages, kind):
    """An all-string CSV pass sizes its bundles from the header sample
    the collector already reads, a tiny-JSON pass reads its stats off
    the binaryFile listing, and both write the audit file from the
    driver: the bundle write (which adaptive execution runs as a
    shuffle-map job and a result job) is the only Spark work."""
    lake = tmp_path / "lake"
    lake.mkdir()
    if kind == "csv":
        for f in range(8):
            (lake / f"p{f}.csv").write_text(
                "id,name\n" + "".join(f"{f * 100 + i},n{i}\n" for i in range(100))
            )
        file_type = FileType.CSV
    else:
        for f in range(200):
            (lake / f"ev{f:03d}.json").write_text(json.dumps({"id": f, "note": "x" * 40}))
        file_type = FileType.JSON
    for compress in (False, True):
        out = tmp_path / f"out{compress}"
        out.mkdir()
        sc = spark.sparkContext
        group = f"{kind}-collector-{compress}"
        sc.setJobGroup(group, f"{kind} collector pass")
        try:
            bundles = LocalLakeCollector(
                str(lake), file_type=file_type, csv_header=kind == "csv",
                filepath=str(out), filename="b", compress=compress,
            ).start()
        finally:
            sc._jsc.clearJobGroup()
        assert len(bundles) == 1
        assert len(job_stages(group)) == 2
        assert len(os.listdir(out / "_lakeflush_audit")) == 1
