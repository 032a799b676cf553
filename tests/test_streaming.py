"""Streaming surface: checkpointed compaction, batch-equivalence, state.

Port of the reference's flusher tests (tests/core/test_flusher.py,
tests/flushers/test_local_lake.py): rotation->flush becomes
micro-batch->bundle-write, call-count assertions become row-multiset
equality (SURVEY §5), and simulated-time tests become
Trigger.AvailableNow equivalence runs.
"""

import os

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from lakeflush_spark.io import load_table
from lakeflush_spark.streaming import (
    StreamCompactionConfig,
    compact_stream,
    dedup_within_watermark,
    sessionize,
    sessionize_stateful,
    windowed_event_counts,
)



def _add_parquet_file(spark, tmp_path, src, name, rows,
                      schema="doc_id long, text string"):
    """Stage a ONE-file parquet batch and drop it whole into the
    stream source dir (writing directly into src would expose Spark's
    temporary files to the streaming file source)."""
    import glob
    import shutil

    stage = tmp_path / f"_stage_{name}"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(stage))
    shutil.copy(glob.glob(str(stage / "part-*.parquet"))[0],
                str(src / f"{name}.parquet"))

@pytest.fixture(scope="module")
def small_lake(spark, sf_dir, tmp_path_factory):
    """Events exploded into many small NDJSON files (the reference's
    input shape, tests/lakes/random_datalake.py)."""
    root = tmp_path_factory.mktemp("stream_lake")
    lake = os.path.join(str(root), "lake")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("value").cast("string").alias("value")
    )
    ev.repartition(40).write.mode("overwrite").json(lake)
    return lake


def _bundles(dest):
    out = []
    for dirpath, _dirs, files in os.walk(dest):
        if "_lakeflush_audit" in dirpath or "/_spark_metadata" in dirpath:
            continue
        out.extend(
            os.path.join(dirpath, f) for f in files if f.startswith("part-")
        )
    return out


def test_stream_compaction_availablenow_roundtrip(spark, small_lake, tmp_path):
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")
    cfg = StreamCompactionConfig(
        source_dir=small_lake,
        dest_dir=dest,
        checkpoint_dir=ckpt,
        max_size_mb=1.0,
        max_files_per_trigger=15,  # force multiple micro-batches
    )
    q = compact_stream(spark, cfg, available_now=True)
    q.awaitTermination(180)
    assert not q.isActive

    # row-multiset round trip: every source record in exactly one bundle
    src = spark.read.json(small_lake)
    out = spark.read.json([p for p in _bundles(dest)])
    assert out.count() == src.count()
    assert src.exceptAll(out).count() == 0
    assert out.exceptAll(src).count() == 0
    # audit rows: one per non-empty micro-batch, records sum to total
    audit = spark.read.parquet(f"{dest}/_lakeflush_audit_stream")
    assert audit.agg(F.sum("records")).collect()[0][0] == src.count()


def test_stream_compaction_exactly_once_on_restart(spark, small_lake, tmp_path):
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")
    cfg = StreamCompactionConfig(
        source_dir=small_lake, dest_dir=dest, checkpoint_dir=ckpt, max_size_mb=1.0
    )
    compact_stream(spark, cfg, available_now=True).awaitTermination(180)
    n_before = len(_bundles(dest))
    # restart with the same checkpoint: nothing new to process ->
    # no duplicate bundles (the reference re-ingests everything on
    # restart — SURVEY §3.4 calls this out as the upgrade)
    compact_stream(spark, cfg, available_now=True).awaitTermination(180)
    assert len(_bundles(dest)) == n_before


def test_stream_compaction_idempotent_batch_replay(spark, small_lake, tmp_path):
    """exactly_once mode: re-running a micro-batch (foreachBatch replay
    after a crash between sink write and checkpoint commit) REPLACES
    its batch partition instead of appending duplicates."""
    from lakeflush_spark.streaming.compaction import _bundle_writer

    dest = str(tmp_path / "dest")
    cfg = StreamCompactionConfig(
        source_dir=small_lake,
        dest_dir=dest,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_size_mb=1.0,
        exactly_once=True,
    )
    writer = _bundle_writer(cfg)
    batch = spark.read.json(small_lake).selectExpr("to_json(struct(*)) AS value")
    n = batch.count()
    writer(batch, 7)
    writer(batch, 7)  # simulated replay of the SAME batch id
    out = spark.read.text([p for p in _bundles(dest)])
    assert out.count() == n  # no duplicates
    audit = spark.read.parquet(f"{dest}/_lakeflush_audit_stream")
    assert audit.where("batch_id = 7").count() == 1
    # a different batch id still appends alongside
    writer(batch.limit(5), 8)
    assert spark.read.text([p for p in _bundles(dest)]).count() == n + 5


def test_stream_compaction_mode_toggle_fails_fast(spark, small_lake, tmp_path):
    """exactly_once must be chosen at stream creation: toggling it on an
    existing dest would mix batch=N-partitioned and flat layouts in one
    directory, breaking partition discovery for readers."""
    import pytest

    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")
    append_cfg = StreamCompactionConfig(
        source_dir=small_lake, dest_dir=dest, checkpoint_dir=ckpt, max_size_mb=1.0
    )
    compact_stream(spark, append_cfg, available_now=True).awaitTermination(180)
    eo_cfg = StreamCompactionConfig(
        source_dir=small_lake,
        dest_dir=dest,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        max_size_mb=1.0,
        exactly_once=True,
    )
    with pytest.raises(ValueError, match="append-mode"):
        compact_stream(spark, eo_cfg, available_now=True)

    # and the reverse direction: exactly-once dest, append-mode restart
    dest2 = str(tmp_path / "dest2")
    eo_cfg2 = StreamCompactionConfig(
        source_dir=small_lake,
        dest_dir=dest2,
        checkpoint_dir=str(tmp_path / "ckpt3"),
        max_size_mb=1.0,
        exactly_once=True,
    )
    compact_stream(spark, eo_cfg2, available_now=True).awaitTermination(180)
    append_cfg2 = StreamCompactionConfig(
        source_dir=small_lake,
        dest_dir=dest2,
        checkpoint_dir=str(tmp_path / "ckpt4"),
        max_size_mb=1.0,
    )
    with pytest.raises(ValueError, match="batch=N"):
        compact_stream(spark, append_cfg2, available_now=True)
    # same mode on the same dest stays fine (restart path)
    compact_stream(spark, eo_cfg2, available_now=True).awaitTermination(180)


def test_stream_dedup_incremental_against_history(spark, tmp_path):
    """Incremental ingest dedup: within-batch dups collapse to the min
    id, cross-batch dups against already-ingested history are dropped,
    and a checkpointed restart ingests nothing twice."""
    from lakeflush_spark.streaming.dedup import StreamDedupConfig, dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    def write_batchfile(name, rows):
        _add_parquet_file(spark, tmp_path, src, name, rows)

    # batch 1: one within-file dup (ids 3 and 1 share text)
    write_batchfile("b1", [(3, "alpha"), (1, "alpha"), (2, "beta")])
    dedup_stream(spark, cfg).awaitTermination(180)
    got = {
        r.doc_id: r.text for r in spark.read.parquet(cfg.dest_dir).collect()
    }
    assert got == {1: "alpha", 2: "beta"}

    # batch 2: one doc repeats history ("beta"), one is new
    write_batchfile("b2", [(10, "beta"), (11, "gamma")])
    dedup_stream(spark, cfg).awaitTermination(180)
    got = {
        r.doc_id: r.text for r in spark.read.parquet(cfg.dest_dir).collect()
    }
    assert got == {1: "alpha", 2: "beta", 11: "gamma"}

    # restart with the same checkpoint: nothing new -> no change
    dedup_stream(spark, cfg).awaitTermination(180)
    assert spark.read.parquet(cfg.dest_dir).count() == 3
    # digest store holds exactly one digest per surviving doc
    assert spark.read.parquet(cfg.digest_dir).select("_digest").distinct().count() == 3


def test_stream_dedup_store_reuse_across_checkpoint_generations(spark, tmp_path):
    """A NEW stream (fresh checkpoint) over an EXISTING digest store
    must still see the old generation's history: without run-scoped
    partitions, generation 2's batch 0 would exclude generation 1's
    batch=0 partition as its own 'replay' and re-admit old documents —
    and its dynamic overwrite would replace those store rows."""
    from lakeflush_spark.streaming.dedup import StreamDedupConfig, dedup_stream

    src = tmp_path / "src"
    src.mkdir()

    def write_batchfile(name, rows):
        _add_parquet_file(spark, tmp_path, src, name, rows)

    common = dict(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
    )
    # generation 1 ingests alpha/beta under checkpoint ckpt1
    write_batchfile("g1", [(1, "alpha"), (2, "beta")])
    dedup_stream(
        spark, StreamDedupConfig(checkpoint_dir=str(tmp_path / "ckpt1"), **common)
    ).awaitTermination(180)

    # generation 2: FRESH checkpoint, same store. Its batch 0 re-reads
    # g1's file plus a new one holding a dup of 'alpha' and a new doc.
    write_batchfile("g2", [(10, "alpha"), (11, "gamma")])
    dedup_stream(
        spark, StreamDedupConfig(checkpoint_dir=str(tmp_path / "ckpt2"), **common)
    ).awaitTermination(180)

    got = {r.doc_id: r.text for r in spark.read.parquet(common["dest_dir"]).collect()}
    # old docs survive exactly once (gen-1 partitions untouched), the
    # cross-generation dup is dropped, the new doc lands
    assert got == {1: "alpha", 2: "beta", 11: "gamma"}
    digests = spark.read.parquet(common["digest_dir"])
    assert digests.select("_digest").distinct().count() == 3
    # two distinct run partitions exist: nothing was clobbered
    assert digests.select("run").distinct().count() == 2


def test_stream_neardup_incremental_against_history(spark, tmp_path):
    """Incremental LSH near-dup: a lightly-edited copy arriving in the
    same batch collapses to the min id, one arriving batches later is
    dropped against the signature store, and a checkpointed restart
    changes nothing. Signatures are md5-deterministic, so the planted
    near-pairs match reproducibly."""
    from lakeflush_spark.streaming.dedup import StreamNearDupConfig, near_dup_stream

    base = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong coffee beside an ancient river under pale morning light"
    )
    edit1 = base.replace("coffee", "tea")
    edit2 = base.replace("morning", "evening")
    other = (
        "completely different subject matter entirely unrelated words "
        "describing machine learning pipelines and distributed query engines"
    )
    third = (
        "yet another standalone document about parquet file compaction "
        "strategies for petabyte scale object storage lakes"
    )

    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamNearDupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        sig_dir=str(tmp_path / "sigs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.7,
    )

    def write_batchfile(name, rows):
        _add_parquet_file(spark, tmp_path, src, name, rows)

    # batch 1: ids 1/3 are near-dups (one-word edit) -> min id 1 wins
    write_batchfile("b1", [(3, edit1), (1, base), (2, other)])
    near_dup_stream(spark, cfg).awaitTermination(180)
    got = {r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1, 2}

    # batch 2: id 10 is a near-dup of HISTORY doc 1, id 11 is new
    write_batchfile("b2", [(10, edit2), (11, third)])
    near_dup_stream(spark, cfg).awaitTermination(180)
    got = {r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1, 2, 11}

    # restart with the same checkpoint: no new input -> no change
    near_dup_stream(spark, cfg).awaitTermination(180)
    assert spark.read.parquet(cfg.dest_dir).count() == 3
    # signature store: one row per surviving doc per LSH band
    sigs = spark.read.parquet(cfg.sig_dir)
    assert sigs.select("doc").distinct().count() == 3
    from lakeflush_spark.operators.dedup import MINHASH_BANDS

    assert sigs.count() == 3 * MINHASH_BANDS


def test_curate_stream_full_pipeline_with_history(spark, tmp_path):
    """Continuous curation: filters, exact dedup, near-dup, and
    decontamination all act per batch AND against persisted history,
    with a per-batch stats row accounting for every drop."""
    from lakeflush_spark.streaming.curation import CurationStreamConfig, curate_stream

    base = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong coffee beside an ancient river under pale morning light"
    )
    leak = (
        "which ancient empire built the longest continuous defensive wall "
        "across northern mountain ranges over many centuries of labor"
    )
    clean1 = (
        "completely different subject matter entirely unrelated words "
        "describing machine learning pipelines and distributed query engines"
    )
    clean2 = (
        "yet another standalone document about parquet file compaction "
        "strategies for petabyte scale object storage lakes"
    )

    eval_dir = tmp_path / "eval"
    spark.createDataFrame([(1000, leak)], "doc_id long, text string").write.parquet(
        str(eval_dir)
    )

    src = tmp_path / "src"
    src.mkdir()

    def write_batchfile(name, rows):
        _add_parquet_file(spark, tmp_path, src, name, rows)

    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_tokens=5,
        eval_dir=str(eval_dir),
    )

    # batch 1: 1=keeper, 2=too short (filter), 3=exact dup of 1,
    # 4=near-dup of 1 (one-word edit), 5=eval leak, 6=another keeper
    write_batchfile(
        "b1",
        [
            (1, base),
            (2, "too short"),
            (3, base),
            (4, base.replace("coffee", "tea")),
            (5, leak),
            (6, clean1),
        ],
    )
    curate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1, 6}
    s = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()
    assert [
        (r.n_in, r.n_filtered, r.n_exact_dup, r.n_near_dup, r.n_contaminated, r.n_out)
        for r in s
    ] == [(6, 1, 1, 1, 1, 2)]
    # the semantic stage is not configured: its stats column is NULL
    assert all(r.n_sem_dup is None for r in s)

    # batch 2: 10=exact dup of HISTORY doc 1, 11=near-dup of history 1,
    # 12=new keeper
    write_batchfile(
        "b2", [(10, base), (11, base.replace("morning", "evening")), (12, clean2)]
    )
    curate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1, 6, 12}
    s = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()
    assert [
        (r.n_in, r.n_filtered, r.n_exact_dup, r.n_near_dup, r.n_contaminated, r.n_out)
        for r in s
    ][-1] == (3, 0, 1, 1, 0, 1)

    # checkpointed restart with no new input: nothing changes
    curate_stream(spark, cfg).awaitTermination(240)
    assert spark.read.parquet(cfg.dest_dir).count() == 3


def test_compact_store_bounds_buckets_and_preserves_detection(spark, tmp_path):
    """Offline store compaction caps every LSH bucket, keeps the
    (run, batch) layout, and a continuing stream pointed at the
    compacted copy still drops near-dups against history."""
    from lakeflush_spark.streaming.dedup import (
        StreamNearDupConfig,
        compact_store,
        near_dup_stream,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong coffee beside an ancient river under pale morning light"
    )
    other = (
        "completely different subject matter entirely unrelated words "
        "describing machine learning pipelines and distributed query engines"
    )
    src = tmp_path / "src"
    src.mkdir()

    def write_batchfile(name, rows):
        _add_parquet_file(spark, tmp_path, src, name, rows)

    cfg = StreamNearDupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        sig_dir=str(tmp_path / "sigs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.7,
    )
    write_batchfile("b1", [(1, base), (2, other)])
    near_dup_stream(spark, cfg).awaitTermination(180)

    compacted = str(tmp_path / "sigs_compacted")
    compact_store(spark, cfg.sig_dir, compacted, max_bucket=1)
    store = spark.read.parquet(compacted)
    assert set(store.columns) >= {"doc", "sig", "band_idx", "bh", "run", "batch"}
    sizes = store.groupBy("band_idx", "bh").count().agg(F.max("count")).collect()[0][0]
    assert sizes == 1

    # continue the SAME stream generation against the compacted copy:
    # a near-dup of history doc 1 must still be dropped
    import dataclasses

    cfg2 = dataclasses.replace(cfg, sig_dir=compacted)
    write_batchfile("b2", [(10, base.replace("morning", "evening"))])
    near_dup_stream(spark, cfg2).awaitTermination(180)
    got = {r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1, 2}


def test_stream_compaction_ignores_stray_files(spark, small_lake, tmp_path):
    """Unrelated files in the dest (a README, notes) must NOT trip the
    exactly-once layout check — only part-*.txt[.gz] bundles count as
    append-mode evidence."""
    dest = tmp_path / "dest"
    dest.mkdir()
    (dest / "README.md").write_text("docs about this directory\n")
    (dest / "notes.txt").write_text("not a bundle: no part- prefix\n")
    cfg = StreamCompactionConfig(
        source_dir=small_lake,
        dest_dir=str(dest),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_size_mb=1.0,
        exactly_once=True,
    )
    compact_stream(spark, cfg, available_now=True).awaitTermination(180)


def test_stream_compaction_lists_one_task_per_core(spark, tmp_path, job_stages):
    """A micro-batch of 64 new files roots its read at 64 paths, above
    Spark's 32-path threshold for a distributed listing job. That job
    must run one task per core, not one per file: each task costs
    ~10 ms of CPU to deserialize a Hadoop Configuration."""
    src = tmp_path / "src"
    src.mkdir()
    # equal-size files keep the scan's bin-packing at <= one split per core
    records = [f'{{"f": {i:03d}, "r": 0}}' for i in range(64)]
    for i, rec in enumerate(records):
        (src / f"f{i:03d}.json").write_text(rec + "\n")
    dest = str(tmp_path / "dest")
    cfg = StreamCompactionConfig(
        source_dir=str(src),
        dest_dir=dest,
        checkpoint_dir=str(tmp_path / "ckpt"),
        exactly_once=True,
    )
    q = compact_stream(spark, cfg, available_now=True)
    q.awaitTermination(180)
    assert q.exception() is None
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 1
    jobs = job_stages(str(q.runId))
    assert jobs, "the 64-path listing runs as a Spark job in the query's group"
    cores = spark.sparkContext.defaultParallelism
    assert all(n <= cores for tasks in jobs.values() for n in tasks), jobs
    got = sorted(
        ln.rstrip("\n") for p in _bundles(dest) for ln in open(p) if ln.strip()
    )
    assert got == records


def test_stream_compaction_batch_runs_stats_and_write_only(spark, tmp_path, job_stages):
    """A micro-batch runs the stats aggregate and the bundle write (AQE
    runs each as a shuffle-map job and a result job); its audit row is
    written from the driver, not by a Spark job."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(8):
        (src / f"f{i}.json").write_text(f'{{"f": {i}}}\n')
    cfg = StreamCompactionConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        exactly_once=True,
    )
    q = compact_stream(spark, cfg, available_now=True)
    q.awaitTermination(180)
    assert q.exception() is None
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 1
    assert len(job_stages(str(q.runId))) == 4


@pytest.mark.parametrize("exactly_once", [False, True])
def test_stream_audit_reads_in_spark_and_pyarrow(spark, tmp_path, exactly_once):
    """The driver-written stream audit reads the same in Spark and in
    pyarrow, ``flushed_at`` is a UTC-adjusted timestamp in both, and a
    crashed commit's hidden temp file is invisible to both readers."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeflush_spark.streaming.compaction import _bundle_writer

    dest = str(tmp_path / "dest")
    cfg = StreamCompactionConfig(
        source_dir=str(tmp_path / "unused"),
        dest_dir=dest,
        checkpoint_dir=str(tmp_path / "ckpt"),
        exactly_once=exactly_once,
    )
    writer = _bundle_writer(cfg)
    before = datetime.datetime.now(datetime.timezone.utc)
    for batch_id, n in ((3, 5), (4, 2)):
        writer(spark.range(n).selectExpr("CAST(id AS STRING) AS value"), batch_id)
    after = datetime.datetime.now(datetime.timezone.utc)
    audit = f"{dest}/_lakeflush_audit_stream"
    # leftovers of a commit that crashed before its rename
    leftover_dir = f"{audit}/batch_id=3" if exactly_once else audit
    with open(f"{leftover_dir}/.part-00000-crashed-c000.snappy.parquet.tmp", "wb") as f:
        f.write(b"not parquet")

    df = spark.read.parquet(audit)
    assert dict(df.dtypes)["flushed_at"] == "timestamp"
    got = {r.batch_id: (r.records, r.bytes) for r in df.collect()}
    assert got == {3: (5, 10), 4: (2, 4)}

    t = pq.read_table(audit)
    assert t.schema.field("flushed_at").type == pa.timestamp("us", tz="UTC")
    assert {
        int(b): (n, sz)
        for b, n, sz in zip(t["batch_id"].to_pylist(), t["records"].to_pylist(),
                            t["bytes"].to_pylist())
    } == got
    assert all(before <= ts <= after for ts in t["flushed_at"].to_pylist())
    spark_ts = sorted(r.ts for r in df.selectExpr("unix_micros(flushed_at) AS ts").collect())
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    us = datetime.timedelta(microseconds=1)
    arrow_ts = sorted((ts - epoch) // us for ts in t["flushed_at"].to_pylist())
    assert spark_ts == arrow_ts


def _stream_events(spark, sf_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from lakeflush_spark.io import table_path

    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")
        )
    return stream


def _run_to_memory(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_streaming_window_equals_batch(spark, sf_dir):
    batch = windowed_event_counts(load_table(spark, sf_dir, "events")).orderBy("window_start")
    _run_to_memory(windowed_event_counts(_stream_events(spark, sf_dir)), "w_sink", "complete")
    streamed = spark.table("w_sink").orderBy("window_start")
    assert streamed.collect() == batch.collect()


def test_streaming_sliding_window_equals_batch(spark, sf_dir):
    # sliding 1h/30m: every event feeds 2 overlapping windows; the
    # incremental run must equal the batch plan exactly (q14's sliding arm)
    batch = windowed_event_counts(
        load_table(spark, sf_dir, "events"), slide="30 minutes"
    ).orderBy("window_start")
    _run_to_memory(
        windowed_event_counts(_stream_events(spark, sf_dir), slide="30 minutes"),
        "sw_sink",
        "complete",
    )
    streamed = spark.table("sw_sink").orderBy("window_start")
    assert streamed.collect() == batch.collect()


def test_streaming_dedup_equals_batch(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    expected = ev.select("event_id").distinct().count()
    _run_to_memory(
        dedup_within_watermark(_stream_events(spark, sf_dir)).select("event_id"),
        "d_sink",
        "append",
    )
    assert spark.table("d_sink").count() == expected


def test_stateful_sessionize_batch_equals_session_window(spark, sf_dir):
    """The custom stateful operator must agree with native session_window
    on session starts/counts (ends differ by the +gap padding)."""
    ev = load_table(spark, sf_dir, "events")
    native = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessionize(ev).collect()
    }
    custom = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessionize_stateful(ev).collect()
    }
    assert custom == native


def test_stateful_sessionize_streaming_emits_closed_sessions(spark, sf_dir):
    """Streaming mode: sessions closed by the advancing watermark are
    emitted exactly once and match the batch sessionization."""
    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessionize_stateful(load_table(spark, sf_dir, "events")).collect()
    }
    _run_to_memory(sessionize_stateful(_stream_events(spark, sf_dir)), "s_sink", "append")
    streamed = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.table("s_sink").collect()
    }
    assert streamed  # the no-data batch flushes watermark-expired state
    assert streamed.issubset(batch)


def test_watermark_drops_late_events(spark, tmp_path):
    # True multi-batch late-data semantics: batch 1 advances the
    # watermark past the 10:00 window; batch 2's late 10:05 event must
    # NOT reopen it (append mode emits each window exactly once, state
    # for closed windows is evicted).
    import json as _json
    import time as _time

    src = tmp_path / "late_src"
    src.mkdir()

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for ts, v in rows:
                f.write(_json.dumps({"ts": ts, "value": v}) + "\n")

    sink = tmp_path / "late_sink"
    ckpt = str(tmp_path / "late_ckpt")
    schema = "ts timestamp, value double"

    def run_once():
        stream = spark.readStream.schema(schema).json(str(src))
        out = windowed_event_counts(stream, window="1 hour", watermark="1 hour")
        q = (
            out.writeStream.format("json")
            .option("path", str(sink))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # run 1: watermark advances to 11:00 (persisted in the checkpoint)
    write_batch(
        "00.json",
        [("2024-01-01T10:00:00", 1.0), ("2024-01-01T10:30:00", 2.0),
         ("2024-01-01T12:00:00", 4.0)],
    )
    run_once()
    _time.sleep(0.05)
    # run 2: one LATE event (behind the restored watermark) + on-time
    write_batch(
        "01.json",
        [("2024-01-01T10:05:00", 100.0),  # LATE: must be dropped
         ("2024-01-01T14:00:00", 8.0)],
    )
    run_once()

    emitted = (
        spark.read.schema("window_start timestamp_ntz, cnt long, sum_value double")
        .json(str(sink))
        .collect()
    )
    rows = {str(r.window_start): (r.cnt, r.sum_value) for r in emitted if r.cnt}
    # the 10:00 window closed with ONLY run-1 rows; late 100.0 excluded
    assert rows.get("2024-01-01 10:00:00") == (2, 3.0), rows
    # 12:00 window finalized once the 14:00 event pushed the watermark
    assert rows.get("2024-01-01 12:00:00") == (1, 4.0), rows


def test_run_tag_uri_paths_are_cwd_independent():
    from lakeflush_spark.streaming.dedup import _run_tag

    # URI checkpoint locations must hash as-given: abspath() would
    # fold the driver's cwd into s3a:// paths, minting a NEW run tag
    # after a restart from a different workdir and breaking replay
    # exclusion against the store
    import os

    tag = _run_tag("s3a://bucket/ckpt")
    cwd = os.getcwd()
    os.chdir("/tmp")
    try:
        assert _run_tag("s3a://bucket/ckpt") == tag
    finally:
        os.chdir(cwd)
    # local scheme-less paths still normalize (relative == absolute)
    assert _run_tag("/tmp/x/ck") == _run_tag("/tmp/x/../x/ck")
    # tags are non-numeric BY CONSTRUCTION: a store whose run dirs are
    # all all-digit would make partition inference type `run` BIGINT,
    # breaking the next lettered tag's replay exclusion at analysis
    assert _run_tag("/tmp/x/ck").startswith("r")


def test_read_store_survives_all_digit_legacy_run_dirs(spark, tmp_path):
    # legacy stores (pre-'r'-prefix tags) can hold ONLY all-digit run
    # dirs (~1 in 280 checkpoints); inference then types `run` BIGINT
    # and comparing it against a lettered tag used to fail with
    # CAST_INVALID_INPUT at analysis — the flaky
    # test_semdedup_stream_incremental_against_history failure
    from lakeflush_spark.streaming.dedup import _read_store

    store = str(tmp_path / "store")
    legacy = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id bigint, payload string"
    ).withColumn("run", F.lit("123456789012")).withColumn("batch", F.lit(0))
    legacy.write.partitionBy("run", "batch").parquet(store)

    hist = _read_store(spark, store, batch_id=0, run="rdf65c8f40a95")
    # lettered tag matches nothing -> full legacy history visible,
    # with contract types regardless of what inference did
    assert hist.count() == 2
    assert dict(hist.dtypes)["run"] == "string"
    assert dict(hist.dtypes)["batch"] == "bigint"
    # replay exclusion still works against the legacy store's own tag
    assert _read_store(spark, store, batch_id=0, run="123456789012").count() == 0


def test_stream_dedup_digest_prefix_partitions(spark, tmp_path):
    """digest_prefix_partitions=True: the store gains _dp=xx digest-
    prefix partitions, cross-batch dedup still works through the
    pruned history read, and the dest corpus layout is unchanged."""
    import glob as _glob
    import shutil

    from lakeflush_spark.streaming.dedup import StreamDedupConfig, dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        digest_prefix_partitions=True,
    )

    def write_batchfile(name, rows):
        _add_parquet_file(spark, tmp_path, src, name, rows)

    write_batchfile("b1", [(1, "alpha"), (2, "beta")])
    dedup_stream(spark, cfg).awaitTermination(180)
    # the store is physically prefix-partitioned
    assert _glob.glob(str(tmp_path / "digests" / "run=*" / "batch=*" / "_dp=*"))

    # cross-batch dup must be dropped via the PRUNED history read
    write_batchfile("b2", [(10, "beta"), (11, "gamma")])
    dedup_stream(spark, cfg).awaitTermination(180)
    got = {r.doc_id: r.text for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1: "alpha", 2: "beta", 11: "gamma"}
    # prefixes in the store match the digests they shelter
    store = spark.read.option("basePath", cfg.digest_dir).parquet(cfg.digest_dir)
    bad = store.where(F.substring("_digest", 1, 2) != F.col("_dp")).count()
    assert bad == 0


def test_curate_stream_digest_prefix_partitions(spark, tmp_path):
    """curate_stream with digest_prefix_partitions: prefix-partitioned
    digest store + pruned history read, exact cross-batch dedup intact."""
    import glob as _glob
    import shutil

    from lakeflush_spark.streaming.curation import CurationStreamConfig, curate_stream

    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        digest_prefix_partitions=True,
    )

    def write_batchfile(name, rows):
        _add_parquet_file(spark, tmp_path, src, name, rows)

    d1 = "alpha beta gamma delta epsilon zeta eta theta"
    d2 = "one two three four five six seven eight nine"
    write_batchfile("b1", [(1, d1), (2, d2)])
    curate_stream(spark, cfg).awaitTermination(180)
    assert _glob.glob(str(tmp_path / "digests" / "run=*" / "batch=*" / "_dp=*"))

    # batch 2 repeats d2 exactly — must be dropped via the pruned read
    write_batchfile("b2", [(10, d2)])
    curate_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1, 2]
    stats = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()
    assert stats[-1].n_exact_dup == 1 and stats[-1].n_out == 0


def test_vacuum_runs_removes_only_superseded_generations(spark, tmp_path):
    from lakeflush_spark.streaming.dedup import list_runs, vacuum_runs

    store = str(tmp_path / "store")
    for run, batch, digest in [
        ("gen1", 0, "aa"), ("gen1", 1, "bb"), ("gen2", 0, "cc")
    ]:
        (
            spark.createDataFrame([(digest, run, batch)], "_digest string, run string, batch long")
            .write.mode("append").partitionBy("run", "batch").parquet(store)
        )
    assert list_runs(spark, store) == ["gen1", "gen2"]

    import pytest

    with pytest.raises(ValueError):
        vacuum_runs(spark, store, [])

    assert vacuum_runs(spark, store, ["gen2"]) == ["gen1"]
    assert list_runs(spark, store) == ["gen2"]
    left = spark.read.option("basePath", store).parquet(store).collect()
    assert [r._digest for r in left] == ["cc"]
    # idempotent
    assert vacuum_runs(spark, store, ["gen2"]) == []


def test_curate_stream_quality_gate_parity(spark, tmp_path):
    """Streaming quality gates match the batch CurationConfig surface:
    stopword-ratio ceiling and language allow-list act per batch."""
    from lakeflush_spark.streaming.curation import CurationStreamConfig, curate_stream

    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_tokens=3,
        max_stopword_ratio=0.5,
        allowed_langs=("en",),
    )

    rows = [
        (1, "the quick brown fox jumps over lazy dogs daily"),  # en, ok
        (2, "the a of and the a of and"),                        # stopword soup
        (3, "el rapido zorro marron salta sobre el perro"),      # not en
    ]
    _add_parquet_file(spark, tmp_path, src, "b1", rows)
    curate_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1]
    stats = spark.read.parquet(cfg.stats_dir).collect()[0]
    assert stats.n_in == 3 and stats.n_filtered == 2 and stats.n_out == 1


def test_semdedup_stream_incremental_against_history(spark, tmp_path):
    """Embedding-space dedup on arrival: a near-identical vector is
    dropped against a lower-id batchmate AND against history; the
    quantizer is trained once and reused; restart ingests nothing."""
    import random

    from lakeflush_spark.streaming.semdedup import (
        StreamSemDedupConfig,
        semdedup_stream,
    )

    rng = random.Random(41)

    def vec(seed=None, base=None):
        if base is not None:
            return [x + rng.uniform(-1e-5, 1e-5) for x in base]
        r = random.Random(seed)
        return [r.uniform(-1, 1) for _ in range(16)]

    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamSemDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        vec_dir=str(tmp_path / "vecs"),
        cent_dir=str(tmp_path / "cents"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.95,
        n_cells=4,
    )
    schema = "vec_id long, embedding array<double>"
    a, b, c = vec(seed=1), vec(seed=2), vec(seed=3)

    # batch 1: id 3 ~ id 1 (near-identical) -> min id 1 wins
    _add_parquet_file(spark, tmp_path, src, "b1",
                      [(1, a), (3, vec(base=a)), (2, b)], schema)
    semdedup_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.vec_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1, 2]

    # batch 2: id 10 ~ history id 2 -> dropped; id 11 is new
    _add_parquet_file(spark, tmp_path, src, "b2",
                      [(10, vec(base=b)), (11, c)], schema)
    semdedup_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.vec_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1, 2, 11]

    # centroids were written once (store-scoped, no run column — they
    # must survive checkpoint swaps so cell ids keep their meaning)
    cents = spark.read.parquet(cfg.cent_dir)
    assert "run" not in cents.columns
    assert cents.count() <= 4

    # restart with the same checkpoint: no change
    semdedup_stream(spark, cfg).awaitTermination(180)
    assert spark.read.parquet(cfg.dest_dir).count() == 3
    # vector store holds exactly the admitted vectors
    assert sorted(
        r.vid for r in spark.read.parquet(cfg.vec_dir).collect()
    ) == [1, 2, 11]

    # GENERATION SWAP: a fresh checkpoint over the SAME stores must
    # still drop near-dups of generation-1 history — the persisted
    # quantizer is store-scoped, so cell ids keep their meaning
    # (run-scoped centroids would retrain here and silently re-admit)
    import dataclasses

    cfg2 = dataclasses.replace(cfg, checkpoint_dir=str(tmp_path / "ckpt2"))
    _add_parquet_file(spark, tmp_path, src, "b3",
                      [(20, vec(base=c)), (21, vec(seed=9))], schema)
    semdedup_stream(spark, cfg2).awaitTermination(180)
    got = sorted(r.vec_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1, 2, 11, 21]  # 20 dropped against history id 11


def test_curate_stream_static_lm_gate(spark, tmp_path):
    """curate_stream with a PRE-TRAINED LM: in-domain docs pass, token
    soup falls below the absolute threshold; drops count as filtered."""
    from lakeflush_spark.operators.lm_filter import train_bigram_lm
    from lakeflush_spark.streaming.curation import CurationStreamConfig, curate_stream

    sent = "the cat sat on the mat and the dog sat on the rug near the door"
    ref = spark.createDataFrame(
        [(i, sent) for i in range(20)], "doc_id long, text string"
    )
    B = 1 << 16
    lm_dir = str(tmp_path / "lm")
    train_bigram_lm(ref, buckets=B).write.parquet(lm_dir)

    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        lm_dir=lm_dir,
        lm_min_logprob=-9.0,  # between in-domain (~-5.5) and floor (~-11)
        lm_buckets=B,
    )
    _add_parquet_file(spark, tmp_path, src, "b1", [
        (1, "the cat sat on the rug"),
        (2, "zq xv wk jj qqq lpx mnb"),
    ])
    curate_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1]
    stats = spark.read.parquet(cfg.stats_dir).collect()[0]
    # the audit distinguishes quality-gate drops from LM drops
    assert stats.n_filtered == 0 and stats.n_lm_filtered == 1
    assert stats.n_out == 1

    # both misconfiguration directions fail fast (before any persist)
    import dataclasses
    import pytest

    bad = dataclasses.replace(cfg, lm_min_logprob=None,
                              checkpoint_dir=str(tmp_path / "ckpt2"))
    with pytest.raises(ValueError, match="lm_min_logprob"):
        curate_stream(spark, bad)
    bad2 = dataclasses.replace(cfg, lm_dir=None,
                               checkpoint_dir=str(tmp_path / "ckpt3"))
    with pytest.raises(ValueError, match="lm_dir"):
        curate_stream(spark, bad2)


def test_semdedup_stream_quantized_store(spark, tmp_path):
    """quantize_store=True: the vector store carries int8 lanes (~4x
    smaller), and cross-batch semantic dedup still works through the
    dequantizing verify join."""
    import random

    from lakeflush_spark.streaming.semdedup import (
        StreamSemDedupConfig,
        semdedup_stream,
    )

    rng = random.Random(43)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    other = [rng.uniform(-1, 1) for _ in range(16)]
    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamSemDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        vec_dir=str(tmp_path / "vecs"),
        cent_dir=str(tmp_path / "cents"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.95,
        n_cells=2,
        quantize_store=True,
    )
    schema = "vec_id long, embedding array<double>"
    _add_parquet_file(spark, tmp_path, src, "b1", [(1, base), (2, other)], schema)
    semdedup_stream(spark, cfg).awaitTermination(180)
    store = spark.read.parquet(cfg.vec_dir)
    assert "qv" in store.columns and "v" not in store.columns
    assert store.schema["qv"].dataType.simpleString() == \
        "struct<scale:double,q:array<tinyint>>"

    # a near-copy of history id 1 must drop through the quantized read
    near = [x + rng.uniform(-1e-4, 1e-4) for x in base]
    _add_parquet_file(spark, tmp_path, src, "b2", [(10, near)], schema)
    semdedup_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.vec_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1, 2]


def test_semdedup_stream_refuses_flipped_quantize_store(spark, tmp_path):
    """r6 write-side layout guard: a generation running with a FLIPPED
    quantize_store against an existing store must fail BEFORE writing —
    the store keeps its single layout (no mixed qv/v partitions to
    manually rebuild)."""
    import dataclasses
    import random

    from lakeflush_spark.streaming.semdedup import (
        StreamSemDedupConfig,
        semdedup_stream,
    )

    rng = random.Random(7)
    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamSemDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        vec_dir=str(tmp_path / "vecs"),
        cent_dir=str(tmp_path / "cents"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.95,
        n_cells=2,
        quantize_store=True,
    )
    schema = "vec_id long, embedding array<double>"
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(3)]
    _add_parquet_file(spark, tmp_path, src, "b1", vecs, schema)
    semdedup_stream(spark, cfg).awaitTermination(180)
    assert "qv" in spark.read.parquet(cfg.vec_dir).columns

    flipped = dataclasses.replace(
        cfg, quantize_store=False, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    _add_parquet_file(
        spark, tmp_path, src, "b2",
        [(10, [rng.uniform(-1, 1) for _ in range(16)])], schema,
    )
    q = semdedup_stream(spark, flipped)
    with pytest.raises(Exception, match="quantize_store"):
        q.awaitTermination(180)
        raise AssertionError("stream should have failed")  # pragma: no cover
    store = spark.read.parquet(cfg.vec_dir)
    # the guard fired before any write: layout unchanged, no id-10 row
    assert "v" not in store.columns
    assert sorted(r.vid for r in store.collect()) == [0, 1, 2]


def test_curate_stream_releases_pinned_frames_on_bad_lm_dir(spark, tmp_path):
    """r6 (ADVICE): a bad lm_dir must not leak the already-persisted
    eval-gram frame for the session — setup unpins before re-raising."""
    from lakeflush_spark.streaming.curation import CurationStreamConfig, curate_stream

    src = tmp_path / "src"
    src.mkdir()
    _add_parquet_file(spark, tmp_path, src, "b1", [(1, "hello world")])
    spark.createDataFrame(
        [(100, "eval doc text here")], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "eval"))

    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        eval_dir=str(tmp_path / "eval"),
        lm_dir=str(tmp_path / "no_such_lm"),
        lm_min_logprob=-10.0,
    )
    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    with pytest.raises(Exception):
        curate_stream(spark, cfg)
    n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n_after == n_before


def test_curate_stream_hot_bucket_cap_in_stats(spark, tmp_path):
    """r6: the per-batch audit row carries the hot-bucket cap's recall
    trade (n_hot_buckets / n_hot_rows_trimmed); NULL when uncapped."""
    from lakeflush_spark.streaming.curation import CurationStreamConfig, curate_stream

    common = "the quick brown fox jumps over the lazy dog again and again today"
    src = tmp_path / "src"
    src.mkdir()
    rows = [(i, f"{common} tail{i}") for i in range(20)]
    _add_parquet_file(spark, tmp_path, src, "b1", rows)
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        near_dup_threshold=0.95,
        near_dup_max_bucket=2,
        near_dup_hot_bucket_mode="sample",
    )
    curate_stream(spark, cfg).awaitTermination(180)
    row = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()[-1]
    assert row.n_hot_buckets > 0 and row.n_hot_rows_trimmed > 0

    # uncapped stream: columns present but NULL
    cfg2 = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest2"),
        digest_dir=str(tmp_path / "digests2"),
        sig_dir=str(tmp_path / "sigs2"),
        stats_dir=str(tmp_path / "stats2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    curate_stream(spark, cfg2).awaitTermination(180)
    row2 = spark.read.parquet(cfg2.stats_dir).collect()[0]
    assert row2.n_hot_buckets is None and row2.n_hot_rows_trimmed is None


def test_semdedup_stream_cell_partitioned_store(spark, tmp_path):
    """r6: cell_partitions=True lays the store out as
    run/batch/_cp=<cell_id%256> so history pruning is partition
    elimination; cross-batch dedup still works, and a flipped layout
    config fails fast."""
    import dataclasses
    import os as _os
    import random

    from lakeflush_spark.streaming.semdedup import (
        StreamSemDedupConfig,
        semdedup_stream,
    )

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    other = [rng.uniform(-1, 1) for _ in range(16)]
    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamSemDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        vec_dir=str(tmp_path / "vecs"),
        cent_dir=str(tmp_path / "cents"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.95,
        n_cells=2,
        cell_partitions=True,
    )
    schema = "vec_id long, embedding array<double>"
    _add_parquet_file(spark, tmp_path, src, "b1", [(1, base), (2, other)], schema)
    semdedup_stream(spark, cfg).awaitTermination(180)
    # layout: run=.../batch=.../_cp=N directories
    run_dir = next(p for p in _os.listdir(cfg.vec_dir) if p.startswith("run="))
    batch_dir = next(
        p
        for p in _os.listdir(_os.path.join(cfg.vec_dir, run_dir))
        if p.startswith("batch=")
    )
    leaves = _os.listdir(_os.path.join(cfg.vec_dir, run_dir, batch_dir))
    assert any(p.startswith("_cp=") for p in leaves)

    # a later batch still drops the near-copy of admitted history
    near = [x + rng.uniform(-1e-4, 1e-4) for x in base]
    _add_parquet_file(spark, tmp_path, src, "b2", [(10, near)], schema)
    semdedup_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.vec_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1, 2]

    # layout guard: a flat-config generation against this store refuses
    flat = dataclasses.replace(
        cfg, cell_partitions=False, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    _add_parquet_file(
        spark, tmp_path, src, "b3",
        [(20, [rng.uniform(-1, 1) for _ in range(16)])], schema,
    )
    q = semdedup_stream(spark, flat)
    with pytest.raises(Exception, match="cell_partitions"):
        q.awaitTermination(180)
        raise AssertionError("stream should have failed")  # pragma: no cover


def test_semdedup_stream_two_level_assignment(spark, tmp_path):
    """r6: assign_coarse_cells runs the stream's assignment through
    the bounded two-level scan; cross-batch dedup still works."""
    import random

    from lakeflush_spark.streaming.semdedup import (
        StreamSemDedupConfig,
        semdedup_stream,
    )

    rng = random.Random(23)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(8)]
    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamSemDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        vec_dir=str(tmp_path / "vecs"),
        cent_dir=str(tmp_path / "cents"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.95,
        n_cells=4,
        assign_coarse_cells=2,
    )
    schema = "vec_id long, embedding array<double>"
    _add_parquet_file(
        spark, tmp_path, src, "b1", [(i, v) for i, v in enumerate(vecs)], schema
    )
    semdedup_stream(spark, cfg).awaitTermination(180)
    # exact copy of admitted id 3 arrives later: dropped via history
    _add_parquet_file(spark, tmp_path, src, "b2", [(30, list(vecs[3]))], schema)
    semdedup_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.vec_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == list(range(8))


def test_curate_stream_semantic_stage(spark, tmp_path):
    """r7: the semantic (SemDedup) stage composed into curate_stream —
    batch-pipeline stage order (after LSH, before decontam), vector
    store holding ONLY admitted docs, n_sem_dup in the stats row,
    cross-batch history hits, and store reuse across a checkpoint
    swap."""
    import random

    from lakeflush_spark.streaming.curation import (
        CurationStreamConfig,
        curate_stream,
    )

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    other = [rng.uniform(-1, 1) for _ in range(16)]
    third = [rng.uniform(-1, 1) for _ in range(16)]
    fresh = [rng.uniform(-1, 1) for _ in range(16)]

    def near(v):
        return [x + rng.uniform(-1e-4, 1e-4) for x in v]

    t = {
        "a": "completely different subject matter entirely unrelated words "
             "describing machine learning pipelines and query engines",
        "b": "yet another standalone document about parquet compaction "
             "strategies for petabyte scale object storage lakes",
        "c": "seven wizards brew strong coffee beside an ancient river "
             "under pale morning light near the harbor",
        "d": "observability dashboards aggregate latency percentiles from "
             "distributed tracing spans collected across many services",
        "e": "container schedulers pack heterogeneous workloads onto "
             "cluster nodes respecting memory and accelerator limits",
        "f": "columnar encodings exploit run length and dictionary "
             "compression to shrink analytical scan footprints",
    }
    leak = (
        "which ancient empire built the longest continuous defensive wall "
        "across northern mountain ranges over many centuries of labor"
    )
    eval_dir = tmp_path / "eval"
    spark.createDataFrame([(1000, leak)], "doc_id long, text string").write.parquet(
        str(eval_dir)
    )

    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id long, text string, embedding array<double>"
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_tokens=5,
        eval_dir=str(eval_dir),
        embedding_col="embedding",
        sem_threshold=0.95,
        sem_n_cells=2,
        sem_vec_dir=str(tmp_path / "semvecs"),
        sem_cent_dir=str(tmp_path / "semcents"),
    )

    # batch 1: 1=keeper; 2=lexically distinct but embedding-near-dup of
    # 1 (semantic drop); 3=keeper; 4=eval leak with its own embedding
    # (decontam drop -> must NOT enter the vector store)
    _add_parquet_file(
        spark, tmp_path, src, "b1",
        [
            (1, t["a"], base),
            (2, t["b"], near(base)),
            (3, t["c"], other),
            (4, leak, third),
        ],
        schema,
    )
    curate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1, 3}
    row = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()[-1]
    assert (
        row.n_in, row.n_exact_dup, row.n_near_dup,
        row.n_sem_dup, row.n_contaminated, row.n_out,
    ) == (4, 0, 0, 1, 1, 2)
    assert {r.vid for r in spark.read.parquet(cfg.sem_vec_dir).collect()} == {1, 3}

    # batch 2: 10=embedding-near-dup of HISTORY doc 1 (store hit);
    # 11=near doc 4's embedding — 4 was contaminated and never
    # admitted, so 11 must be KEPT; 12=new keeper
    _add_parquet_file(
        spark, tmp_path, src, "b2",
        [
            (10, t["d"], near(base)),
            (11, t["e"], near(third)),
            (12, t["f"], fresh),
        ],
        schema,
    )
    curate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1, 3, 11, 12}
    row = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()[-1]
    assert (row.n_in, row.n_sem_dup, row.n_contaminated, row.n_out) == (3, 1, 0, 2)
    assert {r.vid for r in spark.read.parquet(cfg.sem_vec_dir).collect()} == {
        1, 3, 11, 12,
    }

    # checkpointed restart, no new input: nothing changes
    curate_stream(spark, cfg).awaitTermination(240)
    assert spark.read.parquet(cfg.dest_dir).count() == 4

    # checkpoint SWAP reusing the same stores (new generation): the
    # store-scoped centroid sidecar keeps cell ids meaningful, so a
    # near-dup of week-old history is still dropped
    import dataclasses

    cfg2 = dataclasses.replace(cfg, checkpoint_dir=str(tmp_path / "ckpt2"))
    _add_parquet_file(
        spark, tmp_path, src, "b3",
        [(20, "fresh prose about tidal energy turbines anchored in "
              "estuaries generating renewable baseload power", near(base))],
        schema,
    )
    curate_stream(spark, cfg2).awaitTermination(240)
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(cfg.dest_dir).collect()
    )
    # gen2 replays every file: the admitted docs fall to exact-dedup
    # against the digest store, and 20 falls to the VECTOR store —
    # cross-generation semantic history works, nothing re-enters
    assert sorted(set(ids)) == [1, 3, 11, 12]


def test_curate_stream_semantic_config_validation(spark, tmp_path):
    """embedding_col and the sem store dirs must be set together."""
    from lakeflush_spark.streaming.curation import (
        CurationStreamConfig,
        curate_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    common = dict(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(ValueError, match="sem_vec_dir"):
        curate_stream(
            spark, CurationStreamConfig(embedding_col="embedding", **common)
        )
    with pytest.raises(ValueError, match="embedding_col"):
        curate_stream(
            spark,
            CurationStreamConfig(sem_vec_dir=str(tmp_path / "v"), **common),
        )


def test_semdedup_stream_cell_sizing_and_occupancy_guard(spark, tmp_path):
    """r7 (VERDICT #8): expected_corpus derives training n_cells
    (corpus/target_cell_rows, static n_cells as floor); the occupancy
    guard warns once mean rows-per-cell crosses the documented
    threshold — the measured verify-join knob turned into behavior."""
    import random
    import warnings as _warnings

    from lakeflush_spark.streaming.semdedup import (
        StreamSemDedupConfig,
        _warn_if_cells_overfull,
        semdedup_stream,
    )

    rng = random.Random(41)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(12)]
    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamSemDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        vec_dir=str(tmp_path / "vecs"),
        cent_dir=str(tmp_path / "cents"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.99,
        n_cells=2,
        expected_corpus=8000,
        target_cell_rows=1000,  # -> ceil(8000/1000) = 8 cells
    )
    schema = "vec_id long, embedding array<double>"
    _add_parquet_file(
        spark, tmp_path, src, "b1", [(i, v) for i, v in enumerate(vecs)], schema
    )
    semdedup_stream(spark, cfg).awaitTermination(180)
    cents = spark.read.parquet(cfg.cent_dir)
    assert cents.count() == 8  # sized by the rule, not the static floor

    # occupancy guard: 12 stored vectors over 8 cells, warn limit
    # forced to 1 row/cell -> warns with the rebuild pointer
    import dataclasses

    tight = dataclasses.replace(cfg, target_cell_rows=1, occupancy_warn_factor=1.0)
    with _warnings.catch_warnings(record=True) as got:
        _warnings.simplefilter("always")
        _warn_if_cells_overfull(spark, tight, cents)
    assert any("retrain_quantizer" in str(w.message) for w in got)
    # healthy store: silent
    with _warnings.catch_warnings(record=True) as got:
        _warnings.simplefilter("always")
        _warn_if_cells_overfull(spark, cfg, cents)
    assert not got
    # missing store: silent (first batches)
    gone = dataclasses.replace(cfg, vec_dir=str(tmp_path / "nope"))
    with _warnings.catch_warnings(record=True) as got:
        _warnings.simplefilter("always")
        _warn_if_cells_overfull(spark, gone, cents)
    assert not got


def test_curate_stream_semantic_cell_sizing(spark, tmp_path):
    """The curation semantic stage honors the sem_expected_corpus
    sizing rule when training its quantizer."""
    import random

    from lakeflush_spark.streaming.curation import (
        CurationStreamConfig,
        curate_stream,
    )

    rng = random.Random(5)
    rows = [
        (
            i,
            f"document number {i} about topic {i % 7} with sufficiently "
            f"many distinct tokens to clear gates {i * 13} {i * 29}",
            [rng.uniform(-1, 1) for _ in range(8)],
        )
        for i in range(10)
    ]
    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        embedding_col="embedding",
        sem_vec_dir=str(tmp_path / "semvecs"),
        sem_cent_dir=str(tmp_path / "semcents"),
        sem_n_cells=2,
        sem_expected_corpus=6000,
        sem_target_cell_rows=1000,  # -> 6 cells
    )
    _add_parquet_file(
        spark, tmp_path, src, "b1", rows,
        "doc_id long, text string, embedding array<double>",
    )
    curate_stream(spark, cfg).awaitTermination(240)
    assert spark.read.parquet(cfg.sem_cent_dir).count() == 6


def test_compact_vec_store_bounds_cells_and_preserves_detection(spark, tmp_path):
    """r7: offline vector-store compaction caps every IVF cell with
    the online cap's deterministic ranking, keeps the (run, batch)
    layout, and a continuing stream pointed at the compacted copy
    still drops near-dups of RETAINED history."""
    import dataclasses
    import random

    from lakeflush_spark.streaming.semdedup import (
        StreamSemDedupConfig,
        compact_vec_store,
        semdedup_stream,
    )

    rng = random.Random(17)
    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamSemDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        vec_dir=str(tmp_path / "vecs"),
        cent_dir=str(tmp_path / "cents"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.95,
        n_cells=2,
    )
    schema = "vec_id long, embedding array<double>"
    vecs = [[rng.uniform(-1, 1) for _ in range(12)] for _ in range(10)]
    _add_parquet_file(
        spark, tmp_path, src, "b1", [(i, v) for i, v in enumerate(vecs)], schema
    )
    semdedup_stream(spark, cfg).awaitTermination(180)
    store = spark.read.parquet(cfg.vec_dir)
    assert store.count() == 10

    compacted_dir = str(tmp_path / "vecs_compact")
    compact_vec_store(spark, cfg.vec_dir, compacted_dir, max_cell=3)
    comp = spark.read.parquet(compacted_dir)
    per_cell = {r.cell_id: r["count"] for r in comp.groupBy("cell_id").count().collect()}
    assert per_cell and all(n <= 3 for n in per_cell.values())
    # retained rows are a SUBSET of the store (representatives, not rewrites)
    assert comp.select("vid").exceptAll(store.select("vid")).count() == 0
    # layout preserved: run/batch partition columns still present
    assert {"run", "batch"} <= set(comp.columns)

    # continuing stream against the compacted copy: a near-copy of a
    # RETAINED vector is still dropped
    keep_vid = sorted(r.vid for r in comp.collect())[0]
    near = [x + rng.uniform(-1e-4, 1e-4) for x in vecs[keep_vid]]
    cfg2 = dataclasses.replace(cfg, vec_dir=compacted_dir)
    _add_parquet_file(spark, tmp_path, src, "b2", [(50, near)], schema)
    semdedup_stream(spark, cfg2).awaitTermination(180)
    got = {r.vec_id for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert 50 not in got

    # dest-exists refusal: never compact onto a live store
    with pytest.raises(Exception):
        compact_vec_store(spark, cfg.vec_dir, compacted_dir, max_cell=3)


def test_boilerplate_stream_strips_on_arrival(spark, tmp_path):
    """r7: the fourth dedup-on-arrival modality — repeated passages
    strip prospectively once the fp store's occurrence count crosses
    min_docs: within-batch, against history, across a checkpointed
    restart; unique text untouched; docs never dropped."""
    from lakeflush_spark.streaming.substring import (
        StreamBoilerplateConfig,
        boilerplate_stream,
    )

    boiler = " ".join(f"lic{i}" for i in range(12))  # 12-token license block
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(20))  # noqa: E731

    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamBoilerplateConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        fp_dir=str(tmp_path / "fps"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        window=8,
        stride=1,  # anchor everywhere: deterministic full coverage
        min_docs=2,
    )

    # batch 1: docs 1+2 share the block (hot within batch -> both
    # stripped); doc 3 unique
    _add_parquet_file(
        spark, tmp_path, src, "b1",
        [
            (1, f"{uniq('a')} {boiler}"),
            (2, f"{boiler} {uniq('b')}"),
            (3, uniq("c")),
        ],
    )
    boilerplate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id: (r.text, r.n_stripped) for r in
           spark.read.parquet(cfg.dest_dir).collect()}
    assert got[3] == (uniq("c"), 0)
    assert got[1][1] == 12 and got[2][1] == 12  # whole block stripped
    assert "lic0" not in got[1][0] and "lic11" not in got[2][0]
    assert got[1][0].startswith("a0") and got[2][0].endswith("b19")

    # batch 2: a NEW doc with the block — stripped purely via history
    _add_parquet_file(
        spark, tmp_path, src, "b2", [(10, f"{uniq('d')} {boiler} {uniq('e')}")]
    )
    boilerplate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id: (r.text, r.n_stripped) for r in
           spark.read.parquet(cfg.dest_dir).collect()}
    assert got[10][1] == 12 and "lic5" not in got[10][0]
    assert "d19" in got[10][0] and "e0" in got[10][0]  # unique halves kept

    # checkpointed restart, no new input: nothing changes
    boilerplate_stream(spark, cfg).awaitTermination(240)
    assert spark.read.parquet(cfg.dest_dir).count() == 4


def test_boilerplate_stream_threshold_is_prospective(spark, tmp_path):
    """min_docs=3 across single-doc batches: copies 1 and 2 keep the
    passage (under threshold at their arrival), copy 3 arrives once
    the store says 2 and is stripped — the documented prospective
    semantics."""
    from lakeflush_spark.streaming.substring import (
        StreamBoilerplateConfig,
        boilerplate_stream,
    )

    boiler = " ".join(f"tmpl{i}" for i in range(10))
    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamBoilerplateConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        fp_dir=str(tmp_path / "fps"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        window=6,
        stride=1,
        min_docs=3,
    )
    for i, name in ((1, "b1"), (2, "b2"), (3, "b3")):
        # fully distinct preambles: any shared window must lie inside
        # the planted block, so n_stripped counts exactly its tokens
        _add_parquet_file(
            spark, tmp_path, src, name,
            [(i, f"pre{i}a pre{i}b pre{i}c pre{i}d pre{i}e pre{i}f {boiler}")],
        )
        boilerplate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id: r.n_stripped for r in
           spark.read.parquet(cfg.dest_dir).collect()}
    assert got[1] == 0 and got[2] == 0 and got[3] == 10


def test_curate_stream_boilerplate_stage(spark, tmp_path):
    """r7: the repeated-passage stage composed into curate_stream —
    strip mode rewrites (n_stripped in the dest, n_boilerplate counts
    rewritten docs), cross-batch history hits via the fp store, batch
    stage order (decontam sees post-strip text), and drop mode removes
    docs with the count feeding n_contaminated's residual."""
    import dataclasses

    from lakeflush_spark.streaming.curation import (
        CurationStreamConfig,
        curate_stream,
    )

    boiler = " ".join(f"lic{i}" for i in range(10))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(15))  # noqa: E731
    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        bp_window=6,
        bp_stride=1,
        bp_min_docs=2,
        bp_fp_dir=str(tmp_path / "fps"),
    )

    # batch 1: docs 1+2 share the block (hot within batch -> both
    # stripped, both still admitted); doc 3 unique
    _add_parquet_file(
        spark, tmp_path, src, "b1",
        [
            (1, f"{uniq('a')} {boiler}"),
            (2, f"{boiler} {uniq('b')}"),
            (3, uniq("c")),
        ],
    )
    curate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id: (r.text, r.n_stripped) for r in
           spark.read.parquet(cfg.dest_dir).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1][1] == 10 and got[2][1] == 10 and got[3][1] == 0
    assert "lic0" not in got[1][0]
    row = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()[-1]
    assert (row.n_in, row.n_boilerplate, row.n_contaminated, row.n_out) == (
        3, 2, 0, 3,
    )

    # batch 2: a new doc with the block strips against HISTORY
    _add_parquet_file(
        spark, tmp_path, src, "b2", [(10, f"{uniq('d')} {boiler}")]
    )
    curate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id: r.n_stripped for r in
           spark.read.parquet(cfg.dest_dir).collect()}
    assert got[10] == 10

    # drop mode on fresh stores: second doc with the block is REMOVED
    cfg2 = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest2"),
        digest_dir=str(tmp_path / "digests2"),
        sig_dir=str(tmp_path / "sigs2"),
        stats_dir=str(tmp_path / "stats2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        bp_window=6,
        bp_stride=1,
        bp_min_docs=2,
        bp_action="drop",
        bp_fp_dir=str(tmp_path / "fps2"),
    )
    curate_stream(spark, cfg2).awaitTermination(240)
    got = {r.doc_id for r in spark.read.parquet(cfg2.dest_dir).collect()}
    # all four source docs replay in one batch: 1+2+10 carry the block
    # (hot at 3 occurrences) and drop; 3 survives; no n_stripped column
    assert got == {3}
    row = spark.read.parquet(cfg2.stats_dir).collect()[0]
    assert row.n_boilerplate == 3 and row.n_contaminated == 0
    assert "n_stripped" not in spark.read.parquet(cfg2.dest_dir).columns

    # validation
    with pytest.raises(ValueError, match="bp_fp_dir"):
        curate_stream(
            spark,
            dataclasses.replace(cfg, bp_fp_dir=None,
                                checkpoint_dir=str(tmp_path / "ckpt3")),
        )
    with pytest.raises(ValueError, match="bp_action"):
        curate_stream(
            spark,
            dataclasses.replace(cfg, bp_action="mangle",
                                checkpoint_dir=str(tmp_path / "ckpt4")),
        )


def test_boilerplate_stream_fp_prefix_partitions(spark, tmp_path):
    """r9 (wiring the r8 kit): fp_prefix_partitions=True gives the fp
    store _fp=xx fingerprint-prefix partitions, cross-batch strips
    still hit via the PRUNED history read, prefixes match their
    fingerprints, and flipping the knob against the on-disk layout
    fails fast instead of silently mis-reading."""
    import glob as _glob

    from lakeflush_spark.streaming.substring import (
        StreamBoilerplateConfig,
        boilerplate_stream,
    )

    boiler = " ".join(f"lic{i}" for i in range(10))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(15))  # noqa: E731
    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamBoilerplateConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        fp_dir=str(tmp_path / "fps"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        window=6,
        stride=1,
        min_docs=2,
        fp_prefix_partitions=True,
    )
    _add_parquet_file(
        spark, tmp_path, src, "b1", [(1, f"{uniq('a')} {boiler}")]
    )
    boilerplate_stream(spark, cfg).awaitTermination(240)
    # the store is physically prefix-partitioned
    assert _glob.glob(str(tmp_path / "fps" / "run=*" / "batch=*" / "_fp=*"))
    store = spark.read.option("basePath", cfg.fp_dir).parquet(cfg.fp_dir)
    assert store.where(F.substring("fp", 1, 2) != F.col("_fp")).count() == 0

    # batch 2 repeats the block — must strip via the PRUNED history read
    _add_parquet_file(
        spark, tmp_path, src, "b2", [(10, f"{boiler} {uniq('b')}")]
    )
    boilerplate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id: r.n_stripped for r in
           spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1: 0, 10: 10}

    # layout fail-fast: flipping the knob against this store must raise
    # (inside foreachBatch -> surfaces as StreamingQueryException)
    import dataclasses

    flat_cfg = dataclasses.replace(
        cfg, fp_prefix_partitions=False,
        checkpoint_dir=str(tmp_path / "ckpt_flip"),
        dest_dir=str(tmp_path / "dest_flip"),
    )
    _add_parquet_file(
        spark, tmp_path, src, "b3", [(20, uniq("c"))]
    )
    with pytest.raises(Exception, match="fp_prefix_partitions"):
        boilerplate_stream(spark, flat_cfg).awaitTermination(240)


def test_boilerplate_fp_history_scan_is_partition_pruned(spark, tmp_path):
    """The _dp-pattern partition-elimination proof for the fp store:
    a prefix-partitioned history read scans ONLY the _fp=xx
    directories the probing batch touches (PartitionFilters in the
    scan plan / pruned input files), not the whole store."""
    from lakeflush_spark.streaming.substring import pruned_fp_history

    # a synthetic 2-batch store with two distinct prefixes
    store_dir = str(tmp_path / "fps")
    rows = [("aa" + "0" * 30, 1), ("bb" + "1" * 30, 1)]
    df = spark.createDataFrame(rows, "fp string, n long")
    (
        df.withColumn("run", F.lit("r1"))
        .withColumn("batch", F.lit(0))
        .withColumn("_fp", F.substring("fp", 1, 2))
        .write.partitionBy("run", "batch", "_fp")
        .parquet(store_dir)
    )
    hist = spark.read.option("basePath", store_dir).parquet(store_dir)
    batch_counts = spark.createDataFrame(
        [("aa" + "f" * 30, 1)], "fp string, n long"
    )
    pruned = pruned_fp_history(
        hist, batch_counts, fp_dir=store_dir, fp_prefix_partitions=True
    )
    # the prefix prune reaches the scan as a PARTITION filter (directory
    # elimination), not a post-scan row filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    import re as _re

    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf is not None and "_fp" in pf.group(1) and "aa" in pf.group(1)
    # and the history count math still works through the prune
    assert pruned.count() == 0  # aa-prefix store fp differs from batch fp

    # a store fp sharing the batch prefix IS visible through the prune
    batch_hit = spark.createDataFrame([(rows[0][0], 1)], "fp string, n long")
    hit = pruned_fp_history(
        hist, batch_hit, fp_dir=store_dir, fp_prefix_partitions=True
    ).collect()
    assert [(r.fp, r._hn) for r in hit] == [(rows[0][0], 1)]

    # layout fail-fast both directions
    with pytest.raises(ValueError, match="flat"):
        pruned_fp_history(
            hist.drop("_fp"), batch_counts,
            fp_dir=store_dir, fp_prefix_partitions=True,
        )
    with pytest.raises(ValueError, match="prefix-partitioned"):
        pruned_fp_history(
            hist, batch_counts,
            fp_dir=store_dir, fp_prefix_partitions=False,
        )


def test_compact_fp_store(spark, tmp_path):
    """compact_fp_store: per-batch occurrence rows merge losslessly to
    one row per (run, fp) under batch=-1, the highest batch stays
    VERBATIM (replay safety), re-compaction is idempotent, the _fp
    layout survives, and a live dest is refused."""
    from lakeflush_spark.streaming.substring import compact_fp_store

    store = str(tmp_path / "fps")
    fp_a, fp_b = "aa" + "0" * 30, "bb" + "1" * 30
    for batch, rows in enumerate(
        [[(fp_a, 2)], [(fp_a, 1), (fp_b, 3)], [(fp_b, 1)]]
    ):
        (
            spark.createDataFrame(rows, "fp string, n long")
            .withColumn("run", F.lit("r1"))
            .withColumn("batch", F.lit(batch))
            .withColumn("_fp", F.substring("fp", 1, 2))
            .write.mode("append")
            .partitionBy("run", "batch", "_fp")
            .parquet(store)
        )

    def totals(d):
        return {
            r.fp: r.t
            for r in spark.read.option("basePath", d).parquet(d)
            .groupBy("fp").agg(F.sum("n").alias("t")).collect()
        }

    before = totals(store)
    c1 = str(tmp_path / "fps_c1")
    compact_fp_store(spark, store, c1)
    assert totals(c1) == before  # lossless merge
    got = spark.read.option("basePath", c1).parquet(c1)
    # committed history merged under batch=-1; highest batch verbatim
    assert {r.batch for r in got.select("batch").distinct().collect()} == {-1, 2}
    verbatim = got.where(F.col("batch") == 2).collect()
    assert [(r.fp, r.n) for r in verbatim] == [(fp_b, 1)]
    # _fp layout preserved for merged rows too
    import glob as _glob

    assert _glob.glob(str(tmp_path / "fps_c1" / "run=*" / "batch=-1" / "_fp=*"))
    assert got.where(F.substring("fp", 1, 2) != F.col("_fp")).count() == 0

    # idempotent: compacting the compacted copy changes nothing
    c2 = str(tmp_path / "fps_c2")
    compact_fp_store(spark, c1, c2)
    assert totals(c2) == before
    got2 = spark.read.option("basePath", c2).parquet(c2)
    assert {r.batch for r in got2.select("batch").distinct().collect()} == {-1, 2}

    # never compact onto a live store
    with pytest.raises(Exception):
        compact_fp_store(spark, store, c1)


def test_curate_stream_bp_fp_prefix_partitions(spark, tmp_path):
    """curate_stream honoring bp_fp_prefix_partitions end-to-end: the
    fp store is prefix-partitioned, cross-batch strip hits through
    the pruned read, and prefixes match their fingerprints."""
    import glob as _glob

    from lakeflush_spark.streaming.curation import (
        CurationStreamConfig,
        curate_stream,
    )

    boiler = " ".join(f"lic{i}" for i in range(10))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(15))  # noqa: E731
    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        bp_window=6,
        bp_stride=1,
        bp_min_docs=2,
        bp_fp_dir=str(tmp_path / "fps"),
        bp_fp_prefix_partitions=True,
    )
    _add_parquet_file(
        spark, tmp_path, src, "b1", [(1, f"{uniq('a')} {boiler}")]
    )
    curate_stream(spark, cfg).awaitTermination(240)
    assert _glob.glob(str(tmp_path / "fps" / "run=*" / "batch=*" / "_fp=*"))
    store = spark.read.option("basePath", cfg.bp_fp_dir).parquet(cfg.bp_fp_dir)
    assert store.where(F.substring("fp", 1, 2) != F.col("_fp")).count() == 0

    _add_parquet_file(
        spark, tmp_path, src, "b2", [(10, f"{boiler} {uniq('b')}")]
    )
    curate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id: r.n_stripped for r in
           spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1: 0, 10: 10}


def test_curate_stream_bp_store_counts_admitted_docs_only(spark, tmp_path):
    """r9 semantics fix: a CONTAMINATED doc's passages must not advance
    the boilerplate threshold for clean future arrivals — the
    persisted fp store counts only ADMITTED docs' pre-strip passages.
    Planted: batch 1's only doc shares the block AND hits the eval
    set (dropped by decontam); batch 2's clean doc with the block
    must arrive at history=0 and keep it; batch 3's clean doc then
    arrives at history=1 (batch 2's admitted copy) and strips."""
    from lakeflush_spark.streaming.curation import (
        CurationStreamConfig,
        curate_stream,
    )

    boiler = " ".join(f"lic{i}" for i in range(10))
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(15))  # noqa: E731
    # a 13+-token eval sentence (DECONTAM_N=13) planted in doc 100 only
    eval_sent = " ".join(f"evaltok{i}" for i in range(16))
    eval_dir = tmp_path / "eval"
    spark.createDataFrame(
        [(9000, eval_sent)], "doc_id long, text string"
    ).write.parquet(str(eval_dir))

    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        bp_window=6,
        bp_stride=1,
        bp_min_docs=2,
        bp_fp_dir=str(tmp_path / "fps"),
        eval_dir=str(eval_dir),
    )
    # batch 1: contaminated doc carrying the block — dropped by
    # decontam; its passages must NOT persist
    _add_parquet_file(
        spark, tmp_path, src, "b1", [(100, f"{eval_sent} {boiler}")]
    )
    curate_stream(spark, cfg).awaitTermination(240)

    def count_or_zero(d):
        # an all-dropped batch writes no parquet files at all
        try:
            return spark.read.option("basePath", d).parquet(d).count()
        except AnalysisException:
            return 0

    assert count_or_zero(cfg.dest_dir) == 0
    row = spark.read.parquet(cfg.stats_dir).collect()[0]
    assert row.n_contaminated == 1 and row.n_out == 0
    # the store recorded nothing for the dropped doc
    assert count_or_zero(cfg.bp_fp_dir) == 0

    # batch 2: CLEAN doc with the block — history must say 0, keep it
    _add_parquet_file(
        spark, tmp_path, src, "b2", [(1, f"{uniq('a')} {boiler}")]
    )
    curate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id: r.n_stripped for r in
           spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1: 0}

    # batch 3: second clean copy — now history=1 (+1 batch) => strips
    _add_parquet_file(
        spark, tmp_path, src, "b3", [(2, f"{boiler} {uniq('b')}")]
    )
    curate_stream(spark, cfg).awaitTermination(240)
    got = {r.doc_id: r.n_stripped for r in
           spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1: 0, 2: 10}


def test_retrain_quantizer_migrates_outgrown_store(spark, tmp_path):
    """r9: the occupancy guard's named remedy exists and works — a
    warned store migrates through retrain_quantizer (new cell count
    derived from the store size, layout knobs preserved verbatim,
    row-for-row content), and cross-batch dedup CONTINUES against the
    full migrated history after the config pair-swap."""
    import dataclasses
    import random

    from lakeflush_spark.streaming.semdedup import (
        StreamSemDedupConfig,
        retrain_quantizer,
        semdedup_stream,
    )

    rng = random.Random(47)

    def vec(seed=None, base=None):
        if base is not None:
            return [x + rng.uniform(-1e-5, 1e-5) for x in base]
        r = random.Random(seed)
        return [r.uniform(-1, 1) for _ in range(16)]

    src = tmp_path / "src"
    src.mkdir()
    cfg = StreamSemDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        vec_dir=str(tmp_path / "vecs"),
        cent_dir=str(tmp_path / "cents"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.95,
        n_cells=2,
        quantize_store=True,
        cell_partitions=True,
        occupancy_check_batches=1,
        occupancy_warn_factor=1.0,
        target_cell_rows=1,
    )
    schema = "vec_id long, embedding array<double>"
    vs = {i: vec(seed=i) for i in range(1, 7)}
    _add_parquet_file(spark, tmp_path, src, "b1",
                      [(i, vs[i]) for i in (1, 2, 3)], schema)
    semdedup_stream(spark, cfg).awaitTermination(180)
    # the store has outgrown its 2-cell quantizer: the guard WARNS and
    # names retrain_quantizer as the remedy
    _add_parquet_file(spark, tmp_path, src, "b2",
                      [(i, vs[i]) for i in (4, 5, 6)], schema)
    with pytest.warns(RuntimeWarning, match="retrain_quantizer"):
        semdedup_stream(spark, cfg).awaitTermination(180)

    new_vec = str(tmp_path / "vecs2")
    new_cent = str(tmp_path / "cents2")
    n_new = retrain_quantizer(
        spark, cfg.vec_dir, cfg.cent_dir, new_vec, new_cent,
        target_cell_rows=1,
    )
    assert n_new >= 6  # derived from store size, not the old 2
    assert spark.read.parquet(new_cent).count() == n_new
    old = spark.read.option("basePath", cfg.vec_dir).parquet(cfg.vec_dir)
    new = spark.read.option("basePath", new_vec).parquet(new_vec)
    # layout knobs preserved: int8 lanes, _cp partitions, (run, batch)
    assert "qv" in new.columns and "v" not in new.columns
    import glob as _glob

    assert _glob.glob(str(tmp_path / "vecs2" / "run=*" / "batch=*" / "_cp=*"))
    assert new.where(F.pmod("cell_id", F.lit(256)) != F.col("_cp")).count() == 0
    # row-for-row: same vids, same (run, batch) placement
    key = lambda df: sorted(  # noqa: E731
        (r.vid, r.run, r.batch) for r in df.select("vid", "run", "batch").collect()
    )
    assert key(new) == key(old)

    # PAIR-SWAP the config; cross-batch dedup continues against the
    # FULL migrated history (near-dups of batch-1 AND batch-2 vectors)
    cfg2 = dataclasses.replace(cfg, vec_dir=new_vec, cent_dir=new_cent)
    _add_parquet_file(
        spark, tmp_path, src, "b3",
        [(10, vec(base=vs[1])), (11, vec(base=vs[6])), (12, vec(seed=99))],
        schema,
    )
    semdedup_stream(spark, cfg2).awaitTermination(180)
    got = sorted(r.vec_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1, 2, 3, 4, 5, 6, 12]

    # never migrate onto existing dirs
    with pytest.raises(Exception):
        retrain_quantizer(spark, cfg2.vec_dir, cfg2.cent_dir, new_vec, new_cent)


def test_read_stats_merges_older_generation_schemas(spark, tmp_path):
    """r9 (ADVICE r8 #4): read_stats always schema-merges, so a store
    whose early generations predate later-added stat columns surfaces
    every column (NULL where unrecorded) instead of silently dropping
    whichever set the sampled parquet footer lacked."""
    from lakeflush_spark.streaming.curation import read_stats

    stats = str(tmp_path / "stats")
    # an old-generation row written before the r7 columns existed
    spark.createDataFrame(
        [("g1", 0, 5, 1, 0, 1, 0, 3)],
        "run string, batch long, n_in long, n_filtered long, "
        "n_lm_filtered long, n_exact_dup long, n_near_dup long, n_out long",
    ).write.partitionBy("run", "batch").parquet(stats)
    # a current-generation row with the full column set
    spark.createDataFrame(
        [("g2", 0, 4, 0, 0, 0, 1, 1, 0, 0, 2, None, None)],
        "run string, batch long, n_in long, n_filtered long, "
        "n_lm_filtered long, n_exact_dup long, n_near_dup long, "
        "n_sem_dup long, n_boilerplate long, n_contaminated long, "
        "n_out long, n_hot_buckets long, n_hot_rows_trimmed long",
    ).write.mode("append").partitionBy("run", "batch").parquet(stats)

    got = read_stats(spark, stats)
    assert {"n_sem_dup", "n_boilerplate", "n_hot_buckets"} <= set(got.columns)
    rows = {r.run: r for r in got.collect()}
    assert rows["g1"].n_sem_dup is None and rows["g1"].n_out == 3
    assert rows["g2"].n_sem_dup == 1 and rows["g2"].n_out == 2


def test_dedup_stream_csv_source(spark, tmp_path):
    """r9: source_format='csv' — dedup-on-arrival consumes a CSV lake
    (the reference's own bundle format) directly, schema inferred from
    the files already present, cross-batch dedup intact."""
    from lakeflush_spark.streaming.dedup import StreamDedupConfig, dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.csv").write_text("doc_id,text\n1,alpha\n2,beta\n")
    cfg = StreamDedupConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="csv",
        source_options={"header": "true", "inferSchema": "true"},
    )
    dedup_stream(spark, cfg).awaitTermination(180)
    (src / "b2.csv").write_text("doc_id,text\n10,beta\n11,gamma\n")
    dedup_stream(spark, cfg).awaitTermination(180)
    got = {r.doc_id: r.text for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert got == {1: "alpha", 2: "beta", 11: "gamma"}

    # unsupported format fails fast
    import dataclasses

    bad = dataclasses.replace(
        cfg, source_format="avro", checkpoint_dir=str(tmp_path / "ck2")
    )
    with pytest.raises(ValueError, match="source_format"):
        dedup_stream(spark, bad)


def test_curate_stream_json_bundle_source(spark, tmp_path):
    """r9: curate_stream consumes a compacted JSON lake directly
    (source_format='json') — the reference's delivery format feeds the
    curation stream without a parquet re-materialization; exact dedup
    and stats work as with parquet sources."""
    import json as _json

    from lakeflush_spark.streaming.curation import (
        CurationStreamConfig,
        curate_stream,
    )

    src = tmp_path / "src"
    src.mkdir()

    def bundle(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    d1 = "alpha beta gamma delta epsilon zeta"
    d2 = "one two three four five six seven"
    bundle("b1.json", [
        {"doc_id": 1, "text": d1},
        {"doc_id": 2, "text": d2},
    ])
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="json",
    )
    curate_stream(spark, cfg).awaitTermination(180)
    bundle("b2.json", [{"doc_id": 10, "text": d2}])  # exact cross-batch dup
    curate_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1, 2]
    stats = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()
    assert stats[-1].n_exact_dup == 1 and stats[-1].n_out == 0


def test_curate_stream_over_compacted_bundles(spark, tmp_path):
    """r9: the FULL loop — a reference-style tiny-file JSON lake is
    compacted into bundles, and curate_stream consumes the bundle
    directory directly (source_format='json'): the audit sidecar dir
    is invisible to the stream (hidden-name rule), exact dedup works
    across the lake's duplicate rows, and a second compaction run
    delivering new bundles flows through the SAME checkpoint."""
    import json as _json

    from lakeflush_spark.operators.compaction import CompactionConfig, compact
    from lakeflush_spark.streaming.curation import (
        CurationStreamConfig,
        curate_stream,
    )

    lake = tmp_path / "lake"
    lake.mkdir()
    d1 = "alpha beta gamma delta epsilon zeta"
    d2 = "one two three four five six seven"
    for i, (doc_id, text) in enumerate([(1, d1), (2, d2), (3, d2)]):
        (lake / f"f{i}.json").write_text(
            _json.dumps({"doc_id": doc_id, "text": text}) + "\n"
        )
    bundles = str(tmp_path / "bundles")
    compact(spark, CompactionConfig(
        source_dir=str(lake), dest_dir=bundles, file_format="json",
        max_size_mb=16, write_mode="append",
    ))

    cfg = CurationStreamConfig(
        source_dir=bundles,
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="json",
    )
    curate_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1, 2]  # doc 3 is an exact dup of doc 2's text
    stats = spark.read.parquet(cfg.stats_dir).collect()[0]
    assert stats.n_in == 3 and stats.n_exact_dup == 1 and stats.n_out == 2

    # a later compaction delivers new bundles; the stream catches up
    # through the same checkpoint, deduping against the bundle history
    lake2 = tmp_path / "lake2"
    lake2.mkdir()
    (lake2 / "g0.json").write_text(
        _json.dumps({"doc_id": 10, "text": d1}) + "\n"
        + _json.dumps({"doc_id": 11, "text": "new words entirely here now"})
        + "\n"
    )
    compact(spark, CompactionConfig(
        source_dir=str(lake2), dest_dir=bundles, file_format="json",
        max_size_mb=16, write_mode="append",
    ))
    curate_stream(spark, cfg).awaitTermination(180)
    got = sorted(r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect())
    assert got == [1, 2, 11]  # 10 deduped against bundle-delivered history


def test_curate_stream_gopher_rules_gate(spark, tmp_path):
    """gopher_rules=True in the stream drops a Gopher-failing doc at
    the quality stage (counted in n_filtered), same predicate as the
    batch pipeline."""
    from lakeflush_spark.streaming.curation import CurationStreamConfig, curate_stream

    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        gopher_rules=True,
    )
    good = (
        "the quick brown fox jumps over that lazy sleeping dog again " * 6
    ).strip()
    bullets = "\n".join(["- " + good.split(" ", 1)[1]] * 19 + [good])
    _add_parquet_file(spark, tmp_path, src, "b1", [(1, good), (2, bullets)])
    curate_stream(spark, cfg).awaitTermination(180)
    assert [r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect()] == [1]
    stats = spark.read.parquet(cfg.stats_dir).collect()
    assert stats[0].n_filtered == 1 and stats[0].n_out == 1


def test_curate_stream_c4_rules_gate(spark, tmp_path):
    """c4_rules=True in the stream drops a C4-failing page at the
    quality stage and rewrites survivors' text — same shared predicate
    and same rewrite as the batch pipeline."""
    from lakeflush_spark.streaming.curation import CurationStreamConfig, curate_stream

    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        c4_rules=True,
    )
    line = "the quick brown fox jumps over that lazy sleeping dog."
    good = "\n".join([line] * 4)
    other = "\n".join(
        f"a {w} bird sat on the old garden fence today." .replace("bird", w)
        for w in ("red", "blue", "green", "yellow", "purple")
    )
    chaff = other + "\nclick here\nmenu home about\n" + line
    sparse = "the quick brown fox jumps over the dog again and again"
    _add_parquet_file(spark, tmp_path, src, "b1",
                      [(1, good), (2, chaff), (3, sparse)])
    curate_stream(spark, cfg).awaitTermination(180)
    out = {r.doc_id: r.text for r in spark.read.parquet(cfg.dest_dir).collect()}
    assert set(out) == {1, 2}
    assert out[2] == other + "\n" + line
    stats = spark.read.parquet(cfg.stats_dir).collect()
    assert stats[0].n_filtered == 1 and stats[0].n_out == 2


def test_curate_stream_strip_dup_lines(spark, tmp_path):
    """strip_dup_lines=True in the stream rewrites arrivals with the
    first-occurrence line scrub (batch parity)."""
    from lakeflush_spark.streaming.curation import CurationStreamConfig, curate_stream

    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        strip_dup_lines=True,
    )
    base = "\n".join(
        f"the {w} fox jumps over that lazy sleeping dog again today."
        for w in ("red", "blue", "green")
    )
    doc = base + "\n" + base.split("\n")[0]
    _add_parquet_file(spark, tmp_path, src, "b1", [(1, doc)])
    curate_stream(spark, cfg).awaitTermination(180)
    out = spark.read.parquet(cfg.dest_dir).collect()
    assert out[0].text == base


def test_curate_stream_mt_repetition_gate(spark, tmp_path):
    """mt_repetition_rules=True in the stream drops a repetition-heavy
    doc at the quality stage — same shared predicate as the batch."""
    from lakeflush_spark.streaming.curation import CurationStreamConfig, curate_stream

    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        mt_repetition_rules=True,
    )
    clean = " ".join(f"word{i:03d}" for i in range(60)) + " the a of"
    loop = " ".join(["again go"] * 40) + " the a"
    _add_parquet_file(spark, tmp_path, src, "b1", [(1, clean), (2, loop)])
    curate_stream(spark, cfg).awaitTermination(180)
    assert [r.doc_id for r in
            spark.read.parquet(cfg.dest_dir).collect()] == [1]
    stats = spark.read.parquet(cfg.stats_dir).collect()
    assert stats[0].n_filtered == 1 and stats[0].n_out == 1


def test_curate_stream_url_stages(spark, tmp_path):
    """r12 URL stages: blocklisted domains drop before everything;
    the per-domain admission quota holds across BATCHES via the
    domain-count store; stats carry both counts."""
    from lakeflush_spark.streaming.curation import (
        CurationStreamConfig,
        curate_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_tokens=1,
        url_col="url",
        url_blocklist=("spam.example",),
        url_domain_cap=3,
        domain_count_dir=str(tmp_path / "domains"),
    )
    schema = "doc_id long, text string, url string"

    def doc(i, dom):
        return (
            i,
            f"distinct streaming document number {i} words {i * 13} "
            f"more unique content trailing {i * 31}",
            f"https://sub{i}.{dom}/p{i}",
        )

    # batch 1: 2 spam (blocked), 4 from ok.example (cap 3 admits 3)
    _add_parquet_file(
        spark, tmp_path, src, "b1",
        [doc(1, "spam.example"), doc(2, "spam.example")]
        + [doc(i, "ok.example") for i in (3, 4, 5, 6)],
        schema=schema,
    )
    curate_stream(spark, cfg).awaitTermination(240)
    out = spark.read.parquet(cfg.dest_dir).collect()
    assert len(out) == 3
    assert all(r.url_domain == "ok.example" for r in out)
    s = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()
    assert (s[-1].n_url_blocked, s[-1].n_domain_capped, s[-1].n_in, s[-1].n_out) == (
        2, 1, 4, 3
    )
    assert s[-1].n_contaminated == 0  # cap drops don't leak into the residual

    # batch 2: 2 more ok.example docs — history already admitted 3 of
    # the quota, so 0 admit; 1 fresh.example doc admits
    _add_parquet_file(
        spark, tmp_path, src, "b2",
        [doc(10, "ok.example"), doc(11, "ok.example"), doc(12, "fresh.example")],
        schema=schema,
    )
    curate_stream(spark, cfg).awaitTermination(240)
    out2 = spark.read.parquet(cfg.dest_dir).collect()
    assert len(out2) == 4
    doms = sorted(r.url_domain for r in out2)
    assert doms == ["fresh.example", "ok.example", "ok.example", "ok.example"]
    s = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()
    assert (s[-1].n_domain_capped, s[-1].n_out) == (2, 1)

    # restart on the same checkpoint: no new input -> no change
    curate_stream(spark, cfg).awaitTermination(240)
    assert spark.read.parquet(cfg.dest_dir).count() == 4

    # config validation
    import pytest as _pytest

    with _pytest.raises(ValueError, match="url_col"):
        curate_stream(
            spark,
            CurationStreamConfig(
                source_dir=str(src), dest_dir="x", digest_dir="x",
                sig_dir="x", stats_dir="x", checkpoint_dir="x",
                url_blocklist=("a",),
            ),
        )
    with _pytest.raises(ValueError, match="domain_count_dir"):
        curate_stream(
            spark,
            CurationStreamConfig(
                source_dir=str(src), dest_dir="x", digest_dir="x",
                sig_dir="x", stats_dir="x", checkpoint_dir="x",
                url_col="url", url_domain_cap=2,
            ),
        )


def test_curate_stream_url_exact_dedup(spark, tmp_path):
    """r12: canonical-URL dedup within batch AND against the URL-digest
    store across batches; unparseable URLs exempt; n_url_dup recorded."""
    from lakeflush_spark.streaming.curation import (
        CurationStreamConfig,
        curate_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    cfg = CurationStreamConfig(
        source_dir=str(src),
        dest_dir=str(tmp_path / "dest"),
        digest_dir=str(tmp_path / "digests"),
        sig_dir=str(tmp_path / "sigs"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_tokens=1,
        url_col="url",
        url_exact_dedup=True,
        url_digest_dir=str(tmp_path / "url_digests"),
    )
    schema = "doc_id long, text string, url string"

    def body(i):
        return (
            f"streaming body {i} long enough for the gates with "
            f"distinct trailing words {i * 19} here"
        )

    # batch 1: 1/2 share a canonical URL (keep 1); 3 unparseable kept
    _add_parquet_file(
        spark, tmp_path, src, "b1",
        [
            (1, body(1), "http://Site.example/a?utm_x=1"),
            (2, body(2), "http://site.example:80/a"),
            (3, body(3), "not a url"),
        ],
        schema=schema,
    )
    curate_stream(spark, cfg).awaitTermination(240)
    assert sorted(
        r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect()
    ) == [1, 3]
    s = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()
    assert (s[-1].n_url_dup, s[-1].n_out) == (1, 2)

    # batch 2: 10 re-crawls history's URL (drops); 11 is a new page;
    # 12 is another unparseable (exempt — NOT deduped against 3)
    _add_parquet_file(
        spark, tmp_path, src, "b2",
        [
            (10, body(10), "HTTP://SITE.example/a#frag"),
            (11, body(11), "http://site.example/b"),
            (12, body(12), "also not a url"),
        ],
        schema=schema,
    )
    curate_stream(spark, cfg).awaitTermination(240)
    assert sorted(
        r.doc_id for r in spark.read.parquet(cfg.dest_dir).collect()
    ) == [1, 3, 11, 12]
    s = spark.read.parquet(cfg.stats_dir).orderBy("batch").collect()
    assert (s[-1].n_url_dup, s[-1].n_out) == (1, 2)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="url_digest_dir"):
        curate_stream(
            spark,
            CurationStreamConfig(
                source_dir=str(src), dest_dir="x", digest_dir="x",
                sig_dir="x", stats_dir="x", checkpoint_dir="x",
                url_col="url", url_exact_dedup=True,
            ),
        )


def test_compact_domain_store(spark, tmp_path):
    """compact_domain_store (r13): per-batch admission increments merge
    losslessly to one row per (run, url_domain) under batch=-1, the
    highest batch stays VERBATIM (replay safety), re-compaction is
    idempotent, a live dest is refused, and the quota decision a
    stream would make is identical against the compacted copy."""
    from lakeflush_spark.streaming.curation import compact_domain_store
    from lakeflush_spark.streaming.dedup import _read_store

    store = str(tmp_path / "domains")
    for batch, rows in enumerate(
        [[("a.com", 2)], [("a.com", 3), ("b.org", 1)], [("b.org", 4)]]
    ):
        (
            spark.createDataFrame(rows, "url_domain string, n long")
            .withColumn("run", F.lit("r1"))
            .withColumn("batch", F.lit(batch))
            .write.mode("append")
            .partitionBy("run", "batch")
            .parquet(store)
        )

    def totals(d):
        return {
            r.url_domain: r.t
            for r in spark.read.option("basePath", d).parquet(d)
            .groupBy("url_domain").agg(F.sum("n").alias("t")).collect()
        }

    before = totals(store)
    c1 = str(tmp_path / "domains_c1")
    compact_domain_store(spark, store, c1)
    assert totals(c1) == before  # lossless merge
    got = spark.read.option("basePath", c1).parquet(c1)
    assert {r.batch for r in got.select("batch").distinct().collect()} == {-1, 2}
    verbatim = got.where(F.col("batch") == 2).collect()
    assert [(r.url_domain, r.n) for r in verbatim] == [("b.org", 4)]

    # the quota history a replaying batch 3 would see is identical
    h0 = _read_store(spark, store, 3, "r1")
    h1 = _read_store(spark, c1, 3, "r1")
    agg = lambda h: {  # noqa: E731
        r.url_domain: r.t
        for r in h.groupBy("url_domain").agg(F.sum("n").alias("t")).collect()
    }
    assert agg(h0) == agg(h1)

    # idempotent: compacting the compacted copy changes nothing
    c2 = str(tmp_path / "domains_c2")
    compact_domain_store(spark, c1, c2)
    assert totals(c2) == before
    got2 = spark.read.option("basePath", c2).parquet(c2)
    assert {r.batch for r in got2.select("batch").distinct().collect()} == {-1, 2}

    # never compact onto a live store
    with pytest.raises(Exception):
        compact_domain_store(spark, store, c1)
