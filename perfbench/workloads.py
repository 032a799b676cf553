"""The benchmark workloads. Each drives only public entry points:
``compat.collectors.LocalLakeCollector.start`` with
``compat.flushers.LocalLakeFlusher.poll_once``,
``streaming.compaction.compact_stream`` and ``plans.QUERIES``.

A workload has ``generate`` (inputs, untimed), ``warmup`` (part of
set-up), ``measure(seconds)`` (the timed part), ``check`` (correctness
gates, untimed), ``named`` (its own metrics, by name) and ``layers``
(per-layer numbers from a traced measurement).
"""

from __future__ import annotations

import collections
import gzip
import json
import os
import time
from datetime import timezone

import gen
from harness import median, percentile
from spans import attribute, covered_seconds, job_totals, jobs_under, read_jobs

CAP_MB = 16
PARTITION_FORMAT = "year=%Y/month=%m/day=%d"


def _files(root: str) -> list[str]:
    out = []
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out.extend(os.path.join(d, n) for n in names if not n.startswith(("_", ".")))
    return sorted(out)


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def _audit(dest: str) -> dict[int, tuple[float, int]]:
    """Stream audit rows by batch id: (flushed_at epoch seconds, records)."""
    import pyarrow.parquet as pq

    root = os.path.join(dest, "_lakeflush_audit_stream")
    if not os.path.isdir(root):
        return {}
    t = pq.read_table(root, columns=["batch_id", "flushed_at", "records"]).to_pydict()
    return {
        int(b): ((ts if ts.tzinfo else ts.replace(tzinfo=timezone.utc)).timestamp(), int(n))
        for b, ts, n in zip(t["batch_id"], t["flushed_at"], t["records"])
    }


def _audited(dest: str) -> int:
    """Records the stream audit counts so far (0 while it is mid-write)."""
    import pyarrow

    try:
        return sum(n for _, n in _audit(dest).values())
    except (OSError, pyarrow.ArrowInvalid):
        return 0


def _lines(path: str) -> list[str]:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as f:
        return f.read().splitlines()


class LakeCompact:
    """Batch part of ``compaction``: a byte-bound CSV lake (plain and
    gzip) and a metadata-bound tiny-JSON lake, each collected with
    ``start()`` and delivered with ``poll_once()``."""

    KINDS = ("csv", "csv_gzip", "tiny")
    CSV_FILES, CSV_ROWS = 48, 800  # ~75 KB files, ~3.6 MB
    TINY_FILES = 1200  # ~230 B files
    WARM_SHARE = 8  # warm-up lakes are 1/8 the size

    def __init__(self, bench):
        self.b = bench
        self.n = 0  # rounds run so far, names each round's work dir

    def generate(self) -> None:
        b, s = self.b, self.b.seed
        self.lakes = {
            "csv": gen.csv_lake(b.path("in", "csv"), s, self.CSV_FILES, self.CSV_ROWS),
            "tiny": gen.tiny_lake(b.path("in", "tiny"), s + 1, self.TINY_FILES),
        }
        self.warm = {
            "csv": gen.csv_lake(b.path("in", "warm_csv"), s + 2,
                                self.CSV_FILES // self.WARM_SHARE, self.CSV_ROWS),
            "tiny": gen.tiny_lake(b.path("in", "warm_tiny"), s + 3,
                                  self.TINY_FILES // self.WARM_SHARE),
        }

    def _lake(self, kind: str, lakes: dict | None = None) -> gen.Lake:
        return (lakes or self.lakes)["tiny" if kind == "tiny" else "csv"]

    def _pass(self, kind: str, lake: gen.Lake, work: str) -> dict:
        from lakeflush_spark.compat.collectors import LocalLakeCollector
        from lakeflush_spark.compat.flushers import LocalLakeFlusher

        collect, dest = os.path.join(work, kind, "collect"), os.path.join(work, kind, "dest")
        os.makedirs(collect)
        os.makedirs(dest)
        csv = kind != "tiny"
        collector = LocalLakeCollector(
            lake.root, file_type="csv" if csv else "json", csv_header=csv,
            filepath=collect, filename="bundle", max_size_mb=CAP_MB,
            compress=kind == "csv_gzip",
        )
        tr = self.b.tracer
        with tr.span(f"compat.pass.{kind}") as whole:
            with tr.span(f"compat.collector.start.{kind}") as start:
                bundles = collector.start()
            with tr.span(f"compat.flusher.poll_once.{kind}") as poll:
                flusher = LocalLakeFlusher(dest, collect, "bundle",
                                           date_partition_format=PARTITION_FORMAT)
                flushed = flusher.poll_once()
        if flushed != len(bundles):
            raise RuntimeError(f"{kind}: {len(bundles)} bundles collected, {flushed} flushed")
        sizes = [os.path.getsize(p) for p in _files(dest)]
        return {"s": whole.seconds, "start_s": start.seconds, "poll_s": poll.seconds,
                "start_span": tr.spans.index(start), "bundles": len(sizes),
                "fill": (sum(sizes) / len(sizes)) / (CAP_MB * 1024 * 1024) if sizes else 0.0,
                "dest": dest}

    def warmup(self) -> None:
        work = self.b.path("warm", str(time.monotonic_ns()))
        for kind in self.KINDS:
            self.b.op(f"warmup.{kind}", self._pass, kind, self._lake(kind, self.warm), work)
        self.b.clean(work)

    def round(self) -> dict:
        work = self.b.path("work", "batch", f"r{self.n}")
        if self.n:
            self.b.clean("work", "batch", f"r{self.n - 1}")
        self.n += 1
        rec = {"work": work}
        for kind in self.KINDS:
            r = self.b.op(f"pass.{kind}", self._pass, kind, self._lake(kind), work)
            if r is not None:
                rec[kind] = r
        if all(k in rec for k in self.KINDS):
            rec["round_s"] = sum(rec[k]["s"] for k in self.KINDS)
        return rec

    def check(self, result: dict) -> None:
        last = result["rounds"][-1]
        sidecar_dir = os.path.join(os.getcwd(), ".lakeflush")
        cap = CAP_MB * 1024 * 1024
        for kind in self.KINDS:
            if kind not in last:
                continue
            lake = self._lake(kind)
            delivered = _files(last[kind]["dest"])
            rows: list[str] = []
            headers_ok = True
            for p in delivered:
                lines = _lines(p)
                if kind != "tiny":
                    headers_ok &= bool(lines) and lines[0] == gen.CSV_HEADER
                    headers_ok &= lines.count(gen.CSV_HEADER) == 1
                    lines = lines[1:]
                rows.extend(lines)
            want, got = collections.Counter(lake.records), collections.Counter(rows)
            self.b.gate(f"{kind}.rows", got == want,
                        f"{sum((want - got).values())} missing, {sum((got - want).values())} extra")
            if kind != "tiny":
                self.b.gate(f"{kind}.one_header", headers_ok, "a bundle lacks or repeats the header")
            if kind != "csv_gzip":
                big = [p for p in delivered if os.path.getsize(p) > cap]
                self.b.gate(f"{kind}.cap", not big, f"{len(big)} bundles over {CAP_MB} MiB")
            missing = []
            for p in delivered:
                meta = os.path.join(sidecar_dir, os.path.basename(p).replace(
                    ".lakeflush", ".lakeflush.flushed", 1))
                if not os.path.isfile(meta) or _read(meta) != p:
                    missing.append(p)
            self.b.gate(f"{kind}.sidecars", not missing, f"{len(missing)} bundles lack a sidecar")

    def named(self, result: dict) -> dict:
        rounds = [r for r in result["rounds"] if "round_s" in r]
        mb = self.lakes["csv"].n_bytes / 1e6
        return {
            "csv_mb_s": (mb / median([r["csv"]["s"] for r in rounds]), "MB/s"),
            "csv_gzip_mb_s": (mb / median([r["csv_gzip"]["s"] for r in rounds]), "MB/s"),
            "tiny_files_s": (self.lakes["tiny"].n_files / median([r["tiny"]["s"] for r in rounds]),
                             "files/s"),
        }

    def layers(self, result: dict, by_span: dict) -> dict:
        tr = self.b.tracer
        out: dict[str, float] = {}
        rounds = [r for r in result["rounds"] if "round_s" in r]
        for kind in self.KINDS:
            recs = [r[kind] for r in rounds]
            out[f"compat.collector.start_s.{kind}"] = median([r["start_s"] for r in recs])
            out[f"compat.flusher.poll_once_s.{kind}"] = median([r["poll_s"] for r in recs])
            out[f"compat.bundles.{kind}"] = median([r["bundles"] for r in recs])
            out[f"compat.bundle_fill.{kind}"] = median([r["fill"] for r in recs])
            per = []
            for r in recs:
                span = tr.spans[r["start_span"]]
                jobs = jobs_under(tr, by_span, r["start_span"])
                t = job_totals(jobs)
                t["driver_gap_s"] = span.seconds - covered_seconds(jobs, span.start, span.end)
                per.append(t)
            for key in ("jobs", "executor_run_ms", "jvm_gc_ms", "shuffle_write_bytes", "driver_gap_s"):
                out[f"operators.compaction.{key}.{kind}"] = median([t[key] for t in per])
        from lakeflush_spark.operators.manifest import scan_manifest

        for kind in ("csv", "tiny"):
            times, n = [], 0
            for _ in range(3):
                t0 = time.perf_counter()
                n = scan_manifest(self.b.spark, self.lakes[kind].root).count()
                times.append(time.perf_counter() - t0)
            out[f"operators.manifest.scan_s.{kind}"] = median(times)
            if kind == "tiny":
                out["operators.manifest.files"] = n
        return out


class StreamIngest:
    """Streaming part of ``compaction``: ``compact_stream(exactly_once=True)``
    catch-up drains of a pre-written backlog (``available_now``), and an
    open-loop writer at a fixed file rate against a processing-time
    trigger."""

    BACKLOG_FILES, RECS_PER_FILE, FILES_PER_TRIGGER = 160, 20, 80
    #: warm-up batches list more than 32 files, so they take the same
    #: parallel-listing path as the measured ones
    WARM_FILES, WARM_PER_TRIGGER = 80, 40
    TRIGGER = "2 seconds"
    #: open-loop files/s: a fixed number, under half the catch-up
    #: capacity measured on the commit that introduced this benchmark
    OPEN_RATE = 40.0
    DRAIN_TIMEOUT_S = 60.0

    def __init__(self, bench):
        self.b = bench
        self.n = 0

    def generate(self) -> None:
        b, s = self.b, self.b.seed
        self.backlog = gen.stream_backlog(b.path("in", "backlog"), s, self.BACKLOG_FILES,
                                          self.RECS_PER_FILE)
        self.warm = gen.stream_backlog(b.path("in", "warm_backlog"), s + 1, self.WARM_FILES,
                                       self.RECS_PER_FILE)

    def _cfg(self, src: str, out: str, per_trigger: int | None):
        from lakeflush_spark.streaming.compaction import StreamCompactionConfig

        return StreamCompactionConfig(
            source_dir=src, dest_dir=os.path.join(out, "dest"),
            checkpoint_dir=os.path.join(out, "ckpt"), max_size_mb=CAP_MB,
            exactly_once=True, max_files_per_trigger=per_trigger,
        )

    def _catchup(self, lake: gen.Lake, out: str, per_trigger: int) -> dict:
        from lakeflush_spark.streaming.compaction import compact_stream

        cfg = self._cfg(lake.root, out, per_trigger)
        with self.b.tracer.span("streaming.compaction.catchup") as s:
            q = compact_stream(self.b.spark, cfg, available_now=True)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return {"s": s.seconds, "progress": [dict(p) for p in q.recentProgress],
                "batch_records": [n for _, n in _audit(cfg.dest_dir).values()],
                "dest": cfg.dest_dir}

    def warmup(self) -> None:
        out = self.b.path("warm", str(time.monotonic_ns()))
        self.b.op("warmup.catchup", self._catchup, self.warm, out, self.WARM_PER_TRIGGER)
        self.b.clean(out)

    def round(self) -> dict:
        out = self.b.path("work", "stream", f"r{self.n}")
        if self.n:
            self.b.clean("work", "stream", f"r{self.n - 1}")
        self.n += 1
        r = self.b.op("catchup", self._catchup, self.backlog, out, self.FILES_PER_TRIGGER)
        return {"round_s": r["s"], **r} if r else {}

    def _open_loop(self, duration: float) -> dict:
        from lakeflush_spark.streaming.compaction import compact_stream

        out = self.b.path("live", str(time.monotonic_ns()))
        cfg = self._cfg(os.path.join(out, "src"), out, None)
        os.makedirs(cfg.source_dir)
        writer = gen.OpenLoopWriter(cfg.source_dir, os.path.join(out, "staging"),
                                    self.b.seed + 2, self.OPEN_RATE, duration, self.RECS_PER_FILE)
        with self.b.tracer.span("streaming.compaction.open_loop") as s:
            q = compact_stream(self.b.spark, cfg, available_now=False,
                               processing_time=self.TRIGGER)
            try:
                writer.start()
                writer.join()
                if writer.error is not None:
                    raise writer.error
                # a source's numInputRows counts a row once per execution
                # of the foreachBatch frame, so drain on the audit table
                want = len(writer.records)
                deadline = time.monotonic() + self.DRAIN_TIMEOUT_S
                while _audited(cfg.dest_dir) < want:
                    if q.exception() is not None or time.monotonic() > deadline:
                        raise RuntimeError(f"stream did not drain: {q.exception()}")
                    time.sleep(0.25)
                progress = [dict(p) for p in q.recentProgress]
            finally:
                q.stop()
        return {"s": s.seconds, "progress": progress, "dest": cfg.dest_dir,
                "batch_records": [n for _, n in _audit(cfg.dest_dir).values()],
                "records": writer.records, "late_max_s": writer.late_max_s}

    @staticmethod
    def _delivered(dest: str) -> list[tuple[dict, int]]:
        """(record, batch id) for every delivered line."""
        recs = []
        for p in _files(dest):
            batch = int(p.split("batch=")[1].split("/")[0])
            recs.extend((json.loads(line), batch) for line in _lines(p))
        return recs

    def _check_once(self, tag: str, dest: str, want: list[str]) -> None:
        recs, audit = self._delivered(dest), _audit(dest)
        got = collections.Counter((r["f"], r["r"]) for r, _ in recs)
        expect = collections.Counter((json.loads(w)["f"], json.loads(w)["r"]) for w in want)
        self.b.gate(f"{tag}.exactly_once", got == expect,
                    f"{sum((expect - got).values())} missing, {sum((got - expect).values())} extra")
        total = sum(n for _, n in audit.values())
        self.b.gate(f"{tag}.audit_records", total == len(want),
                    f"audit counts {total} records, {len(want)} written")

    def check(self, result: dict) -> None:
        last = result["rounds"][-1]
        if "dest" in last:
            self._check_once("catchup", last["dest"], self.backlog.records)
        if result["live"]:
            self._check_once("open_loop", result["live"]["dest"], result["live"]["records"])

    def named(self, result: dict) -> dict:
        rounds = [r for r in result["rounds"] if "round_s" in r]
        out = {"catchup_files_s": (self.backlog.n_files / median([r["round_s"] for r in rounds]),
                                   "files/s")}
        live = result["live"]
        if live:
            recs, audit = self._delivered(live["dest"]), _audit(live["dest"])
            lat = [audit[b][0] - r["due"] for r, b in recs]
            out["deliver_p50_s"] = (percentile(lat, 50), "s")
            out["deliver_p99_s"] = (percentile(lat, 99), "s")
            out["deliver_samples"] = (len(lat), "count")
        return out

    def layers(self, result: dict, by_span: dict) -> dict:
        progress = [p for r in result["rounds"] for p in r.get("progress", [])]
        if result["live"]:
            progress += result["live"]["progress"]
        batches = [p for p in progress if p["numInputRows"] > 0]
        per_batch = [n for r in result["rounds"] for n in r.get("batch_records", [])]
        if result["live"]:
            per_batch += result["live"]["batch_records"]
        dur = lambda k: [p["durationMs"].get(k, 0) for p in batches]  # noqa: E731
        rounds = [r for r in result["rounds"] if "round_s" in r]
        return {
            "streaming.compaction.latestOffset_ms_p50": median(dur("latestOffset")),
            "streaming.compaction.getBatch_ms_p50": median(dur("getBatch")),
            "streaming.compaction.walCommit_ms_p50": median(dur("walCommit")),
            "streaming.compaction.addBatch_ms_p50": median(dur("addBatch")),
            "streaming.compaction.addBatch_ms_p99": percentile(dur("addBatch"), 99) if batches else 0,
            "streaming.compaction.batches": len(batches),
            "streaming.compaction.rows_per_batch": median(per_batch),
            "streaming.compaction.drain_s": median([r["round_s"] for r in rounds]),
            "gen.late_max_s": result["live"]["late_max_s"] if result["live"] else 0.0,
        }


class Compaction:
    """The paper's pipeline, batch and streaming, on the compaction
    layers. A round is one pass of each batch lake plus one catch-up
    drain; after the rounds comes one open-loop phase."""

    name = "compaction"

    def __init__(self, bench):
        self.b = bench
        self.batch, self.stream = LakeCompact(bench), StreamIngest(bench)

    def generate(self) -> None:
        self.batch.generate()
        self.stream.generate()

    def warmup(self) -> None:
        self.batch.warmup()
        self.stream.warmup()

    def round(self) -> dict:
        rec = {"batch": self.batch.round(), "stream": self.stream.round()}
        if "round_s" in rec["batch"] and "round_s" in rec["stream"]:
            rec["round_s"] = rec["batch"]["round_s"] + rec["stream"]["round_s"]
        return rec

    def measure(self, seconds: float) -> dict:
        rounds = self.b.closed_loop(self, seconds / 2, min_rounds=3)
        live = self.b.op("open_loop", self.stream._open_loop, seconds / 2)
        return {"rounds": rounds, "live": live}

    def _parts(self, result: dict) -> tuple[dict, dict]:
        return ({"rounds": [r["batch"] for r in result["rounds"]]},
                {"rounds": [r["stream"] for r in result["rounds"]], "live": result["live"]})

    def check(self, result: dict) -> None:
        batch, stream = self._parts(result)
        self.batch.check(batch)
        self.stream.check(stream)

    def named(self, result: dict) -> dict:
        batch, stream = self._parts(result)
        return {**self.batch.named(batch), **self.stream.named(stream)}

    def layers(self, result: dict, by_span: dict) -> dict:
        batch, stream = self._parts(result)
        return {**self.batch.layers(batch, by_span), **self.stream.layers(stream, by_span)}


class CurationQueries:
    """Declared LLM-data and relational queries materialized to the
    ``noop`` sink on seeded tables, after warm-up passes."""

    name = "curation_queries"
    #: q03 and q05 round float sums of price x (1 - discount) products to
    #: cents; on seeded data the exact sum can end in a half cent and the
    #: two engines round it apart, so their oracle gates fail on some
    #: seeds. q08 rounds sums of cent values, which cannot tie.
    QUERIES = {
        "q61": "q61_decontaminate",
        "q08": "q08_window_rank",
    }
    RELATIONAL = ("q08",)
    SCALE = 0.01

    def __init__(self, bench):
        self.b = bench

    def generate(self) -> None:
        self.sf = self.b.path("in", "sf")
        gen.curation_tables(self.sf, self.b.seed, self.SCALE)

    def _run(self, key: str, sf: str) -> dict:
        from lakeflush_spark.plans import QUERIES

        tr = self.b.tracer
        with tr.span(f"plans.{key}") as whole:
            with tr.span(f"plans.{key}.build") as build:
                df = QUERIES[self.QUERIES[key]].builder(self.b.spark, sf)
            with tr.span(f"plans.{key}.materialize") as mat:
                df.write.format("noop").mode("overwrite").save()
        return {"s": whole.seconds, "build_s": build.seconds, "materialize_s": mat.seconds,
                "span": tr.spans.index(whole), "build_span": tr.spans.index(build)}

    def warmup(self) -> None:
        for key in self.QUERIES:
            self.b.op(f"warmup.{key}", self._run, key, self.sf)

    def round(self) -> dict:
        rec = {}
        for key in self.QUERIES:
            r = self.b.op(key, self._run, key, self.sf)
            if r is not None:
                rec[key] = r
        if len(rec) == len(self.QUERIES):
            rec["round_s"] = sum(r["s"] for r in rec.values())
        return rec

    def measure(self, seconds: float) -> dict:
        # rounds are short and their CPU seconds vary with background
        # JIT and GC work, so take the median of more of them
        return {"rounds": self.b.closed_loop(self, seconds, min_rounds=5)}

    def check(self, result: dict) -> None:
        from lakeflush_spark.testing import run_query_vs_oracle

        for key, name in self.QUERIES.items():
            problems = self.b.op(f"oracle.{key}", run_query_vs_oracle, self.b.spark, self.sf, name)
            if problems is not None:
                self.b.gate(f"{key}.oracle", not problems, "; ".join(problems)[:300])

    def named(self, result: dict) -> dict:
        rounds = [r for r in result["rounds"] if "round_s" in r]
        out = {f"{k}_s": (median([r[k]["s"] for r in rounds]), "s")
               for k in self.QUERIES if k not in self.RELATIONAL}
        out["relational_s"] = (median([sum(r[k]["s"] for k in self.RELATIONAL) for r in rounds]), "s")
        return out

    def layers(self, result: dict, by_span: dict) -> dict:
        tr = self.b.tracer
        rounds = [r for r in result["rounds"] if "round_s" in r]
        out: dict[str, float] = {}
        for key in self.QUERIES:
            recs = [r[key] for r in rounds]
            out[f"plans.{key}.build_s"] = median([r["build_s"] for r in recs])
            out[f"plans.{key}.materialize_s"] = median([r["materialize_s"] for r in recs])
            totals = [job_totals(jobs_under(tr, by_span, r["span"])) for r in recs]
            out[f"plans.{key}.eager_jobs"] = median(
                [len(jobs_under(tr, by_span, r["build_span"])) for r in recs])
            for k in ("jobs", "executor_run_ms", "jvm_gc_ms", "shuffle_write_bytes"):
                out[f"plans.{key}.{k}"] = median([t[k] for t in totals])
        return out

WORKLOADS = {w.name: w for w in (Compaction, CurationQueries)}


def traced_layers(bench, workload, result: dict) -> dict:
    """Per-layer numbers of a traced measurement."""
    by_span = attribute(bench.tracer, read_jobs(bench.event_log_dir))
    return workload.layers(result, by_span)
