"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/NumPy run by the benchmark itself,
outside any timed region, from one random stream seeded per input. The
program under test only ever sees the files written here.

Generated fields carry no quotes, commas, newlines or leading/trailing
blanks, so a CSV writer that re-quotes or trims fields cannot make a
correct delivery look like a mismatch.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from dataclasses import dataclass, field

CSV_HEADER = (
    "id,fileid,first_name,last_name,email,age,join_date,salary,is_active,department"
)
_FIRST = ("ada", "alan", "grace", "edsger", "barbara", "donald", "frances", "ken",
          "dennis", "margaret", "john", "leslie", "niklaus", "radia", "tony", "sophie")
_LAST = ("lovelace", "turing", "hopper", "dijkstra", "liskov", "knuth", "allen",
         "thompson", "ritchie", "hamilton", "backus", "lamport", "wirth", "perlman")
_DEPTS = ("engineering", "sales", "marketing", "finance", "support")
_KINDS = ("view", "click", "purchase", "signup", "error")


@dataclass
class Lake:
    """A generated source lake and the records a compaction must deliver."""

    root: str
    n_files: int
    n_bytes: int
    records: list[str] = field(repr=False)


def _write(path: str, body: str) -> int:
    with open(path, "w", encoding="utf-8") as f:
        f.write(body)
    return len(body.encode("utf-8"))


def csv_lake(root: str, seed: int, n_files: int, rows_per_file: int) -> Lake:
    """Header-per-file CSV lake (the reference's ``employees`` fixture
    shape): every file repeats the same ten-column header."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    rows: list[str] = []
    total = 0
    for i in range(n_files):
        fileid = f"{rng.getrandbits(64):016x}"
        chunk = []
        for j in range(rows_per_file):
            first, last = rng.choice(_FIRST), rng.choice(_LAST)
            chunk.append(
                f"{j + 1},{fileid},{first},{last},{first}.{last}@example.org,"
                f"{rng.randint(20, 65)},20{rng.randint(10, 24)}-{rng.randint(1, 12):02d}-"
                f"{rng.randint(1, 28):02d},{rng.randint(30000, 120000)}.{rng.randint(0, 99):02d},"
                f"{rng.choice(('true', 'false'))},{rng.choice(_DEPTS)}"
            )
        rows.extend(chunk)
        body = CSV_HEADER + "\n" + "\n".join(chunk) + "\n"
        total += _write(os.path.join(root, f"part{i:05d}.csv"), body)
    return Lake(root, n_files, total, rows)


def _event(rng: random.Random, i: int) -> str:
    return json.dumps(
        {
            "event_id": i,
            "user": f"u{rng.randint(0, 99999):05d}",
            "kind": rng.choice(_KINDS),
            "value": round(rng.uniform(0, 1000), 2),
            "tags": [rng.choice(_DEPTS) for _ in range(rng.randint(1, 3))],
            "note": "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(60, 110))),
        },
        separators=(",", ":"),
    )


def tiny_lake(root: str, seed: int, n_files: int) -> Lake:
    """Tiny-JSON lake: one ~250 B JSON object per file, no trailing
    newline (the reference's one-document-per-file shape)."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    recs: list[str] = []
    total = 0
    for i in range(n_files):
        rec = _event(rng, i)
        recs.append(rec)
        total += _write(os.path.join(root, f"ev{i:06d}.json"), rec)
    return Lake(root, n_files, total, recs)


def stream_record(file_no: int, rec_no: int, due: float, rng: random.Random) -> str:
    """One JSON line of a streamed file; ``due`` is the epoch second the
    file was scheduled to land (0 for backlog files)."""
    return json.dumps(
        {
            "f": file_no,
            "r": rec_no,
            "due": due,
            "kind": rng.choice(_KINDS),
            "value": round(rng.uniform(0, 1000), 2),
        },
        separators=(",", ":"),
    )


def stream_backlog(root: str, seed: int, n_files: int, recs_per_file: int) -> Lake:
    """Pre-written backlog of small JSON-lines files (a flusher coming
    back after downtime)."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    recs: list[str] = []
    total = 0
    for i in range(n_files):
        lines = [stream_record(i, r, 0.0, rng) for r in range(recs_per_file)]
        recs.extend(lines)
        total += _write(os.path.join(root, f"b{i:06d}.json"), "\n".join(lines) + "\n")
    return Lake(root, n_files, total, recs)


class OpenLoopWriter(threading.Thread):
    """Writes ``rate`` files per second for ``duration`` seconds into
    ``root`` regardless of how the consumer keeps up (open loop).

    File k is due at ``start + k / rate``; each of its records carries
    that due time. A file is written under a temporary name in
    ``staging`` (same filesystem, outside the watched directory) and
    renamed into ``root``, so a listing never sees a partial file.
    ``late_max_s`` is the worst lag of a rename behind its due time.
    """

    def __init__(self, root: str, staging: str, seed: int, rate: float,
                 duration: float, recs_per_file: int):
        super().__init__(name="perfbench-open-loop", daemon=True)
        self.root, self.staging = root, staging
        self.rng = random.Random(seed)
        self.rate, self.duration, self.recs_per_file = rate, duration, recs_per_file
        self.records: list[str] = []
        self.late_max_s = 0.0
        self.error: BaseException | None = None
        os.makedirs(root, exist_ok=True)
        os.makedirs(staging, exist_ok=True)

    def run(self) -> None:
        try:
            start = time.time()
            n_total = int(self.rate * self.duration)
            for k in range(n_total):
                due = start + k / self.rate
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                lines = [stream_record(k, r, due, self.rng) for r in range(self.recs_per_file)]
                tmp = os.path.join(self.staging, f"o{k:06d}.json.tmp")
                _write(tmp, "\n".join(lines) + "\n")
                os.rename(tmp, os.path.join(self.root, f"o{k:06d}.json"))
                self.late_max_s = max(self.late_max_s, time.time() - due)
                self.records.extend(lines)
        except BaseException as exc:  # reported by the workload after join()
            self.error = exc


# --- curation tables ---------------------------------------------------

_VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream", "value",
          "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
          "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
          "a", "scan", "batch")
_LANGS = ("en", "de", "fr", "es", "zh")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def curation_tables(sf_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the tables the curation queries read (documents, nation,
    customer, orders) in the layout ``lakeflush_spark.io.load_table``
    expects (``<sf_dir>/<name>.parquet``), with the column names and
    types of the TPC-H-style test tables. ``scale`` 0.01 gives 500
    documents and 15k orders. Returns row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    counts: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        table = pa.table(cols)
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    n_docs = max(50, int(50_000 * scale))
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.03:
            # planted near-duplicate: an earlier doc with one token swapped
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
        texts.append(" ".join(toks))
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[k] for k in rng.integers(0, len(_LANGS), n_docs)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    n_cust = max(100, int(150_000 * scale))
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)]),
    })

    day = np.timedelta64(1, "D")
    base = np.datetime64("1995-01-01T00:00:00", "us")
    n_ord = max(1000, int(1_500_000 * scale))
    odate = base + rng.integers(0, 2405, n_ord) * day
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("O", "F", "P")[k] for k in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": pa.array([_PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]),
    })
    return counts
