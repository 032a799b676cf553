"""Run harness shared by the workloads: session lifecycle, operation
and gate accounting, the measuring loop and process memory readings."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from spans import Tracer, event_log_conf

#: set-ups per run; ``setup_s`` is their median
N_SETUPS = 3
#: conf every benchmark session gets on top of ``get_spark``'s own
SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root`` and its live descendants: this driver, the JVM and the
    Python workers it forks. Time a busy host steals is not counted."""
    stats: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        # fields[1] is ppid; fields[11:15] are utime, stime, cutime, cstime
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK)
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo.extend(kids.get(pid, []))
    return total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc (0 if gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Bench:
    """One benchmark run: its directory, Spark session, tracer and the
    count of operations attempted and failed (gates included)."""

    def __init__(self, run_dir: str, seed: int, java_opts: str):
        self.run_dir = run_dir
        self.java_opts = java_opts
        self.seed = seed
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.event_log_dir = os.path.join(run_dir, "eventlog")
        self.jvm_pid: int | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # -- session ------------------------------------------------------

    def start_session(self, traced: bool):
        from lakeflush_spark.session import get_spark

        conf = {**SESSION_CONF, "spark.driver.defaultJavaOptions": self.java_opts}
        if traced:
            conf.update(event_log_conf(self.event_log_dir))
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        """Peak RSS of the JVM plus this Python driver."""
        jvm = vm_hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0
        return jvm + vm_hwm_mb()

    def shutdown(self) -> None:
        """Stop the session, then the JVM itself, and wait for it."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - best effort, the process is reaped below
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- accounting ---------------------------------------------------

    def op(self, name: str, fn, *args, **kwargs):
        """Run one benchmarked operation; an exception counts as failed
        and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed op is a result, not a crash
            self.failed += 1
            self.failures.append(f"op {name}: {traceback.format_exc(limit=3)}")
            print(f"perfbench: operation {name} failed", file=sys.stderr)
            traceback.print_exc()
            return None

    def gate(self, name: str, ok: bool, detail: str = "") -> None:
        """One correctness check, counted as an operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"gate {name}: {detail}")
            print(f"perfbench: check {name} failed: {detail}", file=sys.stderr)

    # -- phases -------------------------------------------------------

    def setup(self, workload) -> list[float]:
        """N_SETUPS x (session start + warm-up pass), untraced; returns
        each set-up's seconds. The first one also launches the JVM."""
        times = []
        for _ in range(N_SETUPS):
            self.stop_session()
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.start_session(traced=False)
            with self.tracer.span("session.warmup"):
                workload.warmup()
            times.append(time.perf_counter() - t0)
        return times

    def closed_loop(self, workload, seconds: float, min_rounds: int) -> list[dict]:
        """Rounds back to back until ``seconds`` have passed (at least
        ``min_rounds``). Each round record gets its span index and the
        CPU seconds the process tree used during it."""
        rounds: list[dict] = []
        deadline = time.perf_counter() + seconds
        while len(rounds) < min_rounds or time.perf_counter() < deadline:
            cpu0 = tree_cpu_s(os.getpid())
            with self.tracer.span("round") as s:
                rec = workload.round()
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            rec["span"] = self.tracer.spans.index(s)
            rounds.append(rec)
        return rounds

    def clean(self, *parts: str) -> None:
        shutil.rmtree(self.path(*parts), ignore_errors=True)
