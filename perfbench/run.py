"""Benchmark entry point.

    python3 perfbench/run.py --workload compaction --seed 1 --seconds 4 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
into ``.perfbench/runs/<run>/`` (removed at exit), the program is
driven through its public entry points for ``--seconds``, its outputs
are checked, and the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of ``BENCHMARK.json``; with
``--trace 1`` the run measures half its time untraced and half with
Spark's event log on, and reports the per-layer ones. The lines before
it record the session posture and the workload's own named metrics;
the spans of every run are written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time

from harness import Bench, median
from workloads import WORKLOADS, traced_layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: driver heap, committed and pre-touched at launch: leaves most of a
#: 15 GiB, 4-core box to the OS, the page cache and Python workers, and
#: keeps first-touch page faults and heap growth out of the timed rounds
DRIVER_MEM = "2g"


def pin_posture(run_dir: str) -> dict:
    """Fix the session posture through the environment before the JVM
    starts, and describe it."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_PRETOUCH": "1",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for key in ("SPARK_GRAFT_BENCH", "SPARK_GRAFT_DRIVER_JAVA_OPTS"):
        os.environ.pop(key, None)
    os.environ.update(env)
    for d in ("local", "tmp", "jtmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark

    return {
        **env,
        "pretouch": env["SPARK_GRAFT_PRETOUCH"] == "1",
        "console_progress": False,
        "java_tmpdir": os.path.join(run_dir, "jtmp"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "host_nproc": os.cpu_count(),
        "host_mem_total_mb": mem_kb // 1024,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate CPU line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args, run_dir: str):
    """Generate, set up, measure and check one workload in ``run_dir``.
    Returns the posture, the bench and (end-to-end, per-layer, named,
    set-up seconds)."""
    posture = pin_posture(run_dir)
    steal0, total0 = cpu_jiffies()
    os.chdir(run_dir)  # spark-warehouse, .lakeflush sidecars land here
    bench = Bench(run_dir, args.seed, java_opts=(
        f"-Djava.io.tmpdir={posture['java_tmpdir']} -XX:-UsePerfData"))
    wl = WORKLOADS[args.workload](bench)
    layers: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        setups = bench.setup(wl)
        if args.trace:
            plain = wl.measure(args.seconds / 2)
            bench.stop_session()
            bench.start_session(traced=True)
            wl.warmup()  # both halves start one pass after a session start
            result = wl.measure(args.seconds / 2)
            layers = traced_layers(bench, wl, result)
            traced_cpu = median([r["cpu_s"] for r in result["rounds"] if "round_s" in r])
        else:
            plain = result = wl.measure(args.seconds)
        with bench.tracer.span("check"):
            wl.check(result)
        named = wl.named(plain)
        peak_rss = bench.peak_rss_mb()
    finally:
        with bench.tracer.span("shutdown"):
            bench.shutdown()
    done = [r for r in plain["rounds"] if "round_s" in r]
    if not done:
        raise RuntimeError("no round completed")
    # Wall time per round is printed with the named metrics but not
    # bounded: on a shared 4-vCPU host it tracks the CPU time other
    # guests steal (a fifth stolen doubled it), while CPU seconds moved
    # by a fifth at most.
    named["round_s"] = (median([r["round_s"] for r in done]), "s")
    e2e = {"setup_s": median(setups), "peak_rss_mb": peak_rss,
           "round_cpu_s": median([r["cpu_s"] for r in done])}
    layers.update({
        "session.get_spark_s": median(bench.tracer.seconds("session.get_spark")),
        "session.warmup_s": median(bench.tracer.seconds("session.warmup")),
        "io.tmp_dirs_left": len(os.listdir(os.environ["TMPDIR"])),
        "gen.lake_s": gen_s,
        "failed_share": bench.failed / max(1, bench.attempted),
    })
    if args.trace:
        layers["tracing_overhead"] = traced_cpu / e2e["round_cpu_s"] - 1.0
    steal1, total1 = cpu_jiffies()
    # share of CPU time a busy host took from this VM during the run
    posture["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    return posture, bench, (e2e, layers, named, setups)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.dont_write_bytecode = True
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "lakeflush_spark")):
        print("perfbench: no lakeflush_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", "runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        posture, bench, out = run(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    e2e, layers, named, setups = out
    bench.tracer.dump(
        os.path.join(ROOT, ".perfbench", "traces",
                     f"{args.workload}-s{args.seed}-trace{args.trace}.json"),
        {"posture": posture, "setups_s": setups, "e2e": e2e, "layers": layers,
         "named": named, "failures": bench.failures},
    )
    if args.trace:
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {}
    for m in wanted:
        if m["name"] not in values and not args.trace:
            raise KeyError(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    print("perfbench posture " + json.dumps(posture, sort_keys=True))
    print("perfbench named " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in named.items()}))
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
