"""``io.overlap``: the one mechanism that runs independent eager Spark
jobs concurrently (stream store writes, index builds, checkpoint
builds). Drain-before-raise, nesting and job-property carry are
checked here; the package scan keeps hand-rolled pools from coming
back."""

import pathlib
import re
import threading
import time

import pytest

from lakeflush_spark.io import overlap

PKG = pathlib.Path(__file__).resolve().parent.parent / "lakeflush_spark"


def test_overlap_returns_results_in_argument_order():
    assert overlap() == []
    assert overlap(lambda: 1) == [1]
    assert overlap(lambda: (time.sleep(0.2), "a")[1], lambda: "b", lambda: "c") == [
        "a", "b", "c"
    ]


def test_overlap_runs_the_last_thunk_inline():
    names = overlap(
        lambda: threading.current_thread().name,
        lambda: threading.current_thread().name,
    )
    assert names[0].startswith("eager-pool")
    assert names[1] == threading.current_thread().name


@pytest.mark.parametrize("k", [0, 1, 2])
def test_overlap_drains_every_leg_before_raising(k):
    finished = []

    def leg(i):
        def run():
            if i == k:
                raise ValueError(f"leg {i}")
            time.sleep(0.3)
            finished.append(i)
            return i

        return run

    with pytest.raises(ValueError, match=f"leg {k}"):
        overlap(*(leg(i) for i in range(3)))
    assert sorted(finished) == [i for i in range(3) if i != k]


def test_overlap_raises_the_first_failure_in_argument_order():
    def late():
        time.sleep(0.3)
        raise KeyError("first argument, fails last")

    def early():
        raise ValueError("second argument, fails first")

    with pytest.raises(KeyError):
        overlap(late, early)


def test_nested_overlap_runs_inline_in_pool_workers():
    # 9 outer legs: 8 pooled (every worker busy) + 1 inline, each
    # opening an inner 2-leg overlap. Pooled legs that submitted and
    # waited would wait on themselves forever.
    seen = []

    def outer(i):
        def run():
            me = threading.current_thread().name
            inner = overlap(
                lambda: threading.current_thread().name,
                lambda: threading.current_thread().name,
            )
            seen.append((me, inner))
            return i

        return run

    box = {}
    t = threading.Thread(target=lambda: box.setdefault("r", overlap(*(outer(i) for i in range(9)))))
    t.daemon = True
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "nested overlap deadlocked"
    assert box["r"] == list(range(9))
    pooled = [(me, inner) for me, inner in seen if me.startswith("eager-pool")]
    assert len(pooled) == 8
    assert all(inner == [me, me] for me, inner in pooled)


def test_pooled_leg_jobs_carry_the_callers_job_description(spark):
    sc = spark.sparkContext
    group, desc = "overlap-carry-test", "overlap: caller phase"
    sc.setJobGroup(group, desc)
    try:
        props = overlap(
            lambda: (
                spark.range(100).count(),
                sc.getLocalProperty("spark.job.description"),
            )[1],
            lambda: None,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert props[0] == desc
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs, "the pooled leg's job ran outside the caller's job group"
    store = sc._jsc.sc().statusStore()
    assert {store.job(j).description().get() for j in jobs} == {desc}


def test_no_pool_outside_io():
    # every concurrent eager job goes through io.overlap
    banned = re.compile(r"ThreadPoolExecutor|concurrent\.futures|\.submit\(")
    offenders = [
        f"{p.relative_to(PKG)}:{n}"
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "io.py" or p.parent != PKG
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert offenders == []
