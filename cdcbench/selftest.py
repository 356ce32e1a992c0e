"""Self-tests of the benchmark that need no Spark.

Run alone with ``python3 cdcbench/selftest.py``; every benchmark run also
runs them first and stops if one fails.
"""

from __future__ import annotations

import os
import shutil
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench import inputs, trace  # noqa: E402


class SelfTestError(RuntimeError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SelfTestError(what)


def test_input_digests(scratch: str) -> None:
    """One seed gives identical inputs twice; another seed differs."""
    digests = []
    for i, seed in enumerate((7, 7, 8)):
        d = os.path.join(scratch, f"log{i}")
        inputs.make_log(d, seed, n_convs=40, n_files=3)
        digests.append(inputs.digest_dir(d))
    check(digests[0] == digests[1], "same seed gave different input digests")
    check(digests[0] != digests[2], "different seeds gave the same input digest")


def _spans() -> list[trace.Span]:
    outer = trace.Span(0, "replay_batches", None, 0, 1000.0, 2000.0)
    inner = trace.Span(1, "apply_changes", 0, 1, 1100.0, 1400.0)
    other = trace.Span(2, "status", None, 0, 3000.0, 3100.0)
    return [outer, inner, other]


def _job(jid: int, tags: list[str], stages: list[int], t0: float, t1: float) -> list[dict]:
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": stages, "Properties": {"spark.job.tags": ",".join(["spark-session-x", *tags])}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def _task(stage: int, run_ms: float, kind: str = "ResultTask", **metrics) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Type": kind,
            "Task Info": {"Accumulables": [{"Name": "scan time", "Update": "5"}]},
            "Task Metrics": {"Executor Run Time": run_ms, **metrics}}


def test_fold_innermost_span() -> None:
    """A job is charged to the innermost tagged span it carries; a stage
    and its tasks to the first job that lists the stage."""
    spans = _spans()
    t = {s.name: s.tag for s in spans}
    events = (
        _job(0, [t["replay_batches"], t["apply_changes"]], [0, 1], 1110, 1300)
        + _job(1, [t["replay_batches"]], [1, 2], 1500, 1600)  # stage 1 skipped here
        + _job(2, [t["status"]], [3], 3010, 3090)
        + _job(3, [], [4], 5000, 5001)
        + [_task(0, 10.0, "ShuffleMapTask", **{"Input Metrics": {"Records Read": 100}}),
           _task(1, 30.0), _task(2, 4.0), _task(3, 1.0)]
    )
    jobs, stages = trace.fold(events, spans)
    check(jobs[0].span_id == 1, "job tagged by outer and inner span not charged to the inner one")
    check(jobs[1].span_id == 0, "job tagged by the outer span only not charged to it")
    check(jobs[2].span_id == 2, "job of a second root span misattributed")
    check(jobs[3].span_id is None, "untagged job charged to a span")
    owner = trace.stage_owner(jobs)
    check(owner[1].job_id == 0, "shared stage not owned by the first job listing it")
    check(stages[0].shuffle_map and stages[0].input_records == 100, "task metrics not folded")
    check(stages[0].acc.get("scan time") == 5.0, "SQL metric accumulables not folded")
    check(trace.descendants(spans, {0}) == {0, 1}, "span descendants wrong")


def test_self_time() -> None:
    """Self time is the span's wall minus the part its children cover,
    with overlapping and overhanging children counted once."""
    parent = trace.Span(0, "p", None, 0, 0.0, 100.0)
    kids = [trace.Span(1, "a", 0, 1, 10.0, 30.0), trace.Span(2, "b", 0, 1, 20.0, 50.0),
            trace.Span(3, "c", 0, 1, 90.0, 120.0), trace.Span(4, "d", 3, 2, 91.0, 95.0)]
    got = trace.self_time_s(parent, trace.child_intervals(parent, [parent, *kids]))
    check(abs(got - 0.050) < 1e-9, f"self time {got} != 0.050")
    check(trace.union_length([(0, 10), (5, 15), (20, 30)], 0, 100) == 25, "interval union wrong")
    check(trace.union_length([], 0, 100) == 0, "empty interval union not 0")


def run_all(scratch: str) -> None:
    os.makedirs(scratch, exist_ok=True)
    try:
        test_input_digests(scratch)
        test_fold_innermost_span()
        test_self_time()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    import tempfile

    run_all(tempfile.mkdtemp(prefix="cdcbench-selftest-", dir=os.getcwd()))
    print("cdcbench self-tests passed")
