"""``session.overlap``: the one way package code runs Spark actions
concurrently, and the guard that keeps it the only way."""

from __future__ import annotations

import ast
import os
import threading
import time

import pytest

from wsspark.session import OVERLAP_THREADS, overlap

_PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "wsspark")


@pytest.fixture
def job_group(spark):
    """Set a job group on the calling thread and clear it afterwards, so
    later tests on the shared session see no group."""
    sc = spark.sparkContext
    sc.setJobGroup("overlap-test", "overlap test group")
    try:
        yield "overlap-test"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_overlap_returns_results_in_argument_order_within_thread_cap(spark):
    lock = threading.Lock()
    running = [0, 0]  # current, peak

    def thunk(i: int):
        def run() -> int:
            with lock:
                running[0] += 1
                running[1] = max(running[1], running[0])
            # later arguments finish first
            time.sleep(0.01 * (12 - i))
            with lock:
                running[0] -= 1
            return i

        return run

    assert overlap(*[thunk(i) for i in range(12)]) == list(range(12))
    assert 1 < running[1] <= OVERLAP_THREADS


def test_overlap_raises_first_failure_in_argument_order_after_all_finish(spark):
    finished = threading.Event()

    def slow_fail():
        time.sleep(0.2)
        raise ValueError("first argument")

    def fast_fail():
        raise RuntimeError("second argument")

    def slow_ok():
        time.sleep(0.4)
        finished.set()
        return 3

    with pytest.raises(ValueError, match="first argument"):
        overlap(slow_fail, fast_fail, slow_ok)
    assert finished.is_set()


def test_overlap_nests(spark):
    assert overlap(
        lambda: overlap(lambda: 1, lambda: 2), lambda: overlap(lambda: 3)
    ) == [[1, 2], [3]]


def test_overlap_threads_inherit_job_group_properties_and_tags(spark, job_group):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(job_group))
    sc.setLocalProperty("wsspark.test.prop", "p1")
    spark.addTag("overlap-tag")
    try:

        def probe():
            spark.range(50).selectExpr("sum(id)").collect()
            return (
                sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("wsspark.test.prop"),
                "overlap-tag" in spark.getTags(),
            )

        got = overlap(probe, lambda: overlap(probe, probe))
    finally:
        spark.removeTag("overlap-tag")
        sc.setLocalProperty("wsspark.test.prop", None)
    expect = (job_group, "p1", True)
    assert got == [expect, [expect, expect]]
    assert len(set(tracker.getJobIdsForGroup(job_group)) - before) >= 3


def test_pooled_package_jobs_keep_the_callers_job_group(
    spark, sf_dir, tmp_path, job_group
):
    """Every job that drift_suite (all three families, so every nested
    overlap) and run_pipeline (the 12 concurrent report writes) launch
    carries the caller's job group — none lands outside it."""
    from wsspark import pipeline
    from wsspark.quality import drift_suite

    tracker = spark.sparkContext.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    grouped_before = set(tracker.getJobIdsForGroup(job_group))
    rows = [
        (float(i % 7), "ab"[i % 2], [float(i % 3), float(i % 5)])
        for i in range(40)
    ]
    schema = "x double, cat string, emb array<double>"
    b = spark.createDataFrame(rows[:20], schema)
    c = spark.createDataFrame(rows[20:], schema)
    fams = {
        r.family
        for r in drift_suite(
            b, c, numeric_cols=["x"], cat_cols=["cat"], embedding_col="emb"
        ).collect()
    }
    assert fams == {"psi", "ks", "topk_psi", "embedding"}
    pipeline.run_pipeline(spark, sf_dir, str(tmp_path), load_type="full")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
    assert set(tracker.getJobIdsForGroup(job_group)) - grouped_before


def _pool_uses(tree: ast.AST) -> list[int]:
    """Lines that import concurrent.futures or name ThreadPoolExecutor."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""] + [
                f"{node.module}.{a.name}" for a in node.names
            ]
        elif isinstance(node, ast.Name):
            names = [node.id]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        else:
            continue
        if any(
            n == "ThreadPoolExecutor" or n.startswith("concurrent.futures")
            for n in names
        ):
            lines.append(node.lineno)
    return lines


def test_only_session_module_builds_thread_pools():
    """Thread pools that skip ``overlap`` launch jobs without the caller's
    job group and tags; only session.py (``overlap`` itself) may build
    one."""
    offenders = {}
    for dirpath, _dirs, files in os.walk(_PKG):
        for name in files:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, _PKG)
            if not name.endswith(".py") or rel == "session.py":
                continue
            with open(path, encoding="utf-8") as fh:
                lines = _pool_uses(ast.parse(fh.read(), filename=path))
            if lines:
                offenders[rel] = lines
    assert offenders == {}
    with open(os.path.join(_PKG, "session.py"), encoding="utf-8") as fh:
        assert _pool_uses(ast.parse(fh.read()))
